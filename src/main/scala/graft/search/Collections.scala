package graft.search

import graft.operators.Relational
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The reference's two Solr collections (`users`, `tweets` —
  * `Ranking Model/src/main/java/Main/SolrSetup.java:76-83,119-130`,
  * FIXTURES.md §3) as Spark tables derived from the processed 24-column
  * relation, plus the id-keyed upsert that replaces the indexer's HashMap
  * keep-latest (`SolrIndexer.java:25-45`) and Solr's overwrite-on-add
  * (`SolrIndexer.java:47-59`).
  *
  * Scale: collections would be written bucketed by id so the upsert's
  * full-outer-merge and the serving joins (tweets.userID = users.id) are
  * co-partitioned, shuffle-free scans. The inverted-index role of Solr is
  * played by [[BM25]]'s postings/stats relations over `tweetText`.
  */
object Collections {

  /** users collection: latest profile per user id. The sampled-tweet id is
    * carried as the dedup tiebreaker — org_datetime alone is not a total
    * order (two observations can share a timestamp), and dedupKeepFirst's
    * determinism contract requires one.
    */
  def users(processed: DataFrame): DataFrame =
    Relational.dedupKeepFirst(
      processed.select(
        col("samp_id").as("__tb"),
        col("user_id").cast("string").as("id"),
        col("org_datetime").as("userDateTime"),
        col("user_name").as("userName"),
        col("user_screen_name").as("userScreenName"),
        col("user_followers_count").as("userFollowersCount"),
        col("user_friends_count").as("userFriendsCount"),
        col("user_verified").as("userVerified"),
        col("user_profile_image_url").as("userProfileImageURL"),
        col("user_profile_banner_url").as("userProfileBannerURL")),
      key = Seq(col("id")),
      order = Seq(col("userDateTime").desc, col("__tb").desc))
      .drop("__tb")

  /** tweets collection: one row per original tweet, latest observation
    * (samp_id tiebreaker — all observations of one org_id share
    * org_datetime, so the sampling id is the real discriminator).
    */
  def tweets(processed: DataFrame): DataFrame =
    Relational.dedupKeepFirst(
      processed.select(
        col("samp_id").as("__tb"),
        col("org_id").cast("string").as("id"),
        col("user_id").cast("string").as("userID"),
        col("org_datetime").as("tweetDateTime"),
        col("org_text").as("tweetText"),
        col("org_favorite_count").as("tweetFavoriteCount"),
        col("org_quote_count").as("tweetQuoteCount"),
        col("org_reply_count").as("tweetReplyCount"),
        col("org_retweet_count").as("tweetRetweetCount"),
        col("org_hashtags").as("tweetHashtags"),
        col("org_user_metions").as("tweetUserMentions"),
        col("org_media_url").as("tweetMediaURL"),
        col("org_attached_links").as("tweetAttachedLinks")),
      key = Seq(col("id")),
      order = Seq(col("tweetDateTime").desc, col("__tb").desc))
      .drop("__tb")

  /** tweets collection with the OCR media-text field — the reference
    * declares `tweetMediaText` on the tweets collection
    * (`SolrSetup.java:128-130`) and populates it at index time from
    * per-image OCR (`SolrIndexer.java:115-129`). `mediaText` is
    * (id, media_text) from [[graft.multimodal.Multimodal.ocrText]] over the
    * tweets' media blobs; tweets without media get "" (Solr's empty field).
    */
  def tweetsWithMediaText(processed: DataFrame, mediaText: DataFrame): DataFrame = {
    // One tweet can carry several media items (the reference indexes up to
    // 4 images per tweet) → aggregate all OCR texts into ONE field per id
    // BEFORE the join, exactly as the reference concatenates per-image OCR
    // into tweetMediaText — a bare left join would fan the tweet row out.
    // Sorted collect keeps the concatenation deterministic.
    val perTweet = mediaText
      .groupBy(col("id"))
      .agg(concat_ws(" ", array_sort(collect_list(col("media_text"))))
        .as("tweetMediaText"))
    tweets(processed)
      .join(perTweet, Seq("id"), "left")
      .withColumn("tweetMediaText", coalesce(col("tweetMediaText"), lit("")))
  }

  /** Keyed upsert ("reindex"): rows in `updates` replace same-id rows in
    * `existing`; new ids append. Anti-join + union — one shuffle on id
    * (none at all when both sides are bucketed by id).
    *
    * PRECONDITION: `updates` has at most one row per id — duplicate update
    * ids would both survive, breaking the one-row-per-id invariant. For a
    * raw (undeduped) batch use [[upsertLatest]].
    */
  def upsert(existing: DataFrame, updates: DataFrame, idCol: String): DataFrame =
    existing.join(updates.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(updates)

  /** Upsert from a raw batch: dedup `updates` first, keeping the row with
    * the greatest `versionCol` per id (ties broken by the version column
    * only — supply a total order for full determinism).
    */
  def upsertLatest(existing: DataFrame, updates: DataFrame, idCol: String,
                   versionCol: String): DataFrame =
    upsert(existing,
      Relational.dedupKeepFirst(updates,
        key = Seq(col(idCol)), order = Seq(col(versionCol).desc)),
      idCol)

  /** Hashtag exact-match query shape (`SolrRanker.java:93-118`):
    * `tweetHashtags:'<tag>'` as array_contains, capped at 1000.
    */
  def hashtagSearch(tweets: DataFrame, tag: String, limit: Int = 1000): DataFrame =
    tweets.filter(array_contains(col("tweetHashtags"), tag))
      // ids are numeric strings (Solr schema) — order numerically, or the
      // limit cutoff keeps "1000000001" over "999"
      .orderBy(col("id").cast("long").asc)
      .limit(limit)

  /** User-timeline query shape (`SolrRanker.java:129-159`): resolve the
    * user by screen name, expand the FK, newest first, capped at 1000.
    */
  def userTimeline(tweets: DataFrame, users: DataFrame, screenName: String,
                   limit: Int = 1000): DataFrame = {
    val u = users.filter(col("userScreenName") === screenName)
    tweets.join(broadcast(u), tweets("userID") === u("id"))
      .orderBy(col("tweetDateTime").desc, tweets("id").cast("long").desc)
      .limit(limit)
      .select(col("userScreenName"), tweets("id").as("tweet_id"),
        col("tweetDateTime"), col("tweetText"))
  }

  /** Keyword relevance search (`SolrRanker.java:66-91`): BM25 top-k over
    * tweetText joined back to users — the reference's N+1 lookups as one
    * broadcast join.
    */
  def keywordSearch(tweets: DataFrame, users: DataFrame,
                    terms: Seq[String], k: Int = 10): DataFrame = {
    val top = BM25.scoreTopK(tweets, "id", "tweetText", terms, k)
    top.join(tweets.withColumnRenamed("id", "doc"), "doc")
      .join(users.withColumnRenamed("id", "uid"),
        col("userID") === col("uid"), "left")
      .select(col("doc").as("tweet_id"), col("score"), col("tweetText"),
        col("userName"), col("userScreenName"))
  }

  /** [[keywordSearch]] served from a prebuilt [[BM25Index]] postings store
    * instead of tokenizing the corpus per request — the query route when
    * only the BM25 index is given (`q_keyword_bm25_served`'s scoring): the
    * top-k is [[BM25Index.topKMerged]]'s driver read of the
    * term-bucket-pruned postings/termstats (no Generate/explode anywhere —
    * spec-asserted), and the join to the frames happens AFTER the k-row
    * cut, as a Spark job. With the tweet index given too, the route reads
    * the `tweets` and `users_by_id` stores instead ([[HttpServing]]).
    * Envelopes are byte-identical to the ad-hoc path (the index scoring is
    * value-equal by the served-query oracle).
    *
    * Scores through [[BM25Index.topKMerged]], so documents indexed as
    * appended segments by the live-ingest loop are visible immediately —
    * Solr's serve-after-commit semantics.
    */
  def keywordSearchIndexed(tweets: DataFrame, users: DataFrame,
                           indexDir: String, terms: Seq[String],
                           k: Int = 10): DataFrame = {
    val top = BM25Index.topKMerged(tweets.sparkSession, indexDir, terms, k)
    top.join(tweets.withColumnRenamed("id", "doc"), "doc")
      .join(users.withColumnRenamed("id", "uid"),
        col("userID") === col("uid"), "left")
      .select(col("doc").as("tweet_id"), col("score"), col("tweetText"),
        col("userName"), col("userScreenName"))
  }

  /** Solr-style highlighting: a ±`window`-character snippet around the
    * FIRST occurrence of `term` in `textCol` (case-insensitive), empty
    * when absent. Pure substring arithmetic — a codegen'd projection over
    * the (already capped) result set, the cheap half of Lucene's
    * highlighter (the expensive half, best-fragment scoring, needs term
    * positions — the same positions index the phrase query notes).
    */
  def highlight(results: DataFrame, textCol: String, term: String,
                window: Int = 30, outCol: String = "snippet"): DataFrame = {
    val pos = locate(term.toLowerCase, lower(col(textCol))) // 1-based, 0 = absent
    val start = greatest(lit(1), pos - window)
    results.withColumn(outCol,
      when(pos === 0, lit(""))
        .otherwise(col(textCol).substr(start, lit(window * 2 + term.length))))
  }

  /** Solr suggester (prefix autocomplete): top-k corpus terms starting
    * with `prefix`, by document frequency then term. One groupBy over the
    * prefix-filtered token stream — the filter rides the scan, the agg is
    * combinable, the result is k rows.
    */
  def suggest(tweets: DataFrame, idCol: String, textCol: String,
              prefix: String, k: Int = 10): DataFrame =
    BM25.tokens(tweets, idCol, textCol)
      .filter(col("term").startsWith(prefix.toLowerCase))
      .distinct() // df = docs containing the term, not raw occurrences
      .groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(k)

  /** Solr-style facet counts over a result set (`facet=true&facet.field=…`
    * — the Solr capability the reference's stack exposes even though its
    * UI doesn't call it): for each requested field, the distinct values
    * with their result-set counts. One combinable groupBy per field over
    * the (already filtered/capped) result relation, unioned — partial
    * aggregation map-side, so each facet costs one light exchange however
    * large the underlying corpus was before filtering.
    */
  def facets(results: DataFrame, fields: Seq[String], minCount: Long = 1L): DataFrame = {
    require(fields.nonEmpty, "at least one facet field")
    fields.map { f =>
      results.groupBy(col(f).cast("string").as("value"))
        .agg(count(lit(1)).cast("long").as("n"))
        .select(lit(f).as("facet"), col("value"), col("n"))
    }.reduce(_.unionByName(_))
      .filter(col("n") >= minCount)
  }

  /** Solr spellcheck component ("did you mean"): the vocabulary terms
    * within Levenshtein `maxDist` of the (analyzed) input, ranked the way
    * Solr's DirectSolrSpellChecker ranks collations — distance first, then
    * document frequency, then term. `vocab` is (term, df): the ad-hoc
    * corpus aggregation for a one-off, or the persisted
    * [[BM25Index]] termstats table for serving — vocabulary is
    * corpus-METADATA-sized (≪ corpus), so the exact-distance scan over it
    * is the right shape at 100 TB; the length-band prefilter is a necessary
    * condition of the distance bound, rides the scan, and never changes the
    * result. Distance-0 (the input itself is a known term) is excluded —
    * a spellchecker suggests alternatives, not the input.
    */
  def didYouMean(vocab: DataFrame, input: String, maxDist: Int = 2,
                 k: Int = 5): DataFrame = {
    val q = input.toLowerCase.replaceAll("[^a-z0-9]", "")
    require(q.nonEmpty, "input term is empty after analysis")
    require(maxDist >= 1, "maxDist must be >= 1")
    vocab
      .filter(abs(length(col("term")) - lit(q.length)) <= maxDist)
      .withColumn("dist", levenshtein(lit(q), col("term")).cast("long"))
      .filter(col("dist") >= 1 && col("dist") <= maxDist)
      .orderBy(col("dist").asc, col("df").desc, col("term").asc)
      .limit(k)
  }

  /** Solr result grouping / field collapsing (`group=true&group.field=…&
    * group.limit=n`): the top `perGroup` rows per `groupField` value under
    * `order`, each row carrying its in-group rank and the group's total
    * match count (Solr's per-group numFound). One partitioned window over
    * the (already filtered) result relation — the partition key is the
    * group field, so no unpartitioned-window scale hazard; at 100 TB this
    * is a shuffle on the group key followed by a per-group top-n, which AQE
    * handles skew on.
    */
  def groupCollapse(results: DataFrame, groupField: String, order: Seq[Column],
                    perGroup: Int): DataFrame = {
    require(perGroup >= 1, "perGroup must be >= 1")
    val part = Window.partitionBy(col(groupField))
    results
      .withColumn("rank_in_group",
        row_number().over(part.orderBy(order: _*)).cast("long"))
      .withColumn("group_size", count(lit(1)).over(part).cast("long"))
      .filter(col("rank_in_group") <= perGroup)
  }

  /** Solr range facet (`facet.range=<field>&facet.range.gap=<gap>`): counts
    * per fixed-width bucket of a numeric field over the result set. Buckets
    * with no hits are omitted (they carry no information and materializing
    * the empty range is a driver-side concern). Combinable groupBy — one
    * light exchange regardless of corpus size.
    */
  def facetRange(results: DataFrame, field: String, gap: Long): DataFrame = {
    require(gap >= 1, "gap must be >= 1")
    results
      .groupBy((floor(col(field) / gap) * gap).cast("long").as("bucket_start"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("bucket_start").asc)
  }

  /** Solr pivot facet (`facet.pivot=f1,f2`): nested value counts — for each
    * value of `f1`, the counts of each `f2` value within it. Flattened to
    * (value, sub_value, n) rows: the hierarchy is the (value, sub_value)
    * ordering, and a single groupBy over both keys computes every nested
    * count at once (Solr walks the pivot tree; relationally it is just a
    * two-key aggregation).
    */
  def facetPivot(results: DataFrame, f1: String, f2: String): DataFrame =
    results
      .groupBy(col(f1).cast("string").as("value"),
        col(f2).cast("string").as("sub_value"))
      .agg(count(lit(1)).cast("long").as("n"))

  /** Solr stats component (`stats=true&stats.field=<field>`) over an
    * integer field: count / min / max / sum / mean / sample stddev of the
    * result set. Sums are exact BIGINT aggregates, so mean and stddev are
    * each ONE IEEE expression over exact integers — deterministic under
    * any partitioning, and bit-identical to an oracle computing the same
    * closed form (a streaming Welford stddev would not be).
    */
  def statsField(results: DataFrame, field: String): DataFrame = {
    val f = col(field).cast("long")
    results.agg(
        count(lit(1)).cast("long").as("n"),
        min(f).as("min"),
        max(f).as("max"),
        sum(f).as("sum"),
        sum(f * f).as("__sumsq"))
      .select(col("n"), col("min"), col("max"), col("sum"),
        round(col("sum").cast("double") / col("n"), 6).as("mean"),
        round(sqrt(
          (col("__sumsq").cast("double") -
            col("sum").cast("double") * col("sum").cast("double") / col("n")) /
            (col("n") - 1)), 6).as("stddev"))
  }

  /** Multi-field keyword search — the reference's actual query
    * (`SolrRanker.java:76`: `tweetText:<q> OR tweetMediaText:<q>`): per-field
    * BM25 summed, so a tweet whose text is image-only (terms appear only in
    * the OCR field) still ranks. Requires the `tweetMediaText` column
    * ([[tweetsWithMediaText]]).
    */
  def keywordSearchMultiField(tweets: DataFrame, users: DataFrame,
                              terms: Seq[String], k: Int = 10): DataFrame = {
    val top = BM25.scoreTopKFields(tweets, "id",
      Seq("tweetText", "tweetMediaText"), terms, k)
    top.join(tweets.withColumnRenamed("id", "doc"), "doc")
      .join(users.withColumnRenamed("id", "uid"),
        col("userID") === col("uid"), "left")
      .select(col("doc").as("tweet_id"), col("score"), col("tweetText"),
        col("tweetMediaText"), col("userName"), col("userScreenName"))
  }

  /** Solr QueryElevation component: editorially pinned docs rank first (in
    * the configured order, like elevate.xml), the organic ranking fills the
    * rest, and pinned docs that didn't match the query are included anyway
    * with a zero score — exactly Solr's forceElevation behavior. The pin
    * list is a when-chain constant in the plan (it IS configuration, not
    * data), so elevation costs one projection over the scored set plus the
    * corpus left-join that admits non-matching pinned docs; the final cap
    * is still TakeOrderedAndProject.
    */
  def elevate(corpusIds: DataFrame, scored: DataFrame, docCol: String,
              pinned: Seq[Long], k: Int): DataFrame = {
    val unpinned = lit(Int.MaxValue)
    val pinRank = pinned.zipWithIndex.foldLeft(lit(Int.MaxValue)) {
      case (acc, (id, i)) => when(col(docCol) === lit(id), lit(i)).otherwise(acc)
    }
    corpusIds.join(scored, Seq(docCol), "left")
      .select(col(docCol), coalesce(col("score"), lit(0.0)).as("score"),
        pinRank.as("__pin"))
      .orderBy(col("__pin").asc, col("score").desc, col(docCol).asc)
      .limit(k)
      .select(col(docCol), col("score"), (col("__pin") < unpinned).as("elevated"))
  }
}
