package graft.tweets

import graft.operators.Relational
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The reference's batch preprocessing pipeline
  * (`Spark/Tweets_preprocessing.py:102-473`) as declarative Spark algebra:
  * normalize the three tweet variants (original / retweet / quoted, each
  * truncated / untruncated) into the canonical 24-column relation
  * (SURVEY.md §1.5), drop sensitive rows, dedup keep-latest, filter to
  * hiring tweets.
  *
  * Differences from the reference, by design:
  *  - no driver round-trips: the reference collects id lists to the driver
  *    and filters with `isin` (`Tweets_preprocessing.py:112-115,232-234`);
  *    here sensitive filtering is a plain null-predicate and the
  *    quoted/retweet/original split is a single `when` classification —
  *    each row is routed exactly once, no anti-join needed;
  *  - deterministic dedup: windowed row_number instead of the reference's
  *    order-dependent `sort().drop_duplicates()`
  *    (`Tweets_preprocessing.py:156-157,464-466`);
  *  - one projection instead of six flattened variants and their union:
  *    each row's class and inner `truncated` flag are computed once, and
  *    the 24 columns read from the inner tweet they select, so the raw
  *    tweets are scanned and parsed once, not six times.
  *
  * Scale: the whole normalize is shuffle-free until the final dedup (one
  * shuffle on org_id); normalize and the hiring filter are one filter and
  * one projection each, which stay in WholeStageCodegen.
  */
object TweetNormalize {

  // The three tweet classes (`Tweets_preprocessing.py:347-359`): quoted
  // takes precedence over retweet. Under SQL's three-valued logic a row is
  // in a class only where its predicate is TRUE, so a null
  // `is_quote_status` beside a set `quoted_status` is in none and drops.
  private val quotes = col("is_quote_status") === true && col("quoted_status").isNotNull
  private val quoted = quotes && notSensitive(col("quoted_status.possibly_sensitive"))
  private val retweet = !quotes && col("retweeted_status").isNotNull &&
    notSensitive(col("retweeted_status.possibly_sensitive"))
  private val original = !quotes && col("retweeted_status").isNull

  /** The row's inner tweet: the quoted or retweeted status, or the
    * top-level tweet itself for an original; null when the row is in no
    * class. The predicates are mutually exclusive, so branch order does
    * not matter. All three share [[TweetSchema.innerTweet]]'s layout.
    */
  private val inner = when(quoted, col("quoted_status"))
    .when(retweet, col("retweeted_status"))
    .when(original, struct(TweetSchema.innerTweet.fieldNames.toSeq.map(col): _*))

  private def at(path: String): Column = col(s"__inner.$path")
  private val truncated = at("truncated")
  /** A truncated tweet keeps its full text, entities and media under
    * `extended_tweet`.
    */
  private def pick(plain: String): Column =
    when(truncated, at(s"extended_tweet.$plain")).otherwise(at(plain))
  private val entities = pick("entities")
  private val media = pick("extended_entities.media")

  /** The canonical 24-column relation (SURVEY.md §1.5), in its locked
    * order — the reference's CSV contract (`SolrIndexer.java:90-113`).
    */
  private val Projection: Seq[(String, Column)] = Seq(
    "org_id" -> at("id"),
    "samp_id" -> col("id"),
    "samp_datetime" -> parseCreatedAt(col("created_at")),
    // quoted: the permalink; otherwise the first media expanded_url — the
    // reference's `convert_org_url_tostring` UDF (`Tweets_preprocessing.py:85-89`)
    "org_url" -> when(quoted, col("quoted_status_permalink.expanded"))
      .otherwise(get(media("expanded_url"), lit(0))), // null-safe under ANSI
    "org_media_url" -> media("media_url"),
    "org_media_type" -> media("type"),
    "org_attached_links" -> entities("urls")("expanded_url"),
    "org_text" -> when(truncated, at("extended_tweet.full_text")).otherwise(at("text")),
    "org_hashtags" -> entities("hashtags")("text"),
    // [sic] — the misspelling is the reference's column contract
    // (`Tweets_preprocessing.py:182`, consumed positionally by SolrIndexer).
    "org_user_metions" -> entities("user_mentions")("screen_name"),
    "user_id" -> at("user.id"),
    "user_name" -> at("user.name"),
    "user_screen_name" -> at("user.screen_name"),
    "user_verified" -> at("user.verified"),
    "user_profile_image_url" -> at("user.profile_image_url"),
    "user_profile_banner_url" -> at("user.profile_banner_url"),
    "user_profile_background_image_url" -> at("user.profile_background_image_url"),
    "user_followers_count" -> at("user.followers_count"),
    "user_friends_count" -> at("user.friends_count"),
    "org_favorite_count" -> at("favorite_count"),
    "org_quote_count" -> at("quote_count"),
    "org_reply_count" -> at("reply_count"),
    "org_retweet_count" -> at("retweet_count"),
    "org_datetime" -> parseCreatedAt(at("created_at")))

  /** The canonical 24-column order. */
  val ProcessedColumns: Seq[String] = Projection.map(_._1)

  /** Hiring-tweet regex alternation — semantics of the reference's term list
    * (`Tweets_preprocessing.py:584-589`).
    */
  val HiringTerms: Seq[String] = Seq(
    "REQUEST RECRUITMENT FORM", "is[\\S\\s]+hiring", "are[\\S\\s]+hiring",
    "is[\\S\\s]+recruiting", "are[\\S\\s]+recruiting", "application form",
    "now hiring", "hiring now", "now recruiting", "recruiting now",
    "'re[\\S\\s]+hiring", "'re[\\S\\s]+recruiting", "'re[\\S\\s]+interested",
    "recruitment form", "open positions", "interested .+candidates",
    "apply now", "to apply", "to join", "are looking for", "'re looking for",
    "to register", "join us", "send .+resume", "will .+hiring",
    "will .+recruiting", "still hiring", "are .+open", "hiring for",
    "recruiting for")

  /** Parse Twitter's `created_at` ("Thu Oct 21 18:57:29 +0000 2021"):
    * strip the weekday prefix and tz offset, then to_timestamp — the
    * reference's regexp chain (`Tweets_preprocessing.py:125-128`).
    */
  def parseCreatedAt(c: Column): Column =
    // try_to_timestamp: a malformed created_at yields null (the reference's
    // legacy-parser behavior) instead of failing the whole job under ANSI.
    try_to_timestamp(
      regexp_replace(ltrim(regexp_extract(c, "(\\ \\w+.+)", 1)), "(\\+\\d+\\ )", ""),
      lit("MMM dd HH:mm:ss yyyy"))

  /** Drop only TRUTHY possibly_sensitive — the reference's filter_func
    * (`Tweets_preprocessing.py:81-83`) collects ids where the flag is
    * truthy; `false` (the common real-world value) must be KEPT.
    */
  private def notSensitive(c: Column): Column = coalesce(c, lit(false)) === false

  /** Normalize raw tweets (read with [[TweetSchema.raw]]) into the
    * 24-column relation in one pass: each row's class and its inner
    * tweet's `truncated` flag are computed once, and every output column
    * reads its field from that inner tweet. A row is kept only if its
    * top-level tweet is not sensitive, it is in exactly one class, and
    * its inner `truncated` is non-null.
    */
  def normalize(raw: DataFrame): DataFrame =
    raw.withColumn("__inner", inner)
      .filter(notSensitive(col("possibly_sensitive")) && truncated.isNotNull)
      .select(Projection.map { case (name, c) => c.as(name) }: _*)

  /** Keep the latest observation of each original tweet — deterministic
    * replacement for `sort + drop_duplicates` (`Tweets_preprocessing.py:464-466`).
    */
  def dedupKeepLatest(df: DataFrame): DataFrame =
    Relational.dedupKeepFirst(df,
      key = Seq(col("org_id")),
      order = Seq(col("samp_datetime").desc, col("samp_id").desc))

  /** Hiring filter (`Tweets_preprocessing.py:475-481`): lowercase, normalize
    * the curly apostrophe, rlike the 30-term alternation.
    */
  def hiringFilter(df: DataFrame): DataFrame =
    df.filter(
      regexp_replace(lower(col("org_text")), "[’]", "'")
        .rlike(HiringTerms.map(t => t.toLowerCase).mkString("|")))

  /** Full pipeline: normalize → dedup keep-latest → hiring filter. */
  def process(raw: DataFrame): DataFrame =
    hiringFilter(dedupKeepLatest(normalize(raw)))

  /** Streaming variant (SURVEY.md §2.10): the same normalize + hiring
    * projections run unchanged on a `readStream` frame; keep-latest becomes
    * watermarked first-wins `dropDuplicates` (streaming can't rank a key's
    * future rows; with the file source replaying batches in event-time
    * order, first-seen == the reference's sequential-file behavior).
    */
  def processStreaming(raw: DataFrame, watermark: String = "1 day",
                       dedupKeys: Seq[String] = Seq("org_id")): DataFrame =
    hiringFilter(normalize(raw))
      .withWatermark("samp_datetime", watermark)
      // WithinWatermark bounds the dedup state: plain dropDuplicates keeps
      // one state row per org_id forever (the watermark only evicts when
      // the event-time column is part of the dedup key). An UPSERT-aware
      // downstream (the reference indexer's overwrite loop) dedups on
      // (org_id, samp_datetime) instead: an at-least-once re-delivery of
      // the same observation is dropped, but an EDIT — same id, newer
      // timestamp — passes through to the stores' tombstone-upsert path.
      .dropDuplicatesWithinWatermark(dedupKeys)
}
