package graft.search

import java.io.PrintWriter
import java.net.{ServerSocket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.SparkSpec
import graft.dedup.{Dedup, SimHashStore}
import graft.tweets.{TweetIngest, TweetNormalize, TweetSchema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's continuous collect→index→serve loop
  * (`DataCollector.py:41-46` → `SolrIndexer.java:152-158`) as ONE live
  * path, end to end: tweets arrive over a real socket, the streaming
  * pipeline normalizes/filters them, a near-dup gate drops re-posts
  * against the advancing SimHash store, survivors are appended into
  * EVERY serving store (BM25 segments, hashtag postings, user timeline,
  * users lookup, collection snapshots), and the three HTTP routes serve
  * the new document immediately — then a SAME-id EDIT arrives and must
  * REPLACE its predecessor in every store (the reference indexer's
  * `addBean` overwrite, round-12 verdict item 2: an edited tweet
  * bypasses the near-dup gate — it is an update, not a re-post — and
  * goes through the tombstone-upsert path of each store), and a full
  * compaction cycle leaves every envelope byte-identical.
  */
class LiveIngestSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, pathAndQuery: String): String =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$pathAndQuery")).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def json(body: String, path: String): String = {
    val row = Seq(body).toDF("j")
      .select(get_json_object(col("j"), path)).head()
    if (row.isNullAt(0)) null else row.getString(0)
  }

  // a genuinely new hiring tweet: new org id, new hashtag, new user
  private val freshTweet =
    """{"id": 9001, "created_at": "Sat Oct 23 09:00:00 +0000 2021",
      |"text": "Quantumloop is hiring distributed engineers",
      |"truncated": false, "possibly_sensitive": null,
      |"is_quote_status": false, "quoted_status_id": null,
      |"quoted_status_permalink": null, "quoted_status": null,
      |"retweeted_status": null, "favorite_count": 1, "quote_count": 0,
      |"reply_count": 0, "retweet_count": 0,
      |"entities": {"hashtags": [{"text": "quantumjobs"}],
      |  "user_mentions": [], "urls": []},
      |"extended_entities": null, "extended_tweet": null,
      |"user": {"id": 77, "name": "Zoe Q", "screen_name": "zoe",
      |  "verified": false, "followers_count": 5, "friends_count": 2,
      |  "profile_image_url": "http://img/z.jpg",
      |  "profile_banner_url": null,
      |  "profile_background_image_url": null}}""".stripMargin
      .replaceAll("\n", " ")

  // a re-post: NEW tweet id, but its text is byte-identical to the kept
  // observation of fixture tweet 1 — SimHash distance 0, so the near-dup
  // gate must drop it before any store sees it
  private val repostTweet =
    """{"id": 9002, "created_at": "Sat Oct 23 09:05:00 +0000 2021",
      |"text": "We are hiring! Apply now v2",
      |"truncated": false, "possibly_sensitive": null,
      |"is_quote_status": false, "quoted_status_id": null,
      |"quoted_status_permalink": null, "quoted_status": null,
      |"retweeted_status": null, "favorite_count": 0, "quote_count": 0,
      |"reply_count": 0, "retweet_count": 0,
      |"entities": {"hashtags": [{"text": "hiring"}],
      |  "user_mentions": [], "urls": []},
      |"extended_entities": null, "extended_tweet": null,
      |"user": {"id": 88, "name": "Dup Eve", "screen_name": "dup",
      |  "verified": false, "followers_count": 1, "friends_count": 1,
      |  "profile_image_url": "http://img/d.jpg",
      |  "profile_banner_url": null,
      |  "profile_background_image_url": null}}""".stripMargin
      .replaceAll("\n", " ")

  // the EDIT: tweet 9001 again — SAME id, rewritten text (still passing
  // the hiring-terms filter via "is hiring"), new hashtag. Must replace
  // its predecessor everywhere, never serve alongside it.
  private val editedTweet =
    """{"id": 9001, "created_at": "Sat Oct 23 09:20:00 +0000 2021",
      |"text": "Quantumloop pivoted and is hiring llvm compiler wizards",
      |"truncated": false, "possibly_sensitive": null,
      |"is_quote_status": false, "quoted_status_id": null,
      |"quoted_status_permalink": null, "quoted_status": null,
      |"retweeted_status": null, "favorite_count": 2, "quote_count": 0,
      |"reply_count": 0, "retweet_count": 0,
      |"entities": {"hashtags": [{"text": "llvmjobs"}],
      |  "user_mentions": [], "urls": []},
      |"extended_entities": null, "extended_tweet": null,
      |"user": {"id": 77, "name": "Zoe Q", "screen_name": "zoe",
      |  "verified": false, "followers_count": 6, "friends_count": 2,
      |  "profile_image_url": "http://img/z.jpg",
      |  "profile_banner_url": null,
      |  "profile_background_image_url": null}}""".stripMargin
      .replaceAll("\n", " ")

  test("socket ingest → near-dup gate → appended stores → three HTTP " +
      "routes serve the new doc; a SAME-id edit replaces it everywhere; " +
      "compaction keeps envelopes identical") {
    val root = Files.createTempDirectory("graft-live").toString
    val bmDir = s"$root/bm25"; val tidx = s"$root/tidx"
    val sigDir = s"$root/sig"
    val collT = s"$root/coll_tweets"; val collU = s"$root/coll_users"

    // initial batch build — the state a long-running indexer starts from
    val raw = graft.sources.Readers.multilineJson(
      spark, resourcePath("tweets_fixture.json"), TweetSchema.raw)
    val processed = TweetNormalize.process(raw)
    val t0 = Collections.tweets(processed)
    val u0 = Collections.users(processed)
    BM25Index.build(t0, "id", "tweetText", bmDir)
    HttpServing.buildTweetIndex(t0, u0, tidx)
    SimHashStore.buildAt(sigDir, t0, "id", "tweetText")
    t0.write.parquet(s"$collT/v0")
    u0.write.parquet(s"$collU/v0")

    @volatile var latest = 0L
    @volatile var feed: PrintWriter = null
    val server = new ServerSocket(0)
    val feeder = new Thread(() => {
      val sock = server.accept()
      feed = new PrintWriter(sock.getOutputStream, true)
      feed.println(freshTweet)
      feed.println(repostTweet)
      feed.flush()
      Thread.sleep(120000) // source treats close as end-of-stream
      sock.close()
    })
    feeder.setDaemon(true)
    feeder.start()

    // the reference indexer's continuous loop, upsert-aware: ids already
    // in the collection are UPDATES (bypass the near-dup gate — an edit
    // is usually a near-dup of its own predecessor — and tombstone-
    // replace in every store); new ids pass the gate and append
    // dedup on (id, time), not id alone: re-deliveries of one observation
    // are dropped, a same-id EDIT (newer timestamp) passes to the upsert
    val q = TweetIngest.socketPipeline(spark, "localhost", server.getLocalPort,
        dedupKeys = Seq("org_id", "samp_datetime"))
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val tB = Collections.tweets(batch)
        val uB = Collections.users(batch)
        if (!tB.isEmpty) {
          val v = latest
          val known = s.read.parquet(s"$collT/v$v").select(col("id"))
          val tUpd = tB.join(known, Seq("id"), "left_semi").persist()
          val tNew = tB.join(known, Seq("id"), "left_anti")
          // the gate's store is the signature store as of this batch:
          // the frame names the files listed now, so the appends below
          // never feed back into it; an edit-only batch skips the gate
          val tKeep =
            if (tNew.isEmpty) tB.limit(0).persist()
            else tB.join(Dedup.simHashIncremental(SimHashStore.read(s, sigDir),
                  tNew, "id", "tweetText").select(col("doc").cast("string").as("id")),
                Seq("id"), "left_semi").persist()
          if (!tKeep.isEmpty || !tUpd.isEmpty) {
            val next = v + 1
            if (!tKeep.isEmpty) {
              SimHashStore.appendBatch(sigDir, tKeep, "id", "tweetText")
              BM25Index.appendSegment(tKeep, "id", "tweetText", bmDir,
                f"live$batchId%04d")
              HttpServing.appendTweetIndex(tKeep,
                uB.join(tKeep.select(col("userID").as("id")),
                  Seq("id"), "left_semi"), tidx)
            }
            if (!tUpd.isEmpty) {
              SimHashStore.upsertBatch(s, sigDir, tUpd, "id", "tweetText")
              BM25Index.upsertSegment(tUpd, "id", "tweetText", bmDir,
                f"edit$batchId%04d")
              HttpServing.upsertTweetIndex(tUpd,
                uB.join(tUpd.select(col("userID").as("id")),
                  Seq("id"), "left_semi"), tidx)
            }
            // versioned side tables: updates replace same-id rows
            Collections.upsert(s.read.parquet(s"$collT/v$v"),
                tKeep.unionByName(tUpd), "id")
              .write.mode("overwrite").parquet(s"$collT/v$next")
            Collections.upsert(s.read.parquet(s"$collU/v$v"), uB, "id")
              .write.mode("overwrite").parquet(s"$collU/v$next")
            latest = next
          }
          tKeep.unpersist(); tUpd.unpersist()
        }
        ()
      }
      .start()

    try {
      // socket delivery is asynchronous — poll until the hashtag store
      // serves the new doc (or time out)
      val deadline = System.currentTimeMillis() + 60000
      var fresh = false
      while (!fresh && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        fresh = ServingStores.postingProbe(spark, s"$tidx/hashtags",
          "quantumjobs").limit(1).count() > 0
        if (!fresh) Thread.sleep(200)
      }
      assert(fresh, "ingested doc never reached the hashtag store")
      assert(latest >= 1L)

      // all stores fresh: BM25 segment, postings, timeline, users, simhash
      val tweetsNow = spark.read.parquet(s"$collT/v$latest")
      val usersNow = spark.read.parquet(s"$collU/v$latest")
      assert(tweetsNow.filter(col("id") === "9001").count() == 1)
      val sigNow = SimHashStore.read(spark, sigDir)
      assert(sigNow.filter(col("doc") === "9001").count() == 1)
      // …and the near-dup re-post reached NONE of them
      assert(sigNow.filter(col("doc") === "9002").count() == 0)
      assert(tweetsNow.filter(col("id") === "9002").count() == 0)
      assert(ServingStores.postingProbe(spark, s"$tidx/hashtags", "hiring")
        .filter(col("id") === "9002").count() == 0)

      val http = HttpServing.start(0, HttpServing.referenceRoutes(
        spark.read.parquet(s"$collT/v$latest"),
        spark.read.parquet(s"$collU/v$latest"),
        bm25IndexDir = Some(bmDir), tweetIndexDir = Some(tidx)))
      try {
        val port = http.getAddress.getPort
        // keyword route: merged base+segment scoring finds the new doc
        val kw = get(port, "/api/search/query?query=quantumloop")
        assert(json(kw, "$.data[0].tweet.tweet_id") == "9001", kw)
        // hashtag route: bucket-pruned probe over base+appended files
        val ht = get(port, "/api/search/hashtag?tag=quantumjobs")
        assert(json(ht, "$.count") == "1" &&
          json(ht, "$.data[0].tweet.id") == "9001", ht)
        assert(json(ht, "$.data[0].user.userScreenName") == "zoe", ht)
        // user route: appended users lookup + appended timeline bucket
        val tl = get(port, "/api/search/user?id=zoe")
        assert(json(tl, "$.user.userScreenName") == "zoe", tl)
        assert(json(tl, "$.tweets[0].tweet_id") == "9001", tl)

        // ——— the SAME-id edit arrives live, over the same socket ———
        val editDeadline = System.currentTimeMillis() + 60000
        while (feed == null && System.currentTimeMillis() < editDeadline)
          Thread.sleep(50)
        feed.println(editedTweet); feed.flush()
        var edited = false
        while (!edited && System.currentTimeMillis() < editDeadline) {
          q.processAllAvailable()
          edited = ServingStores.postingProbe(spark, s"$tidx/hashtags",
            "llvmjobs").limit(1).count() > 0
          if (!edited) Thread.sleep(200)
        }
        assert(edited, "the edit never reached the hashtag store")

        // every store serves ONLY the new version of 9001
        val tweetsUpd = spark.read.parquet(s"$collT/v$latest")
        assert(tweetsUpd.filter(col("id") === "9001").count() == 1)
        assert(tweetsUpd.filter(col("id") === "9001")
          .head().getAs[String]("tweetText").contains("wizards"))
        val sigUpd = SimHashStore.read(spark, sigDir)
        assert(sigUpd.filter(col("doc") === "9001").count() == 1)
        assert(sigUpd.filter(col("doc") === "9001").head().getLong(1) ==
          Dedup.simHash(tweetsUpd.filter(col("id") === "9001"),
            "id", "tweetText").head().getLong(1),
          "the stored signature must be the EDITED text's")
        // old hashtag: tombstoned out of the posting store
        assert(ServingStores.postingProbe(spark, s"$tidx/hashtags",
          "quantumjobs").filter(col("id") === "9001").count() == 0,
          "the edited doc still serves under its OLD hashtag")
        val htNew = get(port, "/api/search/hashtag?tag=llvmjobs")
        assert(json(htNew, "$.count") == "1" &&
          json(htNew, "$.data[0].tweet.id") == "9001", htNew)
        // keyword route: old terms dead, new terms live (the HTTP routes
        // captured the pre-edit collection frames, so probe the index
        // directly for membership)
        assert(!BM25Index.topKMerged(spark, bmDir, Seq("distributed"), 10)
          .collect().map(_.get(0).toString).contains("9001"),
          "the edited doc still matches its OLD text")
        assert(BM25Index.topKMerged(spark, bmDir, Seq("wizards"), 10)
          .collect().map(_.get(0).toString).contains("9001"),
          "the edited doc's NEW text is not searchable")
        // timeline: one 9001 row, the edited text
        val tlRows = ServingStores.timelineProbe(spark, s"$tidx/by_user",
          "userID", tweetsUpd.filter(col("id") === "9001")
            .head().getAs[String]("userID"))
          .filter(col("id") === "9001").collect()
        assert(tlRows.length == 1, "timeline serves two versions")
        assert(tlRows.head.getAs[String]("tweetText").contains("wizards"))

        // the full append+compact cycle over the post-edit state: fold
        // segments, postings, timeline (tombstones purged). The score-free
        // envelopes are byte-identical; the KEYWORD route's scores REFRESH
        // at compaction (the dead version leaves df/N/avglen — Lucene's
        // deleted-docs-until-merge behavior), so its contract is stronger:
        // same members, and the compacted index ≡ a fresh build over the
        // edited corpus, scores bit-equal.
        val kw2 = get(port, "/api/search/query?query=wizards")
        val tl2 = get(port, "/api/search/user?id=zoe")
        BM25Index.compact(spark, bmDir)
        HttpServing.compactTweetIndex(spark, tidx)
        assert(!ServingStores.hasTombstones(s"$tidx/hashtags"))
        assert(!ServingStores.hasTombstones(s"$tidx/by_user"))
        val kw3 = get(port, "/api/search/query?query=wizards")
        assert(json(kw3, "$.data[0].tweet.tweet_id") ==
          json(kw2, "$.data[0].tweet.tweet_id"), s"$kw2 vs $kw3")
        val freshIdx = s"$root/bm25-fresh"
        BM25Index.build(tweetsUpd, "id", "tweetText", freshIdx)
        assert(BM25Index.topKMerged(spark, bmDir, Seq("wizards"), 10)
            .collect().map(_.toString).toSeq ==
          BM25Index.topKMerged(spark, freshIdx, Seq("wizards"), 10)
            .collect().map(_.toString).toSeq,
          "compacted upserted index must equal a rebuild over the edited corpus")
        assert(get(port, "/api/search/hashtag?tag=llvmjobs") == htNew)
        assert(get(port, "/api/search/user?id=zoe") == tl2)
      } finally http.stop(0)
    } finally {
      q.stop()
      server.close()
    }
  }
}
