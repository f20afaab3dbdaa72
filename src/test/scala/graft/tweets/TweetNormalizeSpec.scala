package graft.tweets

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.Readers
import org.apache.spark.sql.execution.datasources.LogicalRelation

class TweetNormalizeSpec extends SparkSpec {

  private lazy val raw = Readers.multilineJson(spark, resourcePath("tweets_fixture.json"),
    TweetSchema.raw)
  private lazy val normalized = TweetNormalize.normalize(raw).cache()

  test("normalize produces the canonical 24-column relation in order") {
    assert(normalized.columns.toSeq == TweetNormalize.ProcessedColumns)
  }

  test("only truthy possibly_sensitive drops; false and null are kept") {
    // 10 fixture rows: 9 kept (incl. possibly_sensitive=false id 9 and one
    // org_id=1 dup pair) + 1 truthy-sensitive dropped
    val orgIds = normalized.select("org_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(orgIds == Seq(1L, 1L, 2L, 9L, 100L, 101L, 200L, 201L))
  }

  test("truncated branches read extended_tweet paths") {
    val t2 = normalized.filter("org_id = 2").select("org_text").head().getString(0)
    assert(t2 == "Our team is now hiring engineers across the stack")
    val t201 = normalized.filter("org_id = 201").select("org_text").head().getString(0)
    assert(t201 == "They are still hiring for the platform team")
  }

  test("quoted tweets carry the permalink as org_url; retweets the first media url") {
    val quoted = normalized.filter("org_id = 200").select("org_url").head().getString(0)
    assert(quoted == "https://twitter.com/delta/status/200")
    val rt = normalized.filter("org_id = 100").select("org_url").head().getString(0)
    assert(rt == "https://t.co/100")
  }

  test("dedup keeps the latest observation per org_id") {
    val deduped = TweetNormalize.dedupKeepLatest(normalized)
    assert(deduped.count() == 7)
    val kept = deduped.filter("org_id = 1").head()
    assert(kept.getAs[String]("org_text") == "We are hiring! Apply now v2")
  }

  test("hiring filter keeps only hiring tweets") {
    val result = TweetNormalize.process(raw)
    val kept = result.select("org_id").collect().map(_.getLong(0)).sorted.toSeq
    // 1: "we are hiring", 2: "now hiring", 9: "apply now"/"to join",
    // 100: "join us", 201: "still hiring";
    // 200 ("nothing interesting") and 101 ("boring status") drop out.
    assert(kept == Seq(1L, 2L, 9L, 100L, 201L))
  }

  test("created_at parsing matches the reference regex chain") {
    val dt = normalized.filter("org_id = 100").select("org_datetime")
      .head().getTimestamp(0).toInstant.toString
    assert(dt == "2021-10-22T20:00:00Z")
  }

  test("classification edge cases: null is_quote_status, sensitive inner " +
      "tweets and a null inner truncated drop; quoted wins over retweet; a " +
      "truncated retweet reads its extended media") {
    import spark.implicits._
    def inner(id: Long, truncated: String, sensitive: Boolean = false): String =
      s"""{"id": $id, "text": "t$id", "truncated": $truncated,
         |"possibly_sensitive": $sensitive,
         |"extended_entities": {"media": [{"expanded_url": "https://t.co/plain$id"}]},
         |"extended_tweet": {"full_text": "full$id",
         |"extended_entities": {"media": [{"expanded_url": "https://t.co/ext$id"}]}}}"""
        .stripMargin
    def tweet(id: Long, isQuote: String, quoted: String = "null",
              retweeted: String = "null"): String =
      s"""{"id": $id, "text": "t$id", "truncated": false,
         |"created_at": "Thu Oct 21 18:57:29 +0000 2021",
         |"is_quote_status": $isQuote,
         |"quoted_status_permalink": {"expanded": "https://twitter.com/x/status/$id"},
         |"quoted_status": $quoted, "retweeted_status": $retweeted,
         |"extended_entities": {"media": [{"expanded_url": "https://t.co/top$id"}]}}"""
        .stripMargin.replace("\n", " ")
    val rows = Seq(
      tweet(1, "null", quoted = inner(11, "false")),                    // no class
      tweet(2, "true", quoted = inner(12, "false", sensitive = true)),  // sensitive quote
      tweet(3, "false", retweeted = inner(13, "false", sensitive = true)),
      tweet(4, "false", retweeted = inner(14, "null")),                 // null truncated
      tweet(5, "true", quoted = inner(15, "false"), retweeted = inner(25, "false")),
      tweet(6, "true", retweeted = inner(16, "false")),
      tweet(7, "false", retweeted = inner(17, "true")),
      tweet(8, "false"))
    val edge = spark.read.schema(TweetSchema.raw).json(rows.toDS())
    val kept = TweetNormalize.normalize(edge)
      .select("samp_id", "org_id", "org_text", "org_url").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    assert(kept == Set(
      (5L, 15L, "t15", "https://twitter.com/x/status/5"),
      (6L, 16L, "t16", "https://t.co/plain16"),
      (7L, 17L, "full17", "https://t.co/ext17"),
      (8L, 8L, "t8", "https://t.co/top8")))
  }

  test("normalize reads the raw tweets once: one relation in the optimized plan") {
    // a copy of the fixture, so the plan is not the cached `normalized`
    val copy = Files.createTempDirectory("graft-normalize-plan").resolve("tweets.json")
    Files.copy(Paths.get(resourcePath("tweets_fixture.json")), copy)
    val fresh = Readers.multilineJson(spark, copy.toString, TweetSchema.raw)
    val plan = TweetNormalize.normalize(fresh).queryExecution.optimizedPlan
    val scans = plan.collect { case r: LogicalRelation => r }
    assert(scans.size == 1, s"${scans.size} scans of the raw tweets:\n$plan")
  }

  test("TweetBench writes the same tweets in one file as in 16 when 16 " +
      "does not divide the count") {
    def tweets(nFiles: Int): Long = {
      val dir = Files.createTempDirectory(s"tweetbench-spec-$nFiles")
      try {
        graft.TweetBench.writeCorpus(dir.toFile, nFiles, 35L)
        Readers.multilineJson(spark, dir.toString, TweetSchema.raw).count()
      } finally graft.util.StoreFs.deleteRecursively(dir)
    }
    assert(tweets(1) == 35L)
    assert(tweets(16) == 35L)
  }
}
