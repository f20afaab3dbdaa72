package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Output checks. Each returns the list of problems found (empty = pass). */
object Checks {

  private val Ok = "\"status_code\":200,\"message\":\"Success\"}"
  /** The routes' error envelope (`Handler.java`'s 500 body). */
  val ErrorEnvelope = """{"status_code":500,"message":"Internal Server Error"}"""
  private val CountRe = "\"count\":(\\d+)".r

  def isSuccess(body: String): Boolean = body != null && body.endsWith(Ok)

  def matchCount(body: String): Int =
    CountRe.findFirstMatchIn(body).map(_.group(1).toInt).getOrElse(-1)

  /** A read is wrong unless it is a success envelope; on a store that
    * only grows, a key drawn from the served keys must also match.
    */
  def readProblem(route: String, body: String, mustMatch: Boolean): Option[String] =
    if (!isSuccess(body)) Some(s"$route: not a success envelope: ${body.take(200)}")
    else if (mustMatch && matchCount(body) < 1) Some(s"$route: served key matched nothing")
    else None

  /** Stored-route envelopes must be byte-equal to the ad-hoc routes'. */
  def envelopeProblems(pairs: Seq[(String, String, String)]): Seq[String] =
    pairs.collect { case (req, stored, adhoc) if stored != adhoc =>
      s"$req: stored envelope differs from ad hoc\n  stored: ${stored.take(300)}\n  adhoc:  ${adhoc.take(300)}"
    }

  /** The batch pipeline's outputs under `out` against the corpus's
    * independently computed expectations; also returns the kept count.
    */
  def batchProblems(spark: SparkSession, out: String,
                    exp: Corpus.Expected): (Seq[String], Long) = {
    val t = spark.read.parquet(s"$out/tweets")
      .agg(count(lit(1)), sum(col("tweetFavoriteCount"))).head()
    val (kept, favs) = (t.getLong(0), t.getLong(1))
    val users = spark.read.parquet(s"$out/users").count()
    val postings = spark.read.parquet(s"$out/tidx/hashtags").count()
    val indexed = spark.read.parquet(s"$out/bm25/corpus").head().getAs[Double]("n")
    val trending = spark.read.parquet(s"$out/trending")
      .orderBy(col("n").desc, col("term").asc).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val problems = Seq(
      (kept == exp.kept) -> s"kept tweets $kept != expected ${exp.kept}",
      (users == exp.users) -> s"users $users != expected ${exp.users}",
      (favs == exp.favoriteSum) -> s"favorite sum $favs != expected ${exp.favoriteSum} (keep-latest broken)",
      (postings == exp.tagPostings) -> s"hashtag postings $postings != expected ${exp.tagPostings}",
      (indexed == exp.kept.toDouble) -> s"BM25 indexed $indexed docs != expected ${exp.kept}",
      (trending == exp.trending) -> s"trending top-${exp.trending.size} differs from expected")
      .collect { case (false, msg) => msg }
    problems -> kept
  }
}
