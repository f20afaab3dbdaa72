package graft.search

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ServingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tweets = Seq(
    ("11", "7", "spark is hiring engineers", Seq("jobs"), "2021-03-01T10:00:00Z"),
    ("12", "7", "query engines are fast", Seq("perf"), "2021-03-02T10:00:00Z"),
    ("13", "8", "hello world", Seq("jobs"), "2021-03-03T10:00:00Z")
  ).toDF("id", "userID", "tweetText", "tweetHashtags", "tweetDateTime")

  private lazy val users = Seq(
    ("7", "ada", "Ada L"), ("8", "bob", "Bob D")
  ).toDF("id", "userScreenName", "userName")

  test("search envelope carries the reference contract: count/data/status_code/message") {
    val results = Collections.keywordSearch(tweets, users, Seq("spark"), k = 10)
    // ascending key = -score, i.e. best-ranked first in the data array
    val out = Serving.searchResponse(results, negate(col("score")),
      userCols = Seq("userScreenName"), tweetCols = Seq("tweet_id", "tweetText"))
      .select(
        get_json_object(col("response"), "$.count").as("count"),
        get_json_object(col("response"), "$.status_code").as("sc"),
        get_json_object(col("response"), "$.message").as("msg"),
        get_json_object(col("response"), "$.data[0].user.userScreenName").as("u0"),
        get_json_object(col("response"), "$.data[0].tweet.tweetText").as("t0"))
      .head()
    assert(out.getString(0) == "1")
    assert(out.getString(1) == "200")
    assert(out.getString(2) == "Success")
    assert(out.getString(3) == "ada")
    assert(out.getString(4) == "spark is hiring engineers")
  }

  test("hashtag search rides the same envelope; data order follows the sort key") {
    val results = Collections.hashtagSearch(tweets, "jobs")
      .join(users.withColumnRenamed("id", "uid"), col("userID") === col("uid"))
    val out = Serving.searchResponse(results, col("id").cast("long"),
      userCols = Seq("userScreenName"), tweetCols = Seq("id", "tweetText"))
      .select(
        get_json_object(col("response"), "$.count").as("count"),
        get_json_object(col("response"), "$.data[0].tweet.id").as("first"),
        get_json_object(col("response"), "$.data[1].tweet.id").as("second"))
      .head()
    assert(out.getString(0) == "2")
    assert(out.getString(1) == "11" && out.getString(2) == "13")
  }

  test("timeline envelope: user/count/tweets/status_code/message, newest first") {
    val results = Collections.userTimeline(tweets, users, "ada")
    // ascending key reproducing the timeline's newest-first order
    val out = Serving.timelineResponse(results,
      negate(col("tweet_id").cast("long")),
      userCols = Seq("userScreenName"), tweetCols = Seq("tweet_id", "tweetText"))
      .select(
        get_json_object(col("response"), "$.user.userScreenName").as("u"),
        get_json_object(col("response"), "$.count").as("count"),
        get_json_object(col("response"), "$.tweets[0].tweet_id").as("first"),
        get_json_object(col("response"), "$.status_code").as("sc"),
        get_json_object(col("response"), "$.message").as("msg"))
      .head()
    assert(out.getString(0) == "ada")
    assert(out.getString(1) == "2")
    assert(out.getString(2) == "12") // newest tweet first
    assert(out.getString(3) == "200")
    assert(out.getString(4) == "Success")
  }

  test("error envelope matches Handler.java:66-71") {
    // an empty query is answered with the error envelope
    val body = HttpServing.referenceRoutes(tweets, users)("/api/search/query")(
      Map("query" -> ""))
    val out = Seq(body).toDF("response")
      .select(get_json_object(col("response"), "$.status_code"),
        get_json_object(col("response"), "$.message"))
      .head()
    assert(out.getString(0) == "500")
    assert(out.getString(1) == "Internal Server Error")
  }
}
