package graft.search

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** REST response assembly — the reference API's endpoint envelopes
  * (`Ranking Model/src/main/java/api/Handler.java:34-167`, field names from
  * `constants/APIConstants.java:5-17`, shapes per Report.pdf Table 4) built
  * as ONE aggregation + `to_json` projection instead of a driver-side
  * JSONObject loop: the rows of a serving query collapse into the response
  * document on the executors, so the envelope assembly scales with the
  * result cap (10/1000 rows), never with the corpus.
  *
  * Determinism: the data array is ordered by the caller-supplied ascending
  * sort key (the serving query's own rank), via `array_sort` over
  * key-prefixed structs — `collect_list` alone has no order guarantee.
  */
object Serving {

  private val HttpSuccess = 200
  private val HttpSuccessMessage = "Success"

  /** `{count, data: [{user, tweet}], status_code, message}` — the envelope
    * of the keyword and hashtag search endpoints (`Handler.java:34-63,
    * 77-106`). One row out, holding the whole JSON document.
    */
  def searchResponse(results: DataFrame, orderCol: Column,
                     userCols: Seq[String], tweetCols: Seq[String]): DataFrame = {
    val entry = struct(orderCol.as("k"),
      struct(userCols.map(col): _*).as("user"),
      struct(tweetCols.map(col): _*).as("tweet"))
    results.agg(array_sort(collect_list(entry)).as("__d"))
      .select(to_json(struct(
        size(col("__d")).as("count"),
        expr("transform(__d, e -> struct(e.user AS user, e.tweet AS tweet))").as("data"),
        lit(HttpSuccess).as("status_code"),
        lit(HttpSuccessMessage).as("message"))).as("response"))
  }

  /** `{user, count, tweets: [...], status_code, message}` — the timeline
    * endpoint envelope (`Handler.java:120-152`): ONE user object plus its
    * ranked tweets. One row per user in `results` (the reference serves
    * exactly one — its loop `break`s after the first entry).
    */
  def timelineResponse(results: DataFrame, orderCol: Column,
                       userCols: Seq[String], tweetCols: Seq[String]): DataFrame = {
    val entry = struct(orderCol.as("k"), struct(tweetCols.map(col): _*).as("t"))
    results
      .groupBy(userCols.map(col): _*)
      .agg(array_sort(collect_list(entry)).as("__t"))
      .select(to_json(struct(
        struct(userCols.map(col): _*).as("user"),
        size(col("__t")).as("count"),
        expr("transform(__t, e -> e.t)").as("tweets"),
        lit(HttpSuccess).as("status_code"),
        lit(HttpSuccessMessage).as("message"))).as("response"))
  }
}
