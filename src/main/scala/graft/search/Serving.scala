package graft.search

import graft.util.LocalScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** REST response assembly — the reference API's endpoint envelopes
  * (`Ranking Model/src/main/java/api/Handler.java:34-167`, field names from
  * `constants/APIConstants.java:5-17`, shapes per Report.pdf Table 4) built
  * as ONE aggregation + `to_json` projection instead of a driver-side
  * JSONObject loop, so the envelope assembly scales with the result cap
  * (10/1000 rows), never with the corpus.
  *
  * Two kinds of `results`, one envelope expression. A distributed frame
  * (the ad-hoc routes) is aggregated by Spark: its rows collapse into the
  * response document on the executors. A local frame (the stored routes,
  * whose rows the driver read from the stores) is gathered on the driver
  * ([[graft.util.LocalScan.gather]]) into one local row per document
  * holding the entries array, and the same projection runs over it with
  * no Spark job.
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
    entries(results, Nil, entry)
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
    entries(results, userCols.map(col), entry)
      .select(to_json(struct(
        struct(userCols.map(col): _*).as("user"),
        size(col("__d")).as("count"),
        expr("transform(__d, e -> e.t)").as("tweets"),
        lit(HttpSuccess).as("status_code"),
        lit(HttpSuccessMessage).as("message"))).as("response"))
  }

  /** Per `groups` value of `results`, its `entry` values as the sorted
    * array `__d`: aggregated by Spark over a distributed frame, gathered
    * on the driver over a local one.
    */
  private def entries(results: DataFrame, groups: Seq[Column], entry: Column): DataFrame =
    if (LocalScan.isLocal(results))
      LocalScan.gather(results, groups, entry, "__e")
        .select(groups :+ array_sort(col("__e")).as("__d"): _*)
    else results.groupBy(groups: _*).agg(array_sort(collect_list(entry)).as("__d"))
}
