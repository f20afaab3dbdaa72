package graft.search

import graft.util.LocalScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** REST response assembly — the reference API's endpoint envelopes
  * (`Ranking Model/src/main/java/api/Handler.java:34-167`, field names from
  * `constants/APIConstants.java:5-17`, shapes per Report.pdf Table 4) built
  * as ONE aggregation + `to_json` projection instead of a driver-side
  * JSONObject loop, so the envelope assembly scales with the result cap
  * (10/1000 rows), never with the corpus.
  *
  * Two kinds of `results`, one envelope expression. A frame (the ad-hoc
  * routes: [[searchResponse]], [[timelineResponse]]) is aggregated by
  * Spark: its rows collapse into the response document on the executors,
  * and this path is the byte-equality reference. Plain rows (the stored
  * routes, whose rows the driver read from the stores: [[searchJson]],
  * [[timelineJson]]) are gathered on the driver
  * ([[graft.util.LocalScan.gather]]) into one row per document holding
  * the entries array, and the same projection is evaluated over it —
  * resolved once per thread and layout ([[graft.util.LocalScan.prepare]]),
  * so a stored request builds no query and runs no SQL execution.
  *
  * Determinism: the data array is ordered by the caller-supplied ascending
  * sort key (the serving query's own rank), via `array_sort` over
  * key-prefixed structs — `collect_list` alone has no order guarantee.
  */
object Serving {

  private val HttpSuccess = 200
  private val HttpSuccessMessage = "Success"

  private def searchEntry(orderCol: Column, userCols: Seq[String], tweetCols: Seq[String]): Column =
    struct(orderCol.as("k"),
      struct(userCols.map(col): _*).as("user"),
      struct(tweetCols.map(col): _*).as("tweet"))

  private def searchEnvelope(d: Column): Column =
    to_json(struct(
      size(d).as("count"),
      transform(d, e => struct(e("user").as("user"), e("tweet").as("tweet"))).as("data"),
      lit(HttpSuccess).as("status_code"),
      lit(HttpSuccessMessage).as("message"))).as("response")

  private def timelineEntry(orderCol: Column, tweetCols: Seq[String]): Column =
    struct(orderCol.as("k"), struct(tweetCols.map(col): _*).as("t"))

  private def timelineEnvelope(userCols: Seq[String], d: Column): Column =
    to_json(struct(
      struct(userCols.map(col): _*).as("user"),
      size(d).as("count"),
      transform(d, e => e("t")).as("tweets"),
      lit(HttpSuccess).as("status_code"),
      lit(HttpSuccessMessage).as("message"))).as("response")

  /** `{count, data: [{user, tweet}], status_code, message}` — the envelope
    * of the keyword and hashtag search endpoints (`Handler.java:34-63,
    * 77-106`). One row out, holding the whole JSON document.
    */
  def searchResponse(results: DataFrame, orderCol: Column,
                     userCols: Seq[String], tweetCols: Seq[String]): DataFrame =
    results.agg(array_sort(collect_list(searchEntry(orderCol, userCols, tweetCols))).as("__d"))
      .select(searchEnvelope(col("__d")))

  /** [[searchResponse]] over plain rows: the JSON document. */
  def searchJson(spark: SparkSession, results: LocalScan.Table, orderCol: Column,
                 userCols: Seq[String], tweetCols: Seq[String]): String =
    envelopes(spark, results, Nil, ("search", orderCol, userCols, tweetCols),
      searchEntry(orderCol, userCols, tweetCols), searchEnvelope).head

  /** `{user, count, tweets: [...], status_code, message}` — the timeline
    * endpoint envelope (`Handler.java:120-152`): ONE user object plus its
    * ranked tweets. One row per user in `results` (the reference serves
    * exactly one — its loop `break`s after the first entry).
    */
  def timelineResponse(results: DataFrame, orderCol: Column,
                       userCols: Seq[String], tweetCols: Seq[String]): DataFrame =
    results.groupBy(userCols.map(col): _*)
      .agg(array_sort(collect_list(timelineEntry(orderCol, tweetCols))).as("__d"))
      .select(timelineEnvelope(userCols, col("__d")))

  /** [[timelineResponse]] over plain rows: one JSON document per user. */
  def timelineJson(spark: SparkSession, results: LocalScan.Table, orderCol: Column,
                   userCols: Seq[String], tweetCols: Seq[String]): Seq[String] =
    envelopes(spark, results, userCols, ("timeline", orderCol, userCols, tweetCols),
      timelineEntry(orderCol, tweetCols), timelineEnvelope(userCols, _))

  /** Per `groups` value of `results`, its `entry` values gathered on the
    * driver and `envelope` evaluated over their sorted array: the
    * documents, in first-seen group order. `key` names the columns.
    */
  private def envelopes(spark: SparkSession, results: LocalScan.Table, groups: Seq[String],
                        key: Any, entry: => Column, envelope: Column => Column): Seq[String] = {
    val entries = LocalScan.prepare(spark, results.schema, "entries" -> key)(
      groups.map(col) :+ entry.as("__e"))(results)
    val gathered = LocalScan.gather(entries, groups.size, "__e")
    LocalScan.prepare(spark, gathered.schema, "envelope" -> key)(
        Seq(envelope(array_sort(col("__e")))))(gathered)
      .rows.map(_.getUTF8String(0).toString)
  }
}
