package perfbench

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import graft.dedup.Dedup
import graft.search.{BM25Index, Collections, HttpServing, Serving, ServingStores}
import graft.sources.Readers
import graft.text.TextAnalysis
import graft.tweets.{TweetIngest, TweetNormalize, TweetSchema}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}

/** The job-search product benchmark.
  *
  * {{{
  *   perfbench.Main --workload <serve_stored|ingest_batch|ingest_live>
  *                  --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * A run generates a seeded synthetic corpus, drives one workload
  * through the product's public functions and prints one JSON result
  * line on stdout: the end-to-end metrics (`--trace 0`) or the per-layer
  * metrics (`--trace 1`), the operations attempted and failed, and
  * whether every output check passed. Progress and check failures go to
  * stderr.
  *
  * `serve_stored` and `ingest_batch` set up a serving deployment (timed
  * as `setup_s`) and then run `--seconds` of four closed-loop HTTP
  * clients on the three REST routes. They differ in the set-up:
  *  - `serve_stored`: the BM25 index and serving stores are built from
  *    the corpus's collections;
  *  - `ingest_batch`: the reference's batch path builds everything from
  *    raw tweets (multiline JSON → normalize → collections → BM25 index,
  *    serving stores and trending table).
  * A traced `serve_stored` run also runs the batch path once, so both
  * traced runs measure every read and batch layer.
  *
  * `ingest_live` builds a base and then runs the live path — one NDJSON
  * batch (near-dup gate, appends, same-id edits) beside two HTTP readers
  * that race the appends — and prints the live path's metrics whatever
  * `--trace` says.
  */
object Main {

  val Workloads: Seq[String] = Seq("serve_stored", "ingest_batch", "ingest_live")

  final case class Options(workload: String, seed: Long, seconds: Int,
                           traced: Boolean, work: Path)

  def parse(argv: Array[String]): Options = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    require(Set("0", "1").contains(need("--trace")), "--trace must be 0 or 1")
    val o = Options(need("--workload"), need("--seed").toLong,
      need("--seconds").toInt, need("--trace") == "1", Paths.get(need("--work")))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be >= 1")
    o
  }

  def main(argv: Array[String]): Unit = {
    val opts =
      try parse(argv)
      catch { case NonFatal(e) => System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2) }
    val bench = new Bench(opts)
    val line =
      try bench.run()
      catch { case NonFatal(e) => e.printStackTrace(); bench.close(); sys.exit(1) }
    bench.close()
    println(line)
    sys.exit(0)
  }
}

/** One request on the reference's REST surface. */
final case class Req(path: String, params: Map[String, String]) {
  def route: String = path.stripPrefix("/api/search/")
  def uri(port: Int): URI = URI.create(s"http://127.0.0.1:$port$path?" +
    params.map { case (k, v) => s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("&"))
  override def toString: String =
    s"$path?${params.map { case (k, v) => s"$k=$v" }.mkString("&")}"
}

object Req {
  val Query = "/api/search/query"
  val Hashtag = "/api/search/hashtag"
  val User = "/api/search/user"
  val Paths: Seq[String] = Seq(Query, Hashtag, User)
}

/** The read mix: each client rotates query, hashtag, query, user (a
  * query of 1–3 terms), starting at its own offset, so every run serves
  * the same route shares; keys are drawn with Zipf skew from the keys the
  * stores serve. `roundRobin` rotates query, hashtag, user instead
  * (traced runs, where every route needs samples). One instance per
  * client thread.
  *
  * A run makes only a few draws per client, so they are taken at the
  * points of a Weyl sequence (steps of the golden ratio from a seeded
  * start) instead of independent uniforms: every run then sees about the
  * same spread of key ranks and query lengths, and runs differ less.
  */
final class Mix(keys: Corpus.Keys, seed: Long, start: Int = 0, roundRobin: Boolean = false) {
  private val rnd = new Random(seed)
  private def weyl(): () => Double = {
    var x = rnd.nextDouble()
    () => { x = (x + 0.6180339887498949) % 1.0; x }
  }
  private val (lengthU, termU, tagU, userU) = (weyl(), weyl(), weyl(), weyl())
  private val terms = new Corpus.Zipf(keys.terms.size)
  private val tags = new Corpus.Zipf(keys.tags.size)
  private val users = new Corpus.Zipf(keys.screenNames.size)
  private val rotation = if (roundRobin) Seq(Req.Query, Req.Hashtag, Req.User)
    else Seq(Req.Query, Req.Hashtag, Req.Query, Req.User)
  private var turn = start

  def next(): Req = {
    val path = rotation(turn % rotation.size)
    turn += 1
    path match {
      case Req.Query =>
        val q = Seq.fill(1 + (lengthU() * 3).toInt)(keys.terms(terms.at(termU()))).distinct
        Req(Req.Query, Map("query" -> q.mkString(" ")))
      case Req.Hashtag => Req(Req.Hashtag, Map("tag" -> keys.tags(tags.at(tagU()))))
      case _ => Req(Req.User, Map("id" -> keys.screenNames(users.at(userU()))))
    }
  }
}

/** One completed read: route and wall interval. */
final case class Read(route: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Serving-store directories of one built corpus. */
final case class Stores(dir: String) {
  def tweets: String = s"$dir/tweets"
  def users: String = s"$dir/users"
  def bm25: String = s"$dir/bm25"
  def tidx: String = s"$dir/tidx"
  def input: String = s"$dir/input"
}

/** The routes over one collection snapshot, and the frames they read. */
final case class RouteCtx(s: Stores, tweets: DataFrame, users: DataFrame,
                          routes: Map[String, HttpServing.Route])

final class Bench(o: Main.Options) {
  import Bench._

  private val root = o.work.toAbsolutePath
  Files.createDirectories(root)

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", root.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val tracer = new Tracer(o.traced || o.workload == "ingest_live")
  private val listener = new JobGroupListener
  if (o.traced) spark.sparkContext.addSparkListener(listener)
  private val jvm = new JvmMeter
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private val attempted = new AtomicLong
  private val failed = new AtomicLong

  /** Count one operation; a non-empty problem list marks it failed. */
  private def op(problems: Seq[String]): Boolean = {
    attempted.incrementAndGet()
    if (problems.isEmpty) true
    else {
      failed.incrementAndGet()
      problems.foreach(p => log(s"FAIL $p"))
      false
    }
  }

  private val born = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%6.1fs] $msg")
  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (now - t0) / 1e9

  private def step[A](name: String)(f: => A): A = {
    val t0 = now
    try tracer.span(name)(f) finally log(f"  $name ${secs(t0)}%.2f s")
  }

  private val samples = new ConcurrentLinkedQueue[(String, Double)]()
  private def sample(name: String, v: Double): Unit = samples.add(name -> v)

  val corpus = new Corpus(o.seed, nTweets = BaseTweets)

  // ——— the batch path ———

  /** Writes the corpus's input files under `out`'s `input` directory:
    * every build reads its own copy, so no build reuses another's reads.
    */
  private def writeInput(out: Stores): Unit = {
    Files.createDirectories(Paths.get(out.input))
    corpus.inputFiles(InputFiles).zipWithIndex.foreach { case (body, j) =>
      Files.writeString(Paths.get(out.input, s"tweets_${1634810000L + j * 7200L}.json"), body)
    }
  }

  /** The collections the batch path must derive from the corpus. */
  private def expectedCollections: (DataFrame, DataFrame) = {
    def frame(rows: Seq[Seq[Any]], schema: StructType) =
      spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema)
    frame(corpus.tweetRows, TweetsSchema) -> frame(corpus.userRows, UsersSchema)
  }

  /** Writes the expected collections into `out` (untimed preparation). */
  private def writeCollections(out: Stores): Unit = {
    val (t, u) = expectedCollections
    t.write.parquet(out.tweets); u.write.parquet(out.users)
  }

  /** `serve_stored`'s set-up: the BM25 index and the serving stores built
    * from the collections in `out`.
    */
  private def buildStores(out: Stores): Unit = tracer.request("stores") {
    val tweets = spark.read.parquet(out.tweets)
    step("bm25index.build")(BM25Index.build(tweets, "id", "tweetText", out.bm25))
    step("servingstores.build")(
      HttpServing.buildTweetIndex(tweets, spark.read.parquet(out.users), out.tidx))
  }

  /** The reference's batch path over `out`'s input files into `out`,
    * each stage persisted before the next.
    */
  private def batchIngest(out: Stores): Unit = {
    val t0 = now
    tracer.request("batch") {
      step("tweets.process") {
        TweetNormalize.process(Readers.multilineJson(spark, out.input, TweetSchema.raw))
          .write.parquet(s"${out.dir}/processed")
      }
      step("collections.derive") {
        val processed = spark.read.parquet(s"${out.dir}/processed")
        Collections.tweets(processed).write.parquet(out.tweets)
        Collections.users(processed).write.parquet(out.users)
      }
      val tweets = spark.read.parquet(out.tweets)
      val users = spark.read.parquet(out.users)
      step("bm25index.build")(BM25Index.build(tweets, "id", "tweetText", out.bm25))
      step("servingstores.build")(HttpServing.buildTweetIndex(tweets, users, out.tidx))
      step("text.trending") {
        TextAnalysis.trending(tweets, "id", "tweetText", Corpus.Stopwords,
          Corpus.TrendingK).write.parquet(s"${out.dir}/trending")
      }
    }
    sample("batch.tweets_per_s", corpus.observations.size / secs(t0))
    sample("bm25index.bytes_written", dirBytes(out.bm25).toDouble)
  }

  /** The batch path's outputs in `out` against the corpus's expectations:
    * the counts, sums and trending table of [[Checks.batchProblems]], and
    * every expected tweets and users row present in the collections.
    */
  private def batchChecks(out: Stores): Unit = {
    val (problems, kept) = Checks.batchProblems(spark, out.dir, corpus.expected)
    sample("tweets.kept_ratio", kept.toDouble / corpus.observations.size)
    op(problems)
    val (t, u) = expectedCollections
    op(Seq("tweets" -> (out.tweets, t), "users" -> (out.users, u)).flatMap { case (name, (path, want)) =>
      val missing = want.exceptAll(spark.read.parquet(path).select(want.columns.map(col): _*)).count()
      if (missing == 0) None else Some(s"$name collection: $missing expected rows missing")
    })
  }

  // ——— reads ———

  private def routesOver(s: Stores, tweets: String, users: String): RouteCtx = {
    val t = spark.read.parquet(tweets); val u = spark.read.parquet(users)
    RouteCtx(s, t, u, HttpServing.referenceRoutes(t, u, Some(s.bm25), Some(s.tidx)))
  }

  /** An HTTP server whose routes delegate to the current context, so the
    * live writer can publish a new collection snapshot between requests.
    */
  private def startServer(current: AtomicReference[RouteCtx]) =
    HttpServing.start(0, Req.Paths.map(p =>
      p -> ((params: Map[String, String]) => current.get().routes(p)(params))).toMap)

  private def get(port: Int, r: Req): String =
    http.send(HttpRequest.newBuilder(r.uri(port)).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  /** Closed loop: `clients` threads, each sending its next request only
    * after the previous reply, while `more(sentByThisClient)` holds.
    */
  private def closedLoop(clients: Int, seed: Long, more: Int => Boolean,
                         roundRobin: Boolean = false)(read: Req => Read): Seq[Read] = {
    val out = new ConcurrentLinkedQueue[Read]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val mix = new Mix(corpus.keys, seed * 1000 + c, start = c, roundRobin = roundRobin)
        var sent = 0
        while (more(sent)) { out.add(read(mix.next())); sent += 1 }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** A read over HTTP; a traced run also samples the store shape it sees. */
  private def httpRead(port: Int, s: Stores, mustMatch: Boolean)(r: Req): Read = {
    if (o.traced) {
      val (segments, files) = shapeOf(s)
      sample("shape.segments", segments)
      sample("shape.data_files", files)
    }
    val t0 = now
    val body = try get(port, r) catch { case NonFatal(e) => s"exception: $e" }
    op(Checks.readProblem(r.toString, body, mustMatch).toSeq)
    Read(r.route, t0, now)
  }

  /** Untimed warm-up: [[Bench.WarmUpSeconds]] of the same closed loop
    * the window runs. A fixed time, not "until the median settles": rounds
    * of four reads passed a 15% settle test after two rounds, and runs
    * warmed that little read 10–20% slower than runs warmed by four.
    */
  private def warmUp(read: Req => Read): Unit = {
    val deadline = now + WarmUpSeconds * 1000000000L
    val reads = closedLoop(ServeClients, 90000L + o.seed, _ => now < deadline)(read)
    log(f"warm-up: ${reads.size} reads, p50 ${Stats.median(reads.map(_.ms))}%.0f ms")
  }

  // ——— traced reads ———

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  /** Best of two runs: stages are forced one after another, so the first
    * forcing would pay cache warm-up its successors do not.
    */
  private def timedMs(f: => Unit): Double =
    Seq.fill(2) { val t0 = now; f; (now - t0) / 1e6 }.min
  private val readSeq = new AtomicLong

  /** One route's request plan, mirrored from the route body with the same
    * public calls: the response frame is built, planned and executed under
    * the request's job group (spans `spark.<route>.*`); then each upstream
    * stage is forced with a `noop` write and charged the difference from
    * its own upstream stage. Returns the envelope.
    */
  private def decomposed(ctx: RouteCtx, r: Req, reqId: String): String = {
    val sc = spark.sparkContext
    val route = r.route
    def run(df: => DataFrame): Array[Row] = {
      val d = tracer.span(s"spark.$route.df_build")(df)
      tracer.span(s"spark.$route.plan")(d.queryExecution.executedPlan)
      tracer.span(s"spark.$route.exec")(d.collect())
    }
    val terms = r.params.get("query").toSeq.flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
    def topK = BM25Index.topKMerged(spark, ctx.s.bm25, terms, 10)
    def keyword = Collections.keywordSearchIndexed(ctx.tweets, ctx.users, ctx.s.bm25, terms, k = 10)
    def probe = ServingStores.postingProbe(spark, ctx.s.tidx + "/hashtags",
        r.params.getOrElse("tag", ""))
      .orderBy(col("id").cast("long").asc).limit(1000)
    def timeline(u: Row) =
      ServingStores.timelineProbe(spark, ctx.s.tidx + "/by_user", "userID", u.getString(0))
        .orderBy(col("tweetDateTime").desc, col("id").cast("long").desc).limit(1000)
        .select(lit(u.getString(1)).as("userScreenName"), col("id").as("tweet_id"),
          col("tweetDateTime"), col("tweetText"))

    sc.setJobGroup(reqId, route, interruptOnCancel = false)
    val t0 = now
    var lookupMs = 0.0
    var hit: Option[Row] = None
    val body = route match {
      case "query" =>
        run(Serving.searchResponse(keyword, negate(col("score")),
          userCols = Seq("userName", "userScreenName"),
          tweetCols = Seq("tweet_id", "tweetText", "score"))).head.getString(0)
      case "hashtag" =>
        run(Serving.searchResponse(
          probe.join(ctx.users.withColumnRenamed("id", "uid"), col("userID") === col("uid"), "left"),
          col("id").cast("long"), userCols = Seq("userName", "userScreenName"),
          tweetCols = Seq("id", "tweetText"))).head.getString(0)
      case _ =>
        hit = run(ServingStores.postingProbe(spark, ctx.s.tidx + "/users", r.params("id"))
          .select(col("id"), col("userScreenName"))).headOption
        lookupMs = (now - t0) / 1e6
        hit.fold(Checks.ErrorEnvelope)(u => run(Serving.timelineResponse(timeline(u),
          negate(col("tweet_id").cast("long")), userCols = Seq("userScreenName"),
          tweetCols = Seq("tweet_id", "tweetText", "tweetDateTime"))).head.getString(0))
    }
    val totalMs = (now - t0) / 1e6
    sc.clearJobGroup()

    route match {
      case "query" =>
        val topk = tracer.span("bm25index.topk")(timedMs(noop(topK)))
        val joined = tracer.span("collections.keyword_join")(timedMs(noop(keyword)))
        sample("bm25index.topk", topk)
        sample("collections.keyword_join", joined - topk)
        sample("serving.envelope", totalMs - joined)
      case "hashtag" =>
        val p = tracer.span("servingstores.posting_probe")(timedMs(noop(probe)))
        sample("servingstores.posting_probe", p)
        sample("serving.envelope", totalMs - p)
      case _ =>
        val tl = hit.fold(0.0)(u =>
          tracer.span("servingstores.timeline_probe")(timedMs(noop(timeline(u)))))
        sample("servingstores.user_lookup", lookupMs)
        sample("servingstores.timeline_probe", tl)
        sample("serving.envelope", totalMs - lookupMs - tl)
    }
    val c = listener.take(sc, reqId)
    sample(s"spark.$route.total", totalMs)
    sample(s"spark.$route.jobs", c.jobs)
    sample(s"spark.$route.tasks", c.tasks)
    sample(s"spark.$route.bytes_read", c.bytesRead.toDouble)
    body
  }

  /** Traced read: the route called in process, then over HTTP, then
    * decomposed — all three envelopes must agree. Its latency is the
    * in-process call.
    */
  private def tracedRead(port: Int, c: RouteCtx, mustMatch: Boolean)(r: Req): Read = {
    def call() = try c.routes(r.path)(r.params) catch { case NonFatal(e) => s"exception: $e" }
    val t0 = now
    val direct = call()
    val t1 = now
    val viaHttp = try get(port, r) catch { case NonFatal(e) => s"exception: $e" }
    val t2 = now
    call()
    // the in-process latency is the better of the calls around the HTTP
    // one, so neither side of the transport difference pays warm-up alone
    val directMs = math.min(t1 - t0, now - t2) / 1e6
    val httpMs = (t2 - t1) / 1e6
    val reqId = s"read-${readSeq.incrementAndGet()}"
    val body = tracer.request(reqId)(decomposed(c, r, reqId))
    sample("httpserving.transport", httpMs - directMs)
    sample(s"direct.${r.route}", directMs)
    val problems = Checks.readProblem(r.toString, direct, mustMatch).toSeq ++
      (if (viaHttp != direct || body != direct)
        Seq(s"$r: in-process, HTTP and decomposed envelopes differ") else Nil)
    op(problems)
    Read(r.route, t0, t1)
  }

  // ——— serving ———

  /** The fixed sample check, then warm-up, then `seconds` of closed-loop
    * reads by [[Bench.ServeClients]] clients (a traced run: one sequential
    * traced reader). The sample check's reads also start the warm-up.
    */
  private def serve(ctx: RouteCtx): Unit = {
    val server = startServer(new AtomicReference(ctx))
    try {
      val port = server.getAddress.getPort
      sampleCheck(port, ctx)
      warmUp(httpRead(port, ctx.s, mustMatch = true))
      jvm.start()
      val start = now
      val deadline = start + o.seconds * 1000000000L
      // traced: one sequential reader, so each request's layers are timed
      // without other requests running beside it
      val reads =
        if (o.traced) closedLoop(1, o.seed, n => n < TracedReads || now < deadline,
          roundRobin = true)(tracedRead(port, ctx, mustMatch = true))
        else closedLoop(ServeClients, o.seed, _ => now < deadline)(httpRead(port, ctx.s, mustMatch = true))
      jvm.stop()
      readMetrics(reads, start, deadline)
    } finally server.stop(0)
  }

  /** A fixed sample, one request per route, whose stored-route envelopes
    * over HTTP must be byte-equal to the ad-hoc routes' (no index
    * directories). The ad-hoc routes rescan the corpus through cold plans.
    */
  private def sampleCheck(port: Int, ctx: RouteCtx): Unit = {
    val mix = new Mix(corpus.keys, o.seed * 17 + 3, roundRobin = true)
    val adhoc = HttpServing.referenceRoutes(ctx.tweets, ctx.users)
    Req.Paths.foreach { _ =>
      val r = mix.next()
      op(Checks.envelopeProblems(Seq((r.toString, get(port, r), adhoc(r.path)(r.params)))))
    }
  }

  // ——— the live path (traced runs) ———

  /** The near-dup gate's signature store over the base collection. */
  private def signatures(s: Stores): Unit =
    Dedup.simHash(spark.read.parquet(s.tweets), "id", "tweetText").write.parquet(s"${s.dir}/sig")

  /** Live ingest beside [[Bench.LiveReaders]] closed-loop HTTP readers
    * that race the store writes, as they would in a deployment: one
    * NDJSON batch, checked through the routes as soon as its append
    * returns and then in bulk over every store. Every read must be a
    * success envelope. (No compaction: folding the serving stores after
    * an edit rewrites every bucket, which alone takes most of a run's
    * time budget.)
    */
  private def live(s: Stores): Unit = {
    val ctx = new AtomicReference(routesOver(s, s.tweets, s.users))
    val server = startServer(ctx)
    try {
      val read = httpRead(server.getAddress.getPort, s, mustMatch = false) _
      val writerDone = new AtomicBoolean(false)
      val reads = new AtomicReference[Seq[Read]](Nil)
      val readers = new Thread(() =>
        reads.set(closedLoop(LiveReaders, o.seed * 31 + 7, _ => !writerDone.get())(read)))
      readers.start()
      val batch = corpus.liveBatch(LiveFresh, LiveReposts, LiveEdits)
      val t0 = now
      val servable = tracer.request("live-0")(appendBatch(batch, s))
      val live = Stores(s"${s.dir}/live")
      ctx.set(routesOver(s, live.tweets, live.users))
      val sec = secs(t0)
      writerDone.set(true)
      readers.join()
      log(f"live batch: $sec%.1f s, $servable servable")
      sample("live.append", sec * 1000)
      sample("live.tweets_per_s", servable / sec)
      sample("live.read_p50", Stats.median(reads.get.map(_.ms)))
      sample("live.reads", reads.get.size)
      op(batchRouteProblems(batch, ctx.get.routes))
      op(liveStoreProblems(s, live.tweets, batch))
    } finally server.stop(0)
  }

  /** One live batch, mirroring the indexer loop: parse → normalize →
    * collections; known ids are edits (upserts), new ids pass the near-dup
    * gate against the base signatures and are appended; then the
    * collection snapshot advances (`live/tweets`, `live/users`). Returns
    * the number of tweets made servable.
    */
  private def appendBatch(batch: Corpus.LiveBatch, s: Stores): Long = {
    val lines = spark.createDataset(batch.lines)(Encoders.STRING).toDF("value")
    val processed = step("tweets.process") {
      val p = TweetNormalize.process(TweetIngest.fromJsonLines(lines)).persist()
      p.count(); p
    }
    val tB = Collections.tweets(processed).persist()
    val uB = Collections.users(processed).persist()
    val known = spark.read.parquet(s.tweets).select(col("id"))
    val tUpd = tB.join(known, Seq("id"), "left_semi").persist()
    val tNew = tB.join(known, Seq("id"), "left_anti").persist()
    val tKeep = (
      if (tNew.isEmpty) tB.limit(0)
      else {
        step("dedup.gate") {
          Dedup.simHashIncremental(spark.read.parquet(s"${s.dir}/sig"), tNew, "id", "tweetText")
            .write.parquet(s"${s.dir}/live/kept_sig")
        }
        tB.join(spark.read.parquet(s"${s.dir}/live/kept_sig")
          .select(col("doc").cast("string").as("id")), Seq("id"), "left_semi")
      }).persist()
    val (nNew, nKeep, nUpd) = (tNew.count(), tKeep.count(), tUpd.count())
    if (nNew > 0) sample("dedup.gate_kept_ratio", nKeep.toDouble / nNew)
    def authors(t: DataFrame) = uB.join(t.select(col("userID").as("id")), Seq("id"), "left_semi")
    if (nKeep > 0) {
      step("bm25index.append")(
        BM25Index.appendSegment(tKeep, "id", "tweetText", s.bm25, "live0000"))
      step("servingstores.append")(
        HttpServing.appendTweetIndex(tKeep, authors(tKeep), s.tidx))
    }
    if (nUpd > 0) {
      step("bm25index.upsert")(
        BM25Index.upsertSegment(tUpd, "id", "tweetText", s.bm25, "edit0000"))
      step("servingstores.upsert")(
        HttpServing.upsertTweetIndex(tUpd, authors(tUpd), s.tidx))
    }
    step("collections.upsert") {
      Collections.upsert(spark.read.parquet(s.tweets), tKeep.unionByName(tUpd), "id")
        .write.parquet(s"${s.dir}/live/tweets")
      Collections.upsert(spark.read.parquet(s.users), uB, "id").write.parquet(s"${s.dir}/live/users")
    }
    Seq(processed, tB, uB, tUpd, tNew, tKeep).foreach(_.unpersist())
    nKeep + nUpd
  }

  /** Right after a batch's append returns, through the keyword route: one
    * new tweet and one edit are found by their reference codes (the bulk
    * check after the phase covers every document and every store).
    */
  private def batchRouteProblems(batch: Corpus.LiveBatch,
                                 routes: Map[String, HttpServing.Route]): Seq[String] = {
    def call(path: String, k: String, v: String) = routes(path)(Map(k -> v))
    def has(body: String, id: Long) = body.contains("\"" + id + "\"")
    (batch.fresh.headOption.toSeq.map { t =>
      has(call(Req.Query, "query", t.ref), t.id) -> s"new ${t.id} not found by query"
    } ++ batch.edits.headOption.toSeq.map { case (old, edited) =>
      has(call(Req.Query, "query", edited.ref),
        old.id) -> s"edit ${old.id}: not found by its new text"
    }).collect { case (false, msg) => msg }
  }

  /** In bulk over every store, through the product's delete-aware reads
    * where edits are involved: each new tweet is served, each edit only in
    * its new version, and no repost anywhere.
    */
  private def liveStoreProblems(s: Stores, tweetsPath: String,
                                batch: Corpus.LiveBatch): Seq[String] = {
    val (fresh, reposts, edits) = (batch.fresh, batch.reposts, batch.edits.map(_._2))
    def str(xs: Seq[Long]) = xs.map(_.toString)
    val probs = Seq.newBuilder[String]

    val coll = spark.read.parquet(tweetsPath)
      .filter(col("id").isin(str(fresh.map(_.id) ++ reposts.map(_.id) ++ edits.map(_.id)): _*))
      .select("id", "tweetText").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    fresh.foreach(t => if (!coll.contains(t.id.toString)) probs += s"new ${t.id} not in the collection")
    edits.foreach(e => if (!coll.get(e.id.toString).exists(_.contains(e.ref)))
      probs += s"edit ${e.id}: collection holds an old version")

    val timeline = ServingStores.timelineProbeMany(spark, s"${s.tidx}/by_user", "userID",
        str((fresh ++ reposts ++ edits).map(t => Corpus.User(t.user).id)).distinct)
      .select(col("id"), col("tweetText")).collect().map(r => r.getString(0) -> r.getString(1))
    val onTimeline = timeline.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    fresh.foreach(t => if (onTimeline.get(t.id.toString).forall(_.length != 1))
      probs += s"new ${t.id} not on its timeline exactly once")
    edits.foreach(e => if (!onTimeline.get(e.id.toString).exists(v => v.length == 1 && v.head.contains(e.ref)))
      probs += s"edit ${e.id}: timeline does not hold exactly the new version")

    def matched(refs: Seq[String]): Set[String] =
      if (refs.isEmpty) Set.empty
      else BM25Index.topKMerged(spark, s.bm25, refs, refs.size * 4)
        .collect().map(_.get(0).toString).toSet
    val byNew = matched(fresh.map(_.ref) ++ edits.map(_.ref))
    fresh.foreach(t => if (!byNew(t.id.toString)) probs += s"new ${t.id} not indexed")
    edits.foreach(e => if (!byNew(e.id.toString)) probs += s"edit ${e.id}: new text not indexed")
    val byOld = matched(batch.edits.map(_._1.ref) ++ reposts.map(_.ref))
    edits.foreach(e => if (byOld(e.id.toString)) probs += s"edit ${e.id}: old text still indexed")

    val tagged = spark.read.parquet(s"${s.tidx}/hashtags")
      .filter(col("id").isin(str(fresh.map(_.id) ++ reposts.map(_.id)): _*))
      .select(col("id"), col("__key")).collect().map(r => r.getString(0) -> r.getString(1)).toSet
    fresh.foreach(t => t.tags.foreach(g =>
      if (!tagged((t.id.toString, g))) probs += s"new ${t.id} not posted under #$g"))
    str(reposts.map(_.id)).foreach(id =>
      if (coll.contains(id) || onTimeline.contains(id) || byNew(id) || byOld(id) ||
          tagged.exists(_._1 == id)) probs += s"repost $id reached a store")
    probs.result()
  }

  // ——— the run ———

  private val endToEnd = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private def metric(name: String, value: Double, unit: String): Unit =
    endToEnd(name) = value -> unit

  /** Read latency and throughput over the window `[t0, t1]`. The
    * latency is the mean: the routes' latencies form separate clusters,
    * so a median pooled over the mix sits on the edge between two of them
    * and jumps from run to run, and a route's own median rests on about
    * five reads. Throughput credits each read with the share of its
    * duration inside the window, so a request cut by the window's end
    * counts in part instead of all or nothing.
    */
  private def readMetrics(reads: Seq[Read], t0: Long, t1: Long): Unit = {
    require(reads.nonEmpty, "no reads completed")
    metric("read_mean_ms", reads.map(_.ms).sum / reads.size, "ms")
    val done = reads.map { r =>
      math.max(0L, math.min(r.endNs, t1) - math.max(r.startNs, t0)).toDouble / (r.endNs - r.startNs)
    }.sum
    metric("read_throughput_rps", done / ((t1 - t0) / 1e9), "1/s")
    val wall = (reads.map(_.endNs).max - reads.map(_.startNs).min) / 1e9
    val perRoute = reads.groupBy(_.route).toSeq.sortBy(_._1).map { case (r, xs) =>
      f"$r ${xs.size} p50 ${Stats.median(xs.map(_.ms))}%.0f ms" }
    log(f"reads: ${reads.size} (${perRoute.mkString(", ")}) " +
      f"in $wall%.1f s; highest supported percentile: " +
      Stats.supportedPercentile(reads.size).fold("none")(p => s"p$p"))
  }

  /** Sets up once into `<root>/<name>`: `prepare` (untimed), then `build`
    * and the routes over its result, timed as `setup_s` (JVM and Spark
    * start and the output checks are not part of it).
    */
  private def setUp(name: String)(prepare: Stores => Unit)(build: Stores => Unit): RouteCtx = {
    val s = Stores(root.resolve(name).toString)
    prepare(s)
    val t0 = now
    build(s)
    val ctx = routesOver(s, s.tweets, s.users)
    metric("setup_s", secs(t0), "s")
    ctx
  }

  def run(): String = {
    val raw = corpus.observations.size
    log(s"${o.workload} seed ${o.seed}: $raw raw tweets, ${corpus.expected.kept} kept, " +
      s"${corpus.expected.users} users, ${corpus.keys.terms.size} terms, " +
      s"${corpus.keys.tags.size} tags")
    val ctx = o.workload match {
      case "ingest_batch" => setUp("batch")(writeInput)(batchIngest)
      case _ => setUp("base")(writeCollections)(buildStores)
    }
    o.workload match {
      case "serve_stored" =>
        serve(ctx)
        if (o.traced) {
          val b = Stores(root.resolve("batch").toString)
          writeInput(b); batchIngest(b); batchChecks(b)
        }
      case "ingest_batch" =>
        batchChecks(ctx.s)
        serve(ctx)
      case _ =>
        signatures(ctx.s)
        live(ctx.s)
    }
    metric("ok_rate", 1.0 - failed.get.toDouble / attempted.get, "ratio")
    metric("store_mb", (dirBytes(ctx.s.bm25) + dirBytes(ctx.s.tidx)) / 1048576.0, "MB")
    if (tracer.enabled) tracer.write(root.resolve("spans.jsonl"))
    if (failed.get > 0) log(s"${failed.get} of ${attempted.get} operations failed")
    log("done")
    val endToEndSeq = endToEnd.toSeq.map { case (k, (v, u)) => (k, v, u) }
    val metrics =
      if (o.workload == "ingest_live") endToEndSeq ++ liveMetrics()
      else if (o.traced) layerMetrics()
      else endToEndSeq
    val body = metrics.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"$k is not a number")
      s""""$k": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed.get == 0}, "attempted": ${attempted.get}, """ +
      s""""failed": ${failed.get}, "metrics": {$body}}"""
  }

  private lazy val bySample: Map[String, Seq[Double]] =
    samples.asScala.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  private def med(name: String): Double = Stats.median(bySample.getOrElse(name,
    throw new IllegalStateException(s"no samples of $name")))
  /** Median self time of the spans named `name` under requests `prefix*`. */
  private def spanMs(name: String, prefix: String): Double = {
    val xs = tracer.all.filter(s => s.name == name && s.request.startsWith(prefix))
    require(xs.nonEmpty, s"no $name spans under $prefix")
    Stats.median(xs.map(tracer.selfMs))
  }

  /** The live path's metrics (`ingest_live`). */
  private def liveMetrics(): Seq[(String, Double, String)] = Seq(
    ("live.append_ms", med("live.append"), "ms"),
    ("live.tweets_per_s", med("live.tweets_per_s"), "1/s"),
    ("live.read_p50_ms", med("live.read_p50"), "ms"),
    ("live.reads", med("live.reads"), "count"),
    ("tweets.process_ms", spanMs("tweets.process", "live-"), "ms"),
    ("dedup.gate_ms", spanMs("dedup.gate", "live-"), "ms"),
    ("dedup.gate_kept_ratio", med("dedup.gate_kept_ratio"), "ratio"),
    ("bm25index.append_ms", spanMs("bm25index.append", "live-"), "ms"),
    ("bm25index.upsert_ms", spanMs("bm25index.upsert", "live-"), "ms"),
    ("servingstores.append_ms", spanMs("servingstores.append", "live-"), "ms"),
    ("servingstores.upsert_ms", spanMs("servingstores.upsert", "live-"), "ms"),
    ("collections.upsert_ms", spanMs("collections.upsert", "live-"), "ms"))

  /** Per-layer metrics: medians of the traced run's samples and spans. */
  private def layerMetrics(): Seq[(String, Double, String)] = {
    // per-request sum of the spans named `name`, median over requests
    def perRequest(name: String): Double = {
      val xs = tracer.all.filter(_.name == name).groupBy(_.request).values.map(_.map(_.ms).sum)
      require(xs.nonEmpty, s"no spans named $name")
      Stats.median(xs.toSeq)
    }
    val routes = Seq("query", "hashtag", "user")
    val direct = routes.map(r => med(s"direct.$r"))
    val total = routes.map(r => med(s"spark.$r.total"))
    log(s"traced reads: ${bySample.getOrElse("httpserving.transport", Nil).size}")
    routes.flatMap(r => Seq(
      (s"spark.$r.df_build_ms", perRequest(s"spark.$r.df_build"), "ms"),
      (s"spark.$r.plan_ms", perRequest(s"spark.$r.plan"), "ms"),
      (s"spark.$r.exec_ms", perRequest(s"spark.$r.exec"), "ms"),
      (s"spark.$r.jobs", med(s"spark.$r.jobs"), "count"),
      (s"spark.$r.tasks", med(s"spark.$r.tasks"), "count"),
      (s"spark.$r.bytes_read", med(s"spark.$r.bytes_read"), "bytes"))) ++ Seq(
      ("bm25index.topk_ms", med("bm25index.topk"), "ms"),
      ("collections.keyword_join_ms", med("collections.keyword_join"), "ms"),
      ("servingstores.posting_probe_ms", med("servingstores.posting_probe"), "ms"),
      ("servingstores.user_lookup_ms", med("servingstores.user_lookup"), "ms"),
      ("servingstores.timeline_probe_ms", med("servingstores.timeline_probe"), "ms"),
      ("serving.envelope_ms", med("serving.envelope"), "ms"),
      ("httpserving.transport_ms", med("httpserving.transport"), "ms"),
      ("serving.query_p50_ms", direct(0), "ms"),
      ("serving.hashtag_p50_ms", direct(1), "ms"),
      ("serving.user_p50_ms", direct(2), "ms"),
      ("trace.overhead_ms", Stats.median(total) - Stats.median(direct), "ms"),
      ("trace.accounted_share", Stats.median(total.zip(direct).map { case (t, d) => t / d }), "ratio"),
      ("bm25index.segments", med("shape.segments"), "count"),
      ("servingstores.data_files", med("shape.data_files"), "count"),
      ("batch.tweets_per_s", med("batch.tweets_per_s"), "1/s"),
      ("tweets.process_s", spanMs("tweets.process", "batch") / 1000, "s"),
      ("tweets.kept_ratio", med("tweets.kept_ratio"), "ratio"),
      ("collections.derive_s", spanMs("collections.derive", "batch") / 1000, "s"),
      ("bm25index.build_s", spanMs("bm25index.build", "batch") / 1000, "s"),
      ("bm25index.bytes_written", med("bm25index.bytes_written"), "bytes"),
      ("servingstores.build_s", spanMs("servingstores.build", "batch") / 1000, "s"),
      ("text.trending_s", spanMs("text.trending", "batch") / 1000, "s"),
      ("jvm.gc_ms", jvm.gcMs, "ms"),
      ("jvm.heap_peak_mb", jvm.heapPeakMb, "MB"))
  }

  def close(): Unit = try spark.stop() catch { case NonFatal(_) => () }
}

object Bench {
  /** `Collections.tweets` / `Collections.users` output schemas. */
  val TweetsSchema: StructType = StructType(
    Seq("id", "userID").map(StructField(_, StringType)) ++ Seq(
      StructField("tweetDateTime", TimestampType), StructField("tweetText", StringType)) ++
    Seq("tweetFavoriteCount", "tweetQuoteCount", "tweetReplyCount", "tweetRetweetCount")
      .map(StructField(_, LongType)) ++
    Seq("tweetHashtags", "tweetUserMentions", "tweetMediaURL", "tweetAttachedLinks")
      .map(StructField(_, ArrayType(StringType))))
  val UsersSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("userDateTime", TimestampType),
    StructField("userName", StringType), StructField("userScreenName", StringType),
    StructField("userFollowersCount", LongType), StructField("userFriendsCount", LongType),
    StructField("userVerified", BooleanType), StructField("userProfileImageURL", StringType),
    StructField("userProfileBannerURL", StringType)))

  val Cores = 4
  val BaseTweets = 2000
  val InputFiles = 4
  val ServeClients = 4
  val LiveReaders = 2
  val LiveFresh = 16
  val LiveReposts = 2
  val LiveEdits = 2
  val TracedReads = 3
  val WarmUpSeconds = 8

  /** (BM25 segments, serving-store data files) — the store shape a read sees. */
  def shapeOf(s: Stores): (Int, Int) = {
    val p = Paths.get(s.bm25, "segments")
    val segments =
      if (!Files.isDirectory(p)) 0
      else { val l = Files.list(p); try l.count().toInt finally l.close() }
    segments -> Seq("hashtags", "by_user", "users")
      .map(n => ServingStores.dataFileCount(s"${s.tidx}/$n")).sum
  }

  def dirBytes(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else {
      val st = Files.walk(path)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }
}
