package graft.search

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.{SparkSpec, SparkWork}
import org.apache.spark.sql.functions._

/** End-to-end HTTP serving: real server on a real port, driven with the
  * JDK HTTP client, responses checked against the reference envelope
  * contract (Handler.java paths/params, Report Table 4 shapes).
  */
class HttpServingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tweets = Seq(
    ("11", "7", "spark is hiring engineers", Seq("jobs"), "2021-03-01T10:00:00Z"),
    ("12", "7", "query engines are fast", Seq("perf"), "2021-03-02T10:00:00Z"),
    ("13", "8", "hello world", Seq("jobs"), "2021-03-03T10:00:00Z")
  ).toDF("id", "userID", "tweetText", "tweetHashtags", "tweetDateTime")

  private lazy val users = Seq(
    ("7", "ada", "Ada L"), ("8", "bob", "Bob D")
  ).toDF("id", "userScreenName", "userName")

  private def withServer(f: Int => Unit): Unit = {
    val server = HttpServing.start(0, HttpServing.referenceRoutes(tweets, users))
    try f(server.getAddress.getPort)
    finally server.stop(0)
  }

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, pathAndQuery: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$pathAndQuery")).build(),
      HttpResponse.BodyHandlers.ofString())

  private def json(body: String, path: String): String = {
    val row = Seq(body).toDF("j")
      .select(get_json_object(col("j"), path)).head()
    if (row.isNullAt(0)) null else row.getString(0)
  }

  test("requests racing store maintenance serve the old generation or " +
      "the error envelope — never a mixed generation — and the first " +
      "request after the swap succeeds (round-12 verdict item 6)") {
    val tidx = java.nio.file.Files.createTempDirectory("graft-http-maint").toString
    HttpServing.buildTweetIndex(tweets, users, tidx)
    ServingStores.appendPostings(
      Seq(("14", "7", "more jobs news", Seq("jobs"), "2021-03-04T10:00:00Z"))
        .toDF("id", "userID", "tweetText", "tweetHashtags", "tweetDateTime"),
      col("tweetHashtags"), s"$tidx/hashtags")
    val server = HttpServing.start(0, HttpServing.referenceRoutes(
      tweets, users, tweetIndexDir = Some(tidx)))
    try {
      val port = server.getAddress.getPort
      val before = get(port, "/api/search/hashtag?tag=jobs").body()
      assert(json(before, "$.count") == "3")
      var duringTmp: String = null
      ServingStores.testHookBeforeCommit = d => if (d.endsWith("/hashtags")) {
        // fold staged, commit not yet published: a racing request serves
        // the complete OLD generation
        duringTmp = get(port, "/api/search/hashtag?tag=jobs").body()
      }
      try ServingStores.compact(spark, s"$tidx/hashtags")
      finally ServingStores.testHookBeforeCommit = _ => ()
      assert(duringTmp == before, "mid-maintenance request diverged from the old generation")
      // first request after the commit: the new generation, same rows
      assert(get(port, "/api/search/hashtag?tag=jobs").body() == before,
        "first request after the swap must serve the full new generation")
      // a store that lost its commit log answers with the reference
      // error envelope — HTTP 200, status_code 500 — and the 500's cause
      // is logged, naming the route and the missing `_manifest`
      graft.util.StoreFs.deleteRecursively(
        java.nio.file.Paths.get(tidx, "hashtags", "_manifest"))
      val err = new java.io.ByteArrayOutputStream()
      val stderr = System.err
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      val broken =
        try get(port, "/api/search/hashtag?tag=jobs").body()
        finally System.setErr(stderr)
      val logged = err.toString("UTF-8")
      assert(json(broken, "$.status_code") == "500", broken)
      assert(logged.contains("[httpserving] /api/search/hashtag failed: ") &&
        logged.contains("_manifest"), s"cause not logged: '$logged'")
    } finally server.stop(0)
  }

  test("hashtag requests before, inside and after a compact of the " +
      "hashtag store all serve a complete generation; none fails") {
    val tidx = java.nio.file.Files.createTempDirectory("graft-http-commit").toString
    HttpServing.buildTweetIndex(tweets, users, tidx)
    ServingStores.appendPostings(
      Seq(("14", "7", "more jobs news", Seq("jobs"), "2021-03-04T10:00:00Z"))
        .toDF("id", "userID", "tweetText", "tweetHashtags", "tweetDateTime"),
      col("tweetHashtags"), s"$tidx/hashtags")
    val server = HttpServing.start(0, HttpServing.referenceRoutes(
      tweets, users, tweetIndexDir = Some(tidx)))
    try {
      val port = server.getAddress.getPort
      def request() = get(port, "/api/search/hashtag?tag=jobs")
      val before = request()
      assert(before.statusCode() == 200 && json(before.body(), "$.count") == "3")
      // a request inside every file move and every manifest create the
      // compaction makes — each step a reader could race
      val inside = scala.collection.mutable.Buffer[HttpResponse[String]]()
      val requesting = new graft.util.DelegatingFs {
        private def race(): Unit = inside.synchronized(inside += request())
        override def createExclusive(p: java.nio.file.Path, c: String): Unit = {
          race(); super.createExclusive(p, c); race()
        }
        override def move(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
          race(); super.move(src, dst); race()
        }
        override def deleteIfExists(p: java.nio.file.Path): Unit = {
          race(); super.deleteIfExists(p); race()
        }
      }
      graft.util.StoreFs.withFs(requesting)(
        ServingStores.compact(spark, s"$tidx/hashtags"))
      val after = request()
      val all = before +: inside.toSeq :+ after
      assert(inside.size >= 4, s"the compaction raced only ${inside.size} requests")
      val failed = all.filterNot(r => r.statusCode() == 200 &&
        json(r.body(), "$.status_code") == "200" && r.body() == before.body())
      assert(failed.isEmpty, s"${failed.size} of ${all.size} requests " +
        s"failed or served a partial generation: ${failed.map(_.body())}")
    } finally server.stop(0)
  }

  test("keyword requests before, inside and after a compact of the BM25 " +
      "index all serve the pre-compaction envelope; none fails") {
    val bm25 = java.nio.file.Files.createTempDirectory("graft-http-bm25commit").toString
    BM25Index.build(tweets.filter(col("id") =!= "12"), "id", "tweetText", bm25)
    BM25Index.appendSegment(tweets.filter(col("id") === "12"), "id", "tweetText",
      bm25, "seg-00001")
    val server = HttpServing.start(0, HttpServing.referenceRoutes(
      tweets, users, bm25IndexDir = Some(bm25)))
    try {
      val port = server.getAddress.getPort
      def request() = get(port, "/api/search/query?query=spark%20engines")
      val before = request()
      assert(before.statusCode() == 200 && json(before.body(), "$.count") == "2")
      // a request inside every file move, manifest create and delete the
      // compaction makes — each step a reader could race
      val inside = scala.collection.mutable.Buffer[HttpResponse[String]]()
      val requesting = new graft.util.DelegatingFs {
        private def race(): Unit = inside.synchronized(inside += request())
        override def createExclusive(p: java.nio.file.Path, c: String): Unit = {
          race(); super.createExclusive(p, c); race()
        }
        override def move(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
          race(); super.move(src, dst); race()
        }
        override def deleteIfExists(p: java.nio.file.Path): Unit = {
          race(); super.deleteIfExists(p); race()
        }
      }
      graft.util.StoreFs.withFs(requesting)(BM25Index.compact(spark, bm25))
      assert(BM25Index.segments(bm25).isEmpty, "the compaction committed nothing")
      val after = request()
      val all = before +: inside.toSeq :+ after
      assert(inside.size >= 4, s"the compaction raced only ${inside.size} requests")
      val failed = all.filterNot(r => r.statusCode() == 200 &&
        json(r.body(), "$.status_code") == "200" && r.body() == before.body())
      assert(failed.isEmpty, s"${failed.size} of ${all.size} requests " +
        s"failed or served a different generation: ${failed.map(_.body())}")
    } finally server.stop(0)
  }

  test("GET /api/search/query serves the keyword envelope over HTTP") {
    withServer { port =>
      val resp = get(port, "/api/search/query?query=spark%20engines")
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").get() == "application/json")
      assert(resp.headers().firstValue("Access-Control-Allow-Origin").get() == "*")
      val body = resp.body()
      assert(json(body, "$.status_code") == "200")
      assert(json(body, "$.message") == "Success")
      assert(json(body, "$.count") == "2")
      // both hits mention a term; best-ranked first
      assert(Set("11", "12").contains(json(body, "$.data[0].tweet.tweet_id")))
      assert(json(body, "$.data[0].user.userScreenName") == "ada")
    }
  }

  test("GET /api/search/hashtag serves id-ordered matches") {
    withServer { port =>
      val body = get(port, "/api/search/hashtag?tag=jobs").body()
      assert(json(body, "$.count") == "2")
      assert(json(body, "$.data[0].tweet.id") == "11")
      assert(json(body, "$.data[1].tweet.id") == "13")
      assert(json(body, "$.data[1].user.userScreenName") == "bob")
    }
  }

  test("GET /api/search/user serves one user plus newest-first timeline") {
    withServer { port =>
      val body = get(port, "/api/search/user?id=ada").body()
      assert(json(body, "$.user.userScreenName") == "ada")
      assert(json(body, "$.count") == "2")
      assert(json(body, "$.tweets[0].tweet_id") == "12") // newest first
      assert(json(body, "$.tweets[1].tweet_id") == "11")
      assert(json(body, "$.status_code") == "200")
    }
  }

  test("indexed keyword route: postings-store plan, byte-identical envelope") {
    val dir = java.nio.file.Files.createTempDirectory("graft-http-bm25").toString
    BM25Index.build(tweets, "id", "tweetText", dir)
    // the scoring reads the pruned postings store on the driver — it
    // opens index files only, and no tokenize (Generate/explode) is left
    // anywhere in the request plan
    val (indexed, opened) = graft.util.LocalScan.opened(
      Collections.keywordSearchIndexed(tweets, users, dir,
        Seq("spark", "engines"), k = 10))
    assert(opened.exists(_.startsWith(s"$dir/postings/tb=")),
      s"the top-k must read the postings store: $opened")
    assert(opened.forall(f => Seq("postings/tb=", "termstats/tb=", "corpus/")
      .exists(t => f.startsWith(s"$dir/$t"))), s"read beyond the index: $opened")
    val plan = indexed.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), "served plan must not tokenize the corpus")
    // byte-identical envelopes: ad-hoc server vs indexed server
    val adhoc = HttpServing.start(0, HttpServing.referenceRoutes(tweets, users))
    val served = HttpServing.start(0,
      HttpServing.referenceRoutes(tweets, users, bm25IndexDir = Some(dir)))
    try {
      val q = "/api/search/query?query=spark%20engines"
      val a = get(adhoc.getAddress.getPort, q).body()
      val b = get(served.getAddress.getPort, q).body()
      assert(a == b, "served envelope must be byte-identical to ad hoc")
      assert(json(b, "$.status_code") == "200")
      assert(json(b, "$.count") == "2")
    } finally { adhoc.stop(0); served.stop(0) }
  }

  test("stored hashtag/user routes: bucket-pruned probe plans, " +
      "byte-identical envelopes (round-10 verdict item 7)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-http-tidx").toString
    HttpServing.buildTweetIndex(tweets, users, dir)
    // the probe opens exactly the files of the tag's ONE bucket of the
    // posting store — nothing of the corpus
    val bucket = spark.read.parquet(dir + "/hashtags")
      .filter(col("__key") === "jobs").select(col("__bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(bucket.size == 1, s"'jobs' was written to buckets $bucket")
    val (probe, opened) = graft.util.LocalScan.opened(
      ServingStores.postingProbe(spark, dir + "/hashtags", "jobs"))
    assert(probe.count() == 2)
    assert(opened.nonEmpty &&
      opened.forall(_.startsWith(s"$dir/hashtags/__bucket=${bucket.head}/")) &&
      opened.size == ServingStores.bucketFileCount(dir + "/hashtags", bucket.head),
      s"the hashtag probe did not open exactly bucket ${bucket.head}: $opened")
    // byte-identical envelopes across both non-keyword routes, incl.
    // empty-match and unknown-user error shapes
    val adhoc = HttpServing.start(0, HttpServing.referenceRoutes(tweets, users))
    val served = HttpServing.start(0,
      HttpServing.referenceRoutes(tweets, users, tweetIndexDir = Some(dir)))
    try {
      for (q <- Seq("/api/search/hashtag?tag=jobs",
          "/api/search/hashtag?tag=perf",
          "/api/search/hashtag?tag=nosuch",
          "/api/search/user?id=ada",
          "/api/search/user?id=bob",
          "/api/search/user?id=nobody")) {
        val a = get(adhoc.getAddress.getPort, q).body()
        val b = get(served.getAddress.getPort, q).body()
        assert(a == b, s"$q: served envelope differs from ad hoc")
      }
    } finally { adhoc.stop(0); served.stop(0) }
  }

  test("stored user route serves every user holding the screen name, " +
      "byte-equal to the ad-hoc route") {
    val shared = Seq(
      ("21", "7", "first ada's post", Seq("jobs"), "2021-03-01T10:00:00Z"),
      ("22", "9", "second ada's post", Seq("jobs"), "2021-03-02T10:00:00Z"),
      ("23", "8", "bob's post", Seq("perf"), "2021-03-03T10:00:00Z")
    ).toDF("id", "userID", "tweetText", "tweetHashtags", "tweetDateTime")
    val sharedUsers = Seq(
      ("7", "ada", "Ada L"), ("9", "ada", "Ada K"), ("8", "bob", "Bob D")
    ).toDF("id", "userScreenName", "userName")
    val dir = java.nio.file.Files.createTempDirectory("graft-http-shared").toString
    HttpServing.buildTweetIndex(shared, sharedUsers, dir)
    val stored = HttpServing.referenceRoutes(shared, sharedUsers,
      tweetIndexDir = Some(dir))("/api/search/user")(Map("id" -> "ada"))
    val adhoc = HttpServing.referenceRoutes(shared, sharedUsers)(
      "/api/search/user")(Map("id" -> "ada"))
    assert(json(adhoc, "$.count") == "2", adhoc)
    assert(stored == adhoc)
  }

  test("every stored route runs on the driver: 0 Spark jobs and 0 tasks " +
      "per read, byte-equal to the ad-hoc route — hits, no match and " +
      "unknown users") {
    // a stored read also runs no SQL execution: no Dataset action at all
    val n = 600
    val manyTweets = (1 to n).map(i => (i.toString, (i % 500 + 1).toString,
        s"spark job post $i", Seq(s"t$i", s"t${i + n}", "jobs"),
        f"2021-03-${i % 28 + 1}%02dT10:00:00Z"))
      .toDF("id", "userID", "tweetText", "tweetHashtags", "tweetDateTime")
    // user 501 holds no tweet: a known user with an empty timeline
    val manyUsers = (1 to 501).map(i => (i.toString, s"user$i", s"User $i"))
      .toDF("id", "userScreenName", "userName")
    val root = java.nio.file.Files.createTempDirectory("graft-http-driver")
    val tidx = root.resolve("tidx").toString
    val bm25 = root.resolve("bm25").toString
    HttpServing.buildTweetIndex(manyTweets, manyUsers, tidx)
    BM25Index.build(manyTweets, "id", "tweetText", bm25)
    val stored = HttpServing.referenceRoutes(manyTweets, manyUsers,
      bm25IndexDir = Some(bm25), tweetIndexDir = Some(tidx))
    val adhoc = HttpServing.referenceRoutes(manyTweets, manyUsers)
    val reads = Seq(
      "/api/search/query" -> ("query" -> "spark job", "10"),
      "/api/search/query" -> ("query" -> "post 77", "10"),
      "/api/search/query" -> ("query" -> "nosuchterm", "0"),
      "/api/search/hashtag" -> ("tag" -> "t7", "1"),
      "/api/search/hashtag" -> ("tag" -> "jobs", "600"),
      "/api/search/hashtag" -> ("tag" -> "nosuch", "0"),
      "/api/search/user" -> ("id" -> "user7", "2"),
      "/api/search/user" -> ("id" -> "user501", null),
      "/api/search/user" -> ("id" -> "nobody", null))
    reads.foreach { case (path, ((k, v), count)) =>
      val read = SparkWork(spark.sparkContext)(stored(path)(Map(k -> v)))
      assert(read.jobs == 0 && read.tasks == 0 && read.sqlExecutions == 0,
        s"$path?$k=$v ran ${read.jobs} jobs, ${read.tasks} tasks and " +
          s"${read.sqlExecutions} SQL executions")
      assert(json(read.result, "$.count") == count, read.result)
      assert(read.result == adhoc(path)(Map(k -> v)),
        s"$path?$k=$v: stored envelope differs from ad hoc")
    }
  }

  test("4 threads calling the three stored routes over many keys at once " +
      "serve envelopes byte-equal to the ad-hoc routes") {
    val n = 120
    val manyTweets = (1 to n).map(i => (i.toString, (i % 30 + 1).toString,
        s"spark job post $i word${i % 9}", Seq(s"t${i % 17}", "jobs"),
        f"2021-03-${i % 28 + 1}%02dT10:00:00Z"))
      .toDF("id", "userID", "tweetText", "tweetHashtags", "tweetDateTime")
    val manyUsers = (1 to 31).map(i => (i.toString, s"user$i", s"User $i"))
      .toDF("id", "userScreenName", "userName")
    val root = java.nio.file.Files.createTempDirectory("graft-http-threads")
    val tidx = root.resolve("tidx").toString
    val bm25 = root.resolve("bm25").toString
    HttpServing.buildTweetIndex(manyTweets, manyUsers, tidx)
    BM25Index.build(manyTweets, "id", "tweetText", bm25)
    val stored = HttpServing.referenceRoutes(manyTweets, manyUsers,
      bm25IndexDir = Some(bm25), tweetIndexDir = Some(tidx))
    val adhoc = HttpServing.referenceRoutes(manyTweets, manyUsers)
    val reads = (0 until 9).map(w => "/api/search/query" -> ("query" -> s"word$w post")) ++
      (0 until 17).map(t => "/api/search/hashtag" -> ("tag" -> s"t$t")) ++
      Seq("/api/search/hashtag" -> ("tag" -> "jobs")) ++
      (1 to 32).map(u => "/api/search/user" -> ("id" -> s"user$u"))
    val expected = reads.map { case (path, (k, v)) => adhoc(path)(Map(k -> v)) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // the first pass decodes the stores' row groups as the threads meet
    // them; the second serves every read from the kept rows
    try for (pass <- Seq("cold", "warm")) withClue(s"$pass row cache: ") {
      // every thread walks every read, each from its own offset, so the
      // three routes and their shared expressions run side by side
      val served = (0 until 4).map { t =>
        pool.submit(() => reads.indices.map { j =>
          val i = (j + t * reads.size / 4) % reads.size
          val (path, (k, v)) = reads(i)
          i -> stored(path)(Map(k -> v))
        })
      }.flatMap(_.get())
      assert(served.size == 4 * reads.size)
      served.foreach { case (i, body) =>
        assert(body == expected(i), s"${reads(i)}: stored envelope under 4 threads " +
          s"differs from ad hoc:\n$body\n${expected(i)}")
      }
    } finally pool.shutdown()
  }

  /** Tweets `ids` by `nUsers` users: tweet `i` is tagged `t<i % 11>` and
    * `mark`, and its text ends in `mark`.
    */
  private def tweetsOf(ids: Seq[Int], nUsers: Int, mark: String) =
    ids.map(i => (i.toString, (i % nUsers + 1).toString, s"spark job post $i word${i % 7} $mark",
        Seq(s"t${i % 11}", mark), f"2021-03-${i % 28 + 1}%02dT${i % 24}%02d:00:00Z"))
      .toDF("id", "userID", "tweetText", "tweetHashtags", "tweetDateTime")

  private def usersOf(ids: Seq[Int], name: Int => String) =
    ids.map(i => (i.toString, s"user$i", name(i))).toDF("id", "userScreenName", "userName")

  test("a stored read repeated past its second read decodes no row: the " +
      "timeline probe, the BM25 top-k and every stored route serve the same " +
      "rows from the row groups the second read kept") {
    val tweets = tweetsOf(1 to 120, 30, "v1")
    val users = usersOf(1 to 31, i => s"User $i")
    val root = java.nio.file.Files.createTempDirectory("graft-http-kept")
    val (tidx, bm25) = (root.resolve("tidx").toString, root.resolve("bm25").toString)
    HttpServing.buildTweetIndex(tweets, users, tidx)
    BM25Index.build(tweets, "id", "tweetText", bm25)
    def plain(t: graft.util.LocalScan.Table) = t.schema.fieldNames.toSeq.map(t.values)
    // a range read once streams; read again soon after, its rows are kept
    def repeated[A](what: String)(read: => A): Unit = {
      val (first, cold) = graft.util.LocalScan.reads(read)
      val (second, _) = graft.util.LocalScan.reads(read)
      val (third, warm) = graft.util.LocalScan.reads(read)
      assert(cold.decoded > 0, s"$what: the first read decoded nothing: $cold")
      assert(warm.decoded == 0, s"$what: the third read decoded ${warm.decoded} rows")
      assert(warm.files == cold.files && warm.rows == cold.rows, s"$what: $cold, then $warm")
      assert(second == first && third == first, s"$what: a repeated read differs:\n$second\n$third\n$first")
    }
    repeated("timeline probe")(ServingStores.timelineProbe(spark, s"$tidx/by_user", "userID", "7")
      .collect().toSeq)
    repeated("BM25 top-k")(plain(BM25Index.topKRows(spark, bm25, Seq("word3", "post"), 10)))
    // each route first reads a store the reads above left untouched
    val stored = HttpServing.referenceRoutes(tweets, users,
      bm25IndexDir = Some(bm25), tweetIndexDir = Some(tidx))
    val adhoc = HttpServing.referenceRoutes(tweets, users)
    for ((path, (k, v)) <- Seq("/api/search/query" -> ("query" -> "word5 job"),
        "/api/search/hashtag" -> ("tag" -> "t4"), "/api/search/user" -> ("id" -> "user9"))) {
      repeated(s"$path?$k=$v")(stored(path)(Map(k -> v)))
      assert(stored(path)(Map(k -> v)) == adhoc(path)(Map(k -> v)), s"$path?$k=$v")
    }
  }

  test("a warm row cache never serves a stale or missing row: after an " +
      "append, an upsert, a compaction with reclaim and a rebuild, every " +
      "stored route is byte-equal to the ad-hoc route") {
    var tweets = tweetsOf(1 to 80, 20, "v1")
    var users = usersOf(1 to 20, i => s"User $i")
    val root = java.nio.file.Files.createTempDirectory("graft-http-stale")
    val (tidx, bm25) = (root.resolve("tidx").toString, root.resolve("bm25").toString)
    HttpServing.buildTweetIndex(tweets, users, tidx)
    BM25Index.build(tweets, "id", "tweetText", bm25)
    val reads = Seq("spark job", "word3 post", "edited", "v2 word1").map(q =>
        "/api/search/query" -> ("query" -> q)) ++
      Seq("t0", "t4", "t9", "v1", "v2", "nosuch").map(t => "/api/search/hashtag" -> ("tag" -> t)) ++
      Seq(1, 3, 7, 12, 21, 22).map(u => "/api/search/user" -> ("id" -> s"user$u")) ++
      Seq("/api/search/user" -> ("id" -> "nobody"))
    // every stored route, byte-equal to the ad-hoc route over the corpus
    // as it now stands; reading each twice also keeps its ranges for the
    // next step
    def check(step: String): Unit = {
      val stored = HttpServing.referenceRoutes(tweets, users,
        bm25IndexDir = Some(bm25), tweetIndexDir = Some(tidx))
      val adhoc = HttpServing.referenceRoutes(tweets, users)
      reads.foreach { case (path, (k, v)) =>
        val a = adhoc(path)(Map(k -> v))
        for (read <- 1 to 2) {
          val b = stored(path)(Map(k -> v))
          assert(b == a, s"after $step, $path?$k=$v (read $read): stored envelope differs " +
            s"from ad hoc:\n$b\n$a")
        }
      }
    }
    check("the build")
    // new tweets, two of them by new users
    val added = tweetsOf(81 to 100, 22, "v1")
    val newUsers = usersOf(21 to 22, i => s"User $i")
    HttpServing.appendTweetIndex(added, newUsers, tidx)
    BM25Index.appendSegment(added, "id", "tweetText", bm25, "seg-00001")
    tweets = tweets.unionByName(added)
    users = users.unionByName(newUsers)
    check("an append")
    // edited tweets (new text, tags and time) and renamed users: tombstones
    // in every store; the index's scores refresh only at its compaction
    val edited = tweetsOf(Seq(5, 50, 90), 22, "v2").withColumn("tweetText",
      concat(col("tweetText"), lit(" edited")))
    val renamed = usersOf(Seq(3, 21), i => s"User $i renamed")
    HttpServing.upsertTweetIndex(edited, renamed, tidx)
    BM25Index.upsertSegment(edited, "id", "tweetText", bm25, "edit-00001")
    BM25Index.compact(spark, bm25)
    tweets = Collections.upsert(tweets, edited, "id")
    users = Collections.upsert(users, renamed, "id")
    check("an upsert")
    HttpServing.compactTweetIndex(spark, tidx)
    assert(StoreAdmin.reclaim(tidx).nonEmpty && StoreAdmin.reclaim(bm25).nonEmpty)
    check("a compaction and reclaim")
    // a rebuild over the existing manifest: the next version, new files
    users = users.withColumn("userName", concat(col("userName"), lit(" rebuilt")))
    ServingStores.buildTimeline(users, "id", s"$tidx/users_by_id",
      buckets = ServingStores.bucketsFor(users))
    check("a rebuild")
  }

  test("missing params and unknown users return the error envelope, HTTP 200") {
    withServer { port =>
      // the reference embeds errors in the body and always answers 200
      val noQ = get(port, "/api/search/query")
      assert(noQ.statusCode() == 200)
      assert(json(noQ.body(), "$.status_code") == "500")
      assert(json(noQ.body(), "$.message") == "Internal Server Error")
      val noUser = get(port, "/api/search/user?id=nobody")
      assert(json(noUser.body(), "$.status_code") == "500")
    }
  }
}
