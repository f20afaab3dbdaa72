package graft

import graft.tweets.{TweetNormalize, TweetSchema}
import org.apache.spark.sql.SparkSession
import java.io.{BufferedWriter, FileWriter}
import java.nio.file.Files

/** Throughput benchmark matching the reference's own evaluation shape
  * (Report.pdf §4.1: wall time to preprocess 100–800 MB multiline tweet
  * JSON files; `Tweets_preprocessing.py:615` logs seconds per MB-sized
  * file). Synthesizes a deterministic tweet corpus, then times the full
  * normalize→dedup→hiring pipeline two ways:
  *
  *  - single file — the reference's exact input shape (one JSON array per
  *    2-hour window; multiline JSON parses single-threaded per file);
  *  - split across 16 files — the engine-preferred shape where the parse
  *    parallelizes, isolating how much of the single-file time is the
  *    inherent one-task parse.
  *
  * Usage: sbt "runMain graft.TweetBench [targetMB]"   (default 100)
  */
object TweetBench {

  private def tweetJson(i: Long): String = {
    val hiring = i % 3 == 0
    val text = if (hiring) s"We are hiring engineer number $i apply now"
               else s"status update number $i with nothing actionable"
    val truncated = i % 5 == 0
    val variant = i % 4 // 0,1: original; 2: retweet; 3: quoted
    val user =
      s"""{"id": ${1000 + i % 5000}, "name": "User ${i % 5000}", "screen_name": "user${i % 5000}",
         |"verified": ${i % 7 == 0}, "followers_count": ${i % 10000}, "friends_count": ${i % 500},
         |"profile_image_url": "http://img/${i % 5000}.jpg", "profile_banner_url": null,
         |"profile_background_image_url": null}""".stripMargin
    val entities =
      s"""{"hashtags": [{"text": "tag${i % 50}"}], "user_mentions": [{"screen_name": "m${i % 100}"}],
         |"urls": [{"expanded_url": "https://example.com/$i"}]}""".stripMargin
    val extended =
      s"""{"full_text": "$text plus the extended tail of tweet $i",
         |"entities": $entities,
         |"extended_entities": {"media": [{"media_url": "http://img/m$i.jpg", "type": "photo", "expanded_url": "https://t.co/$i"}]}}""".stripMargin
    val inner =
      f"""{"id": ${5000000L + i}, "created_at": "Thu Oct 21 ${10 + (i % 12)}%02d:${i % 60}%02d:${(i * 7) % 60}%02d +0000 2021",
         |"text": "$text", "truncated": $truncated, "possibly_sensitive": ${if (i % 97 == 0) "true" else "false"},
         |"favorite_count": ${i % 100}, "quote_count": ${i % 10}, "reply_count": ${i % 20}, "retweet_count": ${i % 30},
         |"entities": $entities,
         |"extended_entities": {"media": [{"media_url": "http://img/$i.jpg", "type": "photo", "expanded_url": "https://t.co/i$i"}]},
         |"extended_tweet": ${if (truncated) extended else "null"},
         |"user": $user}""".stripMargin
    val (quoted, retweeted, isQuote) = variant match {
      case 3 => (inner, "null", "true")
      case 2 => ("null", inner, "false")
      case _ => ("null", "null", "false")
    }
    f"""{"id": $i, "created_at": "Thu Oct 21 ${10 + (i % 12)}%02d:${i % 60}%02d:${(i * 13) % 60}%02d +0000 2021",
       |"text": "$text", "truncated": ${variant < 2 && truncated}, "possibly_sensitive": ${if (i % 101 == 0) "true" else "false"},
       |"is_quote_status": $isQuote, "quoted_status_id": ${if (variant == 3) (5000000L + i).toString else "null"},
       |"quoted_status_permalink": ${if (variant == 3) s"""{"expanded": "https://twitter.com/x/status/$i"}""" else "null"},
       |"quoted_status": $quoted, "retweeted_status": $retweeted,
       |"favorite_count": ${i % 50}, "quote_count": ${i % 5}, "reply_count": ${i % 9}, "retweet_count": ${i % 11},
       |"entities": $entities,
       |"extended_entities": {"media": [{"media_url": "http://img/o$i.jpg", "type": "photo", "expanded_url": "https://t.co/o$i"}]},
       |"extended_tweet": ${if (variant < 2 && truncated) extended else "null"},
       |"user": $user}""".stripMargin.replace("\n", " ")
  }

  /** Writes `nTweets` tweets as `nFiles` multiline JSON arrays under
    * `dir`, the remainder of `nTweets / nFiles` spread one per file over
    * the first files, so every layout holds the same tweets. Returns the
    * bytes written.
    */
  private[graft] def writeCorpus(dir: java.io.File, nFiles: Int, nTweets: Long): Long = {
    var bytes = 0L
    var id = 0L
    (0 until nFiles).foreach { f =>
      val perFile = nTweets / nFiles + (if (f < nTweets % nFiles) 1 else 0)
      val file = new java.io.File(dir, s"tweets_${1634810000L + f}.json")
      val w = new BufferedWriter(new FileWriter(file), 1 << 20)
      w.write("[")
      var j = 0L
      while (j < perFile) {
        if (j > 0) w.write(",\n")
        w.write(tweetJson(id))
        id += 1; j += 1
      }
      w.write("]")
      w.close()
      bytes += file.length()
    }
    bytes
  }

  def main(args: Array[String]): Unit = {
    val targetMB = args.headOption.map(_.toInt).getOrElse(100)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nTweets = targetMB.toLong * 1024 * 1024 / 1500 // ~1.5 KB/tweet
    def run(nFiles: Int): (Double, Double, Long) = {
      val dir = Files.createTempDirectory(s"tweetbench_$nFiles").toFile
      try {
        val bytes = writeCorpus(dir, nFiles, nTweets)
        val t0 = System.nanoTime()
        val out = TweetNormalize.process(
          graft.sources.Readers.multilineJson(spark, dir.getAbsolutePath, TweetSchema.raw))
          .count()
        val sec = (System.nanoTime() - t0) / 1e9
        (bytes / 1e6, sec, out)
      } finally graft.util.StoreFs.deleteRecursively(dir.toPath)
    }

    val (mb1, sec1, rows1) = run(1)
    val (mb16, sec16, rows16) = run(16)
    println(f"""{"metric":"tweet_pipeline_mb_per_sec","single_file":{"mb":$mb1%.1f,"sec":$sec1%.2f,"mbps":${mb1 / sec1}%.1f,"rows":$rows1},"files16":{"mb":$mb16%.1f,"sec":$sec16%.2f,"mbps":${mb16 / sec16}%.1f,"rows":$rows16}}""")
    spark.stop()
  }
}
