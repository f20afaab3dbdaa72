package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale
import java.util.regex.Pattern

import scala.collection.mutable
import scala.util.Random

import graft.tweets.TweetNormalize

/** Seeded synthetic tweet corpus for the product benchmark.
  *
  * Texts draw words from a Zipf vocabulary (so keyword queries hit
  * anything from one document to most of the corpus), and every document
  * carries a unique reference-code token, which makes edits and
  * near-duplicate reposts observable through the keyword route. The raw
  * observations cover all six original/retweet/quote × truncated shapes
  * the normalizer flattens, plus sensitive rows (wrapper- and
  * tweet-level) and repeated observations of popular originals.
  *
  * Vocabulary words are consonant-vowel syllable strings: no such string
  * can contain any of the hiring-filter phrases, so whether a text passes
  * the filter is decided by its template alone. The expected outputs are
  * computed here from the raw observations with plain Scala (keep the
  * latest non-sensitive observation of each tweet, then apply the hiring
  * regex), never through Spark.
  */
object Corpus {

  private val Syllables: IndexedSeq[String] =
    for (c <- "bdgklmnprstvz"; v <- "aeiu") yield s"$c$v"

  /** The `i`-th syllable word: bijective, two syllables first, then
    * three, and so on — distinct for distinct `i`, always even length.
    */
  def word(i: Int): String = {
    var n = i.toLong; var len = 2; var cap = 52L * 52
    while (n >= cap) { n -= cap; len += 1; cap *= 52 }
    val sb = new StringBuilder
    (0 until len).foreach { _ =>
      sb.append(Syllables((n % 52).toInt)); n /= 52
    }
    sb.toString
  }

  /** Hashtag and reference-code namespaces: odd length, so they never
    * collide with vocabulary words.
    */
  def tag(i: Int): String = "t" + word(i)
  def refCode(i: Int): String = "r" + word(i)

  val Roles: IndexedSeq[String] = IndexedSeq("engineer", "designer",
    "analyst", "nurse", "courier", "teacher", "chef", "accountant",
    "developer", "technician")
  val Companies: IndexedSeq[String] = IndexedSeq("acme", "globex",
    "initech", "umbrella", "hooli", "vandelay", "stark", "wayne")

  /** `(template, passes the hiring filter)`; `%r` = role, `%c` = company. */
  val Templates: IndexedSeq[(String, Boolean)] = IndexedSeq(
    "we are hiring a %r" -> true,
    "%c is hiring %r" -> true,
    "now hiring %r" -> true,
    "apply now %r wanted at %c" -> true,
    "join us as a %r" -> true,
    "still hiring %r for %c" -> true,
    "%c %r story" -> false,
    "a day with a %r" -> false,
    "%c news for every %r" -> false)

  val Stopwords: Seq[String] = Seq("a", "as", "we", "are", "is", "now", "us",
    "at", "for", "with")
  val TrendingK = 50

  private val Hiring: Pattern = Pattern.compile(
    TweetNormalize.HiringTerms.map(_.toLowerCase).mkString("|"))

  /** The normalizer's hiring predicate, evaluated in plain Java regex. */
  def isHiring(text: String): Boolean =
    Hiring.matcher(text.toLowerCase.replace('’', '\'')).find()

  /** BM25's query/document analyzer: lowercase, strip non-alphanumerics. */
  def analyze(text: String): Seq[String] =
    text.toLowerCase.replaceAll("[^a-z0-9\\s]", "").split("\\s+")
      .filter(_.nonEmpty).toSeq

  /** Zipf(s = 1) sampler over ranks `0 until n`. */
  final class Zipf(n: Int) {
    require(n > 0, "Zipf over an empty key set")
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / (r + 1))
      var acc = 0.0
      w.map { x => acc += x; acc }.map(_ / acc)
    }
    def draw(rnd: Random): Int = at(rnd.nextDouble())
    /** The rank at cumulative probability `u` in [0, 1). */
    def at(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  final case class User(idx: Int) {
    def id: Long = 100000L + idx
    def screenName: String = s"u$idx"
    def json: String =
      s"""{"id": $id, "name": "User $idx", "screen_name": "$screenName", """ +
        s""""verified": ${idx % 13 == 0}, "followers_count": ${idx * 37 % 9000}, """ +
        s""""friends_count": ${idx * 11 % 700}, """ +
        s""""profile_image_url": "http://img.example/u$idx.jpg", """ +
        s""""profile_banner_url": null, "profile_background_image_url": null}"""
  }

  /** One original tweet (the unit the collections keep). */
  final case class Tweet(id: Long, user: Int, fullText: String, ref: String,
                         truncated: Boolean, tags: Vector[String],
                         media: Boolean, created: Long, sensitive: Boolean) {
    def hiring: Boolean = isHiring(fullText)
  }

  /** One raw observation: the tweet itself (kind 0), a retweet of it
    * (kind 1) or a quote of it (kind 2), sampled at `time`.
    */
  final case class Obs(sampId: Long, time: Long, tweet: Int, kind: Int,
                       wrapperUser: Int, wrapperSensitive: Boolean)

  /** One NDJSON live batch and what the stores must do with it: `fresh`
    * are the new tweets that must be served, `reposts` must be dropped by
    * the near-dup gate, `edits` are (old, new) versions of one id.
    */
  final case class LiveBatch(lines: Seq[String], fresh: Seq[Tweet],
                             reposts: Seq[Tweet], edits: Seq[(Tweet, Tweet)])

  /** What the batch pipeline must produce from the corpus. */
  final case class Expected(kept: Int, users: Int, tagPostings: Long,
                            favoriteSum: Long, trending: Seq[(String, Long)])

  /** Keys the stored routes actually serve, most frequent first. */
  final case class Keys(terms: IndexedSeq[String], tags: IndexedSeq[String],
                        screenNames: IndexedSeq[String])

  private val CreatedFmt = DateTimeFormatter
    .ofPattern("EEE MMM dd HH:mm:ss '+0000' yyyy", Locale.US)
    .withZone(ZoneOffset.UTC)
  def createdAt(epochSec: Long): String =
    CreatedFmt.format(Instant.ofEpochSecond(epochSec))

  private val BaseEpoch = 1634774400L // 2021-10-21T00:00:00Z

  def favorites(t: Tweet, o: Obs): Long = (o.time - t.created) / 60 + t.id % 7

  private def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def entities(tags: Seq[String], mention: Option[String],
                       url: Option[String]): String =
    s"""{"hashtags": [${tags.map(t => s"""{"text": ${jsonStr(t)}}""").mkString(", ")}], """ +
      s""""user_mentions": [${mention.map(m => s"""{"screen_name": ${jsonStr(m)}}""").mkString}], """ +
      s""""urls": [${url.map(u => s"""{"expanded_url": ${jsonStr(u)}}""").mkString}]}"""

  private def media(t: Tweet, tagChar: String): String =
    if (!t.media) "null"
    else s"""{"media": [{"media_url": "http://img.example/$tagChar${t.id}.jpg", """ +
      s""""type": "photo", "expanded_url": "https://t.example/$tagChar${t.id}"}]}"""

  /** The tweet's own JSON fields (no quote/retweet envelope). A truncated
    * tweet keeps only a prefix in `text` and its entities (hashtags) in
    * `extended_tweet`, so reading the wrong branch loses both.
    */
  def mention(t: Tweet): String = s"u${(t.user * 7 + 3) % 997}"
  def url(t: Tweet): Option[String] =
    if (t.id % 3 == 0) Some(s"https://jobs.example/${t.id}") else None
  /** The media URL the normalizer reads: the extended entities' for a
    * truncated tweet, the top-level ones' otherwise.
    */
  def mediaUrl(t: Tweet): String =
    s"http://img.example/${if (t.truncated) "x" else "m"}${t.id}.jpg"

  private def tweetFields(t: Tweet, fav: Long, sensitive: Boolean): String = {
    val users = User(t.user)
    val (text, ents, ext) =
      if (t.truncated) {
        val prefix = t.fullText.split(' ').take(4).mkString(" ") + "..."
        (prefix, entities(Nil, None, None),
          s"""{"full_text": ${jsonStr(t.fullText)}, "entities": ${entities(t.tags, Some(mention(t)), url(t))}, """ +
            s""""extended_entities": ${media(t, "x")}}""")
      } else (t.fullText, entities(t.tags, Some(mention(t)), url(t)), "null")
    s""""id": ${t.id}, "created_at": "${createdAt(t.created)}", "text": ${jsonStr(text)}, """ +
      s""""truncated": ${t.truncated}, "possibly_sensitive": $sensitive, """ +
      s""""favorite_count": $fav, "quote_count": ${t.id % 5}, "reply_count": ${t.id % 9}, """ +
      s""""retweet_count": ${fav / 2}, "entities": $ents, """ +
      s""""extended_entities": ${media(t, "m")}, "extended_tweet": $ext, "user": ${users.json}"""
  }

  /** One raw observation as a single-line JSON object. */
  def obsJson(t: Tweet, o: Obs): String = {
    val fav = favorites(t, o)
    o.kind match {
      case 0 =>
        s"""{${tweetFields(t, fav, t.sensitive)}, "is_quote_status": false, """ +
          s""""quoted_status_id": null, "quoted_status_permalink": null, """ +
          s""""quoted_status": null, "retweeted_status": null}"""
      case k =>
        val inner = s"{${tweetFields(t, fav, t.sensitive)}}"
        val w = User(o.wrapperUser)
        val quote = k == 2
        val text =
          if (quote) s"look at this ${word(o.wrapperUser % 40)}"
          else s"RT @${User(t.user).screenName}: ${t.fullText.split(' ').take(5).mkString(" ")}"
        s"""{"id": ${o.sampId}, "created_at": "${createdAt(o.time)}", "text": ${jsonStr(text)}, """ +
          s""""truncated": false, "possibly_sensitive": ${o.wrapperSensitive}, """ +
          s""""favorite_count": 0, "quote_count": 0, "reply_count": 0, "retweet_count": 0, """ +
          s""""entities": ${entities(Nil, None, None)}, "extended_entities": null, """ +
          s""""extended_tweet": null, "user": ${w.json}, "is_quote_status": $quote, """ +
          s""""quoted_status_id": ${if (quote) t.id.toString else "null"}, """ +
          s""""quoted_status_permalink": ${if (quote) s"""{"expanded": "https://twitter.example/${User(t.user).screenName}/status/${t.id}"}""" else "null"}, """ +
          s""""quoted_status": ${if (quote) inner else "null"}, """ +
          s""""retweeted_status": ${if (quote) "null" else inner}}"""
    }
  }

  /** A multiline-JSON input file body: one JSON array of observations. */
  def jsonArray(lines: Seq[String]): String = lines.mkString("[\n", ",\n", "\n]\n")
}

/** The generated corpus for one seed: the batch-ingest input (raw
  * observations), its expected pipeline outputs, the served keys requests
  * are drawn from, and a generator of live-ingest batches.
  */
final class Corpus(val seed: Long, val nTweets: Int, val nUsers: Int = 900,
                   val vocab: Int = 2500, val nTags: Int = 300) {
  import Corpus._

  private val rnd = new Random(seed)
  private val words = new Zipf(vocab)
  private val tagZipf = new Zipf(nTags)
  private val userZipf = new Zipf(nUsers)

  private def textFor(template: String, ref: String, r: Random): String = {
    val role = Roles(r.nextInt(Roles.size))
    val company = Companies(r.nextInt(Companies.size))
    val head = template.replace("%r", role).replace("%c", company)
    val body = Seq.fill(6 + r.nextInt(7))(word(words.draw(r)))
    (head +: body :+ ref).mkString(" ")
  }

  private def tagsFor(r: Random): Vector[String] =
    if (r.nextDouble() < 0.2) Vector.empty
    else Vector.fill(1 + r.nextInt(2))(tag(tagZipf.draw(r))).distinct

  val tweets: IndexedSeq[Tweet] = (0 until nTweets).map { i =>
    val template = Templates(rnd.nextInt(Templates.size))._1
    Tweet(id = 1400000000000000000L + i * 17L, user = userZipf.draw(rnd),
      fullText = textFor(template, refCode(i), rnd), ref = refCode(i),
      truncated = rnd.nextDouble() < 0.4, tags = tagsFor(rnd),
      media = rnd.nextDouble() < 0.3, created = BaseEpoch + i * 60L + rnd.nextInt(60),
      sensitive = rnd.nextDouble() < 0.03)
  }

  /** Every raw observation, shuffled: each tweet is seen once as itself,
    * a retweet or a quote, and a tenth of them ("popular") are seen 1–4
    * more times as later retweets/quotes.
    */
  val observations: IndexedSeq[Obs] = {
    var samp = 1500000000000000000L
    def next(): Long = { samp += 1 + rnd.nextInt(5); samp }
    val all = tweets.indices.flatMap { i =>
      val t = tweets(i)
      val first = rnd.nextDouble() match {
        case x if x < 0.5 => Obs(t.id, t.created, i, 0, 0, wrapperSensitive = false)
        case x => Obs(next(), t.created + 1 + rnd.nextInt(3600), i,
          if (x < 0.8) 1 else 2, rnd.nextInt(nUsers), rnd.nextDouble() < 0.02)
      }
      val extra =
        if (rnd.nextDouble() < 0.1) Seq.fill(1 + rnd.nextInt(4))(
          Obs(next(), t.created + 3600 + rnd.nextInt(86400), i,
            1 + rnd.nextInt(2), rnd.nextInt(nUsers), rnd.nextDouble() < 0.02))
        else Nil
      first +: extra
    }
    rnd.shuffle(all)
  }

  /** Latest non-sensitive observation of each tweet whose text passes
    * the hiring filter — the rows the tweets collection must hold.
    */
  val kept: IndexedSeq[(Tweet, Obs)] =
    observations
      .filter(o => !o.wrapperSensitive && !tweets(o.tweet).sensitive)
      .groupBy(_.tweet).values
      .map(_.maxBy(o => (o.time, o.sampId)))
      .map(o => tweets(o.tweet) -> o)
      .filter(_._1.hiring)
      .toIndexedSeq.sortBy(_._1.id)

  val expected: Expected = {
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    kept.foreach { case (t, _) =>
      t.fullText.split(" ").filterNot(Stopwords.contains).foreach(w => counts(w) += 1)
    }
    Expected(
      kept = kept.size,
      users = kept.map(_._1.user).distinct.size,
      tagPostings = kept.map(_._1.tags.distinct.size.toLong).sum,
      favoriteSum = kept.map { case (t, o) => favorites(t, o) }.sum,
      trending = counts.toSeq.sortBy { case (w, n) => (-n, w) }.take(TrendingK))
  }

  /** The tweets collection the batch path must derive, as plain rows in
    * `Collections.tweets` column order: the kept observation's counts,
    * the entities of the branch the normalizer reads (`extended_tweet`
    * for truncated tweets).
    */
  lazy val tweetRows: IndexedSeq[Seq[Any]] = kept.map { case (t, o) =>
    val fav = favorites(t, o)
    Seq(t.id.toString, User(t.user).id.toString, new java.sql.Timestamp(t.created * 1000),
      t.fullText, fav, t.id % 5, t.id % 9, fav / 2, t.tags, Seq(mention(t)),
      if (t.media) Seq(mediaUrl(t)) else null, url(t).toSeq)
  }

  /** The users collection: one row per author of a kept tweet, dated by
    * their newest kept tweet, in `Collections.users` column order.
    */
  lazy val userRows: IndexedSeq[Seq[Any]] =
    kept.map(_._1).groupBy(_.user).toIndexedSeq.sortBy(_._1).map { case (u, ts) =>
      val user = User(u)
      Seq(user.id.toString, new java.sql.Timestamp(ts.map(_.created).max * 1000),
        s"User $u", user.screenName, (u * 37 % 9000).toLong, (u * 11 % 700).toLong,
        u % 13 == 0, s"http://img.example/u$u.jpg", null)
    }

  /** Served keys ranked by how many kept documents carry them (ties by
    * key), so a Zipf draw over the rank favours popular keys.
    */
  val keys: Keys = {
    def ranked(xs: Seq[String]): IndexedSeq[String] =
      xs.groupBy(identity).toSeq.map { case (k, v) => k -> v.size }
        .sortBy { case (k, n) => (-n, k) }.map(_._1).toIndexedSeq
    Keys(
      terms = ranked(kept.flatMap(kt => analyze(kt._1.fullText).distinct)),
      tags = ranked(kept.flatMap(_._1.tags.distinct)),
      screenNames = ranked(kept.map(kt => User(kt._1.user).screenName)))
  }

  /** The batch-ingest input split into `files` multiline-JSON arrays. */
  def inputFiles(files: Int): Seq[String] = {
    val per = (observations.size + files - 1) / files
    observations.grouped(per).map(g =>
      jsonArray(g.map(o => obsJson(tweets(o.tweet), o)))).toSeq
  }

  // ——— live ingest ———

  private val liveRnd = new Random(seed * 7919 + 1)
  private var nextLive = 0
  private val editable = mutable.ArrayBuffer.from(kept.map(_._1))

  /** The next live batch: `nFresh` new tweets (a fifth of them fail the
    * hiring filter, one is sensitive), `nRepost` reposts copying a kept
    * tweet's text under a new id (the near-dup gate must drop them), and
    * `nEdit` same-id edits of kept tweets (new text, new hashtag) that
    * must replace their predecessor in every store.
    */
  def liveBatch(nFresh: Int, nRepost: Int, nEdit: Int): LiveBatch = {
    val r = liveRnd
    val b = nextLive; nextLive += 1
    val t0 = BaseEpoch + nTweets * 60L + 86400L * (b + 2)
    def fresh(j: Int, hiring: Boolean, sensitive: Boolean): Tweet = {
      val n = nTweets + 1000000 + b * 1000 + j
      val templates = Templates.filter(_._2 == hiring)
      Tweet(id = 1400000000000000000L + n * 17L, user = userZipf.draw(r),
        fullText = textFor(templates(r.nextInt(templates.size))._1, refCode(n), r),
        ref = refCode(n), truncated = r.nextDouble() < 0.4, tags = tagsFor(r),
        media = false, created = t0 + j, sensitive = sensitive)
    }
    val newOnes = (0 until nFresh).map(j =>
      fresh(j, hiring = j % 5 != 4, sensitive = j == nFresh - 1))
    val edits = (0 until nEdit).map { j =>
      val old = editable.remove(r.nextInt(editable.size))
      val n = nTweets + 2000000 + b * 1000 + j
      val role = Roles(r.nextInt(Roles.size))
      old -> old.copy(
        fullText = s"still hiring $role edited ${word(words.draw(r))} ${refCode(n)}",
        ref = refCode(n), truncated = false, tags = Vector(tag(nTags + n)),
        created = t0 + 500 + j, sensitive = false)
    }
    // reposts copy a tweet that has never been edited: an edit replaces
    // the stored signature, after which the old text is no longer a dup
    val reposts = (0 until nRepost).map { j =>
      val src = editable(r.nextInt(editable.size))
      fresh(nFresh + j, hiring = true, sensitive = false)
        .copy(fullText = src.fullText, ref = src.ref)
    }
    val all = newOnes ++ reposts ++ edits.map(_._2)
    val lines = r.shuffle(all).map(t =>
      obsJson(t, Obs(t.id, t.created, -1, 0, 0, wrapperSensitive = false)))
    LiveBatch(lines, newOnes.filter(t => t.hiring && !t.sensitive), reposts, edits)
  }
}
