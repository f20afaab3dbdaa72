package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own logic (no Spark session). */
class SelfSpec extends AnyFunSuite {

  test("percentile rule: the highest percentile with at least ten samples beyond it") {
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supportedPercentile(20).contains(50))
    assert(Stats.supportedPercentile(99).contains(50))
    assert(Stats.supportedPercentile(100).contains(90))
    assert(Stats.supportedPercentile(999).contains(90))
    assert(Stats.supportedPercentile(1000).contains(99))
    assert(Stats.supportedPercentile(10000).contains(99.9))
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.median(xs) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(3.0), 50) == 3.0)
  }

  test("generator determinism: the same seed gives the same bytes") {
    def render(seed: Long) = {
      val c = new Corpus(seed, nTweets = 300)
      (c.inputFiles(2), c.liveBatch(6, 1, 1).lines, c.liveBatch(6, 1, 1).lines, c.expected)
    }
    assert(render(5) == render(5))
    assert(render(5)._1 != render(6)._1)
  }

  test("the read mix: the same seed gives the same requests, in fixed route shares") {
    val keys = new Corpus(5, nTweets = 300).keys
    def reqs(seed: Long) = { val m = new Mix(keys, seed); Seq.fill(40)(m.next()) }
    assert(reqs(1) == reqs(1))
    assert(reqs(1) != reqs(2))
    assert(reqs(1).groupBy(_.path).view.mapValues(_.size).toMap ==
      Map(Req.Query -> 20, Req.Hashtag -> 10, Req.User -> 10))
    // evenly spread draws reach the Zipf head (about a fifth of the mass)
    assert(reqs(1).exists(r => r.params.get("tag").contains(keys.tags.head)))
  }

  test("templates pass or fail the hiring filter as declared; vocabulary never matches") {
    Corpus.Templates.foreach { case (t, hiring) =>
      assert(Corpus.isHiring(t.replace("%r", "nurse").replace("%c", "acme")) == hiring, t)
    }
    (0 until 20000 by 7).foreach { i =>
      assert(!Corpus.isHiring(Seq(Corpus.word(i), Corpus.word(i + 1), Corpus.word(i * 3))
        .mkString(" ")))
    }
  }

  test("expected outputs follow keep-latest, sensitivity and the hiring filter") {
    val c = new Corpus(11, nTweets = 400)
    assert(c.kept.forall { case (t, _) => t.hiring && !t.sensitive })
    assert(c.kept.map(_._1.id).distinct.size == c.kept.size)
    c.kept.foreach { case (t, o) =>
      val live = c.observations.filter(x => x.tweet == c.tweets.indexOf(t) && !x.wrapperSensitive)
      assert(o == live.maxBy(x => (x.time, x.sampId)))
    }
    assert(c.expected.trending == c.expected.trending.sortBy { case (w, n) => (-n, w) })
    assert(Seq(0, 1, 2).forall(k => c.observations.exists(_.kind == k)))
    assert(c.tweets.exists(_.truncated) && c.tweets.exists(!_.truncated))
  }

  test("live batches plant fresh tweets, reposts of kept text and same-id edits") {
    val c = new Corpus(3, nTweets = 300)
    val b = c.liveBatch(10, 2, 2)
    val keptText = c.kept.map(_._1.fullText).toSet
    assert(b.reposts.forall(r => keptText(r.fullText)))
    assert(b.edits.forall { case (old, e) => old.id == e.id && old.ref != e.ref && e.hiring })
    assert(b.fresh.forall(t => t.hiring && !t.sensitive))
    assert(b.lines.size == 14)
  }

  test("the output checks reject a planted wrong envelope") {
    val good = """{"count":1,"data":[{"user":{"userName":"User 1"},"tweet":{"id":"7"}}],""" +
      """"status_code":200,"message":"Success"}"""
    val planted = good.replace("\"7\"", "\"8\"")
    assert(Checks.envelopeProblems(Seq(("q", good, good))).isEmpty)
    assert(Checks.envelopeProblems(Seq(("q", planted, good))).size == 1)
    assert(Checks.readProblem("q", good, mustMatch = true).isEmpty)
    assert(Checks.readProblem("q", Checks.ErrorEnvelope, mustMatch = false).nonEmpty)
    assert(Checks.readProblem("q", good.replace("\"count\":1", "\"count\":0"),
      mustMatch = true).nonEmpty)
  }
}
