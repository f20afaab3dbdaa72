package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** The bounded LRU map behind the footer, manifest and decoded-row caches:
  * entries leave least recently used first once their total weight passes
  * the bound.
  */
class BoundedSpec extends AnyFunSuite {

  test("without a weight the bound counts entries, and a read refreshes " +
      "an entry: the least recently used one leaves") {
    val m = new Bounded[String, Int](3)
    Seq("a" -> 1, "b" -> 2, "c" -> 3).foreach { case (k, v) => m.put(k, v) }
    assert(m.get("a").contains(1))
    m.put("d", 4)
    assert(m.get("b").isEmpty, "b was the least recently used")
    assert(Seq("a", "c", "d").map(m.get) == Seq(Some(1), Some(3), Some(4)))
  }

  test("with a weight the bound is on the entries' total weight") {
    val m = new Bounded[String, String](10, _.length.toLong)
    m.put("a", "xxxx")
    m.put("b", "yyyy")
    m.put("c", "zz")
    assert(Seq("a", "b", "c").forall(m.get(_).nonEmpty), "10 of 10 fits")
    m.put("d", "w")
    assert(m.get("a").isEmpty && Seq("b", "c", "d").forall(m.get(_).nonEmpty))
    // one heavy entry pushes out as many of the oldest as it needs
    m.put("e", "vvvvvvvv")
    assert(Seq("b", "c").forall(m.get(_).isEmpty))
    assert(m.get("d").contains("w") && m.get("e").contains("vvvvvvvv"))
    // replacing an entry counts its new weight only
    m.put("d", "w")
    assert(m.get("d").contains("w") && m.get("e").nonEmpty)
  }

  test("an entry heavier than the bound is returned but not kept, and " +
      "leaves the others in place") {
    val m = new Bounded[String, String](4, _.length.toLong)
    m.put("a", "xx")
    var computed = 0
    def heavy = m.getOrElseUpdate("h", { computed += 1; "yyyyy" })
    assert(heavy == "yyyyy")
    assert(m.get("h").isEmpty)
    assert(heavy == "yyyyy" && computed == 2, "a value not kept is computed again")
    assert(m.get("a").contains("xx"))
  }

  test("removeKeys drops the entries whose key matches and frees their weight") {
    val m = new Bounded[(Int, String), String](6, _.length.toLong)
    m.put(1 -> "a", "xx")
    m.put(2 -> "b", "yy")
    m.put(1 -> "c", "zz")
    m.removeKeys(_._1 == 1)
    assert(m.get(1 -> "a").isEmpty && m.get(1 -> "c").isEmpty && m.get(2 -> "b").contains("yy"))
    m.put(3 -> "d", "wwww")
    assert(m.get(2 -> "b").contains("yy") && m.get(3 -> "d").nonEmpty, "6 of 6 fits")
  }
}
