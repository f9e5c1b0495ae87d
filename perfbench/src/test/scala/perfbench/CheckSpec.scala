package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {
  private val vecs: Map[Long, Array[Float]] = Map(
    1L -> Array(1f, 0f), 2L -> Array(0.8f, 0.6f), 3L -> Array(0f, 1f), 4L -> Array(-1f, 0f))
  private val q = Array(1f, 0f)
  private val expected = Check.topK(q, vecs, 3)
  private def score(k: Long) = vecs.get(k).map(Check.cosine(q, _))
  private def page(keys: Long*) = keys.map(k => Hit(k, score(k).get, s"doc $k"))

  test("brute-force top k orders by score, then key") {
    assert(expected.map(_._1) == Seq(1L, 2L, 3L))
    assert(Check.topK(q, vecs ++ Map(5L -> Array(2f, 0f)), 2).map(_._1) == Seq(1L, 5L))
  }

  test("the exact check accepts the right page") {
    assert(Check.exactPage(page(1, 2, 3), expected, score).isEmpty)
  }

  test("the exact check rejects a wrong page") {
    assert(Check.exactPage(page(1, 2, 4), expected, score).isDefined)   // wrong key
    assert(Check.exactPage(page(2, 1, 3), expected, score).isDefined)   // wrong order
    assert(Check.exactPage(page(1, 2), expected, score).isDefined)      // short
    assert(Check.exactPage(page(1, 1, 3), expected, score).isDefined)   // repeated key
    val lying = page(1, 2, 3).updated(2, Hit(4, 0.0, "doc 4"))          // score not its own
    assert(Check.exactPage(lying, expected, score).isDefined)
    val off = page(1, 2, 3).updated(1, Hit(2, 0.8 + 1e-5, "doc 2"))     // beyond tolerance
    assert(Check.exactPage(off, expected, score).isDefined)
  }

  test("tied scores may trade places") {
    val tied = Map(1L -> Array(1f, 1f), 2L -> Array(1f, 1f), 3L -> Array(0f, 1f))
    val t = Check.topK(Array(1f, 1f), tied, 2)
    def s(k: Long) = tied.get(k).map(Check.cosine(Array(1f, 1f), _))
    assert(Check.exactPage(Seq(Hit(2, s(2).get, ""), Hit(1, s(1).get, "")), t, s).isEmpty)
  }

  test("integrity, keyword and rank-one checks reject wrong pages") {
    val texts = Map(1L -> Set("a b"), 2L -> Set("c d"))
    assert(Check.pageIntegrity(Seq(Hit(1, 2, "a b"), Hit(2, 1, "c d")), texts).isEmpty)
    assert(Check.pageIntegrity(Seq(Hit(1, 2, "c d")), texts).isDefined)
    assert(Check.pageIntegrity(Seq(Hit(1, 1, "a b"), Hit(2, 2, "c d")), texts).isDefined)
    assert(Check.keywordTerms(Seq(Hit(1, 1, "a b")), "b z").isEmpty)
    assert(Check.keywordTerms(Seq(Hit(2, 1, "c d")), "b z").isDefined)
    assert(Check.rankOne(Seq(Hit(1, 1, ""), Hit(2, 0, "")), 1).isEmpty)
    assert(Check.rankOne(Seq(Hit(2, 1, ""), Hit(1, 0, "")), 1).isDefined)
    assert(Check.rankOne(Nil, 1).isDefined)
  }

  test("levenshtein") {
    assert(Check.levenshtein("kitten", "sitting") == 3)
    assert(Check.levenshtein("", "abc") == 3)
    assert(Check.levenshtein("same", "same") == 0)
  }
}
