package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def inputs(seed: Long): Seq[String] = {
    val g = new Gen(seed)
    val corpus = g.corpus(300).map(Gen.jsonl)
    val pool = g.pool(16)
    val stream = (0 until 2).flatMap(c => g.poolStream(pool, c, 50))
    val typos = pool.map(q => g.typo(q, new scala.util.Random(q.hashCode)))
    val (curate, clusters) = g.curateCorpus(200, 0.1)
    corpus ++ pool ++ stream ++ typos ++ curate.map(Gen.jsonl) ++ clusters.map(_.toString)
  }

  test("one seed gives byte-identical inputs in two generators") {
    val (a, b) = (inputs(7), inputs(7))
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x.getBytes("UTF-8").sameElements(y.getBytes("UTF-8"))) }
  }

  test("another seed gives other inputs") {
    assert(inputs(7) != inputs(8))
  }

  test("corpus properties: lengths, langs, unique markers held once") {
    val docs = new Gen(3).corpus(500)
    val lengths = docs.map(_.text.split(" ").length)
    assert(lengths.min >= Gen.MinWords && lengths.max <= Gen.MaxWords)
    assert(docs.map(_.lang).toSet == Set("en", "de", "fr"))
    assert(docs.map(_.marker).distinct.length == docs.length)
    assert(docs.forall(d => d.text.split(" ").count(_ == d.marker) == 1))
  }

  test("planted clusters: edited pairs stay near duplicates, clusters are disjoint") {
    val (docs, clusters) = new Gen(5).curateCorpus(400, 0.1)
    def shingles(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    def jaccard(a: String, b: String) = {
      val (x, y) = (shingles(a), shingles(b))
      (x & y).size.toDouble / (x | y).size
    }
    assert(clusters.nonEmpty && clusters.exists(_.chain) && clusters.exists(!_.chain))
    val members = clusters.flatMap(_.members)
    assert(members.distinct.length == members.length)
    clusters.flatMap(_.pairs).foreach { case (a, b) =>
      assert(jaccard(docs(a).text, docs(b).text) >= 0.8)
    }
  }
}
