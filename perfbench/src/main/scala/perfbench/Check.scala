package perfbench

/** One result row of a search page. */
final case class Hit(key: Long, score: Double, content: String)

/** The benchmark's own answers, computed without the engine, and the
  * checks that hold engine pages against them. A check returns `None`
  * when the page is right, else the reason it is wrong.
  */
object Check {
  val ScoreTol = 1e-6

  /** Cosine in f64 over f32 vectors; 0 for a zero vector. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Brute-force top-k by cosine, ties broken by ascending key. */
  def topK(q: Array[Float], docs: collection.Map[Long, Array[Float]], k: Int): Vector[(Long, Double)] =
    docs.iterator.map { case (key, v) => (key, cosine(q, v)) }.toVector
      .sortBy { case (key, s) => (-s, key) }.take(k)

  /** An exact top-k page: the returned scores must equal the expected
    * top-k scores rank by rank, and each returned key must really score
    * what the page says. Keys whose scores tie within the tolerance may
    * trade places; nothing else may differ.
    */
  def exactPage(hits: Seq[Hit], expected: Seq[(Long, Double)],
                scoreOf: Long => Option[Double]): Option[String] =
    if (hits.length != expected.length)
      Some(s"page has ${hits.length} hits, expected ${expected.length}")
    else if (hits.map(_.key).distinct.length != hits.length)
      Some("page repeats a key")
    else hits.zip(expected).zipWithIndex.collectFirst {
      case ((h, (_, s)), r) if math.abs(h.score - s) > ScoreTol =>
        s"rank ${r + 1}: score ${h.score}, expected $s"
      case ((h, _), r) if !scoreOf(h.key).exists(t => math.abs(t - h.score) <= ScoreTol) =>
        s"rank ${r + 1}: key ${h.key} scores ${scoreOf(h.key).getOrElse("nothing")}, page says ${h.score}"
    }

  /** Every hit's content must be the text stored under its key (one of
    * the texts the key may hold at the time), and scores must not rise
    * down the page.
    */
  def pageIntegrity(hits: Seq[Hit], texts: Long => Set[String]): Option[String] =
    hits.collectFirst {
      case h if !texts(h.key).contains(h.content) => s"key ${h.key}: content is not its text"
    }.orElse(hits.sliding(2).collectFirst {
      case Seq(a, b) if b.score > a.score + ScoreTol => s"scores rise at key ${b.key}"
    })

  /** A keyword (OR-semantics) hit must contain at least one query term. */
  def keywordTerms(hits: Seq[Hit], query: String): Option[String] = {
    val terms = query.split(" ").toSet
    hits.collectFirst {
      case h if !h.content.split(" ").exists(terms) => s"key ${h.key} holds no query term"
    }
  }

  /** The document holding `marker` must come first. */
  def rankOne(hits: Seq[Hit], key: Long): Option[String] =
    hits.headOption match {
      case Some(h) if h.key == key => None
      case Some(h) => Some(s"rank 1 is key ${h.key}, expected $key")
      case None => Some(s"empty page, expected key $key at rank 1")
    }

  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }
}
