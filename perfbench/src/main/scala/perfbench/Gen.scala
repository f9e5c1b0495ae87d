package perfbench

import scala.collection.mutable
import scala.util.Random

/** One generated document. `marker` is a token that occurs in this
  * document only; checks find the document by it.
  */
final case class Doc(marker: String, lang: String, text: String)

/** A planted near-duplicate cluster of the curate corpus: indices into the
  * corpus, and the member pairs that were derived from one another by a
  * one-word edit (so their shingle Jaccard is far above the threshold).
  */
final case class Cluster(members: Vector[Int], pairs: Vector[(Int, Int)], chain: Boolean)

/** Seeded input generator. Everything the engine receives is derived from
  * the workload seed, so one seed gives a byte-identical corpus and
  * query stream.
  *
  * Corpus properties: a 20k-word Zipf(1.0) vocabulary of syllable words
  * (every word holds a vowel), documents of 20-200 words, a `lang` column
  * (en 60%, de 25%, fr 15%; each language ranks the vocabulary with its
  * own rotation), and one marker per document made of consonants only,
  * so a marker is never within a small edit distance of a vocabulary word.
  */
final class Gen(seed: Long) {
  import Gen._

  private val vocab: Vector[String] = {
    val rng = new Random(seed * 31 + 1)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val syllables = 2 + rng.nextInt(3)
      val sb = new StringBuilder
      for (_ <- 0 until syllables)
        sb.append(Consonants(rng.nextInt(Consonants.length)))
          .append(Vowels(rng.nextInt(Vowels.length)))
      seen += sb.toString
    }
    seen.toVector
  }

  private val vocabSet = vocab.toSet
  private val wordCdf = zipfCdf(VocabSize, 1.0)
  private val markers = mutable.HashSet.empty[String]

  /** A fresh marker, unique within this generator. */
  private def marker(rng: Random): String = {
    var m = ""
    while (m.isEmpty || markers.contains(m))
      m = Seq.fill(MarkerLen)(MarkerLetters(rng.nextInt(MarkerLetters.length))).mkString
    markers += m
    m
  }

  private def word(rng: Random, lang: String): String = {
    val rank = zipfRank(wordCdf, rng)
    vocab((rank + LangRotation(lang)) % VocabSize)
  }

  private def lang(rng: Random): String = {
    val u = rng.nextDouble()
    if (u < 0.60) "en" else if (u < 0.85) "de" else "fr"
  }

  private def doc(rng: Random, minWords: Int = MinWords, maxWords: Int = MaxWords): Doc = {
    val l = lang(rng)
    val m = marker(rng)
    val n = minWords + rng.nextInt(maxWords - minWords + 1)
    val words = Array.fill(n - 1)(word(rng, l))
    val at = rng.nextInt(n)
    val text = (words.take(at) ++ Array(m) ++ words.drop(at)).mkString(" ")
    Doc(m, l, text)
  }

  def corpus(n: Int): Vector[Doc] = {
    val rng = new Random(seed * 1000003)
    Vector.fill(n)(doc(rng))
  }

  /** The `serve` query stream of one client: texts drawn Zipf-skewed from
    * a fixed pool of 2-6 word queries, so queries repeat.
    */
  def pool(size: Int): Vector[String] = {
    val rng = new Random(seed * 7 + 3)
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < size) out += query(rng)
    out.toVector
  }

  def poolStream(pool: Vector[String], client: Int, n: Int): Vector[String] = {
    val rng = new Random(seed * 13 + client)
    val cdf = zipfCdf(pool.length, 1.0)
    Vector.fill(n)(pool(zipfRank(cdf, rng)))
  }

  private def query(rng: Random): String = {
    val l = lang(rng)
    Seq.fill(2 + rng.nextInt(5))(word(rng, l)).mkString(" ")
  }

  /** One-letter substitution in the query's longest word, giving a term
    * the vocabulary lacks, so fuzzy mode has a term to correct.
    */
  def typo(q: String, rng: Random): String = {
    val words = q.split(" ")
    val i = words.indices.maxBy(j => (words(j).length, -j))
    var t = words(i)
    while (t == words(i) || vocabSet.contains(t)) {
      val p = 1 + rng.nextInt(t.length - 1)
      t = t.updated(p, ('a' + rng.nextInt(26)).toChar)
    }
    words.updated(i, t).mkString(" ")
  }

  /** A marker with one letter replaced by another consonant. */
  def markerTypo(m: String, rng: Random): String = {
    val p = 1 + rng.nextInt(m.length - 2)
    var c = m(p)
    while (c == m(p)) c = MarkerLetters(rng.nextInt(MarkerLetters.length))
    m.updated(p, c)
  }

  /** The curate corpus: `n` documents of which about `share` sit in
    * planted near-duplicate clusters of 2-8 members. Half the clusters
    * are chains (member i+1 edits member i, so the ends are far apart and
    * connected components needs several rounds); the rest are stars
    * (every member edits the root). Cluster documents are 120-200 words,
    * so a one-word edit (plus the edited copy's own marker) keeps
    * 3-shingle Jaccard above 0.8.
    */
  def curateCorpus(n: Int, share: Double): (Vector[Doc], Vector[Cluster]) = {
    val rng = new Random(seed * 23 + 11)
    val docs = mutable.ArrayBuffer.empty[Doc]
    val clusters = mutable.ArrayBuffer.empty[Cluster]
    val planted = (n * share).toInt
    var used = 0
    while (used + 2 <= planted) {
      val size = math.min(2 + rng.nextInt(7), planted - used)
      val chain = clusters.length % 2 == 0
      val root = doc(rng, 120, 200)
      val start = docs.length
      docs += root
      val pairs = mutable.ArrayBuffer.empty[(Int, Int)]
      for (j <- 1 until size) {
        val from = if (chain) start + j - 1 else start
        docs += edit(docs(from), rng)
        pairs += (from -> (start + j))
      }
      clusters += Cluster((start until start + size).toVector, pairs.toVector, chain)
      used += size
    }
    while (docs.length < n) docs += doc(rng)
    // interleave planted and random documents so clusters do not sit in
    // one input file
    val perm = rng.shuffle(docs.indices.toVector)
    val at = new Array[Int](docs.length)
    perm.zipWithIndex.foreach { case (old, pos) => at(old) = pos }
    (perm.map(docs), clusters.toVector.map(c =>
      Cluster(c.members.map(at), c.pairs.map { case (a, b) => (at(a), at(b)) }, c.chain)))
  }

  /** A near-duplicate of `d`: one non-marker word replaced, and a marker
    * of its own appended.
    */
  private def edit(d: Doc, rng: Random): Doc = {
    val words = d.text.split(" ").filterNot(_ == d.marker)
    val i = rng.nextInt(words.length)
    words(i) = word(rng, d.lang)
    val m = marker(rng)
    Doc(m, d.lang, (words :+ m).mkString(" "))
  }
}

object Gen {
  val VocabSize = 20000
  val MinWords = 20
  val MaxWords = 200
  val MarkerLen = 9
  private val Consonants = "bcdfghklmnprstvz"
  private val Vowels = "aeiou"
  private val MarkerLetters = "bcdfghjklmnpqrstvwxz"
  private val LangRotation = Map("en" -> 0, "de" -> 7, "fr" -> 13)

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def zipfRank(cdf: Array[Double], rng: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i < 0) -i - 1 else i, cdf.length - 1)
  }

  /** One JSONL line; generated text is lowercase letters and spaces. */
  def jsonl(d: Doc): String =
    s"""{"marker":"${d.marker}","lang":"${d.lang}","text":"${d.text}"}"""
}
