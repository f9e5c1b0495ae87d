package perfbench

import org.apache.spark.sql.functions.col

import graft.core.CollectionConfig
import graft.dedup.{ConnectedComponents, Dedup}
import graft.functions.NgramLm

/** `curate`: the LLM-data pipeline over a collection in which about 10% of
  * the documents sit in planted near-duplicate clusters: `analyzeQuality`,
  * `Dedup.minhashNearDups` -> `ConnectedComponents.labels`, and
  * `NgramLm.perplexityBands` by `lang`, repeated until the time is up.
  */
object Curate {
  val Docs = 1000
  val PlantedShare = 0.1
  val WarmDocs = 200

  /** Seconds of each step of one pass, and what the pass returned. */
  private final case class Pass(quality: Double, minhash: Double, cc: Double, ppl: Double,
                                pairs: Array[(Long, Long)], comp: Map[Long, Long],
                                qualityRows: Int, bandRows: Int, bandKeys: Int) {
    def total: Double = quality + minhash + cc + ppl
  }

  def run(ctx: Ctx): Outcome = {
    val gen = new Gen(ctx.seed)
    val (docs, clusters) = gen.curateCorpus(Docs, PlantedShare)
    val b = Base.ingest(ctx, docs, indexed = false)
    val setupS = ctx.elapsedS
    ctx.note("set-up")
    val ledger = new Ledger
    val keyOf = Base.checkStored(b.coll, docs, indexed = false, ledger)
    val obs = ctx.obs
    val coll = b.coll
    val spark = ctx.spark
    import spark.implicits._

    def timed[A](span: String, op: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = obs.call(span, op)(f)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def pass(): Pass = obs.call("curate.pass") {
      val (q, tq) = timed("functions.quality", "quality")(coll.analyzeQuality(Base.Column).collect())
      val (p, tm) = timed("dedup.minhash", "minhash")(
        Dedup.minhashNearDups(coll.df, Base.Column, "_key").collect())
      val pairs = p.map(r => (r.getLong(0), r.getLong(1)))
      val (l, tc) = timed("dedup.cc", "cc")(
        ConnectedComponents.labels(pairs.toSeq.toDF("key_a", "key_b"), "key_a", "key_b").collect())
      val (bands, tp) = timed("functions.ppl_bands", "ppl_bands")(
        NgramLm.perplexityBands(coll.df, "_key", Base.Column, "lang").collect())
      Pass(tq, tm, tc, tp, pairs, l.map(r => r.getLong(0) -> r.getLong(1)).toMap,
        q.length, bands.length, bands.map(_.getAs[Long]("_key")).distinct.length)
    }

    // Untimed warm-up: the three pipelines side by side, on a collection
    // of the first WarmDocs documents. Codegen and JIT warm up on it as on
    // the full corpus, in less time than a cold full-size pass.
    val warm = b.catalog.create(CollectionConfig(name = "warm", index_columns = Seq(Base.Column)))
    warm.importDf(coll.df.filter(col("_key") <= WarmDocs))
    Base.parallel(3) {
      case 0 => warm.analyzeQuality(Base.Column).collect().length
      case 1 => ConnectedComponents.labels(
        Dedup.minhashNearDups(warm.df, Base.Column, "_key"), "key_a", "key_b").collect().length
      case _ => NgramLm.perplexityBands(warm.df, "_key", Base.Column, "lang").collect().length
    }
    System.gc() // every run starts measuring on a collected heap
    ctx.note("warm-up")
    // passes until the next one would end past the deadline (at least one)
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val run = scala.collection.mutable.ArrayBuffer(pass())
    while (System.nanoTime() + run.last.total * 1e9 <= deadline) run += pass()
    val passes = run.toVector
    ctx.note(s"${passes.length} passes")

    val keys = clusters.map(_.members.map(i => keyOf(docs(i).marker)))
    val planted = clusters.flatMap(_.pairs).map { case (a, c) =>
      val (x, y) = (keyOf(docs(a).marker), keyOf(docs(c).marker))
      (math.min(x, y), math.max(x, y))
    }
    passes.foreach { p =>
      ledger.check("quality rows")(Some(p.qualityRows).filter(_ != Docs).map(n => s"$n rows, expected $Docs"))
      ledger.check("perplexity band rows")(
        if (p.bandRows == Docs && p.bandKeys == Docs) None
        else Some(s"${p.bandRows} rows over ${p.bandKeys} keys, expected $Docs"))
      keys.foreach(ks => ledger.check(s"planted cluster ${ks.mkString(",")}")(
        ks.map(p.comp.get).distinct match {
          case Seq(Some(_)) => None
          case other => Some(s"split over components ${other.mkString(",")}")
        }))
      val compOfCluster = keys.map(ks => p.comp.get(ks.head))
      ledger.check("planted clusters stay apart")(
        Some(compOfCluster.flatten).filter(c => c.distinct.length != c.length)
          .map(_ => "two planted clusters share a component"))
    }
    val last = passes.last
    val found = last.pairs.map { case (a, c) => (math.min(a, c), math.max(a, c)) }.toSet
    def med(f: Pass => Double) = Stats.median(passes.map(f))
    val stored = Base.dirBytes(new java.io.File(coll.dir)).toDouble
    Outcome(Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> med(_.total) * 1e3,
      "throughput_per_s" -> Docs / (passes.map(_.total).sum / passes.length),
      "stored_bytes_per_input_byte" -> stored / b.inputBytes,
      "core.import_s" -> b.phases("core.import"),
      "sources.read_s" -> b.phases("sources.read"),
      "core.data_files" -> Base.dataFiles(coll),
      "core.stored_bytes" -> stored,
      "functions.quality_s" -> med(_.quality),
      "dedup.minhash_s" -> med(_.minhash),
      "dedup.cc_s" -> med(_.cc),
      "functions.ppl_bands_s" -> med(_.ppl),
      "dedup.planted_pair_recall" -> planted.count(found).toDouble / planted.length,
    ) ++ Base.traced(obs), ledger)
  }
}
