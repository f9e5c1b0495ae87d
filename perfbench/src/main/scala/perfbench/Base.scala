package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.functions.col

import graft.core.{Catalog, Collection, CollectionConfig}
import graft.embed.{Embedder, ModelRegistry}
import graft.sources.Ingest

/** A collection built from generated documents through the engine's
  * ingest path, with the key each document received.
  */
final case class Built(catalog: Catalog, coll: Collection, registry: ModelRegistry,
                       emb: Embedder, docs: Vector[Doc], inputBytes: Long,
                       phases: Map[String, Double])

/** Set-up, checks and trace summaries shared by the workloads. */
object Base {
  val Name = "bench"
  val Column = "text"

  def writeJsonl(dir: File, docs: Seq[Doc], files: Int): Long = {
    dir.mkdirs()
    val per = math.max(1, math.ceil(docs.length.toDouble / files).toInt)
    docs.grouped(per).zipWithIndex.map { case (part, i) =>
      val bytes = part.map(Gen.jsonl).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      Files.write(new File(dir, f"part-$i%05d.jsonl").toPath, bytes)
      bytes.length.toLong
    }.sum
  }

  /** The reference's `index` command: JSONL files -> `Ingest.readJsonl` ->
    * `importDf`, then (when `indexed`) `embedColumn`, `buildKeywordIndex`
    * and `buildAnnIndex`. Returns each step's seconds in `phases`.
    */
  def ingest(ctx: Ctx, docs: Vector[Doc], indexed: Boolean): Built = {
    val obs = ctx.obs
    val input = new File(ctx.work, "input")
    val inputBytes = writeJsonl(input, docs, ctx.cpus)
    val catalog = new Catalog(ctx.spark, new File(ctx.work, "catalog").getAbsolutePath)
    val coll = catalog.create(CollectionConfig(name = Name, index_columns = Seq(Column)))
    val registry = new ModelRegistry
    val emb = registry.load(coll.config.model_name, coll.config.model_variant)
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def step[A](span: String, op: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = obs.call(span, op)(f)
      phases(span) = (System.nanoTime() - t0) / 1e9
      ctx.note(span)
      r
    }
    val df = step("sources.read", "read")(Ingest.readJsonl(ctx.spark, input.getAbsolutePath))
    step("core.import", "import")(coll.importDf(df))
    if (indexed) {
      step("embed.column", "embed")(coll.embedColumn(Column, emb))
      step("search.build_keyword", "build_keyword")(coll.buildKeywordIndex(Column))
      step("search.build_ann", "build_ann")(coll.buildAnnIndex(Column))
    }
    Built(catalog, coll, registry, emb, docs, inputBytes, phases.toMap)
  }

  /** Checks that the collection holds exactly `docs` (each marker once,
    * with its text), that `count` (and, when `indexed`, `indexedCount`)
    * agree, and returns each marker's key.
    */
  def checkStored(coll: Collection, docs: Iterable[Doc], indexed: Boolean,
                  ledger: Ledger): Map[String, Long] = {
    val rows = coll.df.select(col("_key"), col("marker"), col(Column)).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val byMarker = rows.map { case (k, (m, _)) => m -> k }
    val want = docs.map(d => d.marker -> d.text).toMap
    ledger.check("stored documents")(
      if (rows.size != want.size) Some(s"${rows.size} rows, expected ${want.size}")
      else rows.collectFirst {
        case (k, (m, t)) if !want.get(m).contains(t) => s"key $k (marker $m) holds the wrong text"
      })
    val counts = Seq("count" -> coll.count()) ++
      (if (indexed) Seq("indexedCount" -> coll.indexedCount(Column)) else Nil)
    counts.foreach { case (what, n) =>
      ledger.check(what)(Some(n).filter(_ != docs.size).map(n => s"$n, expected ${docs.size}"))
    }
    byMarker
  }

  /** Unit-or-zero vectors of `texts` from the engine's own embedder, on
    * `threads` threads (the brute-force side of the vector checks).
    */
  def embedAll(emb: Embedder, texts: Map[Long, String], threads: Int): Map[Long, Array[Float]] = {
    val parts = texts.toVector.grouped(texts.size / threads + 1).toVector
    parallel(parts.length) { i =>
      parts(i).map(_._1).zip(emb.embed(parts(i).iterator.map(_._2)).toVector)
    }.flatten.toMap
  }

  /** Runs `body(i)` on `n` threads, one index each, and waits for all. */
  def parallel[A](n: Int)(body: Int => A): Vector[A] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val fs = (0 until n).map(i => pool.submit(new Callable[A] { def call(): A = body(i) }))
      fs.map(_.get()).toVector
    } finally {
      pool.shutdown()
      pool.awaitTermination(5, TimeUnit.MINUTES)
    }
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def dataFiles(coll: Collection): Double =
    Option(new File(coll.dataDir).listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0).toDouble

  /** Per-layer metrics every workload derives from its spans and the
    * listener: each layer's self time, and per-call Spark work of every
    * tagged operation.
    */
  def traced(obs: Obs): Map[String, Double] = {
    val self = Stats.layerSelfTimes(obs.allSpans).map { case (l, ns) => s"$l.self_ms" -> ns / 1e6 }
    val work = obs.opWork().filter(_._2.calls > 0).flatMap { case (op, w) =>
      val n = w.calls.toDouble
      Seq(s"spark.jobs.$op" -> w.jobs / n, s"spark.tasks.$op" -> w.tasks / n,
        s"spark.executor_cpu_ms.$op" -> w.cpuMs / n, s"spark.shuffle_bytes.$op" -> w.shuffleBytes / n,
        s"spark.driver_gap_ms.$op" -> w.driverGapMs / n)
    }
    self ++ work
  }
}
