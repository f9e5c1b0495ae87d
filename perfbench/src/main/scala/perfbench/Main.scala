package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** What a workload hands the benchmark: every metric it measured by name
  * (end-to-end and per-layer together; `run.py` selects and labels them),
  * and its correctness ledger.
  */
final case class Outcome(metrics: Map[String, Double], ledger: Ledger)

/** Checked operations: every timed or checking operation is attempted
  * once; a wrong or failed one is counted and its first reasons kept.
  */
final class Ledger {
  private var attemptedN = 0L
  private var failedN = 0L
  private val reasons = scala.collection.mutable.ArrayBuffer.empty[String]

  def check(what: => String)(result: Option[String]): Unit = synchronized {
    attemptedN += 1
    result.foreach { r =>
      failedN += 1
      if (reasons.length < 20) reasons += s"$what: $r"
    }
  }

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)
  def firstReasons: Seq[String] = synchronized(reasons.toList)
}

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, obs: Obs, seed: Long, seconds: Int,
                     work: File, cpus: Int, startNs: Long) {
  def elapsedS: Double = (System.nanoTime() - startNs) / 1e9

  /** Progress line on stderr: which phase ended, seconds into the run. */
  def note(phase: String): Unit = System.err.println(f"perfbench: $phase%s done at $elapsedS%.1fs")
}

/** JVM entry of one benchmark run:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE`.
  * Writes the run's raw result as one JSON object to `--out`, and the
  * spans of a traced run next to it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val tracing = opt("trace") == "1"
    val work = new File(opt("work"))
    val out = new File(opt("out"))
    require(seconds >= 1, s"--seconds must be >= 1, got $seconds")
    val run: Ctx => Outcome = workload match {
      case "serve" => Serve.run
      case "curate" => Curate.run
      case other => sys.error(s"unknown workload '$other'")
    }
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    val obs = new Obs(tracing, spark.sparkContext)
    System.err.println(f"perfbench: spark session done at ${(System.nanoTime() - startNs) / 1e9}%.1fs")
    val outcome =
      try run(Ctx(spark, obs, seed, seconds, work, cpus, startNs))
      finally spark.stop()
    outcome.ledger.firstReasons.foreach(r => System.err.println(s"CHECK FAILED $r"))
    val metrics = outcome.metrics + ("jvm.rss_peak_mb" -> rssPeakMb())
    val json = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString(s"""{"attempted":${outcome.ledger.attempted},"failed":${outcome.ledger.failed},"metrics":{""", ",", "}}")
    Files.write(out.toPath, json.getBytes(StandardCharsets.UTF_8))
    if (tracing) writeSpans(new File(out.getPath + ".spans.jsonl"), obs.allSpans)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Peak resident set of this JVM (`VmHWM`), in MiB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
