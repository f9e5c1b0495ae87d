package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** A span: one timed call at a layer boundary. Times are `System.nanoTime`;
  * spans of one request or write cycle share `trace`; `parent` is 0 for a
  * root.
  */
final case class Span(trace: Long, id: Long, parent: Long, name: String, start: Long, end: Long)

/** Spark work attributed to one operation, summed over its calls. */
final case class OpWork(calls: Int, jobs: Long, tasks: Long, cpuMs: Double,
                        shuffleBytes: Long, driverGapMs: Double)

object Obs {
  /** The local property under which `SparkContext.setJobGroup` keeps the group. */
  val JobGroupKey = "spark.jobGroup.id"
}

/** Counts the Spark work of every job launched under a job group. */
final class OpCounters extends SparkListener {
  private final class Acc {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byGroup = TrieMap.empty[String, Acc]
  private val stageGroup = TrieMap.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Obs.JobGroupKey)))
      .foreach { g =>
        val acc = byGroup.getOrElseUpdate(g, new Acc)
        acc.synchronized(acc.jobs += 1)
        e.stageIds.foreach(stageGroup.put(_, g))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- stageGroup.get(e.stageId); acc <- byGroup.get(g)) acc.synchronized {
      acc.tasks += 1
      acc.intervals += (e.taskInfo.launchTime -> e.taskInfo.finishTime)
      Option(e.taskMetrics).foreach { m =>
        acc.cpuNs += m.executorCpuTime
        acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }

  /** Work of group `g` over the given call windows (epoch ms). */
  def work(g: String, windows: Seq[(Long, Long)]): OpWork = byGroup.get(g) match {
    case None => OpWork(windows.length, 0, 0, 0, 0,
      windows.map { case (s, e) => (e - s).toDouble }.sum)
    case Some(a) => a.synchronized {
      OpWork(windows.length, a.jobs, a.tasks, a.cpuNs / 1e6, a.shuffleBytes,
        windows.map { case (s, e) => Stats.driverGap(s, e, a.intervals.toSeq).toDouble }.sum)
    }
  }
}

/** Benchmark-side observation of the engine, from outside: spans around
  * the calls the benchmark makes into each layer, and a SparkListener that
  * counts the Spark work each call launched, attributed through a job
  * group the calling thread sets around the call. Both exist only when
  * tracing is on; with tracing off every wrapper is a plain call.
  */
final class Obs(val tracing: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val current = new ThreadLocal[Span]
  private val windows = TrieMap.empty[String, ConcurrentLinkedQueue[(Long, Long)]]
  private val counters = if (tracing) Some(new OpCounters) else None
  counters.foreach(sc.addSparkListener)

  /** Time `f` as span `name`, a child of the thread's current span (a new
    * trace when there is none). `op` names the Spark operation whose jobs
    * the call launches.
    */
  def call[A](name: String, op: String = null)(f: => A): A =
    if (!tracing) f
    else {
      val parent = current.get
      val self = Span(if (parent == null) ids.getAndIncrement() else parent.trace,
        ids.getAndIncrement(), if (parent == null) 0L else parent.id, name, System.nanoTime(), 0L)
      current.set(self)
      val group = sc.getLocalProperty(Obs.JobGroupKey)
      if (op != null) sc.setJobGroup(op, op)
      val w0 = System.currentTimeMillis()
      try f
      finally {
        val w1 = System.currentTimeMillis()
        if (op != null) {
          if (group == null) sc.clearJobGroup() else sc.setJobGroup(group, group)
          windows.getOrElseUpdate(op, new ConcurrentLinkedQueue).add(w0 -> w1)
        }
        spans.add(self.copy(end = System.nanoTime()))
        current.set(parent)
      }
    }

  /** Record a span the caller timed itself (a client's HTTP round trip). */
  def record(name: String, start: Long, end: Long): Unit =
    if (tracing) {
      val parent = current.get
      spans.add(Span(if (parent == null) ids.getAndIncrement() else parent.trace,
        ids.getAndIncrement(), if (parent == null) 0L else parent.id, name, start, end))
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  def durationsMs(name: String): Seq[Double] =
    allSpans.filter(_.name == name).map(s => (s.end - s.start) / 1e6)

  /** Spark work per operation, drained from the listener bus first. */
  def opWork(): Map[String, OpWork] = counters match {
    case None => Map.empty
    case Some(c) =>
      org.apache.spark.perfbench.Bus.drain(sc)
      windows.map { case (op, ws) => op -> c.work(op, ws.asScala.toSeq) }.toMap
  }
}
