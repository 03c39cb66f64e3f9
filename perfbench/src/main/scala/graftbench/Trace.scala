package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder. Spans are taken from the benchmark's own
  * code around calls into graft's modules (and from inside the counting
  * provider/store wrappers, which run on executor threads of the same
  * local-mode JVM). Nothing is written until the run ends. Recording is
  * off unless the run is a traced run: untraced runs pay only the
  * always-on call counters. */
object Trace {
  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                        parent: Long, req: String)

  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** Record a root span while recording is on. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) span(name, startNs, endNs)

  /** Record a root span whether or not recording is on, for a caller
    * that decides itself which of its calls to trace. */
  def span(name: String, startNs: Long, endNs: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), name, startNs, endNs, 0L, ""))

  /** Record a span tree whose timestamps were taken at module
    * boundaries by other threads (ids local to `tree`, root parent 0). */
  def recordTree(tree: Seq[Span]): Unit = if (enabled) {
    val base = ids.getAndAdd(tree.map(_.id).max)
    tree.foreach(s => spans.add(s.copy(id = base + s.id,
      parent = if (s.parent == 0L) 0L else base + s.parent)))
  }

  /** Time `f` as a span named `name`, nested under the enclosing span of
    * this thread. Returns the result and the elapsed milliseconds (timed
    * whether or not recording is on). */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val parent = current.get()
    val on = enabled // a span is recorded whole or not at all
    val id = if (on) ids.incrementAndGet() else 0L
    current.set(id)
    val t0 = System.nanoTime()
    try {
      val out = f
      val t1 = System.nanoTime()
      if (on) spans.add(Span(id, name, t0, t1, parent, ""))
      (out, (t1 - t0) / 1e6)
    } finally current.set(parent)
  }

  def all: Seq[Span] = spans.asScala.toSeq
  def clear(): Unit = spans.clear()

  /** Each span named `root` with its whole subtree, itself included. */
  def trees(all: Seq[Span], root: String): Seq[(Span, Seq[Span])] = {
    val kids = all.groupBy(_.parent)
    def below(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(below)
    all.filter(_.name == root).map(r => r -> below(r))
  }

  /** Self time per span name: each span's duration minus the part of its
    * interval its children (spans whose `parent` is its id) cover. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        // union of the child intervals inside the span
        var covered = 0L; var end = Long.MinValue
        cs.foreach { case (a, b) =>
          if (a >= end) { covered += b - a; end = b }
          else if (b > end) { covered += b - end; end = b }
        }
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }
}

/** Always-on Spark counters: the counts do not depend on how long the
  * run was timed, so they compare across hosts. `snap` / `since` give
  * the counts inside one interval (a span). */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, shuffleRead, shuffleWrite, spill = new LongAdder

  // per job group (SparkContext.setJobGroup): jobs and input read by the
  // threads of one role while other roles run concurrently
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private def add(group: String, key: String, v: Long): Unit =
    byGroup.computeIfAbsent(s"$group/$key", _ => new LongAdder).add(v)
  def group(group: String, key: String): Long =
    Option(byGroup.get(s"$group/$key")).map(_.sum).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    add(g, "jobs", 1L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      Option(stageGroup.get(e.stageId)).foreach(g =>
        add(g, "input_bytes", m.inputMetrics.bytesRead))
    }
  }

  def snap(): Map[String, Long] = Map(
    "spark.jobs" -> jobs.sum, "spark.stages" -> stages.sum,
    "spark.tasks" -> tasks.sum, "spark.shuffle_read_bytes" -> shuffleRead.sum,
    "spark.shuffle_write_bytes" -> shuffleWrite.sum,
    "spark.spill_bytes" -> spill.sum, "jvm.gc_ms" -> SparkCounters.gcMs)

  def since(before: Map[String, Long]): Map[String, Long] = {
    val now = snap()
    now.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
  }
}

object SparkCounters {
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Listener events are delivered asynchronously: wait for the bus to
    * drain before reading counters at an interval's end. */
  def settle(spark: SparkSession): Unit =
    org.apache.spark.graftbench.ListenerBusAccess.drain(spark.sparkContext)
}

/** Collects `StreamingQueryProgress` of every query: the trigger
  * breakdown (planning, addBatch, WAL commit, offset commit) and the
  * state operator's size, straight from Spark's own progress reports. */
final class ProgressCollector extends StreamingQueryListener {
  val progress =
    new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress reports of `name`'s non-empty triggers. */
  def batches(name: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.toSeq.filter(p => p.name == name && p.numInputRows > 0)
}
