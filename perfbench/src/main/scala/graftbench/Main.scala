package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     traced: Boolean, smoke: Boolean, corrupt: Boolean,
                     workDir: String, counters: SparkCounters,
                     progress: ProgressCollector) {
  def path(name: String): String = s"$workDir/$name"
}

/** One workload's outcome. `e2e` carries the contract's end-to-end
  * metrics, `layers` the per-layer ones, `report` every named figure
  * with its unit, percentile and sample count. `firstOpMs` is the wall
  * clock (epoch ms) at which the first timed operation started. */
final case class Outcome(attempted: Long, errors: Errors,
                         e2e: Map[String, Double], layers: Map[String, Double],
                         report: Map[String, Any], firstOpMs: Long)

/** Error tally shared by a workload's checks: every failed check is
  * one failed operation, and the first few messages are kept. */
final class Errors {
  private val n = new java.util.concurrent.atomic.AtomicLong(0L)
  private val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def fail(msg: String): Unit = { if (n.incrementAndGet() <= 20) msgs.add(msg) }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
  def count: Long = n.get()
  def messages: Seq[String] = msgs.asScala.toSeq
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val cpus = opts.getOrElse("cpus",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.core.Sessions.local(cpus, s"graftbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val progress = new ProgressCollector
    spark.streams.addListener(progress)
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", opts.get("size").contains("smoke"),
      opts.get("corrupt").contains("1"), opt("work"), counters, progress)
    Trace.enabled = ctx.traced
    val out = try {
      workload match {
        case "coach_live" => CoachLive.run(ctx)
        case "curate_kb" => CurateCorpus.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    }
    SparkCounters.settle(spark)
    val sparkTotals = counters.snap().collect {
      case (k, v) if k.startsWith("spark.") || k.startsWith("jvm.") => k -> v.toDouble
    }
    val result = Map(
      "attempted" -> out.attempted,
      "failed" -> out.errors.count,
      "errors" -> out.errors.messages,
      "e2e" -> out.e2e,
      "layers" -> (sparkTotals ++ out.layers),
      "report" -> out.report,
      "first_op_epoch_ms" -> out.firstOpMs,
      "cpus" -> cpus)
    Json.write(opt("out"), result)
    spark.stop()
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): Object = v match {
    case m: Map[_, _] =>
      val o = new java.util.TreeMap[String, Object]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case other => other.asInstanceOf[Object]
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(toJava(v)))

  def read(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
  def bytes(v: Object): Array[Byte] = mapper.writeValueAsBytes(v)
}
