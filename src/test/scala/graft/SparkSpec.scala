package graft

import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One shared session for the whole suite (suites run sequentially in the
  * forked test JVM); same config as Verify/Bench via core.Sessions so test
  * semantics match the driver's execution paths. */
object SharedSpark {
  lazy val spark: SparkSession = graft.core.Sessions.local("4", "graft-test")
}

/** Plan traversal that enters adaptive plans and their query stages. */
private object PlanWalk extends AdaptiveSparkPlanHelper

trait SparkSpec extends AnyFunSuite with Matchers {
  // stable identifier so `import spark.implicits._` works in suites
  lazy val spark: SparkSession = SharedSpark.spark

  /** The number of Spark jobs started while `f` runs, from any thread.
    * Fence jobs bracket `f`: the listener bus delivers job-start events
    * in submission order, so once the closing fence is seen every job
    * `f` launched has been counted, and the opening fence keeps events
    * still queued from earlier work out — no sleeps. A fence is an RDD
    * count, exactly ONE job, where a DataFrame count under AQE is two
    * (shuffle stage + result stage). */
  def jobsDuring(f: => Any): Int = {
    val sc = spark.sparkContext
    val fence = s"graft-job-fence-${java.util.UUID.randomUUID()}"
    val fences = new Semaphore(0)
    val open = new AtomicInteger(0) // fences seen so far
    val started = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
            _.getProperty("spark.job.description") == fence)) {
          open.incrementAndGet(); fences.release()
        } else if (open.get() == 1) started.incrementAndGet()
    }
    def runFence(): Unit = {
      sc.setJobDescription(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(fences.tryAcquire(10, TimeUnit.SECONDS),
        "the listener bus did not deliver the fence job within 10 s")
    }
    sc.addSparkListener(listener)
    try { runFence(); f; runFence(); started.get() }
    finally sc.removeSparkListener(listener)
  }

  /** Runs `df`, then reads how many partition directories its scans of
    * tables partitioned by `column` read: the scans' `numPartitions`
    * metric, which counts what is left after static AND dynamic
    * partition pruning (a PartitionFilters string cannot tell a pruning
    * filter from an inferred `isnotnull`). */
  def partitionsRead(df: DataFrame, column: String): Long = {
    df.collect()
    PlanWalk.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanLike
          if s.relation.partitionSchema.fieldNames.contains(column) =>
        s.metrics("numPartitions").value
    }.sum
  }

  /** The Exchanges (shuffle and broadcast) of `df`'s physical plan as
    * planned, before adaptive execution revises it; call it on a frame
    * that has not run. */
  def exchanges(df: DataFrame): Int =
    PlanWalk.collect(df.queryExecution.executedPlan) { case e: Exchange => e }
      .size
}
