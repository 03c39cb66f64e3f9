package graft

import java.nio.file.{Files, Paths}

/** Plan-capture main for the optimization rounds: writes
  * `.explain("formatted")` for each declared query to
  * `<outDir>/<name>_<suffix>.txt` so plan claims (Exchange count, join
  * strategy, PushedFilters/ReadSchema) are checkable without running
  * Spark. Building a query's DataFrame may run its bounded side jobs
  * (centroid collects, index writes) — the captured plan is the final
  * returned frame's, the same one Bench times.
  *
  * Usage: runMain graft.Plans <outDir> <suffix> [name1,name2,...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r19")
    val suffix = if (args.length > 1) args(1) else "before"
    val entries = SparkEntry.select(args.lift(2), SparkEntry.all)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-plans")
    Files.createDirectories(Paths.get(outDir))
    // suffix "time" switches to a phase-timing probe (construct /
    // plan / first count / second count) instead of writing plan files
    val timeMode = suffix == "time"
    entries.foreach { case Entry(name, build, _, _) =>
      try {
        if (timeMode) {
          def ms(t0: Long) = (System.nanoTime() - t0) / 1e6
          val t0 = System.nanoTime()
          val df = build(spark, sfDir)
          val tBuild = ms(t0)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val tPlan = ms(t1)
          val t2 = System.nanoTime()
          df.count()
          val tRun1 = ms(t2)
          val t3 = System.nanoTime()
          build(spark, sfDir).count()
          val tRun2 = ms(t3)
          println(f"[plans] $name%s: build=$tBuild%.0fms plan=$tPlan%.0fms " +
            f"run1=$tRun1%.0fms rebuild+run2=$tRun2%.0fms")
        } else {
          val df = build(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(txt).length
          println(s"[plans] $name: $exchanges Exchange, ${txt.length} chars")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
