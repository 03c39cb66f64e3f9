package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The entries a run dumps, by name: SPARK_GRAFT_VERIFY_ONLY=a,b
    * restricts the dump to local iteration on a few operators (unset,
    * the dump covers every registered query); an unknown name is
    * refused before any Spark job. */
  def selected(only: Option[String]): Seq[Entry] =
    SparkEntry.select(only, SparkEntry.all).sortBy(_.name)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val entries = selected(sys.env.get("SPARK_GRAFT_VERIFY_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Sessions.local(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Oracle sidecars: queries whose DuckDB oracle needs an
    // engine-trained artifact (the OPQ rotations) export it to the
    // PID-scoped path QueriesDataOps.oracleSidecarRoot embeds into the
    // oracle SQL at string-construction time — but only under Verify,
    // so a later Bench invocation at another scale factor cannot
    // overwrite the artifact between this dump and the driver's DuckDB
    // compare. Deliberately NOT deleted at exit: the driver's DuckDB
    // replay reads the sidecars AFTER this process ends (tiny parquet
    // files in java.io.tmpdir; the OS tmp reaper owns their lifetime).
    System.setProperty("graft.oracle.sidecars", "1")
    // A failed query must be LOUD: queries without an oracle are simply
    // absent from the driver's correctness report when they crash, so a
    // swallowed exception reads as "not checked" instead of "broken".
    val failed = entries.flatMap { case Entry(name, build, _, _) =>
      try {
        build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        Some(name)
      } finally
        // deterministic release of any frames the query closure
        // persisted (cluster_best / incremental_fuzzy / token_budget):
        // 100+ queries in one session would otherwise pin blocks until
        // driver GC lets the ContextCleaner run
        spark.catalog.clearCache()
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.mkString(", "))
    def q(s: String) = "\"" + graft.io.JsonText.escape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
