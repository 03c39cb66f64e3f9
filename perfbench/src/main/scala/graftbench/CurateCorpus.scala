package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.pipeline.CurationPipeline

/** `curate_kb`, first phase: the training-data track as a batch job over
  * a seeded web-like corpus — near-duplicate pairs (minhashLshVerified
  * with the program's default 4 bands × 3 rows), clusters
  * (connectedComponents, one survivor each), the curation gates
  * (annotate), a quality classifier (qualityLrTrain), a deterministic
  * train/val/test split (hashSplit) and its parquet write. A pass is
  * timed from reading the input to the complete written result; the
  * timed pass is the JVM's first. The second phase, [[KbRefresh.phase]],
  * runs for the run's seconds. */
object CurateCorpus {
  private val Splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val Docs = 4000
  private val SmokeDocs = 600

  private final case class Pass(ms: Double, traced: Boolean, lost: Set[Long],
                                digest: String, stages: Map[String, Double])

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val errs = new Errors
    val t0 = System.nanoTime()
    val n = if (ctx.smoke) SmokeDocs else Docs
    val corpus = Gen.corpus(ctx.seed, n)
    val nDocs = corpus.rows.size
    val inPath = ctx.path("corpus")
    corpus.rows.toDF("doc_id", "text").repartition(ctx.spark.sparkContext.defaultParallelism)
      .write.parquet(inPath)
    val allIds = corpus.rows.map(_._1).toSet

    /** One pass into `out`; `traced` materializes each stage at its
      * boundary so its own time and Spark work can be attributed to it.
      * Returns per-stage figures. */
    def pass(out: String, traced: Boolean): Map[String, Double] = {
      val stage = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      def at[T](name: String)(f: => T)(force: T => Unit): T = {
        val before = { SparkCounters.settle(spark); ctx.counters.snap() }
        val (v, ms) = Trace.timed(name) { val v = f; if (traced) force(v); v }
        SparkCounters.settle(spark)
        stage(s"$name.ms") = ms
        ctx.counters.since(before).foreach { case (k, v) => stage(s"$name.$k") = v.toDouble }
        v
      }
      def mat(df: DataFrame): Unit = df.persist().count()
      val docs = spark.read.parquet(inPath)
      val pairs = at("dedup.lsh")(Dedup.minhashLshVerified(docs, "text", "doc_id"))(mat)
      if (traced) stage("dedup.verified_pairs") = pairs.count().toDouble
      val comps = at("dedup.cc")(Dedup.connectedComponents(pairs))(mat)
      val losers = comps.filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
      val survivors = docs.join(losers, Seq("doc_id"), "left_anti")
      val annotated = at("curate.annotate")(CurationPipeline.annotate(survivors))(mat)
      val (_, scored) = at("curate.quality_train")(CurationPipeline.qualityLrTrain(
        annotated, "doc_id", "text", col("verdict") === "keep"))(x => mat(x._2))
      at("curate.split_write") {
        CurationPipeline.hashSplit(
            annotated.select("doc_id", "verdict").join(scored, Seq("doc_id")),
            Splits, seed = ctx.seed.toString)
          .write.partitionBy("split").parquet(out)
      }(_ => ())
      stage.toMap
    }

    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    /** A timed pass, then (untimed) what it wrote: the docs dedup
      * dropped and the digest of the split output. */
    def timedPass(traced: Boolean): Unit = {
      val out = ctx.path(s"out-${passes.size}")
      Trace.enabled = traced
      val (stages, ms) = Trace.timed("curate.pass")(pass(out, traced))
      Trace.enabled = false
      spark.catalog.clearCache()
      val written = spark.read.parquet(out)
        .select(col("doc_id"), col("verdict"), col("split"),
          format_number(col("quality"), 6).as("q"))
        .as[(Long, String, String, String)].collect().sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      written.foreach(r => md.update(r.toString.getBytes("UTF-8")))
      val lost = allIds -- written.map(_._1)
      passes += Pass(ms, traced, lost, md.digest().map("%02x".format(_)).mkString, stages)
    }
    // A curation run is a batch job in a fresh JVM, so the timed pass is
    // the first one, compilation included. A traced run then adds a
    // traced pass and an untraced one: the overhead compares those two,
    // which run on equally warm code.
    Trace.clear()
    val t1 = System.nanoTime()
    val firstOp = System.currentTimeMillis()
    val loadBefore = Host.loadAvg()
    timedPass(traced = false)
    if (ctx.traced) { timedPass(traced = true); timedPass(traced = false) }
    val loadAfter = Host.loadAvg()
    val spans = Trace.all
    Trace.clear()
    val timed = passes.head
    val traced = passes.filter(_.traced)
    // outside the timed passes: the LSH candidates before verification
    val candidates = if (!ctx.traced) 0.0 else
      Dedup.minhashLshPairs(spark.read.parquet(inPath), "text", "doc_id").count().toDouble

    // ---- checks ------------------------------------------------------------
    val lost = passes.head.lost
    corpus.clusters.zipWithIndex.foreach { case (members, i) =>
      val kept = members.filterNot(lost)
      // --corrupt 1: a wrong expectation for the first cluster
      val want = if (ctx.corrupt && i == 0) 2 else 1
      errs.check(kept.size == want,
        s"planted duplicate cluster $members kept ${kept.size} docs")
    }
    val uniqueLost = corpus.uniqueIds.intersect(lost)
    errs.check(uniqueLost.isEmpty,
      s"${uniqueLost.size} unique docs lost to dedup, e.g. ${uniqueLost.take(5)}")
    val digests = passes.map(_.digest).distinct
    errs.check(digests.size == 1, s"split output differs between passes: $digests")
    errs.check(passes.forall(_.lost == lost), "dedup dropped different docs in different passes")
    // self times of each traced pass add up to no more than the pass
    val selfRatios = Trace.trees(spans, "curate.pass").map { case (root, tree) =>
      Trace.selfTimes(tree).values.sum / ((root.endNs - root.startNs) / 1e6)
    }
    selfRatios.foreach(r => errs.check(r <= 1.0 + 1e-9,
      s"curation self times add up to $r of the traced pass"))

    // ---- metrics ------------------------------------------------------------
    val rate = nDocs / (timed.ms / 1000.0)
    def stageMed(k: String): Double = Stats.median(traced.map(_.stages(k)).toSeq)
    val report = Map(
      "curate_docs_per_s" -> Map("value" -> rate, "unit" -> "docs/s", "docs" -> nDocs),
      "curate_pass_ms" -> Map("value" -> timed.ms, "unit" -> "ms", "n" -> 1),
      "planted_clusters" -> corpus.clusters.size,
      "dedup_losers" -> lost.size,
      "split_digest" -> digests.head,
      // Spark counts per stage of the traced pass (empty when untraced)
      "stages" -> traced.headOption.fold(Map.empty[String, Double])(_.stages),
      "host.load_before" -> loadBefore, "host.load_after" -> loadAfter)
    val traceLayers = if (!ctx.traced) Map.empty[String, Double] else {
      val verified = stageMed("dedup.verified_pairs")
      val tracedMs = Stats.median(traced.map(_.ms).toSeq)
      Map(
        "dedup.lsh_ms" -> stageMed("dedup.lsh.ms"),
        "dedup.candidate_pairs" -> candidates,
        "dedup.verified_pairs" -> verified,
        "dedup.useful_ratio" -> verified / candidates.max(1.0),
        "dedup.cc_ms" -> stageMed("dedup.cc.ms"),
        "dedup.cc_jobs" -> stageMed("dedup.cc.spark.jobs"),
        "curate.annotate_ms" -> stageMed("curate.annotate.ms"),
        "curate.quality_train_ms" -> stageMed("curate.quality_train.ms"),
        "curate.split_write_ms" -> stageMed("curate.split_write.ms"),
        "trace.curate.untraced_p50_ms" -> passes.last.ms,
        "trace.curate.traced_p50_ms" -> tracedMs,
        "trace.curate.overhead_pct" -> (tracedMs / passes.last.ms - 1) * 100,
        "trace.curate.spans" -> spans.size.toDouble,
        "trace.curate.self_sum_over_e2e_max" -> selfRatios.foldLeft(0.0)(_ max _))
    }

    // ---- second phase: the knowledge-base track ------------------------------
    val t2 = System.nanoTime()
    val kb = KbRefresh.phase(ctx, errs)
    val phases = Map("setup" -> (t1 - t0) / 1e9, "curate" -> (t2 - t1) / 1e9,
      "kb" -> (System.nanoTime() - t2) / 1e9)
    // the latency of the workload is the knowledge base's edit freshness,
    // its throughput the curation's
    val e2e = Map("op_p50_ms" -> kb.freshP50Ms, "op_tail_ms" -> kb.freshTailMs,
      "throughput_per_s" -> rate)
    val layers = Map("curate.docs_per_s" -> rate,
      "host.load_before" -> loadBefore, "host.load_after" -> loadAfter) ++
      traceLayers ++ kb.layers
    Outcome(corpus.clusters.size + 1L + passes.size + kb.attempted, errs, e2e, layers,
      report ++ kb.report + ("phase_s" -> phases), firstOp)
  }
}
