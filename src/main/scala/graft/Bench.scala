package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main — driver runs this per-round with
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 and records the JSON output
  * against BASELINE.md: first the full contract line (metric/value/
  * queries/...), then a compact summary line sized to survive the
  * driver's ~2000-char stdout tail. Runs the headline (scale-sensitive) subset
  * of SparkEntry.queries (each timing covers plan + execution to a
  * count), then the standing 4-stage streaming chain for a rows/s
  * throughput figure.
  */
object Bench {

  /** Best-effort recursive temp-dir cleanup shared by the probes (a
    * delete error must never mask a probe's real failure). */
  private def deleteQuietly(dir: java.nio.file.Path): Unit =
    scala.util.Try {
      import scala.jdk.CollectionConverters._
      val walked = java.nio.file.Files.walk(dir)
      try walked.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walked.close()
    }: Unit

  /** T1 SUSTAINED throughput: the full backlog (`chunks` publishes of
    * `totalRows / chunks` messages) lands on the conversation topic
    * up-front, then the standing 4-stage chain (filter → embed →
    * retrieve → generate, Avro-framed topic hops) drains it —
    * steady-state rows/s, not the wave round-trip latency the previous
    * form measured. `maxFilesPerTrigger=2` bounds micro-batch size (the
    * max.poll.records analog) so each stage works through a real
    * sequence of batches and per-stage batch latency is observable from
    * the progress log. A small warm-up wave runs untimed (stream init +
    * JIT). Returns (prospect rows processed end-to-end, seconds, rows/s,
    * per-stage JSON). */
  def streamingThroughput(spark: SparkSession, totalRows: Int,
                          chunks: Int,
                          indexed: Boolean = false): (Long, Double, Double, String) = {
    import graft.pipeline.{CoachingPipeline, TopicParityPipeline}
    import graft.providers.{MockChat, MockEmbedder, ModelRegistry}
    import graft.store.BroadcastBruteForceStore

    ModelRegistry.registerReferenceModels()
    val embedder = new MockEmbedder(32)
    val knowledge = spark.createDataFrame(Seq(
      ("kb/pricing.md", "Pricing", "kb", "pricing objection handling with discounts"),
      ("kb/impl.md", "Impl", "kb", "implementation rollout and integration guide"),
      ("kb/comp.md", "Comp", "kb", "competitor comparison and differentiation")))
      .toDF("document_id", "document_name", "document_category", "document_text")
    val boot = new CoachingPipeline(embedder, new MockChat,
      new BroadcastBruteForceStore(Array.empty))
    val indexedKnowledge = boot.indexKnowledge(knowledge)
    val store = BroadcastBruteForceStore.fromDataFrame(indexedKnowledge)
    val pipeline = new CoachingPipeline(embedder, new MockChat, store)

    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val topics = new graft.io.LocalTopicStore(tmp("graft-bench-topics"))
    val parity = new TopicParityPipeline(pipeline, topics)
    // recentProgress is a ring buffer (default 100 entries): if warm-up +
    // timed batches ever exceeded it, the drop(progress0) alignment below
    // would silently discard timed batches from the per-stage stats
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    // SPARK_GRAFT_BENCH_TRIGGER_FILES widens the micro-batch (one file
    // = one producer wave) for batch-size amortization A/Bs — the
    // per-trigger fixed cost (plan + probe + join setup) divides by the
    // rows per trigger, which is the streaming_indexed scaling story
    val sourceOptions = Map("maxFilesPerTrigger" ->
      sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIGGER_FILES", "2"))
    // indexed=true measures the SCALE serving path: retrieval as a
    // per-micro-batch partition-pruned join against the persisted
    // IVF-Flat index (streamStagesIndexed) instead of the broadcast
    // store — per-round evidence for the per-batch join's fixed cost
    val queries =
      if (indexed)
        parity.streamStagesIndexed(spark, tmp("graft-bench-ckpt"),
          graft.store.VectorStores.adaptive(indexedKnowledge,
              tmp("graft-bench-idx"), broadcastBytes = 1L)
            .asInstanceOf[graft.store.IvfFlatIndexStore]
            // static-index serving: safe to freeze the file listing
            .pinPayload(),
          sourceOptions)
      else parity.streamStages(spark, tmp("graft-bench-ckpt"), sourceOptions)
    try {
      // one file per wave (a producer append = one log segment): without
      // the coalesce each publish writes 32 partition files and the chain
      // degenerates into 300+ ~60-row triggers measuring only the ~400 ms
      // per-trigger fixed cost
      def publishWave(n: Int, salt: String): Unit =
        parity.publishConversation(spark.range(n).select(
          concat(lit(s"message $salt "), col("id").cast("string"),
            lit(" about pricing and integration")).as("message"),
          when(col("id") % 4 === 0, "salesperson").otherwise("prospect")
            .as("speaker")).coalesce(1))
      def drain(): Unit = queries.foreach(_.processAllAvailable())

      publishWave(100, "warm") // untimed: stream init + JIT
      drain()
      // the continuous producer: `chunks` appends land while the
      // standing queries consume them concurrently (they never pause),
      // so the timed window covers producer AND chain together — the
      // saturated steady state, not a post-hoc drain of residue (t0
      // after the publish loop would credit work the chain already did
      // during publishing)
      val progress0 = queries.map(q => q.recentProgress.length)
      val t0 = System.nanoTime()
      (1 to chunks).foreach(i => publishWave(totalRows / chunks, s"w$i"))
      drain()
      val secs = (System.nanoTime() - t0) / 1e9
      // end-to-end evidence: rows that reached the LAST topic — one
      // scan/decode pass counting total and warm-up rows together
      val counts = parity.consumeResponses(spark).agg(
        count(lit(1)).as("total"),
        count(when(col("message").startsWith("message warm"), 1)).as("warm"))
        .collect().head
      val timedRows = counts.getLong(0) - counts.getLong(1)
      // per-stage batch latency over the timed drain, from each query's
      // own progress log (input rows, batches, mean trigger ms)
      val stages = queries.zip(progress0).map { case (q, skip) =>
        val timed = q.recentProgress.drop(skip).filter(_.numInputRows > 0)
        val rows = timed.map(_.numInputRows).sum
        val durs = timed.flatMap(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.toLong)).sorted
        def pct(p: Double) =
          if (durs.isEmpty) 0L
          else durs(math.min(durs.length - 1, (p * durs.length).toInt))
        val name = q.name.stripPrefix("graft-stage-")
        s""""$name":{"batches":${timed.length},"rows":$rows,"avg_batch_ms":${
          if (durs.isEmpty) 0 else durs.sum / durs.length
        },"p50_ms":${pct(0.5)},"p95_ms":${pct(0.95)}}"""
      }.mkString("{", ",", "}")
      (timedRows, secs, timedRows / secs, stages)
    } finally queries.foreach(_.stop())
  }

  /** T3/T4 at scale: measured evidence for the bounded-TTL-state claim
    * (SURVEY §2.11's streaming sizing note). `waves` publishes of
    * `rowsPerWave` UNIQUE messages flow through dedupWithTtl, each wave
    * `gapMinutes` later in EVENT time; the watermark must evict state
    * older than the TTL, so live state plateaus at ≈ (ttl/gap + 1) waves
    * no matter how many waves flow — 10× the rows must NOT mean 10× the
    * state. Sink is noop (nothing accumulates driver-side); state sizes
    * come from each micro-batch's StreamingQueryProgress.stateOperators.
    * Returns (inputRows, maxStateRows, finalStateRows, maxStateBytes,
    * secs). */
  def stateBoundednessProbe(spark: SparkSession, waves: Int, rowsPerWave: Int,
                            ttlMinutes: Int = 5, gapMinutes: Int = 2)
      : (Long, Long, Long, Long, Double) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val deduped = graft.streaming.StreamingOps.dedupWithTtl(
      input.toDF.toDF("message", "ts"), "message", "ts",
      ttl = s"$ttlMinutes minutes")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-state-probe")
    val query = deduped.writeStream.format("noop")
      .outputMode("append").option("checkpointLocation", ckpt.toString).start()
    val t0 = System.nanoTime()
    try {
      (0 until waves).foreach { w =>
        val eventMs = (100L + w.toLong * gapMinutes) * 60000L
        input.addData((0 until rowsPerWave).map(i =>
          (s"msg-$w-$i", new java.sql.Timestamp(eventMs))): _*)
        query.processAllAvailable()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val states = query.recentProgress.toSeq
        .map(p => (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
        .filter(_._1 > 0)
      val maxRows = if (states.isEmpty) 0L else states.map(_._1).max
      val maxBytes = if (states.isEmpty) 0L else states.map(_._2).max
      val finalRows = states.lastOption.map(_._1).getOrElse(0L)
      (waves.toLong * rowsPerWave, maxRows, finalRows, maxBytes, secs)
    } finally {
      // the probe runs on every bench AND from StreamingSpec — leaked
      // checkpoint state would accumulate across rounds. Cleanup must
      // run even when stop() throws, close the walk stream, and stay
      // best-effort so a delete error never masks the real failure.
      try query.stop()
      finally deleteQuietly(ckpt)
    }
  }

  /** Crawl-cycle scaling probe — MEASURES the frontier family's core
    * 10^10-row claim instead of asserting it: one scheduling cycle
    * (day-bucketed loadDue → selectBatch → the revisit law on the
    * selected wave) over a synthetic frontier of `n` rows whose DUE
    * population is FIXED at `dueRows` (parked in overdue day buckets;
    * the rest scheduled across 30 future days). Run at n and 10n with
    * the same dueRows: a flat ratio means the cycle rides the due
    * slice through partition pruning, not the frontier — the number
    * behind "a 10^10-row frontier schedules from a handful of day
    * directories". Returns (updated rows, seconds). */
  def crawlCycleProbe(spark: SparkSession, n: Long, dueRows: Long)
      : (Long, Double) = {
    import graft.operators.CrawlFrontier
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl-probe")
    val path = s"$dir/frontier"
    val now = 1754000000L
    val host = concat(lit("h"), pmod(col("id"), lit(997)).cast("string"),
      lit(".pr.com"))
    val f = spark.range(n).select(
      concat(lit("https://"), host, lit("/p/"), col("id").cast("string"))
        .as("url"),
      host.as("host"), lit(0).as("depth"),
      (pmod(xxhash64(col("id")), lit(1000)) / lit(1000.0)).as("priority"),
      lit(1L).as("fetch_count"), lit(0).as("fail_count"),
      lit(now - 86400L).as("last_fetch_ts"),
      md5(col("id").cast("string")).as("content_hash"),
      lit(86400L).as("interval_s"),
      when(col("id") < dueRows, lit(now - 10L))
        .otherwise(lit(now) + lit(86400L) * (pmod(col("id"), lit(30)) + 1))
        .as("next_fetch_ts"),
      lit("active").as("state"),
      lit(null).cast("string").as("etag"),
      lit(null).cast("long").as("last_modified"))
    try {
      CrawlFrontier.writeDayBucketed(f, path)
      val t0 = System.nanoTime()
      val due = CrawlFrontier.loadDue(spark, path, now)
      val batch = CrawlFrontier.selectBatch(due, now,
        batchSize = 5000, perHostCap = 16).localCheckpoint(true)
      val fetched = batch.select(col("url"),
        lit(now + 1L).as("fetch_ts"), lit(200).as("status"),
        md5(concat(lit("w"), col("url"))).as("content_hash"))
      val nUp = CrawlFrontier.recrawlUpdates(fetched, due).count()
      ((nUp, (System.nanoTime() - t0) / 1e9))
    } finally deleteQuietly(dir)
  }

  /** Synthetic documents table for superlinearity spot-checks ABOVE the
    * generated sf dirs (r11 ask #7): deterministic word-hash text with
    * the docsWithDups-style near-dup variants (one-in-five exact /
    * truncated copies) and planted benchmark leaks (every 50th doc
    * appends bench doc id%20's text) — the same shape the sf tables
    * exercise, at any row count, derived from spark.range so the
    * generator itself is O(n) and shuffle-free. */
  def syntheticDocs(spark: SparkSession, n: Long): org.apache.spark.sql.DataFrame = {
    val vocab = array((0 until 200).map(i => lit(s"word$i")): _*)
    def textOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat_ws(" ",
      transform(sequence(lit(1), lit(40)), i =>
        element_at(vocab,
          (pmod(xxhash64(id * 1000 + i), lit(200)) + 1).cast("int"))))
    val base = spark.range(n).select(col("id").as("doc_id"),
      when(col("id") % 50 === 0,
          concat(textOf(col("id")), lit(" "), textOf(col("id") % 20)))
        .otherwise(textOf(col("id"))).as("text"))
    def v(id: org.apache.spark.sql.Column, text: org.apache.spark.sql.Column) =
      struct(id.as("doc_id"), text.as("text"))
    val b = v(col("doc_id"), col("text"))
    base.select(explode(
        when(col("doc_id") % 5 === 0, array(b, v(col("doc_id") + n, col("text"))))
          .when(col("doc_id") % 5 === 1, array(b, v(col("doc_id") + 2 * n,
            expr("substring(text, 1, length(text) - 10)"))))
          .otherwise(array(b))).as("v"))
      .select(col("v.doc_id").as("doc_id"), col("v.text").as("text"))
  }

  /** Per-batch publish cost vs BASE SIZE for the bucketed CDC snapshot
    * sink: bootstrap a base of n rows (untimed), then time `reps`
    * 2-key micro-batches against it, at n and 10×n. sec/batch staying
    * FLAT (ratio ≈ 1) is the copy-on-write contract — per-batch IO ∝
    * changelog, not base; the pre-bucketing whole-snapshot rewrite
    * scaled the ratio with the base instead. Invoked alone via
    * SPARK_GRAFT_BENCH_SNAPSHOT=1. */
  /** `scaleBuckets` grows B with the base (10× rows → 10× buckets) —
    * the SURVEY §2.11 sizing rule (pick B so a bucket stays a few GB).
    * At FIXED B a touched bucket's rewrite grows ∝ base/B by design,
    * so the flat-cost contract is stated, and measured, under the
    * rule; both ratios are reported in BENCH_NOTES. */
  def snapshotProbe(spark: SparkSession, base: Long, reps: Int = 8,
                    numBuckets: Int = 64,
                    scaleBuckets: Boolean = false): String = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = Seq(base, base * 10).map { n =>
      val b = if (scaleBuckets) (numBuckets * n / base).toInt else numBuckets
      val dir = java.nio.file.Files.createTempDirectory("graft-snap-probe")
      val root = s"$dir/snap"
      val input = MemoryStream[(Long, Long, String, String)]
      val q = graft.streaming.StreamingOps.snapshotUpsertSink(
          input.toDF.toDF("doc_id", "seq", "op", "text"), root,
          keepVersions = 2, numBuckets = b)
        .option("checkpointLocation", s"$dir/ckpt").start()
      try {
        input.addData((0L until n).map(i =>
          (i, 1L, "upsert", s"document body $i with some padding text")): _*)
        q.processAllAvailable() // bootstrap the base — untimed
        val t0 = System.nanoTime()
        (1 to reps).foreach { r =>
          input.addData(
            (r.toLong % n, r + 1L, "upsert", s"updated body $r"),
            ((r.toLong + n / 2) % n, r + 1L, "upsert", s"updated body b$r"))
          q.processAllAvailable()
        }
        (n, (System.nanoTime() - t0) / 1e9 / reps)
      } finally {
        q.stop()
        deleteQuietly(dir)
      }
    }
    val pts = out.map { case (n, s) =>
      s"""{"base_rows":$n,"sec_per_batch":$s}""" }.mkString("[", ",", "]")
    s"""{"metric":"snapshot_probe","points":$pts,""" +
      s""""ratio":${out(1)._2 / out(0)._2}}"""
  }

  /** CDC-out bucket-pruning A/B: two changelog windows over the SAME
    * base-size store carrying near-equal changelog row counts, one
    * touching a ~1.6% sliver of buckets (clustered keys), one touching
    * EVERY bucket (one key per bucket) — the diff's cost claim is
    * "∝ moved buckets on both sides, never the base", so the sliver
    * window should cost a small fraction of the full-touch one on a
    * store big enough that reading it dominates. Invoked alone via
    * SPARK_GRAFT_BENCH_CHANGELOG=1. */
  def changelogProbe(spark: SparkSession, base: Long,
                     numBuckets: Int = 256, reps: Int = 5): String = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chg-probe")
    val root = s"$dir/snap"
    val input = MemoryStream[(Long, Long, String, String)]
    val q = graft.streaming.StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 4, numBuckets = numBuckets)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      // the layout's own bucket rule, computed up front so the two
      // update batches can target an exact bucket set
      val bucketOf = spark.range(base)
        .select(col("id"), pmod(hash(col("id")), lit(numBuckets))
          .cast("int").as("b"))
      val hotBuckets = (numBuckets / 64) max 1 // ~1.6% of buckets
      val sliverKeys = bucketOf.filter(col("b") < hotBuckets)
        .select(col("id")).as[Long].collect().toSeq
      val onePerBucket = bucketOf.groupBy(col("b"))
        .agg(min(col("id")).as("id")).select(col("id"))
        .as[Long].collect().toSeq
      // snapshot 0: the base
      input.addData((0L until base).map(i =>
        (i, 1L, "upsert", s"document body $i with some padding text")): _*)
      q.processAllAvailable()
      // snapshot 1: the SLIVER window (≈ base/64 rows, hotBuckets dirs)
      input.addData(sliverKeys.map(i => (i, 2L, "upsert", s"u$i")): _*)
      q.processAllAvailable()
      // snapshot 2: the FULL-TOUCH window (numBuckets rows, every dir)
      input.addData(onePerBucket.map(i => (i, 3L, "upsert", s"v$i")): _*)
      q.processAllAvailable()
      // aggregate over EVERY output column — a bare count() would let
      // Catalyst prune the payload from both bucket scans and the
      // probe would time metadata-only reads (the round-12 bench-memo
      // pitfall); summing text lengths + seq forces the full row
      def drain(from: Long, to: Long): Unit = {
        graft.streaming.StreamingOps
          .snapshotChangelog(spark, root, from, Some(to))
          .agg(sum(length(coalesce(col("text"), lit("")))
            + col("seq")), count(col("op"))).collect(): Unit
      }
      def timed(from: Long, to: Long, n: Int = reps): Double = {
        val t0 = System.nanoTime()
        (1 to n).foreach(_ => drain(from, to))
        (System.nanoTime() - t0) / 1e9 / n
      }
      timed(0, 1, n = 1); timed(1, 2, n = 1) // warm plan shapes — untimed
      val sliver = timed(0, 1)
      val full = timed(1, 2)
      s"""{"metric":"changelog_probe","base_rows":$base,""" +
        s""""buckets":$numBuckets,"sliver_buckets":$hotBuckets,""" +
        s""""sliver_rows":${sliverKeys.size},""" +
        s""""full_rows":${onePerBucket.size},""" +
        s""""sliver_sec":$sliver,"full_sec":$full,""" +
        s""""full_over_sliver":${full / sliver}}"""
    } finally {
      q.stop()
      deleteQuietly(dir)
    }
  }

  /** Ingest-throughput probe for the crawl front half: synthetic pages
    * → gzip WARC shards ON DISK (built once per size, untimed), then
    * time the production read path — shard parse → HTML→text extract →
    * word-count gate — at base and 10× base, reporting MB/s of
    * compressed shard bytes per size plus the decade exponent. THE
    * headline number for a 100 TB ingest plan: corpus_bytes / (MB/s ×
    * cores) is the wall-clock floor of the front half. The timed
    * action aggregates over the extracted text (sum of lengths + row
    * count), so Catalyst cannot prune the decode/extract work (the
    * r12/r14 bench memo). Invoked alone via SPARK_GRAFT_BENCH_WEB=1. */
  def webIngestProbe(spark: SparkSession, base: Long,
                     reps: Int = 3): String = {
    import org.apache.spark.sql.types._
    val out = Seq(base, base * 10).map { n =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-webprobe").toString
      val shardDir = s"$dir/shards"
      // stopword filler keeps langid=en so the verdict gate EVALUATES
      // and PASSES — rows_out must equal the page count or the probe
      // would time a pipeline that drops everything
      val pages = syntheticDocs(spark, n / 3).select(
        concat(lit("https://w.example/p/"), col("doc_id").cast("string"))
          .as("url"),
        concat(lit("<html><head><script>var x=1;</script></head><body><h1>T "),
          col("doc_id").cast("string"), lit("</h1><p>"), col("text"),
          lit(" and the of to in is it for on that this with as at be."),
          lit("</p><div><a href=\"/n\">next</a></div></body></html>"))
          .as("text"))
      // shard memory is bounded by toShards' maxShardBytes cut (r16):
      // the probe writes straight from the default 32 partitions — the
      // configuration whose unbounded form held ~73 k pages per shard
      // at the 5 M run and OOM'd the executor before the bound existed.
      // 4 MB shards keep each task's lap small while gzip-member
      // framing stays negligible. Two read-side confs make fat-binary
      // parquet behave (both restored after): the vectorized reader
      // reserves batchSize × row bytes per column batch (4096 rows of
      // multi-MB shards is an impossible reservation — the Warc
      // scaladoc note), and the default 128 MB maxPartitionBytes packs
      // the ~33 MB shard files four-to-a-task, capping read
      // parallelism at ~n_files/4 — a binary-heavy scan wants split
      // granularity of a few shards per task.
      val batchConf = "spark.sql.parquet.columnarReaderBatchSize"
      val splitConf = "spark.sql.files.maxPartitionBytes"
      val oldBatch = spark.conf.get(batchConf)
      val oldSplit = spark.conf.get(splitConf)
      try {
        spark.conf.set(batchConf, "4")
        spark.conf.set(splitConf, (8L << 20).toString)
        graft.io.Warc.toShards(pages, maxShardBytes = 4L << 20)
          .write.parquet(shardDir)
        val shardBytes = spark.read.parquet(shardDir)
          .agg(sum(length(col("shard")))).head().getLong(0)
        val rows = spark.read.parquet(shardDir)
        val cfg = graft.pipeline.CurationPipeline.Config(
          minQuality = 0.0, minTokens = 1)
        val t0 = System.nanoTime()
        var extracted = 0L
        (1 to reps).foreach { _ =>
          extracted = graft.streaming.StreamingOps.webIngestStream(rows, cfg)
            .agg(sum(length(col("text"))), count(lit(1)))
            .head().getLong(1)
        }
        val sec = (System.nanoTime() - t0) / 1e9 / reps
        // a gate or parse regression that drops every row would time a
        // no-op and print an inflated MB/s headline — refuse to report
        require(extracted > 0,
          "webIngestProbe: the ingest pipeline emitted ZERO rows — the " +
            "measured throughput would be a no-op's")
        (n, shardBytes, sec, extracted, shardBytes / 1e6 / sec)
      } finally {
        spark.conf.set(batchConf, oldBatch)
        spark.conf.set(splitConf, oldSplit)
        deleteQuietly(java.nio.file.Paths.get(dir))
      }
    }
    val pts = out.map { case (n, b, s, r, mbs) =>
      s"""{"base_n":$n,"shard_mb":${b / 1e6},"sec":$s,""" +
        s""""rows_out":$r,"mb_per_sec":$mbs}""" }.mkString("[", ",", "]")
    val exp = math.log(out(1)._3 / out(0)._3) /
      math.log(out(1)._1.toDouble / out(0)._1)
    s"""{"metric":"web_ingest_probe","points":$pts,"exponent":$exp}"""
  }

  /** sec-vs-rows scaling probe for the heaviest batch families
    * (alt-star components, contamination report, span removal, fuzzy
    * linkage, incremental fuzzy gate): run each at `base` and
    * 10×`base` synthetic rows and report the observed log-log
    * exponent — the guard against superlinear surprises the sf0.1 book
    * cannot see. Invoked alone via SPARK_GRAFT_BENCH_SCALE=1;
    * SPARK_GRAFT_BENCH_SCALE_FAMILIES (comma list) selects a subset so
    * one family's decade can be re-measured without paying the rest. */
  def scaleProbe(spark: SparkSession, base: Long,
                 families: Set[String] = Set("altstar", "contamination",
                   "span", "fuzzy", "lsh")): String = {
    import graft.operators.Dedup
    // a typo'd family name must fail loudly, not silently run nothing
    // and emit a malformed (trailing-comma) JSON line
    val known = Set("altstar", "contamination", "span", "fuzzy", "lsh",
      "lshuncapped", "pagerank", "frontier", "redirects", "mirrors",
      "storeloop")
    require(families.nonEmpty && families.subsetOf(known),
      s"scaleProbe: unknown families ${(families -- known).mkString(", ")} " +
        s"(known: ${known.toSeq.sorted.mkString(", ")})")
    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val out = Seq(base, base * 10).map { n =>
      val docs = syntheticDocs(spark, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val inRows = docs.count() // materialize: probe timings exclude gen
      val measured = scala.collection.mutable.LinkedHashMap.empty[
        String, (Double, Long)]
      if (families("altstar")) measured("altstar") = timed {
        Dedup.connectedComponentsAltStar(
          Dedup.minhashLshPairs(docs, "text", "doc_id",
            shingleN = 3, bands = 4, rowsPerBand = 3)).count()
      }
      if (families("contamination")) measured("contamination") = timed {
        graft.pipeline.CurationPipeline.contaminationReport(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "text", "doc_id", k = 8, w = 4).count()
      }
      // span removal: the heaviest NEW family of round 12 — gram table
      // ~40n rows, one gh aggregate + one gh join + coverage explode.
      // Aggregate over EVERY output column: a bare count() would let
      // Catalyst prune the md5-rebuild aggregates and time only the
      // group shuffle.
      if (families("span")) measured("span") = timed {
        import spark.implicits._
        Dedup.removeDuplicatedSpans(docs, "text", "doc_id", k = 8)
          .agg(sum(length(col("clean_md5")).cast("long") +
            col("n_kept") + col("n_removed"))).as[Long].head()
      }
      if (families("fuzzy")) {
        // fuzzy LINKAGE: the probe corpus prepends a high-cardinality
        // family key (derived from the text hash, so exact/truncated
        // variants share it) as the blocking prefix — expected block
        // size stays CONSTANT as n grows, the shape blocking keys have
        // at 100 TB (names, URLs), so the measurement isolates the
        // operator's claim: block-capped pair expansion ⇒ total work
        // ∝ rows. Degenerate shared prefixes are the maxBlock guard's
        // job, an O(blocks) aggregate the same run also pays.
        measured("fuzzy_linkage") = timed {
          val famN = math.max(inRows / 6, 1L)
          val linkDocs = docs.select(col("doc_id"),
            concat(format_string("f%010d ",
                pmod(xxhash64(substring(col("text"), 1, 400)), lit(famN))),
              col("text")).as("text"))
          Dedup.fuzzyLinkage(linkDocs, "text", "doc_id",
            blockLen = 12, window = 48, maxDist = 12, maxBlock = 64).count()
        }
        // incremental FUZZY gate: variants (ids >= n) are the batch,
        // originals the index — the cross-frame LSH band join whose
        // candidate count is dup-bounded, then Jaccard verify on
        // candidates only, then the anti probe. count() cannot prune
        // any stage: survivorship depends on the full verify. CAPPED
        // form (the production shape): the probe corpus's planted
        // boilerplate families (n/50 docs sharing a bench doc's text)
        // make the uncapped band join quadratic — measured exponent
        // 1.38 over 10⁵→10⁶ rows, the r13 finding that added the cap.
        measured("incremental_fuzzy") = timed {
          Dedup.antiJoinFuzzy(docs.filter(col("doc_id") >= n),
            docs.filter(col("doc_id") < n), "text", "doc_id",
            shingleN = 3, bands = 4, rowsPerBand = 3,
            threshold = 0.5, maxBucketSize = 64).count()
        }
      }
      // WITHIN-frame composed LSH (minhashLshVerified), CAPPED — the
      // r14 threading of the hot-bucket guard through the verified
      // composition. The probe corpus plants a WHOLE-TEXT boilerplate
      // family over ~1/35 of the rows (ids % 50 == 0 plus their exact
      // variants — the r13 cross-frame recipe): every band bucket of
      // that text holds the full family, so the uncapped in-bucket
      // expansion is C(n/35, 2)-quadratic and the verify stage inherits
      // every pair; capped, those buckets drop before expansion and
      // total work must stay ≈ linear (exponent ≤ ~1.1).
      if (families("lsh") || families("lshuncapped")) {
        val lshDocs = docs.select(col("doc_id"),
          when(col("doc_id") % 50 === 0,
            lit("standard legal boilerplate notice appended to every " +
              "page of this corpus for scale probing purposes"))
            .otherwise(col("text")).as("text"))
        if (families("lsh")) measured("lsh_verified_capped") = timed {
          Dedup.minhashLshVerified(lshDocs, "text", "doc_id",
            shingleN = 3, bands = 4, rowsPerBand = 3, threshold = 0.5,
            maxBucketSize = 64).count()
        }
        // uncapped CONTROL for the same composition — ENFORCED to the
        // small decade (n == base): its big-decade cost is the exact
        // hazard the cap guards (~200M verified pairs at 700 k rows),
        // so the gate lives in code, not operator discipline; the
        // exponent report skips families measured in one decade only
        if (families("lshuncapped") && n == base)
          measured("lsh_verified_uncapped") = timed {
          Dedup.minhashLshVerified(lshDocs, "text", "doc_id",
            shingleN = 3, bands = 4, rowsPerBand = 3, threshold = 0.5).count()
        }
      }
      // PageRank decade: synthetic 3-out-degree graph (every 7th node
      // dangling), 3 iterations — per-iteration work is one src join +
      // one dst sum over 3n edges, so the family's exponent should sit
      // ≈ 1. No count()-pruning hazard: every iteration localCheckpoints
      // EAGERLY inside pageRank, so the timed work happens regardless
      // of what the final action projects (the r12/r14 bench memo).
      // Frontier decade: one full crawl cycle over a synthetic n-row
      // frontier (n/1000 hosts, each its own registered domain so the
      // admission window never collapses to one partition): politeness
      // selection (10k batch, 20/host) + the revisit LEFT join over
      // the whole frontier + admission of 3 child links per fetched
      // page under a finite domain budget (so the domain-count scan
      // and window are INCLUDED in the measurement). The batch face
      // scans the frontier a constant number of times per cycle, so
      // the family exponent should sit ≈ 1; the store-held face
      // (recrawlUpdates upserts) replaces those scans at deployment
      // scale and is probed by its own index/store rows.
      if (families("frontier")) {
        import graft.operators.CrawlFrontier
        val nh = math.max(n / 1000L, 1L)
        val hostC = concat(lit("h"), pmod(col("id"), lit(nh)), lit(".ex"),
          pmod(col("id"), lit(nh)), lit(".com"))
        val frontier = spark.range(n).select(
            concat(lit("https://"), hostC, lit("/p/"), col("id")).as("url"),
            hostC.as("host"), lit(0).as("depth"),
            (pmod(col("id") * 37, lit(100)) / lit(100.0)).as("priority"),
            lit(0L).as("fetch_count"), lit(0).as("fail_count"),
            lit(null).cast("long").as("last_fetch_ts"),
            lit(null).cast("string").as("content_hash"),
            lit(86400L).as("interval_s"),
            lit(1754000000L).as("next_fetch_ts"), lit("active").as("state"),
            lit(null).cast("string").as("etag"),
            lit(null).cast("long").as("last_modified"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        frontier.count() // materialize: the cycle, not gen, is timed from here
        val t0 = System.nanoTime()
        val batch = CrawlFrontier.selectBatch(frontier, 1754000000L,
            batchSize = 10000, perHostCap = 20)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        batch.count()
        val fetched = batch.select(col("url"),
          lit(1754000100L).as("fetch_ts"),
          when(col("url").endsWith("0"), lit(404)).otherwise(lit(200))
            .as("status"),
          md5(col("url")).as("content_hash"))
        val discovered = batch.select(explode(array(
            concat(col("url"), lit("/a")), concat(col("url"), lit("/b")),
            concat(col("url"), lit("/c")))).as("url"), lit(1).as("depth"))
        val cycleRows = CrawlFrontier.recrawlUpdates(fetched, frontier)
          .unionByName(CrawlFrontier.admit(frontier, discovered,
            1754000100L, maxDepth = 3, perDomainCap = 1000000L)).count()
        val sec = (System.nanoTime() - t0) / 1e9
        batch.unpersist(); frontier.unpersist()
        // timed by hand so gen/materialize stays excluded
        measured("frontier_cycle") = (sec, cycleRows)
      }
      // STORE-HELD scheduling cycle decade (r17): the day-bucketed
      // deployment read path — loadDue (partition-pruned) →
      // selectBatch → recrawlUpdates upsert batch — with the DUE
      // SLICE held CONSTANT (base/10 rows due today) while the
      // frontier grows 10×, the rest spread over 99 future day
      // buckets. The engineered claim is that the scheduling scan
      // reads due rows, not the frontier, so the decade exponent
      // should sit ≈ 0 (flat); without pruning it would read ≈ 1.
      // Admission's anti-join rides the url-hash-bucketed store face,
      // probed by the `frontier` family (exponent 1.04) — this one
      // isolates the SCHEDULING read. Write/gen excluded from timing
      // (backfill cost, not cycle cost).
      if (families("storeloop")) {
        import graft.operators.CrawlFrontier
        val dueRows = math.max(base / 10L, 1L)
        val day = 86400L
        val nowTs = 1754000000L
        val nh = math.max(n / 1000L, 1L)
        val hostC = concat(lit("h"), pmod(col("id"), lit(nh)), lit(".ex"),
          pmod(col("id"), lit(nh)), lit(".com"))
        val nextTs = when(col("id") < dueRows, lit(nowTs))
          .otherwise(lit(nowTs) + (pmod(col("id"), lit(99L)) + 1L) * day)
        val frontier = spark.range(n).select(
          concat(lit("https://"), hostC, lit("/p/"), col("id")).as("url"),
          hostC.as("host"), lit(0).as("depth"),
          (pmod(col("id") * 37, lit(100)) / lit(100.0)).as("priority"),
          lit(0L).as("fetch_count"), lit(0).as("fail_count"),
          lit(null).cast("long").as("last_fetch_ts"),
          lit(null).cast("string").as("content_hash"),
          lit(86400L).as("interval_s"),
          nextTs.as("next_fetch_ts"), lit("active").as("state"),
          lit(null).cast("string").as("etag"),
          lit(null).cast("long").as("last_modified"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-bench-storeloop").toString
        val path = s"$dir/f$n"
        CrawlFrontier.writeDayBucketed(frontier, path)
        val t0 = System.nanoTime()
        val due = CrawlFrontier.loadDue(spark, path, nowTs)
        val batch = CrawlFrontier.selectBatch(due, nowTs,
            batchSize = 10000, perHostCap = 20)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        batch.count()
        val fetched = batch.select(col("url"),
          lit(nowTs + 100L).as("fetch_ts"),
          when(col("url").endsWith("0"), lit(404)).otherwise(lit(200))
            .as("status"),
          md5(col("url")).as("content_hash"))
        val cycleRows = CrawlFrontier.recrawlUpdates(fetched, due).count()
        val sec = (System.nanoTime() - t0) / 1e9
        batch.unpersist()
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(dir))
        measured("storeloop_cycle") = (sec, cycleRows)
      }
      // REDIRECT resolution decade: the web_redirects law (2-hop
      // chains, 1-hop redirects, self-loops, mutual 2-cycles) over an
      // n-src map at the production rounds=5 (hop budget 32). Each
      // round is ONE equi-join of the map with itself plus an eager
      // checkpoint, so work ∝ rounds × map size and the exponent
      // should sit ≈ 1 — chain LENGTH costs log rounds, never rows.
      if (families("redirects")) measured("redirects") = timed {
        val d = col("id")
        def u(e: org.apache.spark.sql.Column) =
          concat(lit("https://r.ex/p/"), e.cast("string"))
        val dst = when(d % 5 === 0, u(d + 1))
          .when(d % 5 === 1, u(d + 3))
          .when(d % 5 === 2, u(d))
          .when(d % 10 === 3, u(d + 5))
          .otherwise(u(d - 5))
        val edges = spark.range(n).filter(d % 5 =!= 4)
          .select(u(d).as("src"), dst.as("dst"))
        graft.operators.WebGraph.resolveRedirects(edges, rounds = 5)
          .count()
      }
      // MIRROR detection decade: n pages over n/1000 host PAIRS at 80%
      // fingerprint overlap, plus a boilerplate fp planted on every
      // pair host AND 100 solo hosts so its fanout exceeds the cap in
      // BOTH decades (the law must not flip between measurements). The
      // capped self-join emits one pair per shared fp ⇒ exponent ≈ 1;
      // uncapped, the boiler fp alone would add C(hosts, 2) pairs.
      if (families("mirrors")) measured("mirrors") = timed {
        val pairs = math.max(n / 1000L, 1L)
        val d = col("id")
        val pairIdx = pmod(d, lit(pairs))
        // `/` is TRUE division (double) in Spark SQL — the row→(pair,
        // side, seq) decomposition needs integer div or the shared
        // fingerprints never coincide and the probe measures a no-op
        val side = pmod(floor(d / lit(pairs)).cast("long"), lit(2))
        val seq = floor(d / lit(2L * pairs)).cast("long")
        val host = concat(lit("m"), side.cast("string"), lit("-"),
          pairIdx.cast("string"), lit(".ex"))
        val fp = when(seq % 10 < 8,
            concat(lit("c"), pairIdx.cast("string"), lit("-"),
              seq.cast("string")))
          .otherwise(concat(lit("u"), side.cast("string"), lit("-"),
            pairIdx.cast("string"), lit("-"), seq.cast("string")))
        val pages = spark.range(n).select(
            concat(lit("https://"), host, lit("/p/"), d.cast("string"))
              .as("url"), fp.as("fingerprint"))
          .unionByName(spark.range(2L * pairs).select(
            concat(lit("https://m"), pmod(d, lit(2)).cast("string"),
              lit("-"), floor(d / lit(2)).cast("long").cast("string"),
              lit(".ex/boiler"))
              .as("url"), lit("boiler").as("fingerprint")))
          .unionByName(spark.range(100).select(
            concat(lit("https://bb"), d.cast("string"), lit(".ex/x"))
              .as("url"), lit("boiler").as("fingerprint")))
        graft.operators.WebGraph.mirrorHosts(pages, minShared = 2,
          minJaccard = 0.3, maxHostsPerFp = 64).count()
      }
      // a degenerate mirror corpus (no pair flags) would time the
      // joins against near-empty evidence — refuse to report it
      if (families("mirrors"))
        require(measured("mirrors")._2 > 0,
          "mirrors probe flagged ZERO pairs — the corpus is degenerate " +
            "and the measured cost is not the operator's")
      if (families("pagerank")) measured("pagerank") = timed {
        val nodes = spark.range(n).toDF("id")
        val edges = spark.range(n).toDF("id")
          .filter(col("id") % 7 =!= 0)
          .select(col("id").as("src"), explode(array(
            pmod(col("id") * 3, lit(n)),
            pmod(col("id") * 5 + 1, lit(n)),
            pmod(col("id") * 7 + 2, lit(n)))).as("dst"))
        graft.operators.WebGraph.pageRank(nodes, edges, iters = 3).count()
      }
      docs.unpersist()
      (inRows, measured.toSeq)
    }
    val rows = out.map { case (n, ms) =>
      (s""""rows":$n""" +: ms.map { case (f, (sec, cnt)) =>
        s""""${f}_sec":$sec,"${f}_rows":$cnt""" })
        .mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    // match by family NAME: a family gated to one decade (the uncapped
    // control) has no exponent — positional zip would misattribute it
    val m1 = out(1)._2.toMap
    val exps = out(0)._2.collect { case (f, (a, _)) if m1.contains(f) =>
      val e = math.log(m1(f)._1 / a) /
        math.log(out(1)._1.toDouble / out(0)._1)
      s""""${f}_exponent":$e"""
    }.mkString(",")
    s"""{"metric":"scale_probe","points":$rows${
      if (exps.nonEmpty) "," + exps else ""}}"""
  }

  /** Versioned-upsert base-size A/B on the persisted IVF-Flat index
    * (the snapshotProbe convention): build an index at `base` rows,
    * time `reps` upsert batches of `batchRows` re-pointed keys, repeat
    * at 10× base. The upsert path's scale claim is per-batch cost ∝
    * BATCH, never the index — an append + a tombstone append + a
    * bounded cellstats bump, zero base reads or rewrites — so the
    * ratio across the decade should sit ≈ 1.0. Deterministic synthetic
    * vectors (hash-derived, no RNG); invoked alone via
    * SPARK_GRAFT_BENCH_IDXUPSERT=1. */
  def indexUpsertProbe(spark: SparkSession, base: Long, reps: Int = 8,
                       batchRows: Int = 200, cells: Int = 64): String = {
    import graft.operators.SimilaritySearch
    def vecs(n: Long, idOffset: Long) = spark.range(n)
      .select((col("id") + idOffset).cast("string").as("nid"),
        expr("transform(sequence(1, 32), " +
          "j -> cast(pmod(hash(id, j), 1000) / 1000.0 as float))")
          .as("embedding"))
    val out = Seq(base, base * 10).map { n =>
      val path = java.nio.file.Files
        .createTempDirectory("graft-idxup-probe").toString + "/index"
      val cents = vecs(cells, 0).orderBy(col("nid"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      SimilaritySearch.writeIvfFlatIndex(vecs(n, 0), cents, path,
        cId = "nid", cVec = "embedding")
      val t0 = System.nanoTime()
      (1 to reps).foreach { r =>
        SimilaritySearch.upsertIvfFlatBatch(
          vecs(batchRows, 0).withColumn("seq", lit(r.toLong)), path,
          cId = "nid", cVec = "embedding", cSeq = "seq")
      }
      val sec = (System.nanoTime() - t0) / 1e9 / reps
      (n, sec)
    }
    val pts = out.map { case (n, s) =>
      s"""{"base_rows":$n,"sec_per_batch":$s}""" }.mkString("[", ",", "]")
    s"""{"metric":"index_upsert_probe","points":$pts,"ratio":${
      out(1)._2 / out(0)._2}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus, "graft-bench")
    if (sys.env.get("SPARK_GRAFT_BENCH_SNAPSHOT").contains("1")) {
      // one-off snapshot-sink base-size A/B: warm the plan shapes small,
      // then the timed 1× / 10× pair
      val snapB = sys.env.getOrElse("SPARK_GRAFT_BENCH_SNAPSHOT_BUCKETS",
        "64").toInt
      val scaleB = sys.env.get("SPARK_GRAFT_BENCH_SNAPSHOT_SCALE_BUCKETS")
        .contains("1")
      snapshotProbe(spark, 1000, reps = 2, numBuckets = snapB)
      println(snapshotProbe(spark,
        sys.env.getOrElse("SPARK_GRAFT_BENCH_SNAPSHOT_BASE", "20000").toLong,
        numBuckets = snapB, scaleBuckets = scaleB))
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_BENCH_CHANGELOG").contains("1")) {
      changelogProbe(spark, 2000, numBuckets = 64, reps = 2) // warm
      println(changelogProbe(spark,
        sys.env.getOrElse("SPARK_GRAFT_BENCH_CHANGELOG_BASE",
          "2000000").toLong))
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_BENCH_IDXUPSERT").contains("1")) {
      // warm plan shapes small, then the timed 1× / 10× pair
      indexUpsertProbe(spark, 1000, reps = 2)
      println(indexUpsertProbe(spark,
        sys.env.getOrElse("SPARK_GRAFT_BENCH_IDXUPSERT_BASE", "20000").toLong))
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_BENCH_WEB").contains("1")) {
      webIngestProbe(spark, 2000, reps = 2) // warm plan shapes
      println(webIngestProbe(spark,
        sys.env.getOrElse("SPARK_GRAFT_BENCH_WEB_BASE", "50000").toLong))
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_BENCH_SCALE").contains("1")) {
      // one-off superlinearity probe: warm both plan shapes at a small
      // size first (codegen/JIT), then the timed 1× / 10× pair
      val fams = sys.env.get("SPARK_GRAFT_BENCH_SCALE_FAMILIES")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set("altstar", "contamination", "span", "fuzzy", "lsh"))
      scaleProbe(spark, 500, fams)
      println(scaleProbe(spark,
        sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE_BASE", "5000").toLong,
        fams))
      spark.stop()
      return
    }
    // bench the PRODUCTION q16 plan (bounded sketch per group), not the
    // test-scale adjudication harness whose exact percentile() aggregates
    // buffer every value per group — Verify leaves this unset, so the
    // correctness row still checks the verdict form; same contract for
    // the HLL cardinality report's exact-adjudication half
    spark.conf.set("graft.q16.sketchOnly", "true")
    spark.conf.set("graft.hll.sketchOnly", "true")

    // Contention guard — sampled BEFORE the warm-up phase: the guard
    // exists to catch EXTERNAL load (round 6 published figures at
    // load_avg 13.2 and byte-identical queries showed 1.5-6.8x
    // "regressions" — the round-4 signature BENCH_NOTES.md root-caused
    // to machine contention), and the warm-up itself drives the
    // 1-minute load average over the threshold on a 32-thread box, so a
    // post-warm-up sample (the r7/r8 placement) stamped every run
    // contended with its OWN work. A run that starts on a loaded box is
    // stamped "contended": true so it can never masquerade as a
    // regression or an improvement; set
    // SPARK_GRAFT_BENCH_REFUSE_CONTENDED=1 to abort instead of stamping
    // (the default still emits the JSON line the driver expects).
    val maxLoad = sys.env.get("SPARK_GRAFT_BENCH_MAX_LOAD")
      .map(_.toDouble).getOrElse(4.0)
    val loadAvgPre =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
      catch { case _: Throwable => -1.0 }
    val contended = loadAvgPre > maxLoad
    if (contended) {
      System.err.println(f"[bench] WARNING: pre-run load_avg $loadAvgPre%.1f " +
        f"exceeds $maxLoad%.1f — figures will be stamped contended")
      if (sys.env.get("SPARK_GRAFT_BENCH_REFUSE_CONTENDED").contains("1"))
        sys.error(f"refusing to bench on a contended machine " +
          f"(load_avg $loadAvgPre%.1f > $maxLoad%.1f)")
    }

    // Warm EVERY bench plan shape on sf0.01 first: first execution of a
    // plan pays 10-25 s of classloading + JIT + codegen compile in this
    // JVM (measured: identical job 19.4 s cold / 1.1 s warm), and one
    // tiny-sf pass is not enough invocations for the JIT to finish —
    // totals swung 2-4× between identical runs. Warming per shape is
    // sound because the codegen cache is keyed by generated source,
    // which is data-independent.
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run (isolation probes —
    // see BENCH_NOTES.md); SPARK_GRAFT_BENCH_STREAMING=0 skips the
    // streaming chain for quick query-only timings
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // fail fast on typos: a silently empty selection would record a
    // bogus zero-cost figure instead of an error
    only.foreach { o =>
      val unknown = o -- SparkEntry.benchQueries.toSet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(",")}")
      require(o.nonEmpty, "SPARK_GRAFT_BENCH_ONLY is set but empty")
    }
    val names = SparkEntry.benchQueries.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.01").count()
      catch { case _: Throwable => () }
    }
    // release every persisted frame the warm-up closures pinned
    // (dedup_cluster_best / incremental_fuzzy / token_budget persist
    // intermediates): deterministic unpersist instead of waiting on
    // driver GC + ContextCleaner. Warm-up ran at sf0.01, so none of
    // these cache entries could have served the sfDir timed runs.
    spark.catalog.clearCache()

    // Best of three timed runs per query: a single shot still carries
    // residual-JIT/GC noise; the min is the operator's cost. The
    // median/min spread is emitted per run as a noise indicator —
    // round 4 recorded 7.5-10.5× inflation on byte-identical code
    // (machine contention during the driver run), and a figure that
    // carries its own noise evidence can be trusted or discounted
    // without a re-run (see BENCH_NOTES.md).
    val results = names.map { name =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { SparkEntry.queries(name)(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val sorted = times.map(_._1).sorted
      // deterministic storage release between query blocks (the
      // persist-without-unpersist ADVICE): WITHIN a query's three
      // repetitions the cache manager may legitimately reuse the
      // persisted subtree (unchanged from prior rounds' measurement
      // semantics); across blocks the blocks are dead weight.
      spark.catalog.clearCache()
      (name, sorted.head, times.forall(_._2), sorted(sorted.size / 2))
    }
    // scope the sketch-only override to the timed loop: a session reused
    // after main (REPL probing, future harness code) must see the same
    // q16 definition Verify checks
    spark.conf.unset("graft.q16.sketchOnly")
    spark.conf.unset("graft.hll.sketchOnly")
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // a failed query's "time to crash" must not pass as a measurement —
    // total covers successful queries only, failures are listed explicitly.
    val failed = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _) => v }.sum
    // noise evidence: aggregate median/min ratio (1.0 = perfectly quiet
    // machine; round-4-style contention shows up as >>1) plus the OS
    // 1-minute load average sampled after the run.
    val noise = {
      val mins = results.collect { case (_, mn, true, _) => mn }.sum
      val medians = results.collect { case (_, _, true, md) => md }.sum
      if (mins > 0) medians / mins else 1.0
    }
    val loadAvg =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
      catch { case _: Throwable => -1.0 }
    // Host anchor: cross-round absolute comparisons keep being
    // confounded by driver-host generation (BENCH_NOTES r8-r10). The
    // anchor is a byte-stable query (brute-force cosine top-k: one scan,
    // one codegen'd loop, no shuffle variance) whose cost tracks raw
    // host speed, not engine changes — the judge divides every other
    // figure by it to separate host from code mechanically. Null when a
    // SPARK_GRAFT_BENCH_ONLY selection excludes it.
    val anchor = results.collectFirst {
      case ("ann_topk_bruteforce", mn, true, _) =>
        s""","anchor":{"query":"ann_topk_bruteforce","sec":$mn}"""
    }.getOrElse(""","anchor":null""")
    // The pre-run load sample alone is a false-negative gate: round 9
    // started on a quiet box (load_avg_pre 2.9 → stamped clean) but
    // external load arrived mid-run and inflated every query ~2×, with
    // noise_median_over_min 1.71 as the in-run evidence. The final
    // stamp therefore also trips on the run's own noise ratio — the
    // bench's own JIT/GC keeps it near 1.1 on a quiet box, so >1.3
    // means the figures are not trustworthy as a trend point.
    val maxNoise = sys.env.get("SPARK_GRAFT_BENCH_MAX_NOISE")
      .map(_.toDouble).getOrElse(1.3)
    val contendedFinal = contended || noise > maxNoise
    // streaming chain throughput (independent of sf — topic-driven):
    // 20k-row pre-published backlog drained by the standing chain
    val streaming =
      if (sys.env.get("SPARK_GRAFT_BENCH_STREAMING").contains("0"))
        ""","streaming":null"""
      else try {
        val (rows, secs, rps, stages) = streamingThroughput(spark,
          totalRows = 20000, chunks = 20)
        s""","streaming":{"rows":$rows,"sec":$secs,"rows_per_sec":$rps,"stages":$stages}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] streaming failed: ${e.getMessage}")
        ""","streaming":null"""
      }
    // the scale serving path, same backlog: retrieval through the
    // persisted index per micro-batch — its rows/s vs the broadcast
    // figure above isolates the per-batch index-join fixed cost
    val streamingIndexed =
      if (sys.env.get("SPARK_GRAFT_BENCH_STREAMING").contains("0"))
        ""","streaming_indexed":null"""
      else try {
        val (rows, secs, rps, stages) = streamingThroughput(spark,
          totalRows = 20000, chunks = 20, indexed = true)
        s""","streaming_indexed":{"rows":$rows,"sec":$secs,"rows_per_sec":$rps,"stages":$stages}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] streaming_indexed failed: ${e.getMessage}")
        ""","streaming_indexed":null"""
      }
    // TTL-state scale probe: 10× the streaming bench's row count through
    // the stateful dedup — state must plateau at the TTL horizon
    // (~(ttl/gap+1) waves), evidencing the bounded-state sizing claim at
    // any multiple. StreamingSpec pins the bound; this records the
    // figures per round.
    val stateProbe =
      if (sys.env.get("SPARK_GRAFT_BENCH_STREAMING").contains("0") ||
          sys.env.get("SPARK_GRAFT_BENCH_STATE").contains("0"))
        ""","state_probe":null"""
      else try {
        val (in, maxR, finR, maxB, secs) =
          stateBoundednessProbe(spark, waves = 20, rowsPerWave = 10000)
        s""","state_probe":{"rows":$in,"max_state_rows":$maxR,"final_state_rows":$finR,"max_state_bytes":$maxB,"sec":$secs}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] state probe failed: ${e.getMessage}")
        ""","state_probe":null"""
      }
    // one scheduling cycle at 200k and 2M frontier rows with the SAME
    // 10k-row due slice: the ratio evidences cycle-cost ∝ due slice
    // (day-bucket pruning), the frontier family's scale claim
    val crawlProbe =
      if (sys.env.get("SPARK_GRAFT_BENCH_CRAWL").contains("0"))
        ""","crawl_probe":null"""
      else try {
        val (upS, secS) = crawlCycleProbe(spark, 200000L, 10000L)
        val (upL, secL) = crawlCycleProbe(spark, 2000000L, 10000L)
        val ratio = if (secS > 0) secL / secS else 0.0
        s""","crawl_probe":{"rows_small":200000,"rows_large":2000000,"due_rows":10000,"updated_small":$upS,"updated_large":$upL,"sec_small":$secS,"sec_large":$secL,"decade_ratio":$ratio}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] crawl probe failed: ${e.getMessage}")
        ""","crawl_probe":null"""
      }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed$streaming$streamingIndexed$stateProbe$crawlProbe$anchor,"noise_median_over_min":$noise,"load_avg":$loadAvg,"load_avg_pre":$loadAvgPre,"contended":$contendedFinal,"contended_pre":$contended,"sf":"$sfDir"}"""
    println(line)
    // full-book artifact (BENCH_r*.json retains only a tail): the
    // complete line ALWAYS lands in a book file so per-query cross-round
    // diffs stay mechanical — SPARK_GRAFT_BENCH_BOOK overrides the path
    // (the round-closing bench writes BENCH_BOOK_r<N>.json and commits
    // it); otherwise BENCH_BOOK_last.json in the working directory.
    // Best-effort: a book-write failure must never fail the bench.
    val bookPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BOOK",
      "BENCH_BOOK_last.json")
    val bookAbs =
      try {
        java.nio.file.Files.writeString(java.nio.file.Paths.get(bookPath),
          line + "\n")
        java.nio.file.Paths.get(bookPath).toAbsolutePath.toString
      } catch { case e: Throwable =>
        System.err.println(s"[bench] book write failed: ${e.getMessage}")
        ""
      }
    // Compact summary as the LAST stdout line: the full line above is
    // ~8 KB (207 queries) and the driver retains only a ~2000-char
    // stdout tail, so for two rounds PERF_r*.json carried no parseable
    // bench figures at all (both parses null — the line was cut
    // mid-object). This line stays well under the tail window and
    // carries the totals, probe summaries, noise evidence and the book
    // path holding the untruncated per-query map. Additions only: the
    // full contract line is untouched, no `queries` entry is removed or
    // renamed.
    val failedNames = results.collect { case (k, _, false, _) => k }
    // "..." marks a list cut at 20 names (n_failed carries the full count)
    val failedCompact = (failedNames.take(20) ++
        (if (failedNames.size > 20) Seq("...") else Nil))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    def probeNum(json: String, key: String): String = {
      // pull one numeric field out of an already-rendered probe fragment
      val m = (s""""$key":(-?[0-9.Ee+-]+)""").r.findFirstMatchIn(json)
      m.map(_.group(1)).getOrElse("null")
    }
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"total_sec":$total,"n_failed":${failedNames.size},"failed":$failedCompact$anchor,"noise":$noise,"noise_median_over_min":$noise,"streaming_rps":${probeNum(streaming, "rows_per_sec")},"streaming_indexed_rps":${probeNum(streamingIndexed, "rows_per_sec")},"state_probe_sec":${probeNum(stateProbe, "sec")},"crawl_decade_ratio":${probeNum(crawlProbe, "decade_ratio")},"load_avg":$loadAvg,"load_avg_pre":$loadAvgPre,"contended":$contendedFinal,"contended_pre":$contended,"sf":"$sfDir","book":"$bookAbs"}"""
    println(compact)
    spark.stop()
  }
}
