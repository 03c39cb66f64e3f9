package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.operators.Checkpoint
import graft.pipeline.CoachingPipeline

/** A conversation message with its event time — the typed record for the
  * stateful conversation-tail operator. */
final case class ConversationMsg(message: String, speaker: String,
                                 ts: java.sql.Timestamp)

/** Structured-Streaming forms of the reference's streaming semantics
  * (SURVEY.md §2.9).
  *
  * The coaching chain itself is stateless (map/explode only) so the same
  * CoachingPipeline stages run unchanged on a streaming DataFrame; this
  * object holds the genuinely stateful/streaming-specific pieces.
  */
object StreamingOps {

  /** T3: at-least-once dedup — MD5(message) with a TTL window, the Spark
    * equivalent of the app's 300 s in-memory dedup dict (reference
    * app/utils/kafka_utils.py:208-249). The watermark plays the TTL role:
    * state for keys older than `ttl` is dropped, bounding state size.
    * Requires an event-time column `tsCol`. */
  def dedupWithTtl(df: DataFrame, msgCol: String, tsCol: String,
                   ttl: String = "5 minutes"): DataFrame =
    df.withColumn("message_md5", md5(col(msgCol)))
      .withWatermark(tsCol, ttl)
      .dropDuplicatesWithinWatermark("message_md5")
      .drop("message_md5")

  /** Streaming corpus curation — CurationPipeline's gates verbatim
    * (stateless codegen'd column expressions, one definition for both
    * execution models) behind the TTL content dedup. The only semantic
    * delta vs batch `curate` is the dedup representative: streaming
    * keeps the FIRST-ARRIVED row per content hash inside the watermark,
    * batch keeps the min-id row — identical at the content level (same
    * text ⇒ same gate verdict), which StreamingSpec pins by comparing
    * kept content-hash sets. */
  def curateStream(docs: DataFrame, cfg: graft.pipeline.CurationPipeline.Config,
                   textCol: String, tsCol: String,
                   ttl: String = "5 minutes"): DataFrame =
    dedupWithTtl(docs, textCol, tsCol, ttl)
      .filter(graft.pipeline.CurationPipeline.verdict(col(textCol), cfg) === "keep")

  /** Streaming face of the crawl front half: WARC shards arriving as a
    * stream (a crawler drops gzip shards; the file source picks them
    * up) → response rows → robots.txt compliance gate → extracted text
    * → the curation verdict gate. Every stage is a STATELESS codegen'd
    * transform (the shard parse is partition-local mapPartitions; the
    * robots verdict is a stream-static broadcast join + one scalar
    * aggregate expression — [[graft.functions.Robots.rulesByDomain]]'s
    * windowless form, the only robots face legal on a stream), so the
    * one pipeline definition serves batch backfills and the standing
    * query identically — WebCorpusSpec pins batch/stream row parity
    * through the robots stage. Word counting skips empty tokens: an
    * empty extraction is 0 words, so the minWords=1 default really
    * does drop empty pages. Emits (target_uri, text, n_words) for kept
    * pages; compose the URL ops / dedup / domain-cap stages downstream
    * exactly as in curate_web_e2e.
    *
    * `robotsRules` is [[graft.functions.Robots.parseRules]] output
    * keyed by HOST (robots.txt is per-origin); when given, pages whose
    * (host, path+query) the agent's rules disallow are dropped before
    * any text work. `decodeCharsets` swaps the shard parse to the
    * charset-sniffing reader ([[graft.io.Warc.fromShardsDecoded]]:
    * BOM > header > meta > utf-8, cp1252 alias absorption) — still a
    * stateless partition-local map, so the stream stays legal; off by
    * default to keep the utf-8 fast path and curate_web_e2e's oracle
    * law unchanged. `carryValidators` (requires decodeCharsets — the
    * plain reader does not expose headers) rides the capture's
    * ETag/Last-Modified through the whole gate chain and emits them
    * as `etag` (raw, null when the capture had none) and
    * `last_modified` (IMF-fixdate parsed to epoch seconds via
    * [[graft.functions.TextExtraction.imfFixdateEpoch]]; obsolete
    * forms null) — exactly the frontier's validator columns, so the
    * standing ingest can feed recrawlUpdates without a second shard
    * pass. */
  def webIngestStream(shards: DataFrame,
                      cfg: graft.pipeline.CurationPipeline.Config =
                        graft.pipeline.CurationPipeline.Config(),
                      minWords: Int = 1,
                      robotsRules: Option[DataFrame] = None,
                      agent: String = "*",
                      decodeCharsets: Boolean = false,
                      dropSoft404: Boolean = false,
                      carryValidators: Boolean = false): DataFrame = {
    import graft.functions.{Robots, UrlOps}
    require(!carryValidators || decodeCharsets,
      "webIngestStream: carryValidators needs decodeCharsets=true — " +
        "the utf-8 fast-path reader does not expose response headers")
    val clean = graft.functions.TextExtraction.stripHtml(col("body_text"))
    val validatorCols =
      if (carryValidators)
        Seq(when(length(col("etag")) > 0, col("etag"))
            .otherwise(lit(null).cast("string")).as("etag"),
          graft.functions.TextExtraction
            .imfFixdateEpoch(col("last_modified")).as("last_modified"))
      else Seq.empty[org.apache.spark.sql.Column]
    val rows =
      if (decodeCharsets)
        graft.io.Warc.fromShardsDecoded(shards)
          .select(Seq(col("target_uri"), col("http_status"),
            col("body_text")) ++ validatorCols: _*)
      else graft.io.Warc.fromShards(shards)
    val polite = robotsRules match {
      case Some(rules) =>
        val byDomain = Robots.rulesByDomain(rules, agent)
        rows.withColumn("__robots_host", UrlOps.hostOf(col("target_uri")))
          .join(broadcast(byDomain),
            col("__robots_host") === byDomain("domain"), "left")
          .filter(Robots.allowedCol(
            UrlOps.pathOf(col("target_uri")), col("robots_rules")))
          .drop("__robots_host", "domain", "robots_rules")
      case None => rows
    }
    val carried =
      if (carryValidators) Seq(col("etag"), col("last_modified"))
      else Seq.empty[org.apache.spark.sql.Column]
    val extracted = polite
      .select(Seq(col("target_uri"), clean.as("text")) ++ carried: _*)
      .withColumn("n_words",
        size(filter(split(col("text"), "[ \n]"), t => length(t) > 0)))
      .filter(col("n_words") >= minWords &&
        graft.pipeline.CurationPipeline.verdict(col("text"), cfg) === "keep")
    // the soft-404 gate (200-status error shells) rides the same
    // stateless chain — AFTER extraction, where the heuristic's
    // visible-text law is defined
    if (dropSoft404)
      extracted.filter(
        !graft.functions.TextExtraction.isSoft404(col("text")))
    else extracted
  }

  /** W1/W2 in streaming: a global updating top-N is unsupported in
    * append mode (SURVEY.md §7.4 #1), so the view is recomputed per
    * micro-batch — 6 rows of state, negligible at any scale since
    * recentHistory plans TakeOrderedAndProject (per-partition top-6). */
  def recentHistorySink(messages: DataFrame, tsCol: String, n: Int = 6)(
      emit: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    messages.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        emit(CoachingPipeline.recentHistory(batch, tsCol, n))
      }

  /** Kafka-parity source: subscribe + deserialize shape for a deployment
    * with real brokers. Options mirror the reference tables'
    * read-uncommitted isolation (generate_personalized_commands.sh:275). */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession, brokers: String,
                  topic: String, startingOffsets: String = "latest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("kafka.isolation.level", "read_uncommitted")
      .load()

  /** Kafka-parity sink (S2): every derived stage materializes to its own
    * topic (reference generate_personalized_commands.sh:315,347,355,367,412).
    * `df` must already be (key STRING, value BINARY) — Avro-framed via
    * io.AvroCodec, exactly the bytes the local topic store writes. */
  def kafkaSink(df: DataFrame, brokers: String, topic: String,
                checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.selectExpr("CAST(key AS STRING) AS key", "value")
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** T5 (stateful form): the last-`n` conversation tail kept as explicit
    * operator state via flatMapGroupsWithState — the
    * KeyValueGroupedDataset custom-state API (SURVEY.md §7.4 #1's second
    * option). Emits the full updated tail snapshot once per micro-batch
    * that changes it.
    *
    * State is a single constant-keyed group holding ≤ n rows — tiny by
    * construction, but funneled through ONE task: correct for a 6-row
    * view, an anti-pattern for anything larger (use the per-batch
    * recompute in recentHistorySink instead). Ties on ts break by
    * (message, speaker) so snapshots are deterministic. */
  def conversationTailState(ds: Dataset[ConversationMsg], n: Int = 6)
      : Dataset[Seq[ConversationMsg]] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_ => 0)
      .flatMapGroupsWithState[Seq[ConversationMsg], Seq[ConversationMsg]](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_, msgs, state: GroupState[Seq[ConversationMsg]]) =>
          val merged = (state.getOption.getOrElse(Seq.empty) ++ msgs)
            .sortBy(m => (m.ts.getTime, m.message, m.speaker))
            .takeRight(n)
          state.update(merged)
          Iterator.single(merged)
      }
  }

  /** One time-series point for [[rollingAnomalyState]]. */
  final case class SeriesPoint(seriesId: Long, eventId: Long,
                               tsSec: Long, value: Double)
  /** A flagged anomaly: z-score of `value` against the trailing window
    * that PRECEDED it. */
  final case class AnomalyHit(seriesId: Long, eventId: Long,
                              tsSec: Long, value: Double, z: Double)

  /** Streaming per-series rolling anomaly detection — the streaming
    * face of q17_rolling_anomaly, as EXPLICIT operator state: per
    * series, a bounded deque of the last `window` values; each arriving
    * point is z-scored against the deque as it stood BEFORE the point
    * (the batch form's PRECEDING-only frame) and emitted when
    * round(z, 6) ≥ `sigma`. State is `window` doubles per ACTIVE
    * series — O(active series), independent of stream length.
    *
    * Ordering contract: points are folded in (tsSec, eventId) order
    * WITHIN each micro-batch (so intra-batch order is event-time
    * deterministic); across batches the fold follows arrival order,
    * the standard stateful-streaming tradeoff — a point arriving a
    * batch late scores against a window that already absorbed newer
    * points. Where perfect event-time frames matter, run the batch
    * form over the landed data; this face is the low-latency monitor.
    * StreamingSpec pins in-order parity with the batch query. */
  def rollingAnomalyState(ds: Dataset[SeriesPoint], window: Int = 20,
                          sigma: Double = 3.0): Dataset[AnomalyHit] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.seriesId)
      .flatMapGroupsWithState[Seq[Double], AnomalyHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, points, state: GroupState[Seq[Double]]) =>
          var tail = state.getOption.getOrElse(Seq.empty)
          val hits = points.toSeq.sortBy(p => (p.tsSec, p.eventId))
            .flatMap { p =>
              val hit =
                if (tail.length < 2) None
                else {
                  val mu = tail.sum / tail.length
                  val varS = tail.map(x => (x - mu) * (x - mu)).sum /
                    (tail.length - 1)
                  val sd = math.sqrt(varS)
                  if (sd == 0.0) None
                  else {
                    val z = BigDecimal((p.value - mu) / sd)
                      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                    if (z >= sigma)
                      Some(AnomalyHit(p.seriesId, p.eventId, p.tsSec,
                        p.value, z))
                    else None
                  }
                }
              tail = (tail :+ p.value).takeRight(window)
              hit
            }
          state.update(tail)
          hits.iterator
      }
  }

  /** Trending terms: per event-time window, token counts over the
    * message stream — the streaming face of the heavy-hitter family
    * (operators.HeavyHitters is the batch/exact form). Watermarked
    * windowed aggregation: state per (window, token), dropped when the
    * watermark passes the window end — bounded by the live windows ×
    * vocabulary-in-window, never the stream's history. Emit in Update
    * mode and rank downstream, or filter `cnt >= minCount` here for a
    * threshold view (a per-window TOP-N would need a rank over a
    * still-open window — not expressible in a streaming plan; the
    * standard pattern is this windowed count + a small batch rank over
    * the sink, exactly how recentHistorySink treats its view). */
  def trendingTerms(messages: DataFrame, msgCol: String, tsCol: String,
                    window: String = "1 minute", slide: String = "30 seconds",
                    delay: String = "30 seconds",
                    minCount: Long = 1L): DataFrame =
    messages
      .withWatermark(tsCol, delay)
      .select(col(tsCol),
        explode(regexp_extract_all(lower(col(msgCol)),
          lit("[a-z0-9]+"), lit(0))).as("term"))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol),
        window, slide), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** Streaming SESSIONIZATION — the streaming face of q10_sessionize's
    * batch gap-sessions, on the native `session_window` (gap-based,
    * merging): events of one user that arrive within `gap` of the open
    * session extend it (the engine merges session fragments across
    * micro-batches, including out-of-order ones above the watermark);
    * a session's row is emitted ONCE, when the watermark passes its
    * end — append mode, no retractions, the contract a downstream
    * training-data sessionizer needs. State is one entry per (user,
    * OPEN session), dropped at emission — bounded by concurrently
    * active users, never by history (the q10 batch form's full-history
    * window sort, turned into O(active users) state).
    * Returns (userCol, session_start, session_end, n_events); the
    * session end is last-event + gap, the window-end convention (the
    * batch form's closed span is [start, end − gap]). */
  def sessionizeStream(events: DataFrame, userCol: String, tsCol: String,
                       gap: String = "30 minutes",
                       delay: String = "30 seconds"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(col(userCol), session_window(col(tsCol), gap).as("session"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("n_events"))

  /** Stream-stream INTERVAL JOIN — correlating two live streams without
    * landing either (e.g. each prospect message with the coaching
    * responses that follow it within `within`; the reference runs this
    * correlation implicitly through its topic chain, here it is one
    * declarative join): inner equi-join on `key` plus the event-time
    * range rightTs ∈ [leftTs, leftTs + within]. Both sides carry
    * watermarks and the range bound is what lets the engine EXPIRE
    * buffered rows — state is O(rows in flight inside the interval),
    * never unbounded; a row joins with everything eligible and is
    * dropped once the other side's watermark passes its reach. Append
    * mode: a pair is emitted exactly once, when it becomes provably
    * complete. Column names must be disjoint across sides (the usual
    * stream-join contract; prefix upstream). */
  def intervalJoinStreams(left: DataFrame, right: DataFrame,
                          leftKey: String, rightKey: String,
                          leftTs: String, rightTs: String,
                          within: String = "5 minutes",
                          delay: String = "30 seconds"): DataFrame =
    left.withWatermark(leftTs, delay)
      .join(right.withWatermark(rightTs, delay),
        expr(s"$leftKey = $rightKey AND " +
          s"$rightTs >= $leftTs AND $rightTs <= $leftTs + interval $within"))

  /** T6: offset management. Spark's consumer position IS the checkpoint:
    * `startingOffsets` only applies to a fresh query, so the reference's
    * offset-reset utility (app/scripts/kafka/reset_consumer_group.py:21-110
    * — seek all partitions to the high watermark and commit) maps to
    * deleting the checkpoint and restarting with startingOffsets=latest.
    * Destructive by design, like the reset script. */
  def resetOffsets(checkpointDir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val d = new java.io.File(checkpointDir)
    if (d.exists()) rm(d)
  }

  /** S4, DEMO SCALE ONLY — prefer [[indexUpsertSink]], which appends to
    * the persisted IVF-Flat index as a distributed partitioned write
    * with no driver collect and no in-memory bound. This sink feeds the
    * broadcastable [[graft.store.InMemoryVectorStore]] (the Spark analog
    * of the reference's MongoDB sink connector, main.tf:594-635) and
    * COLLECTS EVERY MICRO-BATCH TO THE DRIVER; replays (at-least-once)
    * are idempotent because the store keys by (document_id, chunk hash).
    * `maxRowsPerBatch` is the safety rail on that collect: a micro-batch
    * past the budget RAISES with a pointer to the index sink instead of
    * silently materializing it on the driver. */
  def upsertSink(indexStream: DataFrame, store: graft.store.InMemoryVectorStore,
                 maxRowsPerBatch: Long = 100000L)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    indexStream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // +1 so an over-budget batch is DETECTED without collecting all
        // of it: the guard needs only "more than budget", never the
        // full overflow on the driver. Budgets at/above Int.MaxValue
        // saturate instead of overflowing (Long.MaxValue + 1 would wrap
        // negative and silently limit(0) every batch away).
        val probe =
          if (maxRowsPerBatch >= Int.MaxValue) Int.MaxValue
          else (maxRowsPerBatch + 1).toInt
        val rows = batch
          .select(col("document_id"), col("chunks"), col("embedding"))
          .limit(probe)
          .collect()
        if (rows.length > maxRowsPerBatch)
          throw new IllegalStateException(
            s"upsertSink: micro-batch exceeds maxRowsPerBatch=$maxRowsPerBatch " +
              "— this sink collects each batch to the driver and targets " +
              "broadcastable demo corpora; use StreamingOps.indexUpsertSink " +
              "(distributed partitioned append, no driver collect) instead")
        store.upsertAll(
          rows.map(r => (r.getString(0), r.getString(1),
            r.getSeq[Float](2).toArray)))
      }

  /** Streaming CDC apply — each micro-batch of changelog rows
    * (id, seq, op∈upsert|delete, payload…) folds into a BUCKETED
    * versioned parquet snapshot via
    * [[graft.pipeline.CurationPipeline.applyChangelogVersioned]]: the
    * corpus stays continuously materialized without ever reprocessing
    * unchanged rows, and — the 100 TB property — without ever
    * REWRITING unchanged rows either.
    *
    * Layout (copy-on-write at key-hash-bucket granularity, the
    * Delta/Hudi shape on plain parquet):
    * {{{
    * root/_CURRENT          tiny pointer: id of the live manifest
    * root/_manifests/m<N>   immutable manifest: bucket count B + the
    *                        (bucket → bucket-version) map of snapshot N
    * root/b<b>/v<k>         immutable parquet dir: bucket b at its
    *                        version k (id, payload…, __seq, __deleted)
    * }}}
    * Rows land in bucket `pmod(hash(id), B)` (Murmur3 — stable across
    * runs). Each micro-batch touches only the buckets its keys hash
    * into: the base side of the merge join READS only those buckets'
    * current dirs, and the rewrite WRITES only their next versions —
    * per-batch IO ∝ changelog ∪ touched buckets, never ∝ base (at a
    * 100 TB base with seconds-cadence batches the previous
    * whole-snapshot rewrite was O(|base|) amplification per batch;
    * StreamingSpec's bytes-written probe pins the proportionality).
    * Untouched buckets keep their version dirs byte-identical —
    * manifest N simply re-references them. Readers ([[readSnapshot]])
    * resolve `_CURRENT` → one immutable manifest → immutable bucket
    * dirs, so the pointer swap (write-temp-then-rename in
    * `SmallFiles.replace`, atomic on HDFS and POSIX) can never hand
    * them a half-written snapshot or a torn mix of bucket versions, and past
    * snapshots stay readable (`readSnapshot(version = Some(n))` time
    * travel) until `keepVersions` retention prunes their manifests
    * and any bucket versions no retained manifest references.
    *
    * At-least-once safe BOTH ways: replaying an identical batch
    * re-applies the same max-seq winners, and a STALE change
    * redelivered in a LATER batch (lower seq than already applied)
    * is rejected against the snapshot's stored per-key `__seq` —
    * deletes persist as tombstone rows precisely so a late stale
    * upsert cannot resurrect them. Distributed end-to-end — the merge
    * is the versioned window+join; the driver only lists touched
    * buckets (bounded by B) and swaps the pointer.
    *
    * Cost per trigger: the batch is read ONCE — one checkpoint job
    * yields its touched-bucket set (empty = nothing to do) and feeds the
    * merge — then the publish runs its staging write. A 15-edit trigger
    * into a 16-bucket store runs 4 Spark jobs (IndexSyncSpec pins it).
    * The schema-evolution check runs on every batch, before that job,
    * so a refused change raises even on an empty batch.
    *
    * `numBuckets` sizes bucket dirs (target ≈ base/B per bucket; at
    * 100 TB pick B so a bucket is a few GB). It is FIXED at snapshot
    * creation — the stored value wins on every later batch, so a
    * restarted sink with a different parameter cannot split the
    * keyspace inconsistently. */
  def snapshotUpsertSink(changeStream: DataFrame, root: String,
                         idCol: String = "doc_id", seqCol: String = "seq",
                         opCol: String = "op",
                         payloadCols: Seq[String] = Seq("text"),
                         keepVersions: Int = 3,
                         numBuckets: Int = 16,
                         writerId: String = "default")
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    require(numBuckets >= 1, s"numBuckets must be >= 1: $numBuckets")
    changeStream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        val spark = batch0.sparkSession
        val fs = snapshotFs(spark, root)
        val cur = currentSnapshotManifest(fs, root)
        val b = cur.map(_.numBuckets).getOrElse(numBuckets)
        // the batch's own layout shape (id, payload…, __seq,
        // __deleted)
        val batchSchema = org.apache.spark.sql.types.StructType(
          (idCol +: payloadCols).map(c => batch0.schema(c)) ++ Seq(
            org.apache.spark.sql.types.StructField("__seq",
              batch0.schema(seqCol).dataType),
            org.apache.spark.sql.types.StructField("__deleted",
              org.apache.spark.sql.types.BooleanType)))
        // SCHEMA EVOLUTION (add-only + safe promotions): the stored
        // schema comes from the live manifest. Payload columns this
        // sink streams that the store has never seen WIDEN the layout
        // (existing rows read as null there); stored columns this
        // sink does not stream are CARRIED, with upserted rows
        // taking null (an upsert is a full-row replace — the
        // applyChangelogVersioned explicit-null contract).
        // Same-name columns resolve to the WIDER of the two types
        // when one losslessly promotes to the other (integral
        // byte→short→int→long, float→double, recursively through
        // array elements): the manifest records the promoted type
        // and every reader resolves old dirs under it — the
        // parquet readers (vectorized and row-based) perform these
        // widenings natively, so no dir rewrite happens. A batch
        // NARROWER than the store just casts up. Any other type
        // change is a rebuild, not evolution, and raises before
        // anything is staged — including a promotion of the ID
        // column: the bucket layout is keyed by hash(id), which is
        // physical-type-sensitive (hash(1:int) ≠ hash(1L:long)),
        // so an id-type change re-keys every bucket — a full
        // republish by nature, offered as the one-call
        // [[promoteSnapshotIdType]] maintenance op.
        val widened = cur.map(_.schema) match {
          case None => batchSchema
          case Some(st) =>
            require(st.head.name == idCol,
              s"snapshotUpsertSink: the store at $root is keyed by " +
                s"'${st.head.name}' but this sink is configured " +
                s"with idCol '$idCol'")
            val resolved: Map[String, org.apache.spark.sql.types.DataType] =
              batchSchema.flatMap { f =>
                st.find(_.name == f.name).map { old =>
                  // nullableForm inside promotedType: containsNull/
                  // nullability metadata varies by SOURCE (a
                  // MemoryStream's Seq[Float] is containsNull=false,
                  // the same column off parquet/Kafka is true) and
                  // is not a type change
                  val res = promotedType(old.dataType, f.dataType)
                    .getOrElse(throw new IllegalArgumentException(
                      s"snapshotUpsertSink: schema evolution is " +
                        s"add-only — column '${f.name}' is " +
                        s"${old.dataType.sql} in the store at $root " +
                        s"but ${f.dataType.sql} in this sink's " +
                        "stream, and neither losslessly promotes " +
                        "to the other; a type change requires a " +
                        "rebuild"))
                  if (f.name == idCol &&
                      res != nullableForm(old.dataType))
                    throw new IllegalArgumentException(
                      s"snapshotUpsertSink: the id column '$idCol' " +
                        s"cannot promote in place " +
                        s"(${old.dataType.sql} → ${f.dataType.sql}): " +
                        "the bucket layout is keyed by hash(id), " +
                        "which is physical-type-sensitive, so the " +
                        "promotion re-keys every bucket. Run " +
                        "StreamingOps.promoteSnapshotIdType(spark, " +
                        s"root, ${f.dataType.sql}) once (a full " +
                        "republish, like rebucketing), then restart " +
                        "this sink.")
                  f.name -> res
                }
              }.toMap
            val newCols = batchSchema
              .filterNot(f => st.fieldNames.contains(f.name))
            org.apache.spark.sql.types.StructType(
              st.filterNot(f => f.name == "__seq" ||
                  f.name == "__deleted")
                .map(f => f.copy(dataType =
                  resolved.getOrElse(f.name, f.dataType))) ++
              newCols ++ Seq(
                st("__seq").copy(dataType =
                  resolved.getOrElse("__seq", st("__seq").dataType)),
                st("__deleted")))
        }
        val widenedPayload = widened.fieldNames.toSeq
          .filterNot(n => n == idCol || n == "__seq" ||
            n == "__deleted")
        // touched buckets hash the batch ids CAST TO THE LAYOUT'S id
        // type (after evolution resolution, which also raises on a
        // refused change before the batch is read or anything staged):
        // Murmur3 hash is physical-type-sensitive, so a batch whose id is
        // narrower than the store's (int stream into a long-keyed store)
        // would otherwise probe int-hash buckets while the merged rows
        // partition by the long hash — staged buckets outside `touched`
        // are never renamed in, silent loss. ONE materialization of the
        // batch carries the touched set (bounded by B; empty = an empty
        // batch) and feeds the merge, so a non-replayable source is read
        // once. On a cluster, executor loss fails the trigger instead of
        // recomputing the batch; the restarted query replays it
        // (at-least-once, max-seq idempotent).
        val (batch, buckets) = Checkpoint(batch0,
          collect_set(snapshotBucket(
            col(idCol).cast(widened.head.dataType), b)))
        try {
          val touched = buckets.getSeq[Int](0).toSet
          if (touched.nonEmpty) {
            // base aligned to the widened layout (new columns → typed
            // nulls, promoted columns → lossless up-cast); read under
            // the manifest's schema so pre-widening dirs resolve
            // correctly — this publish casts driver-declared, later
            // reads resolve old dirs under the promoted manifest type
            // via the parquet readers' native widening
            val base = {
              val raw = cur.fold(spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                widened))(readBuckets(spark, root, _, touched))
              raw.select(widened.map(f =>
                if (!raw.columns.contains(f.name))
                  lit(null).cast(f.dataType).as(f.name)
                else if (nullableForm(raw.schema(f.name).dataType) !=
                    nullableForm(f.dataType))
                  col(f.name).cast(f.dataType).as(f.name)
                else col(f.name)): _*)
            }
            // batch padded with the carried columns it does not stream,
            // its streamed columns up-cast to the resolved layout types
            // (a batch NARROWER than a promoted store casts up here;
            // a batch that triggered the promotion is already wide)
            def layoutTypeOf(batchCol: String)
                : Option[org.apache.spark.sql.types.DataType] =
              if (batchCol == seqCol) Some(widened("__seq").dataType)
              else widened.find(_.name == batchCol).map(_.dataType)
            val paddedBatch = batch.select(
              batch.columns.toSeq.map { c =>
                layoutTypeOf(c) match {
                  case Some(t) if nullableForm(batch.schema(c).dataType)
                      != nullableForm(t) => col(c).cast(t).as(c)
                  case _ => col(c)
                }
              } ++
              widened.filter(f => !batch.columns.contains(f.name) &&
                f.name != "__seq" && f.name != "__deleted")
                .map(f => lit(null).cast(f.dataType).as(f.name)): _*)
            val merged = graft.pipeline.CurationPipeline
              .applyChangelogVersioned(base, paddedBatch, idCol, seqCol,
                opCol, widenedPayload)
            publishSnapshotVersion(spark, root, merged, idCol, touched,
              cur, b, keepVersions, widened, writerId)
          }
        } finally Checkpoint.release(batch)
      }
  }

  /** Compact the live CDC snapshot: drop tombstone rows whose `__seq`
    * is at or below `horizonSeq` — the CDC horizon past which the
    * source can no longer redeliver (a committed Kafka offset, a
    * shipped LSN) — and publish the rewrite as the next snapshot
    * version (every bucket bumps: compaction is a full pass by
    * nature, the scheduled maintenance job, not the per-batch path).
    * Live rows are untouched, so [[readSnapshot]] output is identical
    * before and after; what changes is the raw layout (tombstone rows
    * gone, files coalesced by the rewrite). BELOW the horizon the
    * stale-rejection memory is gone BY CONTRACT: a seq older than the
    * horizon arriving after compaction would apply — that is exactly
    * what "horizon" promises cannot happen, and StreamingSpec pins
    * both sides of the boundary. Runs the same retention sweep as the
    * sink (a compaction-published version crosses the horizon like
    * any other — without the sweep each compaction would permanently
    * strand one pre-horizon version). Single-writer like the sink:
    * run from the same driver or with the stream paused (two writers
    * racing a version is the layout's documented exclusion, as with
    * any non-catalog table format). */
  def compactSnapshot(spark: org.apache.spark.sql.SparkSession,
                      root: String, horizonSeq: Long,
                      keepVersions: Int = 3): Unit = {
    val (cur, raw) = liveStore(spark, root, keepVersions, "compactSnapshot")
    val compacted = raw.filter(!(coalesce(col("__deleted"), lit(false)) &&
      col("__seq") <= horizonSeq))
    publishSnapshotVersion(spark, root, compacted, idColOf(raw),
      cur.buckets.keySet, Some(cur), cur.numBuckets, keepVersions,
      raw.schema)
  }

  /** The snapshot layout stores (id, payload…, __seq, __deleted) with
    * the id FIRST — applyChangelogVersioned's column order, which
    * publish/compact rely on to re-derive the bucket key without the
    * caller re-stating the id column. */
  private def idColOf(df: DataFrame): String = df.columns.head

  /** Read a CDC snapshot: the live one (`version = None` — resolve
    * `root/_CURRENT`), or a retained past one (`version = Some(n)` —
    * time travel; raises if retention pruned manifest n). Returns None
    * only when no snapshot was ever committed. Tombstone rows and the
    * `__seq`/`__deleted` version metadata are stripped by default —
    * `includeTombstones = true` exposes the raw layout (compaction,
    * audits). */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
                   includeTombstones: Boolean = false,
                   version: Option[Long] = None)
      : Option[DataFrame] = {
    val fs = snapshotFs(spark, root)
    val id = version.orElse(currentSnapshotId(fs, root))
    id.map { n =>
      val m = manifestAt(fs, root, n, "readSnapshot", version.isDefined)
      val raw = readBuckets(spark, root, m, m.buckets.keys)
      if (includeTombstones) raw
      else raw.filter(!coalesce(col("__deleted"), lit(false)))
        .drop("__seq", "__deleted")
    }
  }

  /** CDC OUT — the changelog BETWEEN two retained snapshots, emitted in
    * [[graft.pipeline.CurationPipeline.applyChangelogVersioned]]'s own
    * input shape (id, seq, op ∈ upsert|delete, payload…), so a
    * downstream consumer holding snapshot `fromVersion` replays the
    * result and lands bit-identically on `toVersion` (StreamingSpec
    * pins the closure). The bucketed layout makes the diff incremental:
    * only buckets whose VERSION differs between the two manifests are
    * read — at a 100 TB base where a day of batches touched 1% of the
    * buckets, the diff reads 1% of the data on BOTH sides, where a
    * frame-level diff ([[graft.pipeline.CurationPipeline.snapshotDiff]])
    * scans everything. Per changed bucket the diff is one
    * co-partitioned full-outer join keyed on id; a row changed iff its
    * `__seq` moved (the sink's max-seq winner rule makes equal seq ⇒
    * identical row).
    *
    * Compaction inside the window: a key deleted AND compacted between
    * the two versions exists on neither manifest's to-side — the
    * from-only row still emits a delete (with a fabricated seq, see the
    * join comment) or the consumer would silently keep it alive.
    * Compaction of tombstones that were ALREADY deletes at
    * `fromVersion` emits nothing — the closure contract is the LIVE
    * view across compactions, and raw-layout-identical for
    * compaction-free windows (StreamingSpec pins both).
    *
    * `toVersion` None = the live snapshot. Raises when either manifest
    * was pruned by retention — emit changelogs within the retained
    * window, or raise `keepVersions`. */
  def snapshotChangelog(spark: org.apache.spark.sql.SparkSession,
                        root: String, fromVersion: Long,
                        toVersion: Option[Long] = None): DataFrame = {
    val fs = snapshotFs(spark, root)
    val toId = toVersion.orElse(currentSnapshotId(fs, root)).getOrElse(
      throw new IllegalStateException(
        s"snapshotChangelog: no committed snapshot at $root"))
    require(fromVersion <= toId,
      s"snapshotChangelog: fromVersion $fromVersion is newer than $toId")
    val mTo = manifestAt(fs, root, toId, "snapshotChangelog",
      checkCommitted = true)
    val mFrom = manifestAt(fs, root, fromVersion, "snapshotChangelog",
      checkCommitted = true)
    // only buckets whose version moved hold changes
    val changed = mTo.buckets.filter { case (bk, v) =>
      !mFrom.buckets.get(bk).contains(v) }.keySet
    // the emission shape is the TO side's schema (schema evolution is
    // add-only, so it is a superset of the from side's; from-only
    // delete rows carry nulls for every payload column anyway)
    val schema = mTo.schema
    val idCol = schema.head.name
    val toRaw = readBuckets(spark, root, mTo, changed)
    if (changed.isEmpty) changelogShape(toRaw)
    else {
      val fromSide = readBuckets(spark, root, mFrom, changed)
        .select(col(idCol), col("__seq").as("__from_seq"),
          col("__deleted").as("__from_deleted"))
      // FULL outer: a row present only on the FROM side was deleted in
      // the window AND its tombstone was already compacted away — it
      // must still emit a delete or the consumer diverges silently. Its
      // true delete seq is gone with the tombstone, so emit
      // from_seq + 1: ≤ the true seq (a delete's seq strictly exceeds
      // the live seq it deleted) and < any future change (which must
      // carry seq > the compaction horizon ≥ the true seq) — so the
      // fabricated seq converges under exactly the horizon contract
      // compaction already promises. FROM-side tombstones compacted in
      // the window emit nothing: the state didn't change, only the raw
      // layout (closure on the LIVE view holds across compactions; the
      // raw layouts converge once the consumer compacts with the same
      // horizon).
      val toExists = col("__seq").isNotNull
      changelogShape(
        toRaw.join(fromSide, Seq(idCol), "full_outer")
          .filter(
            (toExists && (col("__from_seq").isNull ||
              col("__from_seq") =!= col("__seq"))) ||
            (!toExists && !coalesce(col("__from_deleted"), lit(false))))
          // materialize the side flag BEFORE rewriting __seq — the
          // rewrite makes __seq non-null everywhere, so a later
          // col("__seq").isNotNull would silently flip deletes to
          // upserts for the from-only rows
          .withColumn("__to_exists", toExists)
          .withColumn("__seq", when(col("__to_exists"), col("__seq"))
            .otherwise {
              // overflow must fail LOUDLY: a wrapped fabricated seq
              // would be rejected by the consumer's stale check and
              // silently keep the deleted key alive — the exact
              // divergence this branch exists to prevent. (A from-side
              // seq at the type's max means the seq space is exhausted
              // — pathological, but silence is not an option.)
              val fab = col("__from_seq").cast("long") + lit(1L)
              val fabT = fab.cast(schema("__seq").dataType)
              when(fabT.cast("long") === fab &&
                  fab > col("__from_seq").cast("long"), fabT)
                .otherwise(raise_error(lit("snapshotChangelog: " +
                  "fabricated delete seq overflows the stored seq type")))
            })
          .withColumn("__deleted",
            when(col("__to_exists"), coalesce(col("__deleted"), lit(false)))
              .otherwise(lit(true)))
          .drop("__from_seq", "__from_deleted", "__to_exists"))
    }
  }

  /** The changelog emission shape shared by [[snapshotChangelog]] and
    * [[nextChangelogBatch]]'s bootstrap: raw snapshot columns
    * (id, payload…, __seq, __deleted) → (id, seq, op, payload…), the
    * exact input shape of
    * [[graft.pipeline.CurationPipeline.applyChangelogVersioned]]. */
  private def changelogShape(raw: DataFrame): DataFrame = {
    val idCol = idColOf(raw)
    val payloadCols = raw.columns
      .filterNot(Set(idCol, "__seq", "__deleted")).toSeq
    raw.select((Seq(col(idCol), col("__seq").as("seq"),
      when(coalesce(col("__deleted"), lit(false)), lit("delete"))
        .otherwise(lit("upsert")).as("op")) ++
      payloadCols.map(col)): _*)
  }

  /** At-least-once incremental consumption of a snapshot store — the
    * consumer half of [[snapshotChangelog]]: resolve the cursor (last
    * DELIVERED snapshot id, a tiny text file at `cursorPath`), emit the
    * cursor→live changelog, and return a commit callback that advances
    * the cursor with the same atomic temp+rename(OVERWRITE) swap the
    * store's pointer uses. Crash before commit ⇒ the next pull re-emits
    * the same window — at-least-once, and safe to re-apply because the
    * changelog shape is max-seq idempotent by construction. A FIRST
    * pull (no cursor) bootstraps with the full live state incl.
    * tombstones-as-deletes, so the downstream copy inherits the per-key
    * seq memory and stale redelivery stays rejected there too. Returns
    * None when no snapshot is newer than the cursor. A cursor older
    * than retention raises ([[snapshotChangelog]]'s pruned-version
    * error): re-bootstrap (delete the cursor) or raise `keepVersions`
    * to cover the consumer's worst lag. */
  def nextChangelogBatch(spark: org.apache.spark.sql.SparkSession,
                         root: String, cursorPath: String)
      : Option[(Long, DataFrame, () => Unit)] = {
    val fs = snapshotFs(spark, root)
    val live = currentSnapshotId(fs, root).getOrElse(return None)
    // the cursor may live on a DIFFERENT filesystem than the store
    // (local state dir vs an object-store root): resolve it against its
    // OWN fs and qualify the path, so the read and the commit below
    // agree on one filesystem
    val cfs = new org.apache.hadoop.fs.Path(cursorPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cPath = cfs.makeQualified(
      new org.apache.hadoop.fs.Path(cursorPath))
    val cursor: Option[Long] =
      if (!cfs.exists(cPath)) None
      else Some(graft.io.SmallFiles.readText(cfs, cPath).trim.toLong)
    if (cursor.contains(live)) return None
    // a cursor NEWER than live means the store was rebuilt under the
    // consumer (a deleted/recreated root starts over at 0) — without
    // this check every pull crashes deep in snapshotChangelog's
    // fromVersion <= toId require with no hint that the CURSOR is the
    // problem
    cursor.filter(_ > live).foreach { c =>
      throw new IllegalStateException(
        s"nextChangelogBatch: cursor $cursorPath holds snapshot $c but " +
          s"the store at $root is only at $live — the store was rebuilt " +
          "or replaced under this consumer. Re-bootstrap by RESETTING " +
          "THE CONSUMER'S DERIVED STATE together with the cursor file: " +
          "deleting the cursor alone makes the next pull replay the " +
          "full live state, but a rebuilt store restarts seqs lower, " +
          "so state keyed by the old seqs (e.g. a synced vector " +
          "index's versioned rows) would win over the replay and be " +
          "served stale. Clear or recreate the downstream copy, then " +
          "delete the cursor.")
    }
    val frame = cursor match {
      case Some(c) => snapshotChangelog(spark, root, c, Some(live))
      case None =>
        // bootstrap: the full live state in the same changelog shape
        changelogShape(readSnapshot(spark, root, includeTombstones = true,
          version = Some(live)).get)
    }
    val commit = () =>
      graft.io.SmallFiles.replaceText(cfs, cPath, live.toString)
    Some((live, frame, commit))
  }

  /** GROW the bucket count of a live snapshot store (B → B′, B′ > B) —
    * the maintenance op for a corpus that outgrew its creation-time
    * `numBuckets` (bucket dirs past a few GB stop being cheap to
    * rewrite). One full republish of the live rows under the new hash
    * (rebucketing is a full pass BY NATURE — every row can move), with
    * the usual atomic manifest/pointer commit: readers see the old
    * layout or the new one, never a mix, retained pre-rebucket
    * manifests stay time-travel readable against their immutable dirs
    * until retention prunes them (the manifest-diff pruning then
    * removes the old-hash dirs — bucket versions stay monotone across
    * the boundary because overlapping bucket ids keep their version
    * floor). Per-key `__seq` and tombstones carry through, so
    * stale-rejection memory survives, and a pure rebucket emits an
    * EMPTY [[snapshotChangelog]] (no `__seq` moved — a layout change is
    * not a state change). SHRINKING is refused: a bucket id dropped
    * from the manifest map would break the retention invariant that
    * maps only grow. Single-writer like every maintenance op here. */
  def rebucketSnapshot(spark: org.apache.spark.sql.SparkSession,
                       root: String, newBuckets: Int,
                       keepVersions: Int = 3): Unit = {
    // NOT persisted: publish runs exactly ONE action over the read
    // (the staged write; schema/idColOf are metadata-only), so a cache
    // would be a second full copy of the store for zero reuse
    val (cur, raw) = liveStore(spark, root, keepVersions, "rebucketSnapshot")
    require(newBuckets > cur.numBuckets,
      s"rebucketSnapshot: newBuckets $newBuckets must EXCEED the " +
        s"current ${cur.numBuckets} (grow-only; shrinking would break " +
        "the monotone bucket-map retention invariant)")
    // synthetic prev: same id (so the manifest counter continues) and
    // the old bucket map as per-bucket VERSION FLOORS (monotonicity
    // across the boundary — grow-only means every old id < newB).
    // touched = EVERY new bucket: the new manifest must map all B′
    // ids under the new hash — an unmapped id would lose its version
    // floor (a later batch restarting it at v0 would collide with
    // dirs retained pre-rebucket manifests still reference), and a
    // carried old-hash entry would corrupt reads. Buckets the new
    // hash leaves empty cost one batched template job + a file copy
    // each (see publishSnapshotVersion), not a job each.
    publishSnapshotVersion(spark, root, raw, idColOf(raw),
      (0 until newBuckets).toSet,
      Some(SnapshotManifest(cur.id, newBuckets, cur.buckets, cur.schema)),
      newBuckets, keepVersions, raw.schema)
  }

  /** PROMOTE the id column's type of a live snapshot store (lossless
    * widening only: byte→short→int→long — the headroom move a source
    * makes before its key space overflows). Unlike payload/seq
    * promotions, which [[snapshotUpsertSink]] absorbs in place (the
    * manifest records the wider type, the parquet readers widen old
    * dirs natively), the id cannot promote in place: the bucket layout
    * is keyed by `hash(id)` and Spark's Murmur3 hash is
    * physical-type-sensitive (hash(1:int) ≠ hash(1L:long)), so the
    * promotion re-keys EVERY bucket. This op is therefore a full
    * republish under the new hash — a full pass by nature, exactly
    * like [[rebucketSnapshot]] — with the usual atomic manifest/
    * pointer commit: readers see the old typing or the new one, never
    * a mix; retained pre-promotion manifests stay time-travel readable
    * against their immutable dirs; per-key `__seq` and tombstones
    * carry through (stale-rejection memory survives); and the pure
    * promotion emits an EMPTY [[snapshotChangelog]] (no `__seq` moved —
    * a key-typing change is not a state change; the cross-era diff
    * join coerces the id types). Single-writer like every maintenance
    * op here; restart sinks with the widened stream type afterwards. */
  def promoteSnapshotIdType(spark: org.apache.spark.sql.SparkSession,
                            root: String,
                            newType: org.apache.spark.sql.types.DataType,
                            keepVersions: Int = 3): Unit = {
    val (cur, raw) =
      liveStore(spark, root, keepVersions, "promoteSnapshotIdType")
    val idCol = idColOf(raw)
    val oldType = raw.schema(idCol).dataType
    val res = promotedType(oldType, newType)
    require(res.contains(nullableForm(newType)) &&
        nullableForm(oldType) != nullableForm(newType),
      s"promoteSnapshotIdType: ${oldType.sql} does not losslessly " +
        s"promote to ${newType.sql} (widening only — anything else is " +
        "a rebuild)")
    val promoted = raw.withColumn(idCol, col(idCol).cast(newType))
    // same synthetic-prev recipe as rebucketSnapshot: every bucket is
    // touched (the new hash moves rows arbitrarily), the old bucket map
    // carries the per-bucket version floors
    publishSnapshotVersion(spark, root, promoted, idCol,
      (0 until cur.numBuckets).toSet,
      Some(cur),
      cur.numBuckets, keepVersions, promoted.schema)
  }

  /** Point lookup against a CDC snapshot: the serving read the bucketed
    * layout exists for — resolve the manifest, hash the requested keys
    * to their buckets (the SAME Murmur3 expression the sink partitions
    * by, evaluated over a 1-partition local frame so driver and layout
    * can never disagree on the hash), and scan ONLY those buckets'
    * current dirs with the key filter pushed into the parquet read. At
    * a 100 TB base with B = 64 k buckets a 1-key lookup reads 1/64k of
    * the data; a readSnapshot+filter would list every bucket. Returns
    * the live rows among `keys` (tombstoned and absent keys yield no
    * row), metadata stripped. None when no snapshot was committed. */
  def lookupSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
                     keys: Seq[Any], version: Option[Long] = None)
      : Option[DataFrame] = {
    require(keys.nonEmpty, "lookupSnapshot: empty key list")
    val fs = snapshotFs(spark, root)
    version.orElse(currentSnapshotId(fs, root)).map { n =>
      val m = manifestAt(fs, root, n, "lookupSnapshot", version.isDefined)
      // Spark's Murmur3 hash() is PHYSICAL-type-sensitive (hash(1: int)
      // != hash(1L: long)), so the keys must be cast to the STORED id
      // type (the manifest schema's first field) before bucketing —
      // otherwise a caller passing Ints against a Long id column would
      // probe the wrong buckets and silently conclude the keys are
      // absent.
      val idField = m.schema.head
      // key → bucket via the layout's own expression; local 1-partition
      // frame, so the "job" is a driver-side collect of |keys| ints
      val keyDf = spark.createDataFrame(
        spark.sparkContext.parallelize(keys.map(org.apache.spark.sql.Row(_)),
          1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__k",
            org.apache.spark.sql.catalyst.expressions.Literal(keys.head)
              .dataType))))
      val touched = keyDf
        .select(snapshotBucket(col("__k").cast(idField.dataType),
          m.numBuckets).as("__bucket"))
        .distinct().collect().map(_.getInt(0)).toSet
      // keys that hash only to buckets the snapshot never populated
      // read no dir at all: an empty result with the snapshot's schema
      val raw = readBuckets(spark, root, m, touched)
      raw.filter(col(idField.name).isin(keys: _*))
        .filter(!coalesce(col("__deleted"), lit(false)))
        .drop("__seq", "__deleted")
    }
  }

  /** One-row ops summary of a CDC snapshot store (the DESCRIBE SNAPSHOT
    * SQL face): live snapshot id, bucket count, the min/max bucket
    * version the live manifest references, and the retained manifest
    * ids (the time-travel window). Metadata-only — reads the manifest
    * and lists `_manifests` (≤ keepVersions+1 entries by the retention
    * induction), never a data file. None when nothing was committed. */
  def describeSnapshot(spark: org.apache.spark.sql.SparkSession,
                       root: String): Option[DataFrame] = {
    val fs = snapshotFs(spark, root)
    currentSnapshotManifest(fs, root).map { m =>
      // ids past the live pointer are in-flight publish claims, not
      // retained time-travel targets (claim-first publishing)
      val retained = manifestIds(fs, root).filter(_ <= m.id)
      import spark.implicits._
      Seq((m.id, m.numBuckets, m.buckets.size,
          if (m.buckets.isEmpty) -1L else m.buckets.values.min,
          if (m.buckets.isEmpty) -1L else m.buckets.values.max,
          retained,
          // the live layout schema as DDL (schema evolution is
          // add-only, so this is the superset every retained version
          // reads under)
          m.schema.toDDL))
        .toDF("snapshot_id", "num_buckets", "populated_buckets",
          "min_bucket_version", "max_bucket_version", "retained_manifests",
          "schema_ddl")
    }
  }

  /** One immutable snapshot manifest: bucket count (fixed at creation)
    * plus the bucket → bucket-version map of snapshot `id`. `schema` is
    * THIS snapshot's full layout schema (id, payload…, __seq,
    * __deleted), so readers resolve every bucket dir against the
    * manifest's schema instead of file-footer inference (dirs written
    * before a widening lack the added columns; inference over such a
    * mix silently drops them). */
  private[graft] final case class SnapshotManifest(id: Long, numBuckets: Int,
      buckets: Map[Int, Long], schema: org.apache.spark.sql.types.StructType)

  /** Murmur3 key-hash bucket — stable across runs/sessions, so the
    * same id always lands in the same bucket dir. */
  private def snapshotBucket(id: org.apache.spark.sql.Column, b: Int) =
    pmod(hash(id), lit(b)).cast("int")

  private def snapshotFs(spark: org.apache.spark.sql.SparkSession,
                         root: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Nullability-normalized form of a type: nullability is SOURCE
    * metadata (a MemoryStream's Seq[Float] infers containsNull=false,
    * the same column off parquet/Kafka true), never part of the
    * store's type contract — carried/widened columns hold nulls by
    * design. (Spark's own DataType.asNullable is private[spark].) */
  private def nullableForm(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(et, _) => ArrayType(nullableForm(et), true)
      case MapType(k, v, _) => MapType(nullableForm(k), nullableForm(v), true)
      case StructType(fs) => StructType(fs.map(f =>
        StructField(f.name, nullableForm(f.dataType), nullable = true)))
      case other => other
    }
  }

  private def nullableSchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    nullableForm(s).asInstanceOf[org.apache.spark.sql.types.StructType]

  /** The WIDER of two types when one LOSSLESSLY promotes to the other
    * (or they are equal up to nullability): the integral chain
    * byte→short→int→long, float→double, recursively through array
    * elements. None for anything else — incl. struct/map field
    * promotions (the parquet readers' nested-widening behavior is not
    * pinned here, so those stay a loud rebuild) and narrowing either
    * way. These are exactly the widenings the parquet scan performs
    * natively when the read schema is wider than a file's footer, so a
    * manifest recording the promoted type serves every old dir without
    * a rewrite. Returns nullability-normalized forms ([[nullableForm]]:
    * source-dependent metadata, never a type change). */
  private[graft] def promotedType(a: org.apache.spark.sql.types.DataType,
                                  b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    def rank(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(1)
      case ShortType => Some(2)
      case IntegerType => Some(3)
      case LongType => Some(4)
      case _ => None
    }
    (nullableForm(a), nullableForm(b)) match {
      case (x, y) if x == y => Some(x)
      case (ArrayType(ea, _), ArrayType(eb, _)) =>
        promotedType(ea, eb).map(e => ArrayType(e, containsNull = true))
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      case (x, y) =>
        for { rx <- rank(x); ry <- rank(y) } yield if (rx >= ry) x else y
    }
  }

  /** Read the dirs manifest `m` maps buckets `bks` to (ascending;
    * buckets it does not map are skipped) under the manifest's
    * authority: with its recorded schema (dirs written before a widening
    * lack the added columns — they read as nulls; footer inference over
    * such a mix would silently drop them). No dirs read as an empty
    * frame of that schema. */
  private def readBuckets(spark: org.apache.spark.sql.SparkSession,
                          root: String, m: SnapshotManifest,
                          bks: Iterable[Int]): DataFrame = {
    val paths = bks.toSeq.sorted
      .flatMap(bk => m.buckets.get(bk).map(v => s"$root/b$bk/v$v"))
    if (paths.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else spark.read.schema(m.schema).parquet(paths: _*)
  }

  /** The live store a full-pass maintenance op republishes: its manifest
    * and every bucket of it, read under the manifest's schema — behind
    * the sink's `keepVersions` guard (0 would make the retention sweep
    * prune the JUST-COMMITTED manifest and brick the store) and the
    * no-snapshot refusal, both naming `op`. */
  private def liveStore(spark: org.apache.spark.sql.SparkSession,
                        root: String, keepVersions: Int,
                        op: String): (SnapshotManifest, DataFrame) = {
    require(keepVersions >= 1,
      s"$op: keepVersions must be >= 1: $keepVersions")
    val cur = currentSnapshotManifest(snapshotFs(spark, root), root)
      .getOrElse(throw new IllegalStateException(
        s"$op: no committed snapshot at $root"))
    (cur, readBuckets(spark, root, cur, cur.buckets.keys))
  }

  /** The ids of the manifest files in `root/_manifests`, ascending —
    * `m<N>` names only (a claim's quarantine file `m<N>.steal.<nonce>`
    * and checksum sidecars are not manifests). */
  private def manifestIds(fs: org.apache.hadoop.fs.FileSystem,
                          root: String): Seq[Long] =
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_manifests")).toSeq
      .map(_.getPath.getName).collect { case ManifestName(n) => n.toLong }
      .sorted

  private val ManifestName = "m(\\d+)".r

  /** The shared publish step of the sink and compaction: stage the
    * merged frame partitioned by bucket, move ONLY the touched
    * buckets' partitions in as their next immutable versions, commit
    * a new manifest with an atomic pointer swap, then run retention
    * (prune manifests past `keepVersions` and any bucket versions the
    * oldest retained manifest no longer references — O(touched)
    * listings of small dirs, never a scan from v0).
    *
    * CONCURRENT-WRITER guard: the store is single-writer by contract
    * (every caller documents it), but two sinks accidentally pointed
    * at one root would both read manifest N and both publish N+1 —
    * last pointer swap wins and the loser's batch silently vanishes.
    * The guard takes the single-writer claim
    * ([[graft.io.SmallFiles.claim]]) on the manifest slot FIRST — m$next
    * is created exclusively with the full manifest body under a
    * `writer <id> <nonce>` line, BEFORE any staging, bucket rename, or
    * shared-dir delete — so a loser raises loudly having mutated
    * NOTHING shared, and every shared mutation happens only while
    * holding the claim. A claim already present is either a CRASHED
    * attempt of this same writer (it names our `writerId`, or no
    * writer at all after a truncated create; the pointer provably
    * still names `prev`, so it is uncommitted) — reclaimed by
    * quarantine, which keeps at-least-once batch replay self-healing
    * while a live same-writerId twin caught in the reclaim window keeps
    * its claim and this publish refuses before any write — or a
    * FOREIGN writer's, which raises naming the claim file and its owner
    * and is never deleted. After the swap the claim is read BACK
    * ([[graft.io.SmallFiles.holds]]) and must still carry this
    * publish's nonce — a twin that stole it mid-publish turns into a
    * loud post-commit error. Writers that must coexist use distinct
    * writerIds; the guard's job is making an accidental multi-writer
    * misconfiguration visible on first collision, not licensing it. */
  private[graft] def publishSnapshotVersion(
      spark: org.apache.spark.sql.SparkSession,
      root: String, merged: DataFrame, idCol: String, touched: Set[Int],
      prev: Option[SnapshotManifest], numBuckets: Int, keepVersions: Int,
      schema: org.apache.spark.sql.types.StructType,
      writerId: String = "default"): Unit = {
    // every caller validates, but the invariant is load-bearing enough
    // (keepVersions=0 prunes the manifest this very publish commits) to
    // re-assert at the one place retention actually runs
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    val fs = snapshotFs(spark, root)
    val next = prev.map(_.id + 1).getOrElse(0L)
    val mNextPath = new org.apache.hadoop.fs.Path(s"$root/_manifests/m$next")
    // the live pointer must name the manifest this publish diffed
    // against — checked at START (a writer holding a STALE prev has
    // already lost the race: another writer committed since prev was
    // read, and proceeding would clobber its bucket versions and then
    // silently discard a batch at the pointer swap) and re-checked
    // before the bucket renames (guard (a) below).
    def assertPointerUnmoved(): Unit = {
      val liveNow = currentSnapshotId(fs, root)
      if (liveNow != prev.map(_.id)) throw new IllegalStateException(
        s"snapshot publish: concurrent writer detected at $root — " +
          s"_CURRENT moved from ${prev.map(_.id).getOrElse("<none>")} to " +
          s"${liveNow.getOrElse("<none>")} since this publish read its " +
          "base manifest. The store is single-writer; this publish's " +
          "batch was NOT committed — re-drive one writer only.")
    }
    assertPointerUnmoved()
    // versions derive from prev alone, so the full manifest body is
    // computable BEFORE any IO — which is what lets the claim go first
    val prevBuckets = prev.map(_.buckets).getOrElse(Map.empty)
    val newBuckets = touched.toSeq.sorted.map { bk =>
      bk -> prevBuckets.get(bk).map(_ + 1).getOrElse(0L)
    }.toMap
    // asNullable: nullability is SOURCE metadata (a MemoryStream's
    // Seq[Float] infers containsNull=false, parquet/Kafka true) — the
    // store's contract is the value types, and carried/widened columns
    // hold nulls by design
    val manifest = SnapshotManifest(next, numBuckets,
      prevBuckets ++ newBuckets, nullableSchema(schema))
    val nonce = java.util.UUID.randomUUID().toString
    // the schema line makes every reader resolution manifest-driven —
    // required once widened publishes mix bucket dirs of different
    // widths (StructType.json is single-line by construction)
    val body = ((s"buckets ${manifest.numBuckets}" +:
      manifest.buckets.toSeq.sorted.map { case (bk, v) => s"b $bk $v" }) :+
      s"schema ${manifest.schema.json}").mkString("", "\n", "\n")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_manifests"))
    // guard: the manifest slot's claim, BEFORE any shared mutation — of
    // two racing writers exactly one create succeeds
    graft.io.SmallFiles.claim(fs, mNextPath, writerId, nonce, body).foreach {
      r => throw new IllegalStateException(
        s"snapshot publish: concurrent writer detected at $root — " +
          s"manifest slot m$next " + (r match {
            case graft.io.SmallFiles.HeldBy(owner) =>
              s"is claimed by writer '$owner' (this publish is " +
                s"'$writerId'). If the other writer crashed, delete " +
                s"$mNextPath and retry. "
            case graft.io.SmallFiles.Raced(how) => s"$how. "
          }) + "The store is single-writer; this publish's batch was " +
          "NOT committed — re-drive one writer only.")
    }
    // everything below runs under the claim: competitors running this
    // code cannot rename into our bucket versions or sweep our staging
    val staging = s"$root/_staging-$nonce"
    // leftover staging dirs are crashed attempts' (ours by claim) —
    // sweep them so they don't accumulate across crash-replays
    fs.globStatus(new org.apache.hadoop.fs.Path(s"$root/_staging*"))
      .foreach(st => fs.delete(st.getPath, true))
    merged
      .withColumn("__bucket", snapshotBucket(col(idCol), numBuckets))
      .write.mode("overwrite").partitionBy("__bucket").parquet(staging)
    // the 0-row-with-schema dir for touched buckets whose rewrite
    // emitted nothing — materialized by ONE job on first need and then
    // FILE-COPIED per bucket, so a publish with many empty touched
    // buckets (rebucketing to a large B′) costs one job + one copy per
    // dir, not one Spark job per dir
    lazy val emptySrc: org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(s"$staging/__empty_template")
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(
            schema.filterNot(_.name == "__bucket")))
        .repartition(1).write.parquet(p.toString)
      p
    }
    // belt-and-braces re-check: under the claim the pointer cannot
    // legitimately move (advancing it requires committing m$next,
    // which we hold) — a mover here implies a claim steal by a
    // same-writerId twin, caught cheaply before any rename
    assertPointerUnmoved()
    touched.toSeq.sorted.foreach { bk =>
      val ver = newBuckets(bk)
      val src = new org.apache.hadoop.fs.Path(s"$staging/__bucket=$bk")
      val dstDir = new org.apache.hadoop.fs.Path(s"$root/b$bk")
      fs.mkdirs(dstDir)
      val dst = new org.apache.hadoop.fs.Path(s"$root/b$bk/v$ver")
      // crash recovery: a publish that died between staging this
      // version and the pointer swap left an UNCOMMITTED v$ver (no
      // manifest the pointer ever named references it — committed
      // versions are < ver by construction, and the claim we hold is
      // the only manifest that will ever name ver). The replayed
      // batch must reclaim the slot, not fail its rename forever.
      if (fs.exists(dst)) fs.delete(dst, true)
      if (fs.exists(src)) {
        require(fs.rename(src, dst), s"snapshot publish: rename $src → $dst failed")
      } else {
        // a touched bucket whose rewrite emitted zero rows (compaction
        // dropped its every tombstone; a rebucket hash left it empty):
        // publish an explicit EMPTY version — keeping the old version
        // would resurrect the rows the rewrite removed, and an UNMAPPED
        // id would lose the bucket's version floor (a later batch would
        // restart it at v0, colliding with dirs retained manifests
        // still reference). The dir carries a real (0-row) parquet file
        // with the schema, so a later read can still infer it.
        require(org.apache.hadoop.fs.FileUtil.copy(fs, emptySrc, fs, dst,
          false, spark.sparkContext.hadoopConfiguration),
          s"snapshot publish: empty-version copy to $dst failed")
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    // atomic pointer swap. The manifest itself was committed as the
    // claim, before staging.
    graft.io.SmallFiles.replaceText(fs,
      new org.apache.hadoop.fs.Path(s"$root/_CURRENT"), next.toString)
    // post-swap readback: the claim must still carry THIS publish's
    // nonce. Two writers sharing a writerId can interleave a
    // reclaim-steal (B mistakes live A's claim for A's crash); the
    // readback turns that last silent-loss window into a loud
    // post-commit error instead of a vanished batch.
    if (!graft.io.SmallFiles.holds(fs, mNextPath, nonce))
      throw new IllegalStateException(
        s"snapshot publish: concurrent writer detected at $root — " +
          s"manifest m$next was rewritten by another '$writerId' writer " +
          "during this publish (claim nonce mismatch after the pointer " +
          "swap). The store is single-writer; the committed snapshot " +
          "may not contain this batch. Verify the live snapshot and " +
          "re-drive one writer only (distinct writerIds make this race " +
          "fail before commit).")
    // retention — manifest-DIFF pruning: a bucket version is
    // unreferenced exactly when every manifest naming it has been
    // pruned, so for each manifest m_k dropping below the floor, delete
    // versions in [m_k(bk), floor(bk)) per bucket (monotone versions ⇒
    // that range is referenced by pruned manifests only; ranges from
    // multiple pruned manifests overlap — deletes are idempotent). This
    // covers COLD buckets too: a bucket touched once at m_1 and never
    // again leaks its v0 the moment m_0 prunes, even though no later
    // batch touches it — the reason the sweep keys off pruned
    // manifests, not the batch's touched set. Paths are constructed
    // directly from the version ranges — no directory listings. The
    // floor is clamped to the OLDEST RETAINED manifest actually
    // present, so raising keepVersions across restarts (or a
    // compactSnapshot called with a larger value than the sink's)
    // widens the window instead of crashing on a long-pruned id.
    val floorId = math.max(0L, next - keepVersions + 1)
    if (floorId > 0) {
      // ≤ keepVersions+1 entries by induction — bounded listing
      val present = manifestIds(fs, root)
      val pruneIds = present.filter(_ < floorId)
      if (pruneIds.nonEmpty) {
        val floorActual = present.filter(_ >= floorId)
          .headOption.getOrElse(next) // m$next exists: written above
        val floorM = readSnapshotManifest(fs, new org.apache.hadoop.fs.Path(
          s"$root/_manifests/m$floorActual"), floorActual)
        pruneIds.foreach { k =>
          val mkPath = new org.apache.hadoop.fs.Path(s"$root/_manifests/m$k")
          val mk = readSnapshotManifest(fs, mkPath, k)
          mk.buckets.foreach { case (bk, vk) =>
            val fv = floorM.buckets.getOrElse(bk, vk)
            (vk until fv).foreach { v =>
              fs.delete(new org.apache.hadoop.fs.Path(s"$root/b$bk/v$v"),
                true)
            }
          }
          // manifest last: a crash mid-sweep replays the (idempotent)
          // deletes from this manifest on the next publish
          fs.delete(mkPath, true)
        }
      }
    }
  }

  /** The id a VERSION-ADDRESSED reader may trust: the pointer's target
    * when it is a manifest-layout snapshot. Since the publish guard
    * claims the manifest slot FIRST, a manifest file's existence no
    * longer implies commit — m(live+1) exists for the whole staging
    * window of an in-flight publish (and after a pre-swap crash), and
    * serving it would expose bucket dirs mid-rename. Every reader that
    * resolves an explicit version must gate on this, not on
    * fs.exists(manifest). None when the pointer is absent or names no
    * manifest. */
  private def committedManifestId(fs: org.apache.hadoop.fs.FileSystem,
                                  root: String): Option[Long] =
    currentSnapshotId(fs, root).filter(id => fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/_manifests/m$id")))

  private def currentSnapshotId(fs: org.apache.hadoop.fs.FileSystem,
                                root: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/_CURRENT")
    if (!fs.exists(p)) None
    else Some(graft.io.SmallFiles.readText(fs, p).trim.toLong)
  }

  private[graft] def currentSnapshotManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      root: String): Option[SnapshotManifest] =
    currentSnapshotId(fs, root).map(id =>
      manifestAt(fs, root, id, "snapshot store", checkCommitted = false))

  /** Manifest `id` of the store at `root`, behind the store's named
    * refusals: "not retained" when no manifest file exists (pruned by
    * retention, never committed, or a pointer naming a missing
    * manifest); and, for a version-addressed read (`checkCommitted`),
    * "not committed" when the manifest lies past the live pointer —
    * claim-first publishing makes an existing manifest possibly an
    * in-flight publish's claim, or a crashed pre-swap one whose bucket
    * dirs the replay will rewrite. `op` names the caller. */
  private def manifestAt(fs: org.apache.hadoop.fs.FileSystem, root: String,
                         id: Long, op: String,
                         checkCommitted: Boolean): SnapshotManifest = {
    val mPath = new org.apache.hadoop.fs.Path(s"$root/_manifests/m$id")
    if (!fs.exists(mPath)) throw new IllegalStateException(
      s"$op: version $id of $root is not retained " +
        "(pruned by keepVersions retention, or never committed)")
    if (checkCommitted && !committedManifestId(fs, root).exists(_ >= id))
      throw new IllegalStateException(
        s"$op: version $id of $root is not committed (claimed by an " +
          "in-flight or crashed publish; the live pointer has not " +
          "reached it)")
    readSnapshotManifest(fs, mPath, id)
  }

  private def readSnapshotManifest(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, id: Long): SnapshotManifest = {
    // `writer <id> <nonce>` is the publish claim's line, `schema <json>`
    // the layout schema every publish records
    val lines = graft.io.SmallFiles.readText(fs, path).split('\n')
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("writer "))
    require(lines.nonEmpty && lines.head.startsWith("buckets "),
      s"malformed snapshot manifest $path: missing 'buckets' header")
    val b = lines.head.stripPrefix("buckets ").trim.toInt
    val schema = lines.find(_.startsWith("schema "))
      .map(l => org.apache.spark.sql.types.DataType
        .fromJson(l.stripPrefix("schema "))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(throw new IllegalArgumentException(
        s"malformed snapshot manifest $path: missing 'schema' line"))
    val m = lines.tail.filterNot(_.startsWith("schema ")).map { l =>
      val parts = l.split("\\s+")
      require(parts.length == 3 && parts(0) == "b",
        s"malformed snapshot manifest $path: line '$l'")
      parts(1).toInt -> parts(2).toLong
    }.toMap
    SnapshotManifest(id, b, m, schema)
  }

  /** S4 at scale: continuous maintenance of the PERSISTED IVF-Flat
    * index — each micro-batch of (document_id, chunks, embedding) rows
    * is coarse-assigned with the index's own centroids sidecar and
    * APPENDED to its cluster partitions as a distributed partitioned
    * write: no driver collect of vectors, no in-memory bound, unlike
    * [[upsertSink]]. The direct analog of the reference's
    * continuously-running MongoDB sink connector upserting the Atlas
    * vector collection (main.tf:594-635).
    *
    * The index must exist with a NON-EMPTY seed build
    * (SimilaritySearch.writeIvfFlatIndex — its centroids fix the cell
    * geometry, and parquet needs at least one payload file to carry
    * the schema). Replays under at-least-once delivery re-append identical
    * content-keyed rows: the search's ranking collapses them
    * until SimilaritySearch.compactIvfFlatIndex removes them
    * physically (StreamingSpec pins batch-vs-streamed hash identity
    * and replay idempotence). */
  def indexUpsertSink(indexStream: DataFrame, indexPath: String,
                      idCol: String = "document_id",
                      chunkCol: String = "chunks",
                      embCol: String = "embedding")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    indexStream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // same chunk-unique content key as VectorStores.adaptive's
          // batch build, so streamed and batch-built indexes agree
          val prepared = batch.select(
            graft.store.VectorStores.chunkKey(idCol, chunkCol).as("__nid"),
            col(idCol).as("document_id"), col(chunkCol).as("chunks"),
            col(embCol).as("embedding"))
          graft.operators.SimilaritySearch.appendIvfFlatBatch(
            prepared, indexPath, "__nid", "embedding",
            Seq("document_id", "chunks"))
        }
      }
}
