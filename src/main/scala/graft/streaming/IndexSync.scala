package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.SmallFiles
import graft.operators.{Checkpoint, SimilaritySearch}

/** Keep a persisted IVF-Flat vector index FRESH from a CDC snapshot
  * store — the reference pipeline's outer loop re-expressed over this
  * library's own stores: the reference upserts embedded knowledge into
  * MongoDB Atlas through a continuously-running sink connector while
  * the coach queries the Atlas index
  * (`main.tf:594-635`, `generate_personalized_commands.sh:293-306`);
  * here the document store is [[StreamingOps.snapshotUpsertSink]]'s
  * bucketed CDC snapshot, the index is
  * [[graft.operators.SimilaritySearch]]'s persisted IVF-Flat layout,
  * and the glue is one cursor-committed changelog pull per sync.
  *
  * Scale story (the reason this is a changelog consumer and not a
  * rebuild): one sync reads ONLY the snapshot buckets whose manifest
  * version moved ([[StreamingOps.snapshotChangelog]]), embeds ONLY the
  * changed documents, and appends ONLY those rows + their version
  * tombstones to the index ([[SimilaritySearch.upsertIvfFlatBatch]]) —
  * a day of edits touching 0.1% of a 100 TB corpus costs 0.1% of an
  * embed pass and zero index rewrites. The index's weekly
  * `compactIvfFlatIndex` collapses the accumulated versions exactly
  * like the snapshot store's own compaction collapses tombstones.
  *
  * Cost per pull: the changelog is materialized ONCE (one checkpoint
  * job that also counts its deletes and upserts, plus the changelog
  * join's shuffle stages), all of its tombstones land in ONE append,
  * and the upserts go through `upsertIvfFlatBatch`, which embeds each
  * changed document exactly once. A 15-edit incremental pull over a
  * 16-bucket store into an 8-cell index runs 6 Spark jobs and embeds
  * its upserted docs once each; the bootstrap pull runs 5 and embeds
  * each live doc once (IndexSyncSpec pins both). The index's sidecars
  * (centroids, cellstats) are small-file reads and writes, no job. A
  * window with nothing to write (deletes only, upserts only, or an
  * empty changelog such as a rebucket's) skips the appends it does not
  * need.
  */
object IndexSync {

  /** One at-least-once sync pull: drain the snapshot store's changelog
    * since the cursor, apply it to the index, commit the cursor.
    * Returns the snapshot id synced to, or None when already caught up.
    *
    * `embed` maps a changed-documents frame (the changelog's upsert
    * rows: id, seq, payload columns) to the same frame plus `vecCol` —
    * the embedding stage ([[graft.operators.MlPredict.withEmbedding]]
    * in the reference shape; identity when the store already carries
    * vectors). It runs ONLY over this window's upserts.
    *
    * Crash safety mirrors the store's own consumer contract
    * ([[StreamingOps.nextChangelogBatch]]): the cursor commits AFTER
    * the index writes, so a crash replays the window; replayed upserts
    * re-append byte-identical rows (collapsed by the search's ranking,
    * removed by compaction) and re-appended tombstones are idempotent — the
    * served top-k converges. Deletes become VERSIONED index tombstones
    * at the delete's own seq, so a later re-insert of the key at a
    * higher seq resurrects it, exactly like the store.
    *
    * Single-consumer per cursor file, like every cursor in this
    * library — and ENFORCED, not just documented: each pull holds the
    * single-writer claim ([[graft.io.SmallFiles.claim]]) on
    * `<cursorPath>.lock` for its whole apply+commit window. Two pumps
    * sharing a cursor are not merely wasteful replays: their index
    * appends are concurrent Spark write jobs into ONE parquet
    * directory, which share the committer's `_temporary` staging — one
    * job's cleanup can delete the other's in-flight task files, a
    * SILENT torn append no read-side rule can heal. The claim
    * makes the loser fail LOUDLY having written nothing, with the
    * snapshot publish's semantics: a foreign `writerId`'s lock raises,
    * naming the owner; a lock carrying THIS pump's writerId (or none) is
    * a crashed predecessor (the standing pump serializes its own ticks)
    * and is reclaimed by quarantine, so checkpointed restarts
    * self-heal, while a live same-writerId twin caught in the reclaim
    * window keeps its lock and this pull refuses before any write; and
    * after the cursor commit the lock is read back
    * ([[graft.io.SmallFiles.holds]]) — a twin that stole the claim
    * mid-drain turns into a loud post-commit error telling the operator
    * to compact and verify (a torn append shows as missing rows against
    * the store — re-drain after clearing one pump). Pumps that must
    * coexist use distinct writerIds, exactly like the store's sinks.
    *
    * The first pull bootstraps: the changelog emits the full
    * live state, so pointing a fresh cursor + empty index at a mature
    * store backfills it in one (large) sync.
    *
    * A bootstrap pull into a NON-empty index is validated first: the
    * bootstrap upserts skip old-version tombstones (see below), so any
    * pre-existing index row NOT re-covered by this pull — a key absent
    * from the store, or a version newer than the store's (a rebuilt
    * store restarts seqs LOWER, so no tombstone the pull writes masks
    * the stale row) — would be served indefinitely with
    * no error. Rows that ARE covered (same key at `__useq` ≤ the
    * pull's seq) are exactly a crashed bootstrap's own appends, which
    * the replay must converge over — those pass. Anything else raises
    * with the fix: reset the index (recreate the shell, or compact the
    * emptied index) together with the cursor. The check is one
    * 2-column scan of the payload joined to the pull, paid on
    * bootstrap only. */
  def syncIndexFromSnapshot(spark: SparkSession, snapshotRoot: String,
                            cursorPath: String, indexPath: String,
                            embed: DataFrame => DataFrame,
                            vecCol: String = "embedding",
                            payloadCols: Seq[String] = Nil,
                            writerId: String = "default"): Option[Long] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val cPath = new org.apache.hadoop.fs.Path(cursorPath)
    val cfs = cPath.getFileSystem(hconf)
    val nonce = java.util.UUID.randomUUID().toString
    val lockPath = cfs.makeQualified(
      new org.apache.hadoop.fs.Path(s"$cursorPath.lock"))
    SmallFiles.claim(cfs, lockPath, writerId, nonce).foreach { r =>
      throw new IllegalStateException(s"syncIndexFromSnapshot: the cursor " +
        s"lock $lockPath " + (r match {
          case SmallFiles.HeldBy(owner) =>
            s"is held by pump '$owner' (this pump is '$writerId'). Two " +
              "pumps draining one cursor append into one index " +
              "CONCURRENTLY, which can tear an in-flight write (shared " +
              "committer staging). "
          case SmallFiles.Raced(how) => s"$how. "
        }) + "The cursor is single-consumer; this pull wrote nothing — " +
        "run one pump per cursor (distinct writerIds make a race fail " +
        s"before any write), or if the owner crashed, delete $lockPath " +
        "and retry.")
    }
    // bootstrap = no cursor yet: the pull is the FULL live state, all
    // of it new to the index, so upserting it must not write one
    // old-version tombstone per document (a corpus-sized sidecar every
    // later search would aggregate and broadcast for zero masking).
    // Resolved UNDER the lock: read before it, a twin's commit between
    // the probe and the claim would make this pull misread an
    // incremental window as a bootstrap (tombstone-less upserts over a
    // partial pull — unmasked stale versions).
    val bootstrap = !cfs.exists(cPath)
    var committed = false
    try {
      val out = StreamingOps.nextChangelogBatch(
          spark, snapshotRoot, cursorPath).map {
        case (live, frame, commit) =>
          val idCol = frame.columns.head // changelogShape: id leads
          val isDelete = col("op") === "delete"
          val isUpsert = col("op") === "upsert"
          // ONE materialization of the pull: the changelog join runs once
          // and its two counts ride the same job, so no probe job decides
          // which writes run. Released before returning (the
          // antiJoinFuzzy lifecycle rule — this runs once per sync on a
          // standing schedule). On a cluster, executor loss fails the
          // pull instead of recomputing it; the uncommitted window is
          // replayed by the next pull.
          val (f, counts) = Checkpoint(frame, count_if(isDelete),
            count_if(isUpsert))
          val (nDeletes, nUpserts) = (counts.getLong(0), counts.getLong(1))
          try {
            if (bootstrap) assertBootstrapSafe(spark, indexPath, f, idCol)
            // ONE tombstone append, before the payload: deletes at their
            // own seq and — incremental pulls only — each upserted key's
            // older versions at seq-1 (a bad upsert seq is refused by
            // name, before anything lands)
            val tombs = (if (bootstrap) f.filter(isDelete) else f)
              .select(col(idCol).cast("string").as("nid"),
                when(isDelete, col("seq").cast("long"))
                  .otherwise(SimilaritySearch.changeSeq(col("seq")) - 1L)
                  .as("seq"))
            if (nDeletes > 0 || (!bootstrap && nUpserts > 0))
              SimilaritySearch.tombstoneIvfFlat(spark, indexPath, tombs)
            if (nUpserts > 0)
              SimilaritySearch.upsertIvfFlatBatch(
                embed(f.filter(isUpsert)), indexPath, cId = idCol,
                cVec = vecCol, cSeq = "seq", payloadCols = payloadCols,
                tombstoneOld = false)
            commit()
            committed = true
            live
          } finally Checkpoint.release(f)
      }
      if (out.isEmpty) committed = true // nothing pulled, nothing torn
      out
    } finally {
      // a missing or unreadable lock reads as "not ours": on a committed
      // pull that is steal evidence (someone cleared a LIVE pump's lock);
      // on a failed pull it must not throw from here and mask the pull's
      // own error
      if (scala.util.Try(SmallFiles.holds(cfs, lockPath, nonce))
          .getOrElse(false)) cfs.delete(lockPath, false)
      else if (committed) throw new IllegalStateException(
        s"syncIndexFromSnapshot: the cursor lock $lockPath was rewritten " +
          s"by another '$writerId' pump DURING this pull (nonce mismatch " +
          "after the cursor commit). Two pumps applied concurrently — " +
          "the index may hold a torn append. Stop one pump, compact the " +
          "index, and verify it against the store (re-drain heals missing " +
          "rows); distinct writerIds make this race fail before any " +
          "write.")
    }
  }

  /** The bootstrap-over-non-empty-index guard of
    * [[syncIndexFromSnapshot]] (see its Scaladoc). Operates on the
    * SERVED rows — the payload after the tombstone mask — because an
    * uncompacted deleted key's masked rows are not stale state, and
    * refusing a legitimate same-store replay over them would force a
    * needless index rebuild. Three outcomes per served row:
    *
    *  - key absent from the pull, or version NEWER than the store's
    *    (a rebuilt store restarts seqs lower) → REFUSE loudly before
    *    writing anything: the tombstone-less bootstrap could never
    *    mask it, so it would be served stale forever.
    *  - version EQUAL to the pull's seq → a crashed bootstrap's own
    *    byte-identical append: collapsed by the search's ranking and
    *    by compaction, pass.
    *  - version OLDER than the pull's seq (incl. batch-built -1 rows)
    *    → covered but LIVE: the bootstrap's re-append would otherwise
    *    sit NEXT TO it (no tombstone written), serving both versions
    *    to every search until compaction — so the
    *    guard BACKFILLS one tombstone per such key at pull-seq−1,
    *    restoring the invariant that superseded versions are always
    *    tombstone-masked. Cost: rows ∝ covered-differing keys, paid on
    *    bootstrap only. */
  private def assertBootstrapSafe(spark: SparkSession, indexPath: String,
                                  pull: DataFrame, idCol: String): Unit = {
    // the shared payload read tolerates an empty shell (no payload
    // files); a payload dir not created yet at all is the emptiest
    // shell of all
    val idx =
      try SimilaritySearch.readPayload(spark, indexPath)
      catch { case _: org.apache.spark.sql.AnalysisException => return }
    val served = SimilaritySearch.maskTombstones(
      spark, indexPath, idx)
    val cov = pull.select(col(idCol).cast("string").as("nid"),
      col("seq").cast("long").as("__pseq"))
    val stale = col("__pseq").isNull || col("__useq") > col("__pseq")
    val older = col("__useq") < col("__pseq")
    // one 2-column scan, materialized once: the same job counts the
    // refusal and the backfill, and the backfill reads the checkpoint
    val (joined, counts) = Checkpoint(
      served.select(col("nid"), col("__useq")).join(cov, Seq("nid"), "left"),
      count_if(stale), count_if(older))
    try {
      if (counts.getLong(0) > 0) throw new IllegalStateException(
        s"syncIndexFromSnapshot: bootstrap pull (no cursor yet) into the " +
          s"NON-empty index at $indexPath found rows this store's live " +
          "state does not cover (keys absent from the store, or index " +
          "versions newer than the store's seqs — typical after the " +
          "store was rebuilt, which restarts seqs lower). A bootstrap " +
          "writes no old-version tombstones, so those rows would be " +
          "served STALE forever. Reset the index together with the " +
          "cursor: recreate the index shell (or tombstone+compact it " +
          "empty), then re-run the bootstrap.")
      if (counts.getLong(1) > 0)
        SimilaritySearch.tombstoneIvfFlat(spark, indexPath,
          joined.filter(older)
            .select(col("nid"), (col("__pseq") - 1L).as("seq")).distinct())
    } finally Checkpoint.release(joined)
  }

  /** Drain the store to its live snapshot: loop single pulls until
    * caught up (each pull is one committed sync — a crash resumes at
    * the last commit). Returns the final synced snapshot id, None if
    * there was nothing at all to sync. */
  def drainIndexFromSnapshot(spark: SparkSession, snapshotRoot: String,
                             cursorPath: String, indexPath: String,
                             embed: DataFrame => DataFrame,
                             vecCol: String = "embedding",
                             payloadCols: Seq[String] = Nil,
                             writerId: String = "default"): Option[Long] = {
    var last: Option[Long] = None
    var more = true
    while (more) {
      val got = syncIndexFromSnapshot(spark, snapshotRoot, cursorPath,
        indexPath, embed, vecCol, payloadCols, writerId)
      if (got.isEmpty) more = false else last = got
    }
    last
  }

  /** Identity embed for stores whose snapshot already carries vectors. */
  val identityEmbed: DataFrame => DataFrame = (df: DataFrame) => df

  /** The STANDING form of the pump — what a deployment actually runs:
    * a rate-source-clocked streaming query whose every trigger drains
    * the store to its live snapshot ([[drainIndexFromSnapshot]]).
    * Spark's own scheduler provides the cadence, checkpointed restart,
    * and lifecycle (stop/awaitTermination) — no hand-rolled timer
    * thread — and the cursor (not the rate checkpoint) carries the
    * delivery state. A drain that THROWS is caught and logged rather
    * than propagated: an uncaught foreachBatch exception terminates
    * the streaming query permanently (micro-batches are not retried),
    * which would silently freeze index freshness on the first
    * transient read error — caught, the next tick retries the same
    * cursor window and the at-least-once story is exactly the manual
    * pump's. A PERSISTENT failure (misconfiguration, a cursor lagging
    * past retention) therefore shows as a warning every tick, not a
    * dead query — monitor the log line. Ticks that find the cursor
    * already at live are one manifest-pointer read — cheap enough for
    * seconds-cadence freshness. Caller sets checkpointLocation and
    * starts, like every sink here. */
  def standingIndexSync(spark: SparkSession, snapshotRoot: String,
                        cursorPath: String, indexPath: String,
                        embed: DataFrame => DataFrame,
                        vecCol: String = "embedding",
                        payloadCols: Seq[String] = Nil,
                        tickSeconds: Int = 5,
                        writerId: String = "default")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    require(tickSeconds >= 1, s"tickSeconds must be >= 1: $tickSeconds")
    spark.readStream.format("rate")
      .option("rowsPerSecond", 1L).load()
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(s"$tickSeconds seconds"))
      .foreachBatch { (_: DataFrame, _: Long) =>
        try drainIndexFromSnapshot(spark, snapshotRoot, cursorPath,
          indexPath, embed, vecCol, payloadCols, writerId): Unit
        catch {
          case scala.util.control.NonFatal(e) =>
            // stderr by design: this library adds no logging framework,
            // and Spark's own driver log captures stderr
            System.err.println(
              s"standingIndexSync: drain of $snapshotRoot -> $indexPath " +
                s"failed (will retry next tick): $e")
        }
      }
  }
}
