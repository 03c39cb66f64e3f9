package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.{MlPredict, SimilaritySearch}
import graft.providers.MockEmbedder
import graft.store.IvfFlatIndexStore
import graft.streaming.{IndexSync, StreamingOps}

/** `curate_kb`, second phase: the knowledge-base track. It bootstraps a
  * persisted IVF-Flat index through `snapshotUpsertSink` and a first
  * `IndexSync.syncIndexFromSnapshot`. Then an open-loop editor streams
  * updates, inserts and deletes (80/10/10) into the sink for the run's
  * seconds, while one pump runs sync pulls back to back (until every
  * edit is visible) and one searcher issues 20-query
  * `IvfFlatIndexStore.searchBatch` calls back to back. Freshness runs
  * from an edit's due time to the end of the first pull after which a
  * search shows it (the new version at rank 1, or a deleted doc gone). */
object KbRefresh {
  /** The phase's per-layer metrics and report entries. */
  final case class Result(attempted: Long, freshP50Ms: Double, freshTailMs: Double,
                          layers: Map[String, Double], report: Map[String, Any])

  private val Dim = 1536
  private val Cells = 8
  private val BatchQueries = 20

  /** One edit: op is upsert or delete; `text` is the version the index
    * must serve next (for a delete, the text that must disappear). */
  private final case class Edit(dueNs: Long, doc: Long, seq: Long, op: String,
                                text: String) {
    var visibleNs = 0L
  }

  private object ScanFiles extends AdaptiveSparkPlanHelper {
    def of(df: DataFrame): Long = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }

  def phase(ctx: Ctx, errs: Errors): Result = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val nDocs = if (ctx.smoke) 60 else 100
    val editRate = 10.0
    val embedder = new CountingEmbedder(new MockEmbedder(Dim))
    val probe = new MockEmbedder(Dim)
    val root = ctx.path("snap"); val cursor = ctx.path("cursor/c")
    val indexPath = ctx.path("index")
    val payload = Seq("document_id", "chunks")
    def docId(d: Long) = s"kb/doc-$d"

    // ---- set-up: sink, empty index shell --------------------------------------
    val input = MemoryStream[(Long, Long, String, String, String)]
    // IndexSync's cursor must stay inside the sink's retention: the pump
    // lags by a pull plus its verifying search, under host load 10 s and
    // more, while the sink publishes a snapshot per trigger (~1 s). The
    // default 3 versions were outrun in 1 of ~30 runs, after which every
    // pull fails (snapshotChangelog: "not retained"), so retention covers
    // ~30 s of lag, as nextChangelogBatch's contract asks.
    val sink = StreamingOps.snapshotUpsertSink(
        input.toDF().toDF("doc_id", "seq", "op", "document_id", "chunks"), root,
        payloadCols = payload, numBuckets = 16, keepVersions = 32)
      .queryName("snapshot").option("checkpointLocation", ctx.path("ckpt")).start()
    val centroids = (0 until Cells).map(c =>
      probe.embed(s"centroid $c ${ctx.seed}").toSeq)
    SimilaritySearch.writeIvfFlatIndex(
      Seq.empty[(String, Seq[Float], String, String)]
        .toDF("nid", "embedding", "document_id", "chunks"),
      centroids, indexPath, cId = "nid", cVec = "embedding", payloadCols = payload)
    val embed: DataFrame => DataFrame =
      df => MlPredict.withEmbedding(df, embedder, "chunks", "embedding")
    def pull(): Option[Long] = IndexSync.syncIndexFromSnapshot(spark, root, cursor,
      indexPath, embed, payloadCols = payload)

    // ---- bootstrap ------------------------------------------------------------
    val live = scala.collection.mutable.Map.empty[Long, Int] // doc -> version
    var seq = 0L
    val (_, publishMs) = Trace.timed("snapshot.bootstrap_publish") {
      input.addData((0L until nDocs).map { d =>
        seq += 1; live(d) = 0
        (d, seq, "upsert", docId(d), Gen.kbText(ctx.seed, d, 0))
      })
      sink.processAllAvailable()
    }
    val (_, bootSyncMs) = Trace.timed("sync.bootstrap")(pull())
    val bootstrapRate = nDocs / ((publishMs + bootSyncMs) / 1000.0)
    val store = new IvfFlatIndexStore(spark, indexPath)

    /** (doc, rank-1 document_id, rank-1 chunks, all document_ids) per query. */
    def search(texts: Seq[(Long, String)], group: String)
        : (Map[Long, (String, String, Set[String])], DataFrame) = {
      val q = texts.map { case (d, t) => (d, probe.embed(t).toSeq) }.toDF("qid", "qvec")
      val df = store.searchBatch(q, 3)
      spark.sparkContext.setJobGroup(group, group)
      val rows = try df.collect() finally spark.sparkContext.clearJobGroup()
      val hits = rows.groupBy(_.getAs[Long]("qid")).map { case (d, rs) =>
        val top = rs.minBy(_.getAs[Int]("rank"))
        d -> (top.getAs[String]("document_id"), top.getAs[String]("chunks"),
          rs.map(_.getAs[String]("document_id")).toSet)
      }
      (hits, df)
    }

    // ---- the measured phase: editor, pump, searcher --------------------------
    val rnd = new Random(ctx.seed * 31 + 5)
    val t0 = System.nanoTime() + 100000000L
    val nEdits = (editRate * ctx.seconds).round.toInt
    val pool = rnd.shuffle((0L until nDocs).toVector)
    var nextNew = nDocs.toLong
    val edits = (0 until nEdits).map { i =>
      val due = t0 + (i * 1e9 / editRate).toLong
      seq += 1
      val k = rnd.nextInt(100)
      if (k < 10) { // insert
        val d = nextNew; nextNew += 1
        Edit(due, d, seq, "upsert", Gen.kbText(ctx.seed, d, 0))
      } else {
        val d = pool(i) // every edit touches a different document
        if (k < 20) Edit(due, d, seq, "delete", Gen.kbText(ctx.seed, d, live(d)))
        else Edit(due, d, seq, "upsert", Gen.kbText(ctx.seed, d, live(d) + 1))
      }
    }
    val deletedDocs = edits.filter(_.op == "delete").map(e => docId(e.doc)).toSet
    // docs whose deletion a search has confirmed: they must stay gone
    val gone = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val loadBefore = Host.loadAvg()
    @volatile var editorDone = false
    @volatile var lateMaxMs = 0.0
    val editor = new Thread(() => {
      edits.foreach { e =>
        val w = e.dueNs - System.nanoTime()
        if (w > 0) java.util.concurrent.TimeUnit.NANOSECONDS.sleep(w)
        lateMaxMs = lateMaxMs max (System.nanoTime() - e.dueNs) / 1e6
        input.addData((e.doc, e.seq, e.op, docId(e.doc),
          if (e.op == "delete") null else e.text))
      }
      editorDone = true
    })
    val pulls = new ConcurrentLinkedQueue[(Double, Boolean, Int)]() // ms, non-empty, made visible
    val retries = new ConcurrentLinkedQueue[String]()
    val drainUntil = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    val pump = new Thread(() => {
      var pending = edits.toList
      while (pending.nonEmpty && System.nanoTime() < drainUntil.get()) {
        // a pull that throws is retried like IndexSync.standingIndexSync
        // retries on its next tick; the retries are counted. A traced run
        // records every pull.
        val startNs = System.nanoTime()
        val got = try pull() catch {
          case scala.util.control.NonFatal(e) =>
            retries.add(e.toString.take(200)); None
        }
        val endNs = System.nanoTime()
        val ms = (endNs - startNs) / 1e6
        if (ctx.traced) Trace.span("sync.pull", startNs, endNs)
        store.refreshStats()
        var visible = 0
        if (got.isDefined) {
          val due = pending.filter(_.dueNs <= endNs)
          val (hits, _) = search(due.map(e => (e.doc, e.text)), "verify")
          val seen = due.filter { e =>
            hits.get(e.doc) match {
              case Some((top, chunks, all)) =>
                if (e.op == "delete") !all.contains(docId(e.doc))
                else top == docId(e.doc) && chunks == e.text
              case None => e.op == "delete"
            }
          }
          seen.foreach { e =>
            e.visibleNs = endNs
            if (e.op == "delete") gone.add(docId(e.doc))
          }
          visible = seen.size
          pending = pending.filterNot(seen.contains)
        } else Thread.sleep(20)
        pulls.add((ms, got.isDefined, visible))
      }
    })
    // (ms, traced?, the first (cold) batch?) per 20-query batch; scan
    // files per batch. A traced run alternates untraced and traced
    // batches (recording spans while a traced one runs) and runs at least
    // one of each after the cold one: the difference is the overhead.
    val searches = new ConcurrentLinkedQueue[(Double, Boolean, Boolean)]()
    val searchFiles = new ConcurrentLinkedQueue[java.lang.Long]()
    val searcher = new Thread(() => {
      val r = new Random(ctx.seed * 31 + 6)
      var i = 0
      while (!editorDone || (ctx.traced && i < 3)) {
        val docs = (0 until BatchQueries).map(_ => r.nextInt(nDocs).toLong)
        val traced = ctx.traced && i % 2 == 1
        Trace.enabled = traced
        val ((hits, df), ms) = Trace.timed("ivf.search_batch") {
          search(docs.map(d => (d, Gen.kbText(ctx.seed, d, 0))), "search")
        }
        Trace.enabled = false
        searches.add((ms, traced, i == 0))
        searchFiles.add(ScanFiles.of(df))
        hits.values.foreach { case (_, _, all) =>
          val back = all.intersect(gone.asScala)
          errs.check(back.isEmpty, s"deleted docs $back came back in a search")
        }
        i += 1
      }
    })
    Trace.enabled = false
    editor.start(); pump.start(); searcher.start()
    editor.join(); searcher.join()
    // past this the edits still pending count as never visible
    drainUntil.set(System.nanoTime() + 30000000000L)
    pump.join()
    val loadAfter = Host.loadAvg()
    sink.stop()

    // ---- checks ------------------------------------------------------------
    edits.filter(_.visibleNs == 0L).foreach(e =>
      errs.fail(s"${e.op} of doc ${e.doc} (seq ${e.seq}) never became visible"))
    val deletes = edits.filter(_.op == "delete")
    if (deletes.nonEmpty) {
      val (hits, _) = search(deletes.map(e => (e.doc, e.text)), "verify")
      val back = hits.values.flatMap(_._3).toSet.intersect(deletedDocs)
      errs.check(back.isEmpty, s"deleted docs $back are served at the end")
    }

    // ---- metrics ------------------------------------------------------------
    val fresh = edits.filter(_.visibleNs > 0).map(e => (e.visibleNs - e.dueNs) / 1e6)
    val all = searches.asScala.toSeq
    val srch = all.map(_._1)
    val pl = pulls.asScala.toSeq
    val nonEmpty = pl.filter(_._2)
    val pullMs = nonEmpty.map(_._1) // the pulls that did work
    def tailOf(xs: Seq[Double]) = if (xs.isEmpty) (0.0, 0.0) else Stats.tail(xs)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val (fP, fT) = tailOf(fresh)
    val (sP, sT) = tailOf(srch)
    val rep = SimilaritySearch.ivfFlatIndexReport(spark, indexPath).collect().head
    def repL(c: String) = rep.getAs[Long](c).toDouble
    val snapTrig = ctx.progress.batches("snapshot")
      .map(_.durationMs.get("triggerExecution").doubleValue)
    val nSearch = srch.size.max(1).toDouble
    val report = Map(
      "fresh_p50_ms" -> Map("value" -> med(fresh), "unit" -> "ms", "n" -> fresh.size),
      "fresh_tail_ms" -> Map("value" -> fT, "unit" -> "ms", "pct" -> fP, "n" -> fresh.size),
      "search_p50_ms" -> Map("value" -> med(srch), "unit" -> "ms", "n" -> srch.size),
      "search_tail_ms" -> Map("value" -> sT, "unit" -> "ms", "pct" -> sP, "n" -> srch.size),
      "bootstrap_docs_per_s" -> Map("value" -> bootstrapRate, "unit" -> "docs/s",
        "docs" -> nDocs, "publish_ms" -> publishMs, "sync_ms" -> bootSyncMs),
      "edits" -> Map("offered_rate" -> editRate, "n" -> edits.size,
        "deletes" -> deletes.size),
      "sync.pull_retries" -> Map("value" -> retries.size,
        "first" -> retries.asScala.headOption.getOrElse("")),
      "kb.gen.late_max_ms" -> lateMaxMs,
      "kb.host.load_before" -> loadBefore, "kb.host.load_after" -> loadAfter)
    val untracedSearch = all.filter(x => !x._2 && !x._3).map(_._1)
    val tracedSearch = all.filter(_._2).map(_._1)
    val traceLayers =
      if (!ctx.traced || untracedSearch.isEmpty || tracedSearch.isEmpty) Map.empty
      else {
        val self = Trace.selfTimes(Trace.all)
        Map("trace.kb.untraced_p50_ms" -> med(untracedSearch),
          "trace.kb.traced_p50_ms" -> med(tracedSearch),
          "trace.kb.overhead_pct" -> (med(tracedSearch) / med(untracedSearch) - 1) * 100,
          "trace.kb.spans" -> Trace.all.size.toDouble,
          "self.sync_pull_ms" -> self.getOrElse("sync.pull", 0.0),
          "self.ivf_search_batch_ms" -> self.getOrElse("ivf.search_batch", 0.0))
      }
    val layers = Map(
      "sync.pull_p50_ms" -> med(pullMs), "sync.pull_tail_ms" -> tailOf(pullMs)._2,
      "sync.pulls" -> pl.size.toDouble,
      "sync.pull_retries" -> retries.size.toDouble,
      "sync.useful_ratio" -> nonEmpty.size.toDouble / pl.size.max(1),
      "sync.rows_per_pull" -> med(nonEmpty.map(_._3.toDouble)),
      "snapshot.trigger_ms" -> med(snapTrig),
      "ivf.search_p50_ms" -> med(srch), "ivf.search_tail_ms" -> sT,
      "ivf.search_jobs" -> ctx.counters.group("search", "jobs") / nSearch,
      "ivf.search_files_read" -> med(searchFiles.asScala.toSeq.map(_.doubleValue)),
      "ivf.search_bytes_read" -> ctx.counters.group("search", "input_bytes") / nSearch,
      "ivf.live_rows" -> repL("live_rows"), "ivf.dup_rows" -> repL("dup_rows"),
      "ivf.tombstones" -> repL("tombstones"),
      "ivf.files_per_cell" -> repL("files") / repL("cells").max(1.0),
      "kb.bootstrap_docs_per_s" -> bootstrapRate,
      "kb.fresh_p50_ms" -> med(fresh), "kb.fresh_tail_ms" -> fT,
      "gen.late_max_ms" -> lateMaxMs) ++
      Calls.snap() ++ traceLayers
    Result(edits.size + srch.size + 1L, med(fresh), fT, layers, report)
  }
}
