package graft.core

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

import graft.providers.{ConnectionRegistry, ConnectionSpec, ModelRegistry, ModelSpec}

/** SQL spelling of the model/connection DDL, so a pure-SQL user can
  * register inference endpoints without touching the programmatic
  * registries (reference generate_personalized_commands.sh:211-259 for
  * CREATE MODEL; :189-203 spells connections through the CLI, which this
  * surface folds into the same DDL shape):
  *
  * {{{
  * CREATE CONNECTION azure-openai-embedding-connection
  * WITH ('type' = 'azureopenai', 'endpoint' = 'https://...',
  *       'api-key' = '...');
  *
  * CREATE MODEL openaiembed
  * INPUT (input STRING)
  * OUTPUT (embedding ARRAY<FLOAT>)
  * WITH ('provider' = 'azureopenai', 'task' = 'embedding',
  *       'azureopenai.connection' = 'azure-openai-embedding-connection',
  *       'azureopenai.input_format' = 'OPENAI-EMBED');
  * }}}
  *
  * Beyond the DDL, the surface also parses the data-ops statements
  * `READ SNAPSHOT '<root>' [VERSION AS OF n] [WITH TOMBSTONES]` (the
  * CDC snapshot reader incl. time travel) and `CURATE TABLE tbl USING
  * dedup_exact|dedup_fuzzy|verdict|split [WITH (...)]` (the flagship
  * curation/dedup pipeline ops) — see [[GraftDdl.curateTableDispatch]].
  *
  * Injected ahead of the Spark parser by [[GraftExtensions]]; every
  * other statement delegates untouched (including `EXPLAIN CREATE
  * MODEL ...` — wrapped statements are the delegate grammar's and fail
  * there; only a top-level CREATE MODEL/CONNECTION is intercepted).
  * INPUT/OUTPUT clauses are accepted and ignored — the engine derives
  * the value shape from 'task' (embedding → array<float>,
  * text_generation → string), exactly as the ml_predict expression
  * does. Registration runs at EXECUTION (a LeafRunnableCommand), not
  * at parse, so building the plan is side-effect-free.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftDdl.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** Recognizer + tiny scanner for the two DDL statements. Anything that
  * does not START with CREATE MODEL/CONNECTION (after leading
  * whitespace and SQL comments) returns None (delegate); anything that
  * does but is malformed raises a [[ParseException]] with a pointed
  * message — falling through to Spark's parser would produce an
  * inscrutable generic syntax error for a statement only this surface
  * understands, and callers that `catch ParseException` around
  * `spark.sql` expect parse-time failures in that type. */
private[core] object GraftDdl {
  import org.apache.spark.sql.catalyst.parser.ParseException
  import org.apache.spark.sql.catalyst.trees.Origin

  private val Head =
    "(?is)^CREATE\\s+(MODEL|CONNECTION|VECTOR\\s+INDEX)\\s+(`[^`]+`|[\\w.$-]+)(.*)$".r
  private val Maint =
    "(?is)^(COMPACT|DESCRIBE|DROP)\\s+VECTOR\\s+INDEX\\s+(`[^`]+`|[\\w.$-]+)\\s*;?\\s*$".r
  private val OnClause =
    "(?is)^ON\\s+(`[^`]+`|[\\w.$-]+)\\s*\\(\\s*(`[^`]+`|[\\w.$-]+)\\s*\\)(.*)$".r
  private val ReadSnap =
    ("(?is)^READ\\s+SNAPSHOT\\s+'([^']+)'" +
      "(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+))?" +
      "(\\s+WITH\\s+TOMBSTONES)?\\s*;?\\s*$").r
  private val CurateTbl =
    "(?is)^CURATE\\s+TABLE\\s+(`[^`]+`|[\\w.$-]+)\\s+USING\\s+(\\w+)(.*)$".r
  private val DescSnap =
    "(?is)^DESCRIBE\\s+SNAPSHOT\\s+'([^']+)'\\s*;?\\s*$".r
  private val ChangelogSnap =
    ("(?is)^READ\\s+SNAPSHOT\\s+CHANGELOG\\s+'([^']+)'" +
      "\\s+FROM\\s+(\\d+)(?:\\s+TO\\s+(\\d+))?\\s*;?\\s*$").r
  // statements that unambiguously START as ours but are malformed must
  // raise the pointed error, not fall through to the delegate's generic
  // syntax failure (matched AFTER their well-formed patterns)
  private val ChangelogSnapMalformed =
    "(?is)^READ\\s+SNAPSHOT\\s+CHANGELOG\\b.*$".r
  private val ReadSnapMalformed = "(?is)^READ\\s+SNAPSHOT\\b.*$".r
  // requires the quoted operand: `DESCRIBE snapshot` is valid DELEGATE
  // SQL for a table named `snapshot` — only the quote makes it ours
  // (READ is not a Spark statement, so ReadSnapMalformed cannot collide)
  private val DescSnapMalformed = "(?is)^DESCRIBE\\s+SNAPSHOT\\s+'.*$".r
  private val CompactSnap =
    ("(?is)^COMPACT\\s+SNAPSHOT\\s+'([^']+)'\\s+HORIZON\\s+(-?\\d+)" +
      "(?:\\s+KEEP\\s+(\\d+))?\\s*;?\\s*$").r
  private val CompactSnapMalformed = "(?is)^COMPACT\\s+SNAPSHOT\\b.*$".r
  private val RebucketSnap =
    ("(?is)^REBUCKET\\s+SNAPSHOT\\s+'([^']+)'\\s+TO\\s+(\\d+)" +
      "(?:\\s+KEEP\\s+(\\d+))?\\s*;?\\s*$").r
  private val RebucketSnapMalformed = "(?is)^REBUCKET\\s+SNAPSHOT\\b.*$".r
  private val SyncVecIdx =
    ("(?is)^SYNC\\s+VECTOR\\s+INDEX\\s+(`[^`]+`|[\\w.$-]+)" +
      "\\s+FROM\\s+SNAPSHOT\\s+'([^']+)'\\s+CURSOR\\s+'([^']+)'" +
      "\\s+EMBED\\s+MODEL\\s+'([^']+)'\\s+TEXT\\s+'([^']+)'\\s*;?\\s*$").r
  private val SyncVecIdxMalformed = "(?is)^SYNC\\s+VECTOR\\s+INDEX\\b.*$".r

  /** The statement family's uniform failure contract: rethrow
    * ParseException untouched, let AnalysisException (planning/catalog)
    * and IO faults (transient infra — a retryable read error is NOT a
    * malformed statement) propagate in their own types, and surface
    * every other NonFatal as the pointed ParseException a spark.sql
    * caller expects for parse-time failures. */
  private def wrapStatement[T](sql: String, label: String)(f: => T): T =
    try f
    catch {
      case e: ParseException => throw e
      case e: org.apache.spark.sql.AnalysisException => throw e
      case e: java.io.IOException => throw e
      case scala.util.control.NonFatal(e) =>
        throw new ParseException(Option(sql), Origin(),
          "PARSE_SYNTAX_ERROR",
          Map("error" -> s"'$label'", "hint" -> s": ${e.getMessage}"))
    }

  /** Drop leading whitespace, `-- line` and `/* block */` comments — a
    * commented CREATE MODEL must still reach the recognizer (standard
    * parsers skip trivia before the first token). Unterminated block
    * comments yield the raw text: not ours, delegate decides. */
  private[core] def stripLeadingTrivia(sql: String): String = {
    var s = sql
    var changed = true
    while (changed) {
      changed = false
      val t = s.dropWhile(_.isWhitespace)
      if (t.startsWith("--")) {
        val nl = t.indexOf('\n')
        s = if (nl < 0) "" else t.substring(nl + 1); changed = true
      } else if (t.startsWith("/*")) {
        val end = t.indexOf("*/", 2)
        if (end < 0) return s
        s = t.substring(end + 2); changed = true
      } else s = t
    }
    s
  }

  def parse(sql: String): Option[LogicalPlan] = stripLeadingTrivia(sql) match {
    case ChangelogSnap(root, from, to) =>
      // READ SNAPSHOT CHANGELOG '<root>' FROM n [TO m] — the CDC-out
      // face (StreamingOps.snapshotChangelog): the bucket-pruned diff
      // between two retained snapshots in applyChangelog's input shape.
      // IllegalState (pruned/uncommitted), IllegalArgument (FROM > TO),
      // NumberFormat (overflowed literal) all wrap as the contract's
      // ParseException.
      val spark = SparkSession.active
      wrapStatement(sql, "READ SNAPSHOT CHANGELOG") {
        Some(graft.streaming.StreamingOps.snapshotChangelog(spark, root,
            from.toLong, Option(to).map(_.toLong))
          .queryExecution.logical)
      }
    case ChangelogSnapMalformed() =>
      throw new ParseException(Option(sql), Origin(), "PARSE_SYNTAX_ERROR",
        Map("error" -> "'READ SNAPSHOT CHANGELOG'",
            "hint" -> (": expected READ SNAPSHOT CHANGELOG '<root>' " +
              "FROM <n> [TO <m>]")))
    case ReadSnap(root, ver, tomb) =>
      // READ SNAPSHOT '<root>' [VERSION AS OF n] [WITH TOMBSTONES] —
      // the SQL face of StreamingOps.readSnapshot (the CDC snapshot
      // sink's reader, incl. time travel over retained manifests). The
      // schema is the snapshot's own, so this resolves to the actual
      // read plan rather than a fixed-output command; resolution is a
      // manifest-file read — metadata only, like table resolution.
      val spark = SparkSession.active
      wrapStatement(sql, "READ SNAPSHOT") {
        val df = graft.streaming.StreamingOps.readSnapshot(spark, root,
            includeTombstones = tomb != null,
            version = Option(ver).map(_.toLong))
          .getOrElse(throw new ParseException(Option(sql), Origin(),
            "PARSE_SYNTAX_ERROR",
            Map("error" -> "'READ SNAPSHOT'",
                "hint" -> s": no committed snapshot at $root")))
        Some(df.queryExecution.logical)
      }
    case ReadSnapMalformed() =>
      throw new ParseException(Option(sql), Origin(), "PARSE_SYNTAX_ERROR",
        Map("error" -> "'READ SNAPSHOT'",
            "hint" -> (": expected READ SNAPSHOT '<root>' " +
              "[VERSION AS OF <n>] [WITH TOMBSTONES]")))
    case DescSnap(root) =>
      // DESCRIBE SNAPSHOT '<root>' — the one-row ops summary
      // (StreamingOps.describeSnapshot): metadata-only, like the
      // vector-index DESCRIBE
      val spark = SparkSession.active
      wrapStatement(sql, "DESCRIBE SNAPSHOT") {
        val df = graft.streaming.StreamingOps.describeSnapshot(spark, root)
          .getOrElse(throw new ParseException(Option(sql), Origin(),
            "PARSE_SYNTAX_ERROR",
            Map("error" -> "'DESCRIBE SNAPSHOT'",
                "hint" -> s": no committed snapshot at $root")))
        Some(df.queryExecution.logical)
      }
    case DescSnapMalformed() =>
      throw new ParseException(Option(sql), Origin(), "PARSE_SYNTAX_ERROR",
        Map("error" -> "'DESCRIBE SNAPSHOT'",
            "hint" -> ": expected DESCRIBE SNAPSHOT '<root>'"))
    case CompactSnap(root, horizon, keep) =>
      // COMPACT SNAPSHOT '<root>' HORIZON <seq> [KEEP <k>] — the
      // tombstone-drop maintenance pass (StreamingOps.compactSnapshot)
      // as a proper command: the side effect runs at EXECUTION, like
      // COMPACT VECTOR INDEX. The literal conversions run inside the
      // wrap so an overflowed number is a ParseException, not a raw
      // NumberFormatException.
      wrapStatement(sql, "COMPACT SNAPSHOT") {
        Some(CompactSnapshotCommand(root, horizon.toLong,
          Option(keep).map(_.toInt)))
      }
    case CompactSnapMalformed() =>
      throw new ParseException(Option(sql), Origin(), "PARSE_SYNTAX_ERROR",
        Map("error" -> "'COMPACT SNAPSHOT'",
            "hint" -> (": expected COMPACT SNAPSHOT '<root>' " +
              "HORIZON <seq> [KEEP <k>]")))
    case RebucketSnap(root, b, keep) =>
      // REBUCKET SNAPSHOT '<root>' TO <B> [KEEP <k>] — the grow-only
      // bucket-count migration (StreamingOps.rebucketSnapshot)
      wrapStatement(sql, "REBUCKET SNAPSHOT") {
        Some(RebucketSnapshotCommand(root, b.toInt,
          Option(keep).map(_.toInt)))
      }
    case RebucketSnapMalformed() =>
      throw new ParseException(Option(sql), Origin(), "PARSE_SYNTAX_ERROR",
        Map("error" -> "'REBUCKET SNAPSHOT'",
            "hint" -> (": expected REBUCKET SNAPSHOT '<root>' " +
              "TO <buckets> [KEEP <k>]")))
    case SyncVecIdx(rawName, root, cursor, model, textCol) =>
      // SYNC VECTOR INDEX idx FROM SNAPSHOT '<root>' CURSOR '<cursor>'
      // EMBED MODEL '<model>' TEXT '<col>' — the reference's outer loop
      // from SQL: drain the CDC snapshot store's changelog into the
      // registered persisted index (embed changed docs, versioned
      // upsert/delete), cursor-committed per pulled snapshot
      // (streaming.IndexSync). Side effect at execution, like the
      // other maintenance commands.
      wrapStatement(sql, "SYNC VECTOR INDEX") {
        Some(SyncVectorIndexCommand(
          rawName.stripPrefix("`").stripSuffix("`"), root, cursor,
          model, textCol))
      }
    case SyncVecIdxMalformed() =>
      throw new ParseException(Option(sql), Origin(), "PARSE_SYNTAX_ERROR",
        Map("error" -> "'SYNC VECTOR INDEX'",
            "hint" -> (": expected SYNC VECTOR INDEX <idx> FROM " +
              "SNAPSHOT '<root>' CURSOR '<cursor>' EMBED MODEL " +
              "'<model>' TEXT '<text_col>'")))
    case CurateTbl(rawTbl, op, rest) =>
      val tbl = rawTbl.stripPrefix("`").stripSuffix("`")
      val stmt = s"CURATE TABLE $tbl USING ${op.toLowerCase}"
      // one failure contract for the whole statement family — option
      // scan and dispatch both wrap via wrapStatement (AnalysisException
      // propagates for table resolution, IO faults keep their type)
      wrapStatement(sql, "CURATE TABLE") {
        val opts =
          if (rest.trim.stripSuffix(";").trim.isEmpty)
            Map.empty[String, String]
          else {
            var r = rest.trim
            require(r.length >= 4 &&
              r.substring(0, 4).equalsIgnoreCase("WITH"),
              s"$stmt: expected WITH ('key' = 'value', ...) or nothing")
            r = r.substring(4).trim
            require(r.startsWith("("),
              s"$stmt: WITH must be followed by (...)")
            val (m, after) = parsePairs(stmt, r)
            val tail = after.trim.stripSuffix(";").trim
            require(tail.isEmpty,
              s"$stmt: unexpected trailing input '${tail.take(40)}'")
            m
          }
        Some(curateTableDispatch(stmt, tbl, op.toLowerCase, opts))
      }
    case Maint(verb, rawName) =>
      val name = rawName.stripPrefix("`").stripSuffix("`")
      if (verb.equalsIgnoreCase("COMPACT"))
        Some(CompactVectorIndexCommand(name))
      else if (verb.equalsIgnoreCase("DROP"))
        Some(DropVectorIndexCommand(name))
      else Some(DescribeVectorIndexCommand(name))
    case Head(kind0, rawName, rest) =>
      val kind = kind0.toUpperCase.replaceAll("\\s+", " ")
      val name = rawName.stripPrefix("`").stripSuffix("`")
      val stmt = s"CREATE $kind $name"
      // recognized-as-ours but malformed → ParseException, not the
      // scanner's bare IllegalArgumentException/RuntimeException
      def guarded[T](f: => T): T = wrapStatement(sql, kind)(f)
      if (kind == "VECTOR INDEX") Some(guarded {
        // CREATE VECTOR INDEX idx ON table (vector_col) WITH (...)
        rest.trim match {
          case OnClause(rawTbl, rawCol, rest2) =>
            val (opts, after) = {
              var r = rest2.trim
              require(r.length >= 4 && r.substring(0, 4).equalsIgnoreCase("WITH"),
                s"$stmt: expected WITH ('key' = 'value', ...) options clause")
              r = r.substring(4).trim
              require(r.startsWith("("), s"$stmt: WITH must be followed by (...)")
              parsePairs(stmt, r)
            }
            val tail = after.trim.stripSuffix(";").trim
            require(tail.isEmpty,
              s"$stmt: unexpected trailing input '${tail.take(40)}'")
            CreateVectorIndexCommand(name,
              rawTbl.stripPrefix("`").stripSuffix("`"),
              rawCol.stripPrefix("`").stripSuffix("`"), opts)
          case _ => sys.error(
            s"$stmt: expected ON <table> (<vector_column>) before WITH")
        }
      })
      else {
        val opts = guarded(parseClauses(stmt, rest))
        if (kind == "MODEL") Some(CreateModelCommand(name, opts))
        else Some(CreateConnectionCommand(name, opts))
      }
    case _ => None
  }

  /** `CURATE TABLE tbl USING op [WITH (...)]` — the SQL face of the
    * flagship curation/dedup pipeline ops (the reference is SQL-first;
    * a pure-SQL user runs the curation path without touching the
    * DataFrame API). Dispatches to the EXACT functions the DataFrame
    * path uses — SqlSurfaceSpec pins hash parity — so the plan, the
    * scale shape and the results are identical by construction:
    *
    *  - `dedup_exact` → [[graft.operators.Dedup.exactGroups]]
    *    (content_hash, n_dups, keep_id); options 'id', 'text'.
    *  - `dedup_fuzzy` → [[graft.operators.Dedup.minhashLshVerified]]
    *    (verified near-dup pairs); options 'id', 'text', 'shingle_n',
    *    'bands', 'rows_per_band', 'threshold'.
    *  - `verdict` → [[graft.pipeline.CurationPipeline.annotate]]
    *    (post-dedup rows + gate verdict); options 'id', 'text',
    *    'min_quality', 'langs' (comma list), 'min_tokens', 'max_tokens'.
    *  - `split` → [[graft.pipeline.CurationPipeline.hashSplit]]
    *    (rows + split band); options 'id', 'splits'
    *    ("train:0.8,val:0.1,test:0.1"), 'seed'.
    *  - `split_leakage_safe` →
    *    [[graft.pipeline.CurationPipeline.leakageSafeSplit]] (rows +
    *    split_key + split, near-dup clusters banded together); options
    *    'id', 'text', 'splits', 'seed', 'shingle_n', 'bands',
    *    'rows_per_band', 'max_bucket_size'.
    *  - `weighted_sample` →
    *    [[graft.pipeline.CurationPipeline.weightedSample]] (A-ES
    *    weighted top-k + rank); options 'id', 'k' (required), 'weight'
    *    (weight column, required — must be > 0), 'seed'.
    *  - `token_budget` →
    *    [[graft.pipeline.CurationPipeline.tokenBudgetSelect]]
    *    (doc_id, q, n_tokens, kept under the budget); options 'id',
    *    'text', 'fraction' (required, (0,1]).
    *  - `decontaminate` →
    *    [[graft.pipeline.CurationPipeline.decontaminate]] (flagged
    *    candidate ids sharing an n-gram with the benchmark table);
    *    options 'id', 'text', 'benchmark' (table name, required),
    *    'shingle_n'.
    *  - `epoch_mix` → [[graft.pipeline.CurationPipeline.epochMix]]
    *    (rows × deterministic copy index — upsampling weights > 1);
    *    options 'id', 'strata' (column, default 'source'), 'weights'
    *    (required, "en:1.0,zh:2.5" — an allowlist).
    *  - `temperature_mix` →
    *    [[graft.pipeline.CurationPipeline.temperatureMix]] (rows ×
    *    copy index, weights DERIVED from corpus counts at temperature
    *    α); options 'id', 'strata', 'alpha', 'max_weight'.
    *  - `pack` → [[graft.pipeline.CurationPipeline.packSequences]]
    *    (id, stratum, n_tokens, bin, offset — fixed-capacity token
    *    bins); options 'id', 'text', 'strata', 'capacity' (required).
    *  - `shuffle_shard` →
    *    [[graft.pipeline.CurationPipeline.seededShuffleShard]]
    *    (id, pos, shard — seeded global shuffle into fixed-size
    *    shards); options 'id', 'shard_size' (required), 'seed'.
    *  - `sample_k` →
    *    [[graft.pipeline.CurationPipeline.sampleKPerStratum]] (exactly
    *    min(k, |stratum|) rows per stratum by md5(id) order); options
    *    'id', 'strata', 'k' (required).
    *  - `dsir_score` → [[graft.pipeline.CurationPipeline.dsirScores]]
    *    (id, n_feats, score — hashed-unigram log-likelihood ratio
    *    toward the target domain); options 'id', 'text', 'target'
    *    (required, a boolean SQL expression over the table's columns,
    *    e.g. "lang = 'en'").
    *  - `crawl_seed` → [[graft.operators.CrawlFrontier.seed]] (URL
    *    rows → the 13-column frontier contract); options 'url', 'now'
    *    (required, epoch seconds — explicit for deterministic
    *    replays, like every crawl op), 'interval', 'priority_col',
    *    'interval_col', 'lastmod_col' (sitemap <lastmod> → the
    *    last_modified validator), 'depth'.
    *  - `crawl_reseed` → [[graft.operators.CrawlFrontier.reseed]]
    *    (the changed-rows-only merge of a re-announced seed wave —
    *    known rows pull due-now only on a lastmod newer than their
    *    last fetch); options 'seeds' (required, a crawl_seed output
    *    table), 'now' (required).
    *  - `crawl_robots_rules` →
    *    [[graft.functions.Robots.rulesFromFetch]] (robots.txt fetch
    *    results → the per-host rules frame under RFC 9309 §2.3.1's
    *    status law), optionally folded into a maintained frame via
    *    [[graft.functions.Robots.updateRules]] (latest-fetched_at
    *    wins); options 'agent', 'maintained' (the current rules
    *    table to merge into).
    *  - `crawl_select` → [[graft.operators.CrawlFrontier.selectBatch]]
    *    (the politeness-bounded fetch batch); options 'now',
    *    'batch_size', 'per_host_cap' (all required), 'budgets' (a
    *    (host, cap) table, e.g. politenessBudgets output).
    *  - `crawl_recrawl` →
    *    [[graft.operators.CrawlFrontier.recrawlSchedule]] (the whole
    *    frontier under the revisit law); options 'fetched' (required,
    *    the fetch-results table), 'min_interval', 'max_interval',
    *    'grow', 'shrink', 'max_fails'.
    *  - `crawl_admit` → [[graft.operators.CrawlFrontier.admit]]
    *    (admitted discoveries only — an upsert batch); options
    *    'discovered' (required), 'now' (required), 'max_depth',
    *    'per_domain_cap', 'interval'.
    *  - `crawl_gate_robots` →
    *    [[graft.operators.CrawlFrontier.gateRobots]] (discovered rows
    *    whose canonical identity the host's robots rules allow — the
    *    RFC 9309 pre-admit compliance gate); options 'url', 'rules'
    *    (required, a Robots.parseRules output table keyed by host),
    *    'agent'.
    *  - `langid_nb` →
    *    [[graft.functions.TextAnalysis.langIdNbClassify]] under a
    *    model trained in the SAME statement from a labeled table via
    *    [[graft.functions.TextAnalysis.langIdNbTrain]] (id, lang_pred,
    *    score); options 'id', 'text', 'train' (required, the labeled
    *    table), 'train_lang', 'train_text'.
    *
    * Output schema depends on the op and the table, so like READ
    * SNAPSHOT this resolves to the composed read plan at parse time
    * (side-effect-free — the ops are pure transforms). Unknown ops and
    * unknown option keys raise: a typo must not silently run a
    * default gate over a 100 TB corpus. */
  private def curateTableDispatch(stmt: String, tbl: String, op: String,
                                  opts: Map[String, String]): LogicalPlan = {
    import graft.operators.Dedup
    import graft.pipeline.CurationPipeline
    val spark = SparkSession.active
    def requireKeys(allowed: Set[String]): Unit = {
      val unknown = opts.keySet -- allowed
      require(unknown.isEmpty,
        s"$stmt: unknown option(s) ${unknown.mkString(", ")} " +
          s"(allowed: ${allowed.toSeq.sorted.mkString(", ")})")
    }
    val df = spark.table(tbl)
    val id = opts.getOrElse("id", "doc_id")
    val text = opts.getOrElse("text", "text")
    val out = op match {
      case "dedup_exact" =>
        requireKeys(Set("id", "text"))
        Dedup.exactGroups(df, text, id)
      case "dedup_fuzzy" =>
        requireKeys(Set("id", "text", "shingle_n", "bands", "rows_per_band",
          "threshold", "max_bucket_size"))
        // max_bucket_size = the LSH hot-bucket skew guard threaded to
        // the SQL face (0 = uncapped exact recall) — the knob a 100 TB
        // run sets so boilerplate band buckets cannot expand C(n,2)
        Dedup.minhashLshVerified(df, text, id,
          shingleN = opts.getOrElse("shingle_n", "3").toInt,
          bands = opts.getOrElse("bands", "4").toInt,
          rowsPerBand = opts.getOrElse("rows_per_band", "3").toInt,
          threshold = opts.getOrElse("threshold", "0.6").toDouble,
          maxBucketSize = opts.getOrElse("max_bucket_size", "0").toInt)
      case "verdict" =>
        requireKeys(Set("id", "text", "min_quality", "langs", "min_tokens",
          "max_tokens"))
        CurationPipeline.annotate(df, CurationPipeline.Config(
            minQuality = opts.getOrElse("min_quality", "0.5").toDouble,
            langs = opts.getOrElse("langs", "en").split(',').map(_.trim)
              .filter(_.nonEmpty).toSeq,
            minTokens = opts.getOrElse("min_tokens", "10").toInt,
            maxTokens = opts.getOrElse("max_tokens", "100000").toInt),
          text, id)
      case "split" =>
        requireKeys(Set("id", "splits", "seed"))
        CurationPipeline.hashSplit(df, parseSplits(stmt, opts), id,
          seed = opts.getOrElse("seed", "0"))
      case "split_leakage_safe" =>
        requireKeys(Set("id", "text", "splits", "seed", "shingle_n",
          "bands", "rows_per_band", "max_bucket_size"))
        CurationPipeline.leakageSafeSplit(df, parseSplits(stmt, opts),
          textCol = text, idCol = id,
          seed = opts.getOrElse("seed", "0"),
          shingleN = opts.getOrElse("shingle_n", "3").toInt,
          bands = opts.getOrElse("bands", "4").toInt,
          rowsPerBand = opts.getOrElse("rows_per_band", "3").toInt,
          maxBucketSize = opts.getOrElse("max_bucket_size", "0").toInt)
      case "weighted_sample" =>
        requireKeys(Set("id", "k", "weight", "seed"))
        val weight = opts.getOrElse("weight", sys.error(
          s"$stmt: weighted_sample requires a 'weight' option " +
            "(the > 0 weight column)"))
        CurationPipeline.weightedSample(df,
          k = opts.getOrElse("k", sys.error(
            s"$stmt: weighted_sample requires a 'k' option")).toInt,
          weightCol = org.apache.spark.sql.functions.col(weight),
          idCol = id, seed = opts.getOrElse("seed", "0"))
      case "token_budget" =>
        requireKeys(Set("id", "text", "fraction"))
        CurationPipeline.tokenBudgetSelect(df,
          fraction = opts.getOrElse("fraction", sys.error(
            s"$stmt: token_budget requires a 'fraction' option " +
              "(share of the corpus' tokens to keep, (0,1])")).toDouble,
          textCol = text, idCol = id)
      case "decontaminate" =>
        requireKeys(Set("id", "text", "benchmark", "shingle_n"))
        val bench = opts.getOrElse("benchmark", sys.error(
          s"$stmt: decontaminate requires a 'benchmark' option " +
            "(the eval table to screen against)"))
        CurationPipeline.decontaminate(df, spark.table(bench),
          textCol = text, idCol = id,
          shingleN = opts.getOrElse("shingle_n", "8").toInt)
      case "epoch_mix" =>
        requireKeys(Set("id", "strata", "weights"))
        val weights = opts.getOrElse("weights", sys.error(
          s"$stmt: epoch_mix requires a 'weights' option " +
            "(\"stratum:weight,...\" — an allowlist; absent strata drop)"))
        CurationPipeline.epochMix(df,
          strataCol = opts.getOrElse("strata", "source"), idCol = id,
          weights = weights.split(',').map(_.trim).filter(_.nonEmpty)
            .map { s =>
              val parts = s.split(':')
              require(parts.length == 2,
                s"$stmt: malformed weights entry '$s' (want name:weight)")
              parts(0).trim -> parts(1).trim.toDouble
            }.toMap)
      case "temperature_mix" =>
        requireKeys(Set("id", "strata", "alpha", "max_weight"))
        CurationPipeline.temperatureMix(df,
          strataCol = opts.getOrElse("strata", "source"), idCol = id,
          alpha = opts.getOrElse("alpha", "0.5").toDouble,
          maxWeight = opts.getOrElse("max_weight", "10.0").toDouble)
      case "pack" =>
        requireKeys(Set("id", "text", "strata", "capacity"))
        CurationPipeline.packSequences(df,
          capacity = opts.getOrElse("capacity", sys.error(
            s"$stmt: pack requires a 'capacity' option " +
              "(tokens per bin, > 0)")).toInt,
          strataCol = opts.getOrElse("strata", "source"),
          textCol = text, idCol = id)
      case "shuffle_shard" =>
        requireKeys(Set("id", "shard_size", "seed"))
        CurationPipeline.seededShuffleShard(df,
          shardSize = opts.getOrElse("shard_size", sys.error(
            s"$stmt: shuffle_shard requires a 'shard_size' option " +
              "(rows per shard, > 0)")).toLong,
          seed = opts.getOrElse("seed", "0"), idCol = id)
      case "sample_k" =>
        requireKeys(Set("id", "strata", "k"))
        CurationPipeline.sampleKPerStratum(df,
          strataCol = opts.getOrElse("strata", "source"), idCol = id,
          k = opts.getOrElse("k", sys.error(
            s"$stmt: sample_k requires a 'k' option " +
              "(rows per stratum, >= 1)")).toInt)
      case "dsir_score" =>
        requireKeys(Set("id", "text", "target"))
        val target = opts.getOrElse("target", sys.error(
          s"$stmt: dsir_score requires a 'target' option (a boolean " +
            "SQL expression selecting the target-domain rows, e.g. " +
            "\"lang = 'en'\")"))
        CurationPipeline.dsirScores(df, idCol = id, textCol = text,
          isTarget = org.apache.spark.sql.functions.expr(target))
      // ---- the crawl-frontier loop (operators/CrawlFrontier). Every
      // op takes 'now' EXPLICITLY (epoch seconds) — wall-clock inside
      // a statement would make replays non-deterministic.
      case "crawl_seed" =>
        requireKeys(Set("url", "now", "interval", "priority_col",
          "interval_col", "lastmod_col", "depth"))
        graft.operators.CrawlFrontier.seed(df,
          now = reqLong(stmt, opts, "now"),
          urlCol = opts.getOrElse("url", "url"),
          priorityCol = opts.get("priority_col"),
          intervalCol = opts.get("interval_col"),
          defaultIntervalS = opts.getOrElse("interval", "86400").toLong,
          depth = opts.getOrElse("depth", "0").toInt,
          lastmodCol = opts.get("lastmod_col"))
      case "crawl_reseed" =>
        requireKeys(Set("seeds", "now"))
        val seedsTbl = opts.getOrElse("seeds", sys.error(
          s"$stmt: crawl_reseed requires a 'seeds' option (a " +
            "crawl_seed output table — the re-announced wave)"))
        graft.operators.CrawlFrontier.reseed(df, spark.table(seedsTbl),
          now = reqLong(stmt, opts, "now"))
      case "crawl_robots_rules" =>
        requireKeys(Set("agent", "maintained"))
        val fresh = graft.functions.Robots.rulesFromFetch(df,
          opts.getOrElse("agent", "*"))
        opts.get("maintained")
          .map(t => graft.functions.Robots.updateRules(spark.table(t),
            fresh))
          .getOrElse(fresh)
      case "crawl_select" =>
        requireKeys(Set("now", "batch_size", "per_host_cap", "budgets"))
        graft.operators.CrawlFrontier.selectBatch(df,
          now = reqLong(stmt, opts, "now"),
          batchSize = opts.getOrElse("batch_size", sys.error(
            s"$stmt: crawl_select requires a 'batch_size' option")).toInt,
          perHostCap = opts.getOrElse("per_host_cap", sys.error(
            s"$stmt: crawl_select requires a 'per_host_cap' option"))
            .toInt,
          hostBudgets = opts.get("budgets").map(spark.table))
      case "crawl_recrawl" =>
        requireKeys(Set("fetched", "min_interval", "max_interval",
          "grow", "shrink", "max_fails"))
        val fetched = opts.getOrElse("fetched", sys.error(
          s"$stmt: crawl_recrawl requires a 'fetched' option (the " +
            "fetch-results table: url, fetch_ts, status, content_hash)"))
        graft.operators.CrawlFrontier.recrawlSchedule(df,
          spark.table(fetched),
          graft.operators.CrawlFrontier.Revisit(
            minIntervalS = opts.getOrElse("min_interval", "3600").toLong,
            maxIntervalS = opts.getOrElse("max_interval",
              (30L * 86400L).toString).toLong,
            grow = opts.getOrElse("grow", "2.0").toDouble,
            shrink = opts.getOrElse("shrink", "2.0").toDouble,
            maxFails = opts.getOrElse("max_fails", "3").toInt))
      case "crawl_admit" =>
        requireKeys(Set("discovered", "now", "max_depth",
          "per_domain_cap", "interval"))
        val disc = opts.getOrElse("discovered", sys.error(
          s"$stmt: crawl_admit requires a 'discovered' option (the " +
            "discovered-links table: url, depth)"))
        graft.operators.CrawlFrontier.admit(df, spark.table(disc),
          now = reqLong(stmt, opts, "now"),
          maxDepth = opts.getOrElse("max_depth", "8").toInt,
          perDomainCap = opts.getOrElse("per_domain_cap",
            Long.MaxValue.toString).toLong,
          defaultIntervalS = opts.getOrElse("interval", "86400").toLong)
      case "crawl_traps" =>
        requireKeys(Set("url", "max_per_template"))
        graft.operators.CrawlFrontier.trapTemplates(df,
          maxPerTemplate = opts.getOrElse("max_per_template", sys.error(
            s"$stmt: crawl_traps requires a 'max_per_template' option"))
            .toLong,
          urlCol = opts.getOrElse("url", "url"))
      case "crawl_trap_gate" =>
        requireKeys(Set("url", "traps"))
        val traps = opts.getOrElse("traps", sys.error(
          s"$stmt: crawl_trap_gate requires a 'traps' option (the " +
            "flagged-templates table: host, template, n_urls)"))
        graft.operators.CrawlFrontier.filterTraps(df,
          spark.table(traps), urlCol = opts.getOrElse("url", "url"))
      case "crawl_rescore" =>
        requireKeys(Set("scores", "alpha", "host", "score"))
        val scoresTbl = opts.getOrElse("scores", sys.error(
          s"$stmt: crawl_rescore requires a 'scores' option (the " +
            "host-quality table: host, score)"))
        graft.operators.CrawlFrontier.rescorePriorities(df,
          spark.table(scoresTbl),
          alpha = opts.getOrElse("alpha", "0.5").toDouble,
          hostCol = opts.getOrElse("host", "host"),
          scoreCol = opts.getOrElse("score", "score"))
      case "crawl_gate_robots" =>
        requireKeys(Set("url", "rules", "agent"))
        val rulesTbl = opts.getOrElse("rules", sys.error(
          s"$stmt: crawl_gate_robots requires a 'rules' option (the " +
            "parsed robots-rules table keyed by HOST: " +
            "domain, agent, rule, path — Robots.parseRules output)"))
        graft.operators.CrawlFrontier.gateRobots(df,
          graft.functions.Robots.rulesByDomain(spark.table(rulesTbl),
            opts.getOrElse("agent", "*")),
          urlCol = opts.getOrElse("url", "url"))
      case "langid_nb" =>
        requireKeys(Set("id", "text", "train", "train_lang",
          "train_text"))
        val trainTbl = opts.getOrElse("train", sys.error(
          s"$stmt: langid_nb requires a 'train' option (the labeled " +
            "training table: lang, text)"))
        graft.functions.TextAnalysis.langIdNbClassify(df,
          graft.functions.TextAnalysis.langIdNbTrain(
            spark.table(trainTbl),
            langCol = opts.getOrElse("train_lang", "lang"),
            textCol = opts.getOrElse("train_text", "text")),
          idCol = opts.getOrElse("id", "doc_id"),
          textCol = opts.getOrElse("text", "text"))
      case other => sys.error(
        s"$stmt: unknown op '$other' (supported: dedup_exact, " +
          "dedup_fuzzy, verdict, split, split_leakage_safe, " +
          "weighted_sample, token_budget, decontaminate, epoch_mix, " +
          "temperature_mix, pack, shuffle_shard, sample_k, dsir_score, " +
          "langid_nb, crawl_seed, crawl_reseed, crawl_select, " +
          "crawl_recrawl, crawl_admit, crawl_traps, crawl_trap_gate, " +
          "crawl_gate_robots, crawl_robots_rules, crawl_rescore)")
    }
    out.queryExecution.logical
  }

  /** An epoch-seconds option the crawl ops REQUIRE (determinism:
    * wall-clock inside a statement would break replays). */
  private def reqLong(stmt: String, opts: Map[String, String],
                      key: String): Long =
    opts.getOrElse(key, sys.error(
      s"$stmt: this op requires a '$key' option (epoch seconds — " +
        "explicit, so replaying the statement is deterministic)")).toLong

  /** Parse a 'splits' option ("train:0.8,val:0.1,test:0.1") — shared by
    * the plain and leakage-safe split ops. */
  private def parseSplits(stmt: String,
                          opts: Map[String, String]): Seq[(String, Double)] =
    opts.getOrElse("splits", "train:0.8,val:0.1,test:0.1")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { s =>
        val parts = s.split(':')
        require(parts.length == 2,
          s"$stmt: malformed splits entry '$s' (want name:fraction)")
        parts(0).trim -> parts(1).trim.toDouble
      }

  /** [INPUT (...)] [OUTPUT (...)] WITH ( 'k' = 'v' [, ...] ) [;] */
  private def parseClauses(stmt: String, rest0: String): Map[String, String] = {
    var rest = rest0.trim
    for (kw <- Seq("INPUT", "OUTPUT")) {
      if (rest.length >= kw.length && rest.substring(0, kw.length)
          .equalsIgnoreCase(kw)) {
        val afterKw = rest.substring(kw.length).trim
        require(afterKw.startsWith("("), s"$stmt: $kw must be followed by (...)")
        rest = skipBalanced(stmt, afterKw).trim
      }
    }
    require(rest.length >= 4 && rest.substring(0, 4).equalsIgnoreCase("WITH"),
      s"$stmt: expected WITH ('key' = 'value', ...) options clause")
    rest = rest.substring(4).trim
    require(rest.startsWith("("), s"$stmt: WITH must be followed by (...)")
    val (opts, after) = parsePairs(stmt, rest)
    val tail = after.trim.stripSuffix(";").trim
    require(tail.isEmpty, s"$stmt: unexpected trailing input '${tail.take(40)}'")
    opts
  }

  /** Skip one balanced (...) group (no string literals expected inside
    * the INPUT/OUTPUT schema clauses); returns the remainder. */
  private def skipBalanced(stmt: String, s: String): String = {
    var depth = 0; var i = 0
    while (i < s.length) {
      s(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return s.substring(i + 1)
        case _ =>
      }
      i += 1
    }
    sys.error(s"$stmt: unbalanced parentheses")
  }

  /** Parse ( 'k' = 'v' [, ...] ), SQL '' escapes honored; returns the
    * option map and the remainder after the closing paren. */
  private def parsePairs(stmt: String, s: String): (Map[String, String], String) = {
    var i = 1 // past '('
    val opts = Map.newBuilder[String, String]
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def str(): String = {
      require(i < s.length && s(i) == '\'',
        s"$stmt: expected a 'single-quoted' string at ...${s.substring(math.max(0, i - 5)).take(20)}")
      i += 1
      val sb = new StringBuilder
      while (i < s.length) {
        if (s(i) == '\'') {
          if (i + 1 < s.length && s(i + 1) == '\'') { sb += '\''; i += 2 }
          else { i += 1; return sb.toString }
        } else { sb += s(i); i += 1 }
      }
      sys.error(s"$stmt: unterminated string literal")
    }
    ws()
    if (i < s.length && s(i) == ')') return (opts.result(), s.substring(i + 1))
    while (true) {
      ws(); val k = str()
      ws(); require(i < s.length && s(i) == '=', s"$stmt: expected '=' after '$k'")
      i += 1
      ws(); val v = str()
      opts += (k -> v)
      ws()
      require(i < s.length && (s(i) == ',' || s(i) == ')'),
        s"$stmt: expected ',' or ')' after the value of '$k'")
      if (s(i) == ')') return (opts.result(), s.substring(i + 1))
      i += 1
    }
    sys.error("unreachable")
  }
}

private[core] object GraftDdlRedact {
  private val Secret = Set("api-key", "api_key", "apikey", "password", "token",
    "secret", "authorization")
  /** Option map with credential values masked — what the PLAN prints.
    * Inline 'api-key' literals would otherwise land verbatim in query
    * logs and QueryExecutionListener events via the command's toString. */
  def apply(options: Map[String, String]): Map[String, String] =
    options.map { case (k, v) =>
      val bare = k.substring(k.lastIndexOf('.') + 1).toLowerCase
      if (Secret.contains(bare) && v.nonEmpty) (k, "*****") else (k, v)
    }
}

/** CREATE MODEL → [[ModelRegistry]]. Provider-prefixed keys (the
  * reference's 'azureopenai.connection' spelling) and bare keys are both
  * accepted, prefixed winning. */
case class CreateModelCommand(name: String, options: Map[String, String])
    extends LeafRunnableCommand {
  override def stringArgs: Iterator[Any] =
    Iterator(name, GraftDdlRedact(options))
  override def run(session: SparkSession): Seq[Row] = {
    val provider = options.getOrElse("provider", "mock")
    def opt(key: String, default: String = ""): String =
      options.getOrElse(s"$provider.$key", options.getOrElse(key, default))
    val task = opt("task")
    if (task.isEmpty)
      sys.error(s"CREATE MODEL $name: missing required option 'task'")
    ModelRegistry.register(ModelSpec(name, provider = provider, task = task,
      connection = opt("connection"),
      modelVersion = opt("model_version"),
      inputFormat = opt("input_format"),
      systemPrompt = opt("system_prompt"),
      dim = opt("dim", "1536").toInt))
    Seq.empty
  }
}

/** CREATE CONNECTION → [[ConnectionRegistry]] (the SQL spelling of the
  * reference's `confluent flink connection create ... --type --endpoint
  * --api-key` CLI). */
case class CreateConnectionCommand(name: String, options: Map[String, String])
    extends LeafRunnableCommand {
  override def stringArgs: Iterator[Any] =
    Iterator(name, GraftDdlRedact(options))
  override def run(session: SparkSession): Seq[Row] = {
    ConnectionRegistry.register(ConnectionSpec(name,
      connType = options.getOrElse("type", ""),
      endpoint = options.getOrElse("endpoint", ""),
      apiKey = options.getOrElse("api-key", ""),
      username = options.getOrElse("username", ""),
      password = options.getOrElse("password", "")))
    Seq.empty
  }
}

/** `CREATE VECTOR INDEX idx ON tbl (emb_col) WITH ('path' = ...)` — the
  * SQL spelling of the persisted IVF-Flat index build
  * (operators.SimilaritySearch.writeIvfFlatIndex), so a pure-SQL user
  * reaches the scale-ready index the way they reach CREATE
  * MODEL/CONNECTION — the analog of provisioning the reference's
  * EXTERNAL Atlas vector index (terraform main.tf:649-669) next to its
  * CREATE MODEL DDL. Build mirrors VectorStores.adaptive exactly (same
  * chunk-unique nid, same first-`cells`-vectors seed centroids), writes
  * with overwrite (re-running = rebuild, CREATE-OR-REPLACE semantics),
  * and registers an [[graft.store.IvfFlatIndexStore]] under the index
  * name — after which `LATERAL VIEW vector_search('idx', k, emb)`
  * serves from the index as a partition-pruned join
  * ([[org.apache.spark.sql.graft.IndexedVectorSearchRule]]).
  *
  * Options: 'path' (required — index root on shared storage),
  * 'id_col' / 'chunk_col' (payload columns, default
  * document_id/chunks), 'cells' (coarse cell count, default 4),
  * 'num_candidates' (the index's default recall knob, default 150). */
case class CreateVectorIndexCommand(name: String, table: String,
    vectorCol: String, options: Map[String, String])
    extends LeafRunnableCommand {
  override def stringArgs: Iterator[Any] =
    Iterator(name, table, vectorCol, GraftDdlRedact(options))
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val path = options.getOrElse("path",
      sys.error(s"CREATE VECTOR INDEX $name: missing required option 'path'"))
    val idCol = options.getOrElse("id_col", "document_id")
    val chunkCol = options.getOrElse("chunk_col", "chunks")
    val nCells = options.getOrElse("cells", "4").toInt
    val numCandidates = options.getOrElse("num_candidates", "150").toInt
    val df = session.table(table)
    // deterministic seed cells: first nCells vectors by id (the
    // data-derived convention VectorStores.adaptive and the ANN
    // operators share) — a bounded nCells×dim driver transfer
    val centroids = df.select(col(idCol), col(vectorCol))
      .orderBy(col(idCol)).limit(nCells).collect()
      .map(_.getSeq[Float](1).toSeq).toSeq
    require(centroids.nonEmpty,
      s"CREATE VECTOR INDEX $name: source table '$table' is empty")
    // payload columns cast to STRING: the vector_search/SearchHit
    // contract types document_id and chunks as strings, and a LONG id
    // column must not leak a mistyped attribute through the lateral
    // rewrite's schema
    val prepared = df.select(
      graft.store.VectorStores.chunkKey(idCol, chunkCol).as("__nid"),
      col(idCol).cast("string").as("document_id"),
      col(chunkCol).cast("string").as("chunks"),
      col(vectorCol).as("embedding"))
    graft.operators.SimilaritySearch.writeIvfFlatIndex(
      prepared, centroids, path, "__nid", "embedding",
      Seq("document_id", "chunks"))
    graft.store.VectorStoreRegistry.register(name,
      new graft.store.IvfFlatIndexStore(session, path, numCandidates))
    Seq.empty
  }
}

/** `COMPACT VECTOR INDEX idx` — the SQL spelling of
  * [[graft.operators.SimilaritySearch.compactIvfFlatIndex]] on a
  * registered index: collapse each cell to one file, physically drop
  * replayed duplicates and tombstoned rows, then refresh the store
  * (re-pins a pinned payload listing — the refresh the maintenance
  * docs prescribe). */
case class CompactVectorIndexCommand(name: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    graft.store.VectorStoreRegistry.lookup(name) match {
      case Some(s: graft.store.IvfFlatIndexStore) =>
        graft.operators.SimilaritySearch
          .compactIvfFlatIndex(session, s.indexPath)
        s.refreshStats()
      case Some(_) => sys.error(
        s"COMPACT VECTOR INDEX $name: '$name' is not a persisted index")
      case None => sys.error(
        s"COMPACT VECTOR INDEX $name: no such index is registered")
    }
    Seq.empty
  }
}

/** `DESCRIBE VECTOR INDEX idx` — the one-row health report
  * ([[graft.operators.SimilaritySearch.ivfFlatIndexReport]]) of a
  * registered index, from SQL: cells, total/live rows, replay dups,
  * tombstones, files, imbalance. */
case class DescribeVectorIndexCommand(name: String) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
  import org.apache.spark.sql.types.{DoubleType, LongType}
  override val output: Seq[Attribute] = Seq(
    AttributeReference("cells", LongType)(),
    AttributeReference("total_rows", LongType)(),
    AttributeReference("live_rows", LongType)(),
    AttributeReference("dup_rows", LongType)(),
    AttributeReference("tombstones", LongType)(),
    AttributeReference("files", LongType)(),
    AttributeReference("imbalance", DoubleType)())
  override def run(session: SparkSession): Seq[Row] = {
    graft.store.VectorStoreRegistry.lookup(name) match {
      case Some(s: graft.store.IvfFlatIndexStore) =>
        graft.operators.SimilaritySearch
          .ivfFlatIndexReport(session, s.indexPath).collect().toSeq
      case Some(_) => sys.error(
        s"DESCRIBE VECTOR INDEX $name: '$name' is not a persisted index")
      case None => sys.error(
        s"DESCRIBE VECTOR INDEX $name: no such index is registered")
    }
  }
}

/** `DROP VECTOR INDEX idx` — unregister the store and delete its
  * on-disk layout (payload/codes + sidecars under the index root).
  * Serving through the name fails immediately after; the lateral
  * vector_search rewrite rule no longer resolves it. Unknown names
  * raise (a typo must not silently "succeed"), and non-persisted
  * registrations are refused like COMPACT/DESCRIBE do. */
case class DropVectorIndexCommand(name: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    graft.store.VectorStoreRegistry.lookup(name) match {
      case Some(s: graft.store.IvfFlatIndexStore) =>
        val p = new org.apache.hadoop.fs.Path(s.indexPath)
        val fs = p.getFileSystem(session.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        graft.store.VectorStoreRegistry.unregister(name)
      case Some(_) => sys.error(
        // refusing like COMPACT/DESCRIBE: "dropping" a broadcast store
        // or a remote Atlas index here would only remove the local
        // registration while the user believes the index is gone —
        // unregister programmatically if that is really the intent
        s"DROP VECTOR INDEX $name: '$name' is not a persisted index " +
          "(unregister it via VectorStoreRegistry if intended)")
      case None => sys.error(
        s"DROP VECTOR INDEX $name: no such index is registered")
    }
    Seq.empty
  }
}

/** `SYNC VECTOR INDEX idx FROM SNAPSHOT '<root>' CURSOR '<cursor>'
  * EMBED MODEL '<model>' TEXT '<col>'` — drain the snapshot store's
  * changelog into a registered persisted index
  * ([[graft.streaming.IndexSync.drainIndexFromSnapshot]]): changed
  * docs are embedded with the registered model and applied as
  * VERSIONED upserts (document_id/chunks payload, the registered-store
  * serving contract; nid = the doc id, so pair this with indexes whose
  * rows the sync itself bootstraps), deletes as versioned tombstones.
  * Returns one row: the snapshot id synced to, -1 when already caught
  * up. The store refreshes afterwards (payload files moved), the
  * COMPACT VECTOR INDEX convention. */
case class SyncVectorIndexCommand(name: String, root: String,
                                  cursor: String, model: String,
                                  textCol: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
  import org.apache.spark.sql.types.LongType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("synced_to", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val store = graft.store.VectorStoreRegistry.lookup(name) match {
      case Some(s: graft.store.IvfFlatIndexStore) => s
      case Some(_) => sys.error(
        s"SYNC VECTOR INDEX $name: '$name' is not a persisted index")
      case None => sys.error(
        s"SYNC VECTOR INDEX $name: no such index is registered")
    }
    val spec = graft.providers.ModelRegistry.get(model)
    require(spec.task == "embedding",
      s"SYNC VECTOR INDEX $name: model '$model' is task " +
        s"'${spec.task}', need 'embedding'")
    val embedder = graft.providers.Providers.embedderFor(spec)
    val embed: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = { ups =>
      val idC = ups.columns.head // changelog shape: id leads
      graft.operators.MlPredict
        .withEmbedding(ups, embedder, textCol, "embedding")
        .withColumn("document_id", col(idC).cast("string"))
        .withColumn("chunks", col(textCol).cast("string"))
    }
    val synced = graft.streaming.IndexSync.drainIndexFromSnapshot(
      session, root, cursor, store.indexPath, embed,
      vecCol = "embedding", payloadCols = Seq("document_id", "chunks"))
    store.refreshStats()
    Seq(Row(synced.getOrElse(-1L)))
  }
}

/** `COMPACT SNAPSHOT '<root>' HORIZON <seq> [KEEP <k>]` — the CDC
  * snapshot store's tombstone-drop maintenance pass
  * ([[graft.streaming.StreamingOps.compactSnapshot]]) from SQL. The
  * side effect runs at execution, mirroring COMPACT VECTOR INDEX. */
case class CompactSnapshotCommand(root: String, horizonSeq: Long,
                                  keepVersions: Option[Int])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    keepVersions match {
      case Some(k) => graft.streaming.StreamingOps
        .compactSnapshot(session, root, horizonSeq, k)
      case None => graft.streaming.StreamingOps
        .compactSnapshot(session, root, horizonSeq)
    }
    Seq.empty
  }
}

/** `REBUCKET SNAPSHOT '<root>' TO <B> [KEEP <k>]` — the grow-only
  * bucket-count migration
  * ([[graft.streaming.StreamingOps.rebucketSnapshot]]) from SQL. */
case class RebucketSnapshotCommand(root: String, newBuckets: Int,
                                   keepVersions: Option[Int])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    keepVersions match {
      case Some(k) => graft.streaming.StreamingOps
        .rebucketSnapshot(session, root, newBuckets, k)
      case None => graft.streaming.StreamingOps
        .rebucketSnapshot(session, root, newBuckets)
    }
    Seq.empty
  }
}
