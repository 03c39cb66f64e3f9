package graft

import graft.providers.{ConnectionRegistry, ConnectionSpec, ModelRegistry, ModelSpec}

/** The SQL-facing surface: injected native functions (GraftExtensions),
  * registered UDFs, and the model/connection catalogs (M5/M6). */
class SqlSurfaceSpec extends SparkSpec {

  test("vector_cosine, vector_dot and vector_sqdist are callable from SQL, codegen'd") {
    val row = spark.sql(
      """SELECT vector_cosine(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c,
        |       vector_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d,
        |       vector_cosine(array(0.0f, 0.0f), array(1.0f, 0.0f)) AS z,
        |       vector_sqdist(array(1.0f, 2.0f), array(4.0f, 6.0f)) AS s
        |""".stripMargin).collect().head
    row.getDouble(0) shouldBe 1.0 +- 1e-12
    row.getDouble(1) shouldBe 11.0
    row.isNullAt(2) shouldBe true // zero norm → NULL, not an ANSI error
    row.getDouble(3) shouldBe 25.0 // 3^2 + 4^2
  }

  test("vector_maxsim is callable from SQL; tokens must be a literal") {
    // 2 tokens of 2 dims: t0 best-matches slice (0,1)·(1,0)=0 vs
    // (0,1)·(0,1)=1 → 1; t1: (1,0)·(1,0)=1 vs 0 → 1; score = 2
    val v = spark.sql(
      """SELECT vector_maxsim(array(0.0f, 1.0f, 1.0f, 0.0f),
        |                     array(1.0f, 0.0f, 0.0f, 1.0f), 2) AS m
        |""".stripMargin).collect().head.getDouble(0)
    v shouldBe 2.0
    // a foldable expression (1+1) is fine; a column reference is not
    spark.sql("SELECT vector_maxsim(array(1.0f, 2.0f), array(1.0f, 2.0f), 1 + 1)")
      .collect().head.getDouble(0) shouldBe 6.0 // 1-dim slices: max(1,2)+max(2,4)
    val e = intercept[Exception](
      spark.sql("SELECT vector_maxsim(array(1.0f), array(1.0f), CAST(id AS INT)) FROM range(1)")
        .collect())
    e.getMessage should include("literal")
  }

  test("split_text is callable from SQL with the full 8-arg reference call") {
    // the exact reference invocation shape
    // (generate_personalized_commands.sh:322-326)
    val chunks = spark.sql(
      "SELECT split_text('alpha###beta', 200, 20, '###', false, false, true, 'START') AS c")
      .collect().head.getSeq[String](0)
    chunks shouldBe Seq("alpha beta")
    // keep_separator + END attaches each separator to the preceding piece
    val kept = spark.sql(
      "SELECT split_text('alpha###beta', 6, 0, '###', false, true, true, 'END') AS c")
      .collect().head.getSeq[String](0)
    kept shouldBe Seq("alpha#", "##", "beta")
  }

  test("split_text_gen is a native SQL table function (LATERAL VIEW)") {
    // same chunks as the array UDF, emitted as generator rows — the SQL
    // spelling of the reference's CROSS JOIN UNNEST(ML_CHARACTER_TEXT_
    // SPLITTER(...)) without materializing the array
    val viaUdf = spark.sql(
      "SELECT split_text('alpha###beta', 6, 0, '###', false, false, true, 'START') AS c")
      .collect().head.getSeq[String](0)
    val viaGen = spark.sql(
      """SELECT chunk_idx, chunk
        |FROM (SELECT 'alpha###beta' AS text)
        |LATERAL VIEW split_text_gen(text, 6, 0, '###') s AS chunk_idx, chunk
        |""".stripMargin).collect()
    viaGen.map(_.getString(1)).toSeq shouldBe viaUdf
    viaGen.map(_.getInt(0)).toSeq shouldBe viaUdf.indices
    // defaulted trailing args work too
    spark.sql(
      """SELECT chunk FROM (SELECT 'one two' AS text)
        |LATERAL VIEW split_text_gen(text) s AS chunk_idx, chunk
        |""".stripMargin).collect().map(_.getString(0)).toSeq shouldBe Seq("one two")
    // non-literal config args are rejected loudly, not silently misread
    val e = intercept[Exception] {
      spark.sql(
        """SELECT chunk FROM (SELECT 'x' AS text, 5 AS n)
          |LATERAL VIEW split_text_gen(text, n) s AS chunk_idx, chunk
          |""".stripMargin).collect()
    }
    e.getMessage should include("literal")
  }

  test("char_entropy and winnow_gen are callable from SQL") {
    // char_entropy: scalar — ln(4) for a uniform 4-symbol doc, NULL
    // when no [a-z0-9] chars survive
    val rows = spark.sql(
      "SELECT char_entropy('abcd') AS e, char_entropy('!!!') AS n")
      .collect().head
    rows.getDouble(0) shouldBe math.log(4.0) +- 1e-9
    rows.isNullAt(1) shouldBe true
    // winnow_gen: generator over RAW text — canonicalization happens
    // inside, so formatting noise cannot split the SQL and DataFrame
    // surfaces (nor a canonical-form duplicate)
    val raw = "The QUICK  brown-fox JUMPS over!"
    val viaSql = spark.sql(
      s"""SELECT fp_pos, fp_hash
         |FROM (SELECT '$raw' AS p)
         |LATERAL VIEW winnow_gen(p, 8, 4) w AS fp_pos, fp_hash
         |""".stripMargin).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    import spark.implicits._
    val viaDf = graft.operators.Dedup.winnowingFingerprints(
        Seq((1L, raw)).toDF("doc_id", "text"),
        "text", "doc_id", k = 8, w = 4)
      .select("fp_pos", "fp_hash")
      .as[(Int, String)].collect().toSeq
    val viaCanonical = graft.operators.Dedup.winnowingFingerprints(
        Seq((1L, "the quick brown fox jumps over")).toDF("doc_id", "text"),
        "text", "doc_id", k = 8, w = 4)
      .select("fp_pos", "fp_hash")
      .as[(Int, String)].collect().toSeq
    viaSql shouldBe viaDf
    viaSql shouldBe viaCanonical
    viaSql should not be empty
    // non-literal k rejected loudly
    val e = intercept[Exception] {
      spark.sql(
        """SELECT fp_pos FROM (SELECT 'abcdef' AS p, 3 AS n)
          |LATERAL VIEW winnow_gen(p, n, 4) w AS fp_pos, fp_hash
          |""".stripMargin).collect()
    }
    e.getMessage should include("literal")
  }

  test("minhash_band_keys is callable from SQL") {
    val keys = spark.sql(
      "SELECT minhash_band_keys('a b c d e f', 3, 4, 3) AS k")
      .collect().head.getSeq[String](0)
    keys should have length 4
  }

  test("ml_predict embeds from SQL: chunk→embed chain matches the DataFrame path") {
    // the reference's knowledge-chunking INSERT (generate_personalized_
    // commands.sh:332-335): CROSS JOIN UNNEST(splitter) + LATERAL
    // ML_PREDICT — here spelled entirely in SQL via the injected
    // split_text_gen generator and ml_predict scalar
    ModelRegistry.register(ModelSpec("sql_embed_test", provider = "mock",
      task = "embedding", connection = "none", dim = 16))
    spark.createDataFrame(Seq(
      ("d1", "alpha beta gamma delta"),
      ("d2", "epsilon zeta eta theta")))
      .toDF("document_id", "document_text")
      .createOrReplaceTempView("knowledge_sql_test")
    val viaSql = spark.sql(
      """SELECT document_id, chunk AS chunks,
        |       ml_predict('sql_embed_test', chunk) AS embedding
        |FROM knowledge_sql_test
        |LATERAL VIEW split_text_gen(document_text, 12, 0, ' ') s AS chunk_idx, chunk
        |""".stripMargin).collect()
    val df = spark.table("knowledge_sql_test").select(
      org.apache.spark.sql.functions.col("document_id"),
      org.apache.spark.sql.graft.TextExpressions
        .splitTextGen(org.apache.spark.sql.functions.col("document_text"),
          size = 12, overlap = 0, sep = " "))
    val viaDf = graft.operators.MlPredict.withEmbedding(
        df.select(df("document_id"), df("chunk").as("chunks")),
        new graft.providers.MockEmbedder(16), "chunks", "embedding")
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getSeq[Float](2).toList)
    viaSql.map(key).sortBy(k => (k._1, k._2)) shouldBe
      viaDf.map(key).sortBy(k => (k._1, k._2))
    viaSql.foreach(_.getSeq[Float](2) should have length 16)

    // text_generation task: completion string carries the model contract
    ModelRegistry.registerReferenceModels()
    val out = spark.sql(
      """SELECT ml_predict('coaching_response_generator',
        |                  '## PROSPECT MESSAGE: too expensive') AS r
        |""".stripMargin).collect().head.getString(0)
    out should include("suggested_response")

    // unknown model / non-literal name fail loudly
    val e = intercept[Exception] {
      spark.sql("SELECT ml_predict('no_such_model', 'x')").collect()
    }
    e.getMessage should include("unknown model")
    val e2 = intercept[Exception] {
      spark.sql(
        """SELECT ml_predict(document_id, document_text)
          |FROM knowledge_sql_test""".stripMargin).collect()
    }
    e2.getMessage should include("literal")
  }

  test("vector_search is a SQL table function over a registered store (J3/M4)") {
    // the reference's LATERAL TABLE(VECTOR_SEARCH(knowledge_mongodb, 3,
    // DESCRIPTOR(embedding), qe.embedding)) — store registered by name,
    // SQL emits one (rank, document_id, chunks, score) row per hit
    import graft.store.{BroadcastBruteForceStore, VectorStoreRegistry}
    val store = new BroadcastBruteForceStore(Array(
      ("kb/a.md", "alpha chunk", Array(1f, 0f, 0f)),
      ("kb/b.md", "beta chunk", Array(0f, 1f, 0f)),
      ("kb/c.md", "gamma chunk", Array(0.9f, 0.1f, 0f))))
    VectorStoreRegistry.register("knowledge_sql_test", store)
    spark.createDataFrame(Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f))))
      .toDF("qid", "embedding").createOrReplaceTempView("q_sql_test")
    val got = spark.sql(
      """SELECT qid, vs.rank, vs.document_id
        |FROM q_sql_test
        |LATERAL VIEW vector_search('knowledge_sql_test', 2, embedding) vs
        |  AS rank, document_id, chunks, score
        |""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    // parity with the store's own search (the DataFrame/UDF path's seam)
    val expected = Seq(1L -> Array(1f, 0f, 0f), 2L -> Array(0f, 1f, 0f))
      .flatMap { case (qid, v) =>
        store.search(v, 2).zipWithIndex.map { case (h, i) =>
          (qid, i + 1, h.document_id)
        }
      }.sorted
    got.toSeq shouldBe expected
    // unknown store fails loudly at evaluation
    val e = intercept[Exception] {
      spark.sql(
        """SELECT vs.rank FROM q_sql_test
          |LATERAL VIEW vector_search('nope', 2, embedding) vs
          |  AS rank, document_id, chunks, score""".stripMargin).collect()
    }
    e.getMessage should include("unknown vector store")
    // a NULL element in the query embedding fails loudly instead of
    // silently unboxing to 0.0 and searching with a corrupted vector
    val e2 = intercept[Exception] {
      spark.sql(
        """SELECT vs.rank
          |FROM (SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS embedding)
          |LATERAL VIEW vector_search('knowledge_sql_test', 2, embedding) vs
          |  AS rank, document_id, chunks, score""".stripMargin).collect()
    }
    e2.getMessage should include("NULL element")
  }

  test("vector_search_diverse diversifies from SQL; lambda=1 equals plain vector_search") {
    import graft.store.{BroadcastBruteForceStore, VectorStoreRegistry}
    // a redundant pair (a1/a2 near-identical) plus one diverse doc: the
    // MMR lateral must not spend both slots on the pair
    val store = new BroadcastBruteForceStore(Array(
      ("kb/a1.md", "alpha chunk", Array(1f, 0.05f, 0f)),
      ("kb/a2.md", "alpha chunk again", Array(1f, 0.06f, 0f)),
      ("kb/b.md", "beta chunk", Array(0.6f, 0.8f, 0f))))
    VectorStoreRegistry.register("diverse_sql_test", store)
    spark.createDataFrame(Seq((1L, Array(1f, 0f, 0f))))
      .toDF("qid", "embedding").createOrReplaceTempView("q_div_test")
    def run(fn: String): Seq[String] = spark.sql(
      s"""SELECT vs.document_id FROM q_div_test
         |LATERAL VIEW $fn vs
         |  AS rank, document_id, chunks, score
         |ORDER BY vs.rank""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    val diverse = run("vector_search_diverse('diverse_sql_test', 2, 0.3, embedding)")
    diverse.head shouldBe "kb/a1.md"        // slot 1 = best cosine match
    diverse(1) shouldBe "kb/b.md"           // slot 2 diversified past a2
    // diversification off reproduces the plain lateral exactly
    run("vector_search_diverse('diverse_sql_test', 2, 1.0, embedding)") shouldBe
      run("vector_search('diverse_sql_test', 2, embedding)")
    // lambda outside [0,1] fails at parse/constructor time
    val e = intercept[Exception] {
      run("vector_search_diverse('diverse_sql_test', 2, 1.5, embedding)")
    }
    e.getMessage should include("lambda")
  }

  test("CREATE MODEL / CREATE CONNECTION DDL registers and serves ml_predict, SQL only") {
    // the reference's exact DDL shape (generate_personalized_commands
    // .sh:211-224) — INPUT/OUTPUT clauses accepted, provider-prefixed
    // option keys, multi-line quoted values with '' escapes
    spark.sql(
      """CREATE CONNECTION sql-ddl-embed-conn
        |WITH ('type' = 'azureopenai',
        |      'endpoint' = 'https://example.invalid/openai/deployments/emb',
        |      'api-key' = 'it''s-a-test-key')""".stripMargin)
    ConnectionRegistry.get("sql-ddl-embed-conn").connType shouldBe "azureopenai"
    ConnectionRegistry.get("sql-ddl-embed-conn").apiKey shouldBe "it's-a-test-key"

    spark.sql(
      """CREATE MODEL sql_ddl_embed
        |INPUT (input STRING)
        |OUTPUT (embedding ARRAY<FLOAT>)
        |WITH (
        |  'mock.connection' = 'sql-ddl-embed-conn',
        |  'mock.input_format' = 'OPENAI-EMBED',
        |  'provider' = 'mock',
        |  'task' = 'embedding',
        |  'dim' = '16'
        |);""".stripMargin)
    val spec = ModelRegistry.get("sql_ddl_embed")
    spec.task shouldBe "embedding"
    spec.connection shouldBe "sql-ddl-embed-conn"
    spec.inputFormat shouldBe "OPENAI-EMBED"
    spec.dim shouldBe 16

    // end-to-end: the DDL-registered model serves SQL inference
    val emb = spark.sql("SELECT ml_predict('sql_ddl_embed', 'hello') AS e")
      .collect().head.getSeq[Float](0)
    emb should have length 16

    // text-generation model with a multi-line system prompt
    spark.sql(
      """CREATE MODEL sql_ddl_coach
        |INPUT (prompt STRING)
        |OUTPUT (coaching_response STRING)
        |WITH ('provider' = 'mock', 'task' = 'text_generation',
        |      'mock.connection' = 'sql-ddl-embed-conn',
        |      'mock.system_prompt' = 'You are an expert sales coach AI.
        |Respond with valid JSON.')""".stripMargin)
    ModelRegistry.get("sql_ddl_coach").systemPrompt should
      include("expert sales coach")
    spark.sql("SELECT ml_predict('sql_ddl_coach', '## PROSPECT MESSAGE: hi') AS r")
      .collect().head.getString(0) should include("suggested_response")

    // malformed DDL fails with a pointed message, not a generic syntax
    // error; non-DDL statements still reach the delegate parser
    val e = intercept[Exception] {
      spark.sql("CREATE MODEL broken_model WITH ('provider' = )")
    }
    e.getMessage should include("CREATE MODEL broken_model")
    val e2 = intercept[Exception] {
      spark.sql("CREATE MODEL no_task WITH ('provider' = 'mock')").collect()
    }
    e2.getMessage should include("missing required option 'task'")
    spark.sql("SELECT 1 AS ok").collect().head.getInt(0) shouldBe 1
  }

  test("DDL recognizer skips leading comments, raises ParseException, redacts secrets in plans") {
    // leading -- and /* */ trivia must not hide the statement from the
    // recognizer (standard parsers skip trivia before the first token)
    spark.sql(
      """-- register the embedding connection
        |/* block
        |   comment */
        |CREATE CONNECTION trivia-conn
        |WITH ('type' = 'mock', 'endpoint' = 'https://example.invalid',
        |      'api-key' = 'sk-very-secret')""".stripMargin)
    ConnectionRegistry.get("trivia-conn").apiKey shouldBe "sk-very-secret"

    // recognized-but-malformed DDL is a ParseException — callers that
    // catch ParseException around spark.sql see parse failures in the
    // type the contract promises, with the pointed message preserved
    val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("-- still ours\nCREATE MODEL bad_model WITH ('task' = )")
    }
    e.getMessage should include("CREATE MODEL bad_model")

    // the command's PLAN string (what query logs and listeners print)
    // masks credential option values; non-secret options print verbatim
    val plan = graft.core.CreateModelCommand("m",
      Map("provider" -> "mock", "mock.api-key" -> "sk-live-123",
          "password" -> "hunter2", "task" -> "embedding")).toString
    plan should not include "sk-live-123"
    plan should not include "hunter2"
    plan should include("*****")
    plan should include("embedding")
  }

  test("CREATE VECTOR INDEX DDL builds the persisted index; lateral vector_search serves it partition-pruned") {
    import graft.store.{BroadcastBruteForceStore, IvfFlatIndexStore, VectorStoreRegistry}
    def vec(i: Int): Array[Float] =
      Array.tabulate(8)(j => ((i * 31 + j * 17) % 97) / 97f)
    val corpus = (0 until 60).map(i => (f"doc/$i%03d", s"chunk $i", vec(i)))
    spark.createDataFrame(corpus)
      .toDF("document_id", "chunks", "embedding")
      .createOrReplaceTempView("svi_corpus")
    val path = graft.core.TempRoots.scratch("svi-ddl-index")
    // pure-SQL build: num_candidates ≥ corpus registers the index in the
    // EXACT regime, so brute-force parity is structural
    spark.sql(
      s"""CREATE VECTOR INDEX svi_test ON svi_corpus (embedding)
         |WITH ('path' = '$path', 'cells' = '4', 'num_candidates' = '1000')
         |""".stripMargin)
    VectorStoreRegistry.get("svi_test") shouldBe an[IvfFlatIndexStore]

    spark.createDataFrame(Seq(
      (1L, vec(3)), (2L, vec(40)), (3L, vec(77))))
      .toDF("qid", "embedding").createOrReplaceTempView("svi_queries")
    val sql =
      """SELECT qid, vs.rank, vs.document_id, vs.chunks, vs.score
        |FROM svi_queries
        |LATERAL VIEW vector_search('svi_test', 3, embedding) vs
        |  AS rank, document_id, chunks, score
        |""".stripMargin
    val df = spark.sql(sql)
    // the rewrite replaced the per-row generator with the index join:
    // no vector_search Generate survives to the optimized plan (the
    // probe-cluster explode inside the index search is a different,
    // expected generator), and the probed cells push down as
    // PartitionFilters on the payload scan
    df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
          if g.generator.isInstanceOf[
            org.apache.spark.sql.graft.VectorSearchGenerator] => g
    } shouldBe empty
    val physical = df.queryExecution.executedPlan.toString
    physical should include("PartitionFilters")
    val got = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sortBy(r => (r._1, r._2))
    // exact-regime parity with the broadcast brute-force store over the
    // same corpus (both exact; distinct cosines make ranks unambiguous)
    val oracle = new BroadcastBruteForceStore(corpus.toArray)
    val expected = Seq((1L, vec(3)), (2L, vec(40)), (3L, vec(77)))
      .flatMap { case (qid, v) =>
        oracle.search(v, 3).zipWithIndex.map { case (h, i) =>
          (qid, i + 1, h.document_id, h.chunks)
        }
      }.sortBy(r => (r._1, r._2))
    got.toSeq shouldBe expected

    // lateral semantics survive the rewrite: a NULL embedding drops the
    // row in the default form and null-fills in the OUTER form
    spark.createDataFrame(Seq((1L, Some(vec(5))), (2L, None)))
      .toDF("qid", "embedding").createOrReplaceTempView("svi_null_q")
    spark.sql(
      """SELECT qid FROM svi_null_q
        |LATERAL VIEW vector_search('svi_test', 2, embedding) vs
        |  AS rank, document_id, chunks, score""".stripMargin)
      .collect().map(_.getLong(0)).distinct.sorted.toSeq shouldBe Seq(1L)
    val outerRows = spark.sql(
      """SELECT qid, vs.rank FROM svi_null_q
        |LATERAL VIEW OUTER vector_search('svi_test', 2, embedding) vs
        |  AS rank, document_id, chunks, score""".stripMargin)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
    outerRows.filter(_._1 == 2L).toSeq shouldBe Seq((2L, -1))
    outerRows.count(_._1 == 1L) shouldBe 2
    // corrupted vectors still fail loudly through the join path
    val e = intercept[Exception] {
      spark.sql(
        """SELECT vs.rank
          |FROM (SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS embedding)
          |LATERAL VIEW vector_search('svi_test', 2, embedding) vs
          |  AS rank, document_id, chunks, score""".stripMargin).collect()
    }
    e.getMessage should include("NULL element")
    // the 4-arg recall knob parses and serves
    spark.sql(
      """SELECT vs.rank FROM svi_queries
        |LATERAL VIEW vector_search('svi_test', 2, embedding, 1000) vs
        |  AS rank, document_id, chunks, score""".stripMargin)
      .count() shouldBe 6L
    // malformed DDL raises pointed ParseExceptions
    val e2 = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("CREATE VECTOR INDEX bad_idx WITH ('path' = '/tmp/x')")
    }
    e2.getMessage should include("ON <table>")
    val e3 = intercept[Exception] {
      spark.sql("CREATE VECTOR INDEX bad_idx2 ON svi_corpus (embedding) WITH ('cells' = '2')")
    }
    e3.getMessage should include("missing required option 'path'")

    // ---- maintenance DDL over the index just built ----
    // DESCRIBE: one clean health row
    val d0 = spark.sql("DESCRIBE VECTOR INDEX svi_test").collect().head
    d0.getAs[Long]("cells") shouldBe 4L
    d0.getAs[Long]("total_rows") shouldBe 60L
    d0.getAs[Long]("dup_rows") shouldBe 0L
    // replay an append so the report shows dups, then COMPACT clears it
    val s0 = VectorStoreRegistry.get("svi_test").asInstanceOf[IvfFlatIndexStore]
    val replay = spark.createDataFrame(corpus.take(5))
      .toDF("document_id", "chunks", "embedding")
      .select(
        graft.store.VectorStores.chunkKey("document_id", "chunks").as("__nid"),
        org.apache.spark.sql.functions.col("document_id"),
        org.apache.spark.sql.functions.col("chunks"),
        org.apache.spark.sql.functions.col("embedding"))
    graft.operators.SimilaritySearch.appendIvfFlatBatch(
      replay, s0.indexPath, "__nid", "embedding",
      Seq("document_id", "chunks"))
    spark.sql("DESCRIBE VECTOR INDEX svi_test").collect()
      .head.getAs[Long]("dup_rows") shouldBe 5L
    spark.sql("COMPACT VECTOR INDEX svi_test")
    val d2 = spark.sql("DESCRIBE VECTOR INDEX svi_test").collect().head
    d2.getAs[Long]("dup_rows") shouldBe 0L
    d2.getAs[Long]("total_rows") shouldBe 60L
    d2.getAs[Long]("files") shouldBe 4L // one file per cell post-compact
    // unknown / non-index names raise pointedly
    intercept[Exception](spark.sql("COMPACT VECTOR INDEX no_such_idx"))
      .getMessage should include("no such index")
    // DROP: registration gone, on-disk layout gone, re-DROP raises
    spark.sql("DROP VECTOR INDEX svi_test")
    VectorStoreRegistry.lookup("svi_test") shouldBe None
    new java.io.File(s0.indexPath).exists() shouldBe false
    intercept[Exception](spark.sql("DROP VECTOR INDEX svi_test"))
      .getMessage should include("no such index")
  }

  test("CREATE VECTOR INDEX over a one-row table builds a one-cell index that answers vector_search") {
    import graft.store.{IvfFlatIndexStore, VectorStoreRegistry}
    // one row ⇒ one seed centroid ⇒ a one-cell index: the assignment
    // and the probe must both work over a single cell
    spark.createDataFrame(Seq(("doc/1", "only chunk", Array(0.6f, 0.8f, 0f))))
      .toDF("document_id", "chunks", "embedding")
      .createOrReplaceTempView("svi_one")
    val path = graft.core.TempRoots.scratch("svi-one-cell-index")
    spark.sql(s"CREATE VECTOR INDEX svi_one_idx ON svi_one (embedding) " +
      s"WITH ('path' = '$path')")
    VectorStoreRegistry.get("svi_one_idx") shouldBe an[IvfFlatIndexStore]
    spark.createDataFrame(Seq((7L, Array(1f, 0f, 0f))))
      .toDF("qid", "embedding").createOrReplaceTempView("svi_one_q")
    val hits = spark.sql(
      """SELECT qid, vs.rank, vs.document_id, vs.chunks
        |FROM svi_one_q
        |LATERAL VIEW vector_search('svi_one_idx', 3, embedding) vs
        |  AS rank, document_id, chunks, score""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
    hits.toSeq shouldBe Seq((7L, 1, "doc/1", "only chunk"))
    spark.sql("DROP VECTOR INDEX svi_one_idx")
  }

  test("vector_search_diverse over a persisted index rewrites to the pruned join + bounded MMR re-rank") {
    import graft.store.{BroadcastBruteForceStore, IvfFlatIndexStore, VectorStoreRegistry}
    // a redundant pair a1/a2 near a query direction, one diverse doc b,
    // plus far-away filler so the index has populated cells
    def pad(xs: Float*): Array[Float] = (xs ++ Seq.fill(8 - xs.length)(0f)).toArray
    // all scores pairwise distinct at lambda=0.5 so the pick order is
    // unambiguous across stores (ties would break on different id kinds:
    // corpus position vs md5 nid)
    val corpus = Seq(
      ("kb/a1.md", "alpha", pad(1f, 0.05f, 0.1f)),
      ("kb/a2.md", "alpha again", pad(1f, 0.06f, 0.1f)),
      ("kb/b.md", "beta", pad(0.6f, 0.8f, 0.1f)),
      ("kb/c.md", "gamma", pad(0.3f, 0.2f, 0.9f)),
      ("kb/d.md", "delta", pad(0.2f, 0.1f, 0f, 0.95f)))
    spark.createDataFrame(corpus)
      .toDF("document_id", "chunks", "embedding")
      .createOrReplaceTempView("svd_corpus")
    val path = graft.core.TempRoots.scratch("svd-ddl-index")
    spark.sql(
      s"""CREATE VECTOR INDEX svd_test ON svd_corpus (embedding)
         |WITH ('path' = '$path', 'cells' = '2', 'num_candidates' = '1000')
         |""".stripMargin)
    VectorStoreRegistry.get("svd_test") shouldBe an[IvfFlatIndexStore]
    spark.createDataFrame(Seq((1L, pad(1f))))
      .toDF("qid", "embedding").createOrReplaceTempView("svd_queries")
    def run(fn: String) = spark.sql(
      s"""SELECT qid, vs.rank, vs.document_id, vs.score
         |FROM svd_queries
         |LATERAL VIEW $fn vs
         |  AS rank, document_id, chunks, score
         |""".stripMargin)
    val df = run("vector_search_diverse('svd_test', 2, 0.5, embedding)")
    // the rewrite replaced the per-row diverse generator with the join
    df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
          if g.generator.isInstanceOf[
            org.apache.spark.sql.graft.VectorSearchDiverseGenerator] => g
    } shouldBe empty
    df.queryExecution.executedPlan.toString should include("PartitionFilters")
    val got = df.collect()
      .map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).sortBy(_._1)
    // exact-regime parity with the broadcast store's own MMR
    val oracle = new BroadcastBruteForceStore(corpus.toArray)
    val expected = oracle.searchDiverse(pad(1f), 2, 0.5, 1000)
      .zipWithIndex.map { case (h, i) => (i + 1, h.document_id, h.score) }
    got.toSeq shouldBe expected
    // and the diversity is real: slot 1 is the best match, slot 2 skips
    // the near-duplicate a2 (plain top-2 would be a1 then a2)
    got.head._2 shouldBe "kb/a1.md"
    got(1)._2 should not be "kb/a2.md"
    // lambda=1 through the index equals the plain indexed lateral
    run("vector_search_diverse('svd_test', 2, 1.0, embedding)")
      .collect().map(r => (r.getInt(1), r.getString(2))).sorted.toSeq shouldBe
      run("vector_search('svd_test', 2, embedding)")
        .collect().map(r => (r.getInt(1), r.getString(2))).sorted.toSeq
  }

  test("CURATE TABLE runs the curation/dedup pipeline ops from pure SQL with DataFrame-path parity") {
    import org.apache.spark.sql.functions.col
    // a corpus exercising every gate: exact dups, near-dups (one word
    // changed), a short doc, a non-english-looking doc
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "keeps running through the quiet field toward the river"
    val rows = Seq(
      (1L, base, "web"), (2L, base, "web"),                 // exact dups
      (3L, base.replace("river", "lake"), "web"),           // near-dup of 1
      (4L, "too short", "web"),
      (5L, "zzz qqq xxx kkk vvv www yyy zzz qqq xxx kkk vvv", "crawl"),
      (6L, "a completely different well formed english document " +
        "about cooking pasta with garlic butter and fresh basil leaves",
        "books"))
    spark.createDataFrame(rows).toDF("doc_id", "text", "source")
      .createOrReplaceTempView("curate_sql_docs")
    val docs = spark.table("curate_sql_docs")
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    // 1. exact dedup — parity with Dedup.exactGroups
    rowsOf(spark.sql("CURATE TABLE curate_sql_docs USING dedup_exact")) shouldBe
      rowsOf(graft.operators.Dedup.exactGroups(docs, "text", "doc_id"))

    // 2. fuzzy dedup gate — parity with minhashLshVerified (and it sees
    // the near-dup pair the exact gate misses)
    val fuzzySql = spark.sql(
      """CURATE TABLE curate_sql_docs USING dedup_fuzzy
        |WITH ('threshold' = '0.5')""".stripMargin)
    rowsOf(fuzzySql) shouldBe rowsOf(graft.operators.Dedup.minhashLshVerified(
      docs, "text", "doc_id", shingleN = 3, bands = 4, rowsPerBand = 3,
      threshold = 0.5))
    fuzzySql.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))) should contain (1L -> 3L)

    // 2b. the hot-bucket cap is REACHABLE from SQL (the 100 TB knob):
    // max_bucket_size = 1 drops every multi-member band bucket before
    // pair expansion — hash parity with the capped DataFrame form, and
    // strictly fewer pairs than the uncapped gate found
    val fuzzyCapSql = spark.sql(
      """CURATE TABLE curate_sql_docs USING dedup_fuzzy
        |WITH ('threshold' = '0.5', 'max_bucket_size' = '1')""".stripMargin)
    rowsOf(fuzzyCapSql) shouldBe rowsOf(graft.operators.Dedup
      .minhashLshVerified(docs, "text", "doc_id", shingleN = 3, bands = 4,
        rowsPerBand = 3, threshold = 0.5, maxBucketSize = 1))
    fuzzyCapSql.count() should be < fuzzySql.count()

    // 3. curation verdicts — parity with CurationPipeline.annotate
    val verdictSql = spark.sql(
      """CURATE TABLE curate_sql_docs USING verdict
        |WITH ('min_tokens' = '5', 'langs' = 'en')""".stripMargin)
    rowsOf(verdictSql) shouldBe rowsOf(graft.pipeline.CurationPipeline
      .annotate(docs, graft.pipeline.CurationPipeline.Config(
        minTokens = 5, langs = Seq("en"))))
    val verdicts = verdictSql.select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    verdicts(1L) shouldBe "keep"
    verdicts.contains(2L) shouldBe false // exact dup deduped, min id kept
    verdicts(4L) should not be "keep" // fails the gate cascade (lang first)

    // 4. hash split — parity with hashSplit, custom bands + seed
    rowsOf(spark.sql(
      """CURATE TABLE curate_sql_docs USING split
        |WITH ('splits' = 'train:0.9,test:0.1', 'seed' = 'v2')""".stripMargin)) shouldBe
      rowsOf(graft.pipeline.CurationPipeline.hashSplit(docs,
        Seq("train" -> 0.9, "test" -> 0.1), "doc_id", seed = "v2"))

    // 5. leakage-safe split — parity with leakageSafeSplit, incl. the
    // hot-bucket cap knob reaching the composition from SQL
    rowsOf(spark.sql(
      """CURATE TABLE curate_sql_docs USING split_leakage_safe
        |WITH ('splits' = 'train:0.9,test:0.1', 'seed' = 'v2',
        |      'max_bucket_size' = '8')""".stripMargin)) shouldBe
      rowsOf(graft.pipeline.CurationPipeline.leakageSafeSplit(docs,
        Seq("train" -> 0.9, "test" -> 0.1), seed = "v2", maxBucketSize = 8))
    // and the safety property itself holds from SQL: near-dup cluster
    // {1,2,3} lands in ONE band
    spark.sql("CURATE TABLE curate_sql_docs USING split_leakage_safe")
      .filter(org.apache.spark.sql.functions.col("doc_id") <= 3)
      .select("split").distinct().count() shouldBe 1L

    // 6. A-ES weighted sample — parity with weightedSample
    docs.withColumn("w",
        org.apache.spark.sql.functions.length(org.apache.spark.sql.functions
          .col("text")).cast("double"))
      .createOrReplaceTempView("curate_sql_weighted")
    rowsOf(spark.sql(
      """CURATE TABLE curate_sql_weighted USING weighted_sample
        |WITH ('k' = '3', 'weight' = 'w', 'seed' = 'v1')""".stripMargin)) shouldBe
      rowsOf(graft.pipeline.CurationPipeline.weightedSample(
        spark.table("curate_sql_weighted"), k = 3,
        weightCol = org.apache.spark.sql.functions.col("w"), seed = "v1"))

    // 7. token-budget selection — parity with tokenBudgetSelect
    rowsOf(spark.sql(
      """CURATE TABLE curate_sql_docs USING token_budget
        |WITH ('fraction' = '0.5')""".stripMargin)) shouldBe
      rowsOf(graft.pipeline.CurationPipeline.tokenBudgetSelect(docs, 0.5))

    // 8. benchmark decontamination — parity with decontaminate; doc 6
    // shares its pasta text with the benchmark, doc 1 does not
    spark.createDataFrame(Seq(
        (100L, "about cooking pasta with garlic butter and fresh basil " +
          "leaves in a pan")))
      .toDF("doc_id", "text").createOrReplaceTempView("curate_sql_bench")
    val deconSql = spark.sql(
      """CURATE TABLE curate_sql_docs USING decontaminate
        |WITH ('benchmark' = 'curate_sql_bench')""".stripMargin)
    rowsOf(deconSql) shouldBe rowsOf(graft.pipeline.CurationPipeline
      .decontaminate(docs, spark.table("curate_sql_bench")))
    deconSql.collect().map(_.getLong(0)).toSeq shouldBe Seq(6L)
    // a required option missing fails loudly
    intercept[Exception](spark.sql(
      "CURATE TABLE curate_sql_docs USING decontaminate"))
      .getMessage should include("benchmark")
    intercept[Exception](spark.sql(
      "CURATE TABLE curate_sql_docs USING weighted_sample WITH ('k' = '3')"))
      .getMessage should include("weight")

    // 9. epoch-style upsampling mix — parity with epochMix; the absent
    // 'crawl' stratum drops (allowlist), weight 2 emits 2 copies
    val epochSql = spark.sql(
      """CURATE TABLE curate_sql_docs USING epoch_mix
        |WITH ('weights' = 'web:1.5,books:2.0')""".stripMargin)
    rowsOf(epochSql) shouldBe rowsOf(graft.pipeline.CurationPipeline
      .epochMix(docs, "source", "doc_id",
        Map("web" -> 1.5, "books" -> 2.0)))
    epochSql.filter(col("doc_id") === 5L).count() shouldBe 0L
    epochSql.filter(col("doc_id") === 6L).count() shouldBe 2L
    intercept[Exception](spark.sql(
      "CURATE TABLE curate_sql_docs USING epoch_mix"))
      .getMessage should include("weights")

    // 10. temperature-scaled mix — parity with temperatureMix (weights
    // derived from the corpus counts, α = 0.5, cap threaded)
    rowsOf(spark.sql(
      """CURATE TABLE curate_sql_docs USING temperature_mix
        |WITH ('alpha' = '0.5', 'max_weight' = '4.0')""".stripMargin)) shouldBe
      rowsOf(graft.pipeline.CurationPipeline.temperatureMix(
        docs, "source", "doc_id", alpha = 0.5, maxWeight = 4.0))

    // 11. sequence packing — parity with packSequences
    rowsOf(spark.sql(
      """CURATE TABLE curate_sql_docs USING pack
        |WITH ('capacity' = '16')""".stripMargin)) shouldBe
      rowsOf(graft.pipeline.CurationPipeline.packSequences(
        docs, capacity = 16))
    intercept[Exception](spark.sql(
      "CURATE TABLE curate_sql_docs USING pack"))
      .getMessage should include("capacity")

    // 12. seeded shuffle + sharding — parity with seededShuffleShard
    rowsOf(spark.sql(
      """CURATE TABLE curate_sql_docs USING shuffle_shard
        |WITH ('shard_size' = '4', 'seed' = 'v7')""".stripMargin)) shouldBe
      rowsOf(graft.pipeline.CurationPipeline.seededShuffleShard(
        docs, shardSize = 4, seed = "v7"))
    intercept[Exception](spark.sql(
      "CURATE TABLE curate_sql_docs USING shuffle_shard"))
      .getMessage should include("shard_size")

    // 13. exact-k per-stratum sample — parity with sampleKPerStratum
    val sampleKSql = spark.sql(
      """CURATE TABLE curate_sql_docs USING sample_k
        |WITH ('k' = '2')""".stripMargin)
    rowsOf(sampleKSql) shouldBe rowsOf(graft.pipeline.CurationPipeline
      .sampleKPerStratum(docs, "source", "doc_id", k = 2))
    // exactly min(k, |stratum|) per source: web has 4 docs → 2 kept
    sampleKSql.filter(col("source") === "web").count() shouldBe 2L
    intercept[Exception](spark.sql(
      "CURATE TABLE curate_sql_docs USING sample_k"))
      .getMessage should include("'k'")

    // 14. DSIR importance scoring — parity with dsirScores; the target
    // is a SQL boolean expression over the table's own columns
    rowsOf(spark.sql(
      """CURATE TABLE curate_sql_docs USING dsir_score
        |WITH ('target' = 'source = ''books''')""".stripMargin)) shouldBe
      rowsOf(graft.pipeline.CurationPipeline.dsirScores(
        docs, "doc_id", "text", col("source") === "books"))
    intercept[Exception](spark.sql(
      "CURATE TABLE curate_sql_docs USING dsir_score"))
      .getMessage should include("target")

    // the statement returns a plain relation: it composes downstream
    // through a temp view (the statement itself is top-level only, like
    // the other intercepted statements)
    spark.sql("CURATE TABLE curate_sql_docs USING dedup_exact")
      .createOrReplaceTempView("curate_sql_deduped")
    spark.sql("SELECT count(*) AS n FROM curate_sql_deduped")
      .collect().head.getLong(0) shouldBe 5L

    // typos fail loudly: unknown op, unknown option, unknown table
    intercept[Exception](
      spark.sql("CURATE TABLE curate_sql_docs USING dedupe_exact"))
      .getMessage should include("unknown op")
    intercept[Exception](spark.sql(
      "CURATE TABLE curate_sql_docs USING dedup_exact WITH ('txt' = 'text')"))
      .getMessage should include("unknown option")
    intercept[Exception](
      spark.sql("CURATE TABLE no_such_table USING dedup_exact").collect())
  }

  test("CURATE TABLE crawl ops: seed/select/recrawl/admit dispatch to the frontier functions with parity") {
    import graft.operators.CrawlFrontier
    import graft.operators.CrawlFrontier.Revisit
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    spark.createDataFrame(Seq(
        Tuple1("https://A.Example/p?utm_source=x"),
        Tuple1("https://a.example/p"),
        Tuple1("https://b.example/q"),
        Tuple1("ftp://no"))).toDF("url")
      .createOrReplaceTempView("crawl_sql_urls")
    val seeded = spark.sql(
      """CURATE TABLE crawl_sql_urls USING crawl_seed
        |WITH ('now' = '1000', 'interval' = '600')""".stripMargin)
    rowsOf(seeded) shouldBe rowsOf(CrawlFrontier.seed(
      spark.table("crawl_sql_urls"), now = 1000L,
      defaultIntervalS = 600L))
    seeded.createOrReplaceTempView("crawl_sql_frontier")

    rowsOf(spark.sql(
      """CURATE TABLE crawl_sql_frontier USING crawl_select
        |WITH ('now' = '1000', 'batch_size' = '2',
        |      'per_host_cap' = '1')""".stripMargin)) shouldBe
      rowsOf(CrawlFrontier.selectBatch(
        spark.table("crawl_sql_frontier"), 1000L, 2, 1))

    spark.createDataFrame(Seq(
        ("https://a.example/p", 2000L, 200, "h")))
      .toDF("url", "fetch_ts", "status", "content_hash")
      .createOrReplaceTempView("crawl_sql_fetched")
    rowsOf(spark.sql(
      """CURATE TABLE crawl_sql_frontier USING crawl_recrawl
        |WITH ('fetched' = 'crawl_sql_fetched',
        |      'min_interval' = '100', 'max_interval' = '10000')"""
        .stripMargin)) shouldBe
      rowsOf(CrawlFrontier.recrawlSchedule(
        spark.table("crawl_sql_frontier"),
        spark.table("crawl_sql_fetched"),
        Revisit(minIntervalS = 100L, maxIntervalS = 10000L)))

    spark.createDataFrame(Seq(
        ("https://a.example/new", 1), ("https://a.example/p", 1)))
      .toDF("url", "depth")
      .createOrReplaceTempView("crawl_sql_disc")
    val adm = spark.sql(
      """CURATE TABLE crawl_sql_frontier USING crawl_admit
        |WITH ('discovered' = 'crawl_sql_disc', 'now' = '1000',
        |      'max_depth' = '3')""".stripMargin)
    rowsOf(adm) shouldBe rowsOf(CrawlFrontier.admit(
      spark.table("crawl_sql_frontier"), spark.table("crawl_sql_disc"),
      1000L, maxDepth = 3))
    // the already-known url is anti-joined away, the new one admitted
    adm.collect().map(_.getString(0)) shouldBe
      Array("https://a.example/new")

    // 'now' is required on every crawl op — a wall-clock default would
    // make statement replays non-deterministic
    intercept[Exception](spark.sql(
      """CURATE TABLE crawl_sql_frontier USING crawl_select
        |WITH ('batch_size' = '2', 'per_host_cap' = '1')""".stripMargin))
      .getMessage should include("'now'")
  }

  test("CURATE TABLE r18 ops: crawl_reseed and crawl_robots_rules dispatch with DataFrame parity") {
    import graft.functions.Robots
    import graft.operators.CrawlFrontier
    import org.apache.spark.sql.functions.{col, lit}
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    // a fetched-then-scheduled frontier row + a re-announced seed wave
    // whose lastmod is news: the SQL face must pull exactly that row
    spark.createDataFrame(Seq(
        Tuple2("https://a.ex/p", "2026-01-05"),
        Tuple2("https://a.ex/q", "1970-01-01"))) // epoch 0 < last fetch
      .toDF("url", "lastmod").createOrReplaceTempView("reseed_sql_urls")
    spark.sql(
      """CURATE TABLE reseed_sql_urls USING crawl_seed
        |WITH ('now' = '6000', 'lastmod_col' = 'lastmod')""".stripMargin)
      .createOrReplaceTempView("reseed_sql_seeds")
    // the frontier: both urls known, fetched at 5000, next due 9999
    val f = CrawlFrontier.seed(spark.table("reseed_sql_urls"),
        now = 1000L)
      .withColumn("last_fetch_ts", lit(5000L))
      .withColumn("next_fetch_ts", lit(9999L))
    f.createOrReplaceTempView("reseed_sql_frontier")
    val out = spark.sql(
      """CURATE TABLE reseed_sql_frontier USING crawl_reseed
        |WITH ('seeds' = 'reseed_sql_seeds', 'now' = '6000')"""
        .stripMargin)
    rowsOf(out) shouldBe rowsOf(CrawlFrontier.reseed(f,
      spark.table("reseed_sql_seeds"), now = 6000L))
    out.collect().map(_.getString(0)) shouldBe
      Array("https://a.ex/p") // the stale-lastmod twin emits nothing
    intercept[Exception](spark.sql(
      "CURATE TABLE reseed_sql_frontier USING crawl_reseed " +
        "WITH ('now' = '6000')")).getMessage should include("'seeds'")

    // robots lifecycle rules from SQL: status law + maintained merge
    spark.createDataFrame(Seq(
        ("a.ex", 200, "User-agent: *\nDisallow: /private\n", 100L),
        ("b.ex", 503, null.asInstanceOf[String], 100L)))
      .toDF("domain", "status", "robots_txt", "fetch_ts")
      .createOrReplaceTempView("robots_sql_fetch1")
    val r1 = spark.sql(
      """CURATE TABLE robots_sql_fetch1 USING crawl_robots_rules
        |WITH ('agent' = 'graftbot')""".stripMargin)
    rowsOf(r1) shouldBe rowsOf(Robots.rulesFromFetch(
      spark.table("robots_sql_fetch1"), "graftbot"))
    r1.createOrReplaceTempView("robots_sql_maintained")
    // the refresh: b.ex answers 404 now (allow-all replaces the
    // outage's disallow-all) — merged via the 'maintained' option
    spark.createDataFrame(Seq(
        ("b.ex", 404, null.asInstanceOf[String], 200L)))
      .toDF("domain", "status", "robots_txt", "fetch_ts")
      .createOrReplaceTempView("robots_sql_fetch2")
    val r2 = spark.sql(
      """CURATE TABLE robots_sql_fetch2 USING crawl_robots_rules
        |WITH ('agent' = 'graftbot',
        |      'maintained' = 'robots_sql_maintained')""".stripMargin)
    rowsOf(r2) shouldBe rowsOf(Robots.updateRules(r1,
      Robots.rulesFromFetch(spark.table("robots_sql_fetch2"),
        "graftbot")))
    r2.filter(col("domain") === "b.ex").select("robots_status")
      .collect()(0).getString(0) shouldBe "allow_all"
    r2.count() shouldBe 2L
  }

  test("CURATE TABLE r17 ops: crawl_gate_robots and langid_nb dispatch with DataFrame parity") {
    import graft.functions.{Robots, TextAnalysis}
    import graft.operators.CrawlFrontier
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    // robots gate at admission, from SQL
    spark.createDataFrame(Seq(
        ("h.ex.com", "User-agent: *\nDisallow: /private\n")))
      .toDF("domain", "robots_txt")
      .createOrReplaceTempView("robots_sql_raw")
    Robots.parseRules(spark.table("robots_sql_raw"))
      .createOrReplaceTempView("robots_sql_rules")
    spark.createDataFrame(Seq(
        ("https://h.ex.com/pub/1", 1),
        ("https://h.ex.com/private/1", 1),
        ("https://h.ex.com/x/../private/2", 1)))
      .toDF("url", "depth")
      .createOrReplaceTempView("robots_sql_disc")
    val gated = spark.sql(
      """CURATE TABLE robots_sql_disc USING crawl_gate_robots
        |WITH ('rules' = 'robots_sql_rules')""".stripMargin)
    rowsOf(gated) shouldBe rowsOf(CrawlFrontier.gateRobots(
      spark.table("robots_sql_disc"),
      Robots.rulesByDomain(spark.table("robots_sql_rules"), "*")))
    gated.collect().map(_.getString(0)) shouldBe
      Array("https://h.ex.com/pub/1") // dotted spelling gated too
    intercept[Exception](spark.sql(
      "CURATE TABLE robots_sql_disc USING crawl_gate_robots"))
      .getMessage should include("'rules'")

    // trained language ID, train + classify in one statement
    spark.createDataFrame(Seq(
        ("en", "the house with garden"), ("en", "garden the with house"),
        ("de", "das haus mit garten"), ("de", "garten das mit haus")))
      .toDF("lang", "text").createOrReplaceTempView("langid_sql_train")
    spark.createDataFrame(Seq(
        (1L, "the garden house"), (2L, "das garten haus")))
      .toDF("doc_id", "text").createOrReplaceTempView("langid_sql_docs")
    val cls = spark.sql(
      """CURATE TABLE langid_sql_docs USING langid_nb
        |WITH ('train' = 'langid_sql_train')""".stripMargin)
    rowsOf(cls) shouldBe rowsOf(TextAnalysis.langIdNbClassify(
      spark.table("langid_sql_docs"),
      TextAnalysis.langIdNbTrain(spark.table("langid_sql_train"))))
    cls.orderBy("doc_id").collect().map(_.getString(1)) shouldBe
      Array("en", "de")
    intercept[Exception](spark.sql(
      "CURATE TABLE langid_sql_docs USING langid_nb"))
      .getMessage should include("'train'")
  }

  test("CURATE TABLE trap ops: crawl_traps flags templates and crawl_trap_gate filters with parity") {
    import graft.operators.CrawlFrontier
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    spark.createDataFrame(
        (1 to 6).map(i => Tuple1(s"https://t.ex/cal/2026/$i")) ++
          Seq(Tuple1("https://t.ex/about")))
      .toDF("url").createOrReplaceTempView("trap_sql_seen")
    val traps = spark.sql(
      """CURATE TABLE trap_sql_seen USING crawl_traps
        |WITH ('max_per_template' = '5')""".stripMargin)
    rowsOf(traps) shouldBe rowsOf(CrawlFrontier.trapTemplates(
      spark.table("trap_sql_seen"), maxPerTemplate = 5L))
    traps.createOrReplaceTempView("trap_sql_flagged")

    spark.createDataFrame(Seq(
        ("https://t.ex/cal/2027/9", 1), ("https://t.ex/contact", 1)))
      .toDF("url", "depth").createOrReplaceTempView("trap_sql_disc")
    val gated = spark.sql(
      """CURATE TABLE trap_sql_disc USING crawl_trap_gate
        |WITH ('traps' = 'trap_sql_flagged')""".stripMargin)
    rowsOf(gated) shouldBe rowsOf(CrawlFrontier.filterTraps(
      spark.table("trap_sql_disc"), spark.table("trap_sql_flagged")))
    gated.collect().map(_.getString(0)) shouldBe
      Array("https://t.ex/contact")

    // required options refuse loudly
    intercept[Exception](spark.sql(
      "CURATE TABLE trap_sql_seen USING crawl_traps"))
      .getMessage should include("'max_per_template'")
    intercept[Exception](spark.sql(
      "CURATE TABLE trap_sql_disc USING crawl_trap_gate"))
      .getMessage should include("'traps'")
  }

  test("web/crawl scalar laws run from SQL with DataFrame parity (composed expressions, no UDF detour)") {
    import graft.functions.{TextExtraction, UrlOps}
    import graft.operators.{CrawlFrontier, WebGraph}
    import org.apache.spark.sql.functions.col
    spark.createDataFrame(Seq((
        "HTTPS://A.Example.COM:443/p?id=1&utm_source=x#f",
        "<html><head><link rel=\"canonical\" href=\"/c\">" +
          "<meta name=\"robots\" content=\"noindex\"></head><body>" +
          "<a href=\"/f\">one</a><a rel=\"nofollow\" href=\"/g\">two" +
          "</a><p>page not found</p></body></html>",
        "https://news.site.co.uk/cal/2026/8?q=1")))
      .toDF("u", "h", "b").createOrReplaceTempView("websql_t")
    val viaSql = spark.sql("""
      SELECT url_normalize(u) AS n, url_host(u) AS ho, url_path(u) AS pa,
             registered_domain(url_host(b)) AS rd, url_template(b) AS tp,
             resolve_url('/x', b) AS rv, canonical_url(h, b) AS cu,
             outlinks(h, b) AS ol, followed_outlinks(h, b) AS fo,
             html_text(h) AS tx, is_soft404(html_text(h)) AS s4,
             robots_meta(h) AS rm, robots_noindex(robots_meta(h)) AS ni
      FROM websql_t""").collect()(0)
    val viaApi = spark.table("websql_t").select(
      UrlOps.normalizeUrl(col("u")), UrlOps.hostOf(col("u")),
      UrlOps.pathOf(col("u")),
      UrlOps.registeredDomain(UrlOps.hostOf(col("b"))),
      CrawlFrontier.urlTemplate(col("b")),
      WebGraph.resolveUrl(org.apache.spark.sql.functions.lit("/x"), col("b")),
      WebGraph.canonicalUrl(col("h"), col("b")),
      WebGraph.outlinks(col("h"), col("b")),
      WebGraph.followedOutlinks(col("h"), col("b")),
      TextExtraction.stripHtml(col("h")),
      TextExtraction.isSoft404(TextExtraction.stripHtml(col("h"))),
      TextExtraction.robotsMetaContent(col("h")),
      TextExtraction.robotsFlags(
        TextExtraction.robotsMetaContent(col("h")))("noindex")).collect()(0)
    viaSql.toSeq shouldBe viaApi.toSeq
    // spot-check a few values so the parity is not vacuous
    viaSql.getString(0) shouldBe "https://a.example.com/p?id=1"
    viaSql.getString(3) shouldBe "site.co.uk"
    viaSql.getString(4) shouldBe "news.site.co.uk/cal/D/D?q=V"
    viaSql.getBoolean(10) shouldBe true // soft404: short + phrase
    viaSql.getBoolean(12) shouldBe true // noindex via meta
    // the r18 politeness-header scalars
    spark.sql("""SELECT retry_after_seconds('120') AS ra,
                        retry_after_seconds('Fri, 31 Dec 1999') AS rd,
                        cache_max_age('public, max-age=600') AS ma,
                        cache_max_age('s-maxage=99') AS sm""")
      .collect()(0).toSeq shouldBe Seq(120L, null, 600L, null)
    // the r19 loop routers + the zone-free validator parse
    spark.sql("""SELECT is_robots_url('https://a.ex/robots.txt') AS r1,
                        is_robots_url('https://a.ex/p/robots.txt') AS r2,
                        is_sitemap_url('https://a.ex/sitemap_news.xml.gz') AS s1,
                        is_sitemap_url('https://a.ex/feed.xml') AS s2,
                        is_sitemap_url('https://s.ex/sitemap_products_1.xml?from=1&to=250') AS s3,
                        http_date_epoch('Wed, 07 Jan 2026 00:00:00 GMT') AS e1,
                        http_date_epoch('junk') AS e2""")
      .collect()(0).toSeq shouldBe
      Seq(true, false, true, false, true, 1767744000L, null)
    // arity errors name the function
    intercept[Exception](spark.sql("SELECT url_host('a', 'b')"))
      .getMessage should include("url_host")
  }

  test("CURATE TABLE crawl_rescore: link-quality blending dispatches with parity") {
    import graft.operators.CrawlFrontier
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    CrawlFrontier.seed(spark.createDataFrame(Seq(
        Tuple1("https://a.example/p"), Tuple1("https://b.example/q")))
      .toDF("url"), now = 1000L)
      .createOrReplaceTempView("rescore_sql_frontier")
    spark.createDataFrame(Seq(("a.example", 0.002)))
      .toDF("host", "score").createOrReplaceTempView("rescore_sql_scores")
    rowsOf(spark.sql(
      """CURATE TABLE rescore_sql_frontier USING crawl_rescore
        |WITH ('scores' = 'rescore_sql_scores', 'alpha' = '0.25')"""
        .stripMargin)) shouldBe
      rowsOf(CrawlFrontier.rescorePriorities(
        spark.table("rescore_sql_frontier"),
        spark.table("rescore_sql_scores"), alpha = 0.25))
    intercept[Exception](spark.sql(
      "CURATE TABLE rescore_sql_frontier USING crawl_rescore"))
      .getMessage should include("'scores'")
  }

  test("READ SNAPSHOT reads CDC snapshots from SQL: live, time travel, tombstones") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val nul = null.asInstanceOf[String]
    val root = java.nio.file.Files.createTempDirectory("graft-sql-snap")
      .toString + "/snap"
    val input = MemoryStream[(Long, Long, String, String)]
    val query = graft.streaming.StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 3, numBuckets = 4)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-sql-snap-ckpt").toString)
      .start()
    try {
      input.addData((1L, 1L, "upsert", "a"), (2L, 1L, "upsert", "b"))
      query.processAllAvailable()
      input.addData((1L, 2L, "delete", nul), (3L, 2L, "upsert", "c"))
      query.processAllAvailable()
    } finally query.stop()
    // live read = the API read
    spark.sql(s"READ SNAPSHOT '$root'")
      .as[(Long, String)].collect().sorted.toSeq shouldBe
      Seq((2L, "b"), (3L, "c"))
    // time travel to snapshot 0
    spark.sql(s"READ SNAPSHOT '$root' VERSION AS OF 0")
      .as[(Long, String)].collect().sorted.toSeq shouldBe
      Seq((1L, "a"), (2L, "b"))
    // raw layout: the tombstone row for key 1 is visible
    val raw = spark.sql(s"READ SNAPSHOT '$root' WITH TOMBSTONES")
    raw.columns should contain allOf ("__seq", "__deleted")
    raw.filter(col("__deleted")).select("doc_id")
      .as[Long].collect().toSeq shouldBe Seq(1L)
    // the statement returns a plain relation: composes via a temp view
    spark.sql(s"READ SNAPSHOT '$root'").createOrReplaceTempView("snap_sql_live")
    spark.sql("SELECT count(*) AS n FROM snap_sql_live")
      .collect().head.getLong(0) shouldBe 2L
    // DESCRIBE SNAPSHOT: the one-row ops summary from SQL
    val desc = spark.sql(s"DESCRIBE SNAPSHOT '$root'").collect().head
    desc.getAs[Long]("snapshot_id") shouldBe 1L
    desc.getAs[Int]("num_buckets") shouldBe 4
    desc.getAs[Seq[Long]]("retained_manifests") shouldBe Seq(0L, 1L)
    desc.getAs[String]("schema_ddl") should include("doc_id")
    // READ SNAPSHOT CHANGELOG: the CDC-out face — snapshot 0 → live
    // carries the delete of key 1 and the insert of key 3
    spark.sql(s"READ SNAPSHOT CHANGELOG '$root' FROM 0")
      .as[(Long, Long, String, Option[String])].collect().sortBy(_._1)
      .toSeq shouldBe Seq((1L, 2L, "delete", None),
        (3L, 2L, "upsert", Some("c")))
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql(s"READ SNAPSHOT CHANGELOG '$root' FROM 90 TO 91"))
      .getMessage should include("not retained")
    // malformed variants stay OURS: pointed errors, not the delegate's
    // generic syntax failure; FROM > TO and overflowed literals raise
    // as ParseException per the module contract
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql(s"READ SNAPSHOT CHANGELOG '$root'"))
      .getMessage should include("FROM <n>")
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql(s"READ SNAPSHOT CHANGELOG '$root' FROM 1 TO 0"))
      .getMessage should include("newer")
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql(s"READ SNAPSHOT CHANGELOG '$root' FROM 99999999999999999999"))
    // no committed snapshot → pointed parse error
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql("READ SNAPSHOT '/tmp/graft-no-such-snapshot'"))
      .getMessage should include("no committed snapshot")
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql("DESCRIBE SNAPSHOT '/tmp/graft-no-such-snapshot'"))
      .getMessage should include("no committed snapshot")
    // pruned/never-committed version → loud PARSE failure (the family's
    // uniform contract: parse-time failures surface as ParseException)
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql(s"READ SNAPSHOT '$root' VERSION AS OF 99"))
      .getMessage should include("not retained")
    // malformed statements that unambiguously start as ours raise the
    // pointed error, not the delegate's generic one
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql("READ SNAPSHOT /unquoted/path"))
      .getMessage should include("expected READ SNAPSHOT")
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql(s"READ SNAPSHOT '$root' VERSION AS OF abc"))
      .getMessage should include("expected READ SNAPSHOT")
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql(s"DESCRIBE SNAPSHOT '$root' EXTENDED"))
      .getMessage should include("expected DESCRIBE SNAPSHOT")
    // ...but a plain DESCRIBE of a TABLE named snapshot stays the
    // delegate's: it must NOT be hijacked by the quoted-operand guard
    spark.range(1).toDF("x").createOrReplaceTempView("snapshot")
    spark.sql("DESCRIBE snapshot").count() should be >= 1L
    // MAINTENANCE from SQL — the write half of the ops loop.
    // REBUCKET: grow 4 → 8, live state unchanged, summary reflects it
    spark.sql(s"REBUCKET SNAPSHOT '$root' TO 8 KEEP 4").collect()
    spark.sql(s"DESCRIBE SNAPSHOT '$root'").collect()
      .head.getAs[Int]("num_buckets") shouldBe 8
    spark.sql(s"READ SNAPSHOT '$root'")
      .as[(Long, String)].collect().sorted.toSeq shouldBe
      Seq((2L, "b"), (3L, "c"))
    // COMPACT: the key-1 tombstone (seq 2) drops at horizon 2, live
    // rows untouched
    spark.sql(s"COMPACT SNAPSHOT '$root' HORIZON 2 KEEP 4").collect()
    spark.sql(s"READ SNAPSHOT '$root' WITH TOMBSTONES")
      .filter(col("__deleted")).count() shouldBe 0L
    spark.sql(s"READ SNAPSHOT '$root'")
      .as[(Long, String)].collect().sorted.toSeq shouldBe
      Seq((2L, "b"), (3L, "c"))
    // malformed maintenance statements raise pointed
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql(s"COMPACT SNAPSHOT '$root'"))
      .getMessage should include("HORIZON")
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql(s"REBUCKET SNAPSHOT '$root'"))
      .getMessage should include("TO <buckets>")
    // KEEP 0 must refuse LOUDLY at execution — keepVersions=0 would
    // prune the just-committed manifest and brick the store
    intercept[IllegalArgumentException](
      spark.sql(s"COMPACT SNAPSHOT '$root' HORIZON 2 KEEP 0").collect())
      .getMessage should include("keepVersions")
    // overflowed literals are parse-time failures in the family's type
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql(s"COMPACT SNAPSHOT '$root' HORIZON 99999999999999999999"))
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql(s"REBUCKET SNAPSHOT '$root' TO 3000000000"))
  }

  test("SYNC VECTOR INDEX drains the CDC snapshot store into a registered index from SQL") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.providers.ModelRegistry.register(graft.providers.ModelSpec(
      "sync_embed", provider = "mock", task = "embedding",
      connection = "", dim = 16))
    val base = java.nio.file.Files.createTempDirectory("graft-sql-sync")
      .toString
    val root = s"$base/snap"
    val cursor = s"$base/cursor"
    val indexPath = s"$base/index"
    // the document store
    val nul = null.asInstanceOf[String]
    val input = MemoryStream[(Long, Long, String, String)]
    val sink = graft.streaming.StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 3, numBuckets = 4)
      .option("checkpointLocation", s"$base/ckpt").start()
    // empty index SHELL, registered — rows arrive only through SYNC
    val mock = new graft.providers.MockEmbedder(16)
    val cents = Seq("centroid one", "centroid two")
      .map(t => mock.embed(t).toSeq)
    graft.operators.SimilaritySearch.writeIvfFlatIndex(
      spark.emptyDataset[(String, Seq[Float], String, String)]
        .toDF("nid", "embedding", "document_id", "chunks"),
      cents, indexPath, cId = "nid", cVec = "embedding",
      payloadCols = Seq("document_id", "chunks"))
    graft.store.VectorStoreRegistry.register("sql_sync_idx",
      new graft.store.IvfFlatIndexStore(spark, indexPath))
    def sync(): Long = spark.sql(
      s"SYNC VECTOR INDEX sql_sync_idx FROM SNAPSHOT '$root' CURSOR " +
        s"'$cursor' EMBED MODEL 'sync_embed' TEXT 'text'")
      .collect().head.getLong(0)
    def hitFor(text: String): Seq[(String, String)] = {
      val q = Seq((0L, mock.embed(text).toSeq)).toDF("qid", "qvec")
      graft.store.VectorStoreRegistry.lookup("sql_sync_idx").get
        .asInstanceOf[graft.store.IvfFlatIndexStore]
        .searchBatch(q, k = 1)
        .select(col("document_id"), col("chunks"))
        .as[(String, String)].collect().toSeq
    }
    try {
      input.addData((1L, 1L, "upsert", "alpha doc"),
        (2L, 1L, "upsert", "beta doc"))
      sink.processAllAvailable()
      sync() shouldBe 0L // bootstrap
      sync() shouldBe -1L // caught up
      hitFor("alpha doc") shouldBe Seq(("1", "alpha doc"))
      // mutate: re-point doc 1, delete doc 2, add doc 3 → incremental
      input.addData((1L, 2L, "upsert", "alpha rewritten"),
        (2L, 2L, "delete", nul), (3L, 2L, "upsert", "gamma doc"))
      sink.processAllAvailable()
      sync() shouldBe 1L
      hitFor("alpha rewritten") shouldBe Seq(("1", "alpha rewritten"))
      hitFor("gamma doc") shouldBe Seq(("3", "gamma doc"))
      // the mock embedder is content-keyed, so doc 2's exact vector
      // matching NOTHING proves the delete reached the index
      hitFor("beta doc").map(_._1) should not contain "2"
    } finally sink.stop()
    // loud failures: unknown index; malformed statement
    val err = intercept[Exception](spark.sql(
      s"SYNC VECTOR INDEX nope FROM SNAPSHOT '$root' CURSOR '$cursor' " +
        "EMBED MODEL 'sync_embed' TEXT 'text'").collect())
    err.getMessage should include("no such index")
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql("SYNC VECTOR INDEX x FROM SNAPSHOT 'y'"))
  }

  test("model and connection registries resolve by name (M5/M6)") {
    ModelRegistry.registerReferenceModels()
    ModelRegistry.get("openaiembed").task shouldBe "embedding"
    ModelRegistry.get("coaching_response_generator").systemPrompt should
      include("sales coach")
    an[RuntimeException] should be thrownBy ModelRegistry.get("nope")

    ConnectionRegistry.register(ConnectionSpec("c1", "azureopenai", "https://x"))
    ConnectionRegistry.get("c1").endpoint shouldBe "https://x"
    an[RuntimeException] should be thrownBy ConnectionRegistry.get("missing")
  }
}
