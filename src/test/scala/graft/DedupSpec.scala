package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operators over planted duplicates (the operator-level view of the
  * dedup_* driver queries). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "a"),
    (2L, "the quick brown fox jumps over the lazy dog", "a"), // exact dup of 1
    (3L, "THE QUICK BROWN FOX  JUMPS OVER THE LAZY DOG ", "a"), // formatting dup
    (4L, "an entirely different document about spark engines", "b"),
    (5L, "", "b")) // empty doc
    .toDF("doc_id", "text", "source")

  test("exact keeps the minimum id per duplicate group") {
    val kept = Dedup.exact(docs, "text", "doc_id").select("doc_id")
      .as[Long].collect().sorted
    kept.toSeq shouldBe Seq(1L, 3L, 4L, 5L) // 2 collapses into 1
  }

  test("exactGroups counts duplicates per content hash") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
      .orderBy("keep_id").select("n_dups", "keep_id").as[(Long, Long)].collect()
    g.toSeq shouldBe Seq((2L, 1L), (1L, 3L), (1L, 4L), (1L, 5L))
  }

  test("fingerprintGroups catches case/whitespace variants exact md5 misses") {
    val g = Dedup.fingerprintGroups(docs, "text", "doc_id")
      .orderBy("keep_id").select("n_dups", "keep_id").as[(Long, Long)].collect()
    g.toSeq shouldBe Seq((3L, 1L), (1L, 4L), (1L, 5L)) // 1,2,3 unify
  }

  test("minhashLshPairs finds planted duplicates, ordered, no self-pairs") {
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    pairs should contain((1L, 2L)) // exact dups share all band keys
    pairs.foreach { case (a, b) => a should be < b }
    // the empty doc has no shingles → never a candidate
    pairs.flatMap(p => Seq(p._1, p._2)) should not contain 5L
  }

  test("simhashNearDupPairs: exact dups collide on every masked key, once") {
    val pairs = Dedup.simhashNearDupPairs(docs, "text", "doc_id", bits = 16)
      .as[(Long, Long)].collect()
    pairs.toSet should contain((1L, 2L))  // identical text → identical sig
    pairs.length shouldBe pairs.toSet.size // distinct despite 16 shared keys
    pairs.foreach { case (a, b) => a should be < b }
  }

  test("minhashLshVerified: candidates verified by exact jaccard, false positives cut") {
    val verified = Dedup.minhashLshVerified(docs, "text", "doc_id", threshold = 0.9)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    verified.map(p => (p._1, p._2)) should contain((1L, 2L)) // exact dup survives
    verified.foreach(_._3 should be >= 0.9)
    // doc 4 shares no shingles with 1/2 → never verified even if banded
    verified.flatMap(p => Set(p._1, p._2)) should not contain 4L
  }

  test("ngramJaccardPairs: identical docs have jaccard 1.0, blocking respected") {
    val withCrossBlockDup = docs.union(
      Seq((6L, "the quick brown fox jumps over the lazy dog", "b"))
        .toDF("doc_id", "text", "source"))
    val got = Dedup.ngramJaccardPairs(withCrossBlockDup, "text", "doc_id",
        blockCol = "source", threshold = 0.9)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    got should contain((1L, 2L, 1.0))
    // doc 6 matches 1/2's text but sits in block "b" → no cross-block pair
    got.map(p => (p._1, p._2)) should not contain ((1L, 6L))
  }

  test("embeddingNearDupLsh: identical vectors always bucket together; sign-flips never") {
    val vecs = Seq(
      (1L, Seq(1f, 2f, 3f)),
      (2L, Seq(1f, 2f, 3f)),      // exact dup → same signature, cosine 1
      (3L, Seq(-1f, -2f, -3f)))   // flipped → opposite signature bucket
      .toDF("vec_id", "embedding")
    val planes = Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f))
    val got = Dedup.embeddingNearDupLsh(vecs, "vec_id", "embedding", planes, 0.9)
      .as[(Long, Long)].collect().toSet
    got shouldBe Set((1L, 2L))
  }

  // 40 identical boilerplate docs → every band/masked-key bucket holds all
  // 40 ids (780 pairs uncapped); one genuine duplicate pair with distinct text
  private lazy val hotBucketCorpus = {
    val boiler = (1 to 40).map(i =>
      (i.toLong, "standard legal boilerplate appended to every document here"))
    val dup = Seq(
      (100L, "a unique sentence about spark native analytics engines"),
      (101L, "a unique sentence about spark native analytics engines"))
    (boiler ++ dup).toDF("doc_id", "text")
  }

  /** Runs `body`, returning (its result, the `dropped_hot_buckets` value the
    * named `observe` published). Listener delivery is async → bounded poll. */
  private def withDropMetric[A](metricName: String)(body: => A): (A, Long) = {
    @volatile var dropped = -1L
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get(metricName)
          .foreach(r => dropped = r.getAs[Long]("dropped_hot_buckets"))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (dropped < 0 && System.nanoTime() < deadline) Thread.sleep(50)
      (result, dropped)
    } finally spark.listenerManager.unregister(listener)
  }

  test("maxBucketSize drops boilerplate buckets and bounds pair output") {
    val uncapped = Dedup.minhashLshPairs(hotBucketCorpus, "text", "doc_id").count()
    uncapped shouldBe 780L + 1L

    // cap 10 < 40: the boilerplate buckets are dropped BEFORE expansion;
    // only the genuine pair (bucket size 2) survives
    val (capped, dropped) = withDropMetric("minhash_lsh_skew") {
      Dedup.minhashLshPairs(hotBucketCorpus, "text", "doc_id",
          maxBucketSize = 10)
        .as[(Long, Long)].collect().toSet
    }
    capped shouldBe Set((100L, 101L))
    // all 4 band keys of the boilerplate text are hot buckets
    dropped shouldBe 4L
  }

  test("simhash maxBucketSize drops boilerplate buckets and bounds pair output") {
    // uncapped (the oracle-checked form): the 40-doc bucket expands to 780
    // boilerplate pairs under every masked key, plus the genuine pair
    val uncapped = Dedup.simhashNearDupPairs(hotBucketCorpus, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    uncapped should contain((100L, 101L))
    uncapped.count(p => p._1 <= 40 && p._2 <= 40) shouldBe 780

    val (capped, dropped) = withDropMetric("simhash_skew") {
      Dedup.simhashNearDupPairs(hotBucketCorpus, "text", "doc_id",
          maxBucketSize = 10)
        .as[(Long, Long)].collect().toSet
    }
    // the boilerplate buckets die BEFORE pair expansion; the genuine pair's
    // size-2 buckets survive the cap
    capped shouldBe Set((100L, 101L))
    // one 40-id bucket under each of the 16 masked keys
    dropped shouldBe 16L
  }

  test("maxBucketSize = Int.MaxValue behaves as effectively uncapped (no int overflow in the truncation)") {
    // the truncation filter compares row_number <= cap+1 in LONG: the
    // int form wraps Int.MaxValue+1 to Int.MinValue and silently drops
    // every row — a dedup run reporting zero duplicates
    val uncapped = Dedup.minhashLshPairs(hotBucketCorpus, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    Dedup.minhashLshPairs(hotBucketCorpus, "text", "doc_id",
        maxBucketSize = Int.MaxValue)
      .as[(Long, Long)].collect().toSet shouldBe uncapped
    Dedup.simhashNearDupPairs(hotBucketCorpus, "text", "doc_id",
        maxBucketSize = Int.MaxValue)
      .as[(Long, Long)].collect().toSet shouldBe
      Dedup.simhashNearDupPairs(hotBucketCorpus, "text", "doc_id")
        .as[(Long, Long)].collect().toSet
  }

  test("capped LSH plan pin: the bucket arrays are truncated BEFORE collect_list builds them") {
    // the hot-array hazard: filter(size <= cap) AFTER collect_list still
    // materializes a boilerplate family's full id array in one
    // aggregation row (100 MB–1 GB at 10⁷–10⁸ docs) before discarding
    // it. Capped mode must bound the array build itself: the streaming
    // row_number truncation (__rn <= cap+1) has to sit BELOW every
    // collect_list aggregate in the plan, with no aggregate under it.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    def pinTruncationBelowArrayBuild(df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.optimizedPlan
      val aggs = plan.collect { case a: Aggregate
        if a.aggregateExpressions.exists(_.toString.contains("collect_list")) => a }
      aggs should have size 1
      val guard = aggs.head.collectFirst { case f: Filter
        if f.condition.references.exists(_.name == "__rn") => f }
      withClue("no __rn truncation filter below the collect_list aggregate: ") {
        guard.isDefined shouldBe true
      }
      // nothing below the guard may build an array — the truncation is
      // the LAST thing the exploded rows pass through before the agg
      guard.get.collect { case a: Aggregate => a } shouldBe Seq.empty
    }
    pinTruncationBelowArrayBuild(Dedup.minhashLshPairs(
      hotBucketCorpus, "text", "doc_id", maxBucketSize = 10))
    pinTruncationBelowArrayBuild(Dedup.simhashNearDupPairs(
      hotBucketCorpus, "text", "doc_id", maxBucketSize = 10))
    // and the truncated arrays are physically bounded: every bucket the
    // aggregate emits holds at most cap+1 ids (cap 3 → arrays ≤ 4 even
    // though the boilerplate family has 40 members)
    val bk = graft.functions.Hashing.bandKeysUdf(3, 4, 3)
    val sizes = hotBucketCorpus
      .select(col("doc_id").as("id"), explode(bk(col("text"))).as("band_key"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_key")).orderBy(col("id"))))
      .filter(col("__rn") <= 4)
      .groupBy(col("band_key"))
      .agg(org.apache.spark.sql.functions.size(
        collect_list(col("id"))).as("n"))
      .agg(max(col("n"))).as[Int].head()
    sizes should be <= 4
  }

  test("connectedComponents: pairs collapse to min-id clusters") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L)
  }

  test("bestPerCluster keeps the highest-quality member, not the min id") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "short dup"),                                        // cluster {1,2,3}
      (2L, "the quick brown fox is one of the animals and it jumps over " +
        "a lazy dog in the field to make this a long enough document"),
      (3L, "short dup again"),
      (9L, "a lone document about something else entirely here")) // singleton
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.bestPerCluster(docs, "text", "doc_id", pairs)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // expected keeper = argmax of the SAME quality score, tie → min id
    val q = docs.select(col("doc_id"), round(
        graft.functions.TextAnalysis.qualityScore(col("text")), 6).as("q"))
      .as[(Long, Double)].collect().toMap
    val bestInCluster = Seq(1L, 2L, 3L).maxBy(id => (q(id), -id))
    bestInCluster shouldBe 2L // the long clean doc, NOT min id 1
    got.keySet shouldBe Set(1L, 9L) // comp labels stay min-id
    got(1L) shouldBe (bestInCluster, 3L)
    got(9L) shouldBe (9L, 1L) // singleton keeps itself
  }

  test("bestPerCluster breaks quality ties toward the smaller id") {
    val docs = Seq((5L, "same text"), (4L, "same text"))
      .toDF("doc_id", "text")
    val pairs = Seq((4L, 5L)).toDF("id_a", "id_b")
    Dedup.bestPerCluster(docs, "text", "doc_id", pairs)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3)).toSeq shouldBe Seq((4L, 4L, 2L))
  }

  test("antiJoinFuzzy drops near-dups of the index, keeps fresh and below-threshold docs") {
    val indexed = "the quick brown fox jumps over the lazy dog near the river bank today"
    val index = Seq((1L, indexed)).toDF("doc_id", "text")
    val batch = Seq(
      (100L, indexed),                                    // exact copy
      (101L, indexed.replace(" today", "")),              // truncated copy
      (102L, "completely fresh writing about compilers and register allocation"),
      // shares a couple of shingles at most — far below threshold
      (103L, "the quick start guide to gardening explains mulch and compost layers"))
      .toDF("doc_id", "text")
    val kept = Dedup.antiJoinFuzzy(batch, index, "text", "doc_id",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    kept shouldBe Seq(102L, 103L)
  }

  test("antiJoinFuzzy maxBucketSize drops hot band keys only: quiet near-dups still gated, hot-family members pass") {
    val indexed = "the quick brown fox jumps over the lazy dog near the river bank today"
    val boiler = "all rights reserved contact us terms of service privacy policy cookie banner text"
    // index: one quiet doc + a 6-member boilerplate family (every band
    // key of `boiler` has 6 index members — hot at cap 3)
    val index = ((1L, indexed) +: (10L to 15L).map(i => (i, boiler)))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, indexed),  // exact copy of the QUIET doc: bands survive the cap
      (101L, boiler),   // member of the HOT family: its bands all drop
      (102L, "completely fresh writing about compilers and register allocation"))
      .toDF("doc_id", "text")
    // capped: the quiet copy is still gated, the hot-family member is
    // NOT (its detection is the exact/fingerprint gates' job — the
    // documented recall tradeoff), fresh passes
    Dedup.antiJoinFuzzy(batch, index, "text", "doc_id",
        threshold = 0.5, maxBucketSize = 3)
      .select("doc_id").as[Long].collect().sorted.toSeq shouldBe
      Seq(101L, 102L)
    // uncapped control: both copies gated
    Dedup.antiJoinFuzzy(batch, index, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq shouldBe Seq(102L)
  }

  test("minhashLshVerified maxBucketSize: hot-family pairs suppressed BEFORE verification, quiet dups survive exact") {
    // uncapped: 780 boilerplate pairs all reach (and pass) exact-Jaccard
    // verification — identical text has jaccard 1.0, so LSH's false-
    // positive cut cannot save the composition from a hot family
    val uncapped = Dedup.minhashLshVerified(hotBucketCorpus, "text",
      "doc_id", threshold = 0.9).count()
    uncapped shouldBe 780L + 1L
    // capped: the hot buckets drop before pair expansion, so the verify
    // stage only ever sees the genuine pair — the threading the r13
    // probe forced (uncapped C(n,2) expansion is the 100 TB hazard)
    Dedup.minhashLshVerified(hotBucketCorpus, "text", "doc_id",
        threshold = 0.9, maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq shouldBe
      Seq((100L, 101L))
  }

  test("capped antiJoinFuzzy evaluates the band-key pipeline ONCE per side (persisted, plan-pinned)") {
    val indexed = "the quick brown fox jumps over the lazy dog near the river bank today"
    val boiler = "all rights reserved contact us terms of service privacy policy cookie banner text"
    val index = ((1L, indexed) +: (10L to 15L).map(i => (i, boiler)))
      .toDF("doc_id", "text")
    val batch = Seq((100L, indexed), (101L, boiler),
        (102L, "completely fresh writing about compilers and register allocation"))
      .toDF("doc_id", "text")
    // pin the PRE-checkpoint sliver plan (the public wrapper eagerly
    // checkpoints it, which hides the tree): the exploded band-key
    // frames feed two consumers each (hot-count aggregate +
    // anti-join/band join), so persisted they surface as four opaque
    // InMemoryRelation leaves — without the persist the
    // tokenize/shingle/minhash pipeline would run a second full pass
    // per side (r13 "What's wrong #2"). Pin on the OPTIMIZED plan tree
    // (the string form re-prints each cached relation's stored plan,
    // inflating token counts).
    val (dup0, caches) = Dedup.antiJoinFuzzyDup(batch, index, "text",
      "doc_id", 3, 4, 3, 0.5, 3)
    val opt = dup0.queryExecution.optimizedPlan
    opt.collect { case m: org.apache.spark.sql.execution.columnar
      .InMemoryRelation => m }.size shouldBe 4
    // and the live plan evaluates NO band-key explode outside the
    // cache: its only Generates are the verify stage's INTERSECTION
    // shingle explodes (one per side — the per-doc counts ride per-row
    // size(shinglesUdf) maps since r19, so the former count-side
    // explode+aggregate pair is gone from the plan entirely)
    opt.collect { case g: org.apache.spark.sql.catalyst.plans.logical
      .Generate => g }.size shouldBe 2
    caches.foreach(_.unpersist(true))
    // the PUBLIC gate releases every cache it registered before
    // returning (a standing pipeline calls it per micro-batch —
    // CacheManager entries pinned across batches would accumulate
    // corpus-sized blocks without bound) and still gates correctly
    spark.sharedState.cacheManager.clearCache()
    val kept = Dedup.antiJoinFuzzy(batch, index, "text", "doc_id",
      threshold = 0.5, maxBucketSize = 3)
    kept.select("doc_id").as[Long].collect().sorted.toSeq shouldBe
      Seq(101L, 102L)
    spark.sharedState.cacheManager.isEmpty shouldBe true
  }

  test("antiJoinFuzzy threshold gates verification: 1.0 keeps everything but exact copies") {
    val indexed = "the quick brown fox jumps over the lazy dog near the river bank today"
    val index = Seq((1L, indexed)).toDF("doc_id", "text")
    val batch = Seq(
      (100L, indexed),                       // jaccard 1.0 -> still dropped
      (101L, indexed.replace(" today", ""))) // jaccard < 1 -> kept at tau=1
      .toDF("doc_id", "text")
    val kept = Dedup.antiJoinFuzzy(batch, index, "text", "doc_id",
        threshold = 1.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    kept shouldBe Seq(101L)
  }

  test("stripBoilerplateLines strips same-source repeats, keeps content/blanks/other sources") {
    val header = "SITE NAV | home | about"
    val docs = Seq(
      (1L, "s1", header + "\nunique body one\n\nshared footer"),
      (2L, "s1", header + "\nanother body\nshared footer"),
      // normalized match: different case + trailing space
      (3L, "s1", header.toLowerCase + " \nthird body"),
      // same line on a DIFFERENT source: not boilerplate there
      (4L, "s2", header + "\nother-site body"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.stripBoilerplateLines(docs, "text", "doc_id", "source",
        minDocs = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // header: 3 distinct s1 docs -> stripped there; footer: only 2 -> kept
    got(1L) shouldBe ((4L, 1L, "unique body one\n\nshared footer"))
    got(2L) shouldBe ((3L, 1L, "another body\nshared footer"))
    got(3L) shouldBe ((2L, 1L, "third body"))
    got(4L) shouldBe ((2L, 0L, header + "\nother-site body"))
  }

  test("stripBoilerplateLines reassembles a fully-boilerplate doc to empty text") {
    val docs = Seq(
      (1L, "s", "only line"), (2L, "s", "only line"), (3L, "s", "only line"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.stripBoilerplateLines(docs, "text", "doc_id", "source",
        minDocs = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    got(1L) shouldBe ((1L, 1L, ""))
    got.keySet shouldBe Set(1L, 2L, 3L) // stripped docs still emitted
  }

  test("stripBoilerplateLines passes NULL-text docs through as empty, not dropped") {
    val docs = Seq((1L, "s", "real line"), (2L, "s", null))
      .toDF("doc_id", "source", "text")
    val got = Dedup.stripBoilerplateLines(docs, "text", "doc_id", "source",
        minDocs = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    got(2L) shouldBe ((1L, 0L, "")) // one (blank) line, nothing removed
    got(1L) shouldBe ((1L, 0L, "real line"))
  }

  test("connectedComponents converges on a long path (many propagation rounds)") {
    val chain = (1 to 12).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(chain)
      .select("comp").as[Long].collect().toSet
    comps shouldBe Set(1L) // one component, labelled by the minimum id
  }

  test("bloom-prefiltered anti join is exactly the plain anti join") {
    // tiny fpp forces real false positives through the exact path while
    // most rows take the no-shuffle fast path — results must not differ
    val seen = (1 to 500).map(i => s"h$i").toDF("seen_hash")
    val batch = ((1 to 300).map(i => (i.toLong, s"h${i * 2}")) :+
      ((999L, null.asInstanceOf[String]))).toDF("id", "h")
    val plain = batch.join(seen, col("h") === col("seen_hash"), "left_anti")
      .select("id").as[Long].collect().sorted.toSeq
    val bloomed = Dedup.antiJoinWithBloomPrefilter(batch, seen, "h", "seen_hash",
        fpp = 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    bloomed shouldBe plain
    bloomed should contain(999L) // NULL hash routes to the exact path, kept
  }

  test("sharded bloom prefilter is exactly the plain anti join") {
    // fpp 0.5 forces real false positives through the exact path, and 300
    // murmur3-routed hashes land them across all 8 shard filters — the
    // per-shard screen/union must still agree with the one-join truth
    val seen = (1 to 500).map(i => s"h$i").toDF("seen_hash")
    val batch = ((1 to 300).map(i => (i.toLong, s"h${i * 2}")) :+
      ((999L, null.asInstanceOf[String]))).toDF("id", "h")
    val plain = batch.join(seen, col("h") === col("seen_hash"), "left_anti")
      .select("id").as[Long].collect().sorted.toSeq
    val sharded = Dedup.antiJoinWithShardedBloomPrefilter(batch, seen,
        "h", "seen_hash", shards = 8, fpp = 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    sharded shouldBe plain
    sharded should contain(999L) // NULL hash routes to the exact path, kept

    // the stored-index build path (per-shard pruned scans, no checkpoint)
    // must route identically — same murmur3 shard key on both sides
    val stored = Dedup.antiJoinWithShardedBloomPrefilter(batch, seen,
        "h", "seen_hash", shards = 8, fpp = 0.5, materializeSeen = false)
      .select("id").as[Long].collect().sorted.toSeq
    stored shouldBe plain

    // every shard filter actually holds entries: each screens its own
    // slice, so a batch hash that IS in seen must flag maybe in its shard
    val allSeen = seen.select(col("seen_hash").as("h"))
      .withColumn("id", monotonically_increasing_id())
    val none = Dedup.antiJoinWithShardedBloomPrefilter(allSeen, seen,
      "h", "seen_hash", shards = 8, fpp = 0.01)
    none.isEmpty shouldBe true // no false negatives in any shard
  }

  test("altStar agrees with min-label propagation on mixed cluster shapes") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)) // chain, pair, triangle
      .toDF("id_a", "id_b")
    val minLabel = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val altStar = Dedup.connectedComponentsAltStar(pairs)
      .as[(Long, Long)].collect().toMap
    altStar shouldBe minLabel
    altStar shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
  }

  test("altStar keeps self-pair-only nodes, matching min-label's contract") {
    // a node appearing ONLY as (x, x) must still be labelled — both
    // implementations promise a row for every id that appears in a pair
    val pairs = Seq((1L, 2L), (7L, 7L)).toDF("id_a", "id_b")
    val minLabel = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val altStar = Dedup.connectedComponentsAltStar(pairs)
      .as[(Long, Long)].collect().toMap
    altStar shouldBe minLabel
    altStar shouldBe Map(1L -> 1L, 2L -> 1L, 7L -> 7L)
  }

  test("altStar converges in O(log n) rounds on a path graph") {
    // a 16-node chain: min-label needs ~diameter (15) rounds; the
    // alternating algorithm must stay within log2(16)+3 = 7
    val chain = (1 to 15).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.altStarWithRounds(chain, "id_a", "id_b",
      maxIters = 20)
    rounds should be <= 7
    labels.select("comp").as[Long].collect().toSet shouldBe Set(1L)
    labels.count() shouldBe 16
  }

  test("winnowing: shared >= w+k-1 substring guarantees a shared fingerprint") {
    val shared = "identical stretch of text that is long enough to overlap"
    val corpus = Seq(
      (1L, s"prefix region one $shared suffix region alpha"),
      (2L, s"completely different beginning $shared unrelated end"),
      (3L, "zqw vbn mlk jhg fds poi uyt rew zxc qaz wsx edc rfv tgb"))
      .toDF("doc_id", "text")
    val byDoc = Dedup.winnowingFingerprints(corpus, "text", "doc_id",
        k = 8, w = 4)
      .select("doc_id", "fp_hash").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (byDoc(1L) intersect byDoc(2L)) should not be empty // guarantee holds
    (byDoc(1L) intersect byDoc(3L)) shouldBe empty      // disjoint content
    // winnowing density: one selection per window, deduped — far fewer
    // fingerprints than grams, but at least P/w of them
    val p1 = byDoc(1L).size
    p1 should be >= (("prefix region one " + shared).length / (4 * 2))
  }

  test("winnowing is formatting-invariant via the canonical form") {
    val corpus = Seq(
      (1L, "The Quick, Brown Fox;  Jumps over the LAZY dog!"),
      (2L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val byDoc = Dedup.winnowingFingerprints(corpus, "text", "doc_id")
      .select("doc_id", "fp_pos", "fp_hash").as[(Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    byDoc(1L) shouldBe byDoc(2L)
  }

  test("duplicatedSegments flags grid-aligned boilerplate, not unique text") {
    // 4-token grid: docs 1 and 2 share their FIRST segment verbatim
    // (boilerplate header); doc 3 contains the same words shifted off
    // the grid — segment dedup is grid-aligned by design (winnowing owns
    // offset-invariance), so doc 3 must NOT be flagged.
    val corpus = Seq(
      (1L, "all rights reserved inc unique alpha content one"),
      (2L, "all rights reserved inc unrelated beta content two"),
      (3L, "shifted all rights reserved inc gamma content three"),
      (4L, "entirely distinct text with no shared segments here"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSegments(corpus, "text", "doc_id",
        segTokens = 4, minDocs = 2)
      .select("doc_id", "seg_idx", "n_docs").as[(Long, Int, Long)]
      .collect().sortBy(_._1)
    got.toSeq shouldBe Seq((1L, 0, 2L), (2L, 0, 2L))
    // raising the bar to 3 distinct docs clears the 2-doc segment
    Dedup.duplicatedSegments(corpus, "text", "doc_id",
      segTokens = 4, minDocs = 3).count() shouldBe 0L
  }

  test("embeddingNearDupPairs: identical vectors pass, orthogonal fail") {
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f), "x"),
      (2L, Seq(1f, 0f, 0f), "x"),   // identical to 1
      (3L, Seq(0f, 1f, 0f), "x"),   // orthogonal
      (4L, Seq(1f, 0f, 0f), "y"))   // identical but different block
      .toDF("vec_id", "embedding", "label")
    val got = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", "label", 0.9)
      .as[(Long, Long)].collect().toSet
    got shouldBe Set((1L, 2L))
  }

  test("semanticDedup keeps the lowest-id member of each within-cell ε-group") {
    // two well-separated cells on the axes; near-dups only within cells
    val centroids = Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f))
    val vecs = Seq(
      (10L, Seq(1f, 0.05f, 0f)),  // cell 0, kept (lowest of its ε-group)
      (11L, Seq(1f, 0.06f, 0f)),  // cell 0, ~identical to 10 → pruned
      (12L, Seq(0.8f, 0f, 0.6f)), // cell 0, far from 10/11 → kept
      (20L, Seq(0f, 1f, 0.02f)),  // cell 1, kept
      (21L, Seq(0.01f, 1f, 0f)))  // cell 1, ~identical to 20 → pruned
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(vecs, "vec_id", "embedding", centroids, 0.95)
      .select("id", "cluster", "kept").as[(Long, Int, Boolean)]
      .collect().sortBy(_._1).toSeq
    got shouldBe Seq((10L, 0, true), (11L, 0, false), (12L, 0, true),
      (20L, 1, true), (21L, 1, false))
    // a near-dup pair SPLIT across cells is not pruned: the cell bound
    // is the recall/cost trade the paper makes (ε-dups across cluster
    // boundaries survive) — pin the semantics so a future "fix" that
    // silently reintroduces all-pairs comparison fails here
    val split = Seq(
      (1L, Seq(1f, 0.9f, 0f)),  // nearest centroid: cell 0
      (2L, Seq(0.9f, 1f, 0f)))  // nearest centroid: cell 1; cos(1,2)≈0.99
      .toDF("vec_id", "embedding")
    Dedup.semanticDedup(split, "vec_id", "embedding", centroids, 0.95)
      .filter(!col("kept")).count() shouldBe 0L
  }

  test("semanticDedup matches a brute-force reference on random corpora") {
    val rnd = new scala.util.Random(20260814L)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) -1.0 else dot / (na * nb)
    }
    (1 to 4).foreach { round =>
      val dim = 4
      val cents = Seq.fill(3)(Seq.fill(dim)(rnd.nextFloat() * 2 - 1))
      val vecs = (0 until 30).map(i =>
        (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
      val tau = 0.8
      // reference: the operator's own contracts re-derived naively —
      // argmax assignment with the (sim DESC, cid DESC) tie-break,
      // then "kept iff no lower-id same-cell neighbour within tau"
      val assign = vecs.map { case (id, v) =>
        id -> cents.zipWithIndex.maxBy { case (c, ci) => (cos(v, c), ci) }._2
      }.toMap
      val byId = vecs.toMap
      val expected = vecs.map { case (id, v) =>
        val dup = vecs.exists { case (jd, w) =>
          jd < id && assign(jd) == assign(id) && cos(w, v) >= tau
        }
        (id, assign(id), !dup)
      }.sortBy(_._1)
      val got = Dedup.semanticDedup(vecs.toDF("vec_id", "embedding"),
          "vec_id", "embedding", cents, tau)
        .select("id", "cluster", "kept").as[(Long, Int, Boolean)]
        .collect().sortBy(_._1).toSeq
      withClue(s"round $round:") { got shouldBe expected }
    }
  }

  test("duplicatedSpans: shared substrings become maximal merged spans at each site") {
    // doc 11 repeats doc 10's tokens 0-9 at offset 5, and both docs also
    // share a SECOND region (tokens 15-19 of 10 == 16-20 of 11); unique
    // tails never enter a span. k=4.
    val shared1 = (0 until 10).map(i => s"s$i").mkString(" ")
    val shared2 = (0 until 5).map(i => s"t$i").mkString(" ")
    val spanDocs = Seq(
      (10L, s"$shared1 u0 u1 u2 u3 u4 $shared2 u5 u6"),
      (11L, s"v0 v1 v2 v3 v4 $shared1 w0 $shared2 w1 w2"),
      (12L, "x0 x1 x2 x3 x4 x5 x6 x7")) // no duplication anywhere
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(spanDocs, "text", "doc_id", k = 4)
      .as[(Long, Int, Int, Int)].collect().sorted.toSeq
    got shouldBe Seq((10L, 0, 9, 10), (10L, 15, 19, 5),
      (11L, 5, 14, 10), (11L, 16, 20, 5))
  }

  test("duplicatedSpans merges adjacent coverage and marks dups via aggregate, not a gram window") {
    // tokens 0-7 duplicated via two gram hits whose coverage intervals
    // touch (pos 0 and pos 4, k=4): one span, not two
    val d = Seq(
      (1L, "a0 a1 a2 a3 b0 b1 b2 b3 c0"),
      (2L, "a0 a1 a2 a3 z9 z8 z7 b0 b1 b2 b3")).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(d, "text", "doc_id", k = 4)
    spans.filter(col("id") === 1L).as[(Long, Int, Int, Int)]
      .collect().toSeq shouldBe Seq((1L, 0, 7, 8))
    // scale pin: every window is the per-doc islands merge (partitioned
    // by id, bounded by doc length); the gh-side duplicate marking must
    // stay a hash aggregate — a window over gram occurrences would sort
    // every hot gram's bucket
    val plan = spans.queryExecution.executedPlan.toString
    val parts = "windowspecdefinition\\((\\w+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    parts should not be empty
    all(parts) shouldBe "id"
    plan should include("HashAggregate")
  }

  test("removeDuplicatedSpans keeps the canonical copy, strips the rest, counts exactly") {
    val shared = (0 until 6).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, s"$shared tail1 tail2"),   // canonical (min id, pos 0)
      (2L, s"head1 $shared tail3"),   // non-canonical copy → stripped
      (3L, "solo0 solo1 solo2 solo3 solo4 solo5")) // untouched
      .toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(d, "text", "doc_id", k = 6)
      .as[(Long, String, Int, Int)].collect().sortBy(_._1).toSeq
    def h(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    got shouldBe Seq(
      (1L, h(s"$shared tail1 tail2"), 8, 0),
      (2L, h("head1 tail3"), 2, 6),
      (3L, h("solo0 solo1 solo2 solo3 solo4 solo5"), 6, 0))
    // no Window anywhere: canonical selection is min(struct(id,pos)) —
    // partial-aggregatable, hot grams cost one combiner row
    Dedup.removeDuplicatedSpans(d, "text", "doc_id", k = 6)
      .queryExecution.executedPlan.toString.toLowerCase should not include "window"
  }

  test("removeDuplicatedSpans: a fully-duplicated non-canonical doc empties to md5 of ''") {
    val t = "p0 p1 p2 p3 p4"
    val d = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(d, "text", "doc_id", k = 5)
      .as[(Long, String, Int, Int)].collect().sortBy(_._1).toSeq
    got.map(r => (r._1, r._3, r._4)) shouldBe Seq((1L, 5, 0), (2L, 0, 5))
    got(1)._2 shouldBe "d41d8cd98f00b204e9800998ecf8427e" // md5("")
  }

  test("fuzzyLinkage: edit gate and block semantics, hot-block drop, param raise") {
    val base = "the quick brown fox jumps over the lazy dog again"
    val d = Seq(
      (1L, base),
      (2L, base), // exact copy: dist 0
      (3L, base.replace("jumps", "jumped")), // within budget
      (4L, "the quick brACADABRA COMPLETELY DIFFERENT PAST THE " +
        "BLOCKING PREFIX"), // same 12-char block, but the gate rejects
      (5L, "THE QUICK BROWN fox..."), // prefix differs: escapes the block
      (6L, null.asInstanceOf[String])) // null text: silently excluded
      .toDF("doc_id", "text")
    val got = Dedup.fuzzyLinkage(d, "text", "doc_id",
        blockLen = 12, window = 48, maxDist = 6, maxBlock = 64)
      .as[(Long, Long, Int)].collect().sortBy(p => (p._1, p._2)).toSeq
    got.map(p => (p._1, p._2)) shouldBe Seq((1L, 2L), (1L, 3L), (2L, 3L))
    got.head._3 shouldBe 0 // the exact copy
    all(got.map(_._3)) should be <= 6
    // hot-block drop: 70 rows sharing one block yield ZERO pairs
    val hot = (1L to 70L).map(i => (i, base)).toDF("doc_id", "text")
    Dedup.fuzzyLinkage(hot, "text", "doc_id", maxBlock = 64)
      .count() shouldBe 0L
    an[Exception] should be thrownBy
      Dedup.fuzzyLinkage(d, "text", "doc_id", blockLen = 12, window = 4)
  }
}
