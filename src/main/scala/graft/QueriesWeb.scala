package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{CrawlFrontier, WebGraph}

/** The crawl back half — what happens to URLs and the link graph AFTER
  * fetch: redirect-chain resolution (pointer doubling), rel=canonical
  * extraction, graph contraction through the resolved mapping, the
  * host/domain-level graph, TrustRank seed propagation, and crawler-
  * trap detection. Fixtures synthesize deterministically from
  * `documents` (the web-family convention); every oracle replays the
  * IDENTICAL law — the redirect walk as a bounded recursive CTE, the
  * regex chains verbatim — in DuckDB SQL. */
object QueriesWeb {

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val T0 = 1754000000L // fixed 'now' (the QueriesCrawl clock)

  /** u(i) — the shared redirect-fixture URL spelling. */
  private def u(e: Column): Column =
    concat(lit("https://r.example.com/p/"), e.cast("string"))

  /** The shared redirect fixture: per doc_id i (mod 5) —
    * 0: → i+1 (a 2-hop chain head), 1: → i+3 (1 hop to a terminal),
    * 2: → i (self-loop cycle), 3: mutual 2-cycles (i%10==3 → i+5,
    * i%10==8 → i-5), 4: terminal (no redirect). i%20==0 adds a
    * SECOND dst for the same src — the min(dst) collapse law's
    * fixture. Chain heads at the corpus edge resolve early (their
    * target falls outside the src set) — both engines share the law,
    * so the boundary is covered, not avoided. */
  private def redirectEdges(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val dst = when(d % 5 === 0, u(d + 1))
      .when(d % 5 === 1, u(d + 3))
      .when(d % 5 === 2, u(d))
      .when(d % 10 === 3, u(d + 5))
      .otherwise(u(d - 5))
    docs.filter(d % 5 =!= 4)
      .select(u(d).as("src"), dst.as("dst"))
      .unionByName(docs.filter(d % 20 === 0)
        .select(u(d).as("src"), u(d + 2).as("dst")))
  }

  /** The DuckDB replay of [[redirectEdges]] + the bounded walk:
    * CTEs `m(u, v)` (the min-collapsed redirect map), `walk` (the
    * recursive chain, hop-capped at `hopBudget`) and `term(u, cur,
    * h)` (the unique terminal row per chain, absent when unresolved).
    * Callers prepend WITH RECURSIVE. */
  private def redirectWalkSql(hopBudget: Int): String =
    s"""e0 AS (
        SELECT 'https://r.example.com/p/' || doc_id AS src,
               'https://r.example.com/p/' || (CASE
                  WHEN doc_id % 5 = 0 THEN doc_id + 1
                  WHEN doc_id % 5 = 1 THEN doc_id + 3
                  WHEN doc_id % 5 = 2 THEN doc_id
                  WHEN doc_id % 10 = 3 THEN doc_id + 5
                  ELSE doc_id - 5 END) AS dst
        FROM documents WHERE doc_id % 5 <> 4
        UNION ALL
        SELECT 'https://r.example.com/p/' || doc_id,
               'https://r.example.com/p/' || (doc_id + 2)
        FROM documents WHERE doc_id % 20 = 0),
      m AS (SELECT src AS u, min(dst) AS v FROM e0 GROUP BY src),
      walk AS (
        SELECT u, v AS cur, 1 AS h FROM m
        UNION ALL
        SELECT w.u, m.v, w.h + 1 FROM walk w JOIN m ON m.u = w.cur
        WHERE w.h < $hopBudget),
      term AS (SELECT w.u, w.cur, w.h FROM walk w
               LEFT JOIN m ON m.u = w.cur WHERE m.u IS NULL)"""

  /** The DuckDB spelling of hostOf over an expression `e` — the
    * UrlOps law replay (text_url_normalize proves the Spark side). */
  private def hostOfSql(e: String): String =
    s"""regexp_extract(lower($e),
       '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)', 1)"""

  /** The DuckDB spelling of registeredDomain over a COLUMN named `h`
    * (the crawl-family domainSql convention). */
  private def domainOfSql(h: String): String = {
    val sfx = graft.functions.UrlOps.secondLevelSuffixes
      .map("'" + _ + "'").mkString(",")
    s"""CASE WHEN len(string_split($h, '.')) >= 3 AND
              (string_split($h, '.')[-2] || '.' ||
               string_split($h, '.')[-1]) IN ($sfx)
         THEN string_split($h, '.')[-3] || '.' ||
              string_split($h, '.')[-2] || '.' || string_split($h, '.')[-1]
         WHEN len(string_split($h, '.')) >= 2
         THEN string_split($h, '.')[-2] || '.' || string_split($h, '.')[-1]
         ELSE $h END"""
  }

  /** The DuckDB spelling of [[graft.operators.CrawlFrontier
    * .urlTemplate]] over host/path-with-query columns `h`/`p` — ONE
    * helper for every trap-family oracle so the collapse law (hex
    * before digit before query-value, pathOf's '/' fallback, '' when
    * hostless) can never drift between rows. */
  private def templateSql(h: String, p: String): String =
    s"""(CASE WHEN length($h) > 0 THEN $h ||
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           (CASE WHEN length($p) > 0 THEN $p ELSE '/' END),
           '[0-9a-zA-Z]{16,}', 'S', 'g'),
           '[0-9a-fA-F]{8,}', 'H', 'g'),
           '[0-9]+', 'D', 'g'),
           '([?&][^&#=]*=)[^&#]*', '\\1V', 'g')
       ELSE '' END)"""

  /** The DuckDB replay of [[graft.functions.UrlOps.removeDotSegments]]
    * over a SQL expression: the identical split + 12-pass chain (each
    * pass: /./ collapse, /seg/../ collapse, above-root absorption),
    * global flags throughout, including the r17 contains('/.') guard
    * around the fold (a dotless path skips the 36 passes in both
    * engines — verbatim chain parity preserved). */
  private[graft] def dotSegSql(expr: String): String = {
    val qf = "regexp_extract(" + expr + ", '([?#].*)$', 1)"
    val noQf = "regexp_replace(" + expr + ", '[?#].*$', '')"
    val origin = "regexp_extract(" + noQf +
      ", '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1)"
    val p0 = "(CASE WHEN length(" + origin + ") > 0 THEN substr(" +
      noQf + ", length(" + origin + ") + 1) ELSE " + noQf + " END)"
    val seg = "(?:[^/.][^/]*|\\.[^/.][^/]*|\\.\\.[^/]+)"
    val norm = (1 to 12).foldLeft(p0) { (u, _) =>
      val a = "regexp_replace(" + u + ", '/\\.(/|$)', '/', 'g')"
      val b = "regexp_replace(" + a +
        ", '/" + seg + "/\\.\\.(/|$)', '/', 'g')"
      "regexp_replace(" + b + ", '^/\\.\\.(/|$)', '/', 'g')"
    }
    origin + " || (CASE WHEN contains(" + p0 + ", '/.') THEN " +
      norm + " ELSE " + p0 + " END) || " + qf
  }

  /** One TrustRank power iteration for the web_trustrank oracle
    * (requires `nodes`, `tv(id, v)`, `e(src,dst)`, `deg(src,deg)` and
    * `t{k-1}(id, tr)` CTEs): dangling mass from the previous vector,
    * inflow, then t_k = (1-d)·v + d·(inflow + mass·v). This fixture's
    * edges never leave the node set, so the engine's out-of-set leak
    * term is identically zero and the oracle replays dangling mass
    * only. Literals stay in the engine's IEEE order ((1.0 - 0.85),
    * never a pre-folded 0.15). */
  private def trStepSql(k: Int): String = {
    val p = k - 1
    s"""d$k AS (SELECT coalesce(sum(t.tr), 0) AS dm
           FROM t$p t LEFT JOIN deg ON deg.src = t.id
           WHERE deg.src IS NULL),
      c$k AS (SELECT e.dst, sum(t.tr / deg.deg) AS inflow
           FROM e JOIN t$p t ON e.src = t.id
           JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
      t$k AS (SELECT nodes.id,
             (1.0 - 0.85) * tv.v +
             0.85 * (coalesce(c$k.inflow, 0) +
                     (SELECT dm FROM d$k) * tv.v) AS tr
           FROM nodes JOIN tv ON tv.id = nodes.id
           LEFT JOIN c$k ON c$k.dst = nodes.id)"""
  }

  val web: Seq[Entry] = Seq(

    Entry("web_redirects", (s, dir) => {
      // redirect-chain resolution by pointer doubling — 2-hop chains,
      // 1-hop redirects, self-loops, mutual 2-cycles and a dup-src
      // min(dst) collapse, resolved in 3 doubling rounds (hop budget
      // 8). The oracle replays the walk law as a bounded recursive
      // CTE: resolved rows carry the EXACT chain length, unresolved
      // (cycles) carry the budget and a NULL target.
      WebGraph.resolveRedirects(redirectEdges(T(s, dir, "documents")),
          rounds = 3)
        .orderBy("url")
    }, Some(s"""
      WITH RECURSIVE ${redirectWalkSql(8)}
      SELECT m.u AS url, term.cur AS final_url,
             CAST(coalesce(term.h, 8) AS INT) AS hops,
             term.u IS NOT NULL AS resolved
      FROM m LEFT JOIN term ON term.u = m.u
      ORDER BY url""")),

    Entry("web_canonical", (s, dir) => {
      // rel=canonical extraction (RFC 6596): absolute / root-relative
      // / page-relative / protocol-relative hrefs in all three quote
      // styles and both attribute orders, mixed-case tag and rel
      // value, a non-canonical <link> that must NOT match, a
      // two-canonical page where the FIRST wins, and the rel-token
      // boundary family (data-rel= decoy, a canonical-foo prefix
      // decoy, the token-list rel="alternate canonical"). The oracle
      // replays the identical RE2 chain (tag scan → rel VALUE pull
      // under the quote law → token-boundary match → href quote law →
      // the outlinks resolution law).
      val d = col("doc_id")
      val id = d.cast("string")
      val base = concat(lit("https://www.example.com/dir/page"), id,
        lit(".html"))
      val tag = when(d % 9 === 0, concat(
          lit("<link rel=\"canonical\" href=\"https://c.example.com/x/"),
          id, lit("\">")))
        .when(d % 9 === 1, concat(
          lit("<link href='/canon/"), id, lit("' rel='canonical'>")))
        .when(d % 9 === 2, concat(
          lit("<link rel=canonical href=canon-"), id, lit(".html>")))
        .when(d % 9 === 3, lit("<link rel=\"stylesheet\" href=\"/s.css\">"))
        .when(d % 9 === 4, concat(
          lit("<LINK REL=\"Canonical\" HREF=\"//cdn.example.org/c/"),
          id, lit("\">")))
        .when(d % 9 === 5, concat(
          lit("<link rel=\"canonical\">" +
            "<link rel=\"canonical\" href=\"/first/"), id,
          lit("\"><link rel=\"canonical\" href=\"/second/"), id,
          lit("\">")))
        .when(d % 9 === 6, concat(
          // data-rel must NOT be a declaration (the \srel boundary);
          // the real one later in the page wins
          lit("<link data-rel=\"canonical\" href=\"/decoy/"), id,
          lit("\"><link rel=\"canonical\" href=\"/real/"), id,
          lit("\">")))
        .when(d % 9 === 7, concat(
          // prefix decoy: 'canonical-foo' is some other rel token
          lit("<link rel=\"canonical-foo\" href=\"/nope/"), id,
          lit("\">")))
        .otherwise(concat(
          // token list: canonical among other rel tokens still counts
          lit("<link rel=\"alternate canonical\" href=\"/multi/"), id,
          lit("\">")))
      val html = concat(lit("<html><head><title>T</title>"), tag,
        lit("</head><body><p>Body with <a href=\"/x\">link</a>.</p>" +
          "</body></html>"))
      T(s, dir, "documents").select(d.as("doc_id"),
          WebGraph.canonicalUrl(html, base).as("canonical"))
        .orderBy("doc_id")
    }, Some("""
      WITH h AS (
        SELECT doc_id,
               'https://www.example.com/dir/page' || doc_id || '.html'
                 AS base,
               '<html><head><title>T</title>' ||
               (CASE
                 WHEN doc_id % 9 = 0 THEN
                   '<link rel="canonical" href="https://c.example.com/x/'
                     || doc_id || '">'
                 WHEN doc_id % 9 = 1 THEN
                   '<link href=''/canon/' || doc_id ||
                     ''' rel=''canonical''>'
                 WHEN doc_id % 9 = 2 THEN
                   '<link rel=canonical href=canon-' || doc_id || '.html>'
                 WHEN doc_id % 9 = 3 THEN
                   '<link rel="stylesheet" href="/s.css">'
                 WHEN doc_id % 9 = 4 THEN
                   '<LINK REL="Canonical" HREF="//cdn.example.org/c/'
                     || doc_id || '">'
                 WHEN doc_id % 9 = 5 THEN '<link rel="canonical">' ||
                   '<link rel="canonical" href="/first/' || doc_id ||
                   '"><link rel="canonical" href="/second/' || doc_id ||
                   '">'
                 WHEN doc_id % 9 = 6 THEN
                   '<link data-rel="canonical" href="/decoy/' || doc_id ||
                   '"><link rel="canonical" href="/real/' || doc_id || '">'
                 WHEN doc_id % 9 = 7 THEN
                   '<link rel="canonical-foo" href="/nope/' || doc_id ||
                   '">'
                 ELSE '<link rel="alternate canonical" href="/multi/' ||
                   doc_id || '">' END) ||
               '</head><body><p>Body with <a href="/x">link</a>.</p>' ||
               '</body></html>' AS html
        FROM documents),
      tg AS (SELECT doc_id, base,
                    regexp_extract_all(html, '(?is)<link\b[^>]*>') AS tags
             FROM h),
      cn AS (SELECT doc_id, base,
                    list_filter(tags, t -> regexp_matches(
                      regexp_replace(regexp_extract(t,
                        '(?is)\srel\s*=\s*("[^"]*"|''[^'']*''|[^"''\s/>]+)',
                        1), '^["'']|["'']$', '', 'g'),
                      '(?i)(^|\s)canonical($|\s)')
                      AND regexp_matches(t, '(?is)\shref\s*=')) AS ct
             FROM tg),
      hx AS (SELECT doc_id, base,
                    regexp_replace(regexp_extract(coalesce(ct[1], ''),
                      '(?is)\shref\s*=\s*("[^"#]*|''[^''#]*|[^"''\s>#]+)',
                      1), '^["'']', '') AS hr
             FROM cn),
      ctx AS (SELECT doc_id, hr,
                regexp_extract(base,
                  '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1) AS scheme,
                regexp_extract(base,
                  '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS origin,
                regexp_replace(regexp_replace(base, '[?#].*$', ''),
                  '/[^/]*$', '/') AS dir
              FROM hx)
      SELECT doc_id,
             CASE WHEN regexp_matches(hr,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://') THEN hr
                  WHEN hr LIKE '//%' THEN scheme || ':' || hr
                  WHEN hr LIKE '/%' THEN origin || hr
                  WHEN length(hr) > 0 THEN dir || hr
                  ELSE '' END AS canonical
      FROM ctx ORDER BY doc_id""")),

    Entry("web_contract", (s, dir) => {
      // link-graph contraction through the resolved redirect mapping:
      // the synthetic 2-outlink graph rewritten so every endpoint is
      // its chain's terminal, parallel contracted edges summed into
      // weight, self-loops dropped. Two mapping joins (AQE broadcasts
      // the resolved map) + one edge-keyed partial-agg sum; the
      // oracle replays walk + rewrite + aggregate.
      val docs = T(s, dir, "documents")
      // node count folded in as a broadcast one-row frame — no driver
      // count() job (same convention as web_pagerank)
      val nrow = docs.agg(count(lit(1)).as("__nl"))
      val d = col("doc_id")
      val edges = docs.crossJoin(broadcast(nrow))
        .select(u(d).as("src"),
          explode(array(u(pmod(d * 3, col("__nl"))),
            u(pmod(d * 5 + 1, col("__nl"))))).as("dst"))
      val mapping = WebGraph
        .resolveRedirects(redirectEdges(docs), rounds = 3)
        .filter(col("resolved"))
      WebGraph.contractEdges(edges, mapping)
        .orderBy("src", "dst")
    }, Some(s"""
      WITH RECURSIVE ${redirectWalkSql(8)},
      mp AS (SELECT m.u AS url, term.cur AS fin
             FROM m JOIN term ON term.u = m.u),
      ed AS (
        SELECT 'https://r.example.com/p/' || doc_id AS src,
               'https://r.example.com/p/' ||
                 ((doc_id * 3) % (SELECT count(*) FROM documents)) AS dst
        FROM documents
        UNION ALL
        SELECT 'https://r.example.com/p/' || doc_id,
               'https://r.example.com/p/' ||
                 ((doc_id * 5 + 1) % (SELECT count(*) FROM documents))
        FROM documents),
      rw AS (SELECT coalesce(m1.fin, ed.src) AS src,
                    coalesce(m2.fin, ed.dst) AS dst
             FROM ed LEFT JOIN mp m1 ON m1.url = ed.src
                     LEFT JOIN mp m2 ON m2.url = ed.dst)
      SELECT src, dst, count(*) AS weight
      FROM rw WHERE src <> dst
      GROUP BY src, dst ORDER BY src, dst""")),

    Entry("web_host_graph", (s, dir) => {
      // page graph → registered-domain graph: cross-domain page edges
      // collapse onto (domain, domain) with weights, intra-domain
      // edges (site navigation) drop, unparseable endpoints drop, and
      // co.uk hosts exercise the 3-label suffix slice. One collapsed-
      // key aggregate; the projection is per-row codegen.
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 5).cast("string")
      val j = ((d * 3 + 1) % 5).cast("string")
      val docs = T(s, dir, "documents")
      val srcU = concat(lit("https://h"), k, lit(".ex"), k,
        lit(".com/p/"), id)
      val a = docs.select(srcU.as("src"),
        concat(lit("https://w.ex"), j, lit(".com/q/"),
          (d % 50).cast("string")).as("dst"))
      val b = docs.filter(d % 3 === 0).select(srcU.as("src"),
        concat(lit("https://a.site"), (d % 2).cast("string"),
          lit(".co.uk/a/"), id).as("dst"))
      val c = docs.filter(d % 17 === 0)
        .select(srcU.as("src"), lit("not a url").as("dst"))
      WebGraph.hostGraph(a.unionByName(b).unionByName(c),
          byRegisteredDomain = true)
        .orderBy("src", "dst")
    }, Some(s"""
      WITH ed AS (
        SELECT 'https://h' || (doc_id % 5) || '.ex' || (doc_id % 5) ||
                 '.com/p/' || doc_id AS src,
               'https://w.ex' || ((doc_id * 3 + 1) % 5) || '.com/q/' ||
                 (doc_id % 50) AS dst
        FROM documents
        UNION ALL
        SELECT 'https://h' || (doc_id % 5) || '.ex' || (doc_id % 5) ||
                 '.com/p/' || doc_id,
               'https://a.site' || (doc_id % 2) || '.co.uk/a/' || doc_id
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT 'https://h' || (doc_id % 5) || '.ex' || (doc_id % 5) ||
                 '.com/p/' || doc_id, 'not a url'
        FROM documents WHERE doc_id % 17 = 0),
      hs AS (SELECT ${hostOfSql("ed.src")} AS sh,
                    ${hostOfSql("ed.dst")} AS dh
             FROM ed),
      dm AS (SELECT ${domainOfSql("sh")} AS src,
                    ${domainOfSql("dh")} AS dst
             FROM hs)
      SELECT src, dst, count(*) AS weight
      FROM dm
      WHERE length(src) > 0 AND length(dst) > 0 AND src <> dst
      GROUP BY src, dst ORDER BY src, dst""")),

    Entry("web_host_weights", (s, dir) => {
      // weight propagation through COMPOSED graph collapses: pages
      // with '-alt' spellings contract onto their base page (parallel
      // edges summing into weight), then the host graph SUMS those
      // contracted weights — page-level edge multiplicity must reach
      // the host weights, not reset to contracted-edge counts. The
      // oracle replays rewrite → count → host collapse → sum; a
      // count(1) re-aggregation anywhere in the chain changes the
      // weights and the hash catches it.
      val d = col("doc_id")
      val k = (d % 5).cast("string")
      val j = ((d * 3 + 1) % 5).cast("string")
      val docs = T(s, dir, "documents")
      val sBase = concat(lit("https://h"), k, lit(".ex.com/s/"),
        (d % 8).cast("string"))
      val src = when(d % 2 === 0, sBase)
        .otherwise(concat(sBase, lit("-alt")))
      val dst = concat(lit("https://w"), j, lit(".ex.org/t/"),
        (d % 6).cast("string"))
      val edges = docs.select(src.as("src"), dst.as("dst"))
      val mapping = docs
        .select(concat(sBase, lit("-alt")).as("url"),
          sBase.as("final_url")).distinct()
      val contracted = WebGraph.contractEdges(edges, mapping)
      WebGraph.hostGraph(contracted).orderBy("src", "dst")
    }, Some(s"""
      WITH ed AS (
        SELECT CASE WHEN doc_id % 2 = 0
                 THEN 'https://h' || (doc_id % 5) || '.ex.com/s/' ||
                      (doc_id % 8)
                 ELSE 'https://h' || (doc_id % 5) || '.ex.com/s/' ||
                      (doc_id % 8) || '-alt' END AS src,
               'https://w' || ((doc_id * 3 + 1) % 5) || '.ex.org/t/' ||
                 (doc_id % 6) AS dst
        FROM documents),
      rw AS (SELECT regexp_replace(src, '-alt$$', '') AS src, dst
             FROM ed),
      ct AS (SELECT src, dst, count(*) AS w
             FROM rw WHERE src <> dst GROUP BY src, dst),
      hg AS (SELECT ${hostOfSql("src")} AS sh,
                    ${hostOfSql("dst")} AS dh, w
             FROM ct)
      SELECT sh AS src, dh AS dst, CAST(sum(w) AS BIGINT) AS weight
      FROM hg
      WHERE length(sh) > 0 AND length(dh) > 0 AND sh <> dh
      GROUP BY sh, dh ORDER BY src, dst""")),

    Entry("web_trustrank", (s, dir) => {
      // TrustRank (Gyöngyi et al. 2004) over the web_pagerank graph
      // with every 11th node a trusted seed: 3 iterations of
      // t = (1-d)·v + d·(Aᵀt + mass·v) where v is uniform over seeds
      // and the dangling mass redistributes to the SEEDS — nodes no
      // seed reaches stay at exactly 0. The oracle unrolls the three
      // iterations (the web_pagerank convention); ranks emit n-scaled
      // and rounded.
      val docs = T(s, dir, "documents")
      // node count folded in as a broadcast one-row frame — no driver
      // count() job (same convention as web_pagerank)
      val nrow = docs.agg(count(lit(1)).as("__nl"))
      val d = col("doc_id")
      val nodes = docs.select(d.as("id"))
      val dsts = array(
        pmod(d * 3, col("__nl")),
        pmod(d * 5 + 1, col("__nl")),
        pmod(d * 7 + 2, col("__nl")))
      val edges = docs.filter(d % 7 =!= 0)
        .crossJoin(broadcast(nrow))
        .select(d.as("src"), explode(dsts).as("dst"))
      val seeds = docs.filter(d % 11 === 0).select(d.as("id"))
      WebGraph.trustRank(nodes, edges, seeds, iters = 3, d = 0.85)
        .crossJoin(broadcast(nrow))
        .select(col("id"),
          round(col("trustrank") * col("__nl").cast("double"), 6)
            .as("tr_scaled"))
        .orderBy("id")
    }, Some(s"""
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      e0 AS (SELECT doc_id AS src,
                    unnest([(doc_id * 3) % (SELECT count(*) FROM documents),
                            (doc_id * 5 + 1) % (SELECT count(*) FROM documents),
                            (doc_id * 7 + 2) % (SELECT count(*) FROM documents)])
                      AS dst
             FROM documents WHERE doc_id % 7 <> 0),
      e AS (SELECT DISTINCT src, dst FROM e0),
      deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
              FROM e GROUP BY src),
      tv AS (SELECT id,
                    CASE WHEN id % 11 = 0 THEN 1.0 /
                      (SELECT count(*) FROM nodes WHERE id % 11 = 0)
                      ELSE 0.0 END AS v
             FROM nodes),
      t0 AS (SELECT id, v AS tr FROM tv),
      ${Seq(1, 2, 3).map(trStepSql).mkString(",\n      ")}
      SELECT nodes.id,
             round(t3.tr * (SELECT n FROM nn), 6) AS tr_scaled
      FROM nodes JOIN t3 ON t3.id = nodes.id
      ORDER BY nodes.id""")),

    Entry("crawl_traps", (s, dir) => {
      // crawler-trap detection: a calendar family (84 distinct URLs,
      // one template), a hex-object family and a session-style query
      // family blow past the per-template fanout cap while 40 small
      // per-host /about/ buckets stay under it. The template law —
      // hex runs before digit runs before query values — replays in
      // the oracle verbatim.
      val d = col("doc_id")
      val id = d.cast("string")
      val urls = T(s, dir, "documents").select(explode(array(
        concat(lit("https://trap.ex.com/cal/2026/"),
          (d % 12 + 1).cast("string"), lit("/"),
          (d % 28 + 1).cast("string")),
        concat(lit("https://ok.ex"), (d % 40).cast("string"),
          lit(".com/about/"), id),
        concat(lit("https://cdn.ex.com/obj/deadbeef"), id),
        concat(lit("https://srch.ex.com/find?q=term"),
          (d % 300).cast("string"), lit("&page="),
          (d % 7).cast("string")))).as("url"))
      CrawlFrontier.trapTemplates(urls, maxPerTemplate = 50)
        .orderBy("host", "template")
    }, Some(s"""
      WITH u AS (
        SELECT unnest([
          'https://trap.ex.com/cal/2026/' || (doc_id % 12 + 1) || '/' ||
            (doc_id % 28 + 1),
          'https://ok.ex' || (doc_id % 40) || '.com/about/' || doc_id,
          'https://cdn.ex.com/obj/deadbeef' || doc_id,
          'https://srch.ex.com/find?q=term' || (doc_id % 300) ||
            '&page=' || (doc_id % 7)]) AS url
        FROM documents),
      t AS (SELECT url,
              regexp_extract(lower(url),
                '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
                1) AS host,
              regexp_extract(url,
                '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1) AS p
            FROM u),
      tpl AS (SELECT url, host,
                ${templateSql("host", "p")} AS template
              FROM t WHERE length(host) > 0)
      SELECT host, template, count(DISTINCT url) AS n_urls
      FROM tpl GROUP BY host, template
      HAVING count(DISTINCT url) > 50
      ORDER BY host, template""")),

    Entry("crawl_trap_gate", (s, dir) => {
      // the admission gate: templates flagged over the SEEN URL set
      // drop matching DISCOVERED URLs (a different calendar year
      // still matches the trap's template — that is the point), while
      // under-cap families and fresh hosts pass. Template-keyed
      // anti-join against the tiny flagged set (broadcast).
      val d = col("doc_id")
      val id = d.cast("string")
      val docs = T(s, dir, "documents")
      val seen = docs.select(explode(array(
        concat(lit("https://trap.ex.com/cal/2026/"),
          (d % 12 + 1).cast("string"), lit("/"),
          (d % 28 + 1).cast("string")),
        concat(lit("https://ok.ex"), (d % 40).cast("string"),
          lit(".com/about/"), id),
        concat(lit("https://cdn.ex.com/obj/deadbeef"), id))).as("url"))
      val traps = CrawlFrontier.trapTemplates(seen, maxPerTemplate = 50)
      val discovered = docs.select(explode(array(
        concat(lit("https://trap.ex.com/cal/2027/"),
          (d % 12 + 1).cast("string"), lit("/"),
          (d % 28 + 1).cast("string")),
        concat(lit("https://ok.ex"), (d % 40).cast("string"),
          lit(".com/about/"), (d + 1000).cast("string")),
        concat(lit("https://cdn.ex.com/obj/cafebabe"), id),
        concat(lit("https://new.ex.com/fresh/"), id))).as("url"))
      CrawlFrontier.filterTraps(discovered, traps)
        .orderBy("url")
    }, Some(s"""
      WITH seen AS (
        SELECT unnest([
          'https://trap.ex.com/cal/2026/' || (doc_id % 12 + 1) || '/' ||
            (doc_id % 28 + 1),
          'https://ok.ex' || (doc_id % 40) || '.com/about/' || doc_id,
          'https://cdn.ex.com/obj/deadbeef' || doc_id]) AS url
        FROM documents),
      disc AS (
        SELECT unnest([
          'https://trap.ex.com/cal/2027/' || (doc_id % 12 + 1) || '/' ||
            (doc_id % 28 + 1),
          'https://ok.ex' || (doc_id % 40) || '.com/about/' ||
            (doc_id + 1000),
          'https://cdn.ex.com/obj/cafebabe' || doc_id,
          'https://new.ex.com/fresh/' || doc_id]) AS url
        FROM documents),
      tp AS (SELECT url,
               regexp_extract(lower(url),
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
                 1) AS host,
               regexp_extract(url,
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1) AS p
             FROM seen),
      tpl AS (SELECT url, host,
                ${templateSql("host", "p")} AS template
              FROM tp WHERE length(host) > 0),
      flagged AS (SELECT template FROM tpl
                  GROUP BY host, template
                  HAVING count(DISTINCT url) > 50),
      dp AS (SELECT url,
               regexp_extract(lower(url),
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
                 1) AS h0,
               regexp_extract(url,
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1) AS p0
             FROM disc),
      dt AS (SELECT url,
               ${templateSql("h0", "p0")} AS template
             FROM dp)
      SELECT dt.url FROM dt
      LEFT JOIN flagged f ON f.template = dt.template
      WHERE f.template IS NULL
      ORDER BY dt.url""")),

    Entry("web_mirrors", (s, dir) => {
      // mirror-site detection — two mirror pairs at 80% and 70%
      // fingerprint overlap (both flag), a 10%-overlap pair and a
      // no-overlap solo host (both stay silent), and a boilerplate
      // fingerprint on 102 hosts that the fanout cap excludes from
      // evidence while still counting in set sizes (the conservative
      // under-estimate the Scaladoc documents). The oracle replays
      // distinct → fanout cap → capped self-join → Jaccard verbatim.
      val d = col("doc_id")
      val id = d.cast("string")
      val docs = T(s, dir, "documents")
      def pg(host: String, fp: Column) = docs.select(
        concat(lit(s"https://$host/p/"), id).as("url"),
        fp.as("fingerprint"))
      val pages = pg("m1.ex.com", concat(lit("c"), id))
        .unionByName(pg("m2.ex.com", when(d % 5 === 0,
          concat(lit("x"), id)).otherwise(concat(lit("c"), id))))
        .unionByName(pg("m3.ex.com", concat(lit("d"), id)))
        .unionByName(pg("m4.ex.com", when(d % 10 === 0,
          concat(lit("d"), id)).otherwise(concat(lit("y"), id))))
        .unionByName(pg("m5.ex.com", concat(lit("e"), id)))
        .unionByName(pg("m6.ex.com", when(d % 10 < 7,
          concat(lit("e"), id)).otherwise(concat(lit("z"), id))))
        .unionByName(pg("solo.ex.com", concat(lit("s"), id)))
        .unionByName(docs.select(
          concat(lit("https://b"), (d % 100).cast("string"),
            lit(".ex.com/p/"), id).as("url"),
          lit("boiler").as("fingerprint")))
        .unionByName(docs.select(
          lit("https://m1.ex.com/boiler").as("url"),
          lit("boiler").as("fingerprint")))
        .unionByName(docs.select(
          lit("https://m2.ex.com/boiler").as("url"),
          lit("boiler").as("fingerprint")))
      WebGraph.mirrorHosts(pages, minShared = 2, minJaccard = 0.5,
          maxHostsPerFp = 64)
        .select(col("host_a"), col("host_b"), col("shared"),
          col("n_a"), col("n_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("host_a", "host_b")
    }, Some(s"""
      WITH pg AS (
        SELECT 'https://m1.ex.com/p/' || doc_id AS url,
               'c' || doc_id AS fp FROM documents
        UNION ALL
        SELECT 'https://m2.ex.com/p/' || doc_id,
               CASE WHEN doc_id % 5 = 0 THEN 'x' || doc_id
                    ELSE 'c' || doc_id END FROM documents
        UNION ALL
        SELECT 'https://m3.ex.com/p/' || doc_id, 'd' || doc_id
        FROM documents
        UNION ALL
        SELECT 'https://m4.ex.com/p/' || doc_id,
               CASE WHEN doc_id % 10 = 0 THEN 'd' || doc_id
                    ELSE 'y' || doc_id END FROM documents
        UNION ALL
        SELECT 'https://m5.ex.com/p/' || doc_id, 'e' || doc_id
        FROM documents
        UNION ALL
        SELECT 'https://m6.ex.com/p/' || doc_id,
               CASE WHEN doc_id % 10 < 7 THEN 'e' || doc_id
                    ELSE 'z' || doc_id END FROM documents
        UNION ALL
        SELECT 'https://solo.ex.com/p/' || doc_id, 's' || doc_id
        FROM documents
        UNION ALL
        SELECT 'https://b' || (doc_id % 100) || '.ex.com/p/' || doc_id,
               'boiler' FROM documents
        UNION ALL
        SELECT 'https://m1.ex.com/boiler', 'boiler' FROM documents
        UNION ALL
        SELECT 'https://m2.ex.com/boiler', 'boiler' FROM documents),
      h AS (SELECT DISTINCT ${hostOfSql("url")} AS host, fp FROM pg),
      hh AS (SELECT host, fp FROM h WHERE length(host) > 0),
      sizes AS (SELECT host, count(*) AS n FROM hh GROUP BY host),
      fan AS (SELECT fp FROM hh GROUP BY fp HAVING count(*) <= 64),
      ev AS (SELECT hh.host, hh.fp FROM hh JOIN fan USING (fp)),
      pairs AS (SELECT a.host AS host_a, b.host AS host_b,
                       count(*) AS shared
                FROM ev a JOIN ev b
                  ON a.fp = b.fp AND a.host < b.host
                GROUP BY a.host, b.host),
      j AS (SELECT host_a, host_b, shared, sa.n AS n_a, sb.n AS n_b,
                   CAST(shared AS DOUBLE) /
                     CAST(sa.n + sb.n - shared AS DOUBLE) AS jac
            FROM pairs
            JOIN sizes sa ON sa.host = pairs.host_a
            JOIN sizes sb ON sb.host = pairs.host_b)
      SELECT host_a, host_b, shared, n_a, n_b, round(jac, 6) AS jaccard
      FROM j WHERE shared >= 2 AND jac >= 0.5
      ORDER BY host_a, host_b""")),

    Entry("text_dot_segments", (s, dir) => {
      // RFC 3986 remove_dot_segments — the canonicalization stage
      // normalizeUrl documents away: ./ and nested ../ collapse,
      // above-root ../ absorbs at the origin, a trailing /.. keeps
      // its slash (the RFC's own output), dot-shaped QUERY values
      // pass through untouched, and dotfile segments (.well-known)
      // are not dot segments. The oracle replays the identical
      // split + 12-pass global-replace chain.
      import graft.functions.UrlOps
      val d = col("doc_id")
      val id = d.cast("string")
      val u = when(d % 6 === 0,
          concat(lit("https://d.ex.com/a/./b/../c/p"), id))
        .when(d % 6 === 1, concat(lit("https://d.ex.com/x/y/../../z"), id))
        .when(d % 6 === 2, concat(lit("https://d.ex.com/../up"), id))
        .when(d % 6 === 3, concat(lit("https://d.ex.com/a"), id,
          lit("/b/..")))
        .when(d % 6 === 4, concat(lit("https://d.ex.com/a/../b?next=../up&i="),
          id))
        .otherwise(concat(lit("https://d.ex.com/.well-known/x"), id))
      T(s, dir, "documents").select(d.as("doc_id"), u.as("url"),
          UrlOps.removeDotSegments(u).as("normalized"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH x AS (
        SELECT doc_id,
          CASE WHEN doc_id % 6 = 0 THEN
                 'https://d.ex.com/a/./b/../c/p' || doc_id
               WHEN doc_id % 6 = 1 THEN
                 'https://d.ex.com/x/y/../../z' || doc_id
               WHEN doc_id % 6 = 2 THEN 'https://d.ex.com/../up' || doc_id
               WHEN doc_id % 6 = 3 THEN
                 'https://d.ex.com/a' || doc_id || '/b/..'
               WHEN doc_id % 6 = 4 THEN
                 'https://d.ex.com/a/../b?next=../up&i=' || doc_id
               ELSE 'https://d.ex.com/.well-known/x' || doc_id END AS url
        FROM documents)
      SELECT doc_id, url, ${dotSegSql("url")} AS normalized
      FROM x ORDER BY doc_id""")),

    Entry("text_soft404", (s, dir) => {
      // soft-404 detection over stripped page text: short error shells
      // in the standard phrase family flag, a LONG page quoting '404'
      // does not (content, not an error), a short page with no error
      // phrase does not, the phrase must sit in the first 200 chars
      // (boilerplate headers put it there; a trailing footer mention
      // is not an error shell), and the NUMERIC form needs error
      // context — a short page with a bare '404' (street address,
      // product name) must NOT flag, but PROXIMITY counts (r18):
      // punctuation-separated shells ('404 — Not Found',
      // 'Error… (404)') flag, because \W bridges punctuation and
      // never words. The oracle replays the exact regex + both
      // thresholds.
      import graft.functions.TextExtraction
      val d = col("doc_id")
      val id = d.cast("string")
      val text = when(d % 10 === 0,
          concat(lit("Error: page not found. The resource "), id,
            lit(" is gone.")))
        .when(d % 10 === 1,
          concat(lit("HTTP 404 - this page does not exist ("), id,
            lit(")")))
        .when(d % 10 === 2, concat(lit("short fine page "), id))
        .when(d % 10 === 3,
          // long article ABOUT 404s: phrase present, length >= 500
          concat(lit("A history of the 404 status code. "),
            lit(("The error code has a long story. " * 20)), id))
        .when(d % 10 === 4,
          // error phrase but BEYOND the 200-char window
          concat(lit("x" * 210), lit(" page not found "), id))
        .when(d % 10 === 5,
          // bare number, no error context — a street address is not
          // an error shell (words break the proximity bridge)
          concat(lit("Visit us at 404 Main Street, office "), id))
        .when(d % 10 === 6,
          // punctuation-separated numeric shell: flags via proximity
          concat(lit("404 -- Not Found ("), id, lit(")")))
        .when(d % 10 === 7,
          // reversed order, parenthesized: 'Error. (404)' flags too
          concat(lit("Error. (404) page "), id))
        .when(d % 10 === 8,
          // a URL MENTION is not an error context: 'http' must not
          // bridge '://' into the number (the r18 review's hole)
          concat(lit("See http://404.example.com for details "), id))
        .otherwise(
          // the contextual numeric form flags
          concat(lit("error 404: nothing here ("), id, lit(")")))
      T(s, dir, "documents")
        .select(d.as("doc_id"),
          TextExtraction.isSoft404(text).as("soft404"),
          length(text).cast("int").as("n_chars"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 = 0 THEN
                 'Error: page not found. The resource ' || doc_id ||
                   ' is gone.'
               WHEN doc_id % 10 = 1 THEN
                 'HTTP 404 - this page does not exist (' || doc_id || ')'
               WHEN doc_id % 10 = 2 THEN 'short fine page ' || doc_id
               WHEN doc_id % 10 = 3 THEN
                 'A history of the 404 status code. ' ||
                   repeat('The error code has a long story. ', 20) ||
                   doc_id
               WHEN doc_id % 10 = 4 THEN
                 repeat('x', 210) || ' page not found ' || doc_id
               WHEN doc_id % 10 = 5 THEN
                 'Visit us at 404 Main Street, office ' || doc_id
               WHEN doc_id % 10 = 6 THEN
                 '404 -- Not Found (' || doc_id || ')'
               WHEN doc_id % 10 = 7 THEN
                 'Error. (404) page ' || doc_id
               WHEN doc_id % 10 = 8 THEN
                 'See http://404.example.com for details ' || doc_id
               ELSE 'error 404: nothing here (' || doc_id || ')'
               END AS text
        FROM documents)
      SELECT doc_id,
             (regexp_matches(lower(substr(text, 1, 200)),
                'page not found|(error|not found)\W{0,12}404|' ||
                'http[\s:]{0,8}404|' ||
                '404\W{0,12}(error|not found)|no longer available|' ||
                'does not exist|page cannot be found|page unavailable')
              AND length(text) < 500) AS soft404,
             CAST(length(text) AS INT) AS n_chars
      FROM t ORDER BY doc_id""")),

    Entry("web_redirect_ingest", (s, dir) => {
      // the fetch→redirect glue END TO END from real shards: 301s
      // (chains, some landing on a 302 self-loop — unresolvable) and
      // 200s written with status + Location through toShardsRaw, read
      // back via the decoded face, the 3xx rows' (uri, Location)
      // pairs fed to pointer doubling. Locations are written
      // ROOT-RELATIVE (RFC 9110 allows relative Location and the real
      // web uses it constantly) and resolved against the request URI
      // at edge building — skip the resolution and every edge's dst
      // is '/p/N', nothing terminates, and the hash catches it. The
      // oracle replays the edge contract and the bounded walk — the
      // WARC hop is the identity text_warc_roundtrip pins.
      import graft.io.Warc
      val d = col("doc_id")
      def w(e: Column) = concat(lit("https://rd.ex.com/p/"),
        e.cast("string"))
      val pages = T(s, dir, "documents").select(
        w(d).as("url"),
        when(d % 3 === 0 || d % 9 === 4, lit(Array.empty[Byte]))
          .otherwise(concat(lit("ok "), d.cast("string")).cast("binary"))
          .as("body"),
        lit("text/html").as("content_type"),
        when(d % 3 === 0, lit(301)).when(d % 9 === 4, lit(302))
          .otherwise(lit(200)).as("status"),
        when(d % 3 === 0, concat(lit("/p/"), (d + 1).cast("string")))
          .when(d % 9 === 4, concat(lit("/p/"), d.cast("string")))
          .as("location"))
      val fetched = Warc.fromShardsDecoded(
        Warc.toShardsRaw(pages.repartition(4)))
      val edges = fetched
        .filter(col("http_status") >= 300 && col("http_status") < 400 &&
          length(col("location")) > 0)
        .select(col("target_uri").as("src"),
          WebGraph.resolveUrl(col("location"), col("target_uri"))
            .as("dst"))
      WebGraph.resolveRedirects(edges, rounds = 3)
        .orderBy("url")
    }, Some(s"""
      WITH RECURSIVE e0 AS (
        SELECT 'https://rd.ex.com/p/' || doc_id AS src,
               'https://rd.ex.com/p/' ||
                 (CASE WHEN doc_id % 3 = 0 THEN doc_id + 1
                       ELSE doc_id END) AS dst
        FROM documents WHERE doc_id % 3 = 0 OR doc_id % 9 = 4),
      m AS (SELECT src AS u, min(dst) AS v FROM e0 GROUP BY src),
      walk AS (
        SELECT u, v AS cur, 1 AS h FROM m
        UNION ALL
        SELECT w.u, m.v, w.h + 1 FROM walk w JOIN m ON m.u = w.cur
        WHERE w.h < 8),
      term AS (SELECT w.u, w.cur, w.h FROM walk w
               LEFT JOIN m ON m.u = w.cur WHERE m.u IS NULL)
      SELECT m.u AS url, term.cur AS final_url,
             CAST(coalesce(term.h, 8) AS INT) AS hops,
             term.u IS NOT NULL AS resolved
      FROM m LEFT JOIN term ON term.u = m.u
      ORDER BY url""")),

    Entry("web_nofollow", (s, dir) => {
      // the Robots Exclusion Protocol's page- and link-level layers:
      // <meta name=robots> in both attribute orders and quote styles
      // plus 'none' shorthand, an X-Robots-Tag header value, a DECOY
      // meta (name="robotsx") that must not match, a decoy token
      // ('noindexing') that must not flag, and anchors whose
      // rel=nofollow (among other tokens, any quote style) drop from
      // the followed edge set while plain and rel="external" anchors
      // survive. The oracle replays the fixture contract — a law slip
      // anywhere flips a flag or a count and the hash catches it.
      import graft.functions.TextExtraction
      val d = col("doc_id")
      val id = d.cast("string")
      val base = concat(lit("https://n.ex"), (d % 5).cast("string"),
        lit(".com/p/"), id)
      val meta = when(d % 4 === 0,
          lit("<meta name=\"robots\" content=\"noindex, follow\">"))
        .when(d % 4 === 1, lit("<meta content='nofollow' name='robots'>"))
        .when(d % 4 === 2, lit("<meta name=\"robots\" content=\"none\">"))
        .otherwise(lit("<meta name=\"robotsx\" content=\"noindex\">"))
      val html = concat(lit("<html><head>"), meta, lit("</head><body>"),
        lit("<a href=\"/f/"), ((d * 3) % 40).cast("string"),
        lit("\">one</a>"),
        lit("<a rel=\"nofollow noopener\" href=\"/g/"), id,
        lit("\">two</a>"),
        lit("<a href='/h/"), (d % 9).cast("string"),
        lit("' rel=nofollow>three</a>"),
        lit("<a rel=\"external\" href=\"/k/"), (d % 11).cast("string"),
        lit("\">four</a>"),
        lit("</body></html>"))
      val xrobots = concat_ws(",",
        when(d % 7 === 0, lit("nofollow")),
        when(d % 11 === 0, lit("noindexing")))
      val flags = TextExtraction.robotsFlags(concat_ws(",",
        TextExtraction.robotsMetaContent(html), xrobots))
      T(s, dir, "documents").select(d.as("doc_id"),
          flags("noindex").as("noindex"),
          flags("nofollow").as("nofollow"),
          size(WebGraph.outlinks(html, base)).as("n_all"),
          size(WebGraph.followedOutlinks(html, base)).as("n_followed"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
             (doc_id % 4 = 0 OR doc_id % 4 = 2) AS noindex,
             (doc_id % 4 = 1 OR doc_id % 4 = 2 OR doc_id % 7 = 0)
               AS nofollow,
             CAST(4 AS INT) AS n_all,
             CAST(2 AS INT) AS n_followed
      FROM documents ORDER BY doc_id""")),

    Entry("web_anchor_bm25", (s, dir) => {
      // anchor text as a RETRIEVAL field (the classic ranking signal:
      // inlink anchors describe the target better than its own
      // boilerplate): extract (target, anchor) pairs from every page,
      // concatenate each target's inlink anchors into its anchor
      // document — BM25 is bag-of-words, so the nondeterministic
      // collect order cannot move a score — and run Okapi BM25 top-5
      // for four query strings over the anchor corpus. The oracle
      // replays the pair CONTRACT (the web_anchor_text convention;
      // extraction is oracle-proven in web_outlinks/web_anchor_text)
      // and the FULL BM25 law in the ann_bm25_topk spelling.
      import s.implicits._
      import graft.operators.{Lexical, WebGraph}
      val d = col("doc_id")
      val id = d.cast("string")
      val base = concat(lit("https://s"), (d % 5).cast("string"),
        lit(".example/p/"), id)
      val html = concat(
        lit("<p><a href=\"/t/"), ((d * 3) % 40).cast("string"),
        lit("\">topic <b>"), (d % 7).cast("string"),
        lit("</b></a> and <a href=\"/t/"),
        ((d * 5 + 1) % 40).cast("string"),
        lit("\">guide &amp; notes</a> <a href='/t/"),
        ((d * 11 + 2) % 40).cast("string"),
        lit("'>deep dive</a></p>"))
      val anchorDocs = T(s, dir, "documents")
        .select(explode(WebGraph.anchorTexts(html, base)).as("a"))
        .select(col("a.link").as("target"), col("a.text").as("anchor"))
        .groupBy(col("target"))
        .agg(concat_ws(" ", collect_list(col("anchor"))).as("text"))
      val queries = Seq((1, "topic 3"), (2, "guide notes"),
        (3, "deep dive"), (4, "plain missing words"))
        .toDF("qid", "text")
      Lexical.bm25TopK(queries, anchorDocs, k = 5,
          qId = "qid", cId = "target")
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH pg AS (
        SELECT doc_id,
          'https://s' || (doc_id % 5) || '.example' AS origin,
          '/t/' || ((doc_id * 3) % 40) AS l1,
          'topic ' || (doc_id % 7) AS t1,
          '/t/' || ((doc_id * 5 + 1) % 40) AS l2,
          'guide & notes' AS t2,
          '/t/' || ((doc_id * 11 + 2) % 40) AS l3,
          'deep dive' AS t3
        FROM documents),
      pairs AS (
        SELECT origin || l1 AS target, t1 AS anchor FROM pg
        UNION ALL
        SELECT origin || l2 AS target, t2 AS anchor FROM pg
        UNION ALL
        SELECT origin || l3 AS target, t3 AS anchor FROM pg),
      corp AS (SELECT target AS nid, string_agg(anchor, ' ') AS text
               FROM pairs GROUP BY target),
      qs AS (SELECT * FROM (VALUES (1, 'topic 3'), (2, 'guide notes'),
               (3, 'deep dive'), (4, 'plain missing words'))
               AS v(qid, text)),
      post AS (SELECT nid, t AS term, count(*) AS tf FROM (
                 SELECT nid, unnest(regexp_extract_all(lower(text),
                   '[a-z0-9]+')) AS t FROM corp)
               GROUP BY nid, t),
      dls AS (SELECT nid, sum(tf) AS dl FROM post GROUP BY nid),
      stats AS (SELECT count(*) AS n_docs,
                       avg(coalesce(dl, 0)) AS avgdl
                FROM corp LEFT JOIN dls USING (nid)),
      idf AS (SELECT term,
                     ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf,
                     avgdl
              FROM (SELECT term, count(DISTINCT nid) AS df FROM post
                    GROUP BY term)
              CROSS JOIN stats),
      qt AS (SELECT DISTINCT qid, t AS term FROM (
               SELECT qid, unnest(regexp_extract_all(lower(text),
                 '[a-z0-9]+')) AS t FROM qs)),
      contrib AS (SELECT qt.qid, post.nid,
                         idf.idf * (post.tf * (1.2 + 1.0)) /
                           (post.tf + 1.2 * ((1.0 - 0.75) +
                             0.75 * CAST(dls.dl AS DOUBLE) / idf.avgdl))
                           AS c
                  FROM post JOIN qt USING (term) JOIN idf USING (term)
                  JOIN dls USING (nid)),
      sc AS (SELECT qid, nid, round(sum(c), 6) AS score
             FROM contrib GROUP BY qid, nid),
      ranked AS (SELECT qid, nid, score, row_number() OVER (
                   PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
                 FROM sc)
      SELECT qid, nid, CAST(rank AS INT) AS rank, score FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("web_mirror_dedup", (s, dir) => {
      // the composed mirror gate: detect pairs over the web_mirrors
      // corpus, then drop the dominated hosts' documents — m2, m6 (the
      // flagged pairs' host_b) lose their pages, everything else
      // survives intact. Emitted as per-host survivor counts so the
      // hash checks both directions of the gate.
      val d = col("doc_id")
      val id = d.cast("string")
      val docs = T(s, dir, "documents")
      def pg(host: String, fp: Column) = docs.select(
        concat(lit(s"https://$host/p/"), id).as("url"),
        fp.as("fingerprint"))
      // the page corpus feeds mirror DETECTION and the drop gate —
      // materialize the 5-way union once instead of inlining it into
      // both consumers (the detection side alone re-read it per
      // internal reference before mirrorHosts grew its own cut)
      val pages = pg("m1.ex.com", concat(lit("c"), id))
        .unionByName(pg("m2.ex.com", when(d % 5 === 0,
          concat(lit("x"), id)).otherwise(concat(lit("c"), id))))
        .unionByName(pg("m5.ex.com", concat(lit("e"), id)))
        .unionByName(pg("m6.ex.com", when(d % 10 < 7,
          concat(lit("e"), id)).otherwise(concat(lit("z"), id))))
        .unionByName(pg("solo.ex.com", concat(lit("s"), id)))
        .localCheckpoint(true)
      val mirrors = WebGraph.mirrorHosts(pages, minShared = 2,
        minJaccard = 0.5, maxHostsPerFp = 64)
      import graft.functions.UrlOps
      WebGraph.dropMirroredDocs(pages, mirrors)
        .groupBy(UrlOps.hostOf(col("url")).as("host"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("host")
    }, Some(s"""
      WITH pg AS (
        SELECT 'https://m1.ex.com/p/' || doc_id AS url,
               'c' || doc_id AS fp FROM documents
        UNION ALL
        SELECT 'https://m2.ex.com/p/' || doc_id,
               CASE WHEN doc_id % 5 = 0 THEN 'x' || doc_id
                    ELSE 'c' || doc_id END FROM documents
        UNION ALL
        SELECT 'https://m5.ex.com/p/' || doc_id, 'e' || doc_id
        FROM documents
        UNION ALL
        SELECT 'https://m6.ex.com/p/' || doc_id,
               CASE WHEN doc_id % 10 < 7 THEN 'e' || doc_id
                    ELSE 'z' || doc_id END FROM documents
        UNION ALL
        SELECT 'https://solo.ex.com/p/' || doc_id, 's' || doc_id
        FROM documents),
      h AS (SELECT DISTINCT ${hostOfSql("url")} AS host, fp FROM pg),
      hh AS (SELECT host, fp FROM h WHERE length(host) > 0),
      sizes AS (SELECT host, count(*) AS n FROM hh GROUP BY host),
      fan AS (SELECT fp FROM hh GROUP BY fp HAVING count(*) <= 64),
      ev AS (SELECT hh.host, hh.fp FROM hh JOIN fan USING (fp)),
      pairs AS (SELECT a.host AS host_a, b.host AS host_b,
                       count(*) AS shared
                FROM ev a JOIN ev b ON a.fp = b.fp AND a.host < b.host
                GROUP BY a.host, b.host),
      j AS (SELECT host_b FROM pairs
            JOIN sizes sa ON sa.host = pairs.host_a
            JOIN sizes sb ON sb.host = pairs.host_b
            WHERE shared >= 2 AND
              CAST(shared AS DOUBLE) /
                CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.5),
      kept AS (SELECT ${hostOfSql("pg.url")} AS host FROM pg
               LEFT JOIN (SELECT DISTINCT host_b FROM j) dom
                 ON dom.host_b = ${hostOfSql("pg.url")}
               WHERE dom.host_b IS NULL)
      SELECT host, count(*) AS n_docs
      FROM kept GROUP BY host ORDER BY host""")),

    Entry("text_wet_roundtrip", (s, dir) => {
      // WET (the extracted-text derived format CommonCrawl ships next
      // to its WARCs): documents as `conversion` records in multi-
      // member gzip shards — warcinfo head, one member per record,
      // bounded shard cutting — parsed back to (uri, text). The
      // oracle replays the identity law: text, UTF-8 byte counts and
      // uris must survive the framing exactly.
      import graft.io.Warc
      val docs = T(s, dir, "documents")
        .select(concat(lit("https://example.org/doc/"),
          col("doc_id").cast("string")).as("url"),
          col("text").as("payload"))
        .repartition(4)
      Warc.fromRecordShards(
          Warc.toRecordShards(docs, "conversion", "text/plain"),
          "conversion")
        .select(col("target_uri"), md5(col("payload")).as("text_md5"),
          col("n_bytes"))
        .orderBy(col("target_uri"))
    }, Some("""
      SELECT 'https://example.org/doc/' || doc_id AS target_uri,
             md5(text) AS text_md5,
             CAST(strlen(text) AS BIGINT) AS n_bytes
      FROM documents ORDER BY target_uri""")),

    Entry("crawl_archive_revisit", (s, dir) => {
      // WARC 1.1 revisit records (§6.7.2, identical-payload-digest):
      // the archive face of the recrawl law's "unchanged" verdict — a
      // second wave stores ~300 bytes of linkage per unchanged page
      // instead of the body, so archive growth is proportional to
      // CHANGED bytes (at steady state, MOST answers are unchanged —
      // the dominant storage win a recrawl has). Wave 1 captures
      // every page; wave 2 writes revisit records for the unchanged
      // half and fresh response records for the changed half; the
      // read side RESOLVES each revisit to its held capture by the
      // WARC-Refers-To-Target-URI join — the whole corpus comes back,
      // provenance and profile riding along. The oracle replays the
      // round-trip contract.
      import graft.io.Warc
      val d = col("doc_id")
      val id = d.cast("string")
      val url = concat(lit("https://rv.ex.com/p/"), id)
      val docs = T(s, dir, "documents")
      val wave1 = docs.select(url.as("url"),
        concat(lit("page "), id, lit(" v1")).as("payload"))
      val held = Warc.fromRecordShards(
          Warc.toRecordShards(wave1.repartition(4), "response",
            "text/plain"), "response")
        .select(col("target_uri").as("refers_to"),
          col("payload").as("held_text"))
      val revisits = docs.filter(d % 2 === 0).select(url.as("url"),
        url.as("refers_to"),
        concat(lit("sha1:"),
          md5(concat(lit("page "), id, lit(" v1"))))
          .as("payload_digest"))
      val changed = docs.filter(d % 2 === 1).select(url.as("url"),
        concat(lit("page "), id, lit(" v2")).as("payload"))
      val resolved = Warc.fromRevisitShards(
          Warc.toRevisitShards(revisits.repartition(2)))
        .join(held, Seq("refers_to"))
        .select(col("target_uri").as("url"),
          col("held_text").as("text"), lit("revisit").as("source"),
          col("payload_digest"), col("profile"))
      val fresh = Warc.fromRecordShards(
          Warc.toRecordShards(changed.repartition(2), "response",
            "text/plain"), "response")
        .select(col("target_uri").as("url"), col("payload").as("text"),
          lit("response").as("source"),
          lit(null).cast("string").as("payload_digest"),
          lit(null).cast("string").as("profile"))
      resolved.unionByName(fresh).orderBy("url")
    }, Some("""
      SELECT 'https://rv.ex.com/p/' || doc_id AS url,
             'page ' || doc_id || ' v1' AS text,
             'revisit' AS source,
             'sha1:' || md5('page ' || doc_id || ' v1')
               AS payload_digest,
             'http://netpreserve.org/warc/1.1/revisit/identical-payload-digest'
               AS profile
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT 'https://rv.ex.com/p/' || doc_id AS url,
             'page ' || doc_id || ' v2' AS text,
             'response' AS source,
             CAST(NULL AS VARCHAR) AS payload_digest,
             CAST(NULL AS VARCHAR) AS profile
      FROM documents WHERE doc_id % 2 = 1
      ORDER BY url""")),

    Entry("text_wat_extract", (s, dir) => {
      // WAT (the metadata derived format): per-fetch JSON envelopes as
      // `metadata` records — the envelope built with to_json upstream
      // (the codec stays byte-level), shipped through the gzip shard
      // framing, read back, and a field re-extracted from the JSON on
      // the read side. The oracle replays the envelope STRING law
      // (Spark's compact to_json spelling) and the identity hop.
      import graft.io.Warc
      val d = col("doc_id")
      val id = d.cast("string")
      val meta = T(s, dir, "documents").select(
        concat(lit("https://w.ex"), (d % 5).cast("string"),
          lit(".com/p/"), id).as("url"),
        when(d % 7 === 0, lit(301)).when(d % 11 === 0, lit(404))
          .otherwise(lit(200)).as("status"),
        when(d % 3 === 0, lit("application/pdf"))
          .otherwise(lit("text/html")).as("mime"),
        (d % 7).cast("int").as("n_links"))
      val wat = meta.select(col("url"),
        to_json(struct(col("url"), col("status"), col("mime"),
          col("n_links"))).as("payload"))
        .repartition(4)
      Warc.fromRecordShards(
          Warc.toRecordShards(wat, "metadata", "application/json"),
          "metadata")
        .select(col("target_uri"), col("payload"),
          get_json_object(col("payload"), "$.status").cast("int")
            .as("status"))
        .orderBy(col("target_uri"))
    }, Some("""
      WITH m AS (
        SELECT 'https://w.ex' || (doc_id % 5) || '.com/p/' || doc_id
                 AS target_uri,
               CASE WHEN doc_id % 7 = 0 THEN 301
                    WHEN doc_id % 11 = 0 THEN 404
                    ELSE 200 END AS status,
               CASE WHEN doc_id % 3 = 0 THEN 'application/pdf'
                    ELSE 'text/html' END AS mime,
               doc_id % 7 AS n_links
        FROM documents)
      SELECT target_uri,
             '{"url":"' || target_uri || '","status":' || status ||
               ',"mime":"' || mime || '","n_links":' || n_links || '}'
               AS payload,
             CAST(status AS INT) AS status
      FROM m ORDER BY target_uri""")),

    Entry("crawl_rescore", (s, dir) => {
      // the loop closure: link-graph quality re-prioritizes the
      // frontier. A 7-host frontier with the usual priority spread
      // gets host scores for k ∈ {0,2,4} (k=6 scored zero, odd hosts
      // unscored → 0), blended at α=0.5 with on-the-fly max
      // normalization; every non-priority column passes through
      // byte-identical. The oracle replays the blend law with the max
      // as a scalar subquery in the engine's IEEE literal order.
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 7).cast("string")
      val frontier = T(s, dir, "documents").select(
        concat(lit("https://h"), k, lit(".ex"), k, lit(".com/p/"), id)
          .as("url"),
        concat(lit("h"), k, lit(".ex"), k, lit(".com")).as("host"),
        (d % 4).cast("int").as("depth"),
        ((d * 37 % 100) / lit(100.0)).as("priority"),
        (d % 5).cast("bigint").as("fetch_count"),
        lit(0).as("fail_count"),
        lit(null).cast("long").as("last_fetch_ts"),
        lit(null).cast("string").as("content_hash"),
        lit(3600L).as("interval_s"),
        lit(T0).as("next_fetch_ts"), lit("active").as("state"),
        lit(null).cast("string").as("etag"),
        lit(null).cast("long").as("last_modified"))
      val scores = s.range(4).select(
        concat(lit("h"), (col("id") * 2).cast("string"), lit(".ex"),
          (col("id") * 2).cast("string"), lit(".com")).as("host"),
        when(col("id") === 3, lit(0.0))
          .otherwise((col("id") + 1).cast("double") / lit(1000.0))
          .as("score"))
      CrawlFrontier.rescorePriorities(frontier, scores, alpha = 0.5)
        .select(col("url"), col("host"), round(col("priority"), 6)
          .as("priority"), col("depth"))
        .orderBy("url")
    }, Some(s"""
      WITH f AS (
        SELECT 'https://h' || (doc_id % 7) || '.ex' || (doc_id % 7) ||
                 '.com/p/' || doc_id AS url,
               'h' || (doc_id % 7) || '.ex' || (doc_id % 7) || '.com'
                 AS host,
               CAST(doc_id % 4 AS INT) AS depth,
               (doc_id * 37 % 100) / 100.0 AS priority
        FROM documents),
      hs AS (SELECT 'h' || (i * 2) || '.ex' || (i * 2) || '.com' AS host,
                    CASE WHEN i = 3 THEN 0.0
                         ELSE CAST(i + 1 AS DOUBLE) / 1000.0 END AS score
             FROM (SELECT unnest(generate_series(0, 3)) AS i)),
      hx AS (SELECT host, max(score) AS score FROM hs GROUP BY host),
      mx AS (SELECT max(score) AS m FROM hx)
      SELECT f.url, f.host,
             round((1.0 - 0.5) * f.priority +
               0.5 * (coalesce(hx.score, 0.0) / (SELECT m FROM mx)), 6)
               AS priority,
             f.depth
      FROM f LEFT JOIN hx ON hx.host = f.host
      ORDER BY f.url""")),

    Entry("web_graph_e2e", (s, dir) => {
      // the crawl back half COMPOSED and hash-checked end to end:
      // redirect map (chains/cycles/dup srcs over 20 hosts) → pointer-
      // doubling resolution → link-graph contraction through the
      // resolved mapping → host-level collapse → TrustRank from two
      // seed hosts (2 iterations). The oracle replays every stage —
      // the bounded recursive walk, the rewrite, the host collapse,
      // the teleport iterations — as one CTE chain. Host-level rank
      // runs on the DISTINCT edge face (a host pair votes once,
      // however many page links carry it).
      import graft.functions.UrlOps
      val docs = T(s, dir, "documents")
      // both scaling constants (corpus size, distinct host count) ride
      // the plan as broadcast one-row frames instead of two driver
      // count() jobs per invocation (guide §2.4/§5)
      val nrow = docs.agg(count(lit(1)).as("__nl"))
      val d = col("doc_id")
      def v(e: Column) = concat(lit("https://h"),
        pmod(e, lit(20L)).cast("string"), lit(".ex"),
        pmod(e, lit(20L)).cast("string"), lit(".com/p/"), e.cast("string"))
      val rdst = when(d % 5 === 0, v(d + 1))
        .when(d % 5 === 1, v(d + 3))
        .when(d % 5 === 2, v(d))
        .when(d % 10 === 3, v(d + 5))
        .otherwise(v(d - 5))
      val redirects = docs.filter(d % 5 =!= 4)
        .select(v(d).as("src"), rdst.as("dst"))
        .unionByName(docs.filter(d % 20 === 0)
          .select(v(d).as("src"), v(d + 2).as("dst")))
      val mapping = WebGraph.resolveRedirects(redirects, rounds = 3)
        .filter(col("resolved"))
      val pageEdges = docs.crossJoin(broadcast(nrow))
        .select(v(d).as("src"),
          explode(array(v(pmod(d * 3, col("__nl"))),
            v(pmod(d * 5 + 1, col("__nl"))))).as("dst"))
      val contracted = WebGraph.contractEdges(pageEdges, mapping)
      val hostEdges = WebGraph.hostGraph(contracted)
      val hosts = docs.select(UrlOps.hostOf(v(d)).as("id")).distinct()
      val nhrow = hosts.agg(count(lit(1)).as("__nh"))
      val seeds = hosts.filter(col("id").isin("h0.ex0.com", "h1.ex1.com"))
      WebGraph.trustRank(hosts, hostEdges, seeds, iters = 2, d = 0.85)
        .crossJoin(broadcast(nhrow))
        .select(col("id").as("host"),
          round(col("trustrank") * col("__nh").cast("double"), 6)
            .as("tr_scaled"))
        .orderBy("host")
    }, Some(s"""
      WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
      e0 AS (
        SELECT 'https://h' || (doc_id % 20) || '.ex' || (doc_id % 20) ||
                 '.com/p/' || doc_id AS src,
               'https://h' || (x % 20) || '.ex' || (x % 20) ||
                 '.com/p/' || x AS dst
        FROM (SELECT doc_id,
                CASE WHEN doc_id % 5 = 0 THEN doc_id + 1
                     WHEN doc_id % 5 = 1 THEN doc_id + 3
                     WHEN doc_id % 5 = 2 THEN doc_id
                     WHEN doc_id % 10 = 3 THEN doc_id + 5
                     ELSE doc_id - 5 END AS x
              FROM documents WHERE doc_id % 5 <> 4)
        UNION ALL
        SELECT 'https://h' || (doc_id % 20) || '.ex' || (doc_id % 20) ||
                 '.com/p/' || doc_id,
               'https://h' || ((doc_id + 2) % 20) || '.ex' ||
                 ((doc_id + 2) % 20) || '.com/p/' || (doc_id + 2)
        FROM documents WHERE doc_id % 20 = 0),
      m AS (SELECT src AS u, min(dst) AS v FROM e0 GROUP BY src),
      walk AS (
        SELECT u, v AS cur, 1 AS h FROM m
        UNION ALL
        SELECT w.u, m.v, w.h + 1 FROM walk w JOIN m ON m.u = w.cur
        WHERE w.h < 8),
      term AS (SELECT w.u, w.cur FROM walk w
               LEFT JOIN m ON m.u = w.cur WHERE m.u IS NULL),
      mp AS (SELECT m.u AS url, term.cur AS fin
             FROM m JOIN term ON term.u = m.u),
      ed AS (
        SELECT 'https://h' || (doc_id % 20) || '.ex' || (doc_id % 20) ||
                 '.com/p/' || doc_id AS src,
               'https://h' || (y % 20) || '.ex' || (y % 20) ||
                 '.com/p/' || y AS dst
        FROM (SELECT doc_id,
                unnest([(doc_id * 3) % (SELECT n FROM nn),
                        (doc_id * 5 + 1) % (SELECT n FROM nn)]) AS y
              FROM documents)),
      rw AS (SELECT coalesce(m1.fin, ed.src) AS src,
                    coalesce(m2.fin, ed.dst) AS dst
             FROM ed LEFT JOIN mp m1 ON m1.url = ed.src
                     LEFT JOIN mp m2 ON m2.url = ed.dst),
      he AS (SELECT DISTINCT
               ${hostOfSql("src")} AS src,
               ${hostOfSql("dst")} AS dst
             FROM rw WHERE src <> dst),
      e AS (SELECT src, dst FROM he
            WHERE length(src) > 0 AND length(dst) > 0 AND src <> dst),
      nodes AS (SELECT DISTINCT 'h' || (doc_id % 20) || '.ex' ||
                  (doc_id % 20) || '.com' AS id
                FROM documents),
      nh AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
              FROM e GROUP BY src),
      tv AS (SELECT id, CASE WHEN id IN ('h0.ex0.com', 'h1.ex1.com')
                 THEN 1.0 / 2 ELSE 0.0 END AS v
             FROM nodes),
      t0 AS (SELECT id, v AS tr FROM tv),
      ${Seq(1, 2).map(trStepSql).mkString(",\n      ")}
      SELECT nodes.id AS host,
             round(t2.tr * (SELECT n FROM nh), 6) AS tr_scaled
      FROM nodes JOIN t2 ON t2.id = nodes.id
      ORDER BY host""")),

    Entry("crawl_trap_stats", (s, dir) => {
      // incrementally maintained trap stats: wave 1 (2026 calendar +
      // per-host /about/ pages) seeds the stats frame, wave 2 (2027
      // calendar — SAME template, so the counts SUM — plus a brand-new
      // host) folds in via updateTrapStats without rescanning wave 1;
      // the oracle replays both waves' distinct counts and the
      // full-outer merge, flag included.
      val d = col("doc_id")
      val id = d.cast("string")
      val docs = T(s, dir, "documents")
      val wave1 = docs.select(explode(array(
        concat(lit("https://trap.ex.com/cal/2026/"),
          (d % 12 + 1).cast("string"), lit("/"),
          (d % 28 + 1).cast("string")),
        concat(lit("https://ok.ex"), (d % 40).cast("string"),
          lit(".com/about/"), id))).as("url"))
      val wave2 = docs.select(explode(array(
        concat(lit("https://trap.ex.com/cal/2027/"),
          (d % 12 + 1).cast("string"), lit("/"),
          (d % 28 + 1).cast("string")),
        concat(lit("https://new.ex.com/fresh/"), id))).as("url"))
      val stats = CrawlFrontier.updateTrapStats(
        CrawlFrontier.trapStats(wave1), wave2)
      stats.select(col("host"), col("template"), col("n_urls"),
          (col("n_urls") > 100).as("is_trap"))
        .orderBy("host", "template")
    }, Some(s"""
      WITH w1 AS (
        SELECT unnest([
          'https://trap.ex.com/cal/2026/' || (doc_id % 12 + 1) || '/' ||
            (doc_id % 28 + 1),
          'https://ok.ex' || (doc_id % 40) || '.com/about/' || doc_id])
          AS url
        FROM documents),
      w2 AS (
        SELECT unnest([
          'https://trap.ex.com/cal/2027/' || (doc_id % 12 + 1) || '/' ||
            (doc_id % 28 + 1),
          'https://new.ex.com/fresh/' || doc_id]) AS url
        FROM documents),
      t1 AS (SELECT url,
               regexp_extract(lower(url),
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
                 1) AS host,
               regexp_extract(url,
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1) AS p
             FROM w1),
      s1 AS (SELECT host,
               ${templateSql("host", "p")} AS template,
               count(DISTINCT url) AS n
             FROM t1 WHERE length(host) > 0 GROUP BY 1, 2),
      t2 AS (SELECT url,
               regexp_extract(lower(url),
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
                 1) AS host,
               regexp_extract(url,
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1) AS p
             FROM w2),
      s2 AS (SELECT host,
               ${templateSql("host", "p")} AS template,
               count(DISTINCT url) AS n
             FROM t2 WHERE length(host) > 0 GROUP BY 1, 2),
      mg AS (SELECT coalesce(s1.host, s2.host) AS host,
                    coalesce(s1.template, s2.template) AS template,
                    coalesce(s1.n, 0) + coalesce(s2.n, 0) AS n_urls
             FROM s1 FULL OUTER JOIN s2
               ON s1.host = s2.host AND s1.template = s2.template)
      SELECT host, template, n_urls, n_urls > 100 AS is_trap
      FROM mg ORDER BY host, template""")),

    Entry("text_charset_sniff", (s, dir) => {
      // charset sniffing + decode through the FULL byte path: bodies
      // ENCODED in utf-8 (BOM'd, with a LYING latin1 header the BOM
      // must outrank), windows-1252 (via the WHATWG iso-8859-1 alias
      // absorption — the body carries a cp1252-only curly quote),
      // meta-declared utf-8 and iso-8859-1, an undeclared ascii
      // default, and BOM'd utf-16le — written as real WARC shards and
      // read back via detectCharset/decodeBody. The oracle replays
      // the fixture CONTRACT (expected charset verdicts, the decoded
      // strings via chr() codepoints, and the raw byte accounting) —
      // the engine must actually decode the bytes to match the hash.
      import s.implicits._
      import graft.io.Warc
      val ids = T(s, dir, "documents").select(col("doc_id")).as[Long]
      val raw = ids.map { id =>
        val url = s"https://cs.ex.com/p/$id"
        (id % 6).toInt match {
          // explicit \u escapes: the fixture's point is the BYTES, so
          // the source file's own encoding must not be load-bearing
          case 0 => (url,
            Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
              s"BOM \u00dcn\u00efcode $id".getBytes("UTF-8"),
            "text/html; charset=iso-8859-1") // lying header: BOM wins
          case 1 => (url,
            s"caf\u00e9 \u201cX$id".getBytes("windows-1252"),
            "text/html; charset=ISO-8859-1")
          case 2 => (url,
            s"<meta charset=\"utf-8\"><p>na\u00efve $id</p>"
              .getBytes("UTF-8"),
            "text/html")
          case 3 => (url,
            ("<meta http-equiv=\"Content-Type\" content=\"text/html; " +
              s"charset=iso-8859-1\"><p>Gr\u00f6\u00dfe $id</p>")
              .getBytes("windows-1252"),
            "text/html")
          case 4 => (url, s"plain $id".getBytes("US-ASCII"), "text/plain")
          case _ => (url,
            Array(0xFF, 0xFE).map(_.toByte) ++
              s"utf16 $id".getBytes("UTF-16LE"),
            "text/html")
        }
      }.toDF("url", "body", "content_type")
      Warc.fromShardsDecoded(Warc.toShardsRaw(raw.repartition(4)))
        .select(col("target_uri"), col("content_type"), col("charset"),
          col("body_text").as("text"), col("n_bytes"))
        .orderBy("target_uri")
    }, Some("""
      WITH x AS (
        SELECT doc_id, doc_id % 6 AS m,
               'https://cs.ex.com/p/' || doc_id AS target_uri
        FROM documents),
      t AS (
        SELECT target_uri, m,
          CASE WHEN m = 4 THEN 'text/plain' ELSE 'text/html' END
            AS content_type,
          CASE WHEN m = 0 THEN 'utf-8'
               WHEN m = 1 THEN 'windows-1252'
               WHEN m = 2 THEN 'utf-8'
               WHEN m = 3 THEN 'windows-1252'
               WHEN m = 4 THEN 'utf-8'
               ELSE 'utf-16le' END AS charset,
          CASE WHEN m = 0 THEN
                 'BOM ' || chr(220) || 'n' || chr(239) || 'code ' || doc_id
               WHEN m = 1 THEN
                 'caf' || chr(233) || ' ' || chr(8220) || 'X' || doc_id
               WHEN m = 2 THEN
                 '<meta charset="utf-8"><p>na' || chr(239) || 've ' ||
                   doc_id || '</p>'
               WHEN m = 3 THEN
                 '<meta http-equiv="Content-Type" content="text/html; ' ||
                   'charset=iso-8859-1"><p>Gr' || chr(246) || chr(223) ||
                   'e ' || doc_id || '</p>'
               WHEN m = 4 THEN 'plain ' || doc_id
               ELSE 'utf16 ' || doc_id END AS text
        FROM x)
      SELECT target_uri, content_type, charset, text,
             CAST(CASE WHEN m = 0 THEN 3 + octet_length(encode(text))
                       WHEN m = 2 THEN octet_length(encode(text))
                       WHEN m = 5 THEN 2 + 2 * length(text)
                       ELSE length(text) END AS BIGINT) AS n_bytes
      FROM t ORDER BY target_uri""")),

    Entry("crawl_ingest_validators", (s, dir) => {
      // the capture→frontier VALIDATOR loop closed at ingest: a
      // fetcher records ETag/Last-Modified, the raw writer rides them
      // into the HTTP head, the decoded reader exposes both raw, and
      // imfFixdateEpoch parses the date form at day-ignoring strict
      // shape — a strong ETag, a weak one (W/ prefix verbatim per
      // RFC 9110 §8.8.3), an obsolete RFC-850 Last-Modified (raw
      // survives, the epoch parse refuses), and header-less rows (''
      // — the httpHeader convention). The oracle replays the fixture
      // contract + the full parse law (month-name CASE included).
      import graft.functions.TextExtraction
      import graft.io.Warc
      val d = col("doc_id")
      val id = d.cast("string")
      val lmValid = concat(lit("Mon, 0"), (d % 9 + 1).cast("string"),
        lit(" Jan 2026 10:30:0"), (d % 10).cast("string"), lit(" GMT"))
      val etag = when(d % 4 === 0, concat(lit("\"e-"), id, lit("\"")))
        .when(d % 4 === 1, concat(lit("W/\"x-"), id, lit("\"")))
        .otherwise(lit(null).cast("string"))
      val lm = when(d % 4 === 0, lmValid)
        .when(d % 4 === 2, lit("Sunday, 06-Nov-94 08:49:37 GMT"))
        .otherwise(lit(null).cast("string"))
      val raw = T(s, dir, "documents").select(
        concat(lit("https://iv.ex.com/p/"), id).as("url"),
        encode(concat(lit("v "), id), "UTF-8").as("body"),
        lit("text/html; charset=utf-8").as("content_type"),
        etag.as("etag"), lm.as("last_modified"))
      Warc.fromShardsDecoded(Warc.toShardsRaw(raw.repartition(4)))
        .select(col("target_uri"), col("etag"), col("last_modified"),
          TextExtraction.imfFixdateEpoch(col("last_modified"))
            .as("last_modified_ts"))
        .orderBy("target_uri")
    }, Some("""
      WITH x AS (
        SELECT doc_id, doc_id % 4 AS m,
               'https://iv.ex.com/p/' || doc_id AS target_uri,
               'Mon, 0' || (doc_id % 9 + 1) || ' Jan 2026 10:30:0' ||
                 (doc_id % 10) || ' GMT' AS lm_valid
        FROM documents)
      SELECT target_uri,
             CASE WHEN m = 0 THEN '"e-' || doc_id || '"'
                  WHEN m = 1 THEN 'W/"x-' || doc_id || '"'
                  ELSE '' END AS etag,
             CASE WHEN m = 0 THEN lm_valid
                  WHEN m = 2 THEN 'Sunday, 06-Nov-94 08:49:37 GMT'
                  ELSE '' END AS last_modified,
             CASE WHEN m = 0 THEN
                    CAST(epoch(TRY_CAST(
                      '2026-01-0' || (doc_id % 9 + 1) || ' 10:30:0' ||
                        (doc_id % 10) AS TIMESTAMP)) AS BIGINT)
                  ELSE NULL END AS last_modified_ts
      FROM x ORDER BY target_uri""")),

    Entry("text_content_encoding", (s, dir) => {
      // Content-Encoding decode through the FULL raw-capture path —
      // the content-coding analog of de-chunking (r16): raw captures
      // keep the wire bytes, and a gzip/deflate body left compressed
      // poisons every downstream text stage as binary slush. Hand-
      // built HTTP messages (the writer faces never emit the header —
      // the raw capture IS the subject) per doc: gzip, zlib deflate,
      // RAW deflate (the wild serves both spellings), identity,
      // br (NO JDK codec → the loud empty-body refusal), chunked+gzip
      // (order pin: de-chunk THEN decode, RFC 9112 §6.1), and a LYING
      // gzip header over plain bytes (gunzipAuto's magic-sniff
      // passthrough salvages it). The oracle replays the fixture
      // CONTRACT (decode is the round-trip identity — the
      // text_charset_sniff convention); n_bytes counts the DECODED
      // payload handed to the charset stage.
      import s.implicits._
      import graft.io.Warc
      val ids = T(s, dir, "documents").select(col("doc_id")).as[Long]
      val shards = ids.map { id =>
        val url = s"https://ce.ex.com/p/$id"
        val text = s"enc page $id"
        val plain = text.getBytes("UTF-8")
        def zlib(b: Array[Byte], nowrap: Boolean): Array[Byte] = {
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, nowrap)
          d.setInput(b); d.finish()
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](256)
          while (!d.finished()) out.write(buf, 0, d.deflate(buf))
          d.end(); out.toByteArray
        }
        def chunked(b: Array[Byte]): Array[Byte] = {
          val out = new java.io.ByteArrayOutputStream()
          val cut = b.length / 2
          Seq(b.slice(0, cut), b.slice(cut, b.length)).foreach { c =>
            out.write(s"${c.length.toHexString}\r\n".getBytes("US-ASCII"))
            out.write(c); out.write("\r\n".getBytes("US-ASCII"))
          }
          out.write("0\r\n\r\n".getBytes("US-ASCII"))
          out.toByteArray
        }
        val (headers, body) = (id % 7) match {
          case 0 => ("Content-Encoding: gzip\r\n", Warc.gzipBytes(plain))
          case 1 => ("Content-Encoding: deflate\r\n",
            zlib(plain, nowrap = false))
          case 2 => ("Content-Encoding: deflate\r\n",
            zlib(plain, nowrap = true))
          case 3 => ("", plain)
          case 4 => ("Content-Encoding: br\r\n", plain) // refused
          case 5 => ("Transfer-Encoding: chunked\r\n" +
            "Content-Encoding: gzip\r\n", chunked(Warc.gzipBytes(plain)))
          case _ => ("Content-Encoding: gzip\r\n", plain) // lying header
        }
        val msg = new java.io.ByteArrayOutputStream()
        msg.write(("HTTP/1.1 200 OK\r\n" +
          "Content-Type: text/html; charset=utf-8\r\n" + headers +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII"))
        msg.write(body)
        (id, Warc.writeRecordShardGz(Seq((url, msg.toByteArray)),
          "response", "application/http;msgtype=response"))
      }.toDF("doc_id", "shard")
      Warc.fromShardsDecoded(shards)
        .select(col("target_uri"), col("http_status"), col("charset"),
          col("body_text").as("text"), col("n_bytes"))
        .orderBy("target_uri")
    }, Some("""
      WITH x AS (
        SELECT doc_id, doc_id % 7 AS m,
               'https://ce.ex.com/p/' || doc_id AS target_uri,
               'enc page ' || doc_id AS base
        FROM documents)
      SELECT target_uri, CAST(200 AS INT) AS http_status,
             'utf-8' AS charset,
             CASE WHEN m = 4 THEN '' ELSE base END AS text,
             CAST(CASE WHEN m = 4 THEN 0 ELSE length(base) END AS BIGINT)
               AS n_bytes
      FROM x ORDER BY target_uri"""))
  )
}
