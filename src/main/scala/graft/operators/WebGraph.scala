package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The link graph of a web corpus — outlink extraction from HTML and
  * PageRank over the resulting edges (Page et al. 1999): the quality
  * signal a crawl pipeline computes right after ingest (link-farm
  * demotion, crawl-frontier prioritization, quality-weighted mixing).
  *
  * Outlink extraction is a pure codegen'd regex/HOF chain (RE2-safe,
  * oracle-replayable — the cross-engine-parity convention of
  * [[graft.functions.TextExtraction]]); PageRank is the standard
  * distributed shape: per iteration one src-keyed equi-join, one
  * dst-keyed partial-agg sum, and ONE scalar (the dangling mass)
  * across the driver — the Lloyd-transfer bound. Every iterative
  * operator here checkpoints each round through [[Checkpoint]] (one
  * job that also observes the round's scalars), so lineage stays flat
  * at any iteration count, and releases the round it supersedes. */
object WebGraph {

  /** href targets of `<a href=...>` anchors — double-quoted,
    * single-quoted, AND unquoted values, all common in real HTML —
    * RESOLVED against the page's own URL: absolute links pass
    * through, protocol-relative (`//h/p`) take the base's scheme,
    * root-relative (`/p`) take the base's origin, and everything else
    * resolves against the base's directory. Fragments drop (an
    * in-page anchor is not an edge). The value law is quote-AWARE
    * with ONE capture group (alternation keyed on the opening
    * delimiter, which rides along in the capture and is stripped
    * after): a double-quoted value may contain apostrophes
    * (`href="/o'brien/bio"` — common unencoded) and vice versa, each
    * quoted form ends only at its own closing quote (or `#`), and
    * unquoted values end at whitespace/`>`/quote/`#`. Documented
    * regex-class simplification: `../` segments are NOT normalized
    * (the canonicalizer downstream treats the spelled path as the key
    * either way). The `\shref` boundary keeps `data-href=` from
    * matching. Returns array<string>. */
  def outlinks(html: Column, baseUrl: Column): Column = {
    val hrefs = regexp_extract_all(html,
      lit("(?is)<a\\b[^>]*?\\shref\\s*=\\s*" +
        "(\"[^\"#]*|'[^'#]*|[^\"'\\s>#]+)"), lit(1))
    // one-element OUTER transform: Catalyst does not CSE across HOF
    // lambda bodies, so both the base-URL regexes AND the full-page
    // href scan must be bound ONCE per row — ctx as the outer lambda
    // var, hrefs referenced inside the outer body (evaluated once for
    // the single element). A zip_with(hrefs, array_repeat(ctx,
    // size(hrefs))) form re-evaluates the PAGE scan through size() —
    // doubling the dominant cost it meant to remove.
    filter(
      flatten(transform(array(baseCtx(baseUrl)), c =>
        transform(hrefs, h =>
          resolve(regexp_replace(h, "^[\"']", ""), c)))),
      h => length(h) > 0)
  }

  /** [[outlinks]] restricted to FOLLOWED anchors: an `<a>` whose `rel`
    * attribute carries the `nofollow` token (alone or among others —
    * `rel="nofollow noopener"`, any quote style, either attribute
    * order) contributes no edge, per the Robots Exclusion Protocol's
    * anchor-level layer — the endorsement signal PageRank/TrustRank
    * should see excludes the links their authors disavowed. Tag-wise
    * scan (one `<a ...>` tag array, rel-filter, per-tag href pull)
    * instead of the one-pattern form, because the rel filter needs the
    * whole tag; href quote/resolution/fragment laws are [[outlinks]]'s
    * exactly. Page-level nofollow ([[graft.functions.TextExtraction
    * .robotsFlags]]) is the CALLER's gate — this handles the per-link
    * layer. */
  def followedOutlinks(html: Column, baseUrl: Column): Column = {
    val tags = regexp_extract_all(html, lit("(?is)<a\\b[^>]*>"), lit(0))
    // the REL token law in two honest steps (a single fused regex had
    // three boundary holes the r16 review caught: \\b matched after
    // data-rel's hyphen, an unquoted value ran across whitespace into
    // later attributes, and 'nofollowers' matched): pull the rel
    // VALUE under the href quote law — \\srel boundary, each quoted
    // form ends at its own quote, unquoted at whitespace/> — then
    // token-boundary match 'nofollow' inside the value only
    val kept = filter(tags, t => !regexp_replace(
      regexp_extract(t,
        "(?is)\\srel\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\"'\\s/>]+)", 1),
      "^[\"']|[\"']$", "")
      .rlike("(?i)(^|\\s)nofollow($|\\s)"))
    filter(
      flatten(transform(array(baseCtx(baseUrl)), c =>
        transform(kept, t =>
          resolve(regexp_replace(regexp_extract(t, HrefValuePattern, 1),
            "^[\"']", ""), c)))),
      h => length(h) > 0)
  }

  /** The one href value law ([[outlinks]]'s quote-aware single-capture
    * form) shared by every per-tag href pull. */
  private val HrefValuePattern =
    "(?is)\\shref\\s*=\\s*(\"[^\"#]*|'[^'#]*|[^\"'\\s>#]+)"

  /** Resolve ONE reference against a base URL — the [[outlinks]]
    * resolution law as a public scalar (absolute pass, `//` takes the
    * base scheme, `/` the origin, else the base directory; '' for
    * empty input): what a relative `Location` header (RFC 9110 §10.2.2
    * allows them and the real web uses them constantly) needs before
    * it can be a redirect edge. Base context and reference bind once
    * via the one-element outer-transform recipe. */
  def resolveUrl(href: Column, baseUrl: Column): Column =
    element_at(
      transform(array(struct(baseCtx(baseUrl).as("c"), href.as("h"))),
        p => resolve(p("h"), p("c"))),
      1)

  /** The base URL's (scheme, origin, dir) struct — always bind it as a
    * one-element outer-transform lambda var (see [[outlinks]]); used
    * inline it re-evaluates its three regexes per href. */
  private def baseCtx(baseUrl: Column): Column =
    struct(
      regexp_extract(baseUrl, "^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
        .as("scheme"),
      regexp_extract(baseUrl, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
        .as("origin"),
      regexp_replace(regexp_replace(baseUrl, "[?#].*$", ""),
        "/[^/]*$", "/").as("dir"))

  /** The resolution law shared by [[outlinks]] and [[anchorTexts]]. */
  private def resolve(h: Column, ctx: Column): Column =
    when(h.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"), h)
      .when(h.startsWith("//"), concat(ctx("scheme"), lit(":"), h))
      .when(h.startsWith("/"), concat(ctx("origin"), h))
      .when(length(h) > 0, concat(ctx("dir"), h))
      .otherwise(lit(""))

  /** (resolved link, anchor text) pairs of a page's `<a href>`
    * anchors — the inlink-description signal (anchor text describes
    * the TARGET better than the target's own boilerplate; the classic
    * ranking feature and a retrieval-training augmentation). ONE
    * pattern matched twice (group 1 = href, group 2 = inner text)
    * guarantees the two arrays zip positionally; resolution is
    * [[outlinks]]'s law; anchor text is tag-stripped/entity-decoded
    * inline ([[graft.functions.TextExtraction.blockText]]).
    * Fragment-only anchors drop. Returns array<struct<link, text>>. */
  def anchorTexts(html: Column, baseUrl: Column): Column = {
    // quote law as [[outlinks]] (double/single/unquoted, `\shref`
    // boundary), but the href capture KEEPS fragments ([#] stays in
    // the class) and strips them afterwards: a '#'-excluding capture
    // cannot match a fragment-carrying href at all, so
    // '<a href="/p#intro">x</a>' would silently lose its anchor text
    // while outlinks keeps the edge — the two laws must agree
    val pat =
      lit("(?is)<a\\b[^>]*?\\shref\\s*=\\s*" +
        "(\"[^\"]*|'[^']*|[^\"'\\s>]+)[\"']?" +
        "[^>]*>(.*?)</a>")
    val hrefs = regexp_extract_all(html, pat, lit(1))
    val texts = regexp_extract_all(html, pat, lit(2))
    // the outlinks one-element-outer-transform recipe: ctx bound once,
    // and the two full-page scans (hrefs, texts) evaluated once each
    // inside the outer lambda — the structural floor for a two-group
    // extraction. The leading delimiter and the fragment strip in one
    // regexp_replace alternation.
    filter(
      flatten(transform(array(baseCtx(baseUrl)), c =>
        zip_with(hrefs, texts, (h, t) => struct(
          resolve(regexp_replace(h, "^[\"']|#.*$", ""), c).as("link"),
          graft.functions.TextExtraction.blockText(t).as("text"))))),
      p => length(p("link")) > 0)
  }

  /** HITS hubs & authorities (Kleinberg 1999, JACM): the OTHER classic
    * link-quality pair — authorities are pages good hubs point AT,
    * hubs are pages that point at good authorities; iterate
    * a ← Aᵀh, h ← Aa with L2 normalization after each half-step.
    * Same distributed shape as [[pageRank]]: per half-step one
    * edge-keyed join + one partial-agg sum, then ONE [[Checkpoint]]
    * job that also observes the L2 norm — scores stay unnormalized and
    * the division folds into the next half-step, so values are
    * bit-identical to dividing eagerly. Duplicate edges vote once. A
    * normless half-step (no edges) keeps its zeros instead of dividing
    * by zero. Returns (id, hub, authority). */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int = 2,
           idCol: String = "id", srcCol: String = "src",
           dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val ids = nodes.select(col(idCol).as("id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count() // materialize: reused 2× per iteration, and the cached
    // size feeds the half-step join planning (removing this job
    // measured web_hits consistently ~15% SLOWER — kept)
    // the L2 norm each half-step's checkpoint job observes (coalesce:
    // sum over ZERO rows — an empty node set — is null; 1.0 when
    // normless)
    def l2(c: String): Column = {
      val nrm = sqrt(coalesce(sum(col(c) * col(c)), lit(0.0)))
      when(nrm > 0, nrm).otherwise(lit(1.0)).as("norm")
    }
    try {
      // doubles as the ids materializer
      var hub = Checkpoint(ids.select(col("id"), lit(1.0).as("hub")))._1
      var hubNorm = 1.0 // the classic init: raw ones, NOT normalized
      // the initial authority vector is plan-only: iters >= 1 means it
      // is always reassigned before anything executes it — its former
      // eager checkpoint was a dead job
      var auth = ids.select(col("id"), lit(0.0).as("authority"))
      var authNorm = 1.0
      (1 to iters).foreach { _ =>
        val a0 = e.join(hub, e("src") === hub("id"))
          .groupBy(col("dst"))
          .agg(sum(col("hub") / lit(hubNorm)).as("s"))
        val (a, an) = Checkpoint(
          ids.join(a0, ids("id") === a0("dst"), "left")
            .select(ids("id"), coalesce(col("s"), lit(0.0)).as("authority")),
          l2("authority"))
        Checkpoint.release(auth)
        auth = a; authNorm = an.getDouble(0)
        val h0 = e.join(auth, e("dst") === auth("id"))
          .groupBy(col("src"))
          .agg(sum(col("authority") / lit(authNorm)).as("s"))
        val (h, hn) = Checkpoint(
          ids.join(h0, ids("id") === h0("src"), "left")
            .select(ids("id"), coalesce(col("s"), lit(0.0)).as("hub")),
          l2("hub"))
        Checkpoint.release(hub)
        hub = h; hubNorm = hn.getDouble(0)
      }
      hub.join(auth, Seq("id"))
        .select(col("id"), (col("hub") / lit(hubNorm)).as("hub"),
          (col("authority") / lit(authNorm)).as("authority"))
    } finally { ids.unpersist(); e.unpersist() }
  }

  /** The page's `rel=canonical` target (RFC 6596) resolved against its
    * own URL — the duplicate-consolidation signal a crawl pipeline
    * honors before dedup/link analysis (the canonical URL is the
    * cluster key the SITE declares). First matching `<link>` tag wins
    * (browsers and crawlers take the first); the tag must carry BOTH
    * `rel=canonical` (any attribute order, any quote style,
    * case-insensitive) and an `href`; href values follow the
    * [[outlinks]] quote law and resolve by the same law
    * ([[resolve]] — absolute pass, `//` takes the base scheme, `/`
    * the origin, else the base dir; fragments drop). Returns '' when
    * the page declares no canonical (regexp_extract's no-match
    * convention). Pure codegen'd RE2-safe chain, oracle-replayable.
    * Both the tag scan and the base context bind ONCE via the
    * one-element outer-transform recipe (see [[outlinks]]). */
  def canonicalUrl(html: Column, baseUrl: Column): Column = {
    val tags = regexp_extract_all(html, lit("(?is)<link\\b[^>]*>"), lit(0))
    // BOTH attributes must be present to count as a declaration: an
    // href-less rel=canonical tag (malformed but real markup) must not
    // SHADOW a later valid one by winning first place with no target.
    // The rel law mirrors [[followedOutlinks]]'s two honest steps (the
    // fused \brel=["']?canonical form had the same boundary holes the
    // r16 review closed there: \b matched after data-rel's hyphen,
    // rel="canonical-foo" prefix-matched, and the token-list
    // rel="alternate canonical" was missed): pull the rel VALUE under
    // the href quote law — \srel boundary, each quoted form ends at
    // its own quote, unquoted at whitespace/'/'/'>' — then
    // token-boundary match 'canonical' inside the value only.
    val canon = filter(tags, t =>
      regexp_replace(
        regexp_extract(t,
          "(?is)\\srel\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\"'\\s/>]+)", 1),
        "^[\"']|[\"']$", "")
        .rlike("(?i)(^|\\s)canonical($|\\s)") &&
        t.rlike("(?is)\\shref\\s*="))
    // '' sentinel when no tag matched: element_at over the padded
    // array is total, and the href extract of '' is '' → resolve('')
    // = '' (the no-canonical result)
    val first = element_at(concat(canon, array(lit(""))), 1)
    val href = regexp_extract(first, HrefValuePattern, 1)
    resolveUrl(regexp_replace(href, "^[\"']", ""), baseUrl)
  }

  /** Resolve redirect chains to their terminal targets by pointer
    * doubling — the hop between fetch results and every URL-keyed
    * stage (dedup keys, link-graph contraction, frontier identity):
    * a 3xx response contributes (url, location) and the pipeline
    * needs url → FINAL url, chains and cycles included.
    *
    * `redirects` is (src, dst) edges; a src with several dsts (rare:
    * disagreeing fetch attempts) collapses deterministically to
    * min(dst). The walk law: follow the redirect function until a
    * node with no outgoing redirect (terminal), giving
    * (url, final_url, hops, resolved=true); a chain still unresolved
    * after 2^rounds hops — a cycle, or a chain longer than the
    * budget — emits (url, NULL, 2^rounds, resolved=false). Hops are
    * EXACT chain lengths (the doubling invariant: after round k a
    * row's target is the node min(2^k, dist-to-terminal) steps away),
    * so the oracle replays the law as a bounded recursive walk.
    *
    * Scale shape: `rounds` self-joins of the redirect MAP (only
    * redirecting pages — a small fraction of any fetched set), each
    * one equi-shuffle on the moving target, localCheckpointed so the
    * plan stays flat (an unbroken doubling plan doubles per round);
    * 2^rounds = 32 hops at the default covers any real redirect
    * chain (browsers cap at ~20). log-rounds, never per-hop. */
  def resolveRedirects(redirects: DataFrame, rounds: Int = 5,
                       srcCol: String = "src",
                       dstCol: String = "dst"): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1,16]: $rounds")
    // a redirect recorded without a target (a 3xx fetch missing its
    // Location header) is NOT an edge: dropped here, so its source is
    // simply absent from the output instead of emitting the
    // contradiction (resolved=true, final_url=NULL) the law forbids
    var m = Checkpoint(redirects
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .groupBy(col("u")).agg(min(col("v")).as("v"))
      .withColumn("h", lit(1L)))._1
    (1 to rounds).foreach { _ =>
      val m2 = m.select(col("u").as("u2"), col("v").as("v2"),
        col("h").as("h2"))
      val (next, _) = Checkpoint(m.join(m2, m("v") === m2("u2"), "left")
        .select(m("u"),
          coalesce(col("v2"), m("v")).as("v"),
          (m("h") + coalesce(col("h2"), lit(0L))).as("h")))
      Checkpoint.release(m)
      m = next
    }
    // a row is terminal iff its target has no redirect of its own
    val srcs = m.select(col("u").as("t"))
    m.join(srcs, m("v") === srcs("t"), "left")
      .select(m("u").as("url"),
        when(col("t").isNull, m("v")).as("final_url"),
        m("h").cast("int").as("hops"),
        col("t").isNull.as("resolved"))
  }

  /** Rewrite a link graph's endpoints through a URL mapping (the
    * resolved redirect/canonical function) and re-aggregate — the
    * contraction that makes PageRank/dedup see ONE node per real
    * page instead of one per spelling. `mapping` is
    * (url, final_url); endpoints absent from it map to themselves.
    * Returns (src, dst, weight) with duplicate contracted edges
    * summed into weight; self-loops (an edge whose two endpoints
    * contract together — navigation, not endorsement) drop by
    * default. An incoming weight column PROPAGATES — the contracted
    * weight is sum(coalesce(weight, 1)), so composing contractions
    * (or feeding this one's own output back in) keeps page-level edge
    * multiplicity instead of silently resetting every edge to 1;
    * unweighted inputs keep the count-of-edges law. `weightCol` makes
    * the switch explicit at the call site: Some(c) uses column c WHEN
    * PRESENT (the default Some("weight") preserves the opportunistic
    * pickup composition relies on), None forces the count law — the
    * opt-out for an edge frame whose 'weight' column means something
    * unrelated. Two equi-joins against the mapping (tiny next to the
    * edge set → AQE broadcasts) + one edge-keyed partial-agg sum. */
  def contractEdges(edges: DataFrame, mapping: DataFrame,
                    srcCol: String = "src", dstCol: String = "dst",
                    urlCol: String = "url",
                    finalCol: String = "final_url",
                    dropSelfLoops: Boolean = true,
                    weightCol: Option[String] = Some("weight")): DataFrame = {
    val m = mapping
      .select(col(urlCol).as("__m_u"), col(finalCol).as("__m_f"))
      .filter(col("__m_f").isNotNull)
    val w = weightCol.filter(edges.columns.contains)
      .map(c => coalesce(col(c).cast("long"), lit(1L)))
      .getOrElse(lit(1L))
    val e = edges.select(col(srcCol).as("__e_s"), col(dstCol).as("__e_d"),
      w.as("__e_w"))
    val rewritten = e
      .join(m, e("__e_s") === m("__m_u"), "left")
      .select(coalesce(col("__m_f"), col("__e_s")).as("src"),
        col("__e_d"), col("__e_w"))
      .join(m, col("__e_d") === m("__m_u"), "left")
      .select(col("src"), coalesce(col("__m_f"), col("__e_d")).as("dst"),
        col("__e_w"))
    val kept = if (dropSelfLoops) rewritten.filter(col("src") =!= col("dst"))
               else rewritten
    kept.groupBy(col("src"), col("dst"))
      .agg(sum(col("__e_w")).as("weight"))
  }

  /** Collapse a page-level link graph to the host (or registered-
    * domain) level: the graph host-quality signals run on — TrustRank
    * seeds are hosts, spam mass is per-domain, and at 10^11 pages the
    * host graph is the one that fits analysis budgets (10^7-ish
    * nodes). Endpoints with no parseable host drop; intra-host edges
    * (site navigation, not endorsement) drop by default; parallel
    * page edges sum into weight — an incoming weight column
    * PROPAGATES as sum(coalesce(weight, 1)) (composing hostGraph over
    * [[contractEdges]] output keeps page-level multiplicity in the
    * host weights), unweighted inputs keep the count law; `weightCol`
    * is [[contractEdges]]' explicit switch (Some(c) = use when
    * present, None = force the count law). One groupBy shuffle on the
    * collapsed key — the projection is per-row codegen. */
  def hostGraph(edges: DataFrame, srcCol: String = "src",
                dstCol: String = "dst",
                byRegisteredDomain: Boolean = false,
                dropIntraHost: Boolean = true,
                weightCol: Option[String] = Some("weight")): DataFrame = {
    import graft.functions.UrlOps
    def key(c: Column) = {
      val h = UrlOps.hostOf(c)
      if (byRegisteredDomain) UrlOps.registeredDomain(h) else h
    }
    val w = weightCol.filter(edges.columns.contains)
      .map(c => coalesce(col(c).cast("long"), lit(1L)))
      .getOrElse(lit(1L))
    val projected = edges.select(key(col(srcCol)).as("src"),
        key(col(dstCol)).as("dst"), w.as("__e_w"))
      .filter(length(col("src")) > 0 && length(col("dst")) > 0)
    val kept = if (dropIntraHost) projected.filter(col("src") =!= col("dst"))
               else projected
    kept.groupBy(col("src"), col("dst"))
      .agg(sum(col("__e_w")).as("weight"))
  }

  /** Mirror-site detection: host pairs whose content-fingerprint sets
    * overlap past a Jaccard threshold — crawling a mirror twice buys
    * nothing and dedup downstream pays for it, so the crawl loop wants
    * the pair list (keep one, demote the other's frontier priority).
    *
    * `pages` is (url, fingerprint) — the fingerprint is the caller's
    * content key (md5 of normalized text, a simhash band, …). Law:
    * distinct (host, fp) pairs; fingerprints shared by MORE than
    * `maxHostsPerFp` hosts are excluded from pair EVIDENCE (a
    * boilerplate fp on ten thousand hosts is not mirror signal, and
    * unbounded fanout would make the pair join quadratic in the
    * hottest key) but still count in each host's set SIZE, so the
    * Jaccard under-estimates — conservative, never inflating; pairs
    * need `minShared` shared fingerprints and
    * jaccard = shared / (n_a + n_b − shared) ≥ `minJaccard`.
    *
    * Shape: the distinct (host, fp) frame materializes ONCE
    * (localCheckpoint — sizes, fanout and the evidence join all
    * re-read it; inlined, the caller's page lineage re-executed per
    * reference), then fp-keyed aggregates with map-side combine and
    * ONE fp-keyed group whose capped host list (≤ maxHostsPerFp,
    * enforced BEFORE the collect) expands to ordered pairs
    * partition-locally — the former fp self-join re-shuffled the
    * evidence frame twice for the same ≤ C(cap,2)-bounded expansion —
    * then one pair-keyed sum and two joins against the tiny host-size
    * frame. Returns (host_a, host_b, shared, n_a, n_b, jaccard) with
    * host_a < host_b. */
  def mirrorHosts(pages: DataFrame, urlCol: String = "url",
                  fpCol: String = "fingerprint",
                  minShared: Long = 2, minJaccard: Double = 0.5,
                  maxHostsPerFp: Int = 64): DataFrame = {
    import graft.functions.UrlOps
    require(maxHostsPerFp >= 2, s"maxHostsPerFp must be >= 2 (a pair " +
      s"needs two hosts): $maxHostsPerFp")
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in [0,1]: $minJaccard")
    val h = pages
      .select(UrlOps.hostOf(col(urlCol)).as("host"), col(fpCol).as("fp"))
      .filter(length(col("host")) > 0)
      .distinct()
      .localCheckpoint(true)
    val sizes = h.groupBy(col("host")).agg(count(lit(1)).as("n"))
    val fanout = h.groupBy(col("fp")).agg(count(lit(1)).as("nh"))
    val evid = h.join(
      fanout.filter(col("nh") <= maxHostsPerFp).select(col("fp")),
      Seq("fp"))
    // ordered-pair expansion per fp: the host list is DISTINCT (h is)
    // and its size is capped by the fanout filter above, so the
    // collect_list is bounded at maxHostsPerFp and the expansion at
    // C(maxHostsPerFp, 2) rows per fp — sort_array + slice emits each
    // unordered pair exactly once as host_a < host_b (binary string
    // order, matching the former self-join's `<` predicate)
    val pairs = evid.groupBy(col("fp"))
      .agg(sort_array(collect_list(col("host"))).as("__hs"))
      .select(explode(flatten(transform(col("__hs"), (a, i) =>
        transform(slice(col("__hs"), i + lit(2),
            coalesce(size(col("__hs")), lit(0))),
          b => struct(a.as("host_a"), b.as("host_b")))))).as("__p"))
      .select(col("__p.host_a"), col("__p.host_b"))
      .groupBy(col("host_a"), col("host_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("host").as("host_a"), col("n").as("n_a")),
        Seq("host_a"))
      .join(sizes.select(col("host").as("host_b"), col("n").as("n_b")),
        Seq("host_b"))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .filter(col("shared") >= lit(minShared) &&
        col("jaccard") >= lit(minJaccard))
      .select(col("host_a"), col("host_b"), col("shared"),
        col("n_a"), col("n_b"), col("jaccard"))
  }

  /** The curation gate over [[mirrorHosts]] output: drop documents
    * hosted on the DOMINATED side of any flagged mirror pair (pairs
    * carry host_a < host_b, so the lexicographic-min host of a mirror
    * clique survives and every dominated host drops — deterministic,
    * and for a chain a~b~c without the a~c pair, a survives while b
    * and c drop: conservative in the keep-one direction). One
    * broadcast anti-join against the tiny dominated-host set; columns
    * pass through unchanged. */
  def dropMirroredDocs(docs: DataFrame, mirrors: DataFrame,
                       urlCol: String = "url"): DataFrame = {
    import graft.functions.UrlOps
    val dominated = mirrors.select(col("host_b").as("__dom_host"))
      .distinct()
    docs.withColumn("__doc_host", UrlOps.hostOf(col(urlCol)))
      .join(broadcast(dominated),
        col("__doc_host") === col("__dom_host"), "left_anti")
      .drop("__doc_host")
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004):
    * PageRank with the teleport vector restricted to a vetted seed
    * set, so trust flows OUT of known-good nodes and spam that no
    * good node links to scores ~0 — the classic seed-propagation
    * quality gate a crawl pipeline runs on the host graph.
    *
    * Law: v(u) = 1/|S| on seeds, 0 elsewhere; t₀ = v;
    * t_k(u) = (1-d)·v(u) + d·(inflow(u) + mass_{k-1}·v(u)) where
    * mass is the dangling rank plus the out-of-set edge leak of
    * t_{k-1} — the same conservation law as [[pageRank]] but
    * redistributed to the SEEDS (biased PageRank's dangling
    * convention), so total mass stays 1 and unreachable nodes stay
    * at exactly 0 instead of collecting teleport floor.
    *
    * Same distributed shape as [[pageRank]] (the shared
    * [[iterateRank]] loop). Seeds not in `nodes` are ignored; empty
    * effective seed set refuses loudly (the teleport vector would be
    * all-zero). The refusal reads the seed count the init job computes,
    * so it fires only after that job — two joins and a checkpoint over
    * every node — has run. Returns (id, trustrank). */
  def trustRank(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                iters: Int = 3, d: Double = 0.85,
                idCol: String = "id", srcCol: String = "src",
                dstCol: String = "dst",
                seedCol: String = "id"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(d > 0.0 && d < 1.0, s"damping must be in (0,1): $d")
    val ids = nodes.select(col(idCol).as("id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sd = seeds.select(col(seedCol).as("sid")).distinct()
    val seeded = ids.join(sd, ids("id") === sd("sid"), "left")
      .select(ids("id"), col("sid").isNotNull.as("is_seed"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the effective-seed count rides the INIT job as a broadcast
    // one-row frame instead of a separate driver count() job;
    // lit(1.0)/long promotes to the same double division the old
    // 1.0/nSeeds literal computed, so v is bit-identical
    val nSeedsRow = seeded.agg(
      sum(when(col("is_seed"), lit(1L)).otherwise(lit(0L))).as("__nseeds"))
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lost = e.join(ids, e("dst") === ids("id"), "left_anti")
      .groupBy(col("src")).agg(count(lit(1)).as("lost_cnt"))
      .withColumnRenamed("src", "lost_src")
    // static per-node annotation (teleport weight v, dangling flag,
    // out-of-set leak fraction): pageRank's with v in place of the
    // uniform 1/n, carried through every round by the init checkpoint
    val flagged = seeded
      .join(outdeg, seeded("id") === outdeg("src"), "left")
      .join(lost, seeded("id") === lost("lost_src"), "left")
      .crossJoin(broadcast(nSeedsRow))
      .select(seeded("id"),
        when(col("is_seed"), lit(1.0) / col("__nseeds"))
          .otherwise(lit(0.0)).as("v"),
        col("deg").isNull.as("dangling"),
        (coalesce(col("lost_cnt"), lit(0L)).cast("double") /
          coalesce(col("deg"), lit(1L)).cast("double")).as("frac_lost"))
    try {
      val (init, m0) = Checkpoint(flagged.select(col("id"), col("v"),
          col("dangling"), col("frac_lost"), col("v").as("trustrank")),
        leakedMass("trustrank"),
        coalesce(sum(when(col("v") > 0.0, lit(1L))), lit(0L)).as("n_seeds"))
      require(m0.getLong(1) > 0,
        "trustRank: no seed is present in the node set — the teleport " +
          "vector would be all-zero; pass at least one in-set seed")
      iterateRank(init, m0.getDouble(0), e, outdeg, "trustrank", iters) {
        (inflow, mass) =>
          lit(1.0 - d) * col("v") + lit(d) * (inflow + lit(mass) * col("v"))
      }.select(col("id"), col("trustrank"))
    } finally {
      ids.unpersist(); seeded.unpersist(); e.unpersist()
      outdeg.unpersist()
    }
  }

  /** PageRank over (src, dst) edges for the given node set: `iters`
    * power iterations at damping `d`, with ALL leaked mass — the rank
    * on dangling (outdegree-0) nodes AND the rank pushed along edges
    * whose dst is outside the node set (real crawl graphs constantly
    * link outside the fetched set) — redistributed uniformly, so the
    * vector keeps summing to 1.
    *
    * Per iteration ONE job ([[iterateRank]]): contributions = edges ⋈
    * ranks ⋈ out-degrees (one src-keyed shuffle), summed per dst, and
    * the new vector checkpoints (an unbroken 20-iteration plan would be
    * exponential to analyze) while observing the next iteration's
    * redistribution mass over a static per-node (dangling, frac_lost)
    * annotation. Duplicate edges count once (a page linking twice
    * votes once — the convention the oracle replays).
    *
    * Returns (id, pagerank) — callers round for oracles (unordered
    * float summation is ulp-stable far below the repo's round-6
    * convention). */
  def pageRank(nodes: DataFrame, edges: DataFrame,
               iters: Int = 3, d: Double = 0.85,
               idCol: String = "id", srcCol: String = "src",
               dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(d > 0.0 && d < 1.0, s"damping must be in (0,1): $d")
    val ids = nodes.select(col(idCol).as("id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // node count as a broadcast one-row column instead of a driver
    // count() job: every use below divides by it (lit(x)/col("__n")),
    // which is the same IEEE double division the old lit(x / n)
    // literal performed — bit-identical ranks, one less job
    val nRow = ids.agg(count(lit(1)).cast("double").as("__n"))
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // static annotation: dangling flag + the fraction of each node's
    // out-edges that leave the node set (their contributions would
    // otherwise vanish from total mass), carried with __n through
    // every round by the init checkpoint. lost's key renames: outdeg
    // and lost both descend from e, so a bare `src` on both sides of
    // flagged's joins is the SAME attribute id — Spark's
    // ambiguous-self-join check rejects it.
    val lost = e.join(ids, e("dst") === ids("id"), "left_anti")
      .groupBy(col("src")).agg(count(lit(1)).as("lost_cnt"))
      .withColumnRenamed("src", "lost_src")
    val flagged = ids
      .join(outdeg, ids("id") === outdeg("src"), "left")
      .join(lost, ids("id") === lost("lost_src"), "left")
      .crossJoin(broadcast(nRow))
      .select(ids("id"), col("deg").isNull.as("dangling"),
        (coalesce(col("lost_cnt"), lit(0L)).cast("double") /
          coalesce(col("deg"), lit(1L)).cast("double")).as("frac_lost"),
        col("__n"))
    try {
      val (init, m0) = Checkpoint(flagged.select(col("id"),
          col("dangling"), col("frac_lost"), col("__n"),
          (lit(1.0) / col("__n")).as("pagerank")),
        leakedMass("pagerank"))
      iterateRank(init, m0.getDouble(0), e, outdeg, "pagerank", iters) {
        (inflow, mass) =>
          lit(1.0 - d) / col("__n") + lit(d) * (inflow + lit(mass) / col("__n"))
      }.select(col("id"), col("pagerank"))
    } finally {
      ids.unpersist(); e.unpersist(); outdeg.unpersist()
    }
  }

  /** The mass a rank vector `r` leaks per round, observed by each
    * checkpoint job: the dangling rank (`when` without otherwise leaves
    * non-dangling rows null, which sum skips) plus the out-of-set edge
    * leak. */
  private def leakedMass(r: String): Column =
    (coalesce(sum(when(col("dangling"), col(r))), lit(0.0)) +
      coalesce(sum(col(r) * col("frac_lost")), lit(0.0))).as("mass")

  /** The power iteration [[pageRank]] and [[trustRank]] share, from the
    * checkpointed `start` (rank column `r` last, after its per-node
    * annotations) and its leaked `mass0`: per round one src-keyed
    * contribution join + one dst-keyed partial-agg sum, then ONE
    * [[Checkpoint]] job that also observes the next round's mass, and
    * the superseded round is released. `rank(inflow, mass)` is the new
    * value of `r`. */
  private def iterateRank(start: DataFrame, mass0: Double, e: DataFrame,
                          outdeg: DataFrame, r: String, iters: Int)(
      rank: (Column, Double) => Column): DataFrame = {
    val annotations = start.columns.dropRight(1)
    var ranks = start
    var mass = mass0
    (1 to iters).foreach { _ =>
      val contrib = e
        .join(ranks, e("src") === ranks("id"))
        .join(outdeg, Seq("src"))
        .select(col("dst"), (col(r) / col("deg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      val (next, m) = Checkpoint(ranks
          .join(contrib, ranks("id") === contrib("dst"), "left")
          .select(annotations.map(ranks(_)) :+
            rank(coalesce(col("inflow"), lit(0.0)), mass).as(r): _*),
        leakedMass(r))
      Checkpoint.release(ranks)
      ranks = next; mass = m.getDouble(0)
    }
    ranks
  }
}
