package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.UrlOps

/** The crawl scheduling loop — the middle half between seed discovery
  * (functions/Sitemaps.scala, WebGraph.outlinks) and the r15 fetch
  * front half (WARC → robots → extract): a URL frontier as a plain
  * DataFrame contract plus the four pure operators that drive a crawl
  * cycle. The reference app has no crawler; this family is the
  * 100 TB-corpus extension the brief asks for, built from the public
  * literature (politeness/per-host budgets as in Mercator, Heydon &
  * Najork 1999; multiplicative revisit adaptation as in Cho &
  * Garcia-Molina, TOIT 2003).
  *
  * Frontier schema (the contract every operator preserves):
  * {{{
  *   url            string  canonical ([[canonicalUrl]]: RFC 3986
  *                          dot-segment removal then normalizeUrl,
  *                          applied at seed/admit)
  *   host           string  UrlOps.hostOf(url)
  *   depth          int     hops from a seed (seeds = 0)
  *   priority       double  higher fetches sooner; default 1/(1+depth)
  *   fetch_count    bigint  completed fetch attempts
  *   fail_count     int     CONSECUTIVE non-success attempts
  *   last_fetch_ts  bigint  epoch seconds, null before first fetch
  *   content_hash   string  last successful body hash, null before
  *   interval_s     bigint  current revisit interval
  *   next_fetch_ts  bigint  epoch seconds the row becomes due; FROZEN
  *                          at the death fetch for dead/redirected
  *                          rows (they are never selected again, and
  *                          the freeze drops corpses into the
  *                          death-day bucket — the GC pruning law)
  *   state          string  'active' | 'dead' | 'redirected' (301/308
  *                          retired the row; its Location target got
  *                          its own row via [[redirectAdmissions]])
  *   etag           string  HTTP ETag validator of the last 2xx body,
  *                          null before / when the server sends none
  *   last_modified  bigint  epoch seconds: HTTP Last-Modified of the
  *                          last 2xx body, or the sitemap <lastmod>
  *                          hint at seed time; null when unknown
  * }}}
  * (the two validator columns append AFTER `state` so positional
  * consumers of the r17 11-column contract keep their indexes).
  *
  * The validators are what make revisits CHEAP at 10^10 rows: a fetch
  * loop reads (etag, last_modified) off the selected batch, sends
  * If-None-Match/If-Modified-Since, and a 304 answer costs zero body
  * bytes — the revisit law treats 304 as "unchanged" (interval grows,
  * fail count resets, content hash and validators keep), which at
  * steady state is MOST answers.
  *
  * Scale design (the part that must survive 10^10 URLs):
  *  - The frontier itself is mutable state; at scale it lives in the
  *    snapshot store (url-keyed hash buckets, StreamingOps
  *    snapshotUpsertSink) and these operators produce/consume plain
  *    frames: [[recrawlUpdates]] and [[admit]] each return exactly the
  *    rows that changed — an upsert batch, never a full-table rewrite.
  *  - [[selectBatch]] is one host-keyed window shuffle over the DUE
  *    subset (a tiny, time-filtered slice of the frontier — partition
  *    the store by next_fetch day-bucket and the scan prunes) followed
  *    by a global top-k that plans as TakeOrderedAndProject, never a
  *    full sort.
  *  - [[admit]]'s per-domain budget needs existing-row counts per
  *    registered domain; counting them by scanning the whole frontier
  *    is the naive path (kept as the default for small frontiers) —
  *    at scale pass `existingCounts`, a maintained (domain, n) stats
  *    frame updated incrementally from the same admit batches.
  *  - Every law is a codegen'd column expression; the DuckDB oracle
  *    rows replay them verbatim (crawl_* in QueriesCrawl.scala).
  */
object CrawlFrontier {

  /** Revisit adaptation policy (Cho & Garcia-Molina 2003's
    * multiplicative increase/decrease, clamped): a changed page halves
    * its interval, an unchanged one doubles it, a transient failure
    * backs off like unchanged, `maxFails` CONSECUTIVE failures — or a
    * 404/410 — kill the row. */
  final case class Revisit(minIntervalS: Long = 3600L,
                           maxIntervalS: Long = 30L * 86400L,
                           grow: Double = 2.0,
                           shrink: Double = 2.0,
                           maxFails: Int = 3) {
    require(grow >= 1.0 && shrink >= 1.0,
      s"grow/shrink are multiplicative factors >= 1, got $grow/$shrink")
    require(minIntervalS > 0 && maxIntervalS >= minIntervalS,
      s"need 0 < min <= max, got $minIntervalS/$maxIntervalS")
  }

  private val frontierCols = Seq("url", "host", "depth", "priority",
    "fetch_count", "fail_count", "last_fetch_ts", "content_hash",
    "interval_s", "next_fetch_ts", "state", "etag", "last_modified")

  /** Frontier URL identity: RFC 3986 §5.2.4 dot-segment removal, THEN
    * [[UrlOps.normalizeUrl]] — in that order, so `/x/../` spellings
    * whose residual path is bare `/` still take normalizeUrl's
    * trailing-slash collapse (`http://a.com/x/../` and
    * `http://a.com` mint ONE row). Without the dot stage,
    * `http://a.com/x/../y` and `http://a.com/y` minted two frontier
    * rows and two fetches — the crawl family's highest-frequency dup
    * miss (relative links a server never resolved). Shared by
    * [[seed]] and [[admit]]; both chains are pure codegen and the
    * seed/admit oracles replay them verbatim. Both stages bind their
    * input once via the one-element outer-transform recipe (the
    * UrlOps/WebGraph convention): normalizeUrl internally references
    * its argument several times, and handed the raw dot-segment tree
    * it would re-expand it per reference — the r17 probe measured the
    * naive composition at 4-6× on the composed crawl plans. */
  def canonicalUrl(url: Column): Column =
    element_at(transform(array(UrlOps.removeDotSegments(url)),
      d => UrlOps.normalizeUrl(d)), 1)

  /** W3C-datetime `<lastmod>` → epoch seconds at DAY resolution — the
    * granularity revisit scheduling needs; sitemap lastmods are
    * date-only far more often than not, and day resolution sidesteps
    * the timezone-offset forms entirely. The shape gate (strictly
    * zero-padded `YYYY-MM-DD` prefix) runs BEFORE the parse in both
    * engines, so non-padded spellings that one engine's cast would
    * tolerate never reach it (cross-engine parity); an in-shape but
    * impossible date (2026-02-31) yields null via the try parse.
    * Null/absent/junk → null: the caller's coalesce default applies. */
  def lastmodEpoch(lastmod: Column): Column = {
    val day = substring(lastmod, 1, 10)
    when(day.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
      try_to_timestamp(day, lit("yyyy-MM-dd")).cast("long"))
      .otherwise(lit(null).cast("long"))
  }

  /** Admit seed URLs: canonicalize, keep http(s) with a real host,
    * collapse duplicates (max priority / min interval / max lastmod —
    * deterministic aggregates, never an arbitrary first()), and stamp
    * the frontier columns with everything due `now`.
    * `priorityCol`/`intervalCol`/`lastmodCol` let a sitemap feed carry
    * its own `<priority>`/changefreq/`<lastmod>` values (null entries
    * fall back to the defaults via coalesce; lastmod parses via
    * [[lastmodEpoch]] into the `last_modified` validator column, so a
    * first fetch can already send If-Modified-Since — and [[reseed]]
    * can tell a re-announced entry from a changed one).
    * One url-keyed shuffle with map-side combine. */
  def seed(urls: DataFrame, now: Long,
           urlCol: String = "url",
           priorityCol: Option[String] = None,
           intervalCol: Option[String] = None,
           defaultIntervalS: Long = 86400L,
           depth: Int = 0,
           lastmodCol: Option[String] = None): DataFrame = {
    val defPr = lit(1.0 / (1 + depth))
    val pr = priorityCol
      .map(c => coalesce(col(c).cast("double"), defPr)).getOrElse(defPr)
    val iv = intervalCol
      .map(c => coalesce(col(c).cast("long"), lit(defaultIntervalS)))
      .getOrElse(lit(defaultIntervalS))
    val lm = lastmodCol.map(c => lastmodEpoch(col(c)))
      .getOrElse(lit(null).cast("long"))
    val canon = urls
      .select(canonicalUrl(col(urlCol)).as("url"),
        pr.as("priority"), iv.as("interval_s"), lm.as("last_modified"))
      .filter(col("url").rlike("^https?://"))
      .withColumn("host", UrlOps.hostOf(col("url")))
      .filter(length(col("host")) > 0)
    canon.groupBy("url", "host")
      .agg(max("priority").as("priority"),
        min("interval_s").as("interval_s"),
        max("last_modified").as("last_modified"))
      .select(newRowCols(lit(depth).cast("int"), col("priority"),
        col("interval_s"), now,
        lastModified = Some(col("last_modified"))): _*)
  }

  /** Fold a RE-announced seed wave (a sitemap re-read) into an existing
    * frontier: the changed-rows-only merge that keeps a nightly
    * sitemap pass from resetting a 10^10-row schedule. A known row is
    * pulled due `now` ONLY when the seed's lastmod claims a change
    * SINCE our last fetch (seed.last_modified > last_fetch_ts) and the
    * row isn't already due — a lastmod older than the row's last fetch
    * is a re-announcement, not news, and emits nothing. Dead rows stay
    * dead (a 410'd page re-listed by a stale sitemap must not
    * resurrect). Returns ONLY the updated rows (frontier-shaped, an
    * upsert batch — the [[recrawlUpdates]] convention); NEW urls are
    * [[admit]]'s job (`seeds.select(url, depth)` through the anti-join
    * gate). One url-equi inner join; the seed wave is small next to
    * the frontier, so AQE broadcasts it. */
  def reseed(frontier: DataFrame, seeds: DataFrame, now: Long): DataFrame = {
    val sd = seeds
      .filter(col("last_modified").isNotNull)
      .groupBy(col("url"))
      .agg(max(col("last_modified")).as("__seed_lm"))
    frontier.join(sd, Seq("url"))
      .filter(col("state") === "active" &&
        col("last_fetch_ts").isNotNull &&
        col("__seed_lm") > col("last_fetch_ts") &&
        col("next_fetch_ts") > lit(now))
      .withColumn("next_fetch_ts", lit(now))
      .withColumn("last_modified",
        greatest(col("last_modified"), col("__seed_lm")))
      .select(frontierCols.map(col): _*)
  }

  /** The next fetch batch: due active rows, at most `perHostCap` per
    * host (politeness — one slow host must not monopolize a cycle;
    * within a host highest priority first), then the global
    * `batchSize` best. Plan shape: ONE host-keyed window shuffle over
    * the due slice, then TakeOrderedAndProject for the global top-k —
    * no full sort at any scale (pinned in CrawlFrontierSpec). */
  def selectBatch(frontier: DataFrame, now: Long,
                  batchSize: Int, perHostCap: Int,
                  hostBudgets: Option[DataFrame] = None): DataFrame = {
    require(batchSize > 0 && perHostCap > 0,
      s"batchSize/perHostCap must be positive, got $batchSize/$perHostCap")
    val due = frontier.filter(col("state") === "active" &&
      col("next_fetch_ts") <= lit(now))
    val w = Window.partitionBy("host")
      .orderBy(col("priority").desc, col("url"))
    val ranked = due.withColumn("__host_rank", row_number().over(w))
    val capped = hostBudgets match {
      case None => ranked.filter(col("__host_rank") <= perHostCap)
      case Some(b) =>
        // per-host politeness budgets (e.g. [[politenessBudgets]] from
        // robots Crawl-delay): the budget TIGHTENS the global cap, it
        // never widens it; unbudgeted hosts keep the global cap. One
        // broadcast join — budgets are one row per host with a
        // declared delay, tiny next to the due slice.
        ranked.join(
            broadcast(b.select(col("host"), col("cap").cast("int")
              .as("__host_cap"))), Seq("host"), "left")
          .filter(col("__host_rank") <=
            least(lit(perHostCap), coalesce(col("__host_cap"),
              lit(perHostCap))))
          .drop("__host_cap")
    }
    capped.drop("__host_rank")
      .select(frontierCols.map(col): _*) // contract order, join moved host
      .orderBy(col("priority").desc, col("url"))
      .limit(batchSize)
  }

  /** Crawl-delay seconds → per-host batch budgets for [[selectBatch]]:
    * a host declaring delay `d` gets at most floor(window/d) fetches
    * per `windowS`-second scheduling window, floored at 1 so a huge
    * delay throttles but never starves. Input is
    * [[graft.functions.Robots.crawlDelays]] output keyed by host
    * (robots.txt is per-origin). */
  def politenessBudgets(delays: DataFrame, windowS: Long,
                        hostCol: String = "domain",
                        delayCol: String = "crawl_delay_s"): DataFrame = {
    require(windowS > 0, s"windowS must be positive, got $windowS")
    // clamp BEFORE the int cast: 'Crawl-delay: 0' (a real-world idiom
    // for "no delay") and any delay below window/Int.MaxValue would
    // otherwise floor to +Infinity/huge and the cast would wrap
    // negative — permanently STARVING the host, the exact opposite of
    // the directive. <= 0 or tiny means unthrottled here; selectBatch's
    // global cap still applies (least, never widened).
    // the DOUBLE clamps before floor: floor/cast of an overflowing
    // double is an ANSI runtime error, not a saturation
    val cap = when(col(delayCol) <= 0.0, lit(Int.MaxValue.toLong))
      .otherwise(greatest(lit(1L), floor(least(
        lit(Int.MaxValue.toDouble),
        lit(windowS.toDouble) / col(delayCol)))))
    delays.select(col(hostCol).as("host"), cap.cast("int").as("cap"))
  }

  // ——— politeness ACROSS waves ————————————————————————————————————
  // politenessBudgets caps a host within ONE scheduling window; when
  // cycles run faster than the window (a 30 s loop against a 600 s
  // budget window) each wave re-granted the full budget — a host
  // declaring Crawl-delay 60 got hit every 30 s. The fix is a tiny
  // maintained (host, window_start, used) frame: the budget a wave
  // may spend is cap MINUS what earlier waves of the SAME window
  // already spent, and the frame folds each selected wave back in.
  // Both operators are host-keyed aggregates/joins over frames that
  // are one-row-per-declared-host tiny; the frontier never shuffles.

  /** The budget still unspent in `now`'s window: `budgets` is
    * [[politenessBudgets]] output (host, cap); `usage` the maintained
    * frame (host, window_start, used). A usage row from an OLDER
    * window grants the full cap again (windows reset); remaining
    * floors at 0 (a host that filled its window sits the wave out,
    * it is never granted negative). Feed the result to
    * [[selectBatch]]'s `hostBudgets` — unbudgeted hosts keep the
    * global cap there, exactly as before. */
  def remainingBudgets(budgets: DataFrame, usage: DataFrame,
                       now: Long, windowS: Long): DataFrame = {
    require(windowS > 0, s"windowS must be positive, got $windowS")
    val curWin = (now / windowS) * windowS
    val u = usage.filter(col("window_start") === lit(curWin))
      .select(col("host"), col("used"))
    budgets.select(col("host"), col("cap").cast("long").as("__pb_cap"))
      .join(u, Seq("host"), "left")
      .select(col("host"),
        greatest(lit(0L),
          col("__pb_cap") - coalesce(col("used"), lit(0L))).as("cap"))
  }

  /** Fold a selected wave into the usage frame: counts add within the
    * current window, a window rollover resets the count, and rows
    * from older windows with no new activity DROP (the frame stays
    * one-row-per-recently-active-host — at 10^10 URLs it is bounded
    * by hosts-with-declared-delays, not by the frontier). Replaying
    * the same wave double-counts — run it once per wave inside the
    * loop's read-modify-write step (the maintained-rules
    * convention). */
  def updateHostUsage(usage: DataFrame, batch: DataFrame,
                      now: Long, windowS: Long): DataFrame = {
    require(windowS > 0, s"windowS must be positive, got $windowS")
    val curWin = (now / windowS) * windowS
    val delta = batch.groupBy(col("host"))
      .agg(count(lit(1)).as("__hu_delta"))
    usage.filter(col("window_start") === lit(curWin))
      .select(col("host"), col("used"))
      .join(delta, Seq("host"), "full_outer")
      .select(col("host"), lit(curWin).as("window_start"),
        (coalesce(col("used"), lit(0L)) +
          coalesce(col("__hu_delta"), lit(0L))).as("used"))
  }

  // ---- the revisit law, shared by the batch and streaming faces ----
  // Inputs: the frontier row's columns + the fetch attempt's
  // (f_fetch_ts, f_status, f_content_hash, f_etag, f_last_modified).
  // Pure expressions so both faces and the oracle replay stay
  // identical by construction.

  private def okC(s: Column) = s >= 200 && s <= 299
  private def goneC(s: Column) = s === 404 || s === 410
  private def notModC(s: Column) = s === 304
  // permanent vs temporary redirect statuses (RFC 9110 §15.4): 301/308
  // change the resource's identity; 302/303/307 speak to THIS request
  private def permRedirC(s: Column) = s === 301 || s === 308
  private def tempRedirC(s: Column) = s === 302 || s === 303 || s === 307

  private def lawCols(rv: Revisit, fTs: Column, fStatus: Column,
                      fHash: Column, fEtag: Column, fLastMod: Column,
                      fRetryAfter: Column, fLocation: Column): Seq[(String, Column)] = {
    val ok = okC(fStatus)
    val gone = goneC(fStatus)
    // the 304 regime (RFC 9110 §15.4.5): the validators we sent still
    // match, so the page is UNCHANGED by definition — zero body bytes
    // crossed the wire. Interval grows (the unchanged law), the fail
    // streak resets (304 is a healthy answer, not a failure), and
    // content hash + validators keep their stored values (a 304
    // carries no body to hash and re-asserts the validators we hold).
    val notMod = notModC(fStatus)
    // the redirect regime (RFC 9110 §15.4): a 3xx WITH a Location is a
    // healthy answer, not a failure — without this, a 301'd page burns
    // maxFails politeness-budgeted fetches, dies, and its target is
    // never admitted (the 10^10-URL crawl's largest systematic loss:
    // ~3% of real fetches redirect). 301/308 RETIRE the source row
    // (state 'redirected' — selectBatch never picks it again; the
    // Location target is [[redirectAdmissions]]' job, admitted at the
    // source's depth so the alias costs one row, not a recrawl tree);
    // 302/303/307 keep the row on the unchanged schedule — the target
    // answers THIS request only, so the fetcher SHOULD have followed
    // it inline (bounded hops) and reported the final status against
    // the source; one surfacing here means the hop budget ran out,
    // still an answer, not a failure. A 3xx MISSING its Location is
    // malformed and stays in the transient-failure class.
    val perm = permRedirC(fStatus) && fLocation.isNotNull
    val temp = tempRedirC(fStatus) && fLocation.isNotNull
    val changed = ok &&
      (col("content_hash").isNull || col("content_hash") =!= fHash)
    // floor-to-long keeps the law exact in both engines (doubles are
    // exact for any interval below 2^52 seconds)
    val shrunk = greatest(lit(rv.minIntervalS),
      floor(col("interval_s") / rv.shrink).cast("long"))
    val grown = least(lit(rv.maxIntervalS),
      floor(col("interval_s") * rv.grow).cast("long"))
    val interval = when(changed, shrunk)
      .when(gone || perm, col("interval_s")) // retired rows keep theirs
      .otherwise(grown) // unchanged success, 304, temp redirect, failure
    val fails = when(ok || gone || notMod || perm || temp, lit(0))
      .otherwise(col("fail_count") + 1)
    val state = when(gone, lit("dead"))
      .when(perm, lit("redirected"))
      .when(!ok && !notMod && !temp && fails >= rv.maxFails, lit("dead"))
      .otherwise(col("state"))
    // Retry-After (RFC 9110 §10.2.3): a failing host DECLARING its
    // backoff (429/503 with the header) must be believed when it asks
    // for MORE than the law's own doubled interval — hammering at the
    // multiplicative schedule while the server says "not for an hour"
    // is the classic politeness failure. It only ever POSTPONES the
    // next fetch (greatest, never earlier), only on non-ok non-gone
    // answers, and the stored interval keeps the backoff law (the
    // declaration is about THIS retry, not the page's change rate).
    // The honored value is CLAMPED at maxIntervalS — politeness means
    // believing a server's backoff, not letting a hostile/misconfigured
    // `Retry-After: 999999999` freeze a row for decades; the law never
    // waits longer than its own ceiling for any other reason either.
    val failing = !ok && !gone && !notMod && !perm && !temp
    val wait = when(failing && fRetryAfter.isNotNull,
      greatest(interval, least(fRetryAfter, lit(rv.maxIntervalS))))
      .otherwise(interval)
    // a RETIRING row's clock stops at death: dead and redirected rows
    // are never selected again, so next_fetch_ts carries no schedule —
    // freezing it at the death fetch drops every corpse into the
    // death-day bucket, which is what makes [[compactionDayBound]]'s
    // GC pruning UNCONDITIONALLY sound (a frozen next = death + wait
    // would sit up to the row's own interval PAST the retention
    // horizon — and seeded intervals, e.g. a sitemap changefreq
    // 'never' = 2 years, are legitimately larger than any law clamp)
    val retires = gone || perm ||
      (failing && fails >= rv.maxFails)
    Seq(
      "fetch_count" -> (col("fetch_count") + 1L),
      "fail_count" -> fails,
      "last_fetch_ts" -> fTs,
      "content_hash" -> when(ok, fHash).otherwise(col("content_hash")),
      // on a 2xx the response's validators REPLACE the stored ones —
      // null replaces too (the server stopped sending one; holding a
      // stale validator would mint wrong 304s forever); every other
      // outcome keeps what we hold
      "etag" -> when(ok, fEtag).otherwise(col("etag")),
      "last_modified" -> when(ok, fLastMod)
        .otherwise(col("last_modified")),
      "interval_s" -> interval,
      "next_fetch_ts" -> when(retires, fTs).otherwise(fTs + wait),
      "state" -> state)
  }

  private def applyLaw(joined: DataFrame, rv: Revisit,
                       guard: Option[Column]): DataFrame = {
    val updated = lawCols(rv, col("f_fetch_ts"),
      col("f_status"), col("f_content_hash"), col("f_etag"),
      col("f_last_modified"), col("f_retry_after"),
      col("f_location")).toMap
    joined.select(frontierCols.map { c =>
      val newC = updated.get(c).map { u =>
        guard.fold(u)(g => when(g, u).otherwise(col(c)))
      }.getOrElse(col(c))
      newC.as(c)
    }: _*)
  }

  /** The fetch-result projection every revisit face shares (the page
    * law AND the robots law — one place to extend the fetch contract):
    * the required columns cast, plus the OPTIONAL validator,
    * Retry-After, Cache-Control-max-age and Location columns (a
    * fetcher that doesn't record them — every pre-r18 caller — gets
    * nulls; each law's keep/fallback branches never see them).
    * Location should arrive ABSOLUTE — io/Warc.fromShardsDecoded
    * already resolves relative spellings against the request URL. */
  private def fetchProjection(fetched: DataFrame): DataFrame = {
    def opt(name: String, tpe: String) =
      if (fetched.columns.contains(name)) col(name).cast(tpe)
      else lit(null).cast(tpe)
    fetched.select(col("url"),
      col("fetch_ts").cast("long").as("f_fetch_ts"),
      col("status").cast("int").as("f_status"),
      col("content_hash").cast("string").as("f_content_hash"),
      opt("etag", "string").as("f_etag"),
      opt("last_modified", "long").as("f_last_modified"),
      opt("retry_after", "long").as("f_retry_after"),
      opt("max_age", "long").as("f_max_age"),
      // empty-string guard: a header-bag caller ('' = absent, the
      // httpHeader convention) must not turn a Location-less 301 into
      // a retire-with-no-target — the redirect classes key on
      // isNotNull, so '' must BE null here
      { val l = opt("location", "string")
        when(length(trim(l)) > 0, l).otherwise(lit(null).cast("string"))
      }.as("f_location"))
  }

  /** Latest attempt per url — a crawl cycle can retry; the most recent
    * result is the row's truth. Fully tie-broken (the validator
    * columns included — two same-ts same-status attempts differing
    * only in ETag must still pick deterministically), so
    * deterministic. */
  private def latestFetch(fetched: DataFrame): DataFrame = {
    val w = Window.partitionBy("url").orderBy(col("f_fetch_ts").desc,
      col("f_status").desc, col("f_content_hash").desc_nulls_last,
      col("f_etag").desc_nulls_last, col("f_last_modified").desc_nulls_last,
      col("f_retry_after").desc_nulls_last,
      col("f_max_age").desc_nulls_last, col("f_location").desc_nulls_last)
    fetchProjection(fetched)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Apply one cycle's fetch results to the WHOLE frontier (batch
    * face): rows with a result take the revisit law, the rest pass
    * through byte-identical. `fetched` needs (url, fetch_ts, status,
    * content_hash). One url-equi left join — a cycle's results are
    * small next to the frontier, so AQE broadcasts them. */
  def recrawlSchedule(frontier: DataFrame, fetched: DataFrame,
                      rv: Revisit = Revisit()): DataFrame =
    recrawlFromLatest(frontier, latestFetch(fetched), rv)

  private def recrawlFromLatest(frontier: DataFrame, latest: DataFrame,
                                rv: Revisit): DataFrame =
    applyLaw(frontier.join(latest, Seq("url"), "left"), rv,
      guard = Some(col("f_fetch_ts").isNotNull))

  /** The changed-rows-only face of [[recrawlSchedule]]: inner join, so
    * the output is exactly the upsert batch for a snapshot-store-held
    * frontier. Stateless (join + select), so it runs unchanged on a
    * STREAM of fetch results against a static/broadcast frontier —
    * each event yields one updated row, replays resolved by the
    * store's max-seq idempotent upsert (at-least-once is safe). On the
    * stream face no per-url latest-wins window runs (windows need
    * state); events apply in arrival order, which the idempotent sink
    * orders by seq. Batch/stream row parity is pinned in
    * CrawlFrontierSpec. */
  def recrawlUpdates(fetched: DataFrame, frontier: DataFrame,
                     rv: Revisit = Revisit()): DataFrame =
    applyLaw(fetchProjection(fetched).join(frontier, Seq("url")), rv,
      guard = None)

  /** Admit newly discovered links: canonicalize, depth-bound, collapse
    * to min depth per url, drop everything already in the frontier
    * (anti join), and enforce the per-registered-domain budget
    * COUNTING existing frontier rows — the crawl-mixing guard that
    * keeps one hot site from eating the corpus (same rule as
    * text_domain_cap, applied at admission where it's cheapest).
    * Returns only the ADMITTED rows (frontier-shaped) — an upsert
    * batch. `discovered` needs (url, depth) where depth is the
    * parent's + 1; admission priority defaults to 1/(1+depth) (the
    * breadth-first-ish prior; rescore later from pagerank if needed).
    *
    * Shuffles: url-keyed agg + anti join (same key — AQE reuses), one
    * domain window when capped. Uncapped (the default) skips the
    * domain machinery entirely. */
  def admit(frontier: DataFrame, discovered: DataFrame, now: Long,
            maxDepth: Int = 8,
            perDomainCap: Long = Long.MaxValue,
            defaultIntervalS: Long = 86400L,
            existingCounts: Option[DataFrame] = None): DataFrame = {
    val cand0 = discovered
      .select(canonicalUrl(col("url")).as("url"),
        col("depth").cast("int").as("depth"))
      .filter(col("url").rlike("^https?://") &&
        col("depth") <= lit(maxDepth))
      .withColumn("host", UrlOps.hostOf(col("url")))
      .filter(length(col("host")) > 0)
    val cand = cand0.groupBy("url", "host").agg(min("depth").as("depth"))
    val fresh = cand.join(frontier.select("url"), Seq("url"), "left_anti")
    val kept =
      if (perDomainCap == Long.MaxValue) fresh
      else {
        val existing = existingCounts.getOrElse(
          frontier.groupBy(UrlOps.registeredDomain(col("host"))
            .as("domain")).agg(count(lit(1)).as("n_existing")))
        fresh.withColumn("domain", UrlOps.registeredDomain(col("host")))
          .withColumn("__rnk", row_number().over(
            Window.partitionBy("domain")
              .orderBy(col("depth"), col("url"))))
          .join(existing, Seq("domain"), "left")
          .filter(col("__rnk") + coalesce(col("n_existing"), lit(0L)) <=
            lit(perDomainCap))
      }
    kept.select(newRowCols(col("depth"),
      lit(1.0) / (col("depth") + 1), lit(defaultIntervalS), now): _*)
  }

  /** The conditional-request face of a [[selectBatch]] wave: what the
    * fetcher actually sends — (url, host, if_none_match,
    * if_modified_since) with If-None-Match the stored ETag verbatim
    * (RFC 9110 §13.1.2: the validator echoes back exactly as
    * received) and If-Modified-Since the stored last_modified epoch
    * rendered as an IMF-fixdate (§5.6.7's only currently-generated
    * form, always GMT, English day/month names); rows holding neither
    * validator emit nulls — an unconditional fetch. Pure per-row
    * codegen over the batch, and SESSION-TIMEZONE-FREE: the epoch is
    * split into UTC day + second-of-day arithmetically, the calendar
    * part renders off a DATE (dates carry no zone — `date_format` on
    * a date round-trips its own fields in any session zone) and the
    * clock part is integer arithmetic — a non-UTC caller session gets
    * the same GMT instant, never a local time wearing a GMT label
    * (which would be a validator off by the zone offset and silently
    * wrong 304s). Closes the loop the 304 regime of the revisit law
    * answers. */
  def fetchRequests(batch: DataFrame): DataFrame = {
    val lm = col("last_modified")
    val days = floor(lm / 86400.0).cast("long")
    val secs = lm - days * 86400L
    val d = date_add(to_date(lit("1970-01-01")), days.cast("int"))
    val two = (c: Column) => lpad(c.cast("string"), 2, "0")
    val fixdate = concat(
      date_format(d, "EEE, dd MMM yyyy"), lit(" "),
      two(floor(secs / 3600.0).cast("long")), lit(":"),
      two(floor((secs % 3600L) / 60.0).cast("long")), lit(":"),
      two(secs % 60L), lit(" GMT"))
    batch.select(col("url"), col("host"),
      col("etag").as("if_none_match"),
      when(lm.isNotNull, fixdate)
        .otherwise(lit(null).cast("string")).as("if_modified_since"))
  }

  /** The wire→law bridge: one cycle's decoded raw captures
    * (io/Warc.fromShardsDecoded — status, raw validator/politeness
    * headers, Location, charset-decoded body) → the fetch-result
    * contract every revisit face consumes. The column laws, in one
    * place so a deployment cannot wire them inconsistently:
    * content_hash = md5 over the DECODED body text on 2xx only (
    * charset-normalized, so two captures of one page in different
    * charsets hash equal; a 304/3xx/error body — usually an error
    * shell — must not read as "content changed"); etag rides verbatim
    * ('' → null, the header-bag absence convention); Last-Modified
    * parses via the zone-free imfFixdateEpoch; Retry-After /
    * Cache-Control parse via their numeric-gated scalars; Location
    * resolves RELATIVE forms against the request URI (RFC 9110
    * §10.2.2 allows them, the real web uses them constantly) — an
    * unresolved relative Location would mint a garbage admission.
    * `fetchTs` is the cycle clock (WARC capture dates stay in the
    * archive layer). Pure per-row codegen over the decoded frame;
    * feeds [[recrawlUpdates]]/[[recrawlSchedule]]/
    * [[redirectAdmissions]]/[[robotsRecrawlUpdates]] unchanged. */
  def fetchResults(decoded: DataFrame, fetchTs: Long): DataFrame = {
    import graft.functions.TextExtraction
    val loc = trim(col("location"))
    decoded.select(
      col("target_uri").as("url"),
      lit(fetchTs).as("fetch_ts"),
      col("http_status").as("status"),
      when(okC(col("http_status")), md5(col("body_text")))
        .otherwise(lit(null).cast("string")).as("content_hash"),
      when(length(trim(col("etag"))) > 0, col("etag"))
        .otherwise(lit(null).cast("string")).as("etag"),
      TextExtraction.imfFixdateEpoch(col("last_modified"))
        .as("last_modified"),
      TextExtraction.retryAfterSeconds(col("retry_after"))
        .as("retry_after"),
      TextExtraction.cacheControlMaxAge(col("cache_control"))
        .as("max_age"),
      when(length(loc) > 0,
        graft.operators.WebGraph.resolveUrl(col("location"),
          col("target_uri")))
        .otherwise(lit(null).cast("string")).as("location"))
  }

  /** Permanent-redirect edges out of one cycle's fetch results:
    * (src, dst) with both endpoints canonical, one row per redirecting
    * source (latest attempt wins), 301/308-with-Location only — the
    * frame [[graft.operators.WebGraph.resolveRedirects]] walks and
    * [[graft.operators.WebGraph.contractEdges]] contracts, fed
    * straight from the crawl loop instead of a separate ingest pass.
    * Temporary redirects (302/303/307) are deliberately absent: they
    * speak to one request, not the resource's identity, so aliasing
    * on them would merge pages that are not the same page. */
  def redirectEdges(fetched: DataFrame): DataFrame =
    latestFetch(fetched)
      .filter(permRedirC(col("f_status")) && col("f_location").isNotNull)
      .select(canonicalUrl(col("url")).as("src"),
        canonicalUrl(col("f_location")).as("dst"))
      .filter(col("dst").rlike("^https?://"))

  /** Admit the Location targets of this cycle's PERMANENT redirects —
    * the other half of the 301 law ([[lawCols]] retires the source as
    * 'redirected'; this mints the target's row, so the content moves
    * instead of vanishing). The target inherits the SOURCE's depth
    * (an alias is the same page, not a deeper discovery — charging a
    * hop would push a moved site past maxDepth one directory at a
    * time), and admission runs through [[admit]] entire: canonical
    * identity, the frontier anti-join (a target already known — in
    * any state — mints nothing), the per-domain budget, trap-family
    * economics. A redirect CHAIN resolves one hop per wave, each hop
    * one admitted row bounded by the anti-join (a cycle terminates
    * the moment it points back at any known row, so a↔b costs two
    * rows total, ever); collapse long chains offline with
    * [[graft.operators.WebGraph.resolveRedirects]] over
    * [[redirectEdges]] when contraction needs the terminal URL NOW.
    * One url-equi join against the (tiny) redirect slice + admit's
    * own shuffles. */
  def redirectAdmissions(fetched: DataFrame, frontier: DataFrame,
                         now: Long, maxDepth: Int = 8,
                         perDomainCap: Long = Long.MaxValue,
                         defaultIntervalS: Long = 86400L,
                         existingCounts: Option[DataFrame] = None)
      : DataFrame =
    admit(frontier, redirectTargets(fetched, frontier), now, maxDepth,
      perDomainCap, defaultIntervalS, existingCounts)

  /** The (url, depth) admission candidates behind
    * [[redirectAdmissions]] — exposed so a cycle admitting BOTH link
    * discoveries and redirect targets can union the two frames into
    * ONE [[admit]] call ([[step]] does): separate admit calls would
    * each count the domain budget blind to the other and could mint
    * the same URL twice when a page links to where another page just
    * moved. */
  def redirectTargets(fetched: DataFrame, frontier: DataFrame): DataFrame =
    targetsFromLatest(latestFetch(fetched), frontier)

  private def targetsFromLatest(latest: DataFrame,
                                frontier: DataFrame): DataFrame =
    latest
      .filter(permRedirC(col("f_status")) && col("f_location").isNotNull)
      .select(col("url").as("__rd_src"), col("f_location"))
      .join(frontier.select(col("url").as("__rd_src"), col("depth")),
        Seq("__rd_src"))
      .select(col("f_location").as("url"), col("depth"))

  /** URL template — the trap-detection key: the URL's host + path +
    * query with every varying token collapsed, so the infinite URL
    * families a crawler trap generates (calendars, session ids,
    * faceted-search permutations) fall into ONE bucket whose fanout
    * is countable. The collapse law, in order (each stage RE2-safe
    * and oracle-replayable): (1) alphanumeric runs of >= 16 chars →
    * 'S' (base64-ish path session tokens — a LETTER-only or
    * mixed-case token defeats the digit stage, so without this rule
    * every spelling mints its own template and the trap is missed),
    * (2) hex runs of >= 8 chars → 'H' (content hashes, uuids —
    * BEFORE the digit stage, which would split them), (3) digit runs
    * → 'D', (4) every query-param value → 'V' (keys survive:
    * `?page=` vs `?sessionid=` are different templates). Scheme is
    * dropped (http/https twins share a template); the input should
    * already be canonical ([[canonicalUrl]] — dot segments removed,
    * so `/x/../y` spellings template as `/y`). '' for
    * null/schemeless (the hostOf convention). Pure per-row codegen. */
  def urlTemplate(url: Column): Column = {
    val host = UrlOps.hostOf(url)
    val pathq = UrlOps.pathOf(url)
    val tokened = regexp_replace(pathq, "[0-9a-zA-Z]{16,}", "S")
    val hexed = regexp_replace(tokened, "[0-9a-fA-F]{8,}", "H")
    val digited = regexp_replace(hexed, "[0-9]+", "D")
    val valued = regexp_replace(digited, "([?&][^&#=]*=)[^&#]*", "$1V")
    when(length(host) > 0, concat(host, valued)).otherwise(lit(""))
  }

  /** Per-(host, template) DISTINCT-URL fanout over a URL frame — the
    * unfiltered stats face behind [[trapTemplates]], and the frame
    * [[updateTrapStats]] maintains incrementally so a 10^10-row
    * frontier is never rescanned. One template-keyed aggregate with
    * map-side combine; the template is per-row codegen. Returns
    * (host, template, n_urls). */
  def trapStats(urls: DataFrame, urlCol: String = "url"): DataFrame = {
    val u = urls.select(col(urlCol).as("__u"))
      .withColumn("template", urlTemplate(col("__u")))
      .filter(length(col("template")) > 0)
      .withColumn("host", UrlOps.hostOf(col("__u")))
    u.groupBy(col("host"), col("template"))
      .agg(countDistinct(col("__u")).as("n_urls"))
  }

  /** Fold an ADMIT batch into a maintained trap-stats frame: the
    * delta's per-template distinct counts merge by full-outer sum, so
    * the stats stay exact WITHOUT rescanning the frontier — exactness
    * rides on the batch being genuinely new URLs, which [[admit]]'s
    * anti-join guarantees (feeding raw discoveries would double-count
    * re-sightings). One aggregate over the batch + one stats-keyed
    * merge join; the frontier itself is never touched. Flag traps off
    * the maintained frame with `stats.filter(n_urls > cap)` — the
    * same shape [[trapTemplates]] returns. */
  def updateTrapStats(stats: DataFrame, admitted: DataFrame,
                      urlCol: String = "url"): DataFrame = {
    val delta = trapStats(admitted, urlCol)
      .withColumnRenamed("n_urls", "__delta")
    stats.select(col("host"), col("template"), col("n_urls"))
      .join(delta, Seq("host", "template"), "full_outer")
      .select(col("host"), col("template"),
        (coalesce(col("n_urls"), lit(0L)) +
          coalesce(col("__delta"), lit(0L))).as("n_urls"))
  }

  /** Detect crawler traps: (host, template) buckets whose DISTINCT-URL
    * fanout exceeds `maxPerTemplate` — no real content family mints
    * thousands of spellings of one path shape, but calendar pages,
    * session-id mirrors and faceted search do, and left unchecked
    * they eat the whole politeness budget of their host. Input is any
    * URL frame (typically the frontier ∪ the discovery stream);
    * returns (host, template, n_urls) for the flagged buckets only.
    * At 10^10 URLs, maintain the counts incrementally via
    * [[updateTrapStats]] instead of rescanning. */
  def trapTemplates(urls: DataFrame, maxPerTemplate: Long,
                    urlCol: String = "url"): DataFrame = {
    require(maxPerTemplate >= 1,
      s"maxPerTemplate must be >= 1: $maxPerTemplate")
    trapStats(urls, urlCol).filter(col("n_urls") > lit(maxPerTemplate))
  }

  /** Drop discovered URLs whose template is a flagged trap — the
    * admission gate that keeps trap families out of the frontier.
    * `traps` is [[trapTemplates]] output (or the incrementally
    * maintained equivalent); the join is template-keyed against a
    * frame that is tiny by construction (flagged buckets only) →
    * AQE broadcasts it. Column set passes through unchanged. */
  def filterTraps(discovered: DataFrame, traps: DataFrame,
                  urlCol: String = "url"): DataFrame = {
    val t = traps.select(col("template").as("__trap_template"))
    discovered
      .withColumn("__tpl", urlTemplate(col(urlCol)))
      .join(t, col("__tpl") === t("__trap_template"), "left_anti")
      .drop("__tpl")
  }

  /** Drop discovered URLs the host's robots.txt disallows — the RFC
    * 9309 compliance gate at ADMISSION, where it belongs: a
    * disallowed URL must never be admitted, never consume domain
    * budget, never be scheduled, and above all never be FETCHED
    * (not fetching disallowed URLs is the protocol's whole point —
    * an ingest-time gate sees the page only after the fetch already
    * happened, a compliance violation in spirit and wasted
    * politeness budget). `robotsByHost` is
    * [[graft.functions.Robots.rulesByDomain]] output keyed by HOST
    * (robots.txt is per-origin — the webIngestStream convention);
    * hosts without a row allow everything, per
    * [[graft.functions.Robots.allowedCol]]'s null-array law. The
    * verdict evaluates against the CANONICAL identity
    * ([[canonicalUrl]]) — the path the crawler would actually
    * request; input columns pass through unchanged (the
    * [[filterTraps]] convention), so the gate composes anywhere in
    * the pre-admit chain. The rules frame is PROJECTED to
    * (domain, robots_rules) before the broadcast, so the lifecycle
    * frame [[graft.functions.Robots.rulesFromFetch]] maintains —
    * which carries robots_status/fetched_at metadata — feeds the gate
    * unchanged. One broadcast join + one scalar aggregate
    * expression — stateless and windowless, so the identical gate is
    * legal on a standing discovery STREAM (stream-static join), and
    * zero extra shuffles in batch. `broadcastRules` is the scale
    * escape hatch (the ANN family's oversize-LUT convention): the
    * default broadcast is right for any per-agent rules frame that
    * fits an executor (most crawls — one row per RULED host), but a
    * frontier spanning 10^8 ruled hosts carries a rules frame no
    * driver should materialize — pass false and the gate degrades to
    * a host-keyed partitioned join (one shuffle of each side, same
    * verdicts, still stream-static-legal) instead of OOM-broadcasting. */
  def gateRobots(discovered: DataFrame, robotsByHost: DataFrame,
                 urlCol: String = "url",
                 broadcastRules: Boolean = true): DataFrame = {
    import graft.functions.Robots
    Seq("robots_rules", "__rg_canon").foreach(n =>
      require(!discovered.columns.contains(n),
        s"gateRobots: the discovered frame must not carry a column " +
          s"named '$n' (internal to the verdict) — rename it"))
    val rules0 = robotsByHost.select(col("domain"), col("robots_rules"))
    val rules = if (broadcastRules) broadcast(rules0) else rules0
    // materialize the canonical identity ONCE per row (a projection
    // column, not an inline expansion): hostOf and pathOf both
    // consume it, and the canonicalization chain is the expensive
    // part — inlined twice it would double the per-row regex cost
    discovered
      .withColumn("__rg_canon", canonicalUrl(col(urlCol)))
      .join(rules,
        UrlOps.hostOf(col("__rg_canon")) === rules("domain"),
        "left")
      .drop(rules("domain"))
      .filter(Robots.allowedCol(UrlOps.pathOf(col("__rg_canon")),
        col("robots_rules")))
      .drop("robots_rules", "__rg_canon")
  }

  // ——— the robots.txt LIFECYCLE (RFC 9309 §2.3-2.4) ————————————————
  // Rules aren't static: a compliant crawler FETCHES each origin's
  // /robots.txt, refreshes it on a ~24 h cadence (§2.4 allows caching
  // up to that order), and maps fetch failures to verdicts (§2.3.1).
  // The robots URL is just another frontier row with a FIXED revisit
  // interval; its fetch results feed Robots.rulesFromFetch →
  // Robots.updateRules (the read-modify-write convention) and the
  // maintained frame feeds [[gateRobots]] unchanged.

  /** True when a canonical URL is an origin's robots.txt — the router
    * that splits a mixed fetch-result stream between the page law
    * ([[recrawlUpdates]]) and the robots law
    * ([[robotsRecrawlUpdates]]). Matches the exact path (RFC 9309
    * §2.3: the file lives at /robots.txt, nowhere else). */
  def isRobotsUrl(url: Column): Column =
    UrlOps.pathOf(url) === "/robots.txt"

  /** Frontier rows for each host's robots.txt, due `now`: priority 2.0
    * (above every page row's ≤ 1.0 prior, so a due robots fetch leads
    * its host's batch — rules must land before the pages they govern)
    * and a FIXED `refreshIntervalS` revisit (~24 h default, the §2.4
    * cache bound). `hosts` needs a `hostCol` column; scheme is https
    * (the modern default; a real fetcher follows the 301 to http-only
    * origins, and [[robotsRecrawlUpdates]] treats an unresolved
    * redirect like any non-2xx answer). Dedups by host. */
  def robotsSeeds(hosts: DataFrame, now: Long,
                  hostCol: String = "host",
                  refreshIntervalS: Long = 86400L): DataFrame = {
    require(refreshIntervalS > 0,
      s"refreshIntervalS must be positive: $refreshIntervalS")
    seed(hosts.select(concat(lit("https://"), col(hostCol),
        lit("/robots.txt")).as("url"), lit(2.0).as("__rb_pr")),
      now, priorityCol = Some("__rb_pr"),
      defaultIntervalS = refreshIntervalS)
  }

  /** The robots-row revisit law — [[recrawlUpdates]]' shape (inner
    * join, changed-rows-only upsert batch) under the lifecycle's OWN
    * policy. NOT a pure-stream operator since r19: retries collapse
    * latest-wins through a per-url window, so apply it per cycle
    * inside foreachBatch (where every standing composition runs it —
    * the window is legal on the cycle's batch frame); the window-free
    * stream face remains [[recrawlUpdates]], whose page law this
    * deliberately is not. The policy: the next fetch
    * is always `fetch_ts + refreshIntervalS` (a fixed cadence — rules
    * freshness is a compliance bound, not an adaptation target), and
    * the row NEVER dies — a 404 means allow-all TODAY (§2.3.1.3) but
    * the host may publish rules tomorrow, so unlike a page row the
    * robots row must outlive every failure and keep refreshing.
    * fail_count still counts consecutive non-answers (2xx/3xx/4xx
    * EXCEPT 429 reset it — each is a definitive §2.3.1 verdict;
    * 429/5xx/unreachable increment) so a monitor can see a host whose
    * robots.txt never answers. Content hash and validators follow the page law (a 304
    * robots answer is as good as an unchanged 200 — and far
    * cheaper). An optional `max_age` column on `fetched` (seconds —
    * [[graft.functions.TextExtraction.cacheControlMaxAge]] over the
    * response's Cache-Control value) postpones THIS refresh (the
    * stored cadence never changes), floored at `minRefreshS` — but
    * ONLY on a 2xx/304
    * answer: §2.4's cache-control exception speaks to a successfully
    * fetched robots file, and honoring a 5xx error page's max-age
    * (CDN error shells routinely declare a week) would let an OUTAGE
    * postpone the disallow-all recovery arbitrarily — the failure
    * cadence stays the default so the host re-checks on schedule.
    * The floor keeps a hostile max-age=0 from turning the refresh
    * loop into a hammer, and the 7×-cadence CEILING keeps a hostile
    * `max-age: 999999999` from freezing a host's rules refresh for
    * decades — a week-stale robots.txt is the most §2.4 can be read
    * to bless. 429 is carved OUT of the answered class: rate-limited
    * means NO verdict was delivered (§2.3.1.4's "unreachable", an
    * explicit don't-retry-yet — [[graft.functions.Robots.rulesFromFetch]]
    * files it as complete-disallow, not allow-all), so it counts the
    * failure and keeps the default cadence. Retries within one cycle
    * collapse latest-wins BEFORE the law (the [[recrawlSchedule]]
    * routing), so two attempts for one robots URL emit ONE upsert
    * row, never two conflicting ones. */
  def robotsRecrawlUpdates(fetched: DataFrame, frontier: DataFrame,
                           refreshIntervalS: Long = 86400L,
                           minRefreshS: Long = 300L): DataFrame = {
    require(refreshIntervalS > 0,
      s"refreshIntervalS must be positive: $refreshIntervalS")
    require(minRefreshS > 0 && minRefreshS <= refreshIntervalS,
      s"need 0 < minRefreshS <= refreshIntervalS, got " +
        s"$minRefreshS/$refreshIntervalS")
    fixedCadenceUpdates(fetched, frontier, lit(refreshIntervalS),
      minRefreshS)
  }

  /** The never-dies fixed-cadence law [[robotsRecrawlUpdates]] and
    * [[sitemapRecrawlUpdates]] share: next fetch = fetch_ts + wait,
    * where wait is the cadence unless a 2xx/304 declared a max-age —
    * honored within [minRefreshS, 7×cadence] but postponing only
    * THIS refresh: `interval_s` stays the CADENCE itself, never the
    * honored wait, because for the sitemap law the cadence is read
    * back from the row — storing the wait would let a hostile feed
    * compound its own ceiling 7× per fetch (604800 → 4233600 → …)
    * until the row is frozen for decades, precisely what the clamp
    * exists to prevent. 429 carved out of the answered class, the
    * row always stays 'active', retries collapsed latest-wins
    * upstream. */
  private def fixedCadenceUpdates(fetched: DataFrame, frontier: DataFrame,
                                  cadence: Column,
                                  minRefreshS: Long): DataFrame = {
    val joined = latestFetch(fetched).join(frontier, Seq("url"))
    val ok = okC(col("f_status"))
    val answered = col("f_status") >= 200 && col("f_status") <= 499 &&
      col("f_status") =!= 429
    val wait = when((ok || notModC(col("f_status"))) &&
        col("f_max_age").isNotNull,
      greatest(lit(minRefreshS),
        least(col("f_max_age"), lit(7L) * cadence)))
      .otherwise(cadence)
    joined.select(
      col("url"), col("host"), col("depth"), col("priority"),
      (col("fetch_count") + 1L).as("fetch_count"),
      when(answered, lit(0)).otherwise(col("fail_count") + 1)
        .as("fail_count"),
      col("f_fetch_ts").as("last_fetch_ts"),
      when(ok, col("f_content_hash")).otherwise(col("content_hash"))
        .as("content_hash"),
      cadence.as("interval_s"),
      (col("f_fetch_ts") + wait).as("next_fetch_ts"),
      lit("active").as("state"),
      when(ok, col("f_etag")).otherwise(col("etag")).as("etag"),
      when(ok, col("f_last_modified")).otherwise(col("last_modified"))
        .as("last_modified"))
  }

  // ——— the sitemap LIFECYCLE: feeds as frontier rows ———————————————
  // r18 put robots.txt rows in the frontier so rules refresh through
  // the loop itself; sitemaps get the same treatment: the feed URL is
  // a frontier row on its own cadence (the publisher's <changefreq>,
  // or daily), its fetched BODY routes through Sitemaps.urlEntries →
  // [[sitemapFold]] inside the same cycle — re-announcements emit
  // nothing, changed lastmods pull their page rows due, new URLs seed
  // — so a standing crawl keeps absorbing publisher schedules with
  // zero schedule churn for the unchanged rest.

  /** True when a canonical URL looks like a sitemap feed by PATH SHAPE
    * — anything under /sitemap… ending .xml or .xml.gz (the
    * convention virtually every publisher follows: /sitemap.xml,
    * /sitemap_index.xml, /sitemaps/part1.xml.gz — and the paginated
    * children real index trees emit, `/sitemap_products_1.xml?from=1`,
    * whose QUERY must not defeat the anchor: pathOf carries
    * path+query, so the .xml(.gz) suffix matches immediately before
    * '?' too, else the loop would route a seeded child feed to the
    * PAGE law, silently lose every URL it announces, and eventually
    * kill a row the sitemap law says never dies). The router that
    * splits a mixed fetch-result stream toward the sitemap law, the
    * [[isRobotsUrl]] sibling. Sitemaps announced at arbitrary paths
    * by a robots `Sitemap:` directive won't match a shape test BY
    * DESIGN — route those by membership against
    * [[graft.functions.Robots.sitemapUrls]]' url set (a semi-join in
    * the loop), and OR the two verdicts. */
  def isSitemapUrl(url: Column): Column =
    UrlOps.pathOf(url).rlike("(?i)^/sitemap[^?#]*\\.xml(\\.gz)?(\\?.*)?$")

  /** Frontier rows for sitemap feed URLs, due `now`: priority 1.5 —
    * above every page row's ≤ 1.0 prior (announcements should land
    * before the pages they announce) but below robots' 2.0 (rules
    * govern whether the feed itself may be fetched). Cadence comes
    * from `intervalCol` when the caller knows the publisher's
    * changefreq (pass Sitemaps.changefreqSeconds output), else
    * `refreshIntervalS` (~daily — sitemaps.org's own suggested
    * re-read order). Dedups by url via [[seed]]. */
  def sitemapSeeds(feeds: DataFrame, now: Long,
                   urlCol: String = "url",
                   intervalCol: Option[String] = None,
                   refreshIntervalS: Long = 86400L): DataFrame = {
    require(refreshIntervalS > 0,
      s"refreshIntervalS must be positive: $refreshIntervalS")
    seed(feeds.select(col(urlCol).as("url"), lit(1.5).as("__sm_pr"),
        intervalCol.map(col).getOrElse(lit(null).cast("long"))
          .as("__sm_iv")),
      now, priorityCol = Some("__sm_pr"), intervalCol = Some("__sm_iv"),
      defaultIntervalS = refreshIntervalS)
  }

  /** The sitemap-row revisit law: [[robotsRecrawlUpdates]]' shape
    * under the row's OWN cadence — `interval_s` as stamped by
    * [[sitemapSeeds]] (the publisher's changefreq), not a global
    * constant, so a news sitemap on 'hourly' and an archive on
    * 'monthly' coexist in one frontier. Same politeness envelope:
    * max-age honored on 2xx/304 within [minRefreshS, 7×cadence], 429
    * counts the failure, the row never dies (a 404'd feed may
    * reappear; the fetch costs one conditional request a cadence). */
  def sitemapRecrawlUpdates(fetched: DataFrame, frontier: DataFrame,
                            minRefreshS: Long = 300L): DataFrame = {
    require(minRefreshS > 0, s"minRefreshS must be positive: $minRefreshS")
    fixedCadenceUpdates(fetched, frontier, col("interval_s"), minRefreshS)
  }

  /** Fold one cycle's fetched-and-parsed sitemap ENTRIES into the
    * frontier — the body half of the sitemap lifecycle ([[
    * sitemapRecrawlUpdates]] reschedules the feed row; this routes
    * what the feed SAID). `entries` is Sitemaps.urlEntries exploded:
    * (loc, lastmod, changefreq, priority) raw strings per announced
    * URL. Known rows take [[reseed]]'s changed-rows-only law (a
    * re-announcement emits NOTHING; a lastmod newer than our fetch
    * pulls the row due `now`); unknown URLs seed fresh at depth 0
    * with the publisher's declared priority/changefreq/lastmod riding
    * into the row — they are announcements by the host itself, not
    * link discoveries, so they take [[seed]]'s path, not [[admit]]'s
    * depth accounting. Returns ONLY changed/new rows (an upsert
    * batch). An untrusted feed composes the usual gates upstream
    * (gateRobots / filterTraps / a domain cap on the entries frame).
    * Shuffles: seed's url-keyed agg + reseed's equi join + one
    * anti join — every one keyed on url, AQE broadcasts the feed
    * side. */
  def sitemapFold(frontier: DataFrame, entries: DataFrame, now: Long,
                  defaultIntervalS: Long = 86400L): DataFrame = {
    import graft.functions.Sitemaps
    val seeds = seed(
      entries.select(col("loc").as("url"),
        Sitemaps.priorityValue(col("priority")).as("__sf_pr"),
        Sitemaps.changefreqSeconds(col("changefreq")).as("__sf_iv"),
        col("lastmod").as("__sf_lm")),
      now, priorityCol = Some("__sf_pr"), intervalCol = Some("__sf_iv"),
      defaultIntervalS = defaultIntervalS, lastmodCol = Some("__sf_lm"))
    reseed(frontier, seeds, now)
      .unionByName(
        seeds.join(frontier.select("url"), Seq("url"), "left_anti"))
  }

  /** Fold one cycle's fetched sitemap BODIES whole — the dispatch over
    * [[sitemapFold]] a real crawl needs because big publishers serve
    * a `<sitemapindex>` at the top, not a urlset: index bodies yield
    * their CHILD FEED locations, seeded as new sitemap rows
    * ([[sitemapSeeds]]' law — priority 1.5, the feed cadence, the
    * anti-join keeps known children on their own schedule), so the
    * tree walks itself one level per cadence tick through the
    * standing loop; urlset bodies take [[sitemapFold]] unchanged.
    * `bodies` is (urlCol, xmlCol) — decoded text; route `.xml.gz`
    * payloads through Sitemaps.decodeFeeds first. Returns one upsert
    * batch. The parse stages are the codegen'd Sitemaps pulls; the
    * dispatch adds no shuffle beyond the two folds'. */
  def sitemapBodiesFold(frontier: DataFrame, bodies: DataFrame,
                        now: Long,
                        urlCol: String = "url", xmlCol: String = "xml",
                        defaultIntervalS: Long = 86400L,
                        feedRefreshIntervalS: Long = 86400L): DataFrame = {
    import graft.functions.Sitemaps
    val b = bodies.select(col(urlCol).as("__sb_url"),
      col(xmlCol).as("__sb_xml"))
    val children = b.filter(Sitemaps.isIndex(col("__sb_xml")))
      .select(explode(Sitemaps.indexEntries(col("__sb_xml"))).as("url"))
    val childSeeds = sitemapSeeds(children, now,
        refreshIntervalS = feedRefreshIntervalS)
      .join(frontier.select("url"), Seq("url"), "left_anti")
    val entries = b.filter(!Sitemaps.isIndex(col("__sb_xml")))
      .select(explode(Sitemaps.urlEntries(col("__sb_xml"))))
      .select(col("col.*"))
    // one row per URL per batch: when an index lists a URL as a child
    // FEED and a urlset announces the same URL as a PAGE in the same
    // cycle, the feed row wins (it is governance — the page reading
    // would strip the 1.5 priority and the feed cadence) — without
    // the anti-join both rows reach the store under one seq and an
    // arbitrary one survives
    sitemapFold(frontier, entries, now, defaultIntervalS)
      .join(childSeeds.select("url"), Seq("url"), "left_anti")
      .unionByName(childSeeds)
  }

  /** The archive write decision for one cycle — the glue between the
    * revisit law's verdicts and the WARC writers (io/Warc): per
    * answered fetch, `kind` says what the archive stores —
    *  - 'response': a 2xx whose hash differs from the held capture
    *    (or a first capture) → store the body
    *    (io/Warc.toShardsRaw/toRecordShards);
    *  - 'revisit': a 2xx whose hash MATCHES the held capture (the
    *    identical-payload-digest profile — byte identity verified
    *    this fetch) or a 304 against a held capture (the
    *    server-not-modified profile, WARC 1.1 §6.7.3 — the SERVER
    *    asserted validator equality; nothing was hashed this fetch,
    *    and claiming byte-identity would put a false claim in the
    *    archive) → store ~300 B of linkage instead
    *    (io/Warc.toRevisitShards consumes these columns verbatim) —
    *    at steady state this is MOST rows, the
    *    storage-∝-changed-bytes contract;
    *  - errors/redirects emit nothing (the frontier law handles
    *    them; an error shell is not corpus content), and so does a
    *    304 with NO held capture (validators seeded without content —
    *    a sitemap-lastmod first fetch answering 304; there is nothing
    *    to refer to, and emitting a linkage row pointing at a capture
    *    that does not exist would silently drop at the writer while
    *    the plan claimed 'revisit').
    * `refers_to` is the same URL (the prior capture of this page);
    * `payload_digest` is `md5:` + the held hash — the REFERRED
    * capture's digest, known for both profiles. One url-equi join of
    * the cycle's latest results against the frontier's held hashes —
    * the same shape as the law itself. */
  def archivePlan(fetched: DataFrame, frontier: DataFrame): DataFrame = {
    val ok = okC(col("f_status"))
    val notMod = notModC(col("f_status"))
    val held = col("content_hash").isNotNull
    val sameHash = ok && held &&
      col("f_content_hash") === col("content_hash")
    val unchanged = (notMod && held) || sameHash
    latestFetch(fetched)
      .join(frontier.select(col("url"), col("content_hash")), Seq("url"))
      .filter(ok || (notMod && held))
      .select(col("url"),
        when(unchanged, lit("revisit")).otherwise(lit("response"))
          .as("kind"),
        when(unchanged, col("url")).otherwise(lit(null).cast("string"))
          .as("refers_to"),
        when(unchanged, concat(lit("md5:"), col("content_hash")))
          .otherwise(lit(null).cast("string")).as("payload_digest"),
        when(sameHash, lit(graft.io.Warc.RevisitIdenticalDigest))
          .when(notMod && held,
            lit(graft.io.Warc.RevisitServerNotModified))
          .otherwise(lit(null).cast("string")).as("profile"))
  }

  /** Frontier garbage collection — the retention policy that keeps a
    * years-old frontier from being mostly corpses: DEAD rows older
    * than `deadRetentionS` (by last_fetch_ts) are retired — a URL
    * dead that long is forgotten, and if the web still links it,
    * [[admit]] re-learns it with a fresh failure budget (one
    * re-probe per horizon is the standard trade every long-lived
    * crawler makes; keeping the corpse forever costs anti-join scan
    * width on every admission wave instead). 'redirected' rows KEEP
    * — they are the alias map (dropping one would let the moved
    * spelling re-enter as a duplicate identity and re-fetch), and
    * they are a far smaller population. Active rows always keep.
    * Returns the rows to RETIRE (url + the row, an op='delete' batch
    * for the snapshot-store face; a materialized deployment
    * anti-joins it away instead). The filter itself reads row
    * columns, not the partition column, so a day-bucketed deployment
    * pairs it with [[compactionDayBound]]'s read-side partition
    * predicate — without it GC is a full scan. */
  def compactionDeletes(frontier: DataFrame, now: Long,
                        deadRetentionS: Long = 90L * 86400L): DataFrame = {
    require(deadRetentionS > 0,
      s"deadRetentionS must be positive: $deadRetentionS")
    frontier.filter(expiredC(now, deadRetentionS))
  }

  /** The kept face of [[compactionDeletes]] — the frontier with
    * expired corpses dropped, for materialized deployments that
    * rewrite. The two faces partition the frontier exactly (shared
    * predicate — kept ∪ deletes = input by construction). */
  def compactFrontier(frontier: DataFrame, now: Long,
                      deadRetentionS: Long = 90L * 86400L): DataFrame = {
    require(deadRetentionS > 0,
      s"deadRetentionS must be positive: $deadRetentionS")
    frontier.filter(!expiredC(now, deadRetentionS))
  }

  /** The ONE expiry predicate both GC faces share — a drift between
    * the keep and delete spellings would silently lose or
    * double-count rows against the kept-∪-deletes invariant. */
  private def expiredC(now: Long, deadRetentionS: Long): Column =
    col("state") === "dead" && col("last_fetch_ts").isNotNull &&
      col("last_fetch_ts") < lit(now - deadRetentionS)

  /** The day-bucket bound that makes GC prune instead of full-scan:
    * the revisit law FREEZES a retiring row's next_fetch_ts at its
    * death fetch, so every expired corpse (last_fetch_ts < now −
    * retention, and last_fetch = death for a dead row) sits in a
    * bucket at or below `(now − retention)/86400` — read the
    * day-bucketed frontier with `next_fetch_day <=
    * compactionDayBound(...)` (the loadDue convention) and the GC
    * pass touches only the old buckets where corpses froze, never
    * the live schedule. Unconditionally sound BECAUSE of the freeze:
    * no interval, clamp, or seeded cadence enters the bound. */
  def compactionDayBound(now: Long, deadRetentionS: Long): Long = {
    require(deadRetentionS > 0,
      s"deadRetentionS must be positive: $deadRetentionS")
    (now - deadRetentionS) / 86400L
  }

  /** Persist a frontier partitioned by next-fetch DAY — the layout
    * that turns [[selectBatch]]'s due filter into PARTITION PRUNING:
    * at 10^10 rows the due slice is a handful of day directories, so
    * the scheduling scan reads due rows, not the frontier (until now
    * this was the Scaladoc's deployment claim; here it is engineered
    * and plan-pinned). The helper column `next_fetch_day` =
    * floor(next_fetch_ts / 86400) exists only on disk. Mode is the
    * caller's (a store-held frontier upserts via the snapshot store
    * instead — this face is for the materialized-frontier deployments
    * and for backfills). */
  def writeDayBucketed(frontier: DataFrame, path: String,
                       mode: String = "overwrite"): Unit =
    frontier
      .withColumn("next_fetch_day",
        floor(col("next_fetch_ts") / lit(86400L)).cast("long"))
      .write.partitionBy("next_fetch_day").mode(mode).parquet(path)

  /** Read back the due-or-overdue slice of a day-bucketed frontier:
    * the `next_fetch_day <= floor(now/86400)` predicate hits the
    * PARTITION column (pruned at planning, pinned in the spec), and
    * the exact row-level `next_fetch_ts <= now` gate stays
    * [[selectBatch]]'s job — this returns the boundary day whole (a
    * row due this evening is in today's directory). The helper
    * column drops; the 13-column contract comes back — a frontier
    * PERSISTED under the r17 11-column contract (a long-lived store
    * written before the validator columns existed) reads back with
    * null validators instead of failing the select: on-disk state
    * outlives code versions, and null is exactly what "no validator
    * recorded yet" means (the first post-upgrade fetch goes
    * unconditional and the 2xx stamps real ones). */
  def loadDue(spark: org.apache.spark.sql.SparkSession, path: String,
              now: Long): DataFrame = {
    val raw = spark.read.parquet(path)
      .filter(col("next_fetch_day") <= lit(now / 86400L))
      .drop("next_fetch_day")
    val compat = Seq("etag" -> "string", "last_modified" -> "long")
      .foldLeft(raw) { case (df, (c, t)) =>
        if (df.columns.contains(c)) df
        else df.withColumn(c, lit(null).cast(t))
      }
    compat.select(frontierCols.map(col): _*)
  }

  /** Re-prioritize frontier rows from a host-level quality signal —
    * the loop closure where the link graph feeds the crawl back
    * (PageRank/TrustRank output deciding what gets fetched next, the
    * Cho–Garcia-Molina–Page crawling-order result). `hostScores` is
    * (host, score) with score ≥ 0 (trustRank/pageRank output collapsed
    * to hosts); the law: priority' = (1−α)·priority + α·(score /
    * max score), so scores normalize to [0,1] on the fly (rank masses
    * are corpus-size-dependent — 1/n-ish — and would otherwise vanish
    * next to the depth prior), hosts without a score take 0, and
    * α blends the static prior with the learned signal. Every other
    * frontier column passes through byte-identical.
    *
    * Shape: ONE scalar aggregate over the (tiny) score frame + one
    * broadcast join against it — the frontier is never shuffled.
    * An all-zero/empty score frame refuses loudly (the caller wired
    * the wrong frame; silently zeroing every priority would reorder a
    * 10^10-row crawl on garbage). */
  def rescorePriorities(frontier: DataFrame, hostScores: DataFrame,
                        alpha: Double = 0.5,
                        hostCol: String = "host",
                        scoreCol: String = "score"): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1]: $alpha")
    // collapse duplicate host rows (unioned score feeds, page-level
    // rank fed without aggregating) by max BEFORE the join: a
    // duplicated key would otherwise fan the left join out and
    // silently DUPLICATE frontier rows — selectBatch would schedule
    // the same URL twice
    val hs = hostScores.select(col(hostCol).as("__rs_host"),
        col(scoreCol).cast("double").as("__rs_score"))
      .groupBy(col("__rs_host"))
      .agg(max(col("__rs_score")).as("__rs_score"))
    val mx = hs.agg(max(col("__rs_score"))).collect()(0)
    require(!mx.isNullAt(0) && mx.getDouble(0) > 0.0,
      "rescorePriorities: the score frame is empty or all-zero — " +
        "refusing to reorder the frontier on a degenerate signal")
    val mxv = mx.getDouble(0)
    val passthrough = frontier.columns.filterNot(_ == "priority")
      .map(frontier(_))
    frontier.join(broadcast(hs),
        frontier("host") === col("__rs_host"), "left")
      .select((passthrough :+
        (lit(1.0 - alpha) * frontier("priority") +
          lit(alpha) * (coalesce(col("__rs_score"), lit(0.0)) / lit(mxv)))
          .as("priority")): _*)
      .select(frontierCols.map(col): _*)
  }

  /** One full crawl cycle over a materialized frontier: apply fetch
    * results, then union the admitted discoveries AND the cycle's
    * permanent-redirect targets (one admit call over both candidate
    * frames, so the domain budget sees the whole wave and a URL that
    * is both linked-to and moved-to mints ONE row) — the new
    * frontier. Store-held frontiers skip this and upsert
    * [[recrawlUpdates]] + [[admit]] directly. */
  def step(frontier: DataFrame, fetched: DataFrame,
           discovered: DataFrame, now: Long,
           rv: Revisit = Revisit(), maxDepth: Int = 8,
           perDomainCap: Long = Long.MaxValue,
           defaultIntervalS: Long = 86400L): DataFrame = {
    // ONE latest-wins pass over the cycle's results feeds both the
    // law and the redirect targets — the per-url window is the
    // cycle's only shuffle over the fetch frame
    val latest = latestFetch(fetched)
    recrawlFromLatest(frontier, latest, rv).unionByName(
      admit(frontier,
        discovered.select(col("url"), col("depth").cast("int").as("depth"))
          .unionByName(targetsFromLatest(latest, frontier)),
        now, maxDepth, perDomainCap, defaultIntervalS))
  }

  private def newRowCols(depth: Column, priority: Column,
                         intervalS: Column, now: Long,
                         lastModified: Option[Column] = None): Seq[Column] =
    Seq(
      col("url"), col("host"), depth.as("depth"), priority.as("priority"),
      lit(0L).as("fetch_count"), lit(0).as("fail_count"),
      lit(null).cast("long").as("last_fetch_ts"),
      lit(null).cast("string").as("content_hash"),
      intervalS.cast("long").as("interval_s"),
      lit(now).as("next_fetch_ts"), lit("active").as("state"),
      lit(null).cast("string").as("etag"),
      lastModified.getOrElse(lit(null).cast("long")).as("last_modified"))
}
