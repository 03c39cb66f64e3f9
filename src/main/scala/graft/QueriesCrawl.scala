package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Sitemaps
import graft.operators.CrawlFrontier
import graft.operators.CrawlFrontier.Revisit

/** The crawl middle half (scheduling loop) as driver-checkable queries:
  * sitemap parsing, frontier seeding, politeness-bounded batch
  * selection, adaptive revisit, discovery admission, and the composed
  * cycle. Fixtures are synthesized deterministically from `documents`
  * (doc_id), the web-family convention; every oracle replays the
  * IDENTICAL law — regex chains included — in DuckDB SQL.
  *
  * Except for crawl_frontier_seed (whose subject IS canonicalization,
  * so its oracle replays the full normalizeUrl chain), fixture URLs
  * are constructed already-canonical: normalizeUrl is the identity on
  * them, and the oracles use them as-is — the same simplification the
  * web_anchor_text oracle makes, legal because the regex chains are
  * oracle-proven in text_url_normalize/crawl_frontier_seed.
  */
object QueriesCrawl {

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val T0 = 1754000000L // fixed 'now' for every crawl fixture

  /** The DuckDB spelling of the registered-domain slicing law
    * (UrlOps.registeredDomain) over a column named `host` — shared by
    * the admit/e2e oracles; text_url_normalize proves it equals the
    * Spark expression. */
  private val domainSql: String = {
    val sfx = graft.functions.UrlOps.secondLevelSuffixes
      .map("'" + _ + "'").mkString(",")
    s"""CASE WHEN len(string_split(host, '.')) >= 3 AND
       |          (string_split(host, '.')[-2] || '.' ||
       |           string_split(host, '.')[-1]) IN ($sfx)
       |     THEN string_split(host, '.')[-3] || '.' ||
       |          string_split(host, '.')[-2] || '.' ||
       |          string_split(host, '.')[-1]
       |     WHEN len(string_split(host, '.')) >= 2
       |     THEN string_split(host, '.')[-2] || '.' ||
       |          string_split(host, '.')[-1]
       |     ELSE host END""".stripMargin
  }

  val crawl: Seq[Entry] = Seq(

    Entry("crawl_sitemap_parse", (s, dir) => {
      // sitemaps.org urlset parsing — the crawl-seed channel: per-doc
      // XML with entity-escaped locs, mixed-case changefreq, absent
      // optional tags, out-of-range priorities, and a loc-less entry
      // that must drop; even docs carry a second entry. The oracle
      // replays the IDENTICAL RE2 extraction chain (cross-engine regex
      // parity — for a parser, the semantics). Pure per-row codegen.
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 7).cast("string")
      val freq = when(d % 7 === 0, lit("daily"))
        .when(d % 7 === 1, lit("hourly")).when(d % 7 === 2, lit("weekly"))
        .when(d % 7 === 3, lit("monthly")).when(d % 7 === 4, lit("always"))
        .when(d % 7 === 5, lit("Never")).otherwise(lit(""))
      val pr = when(d % 5 === 0, lit("0.8")).when(d % 5 === 1, lit("1.5"))
        .when(d % 5 === 2, lit("-1")).when(d % 5 === 3, lit(""))
        .otherwise(lit("0.1"))
      val xml = concat(
        lit("<urlset><url><loc> https://h"), k, lit(".ex"), k,
        lit(".com/p?a=1&amp;id="), id, lit(" </loc><lastmod>2026-01-0"),
        (d % 9 + 1).cast("string"), lit("</lastmod><changefreq>"), freq,
        lit("</changefreq><priority>"), pr, lit("</priority></url>"),
        when(d % 2 === 0, concat(lit("<url><loc>https://h"), k,
          lit(".ex"), k, lit(".com/q/"), id, lit("</loc></url>")))
          .otherwise(lit("")),
        lit("<url><lastmod>2026-01-01</lastmod></url></urlset>"))
      T(s, dir, "documents")
        .select(d, posexplode(Sitemaps.urlEntries(xml)))
        .select(d, (col("pos") + 1).cast("int").as("entry_idx"),
          col("col.loc").as("loc"), col("col.lastmod").as("lastmod"),
          col("col.changefreq").as("changefreq"),
          Sitemaps.changefreqSeconds(col("col.changefreq"))
            .as("interval_s"),
          Sitemaps.priorityValue(col("col.priority")).as("priority_val"))
        .orderBy(d, col("entry_idx"))
    }, Some("""
      WITH x AS (
        SELECT doc_id,
          '<urlset><url><loc> https://h' || (doc_id % 7) || '.ex' ||
          (doc_id % 7) || '.com/p?a=1&amp;id=' || doc_id ||
          ' </loc><lastmod>2026-01-0' || (doc_id % 9 + 1) ||
          '</lastmod><changefreq>' ||
          CASE CAST(doc_id % 7 AS INT) WHEN 0 THEN 'daily'
            WHEN 1 THEN 'hourly' WHEN 2 THEN 'weekly'
            WHEN 3 THEN 'monthly' WHEN 4 THEN 'always'
            WHEN 5 THEN 'Never' ELSE '' END ||
          '</changefreq><priority>' ||
          CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN '0.8'
            WHEN 1 THEN '1.5' WHEN 2 THEN '-1' WHEN 3 THEN ''
            ELSE '0.1' END ||
          '</priority></url>' ||
          CASE WHEN doc_id % 2 = 0
               THEN '<url><loc>https://h' || (doc_id % 7) || '.ex' ||
                    (doc_id % 7) || '.com/q/' || doc_id || '</loc></url>'
               ELSE '' END ||
          '<url><lastmod>2026-01-01</lastmod></url></urlset>' AS xml
        FROM documents),
      blk AS (
        SELECT doc_id,
               regexp_extract_all(xml, '(?is)<(?:[a-zA-Z0-9]+:)?url\b[^>]*>(.*?)</(?:[a-zA-Z0-9]+:)?url>', 1)
                 AS bs
        FROM x),
      ex AS (
        SELECT doc_id, unnest(generate_series(1, len(bs))) AS i, bs
        FROM blk),
      f AS (
        SELECT doc_id, i,
          trim(regexp_extract(bs[i], '(?is)<(?:[a-zA-Z0-9]+:)?loc>(.*?)</(?:[a-zA-Z0-9]+:)?loc>', 1)) AS rawloc,
          trim(regexp_extract(bs[i], '(?is)<(?:[a-zA-Z0-9]+:)?lastmod>(.*?)</(?:[a-zA-Z0-9]+:)?lastmod>', 1))
            AS lastmod,
          lower(trim(regexp_extract(bs[i],
            '(?is)<(?:[a-zA-Z0-9]+:)?changefreq>(.*?)</(?:[a-zA-Z0-9]+:)?changefreq>', 1))) AS changefreq,
          trim(regexp_extract(bs[i], '(?is)<(?:[a-zA-Z0-9]+:)?priority>(.*?)</(?:[a-zA-Z0-9]+:)?priority>', 1))
            AS rawpr
        FROM ex),
      dec AS (
        SELECT doc_id, i, lastmod, changefreq, rawpr,
          replace(replace(replace(replace(replace(rawloc,
            '&quot;', '"'), '&apos;', ''''), '&lt;', '<'), '&gt;', '>'),
            '&amp;', '&') AS loc
        FROM f),
      kept AS (
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i)
                 AS INT) AS entry_idx,
               loc, lastmod, changefreq,
               CASE changefreq WHEN 'always' THEN 300
                 WHEN 'hourly' THEN 3600 WHEN 'daily' THEN 86400
                 WHEN 'weekly' THEN 604800 WHEN 'monthly' THEN 2592000
                 WHEN 'yearly' THEN 31536000 WHEN 'never' THEN 63072000
                 ELSE NULL END AS interval_s,
               CASE WHEN regexp_matches(rawpr, '^-?[0-9]+(\.[0-9]+)?$')
                    THEN greatest(0.0, least(1.0, CAST(rawpr AS DOUBLE)))
                    ELSE NULL END AS priority_val
        FROM dec WHERE length(loc) > 0)
      SELECT doc_id, entry_idx, loc, lastmod, changefreq,
             CAST(interval_s AS BIGINT) AS interval_s, priority_val
      FROM kept ORDER BY doc_id, entry_idx""")),

    Entry("crawl_sitemap_gz", (s, dir) => {
      // REAL-WIRE sitemap feeds: namespace-prefixed tags (`<sm:url>`,
      // the common generator output) and gzip payloads (`.xml.gz`,
      // the protocol-blessed wire format) — even docs are prefixed
      // INDEX feeds shipped plain, odd docs prefixed urlset feeds
      // shipped gzipped; decodeFeeds magic-sniffs and inflates the
      // mixed column in one stateless partition-local map, isIndex
      // dispatches, and the prefixed-tag patterns extract. The oracle
      // replays the CONTENT law (inflation is the round-trip identity
      // — the text_wet_roundtrip convention; tag extraction parity is
      // crawl_sitemap_parse's subject).
      import s.implicits._
      val feeds = T(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val k = id % 5
          val host = s"h$k.ex$k.com"
          val xml =
            if (id % 2 == 0)
              "<sm:sitemapindex xmlns:sm=\"http://www.sitemaps.org/" +
                "schemas/sitemap/0.9\">" +
                s"<sm:sitemap><sm:loc>https://$host/sitemap-$id-1.xml.gz" +
                "</sm:loc></sm:sitemap>" +
                s"<sm:sitemap><sm:loc>https://$host/sitemap-$id-2.xml.gz" +
                "</sm:loc></sm:sitemap></sm:sitemapindex>"
            else
              "<sm:urlset xmlns:sm=\"http://www.sitemaps.org/schemas/" +
                "sitemap/0.9\">" +
                s"<sm:url><sm:loc>https://$host/p/$id</sm:loc>" +
                "<sm:lastmod>2026-01-02</sm:lastmod>" +
                "<sm:changefreq>Daily</sm:changefreq>" +
                "<sm:priority>0.8</sm:priority></sm:url>" +
                s"<sm:url><sm:loc>https://$host/q/$id?a=1&amp;b=2" +
                "</sm:loc></sm:url></sm:urlset>"
          val bytes =
            if (id % 2 == 1) graft.io.Warc.gzipBytes(xml.getBytes("UTF-8"))
            else xml.getBytes("UTF-8")
          (id, bytes)
        }.toDF("doc_id", "body")
      val xmlDf = Sitemaps.decodeFeeds(feeds)
      val idxRows = xmlDf.filter(Sitemaps.isIndex(col("xml")))
        .select(col("doc_id"), lit(true).as("is_index"),
          posexplode(Sitemaps.indexEntries(col("xml"))))
        .select(col("doc_id"), col("is_index"),
          (col("pos") + 1).cast("int").as("entry_idx"),
          col("col").as("loc"), lit("").as("lastmod"),
          lit("").as("changefreq"),
          lit(null).cast("long").as("interval_s"),
          lit(null).cast("double").as("priority_val"))
      val urlRows = xmlDf.filter(!Sitemaps.isIndex(col("xml")))
        .select(col("doc_id"), lit(false).as("is_index"),
          posexplode(Sitemaps.urlEntries(col("xml"))))
        .select(col("doc_id"), col("is_index"),
          (col("pos") + 1).cast("int").as("entry_idx"),
          col("col.loc").as("loc"), col("col.lastmod").as("lastmod"),
          col("col.changefreq").as("changefreq"),
          Sitemaps.changefreqSeconds(col("col.changefreq"))
            .as("interval_s"),
          Sitemaps.priorityValue(col("col.priority")).as("priority_val"))
      idxRows.unionByName(urlRows).orderBy("doc_id", "entry_idx")
    }, Some("""
      WITH n AS (
        SELECT doc_id,
               'h' || (doc_id % 5) || '.ex' || (doc_id % 5) || '.com'
                 AS host
        FROM documents),
      e AS (SELECT doc_id, host, unnest([1, 2]) AS entry_idx FROM n)
      SELECT doc_id,
             (doc_id % 2 = 0) AS is_index,
             CAST(entry_idx AS INT) AS entry_idx,
             CASE WHEN doc_id % 2 = 0
                  THEN 'https://' || host || '/sitemap-' || doc_id ||
                       '-' || entry_idx || '.xml.gz'
                  WHEN entry_idx = 1 THEN 'https://' || host || '/p/' ||
                       doc_id
                  ELSE 'https://' || host || '/q/' || doc_id || '?a=1&b=2'
                  END AS loc,
             CASE WHEN doc_id % 2 = 1 AND entry_idx = 1
                  THEN '2026-01-02' ELSE '' END AS lastmod,
             CASE WHEN doc_id % 2 = 1 AND entry_idx = 1
                  THEN 'daily' ELSE '' END AS changefreq,
             CASE WHEN doc_id % 2 = 1 AND entry_idx = 1
                  THEN CAST(86400 AS BIGINT)
                  ELSE CAST(NULL AS BIGINT) END AS interval_s,
             CASE WHEN doc_id % 2 = 1 AND entry_idx = 1
                  THEN CAST(0.8 AS DOUBLE)
                  ELSE CAST(NULL AS DOUBLE) END AS priority_val
      FROM e ORDER BY doc_id, entry_idx""")),

    Entry("crawl_frontier_seed", (s, dir) => {
      // frontier seeding — canonicalize, drop non-fetchable schemes,
      // collapse spelling variants of one page BEFORE the crawl ever
      // fetches it twice: consecutive doc pairs spell the same URL two
      // ways (mixed-case host, default port, tracking params,
      // fragment, AND an RFC 3986 dot segment — server-unresolved
      // relative links are the highest-frequency dup spelling a
      // frontier sees), strays are ftp:// and schemeless garbage. The
      // oracle replays the FULL frontier-identity chain — dot-segment
      // removal THEN normalizeUrl (this row's subject is
      // canonicalization) — and the dedup-to-frontier law. Sitemap
      // <lastmod> hints ride in (r18): even rows carry a W3C date
      // (datetime suffix tolerated at day resolution), odd rows junk
      // or nothing — the strict-shape gate drops the junk, the pair
      // collapse takes MAX per url, and the value lands in the
      // last_modified validator column (due-now scheduling is
      // untouched). One url-keyed shuffle with map-side combine.
      val d = col("doc_id")
      val pairBase = (d - d % 2).cast("string")
      val k = ((d - d % 2) % 7).cast("string")
      val url = when(d % 13 === 0, lit("ftp://skip.example/x"))
        .when(d % 17 === 0, lit("not a url"))
        .when(d % 2 === 0,
          concat(lit("https://h"), k, lit(".example.com/p?id="), pairBase))
        .otherwise(
          concat(lit("HTTPS://H"), k, lit(".EXAMPLE.COM:443/a/../p?id="),
            pairBase, lit("&utm_source=x#f")))
      val lastmod = when(d % 2 === 0,
          concat(lit("2026-01-0"), (d % 9 + 1).cast("string"),
            when(d % 4 === 0, lit("T08:30:00Z")).otherwise(lit(""))))
        .when(d % 5 === 0, lit("last tuesday")) // junk: shape-gated out
        .otherwise(lit(null).cast("string"))
      val urls = T(s, dir, "documents")
        .select(url.as("url"), lastmod.as("lastmod"))
      CrawlFrontier.seed(urls, now = T0, defaultIntervalS = 86400L,
        lastmodCol = Some("lastmod"))
        .orderBy("url")
    }, Some(raw"""
      WITH u0 AS (
        SELECT CASE
          WHEN doc_id % 13 = 0 THEN 'ftp://skip.example/x'
          WHEN doc_id % 17 = 0 THEN 'not a url'
          WHEN doc_id % 2 = 0 THEN 'https://h' || ((doc_id - doc_id % 2) % 7)
            || '.example.com/p?id=' || (doc_id - doc_id % 2)
          ELSE 'HTTPS://H' || ((doc_id - doc_id % 2) % 7) ||
            '.EXAMPLE.COM:443/a/../p?id=' || (doc_id - doc_id % 2) ||
            '&utm_source=x#f' END AS url,
          CASE WHEN doc_id % 2 = 0 THEN '2026-01-0' || (doc_id % 9 + 1) ||
                 (CASE WHEN doc_id % 4 = 0 THEN 'T08:30:00Z' ELSE '' END)
               WHEN doc_id % 5 = 0 THEN 'last tuesday'
               ELSE NULL END AS lastmod
        FROM documents),
      u AS (SELECT ${QueriesWeb.dotSegSql("url")} AS url,
                   CASE WHEN regexp_matches(substr(lastmod, 1, 10),
                          '^[0-9]{4}-[0-9]{2}-[0-9]{2}$$')
                        THEN CAST(epoch(TRY_CAST(substr(lastmod, 1, 10)
                          AS TIMESTAMP)) AS BIGINT)
                        ELSE NULL END AS lm
            FROM u0),
      lo AS (
        SELECT regexp_extract(url,
                 '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS head, url,
               lm
        FROM u),
      n0 AS (
        SELECT lower(head) ||
               (CASE WHEN length(head) > 0
                     THEN substr(url, length(head) + 1) ELSE url END) AS t,
               lm
        FROM lo),
      n1 AS (SELECT regexp_replace(regexp_replace(regexp_replace(t,
               '#.*$$', ''),
               '^(http://[^/:?#]*):80(/|\?|$$)', '\1\2'),
               '^(https://[^/:?#]*):443(/|\?|$$)', '\1\2') AS t, lm
             FROM n0),
      n2 AS (SELECT regexp_replace(t,
               '([?&])(?:utm_[a-zA-Z0-9_]+|fbclid|gclid|msclkid|mc_eid)=[^&#]*',
               '\1', 'g') AS t, lm FROM n1),
      n3 AS (SELECT regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(t, '\?&+', '?', 'g'), '&&+', '&', 'g'),
               '[?&]+$$', ''), '^(https?://[^/?#]+)/$$', '\1') AS url, lm
             FROM n2),
      h AS (SELECT url,
                   regexp_extract(lower(url),
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
                     1) AS host,
                   lm
            FROM n3
            WHERE regexp_matches(url, '^https?://')),
      g AS (SELECT url, host, max(lm) AS last_modified
            FROM h WHERE length(host) > 0
            GROUP BY url, host)
      SELECT url, host, CAST(0 AS INT) AS depth, CAST(1.0 AS DOUBLE) AS priority,
             CAST(0 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
             CAST(NULL AS BIGINT) AS last_fetch_ts,
             CAST(NULL AS VARCHAR) AS content_hash,
             CAST(86400 AS BIGINT) AS interval_s,
             CAST(1754000000 AS BIGINT) AS next_fetch_ts,
             'active' AS state,
             CAST(NULL AS VARCHAR) AS etag,
             CAST(last_modified AS BIGINT) AS last_modified
      FROM g ORDER BY url""")),

    Entry("crawl_select_batch", (s, dir) => {
      // politeness-bounded batch selection — due active rows, at most
      // 2 per host (one slow origin must not monopolize a cycle), then
      // the global best 25 by priority. Plan: ONE host-keyed window
      // shuffle over the due slice + TakeOrderedAndProject (pinned in
      // CrawlFrontierSpec) — no full sort at any frontier size.
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
        lit(0).as("fail_count"), lit(null).cast("long").as("last_fetch_ts"),
        lit(null).cast("string").as("content_hash"),
        lit(3600L).as("interval_s"),
        (lit(T0) + (d % 3) * 1000).as("next_fetch_ts"),
        when(d % 11 === 0, lit("dead")).otherwise(lit("active")).as("state"),
        // validators pass through selection untouched (the fetch loop
        // reads them off the batch to send If-None-Match/-Since)
        when(d % 3 === 0, concat(lit("W/\""), id, lit("\"")))
          .otherwise(lit(null).cast("string")).as("etag"),
        when(d % 2 === 0, lit(T0) - d).otherwise(lit(null).cast("long"))
          .as("last_modified"))
      CrawlFrontier.selectBatch(frontier, now = T0,
        batchSize = 25, perHostCap = 2)
    }, Some("""
      WITH f AS (
        SELECT 'https://h' || (doc_id % 7) || '.ex' || (doc_id % 7) ||
                 '.com/p/' || doc_id AS url,
               'h' || (doc_id % 7) || '.ex' || (doc_id % 7) || '.com'
                 AS host,
               CAST(doc_id % 4 AS INT) AS depth,
               (doc_id * 37 % 100) / 100.0 AS priority,
               CAST(doc_id % 5 AS BIGINT) AS fetch_count,
               CAST(0 AS INT) AS fail_count,
               CAST(NULL AS BIGINT) AS last_fetch_ts,
               CAST(NULL AS VARCHAR) AS content_hash,
               CAST(3600 AS BIGINT) AS interval_s,
               CAST(1754000000 + (doc_id % 3) * 1000 AS BIGINT)
                 AS next_fetch_ts,
               CASE WHEN doc_id % 11 = 0 THEN 'dead' ELSE 'active' END
                 AS state,
               CASE WHEN doc_id % 3 = 0 THEN 'W/"' || doc_id || '"'
                    ELSE NULL END AS etag,
               CASE WHEN doc_id % 2 = 0
                    THEN CAST(1754000000 - doc_id AS BIGINT)
                    ELSE NULL END AS last_modified
        FROM documents),
      due AS (
        SELECT * FROM f
        WHERE state = 'active' AND next_fetch_ts <= 1754000000),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY host
                    ORDER BY priority DESC, url) AS hr
        FROM due)
      SELECT url, host, depth, priority, fetch_count, fail_count,
             last_fetch_ts, content_hash, interval_s, next_fetch_ts, state,
             etag, last_modified
      FROM ranked WHERE hr <= 2
      ORDER BY priority DESC, url LIMIT 25""")),

    Entry("crawl_recrawl", (s, dir) => {
      // adaptive revisit (Cho & Garcia-Molina-style multiplicative
      // adaptation, clamped): a changed page halves its interval, an
      // unchanged one doubles, transient failures back off and three
      // in a row — or a 404/410 — kill the row; untouched rows pass
      // through byte-identical. The CONDITIONAL-revisit regime (r18)
      // rides the same law: d%16==8 answers 304 (the validators we
      // sent still match — zero body bytes), which grows the interval,
      // resets the fail streak and KEEPS hash + validators; a 200
      // replaces the stored validators with the response's — including
      // replacing with NULL when the server stopped sending one
      // (holding a stale ETag would mint wrong 304s forever). One
      // url-equi left join (a cycle's results are tiny next to the
      // frontier → AQE broadcasts).
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 7).cast("string")
      val docs = T(s, dir, "documents")
      val frontier = docs.select(
        concat(lit("https://h"), k, lit(".ex"), k, lit(".com/p/"), id)
          .as("url"),
        concat(lit("h"), k, lit(".ex"), k, lit(".com")).as("host"),
        lit(1).as("depth"), lit(0.5).as("priority"),
        (d % 7).cast("bigint").as("fetch_count"),
        (d % 3).cast("int").as("fail_count"),
        lit(null).cast("long").as("last_fetch_ts"),
        when(d % 4 === 3, lit(null).cast("string"))
          .otherwise(md5(id)).as("content_hash"),
        (lit(3600L) * (d % 5 + 1)).as("interval_s"),
        lit(T0).as("next_fetch_ts"),
        when(d % 19 === 0, lit("dead")).otherwise(lit("active")).as("state"),
        when(d % 3 === 0, concat(lit("\""), id, lit("-v1\"")))
          .otherwise(lit(null).cast("string")).as("etag"),
        when(d % 2 === 1, lit(T0) - 1000L)
          .otherwise(lit(null).cast("long")).as("last_modified"))
      val fetched = docs.filter(d % 2 === 0).select(
        concat(lit("https://h"), k, lit(".ex"), k, lit(".com/p/"), id)
          .as("url"),
        (lit(T0) + d).as("fetch_ts"),
        when(d % 16 === 8, lit(304))
          .when(d % 8 === 4, lit(503)).when(d % 8 === 6, lit(404))
          .otherwise(lit(200)).as("status"),
        when(d % 16 === 0, md5(id))
          .when(d % 8 === 2, md5(concat(lit("c"), id)))
          .otherwise(lit(null).cast("string")).as("content_hash"),
        when(d % 8 === 2, concat(lit("\""), id, lit("-v2\"")))
          .otherwise(lit(null).cast("string")).as("etag"),
        when(d % 8 === 2, lit(T0) - 10L)
          .otherwise(lit(null).cast("long")).as("last_modified"))
      CrawlFrontier.recrawlSchedule(frontier, fetched,
        Revisit(minIntervalS = 1800L, maxIntervalS = 604800L,
          grow = 2.0, shrink = 2.0, maxFails = 3))
        .orderBy("url")
    }, Some("""
      WITH f AS (
        SELECT 'https://h' || (doc_id % 7) || '.ex' || (doc_id % 7) ||
                 '.com/p/' || doc_id AS url,
               'h' || (doc_id % 7) || '.ex' || (doc_id % 7) || '.com'
                 AS host,
               CAST(1 AS INT) AS depth, CAST(0.5 AS DOUBLE) AS priority,
               CAST(doc_id % 7 AS BIGINT) AS fetch_count,
               CAST(doc_id % 3 AS INT) AS fail_count,
               CAST(NULL AS BIGINT) AS last_fetch_ts,
               CASE WHEN doc_id % 4 = 3 THEN NULL
                    ELSE md5(CAST(doc_id AS VARCHAR)) END AS content_hash,
               CAST(3600 * (doc_id % 5 + 1) AS BIGINT) AS interval_s,
               CAST(1754000000 AS BIGINT) AS next_fetch_ts,
               CASE WHEN doc_id % 19 = 0 THEN 'dead' ELSE 'active' END
                 AS state,
               CASE WHEN doc_id % 3 = 0 THEN '"' || doc_id || '-v1"'
                    ELSE NULL END AS etag,
               CASE WHEN doc_id % 2 = 1
                    THEN CAST(1754000000 - 1000 AS BIGINT)
                    ELSE NULL END AS last_modified
        FROM documents),
      r AS (
        SELECT 'https://h' || (doc_id % 7) || '.ex' || (doc_id % 7) ||
                 '.com/p/' || doc_id AS url,
               CAST(1754000000 + doc_id AS BIGINT) AS f_fetch_ts,
               CASE WHEN doc_id % 16 = 8 THEN 304
                    WHEN doc_id % 8 = 4 THEN 503
                    WHEN doc_id % 8 = 6 THEN 404 ELSE 200 END AS f_status,
               CASE WHEN doc_id % 16 = 0 THEN md5(CAST(doc_id AS VARCHAR))
                    WHEN doc_id % 8 = 2
                      THEN md5('c' || CAST(doc_id AS VARCHAR))
                    ELSE NULL END AS f_content_hash,
               CASE WHEN doc_id % 8 = 2 THEN '"' || doc_id || '-v2"'
                    ELSE NULL END AS f_etag,
               CASE WHEN doc_id % 8 = 2
                    THEN CAST(1754000000 - 10 AS BIGINT)
                    ELSE NULL END AS f_last_modified
        FROM documents WHERE doc_id % 2 = 0),
      j AS (SELECT f.*, r.f_fetch_ts, r.f_status, r.f_content_hash,
                   r.f_etag, r.f_last_modified
            FROM f LEFT JOIN r ON r.url = f.url),
      law AS (
        SELECT *,
          (f_status BETWEEN 200 AND 299) AS ok,
          (f_status IN (404, 410)) AS gone,
          (f_status = 304) AS notmod,
          ((f_status BETWEEN 200 AND 299) AND
           (content_hash IS NULL OR content_hash <> f_content_hash))
            AS changed
        FROM j),
      iv AS (
        SELECT *,
          CASE WHEN changed
                 THEN greatest(1800, CAST(floor(interval_s / 2.0)
                   AS BIGINT))
               WHEN gone THEN interval_s
               ELSE least(604800, CAST(floor(interval_s * 2.0)
                 AS BIGINT)) END AS new_interval,
          CASE WHEN ok OR gone OR notmod THEN 0
               ELSE fail_count + 1 END AS new_fails
        FROM law)
      SELECT url, host, depth, priority,
        CASE WHEN f_fetch_ts IS NULL THEN fetch_count
             ELSE fetch_count + 1 END AS fetch_count,
        CASE WHEN f_fetch_ts IS NULL THEN fail_count
             ELSE new_fails END AS fail_count,
        CASE WHEN f_fetch_ts IS NULL THEN last_fetch_ts
             ELSE f_fetch_ts END AS last_fetch_ts,
        CASE WHEN f_fetch_ts IS NULL THEN content_hash
             WHEN ok THEN f_content_hash
             ELSE content_hash END AS content_hash,
        CASE WHEN f_fetch_ts IS NULL THEN interval_s
             ELSE new_interval END AS interval_s,
        CASE WHEN f_fetch_ts IS NULL THEN next_fetch_ts
             WHEN gone OR (NOT ok AND NOT notmod AND new_fails >= 3)
               THEN f_fetch_ts -- a retiring row's clock stops at death
             ELSE f_fetch_ts + new_interval END AS next_fetch_ts,
        CASE WHEN f_fetch_ts IS NULL THEN state
             WHEN gone THEN 'dead'
             WHEN NOT ok AND NOT notmod AND new_fails >= 3 THEN 'dead'
             ELSE state END AS state,
        CASE WHEN f_fetch_ts IS NULL THEN etag
             WHEN ok THEN f_etag ELSE etag END AS etag,
        CASE WHEN f_fetch_ts IS NULL THEN last_modified
             WHEN ok THEN f_last_modified
             ELSE last_modified END AS last_modified
      FROM iv ORDER BY url""")),

    Entry("crawl_admit", (s, dir) => {
      // discovery admission — canonicalize, min-depth collapse, depth
      // bound, drop everything already known (anti join), and enforce
      // the per-registered-domain budget COUNTING existing rows: the
      // crawl-mixing guard applied where it's cheapest. Returns the
      // admitted rows only (an upsert batch for a store-held
      // frontier). Every 4th discovery spells its URL with an RFC
      // 3986 dot segment (`/x/../p/N`): frontier identity removes it,
      // so the spelling collapses onto the plain twin in the
      // min-depth agg AND the anti join still catches known URLs
      // discovered through a dotted spelling. Shuffles: url agg +
      // anti join (same key), one domain window. The co.uk host
      // exercises the 3-label suffix slice of registeredDomain.
      val d = col("doc_id")
      val k = (d % 7).cast("string")
      val host = when(d % 7 === 6, lit("h6.ex6.co.uk"))
        .otherwise(concat(lit("h"), k, lit(".ex"), k, lit(".com")))
      val knownUrl = concat(lit("https://"), host, lit("/p/"),
        (d % 40).cast("string"))
      val discUrl = when(d % 4 === 1,
          concat(lit("https://"), host, lit("/x/../p/"),
            (d % 80).cast("string")))
        .otherwise(concat(lit("https://"), host, lit("/p/"),
          (d % 80).cast("string")))
      val docs = T(s, dir, "documents")
      val frontier = docs.filter(d % 3 === 0)
        .select(knownUrl.as("url"), host.as("host")).distinct()
        .select(col("url"), col("host"), lit(0).as("depth"),
          lit(1.0).as("priority"), lit(0L).as("fetch_count"),
          lit(0).as("fail_count"), lit(null).cast("long").as("last_fetch_ts"),
          lit(null).cast("string").as("content_hash"),
          lit(86400L).as("interval_s"), lit(T0).as("next_fetch_ts"),
          lit("active").as("state"),
          lit(null).cast("string").as("etag"),
          lit(null).cast("long").as("last_modified"))
      val discovered = docs.select(discUrl.as("url"),
        (d % 6).cast("int").as("depth"))
      CrawlFrontier.admit(frontier, discovered, now = T0,
        maxDepth = 4, perDomainCap = 50L, defaultIntervalS = 86400L)
        .orderBy("url")
    }, Some(s"""
      WITH base AS (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 6 THEN 'h6.ex6.co.uk'
               ELSE 'h' || (doc_id % 7) || '.ex' || (doc_id % 7) || '.com'
          END AS host
        FROM documents),
      frontier AS (
        SELECT DISTINCT
          'https://' || host || '/p/' || (doc_id % 40) AS url, host
        FROM base WHERE doc_id % 3 = 0),
      cand AS (
        -- the dotted spelling replays frontier identity: dot-segment
        -- removal maps /x/../p/N onto /p/N (normalizeUrl is the
        -- identity on these fixtures — the file-header convention)
        SELECT ${QueriesWeb.dotSegSql(
          """(CASE WHEN doc_id % 4 = 1
               THEN 'https://' || host || '/x/../p/' || (doc_id % 80)
               ELSE 'https://' || host || '/p/' || (doc_id % 80)
               END)""")} AS url,
               host, CAST(min(doc_id % 6) AS INT) AS depth
        FROM base WHERE doc_id % 6 <= 4
        GROUP BY 1, 2),
      fresh AS (
        SELECT c.* FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM frontier f WHERE f.url = c.url)),
      ex AS (
        SELECT $domainSql AS domain, count(*) AS n_existing
        FROM frontier GROUP BY 1),
      rk AS (
        SELECT f.*, $domainSql AS domain,
               row_number() OVER (PARTITION BY $domainSql
                 ORDER BY depth, url) AS rnk
        FROM fresh f),
      kept AS (
        SELECT rk.* FROM rk LEFT JOIN ex ON ex.domain = rk.domain
        WHERE rk.rnk + coalesce(ex.n_existing, 0) <= 50)
      SELECT url, host, depth, 1.0 / (depth + 1) AS priority,
             CAST(0 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
             CAST(NULL AS BIGINT) AS last_fetch_ts,
             CAST(NULL AS VARCHAR) AS content_hash,
             CAST(86400 AS BIGINT) AS interval_s,
             CAST(1754000000 AS BIGINT) AS next_fetch_ts,
             'active' AS state,
             CAST(NULL AS VARCHAR) AS etag,
             CAST(NULL AS BIGINT) AS last_modified
      FROM kept ORDER BY url""")),

    Entry("crawl_admit_robots", (s, dir) => {
      // the RFC 9309 compliance gate at ADMISSION (gateRobots →
      // admit): a disallowed URL is never admitted, never consumes
      // the per-domain budget, and is never scheduled or fetched —
      // the ingest-time gate sees a page only AFTER the fetch, too
      // late for compliance or politeness budget. Rules per host:
      // h0 disallows /private, h1 disallows everything except /pub
      // (longest-match allow), h2 declares nothing (allow-all), h3
      // disallows the single page /p/9, h4 carries an allow/disallow
      // precedence pair. Every 4th discovery spells a disallowed
      // path through a dot segment — the verdict must ride the
      // CANONICAL identity. The oracle replays verdict (most-octets
      // argmax, allow wins ties — plain prefix rules, the law
      // web_robots proves wholesale) → gate → the full admit chain
      // with a binding domain budget.
      import s.implicits._
      import graft.functions.Robots
      val d = col("doc_id")
      val k = (d % 5).cast("string")
      val host = concat(lit("h"), k, lit(".ex"), k, lit(".com"))
      val tail = (d % 20).cast("string")
      val path = when(d % 4 === 0, concat(lit("/pub/"), tail))
        .when(d % 4 === 1, concat(lit("/private/"), tail))
        .when(d % 4 === 2, concat(lit("/p/"), tail))
        .otherwise(concat(lit("/x/../private/"), tail))
      val docs = T(s, dir, "documents")
      val discovered = docs.select(
        concat(lit("https://"), host, path).as("url"),
        ((d % 3) + 1).cast("int").as("depth"))
      val frontier = docs.filter(d % 7 === 0)
        .select(concat(lit("https://"), host, lit("/pub/"), tail)
          .as("url"), host.as("host")).distinct()
        .select(col("url"), col("host"), lit(0).as("depth"),
          lit(1.0).as("priority"), lit(0L).as("fetch_count"),
          lit(0).as("fail_count"),
          lit(null).cast("long").as("last_fetch_ts"),
          lit(null).cast("string").as("content_hash"),
          lit(86400L).as("interval_s"), lit(T0).as("next_fetch_ts"),
          lit("active").as("state"),
          lit(null).cast("string").as("etag"),
          lit(null).cast("long").as("last_modified"))
      val robots = Seq(
        ("h0.ex0.com", "User-agent: *\nDisallow: /private\n"),
        ("h1.ex1.com", "User-agent: *\nDisallow: /\nAllow: /pub\n"),
        ("h3.ex3.com", "User-agent: *\nDisallow: /p/9\n"),
        ("h4.ex4.com",
          "User-agent: *\nAllow: /private/open\nDisallow: /private\n"))
        .toDF("domain", "robots_txt")
      val byHost = Robots.rulesByDomain(Robots.parseRules(robots),
        "graftbot")
      val gated = CrawlFrontier.gateRobots(discovered, byHost)
      CrawlFrontier.admit(frontier, gated, now = T0, maxDepth = 4,
        perDomainCap = 25L).orderBy("url")
    }, Some(s"""
      WITH rules(rdomain, is_allow, rpath) AS (VALUES
        ('h0.ex0.com', FALSE, '/private'),
        ('h1.ex1.com', FALSE, '/'), ('h1.ex1.com', TRUE, '/pub'),
        ('h3.ex3.com', FALSE, '/p/9'),
        ('h4.ex4.com', TRUE, '/private/open'),
        ('h4.ex4.com', FALSE, '/private')),
      base AS (
        SELECT doc_id,
               'h' || (doc_id % 5) || '.ex' || (doc_id % 5) || '.com'
                 AS host
        FROM documents),
      d0 AS (
        SELECT doc_id, host,
               'https://' || host ||
               (CASE WHEN doc_id % 4 = 0 THEN '/pub/' || (doc_id % 20)
                     WHEN doc_id % 4 = 1 THEN '/private/' || (doc_id % 20)
                     WHEN doc_id % 4 = 2 THEN '/p/' || (doc_id % 20)
                     ELSE '/x/../private/' || (doc_id % 20) END) AS url
        FROM base),
      dc AS (SELECT doc_id, host,
                    ${QueriesWeb.dotSegSql("url")} AS url
             FROM d0),
      vr AS (
        SELECT doc_id, host, url,
               coalesce((SELECT r.is_allow FROM rules r
                         WHERE r.rdomain = dc.host
                           AND starts_with(
                             regexp_extract(dc.url,
                               '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)',
                               1), r.rpath)
                         ORDER BY length(r.rpath) DESC, r.is_allow DESC
                         LIMIT 1), TRUE) AS allowed
        FROM dc),
      frontier AS (
        SELECT DISTINCT
          'https://' || host || '/pub/' || (doc_id % 20) AS url, host
        FROM base WHERE doc_id % 7 = 0),
      cand AS (
        SELECT url, host, CAST(min((doc_id % 3) + 1) AS INT) AS depth
        FROM vr WHERE allowed
        GROUP BY url, host),
      fresh AS (
        SELECT c.* FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM frontier f WHERE f.url = c.url)),
      ex AS (
        SELECT $domainSql AS domain, count(*) AS n_existing
        FROM frontier GROUP BY 1),
      rk AS (
        SELECT f.*, $domainSql AS domain,
               row_number() OVER (PARTITION BY $domainSql
                 ORDER BY depth, url) AS rnk
        FROM fresh f),
      kept AS (
        SELECT rk.* FROM rk LEFT JOIN ex ON ex.domain = rk.domain
        WHERE rk.rnk + coalesce(ex.n_existing, 0) <= 25)
      SELECT url, host, depth, 1.0 / (depth + 1) AS priority,
             CAST(0 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
             CAST(NULL AS BIGINT) AS last_fetch_ts,
             CAST(NULL AS VARCHAR) AS content_hash,
             CAST(86400 AS BIGINT) AS interval_s,
             CAST(1754000000 AS BIGINT) AS next_fetch_ts,
             'active' AS state,
             CAST(NULL AS VARCHAR) AS etag,
             CAST(NULL AS BIGINT) AS last_modified
      FROM kept ORDER BY url""")),

    Entry("crawl_fetch_requests", (s, dir) => {
      // the conditional-request face: a due wave rendered as what the
      // fetcher SENDS — If-None-Match echoes the stored ETag verbatim
      // (RFC 9110 §13.1.2), If-Modified-Since renders last_modified
      // as an IMF-fixdate (§5.6.7: always GMT, English names — the
      // session runs UTC so the rendering is deterministic and the
      // oracle replays it with strftime), validator-less rows go
      // unconditional (nulls). Composes selectBatch → fetchRequests;
      // pure per-row codegen over the wave.
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 7).cast("string")
      val frontier = T(s, dir, "documents").select(
        concat(lit("https://h"), k, lit(".fr.com/p/"), id).as("url"),
        concat(lit("h"), k, lit(".fr.com")).as("host"),
        lit(1).as("depth"),
        ((d * 37 % 100) / lit(100.0)).as("priority"),
        lit(1L).as("fetch_count"), lit(0).as("fail_count"),
        (lit(T0) - 5000L).as("last_fetch_ts"),
        md5(id).as("content_hash"),
        lit(3600L).as("interval_s"), lit(T0).as("next_fetch_ts"),
        lit("active").as("state"),
        when(d % 3 === 0, concat(lit("W/\""), md5(id), lit("\"")))
          .otherwise(lit(null).cast("string")).as("etag"),
        when(d % 2 === 0, lit(T0) - d * 1000L)
          .otherwise(lit(null).cast("long")).as("last_modified"))
      val batch = CrawlFrontier.selectBatch(frontier, now = T0,
        batchSize = 200, perHostCap = 40)
      CrawlFrontier.fetchRequests(batch).orderBy("url")
    }, Some("""
      WITH f AS (
        SELECT 'https://h' || (doc_id % 7) || '.fr.com/p/' || doc_id
                 AS url,
               'h' || (doc_id % 7) || '.fr.com' AS host,
               (doc_id * 37 % 100) / 100.0 AS priority,
               CASE WHEN doc_id % 3 = 0
                    THEN 'W/"' || md5(CAST(doc_id AS VARCHAR)) || '"'
                    ELSE NULL END AS etag,
               CASE WHEN doc_id % 2 = 0
                    THEN CAST(1754000000 AS BIGINT) - doc_id * 1000
                    ELSE NULL END AS last_modified
        FROM documents),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY host
                    ORDER BY priority DESC, url) AS hr
        FROM f),
      batch AS (
        SELECT * FROM ranked WHERE hr <= 40
        ORDER BY priority DESC, url LIMIT 200)
      SELECT url, host, etag AS if_none_match,
             CASE WHEN last_modified IS NOT NULL
                  THEN strftime(to_timestamp(last_modified),
                                '%a, %d %b %Y %H:%M:%S GMT')
                  ELSE NULL END AS if_modified_since
      FROM batch ORDER BY url""")),

    Entry("crawl_retry_after", (s, dir) => {
      // Retry-After politeness (RFC 9110 §10.2.3): a 429/503 host
      // DECLARING its backoff is believed when it asks for MORE than
      // the law's own doubled interval — the declaration only ever
      // POSTPONES (greatest, never earlier), only on failing answers,
      // and the stored interval keeps the multiplicative backoff (the
      // header speaks to THIS retry, not the page's change rate). The
      // honored value CLAMPS at the law's own maxIntervalS — the
      // fixture's 999999 (11.6 days vs the 7-day ceiling) pins that a
      // hostile declaration cannot freeze a row past the law's own
      // longest wait. The
      // header VALUE parses in-plan via retryAfterSeconds: the
      // delta-seconds form (whitespace-tolerant, numeric-gated), the
      // HTTP-date form nulls out (the fetcher's clock's job), junk
      // nulls out — and null falls back to the backoff via coalesce.
      // The oracle replays parse + law.
      import graft.functions.TextExtraction
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 7).cast("string")
      val docs = T(s, dir, "documents")
      val frontier = docs.select(
        concat(lit("https://h"), k, lit(".ra.com/p/"), id).as("url"),
        concat(lit("h"), k, lit(".ra.com")).as("host"),
        lit(1).as("depth"), lit(0.5).as("priority"),
        (d % 7).cast("bigint").as("fetch_count"),
        lit(0).as("fail_count"),
        lit(null).cast("long").as("last_fetch_ts"),
        md5(id).as("content_hash"),
        (lit(3600L) * (d % 5 + 1)).as("interval_s"),
        lit(T0).as("next_fetch_ts"), lit("active").as("state"),
        lit(null).cast("string").as("etag"),
        lit(null).cast("long").as("last_modified"))
      val status = when(d % 4 === 2, lit(503))
        .when(d % 8 === 0, lit(429)).otherwise(lit(200))
      val raRaw = when(d % 4 === 2,
          when(d % 3 === 0, lit("7200"))
            .when(d % 3 === 1, lit("Fri, 31 Dec 1999 23:59:59 GMT"))
            .otherwise(lit(" 120 ")))
        .when(d % 8 === 0, lit("999999"))
        .otherwise(lit(null).cast("string"))
      val fetched = docs.filter(d % 2 === 0).select(
        concat(lit("https://h"), k, lit(".ra.com/p/"), id).as("url"),
        (lit(T0) + d).as("fetch_ts"), status.as("status"),
        when(status === 200, md5(id)).otherwise(lit(null).cast("string"))
          .as("content_hash"),
        TextExtraction.retryAfterSeconds(raRaw).as("retry_after"))
      CrawlFrontier.recrawlSchedule(frontier, fetched,
        Revisit(minIntervalS = 1800L, maxIntervalS = 604800L,
          grow = 2.0, shrink = 2.0, maxFails = 3))
        .orderBy("url")
    }, Some("""
      WITH f AS (
        SELECT 'https://h' || (doc_id % 7) || '.ra.com/p/' || doc_id
                 AS url,
               'h' || (doc_id % 7) || '.ra.com' AS host,
               CAST(1 AS INT) AS depth, CAST(0.5 AS DOUBLE) AS priority,
               CAST(doc_id % 7 AS BIGINT) AS fetch_count,
               CAST(0 AS INT) AS fail_count,
               CAST(NULL AS BIGINT) AS last_fetch_ts,
               md5(CAST(doc_id AS VARCHAR)) AS content_hash,
               CAST(3600 * (doc_id % 5 + 1) AS BIGINT) AS interval_s,
               CAST(1754000000 AS BIGINT) AS next_fetch_ts,
               'active' AS state,
               CAST(NULL AS VARCHAR) AS etag,
               CAST(NULL AS BIGINT) AS last_modified
        FROM documents),
      r0 AS (
        SELECT doc_id,
               'https://h' || (doc_id % 7) || '.ra.com/p/' || doc_id
                 AS url,
               CAST(1754000000 + doc_id AS BIGINT) AS f_fetch_ts,
               CASE WHEN doc_id % 4 = 2 THEN 503
                    WHEN doc_id % 8 = 0 THEN 429 ELSE 200 END AS f_status,
               CASE WHEN doc_id % 4 = 2 THEN
                      CASE WHEN doc_id % 3 = 0 THEN '7200'
                           WHEN doc_id % 3 = 1
                             THEN 'Fri, 31 Dec 1999 23:59:59 GMT'
                           ELSE ' 120 ' END
                    WHEN doc_id % 8 = 0 THEN '999999'
                    ELSE NULL END AS ra_raw
        FROM documents WHERE doc_id % 2 = 0),
      r AS (
        SELECT url, f_fetch_ts, f_status,
               CASE WHEN f_status = 200
                    THEN md5(CAST(doc_id AS VARCHAR))
                    ELSE NULL END AS f_content_hash,
               CASE WHEN regexp_matches(trim(ra_raw), '^[0-9]{1,9}$')
                    THEN CAST(trim(ra_raw) AS BIGINT)
                    ELSE NULL END AS f_retry_after
        FROM r0),
      j AS (SELECT f.*, r.f_fetch_ts, r.f_status, r.f_content_hash,
                   r.f_retry_after
            FROM f LEFT JOIN r ON r.url = f.url),
      law AS (
        SELECT *,
          (f_status BETWEEN 200 AND 299) AS ok,
          (f_status IN (404, 410)) AS gone,
          (f_status = 304) AS notmod,
          ((f_status BETWEEN 200 AND 299) AND
           (content_hash IS NULL OR content_hash <> f_content_hash))
            AS changed
        FROM j),
      iv AS (
        SELECT *,
          CASE WHEN changed
                 THEN greatest(1800, CAST(floor(interval_s / 2.0)
                   AS BIGINT))
               WHEN gone THEN interval_s
               ELSE least(604800, CAST(floor(interval_s * 2.0)
                 AS BIGINT)) END AS new_interval,
          CASE WHEN ok OR gone OR notmod THEN 0
               ELSE fail_count + 1 END AS new_fails
        FROM law),
      w AS (
        SELECT *,
          CASE WHEN NOT ok AND NOT gone AND NOT notmod
                    AND f_retry_after IS NOT NULL
               THEN greatest(new_interval, least(f_retry_after, 604800))
               ELSE new_interval END AS wait
        FROM iv)
      SELECT url, host, depth, priority,
        CASE WHEN f_fetch_ts IS NULL THEN fetch_count
             ELSE fetch_count + 1 END AS fetch_count,
        CASE WHEN f_fetch_ts IS NULL THEN fail_count
             ELSE new_fails END AS fail_count,
        CASE WHEN f_fetch_ts IS NULL THEN last_fetch_ts
             ELSE f_fetch_ts END AS last_fetch_ts,
        content_hash,
        CASE WHEN f_fetch_ts IS NULL THEN interval_s
             ELSE new_interval END AS interval_s,
        CASE WHEN f_fetch_ts IS NULL THEN next_fetch_ts
             ELSE f_fetch_ts + wait END AS next_fetch_ts,
        CASE WHEN f_fetch_ts IS NULL THEN state
             WHEN gone THEN 'dead'
             WHEN NOT ok AND NOT notmod AND new_fails >= 3 THEN 'dead'
             ELSE state END AS state,
        etag,
        CAST(NULL AS BIGINT) AS last_modified
      FROM w ORDER BY url""")),

    Entry("crawl_reseed", (s, dir) => {
      // re-announced seed waves (a nightly sitemap re-read) merge
      // changed-rows-only: a known ACTIVE row pulls due-now ONLY when
      // the seed's <lastmod> claims a change SINCE our last fetch and
      // the row isn't already due — stale lastmods, unfetched rows,
      // already-due rows and dead rows all emit nothing, so the pass
      // never resets a big frontier's schedule. The recorded
      // last_modified takes the NEWER of the stored claim and the
      // seed's (spelled as an explicit CASE — no engine-specific
      // null-in-greatest semantics). One url-keyed seed aggregate +
      // one url-equi inner join (the seed wave broadcasts).
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 5).cast("string")
      val docs = T(s, dir, "documents")
      val frontier = docs.select(
        concat(lit("https://h"), k, lit(".rs.com/p/"), id).as("url"),
        concat(lit("h"), k, lit(".rs.com")).as("host"),
        lit(1).as("depth"), lit(0.5).as("priority"),
        lit(2L).as("fetch_count"), lit(0).as("fail_count"),
        when(d % 3 === 0, lit(null).cast("long"))
          .otherwise(lit(T0) - 5000L).as("last_fetch_ts"),
        md5(id).as("content_hash"),
        lit(86400L).as("interval_s"),
        when(d % 4 === 0, lit(T0) - 100L).otherwise(lit(T0) + 5000L)
          .as("next_fetch_ts"),
        when(d % 11 === 0, lit("dead")).otherwise(lit("active"))
          .as("state"),
        lit(null).cast("string").as("etag"),
        when(d % 7 === 0, lit(T0) + 1000000000L)
          .otherwise(lit(null).cast("long")).as("last_modified"))
      val seedUrls = docs.filter(d % 2 === 0).select(
        concat(lit("https://h"), k, lit(".rs.com/p/"), id).as("url"),
        when(d % 5 === 0, lit("1970-01-02")) // stale: long before fetch
          .when(d % 10 === 2, lit("junk date")) // shape-gated → null
          .otherwise(lit("2026-01-05")).as("lastmod"))
      val seeds = CrawlFrontier.seed(seedUrls, now = T0,
        lastmodCol = Some("lastmod"))
      CrawlFrontier.reseed(frontier, seeds, now = T0).orderBy("url")
    }, Some("""
      WITH f AS (
        SELECT 'https://h' || (doc_id % 5) || '.rs.com/p/' || doc_id
                 AS url,
               'h' || (doc_id % 5) || '.rs.com' AS host,
               CAST(1 AS INT) AS depth, CAST(0.5 AS DOUBLE) AS priority,
               CAST(2 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
               CASE WHEN doc_id % 3 = 0 THEN NULL
                    ELSE CAST(1754000000 - 5000 AS BIGINT) END
                 AS last_fetch_ts,
               md5(CAST(doc_id AS VARCHAR)) AS content_hash,
               CAST(86400 AS BIGINT) AS interval_s,
               CASE WHEN doc_id % 4 = 0
                    THEN CAST(1754000000 - 100 AS BIGINT)
                    ELSE CAST(1754000000 + 5000 AS BIGINT) END
                 AS next_fetch_ts,
               CASE WHEN doc_id % 11 = 0 THEN 'dead' ELSE 'active' END
                 AS state,
               CAST(NULL AS VARCHAR) AS etag,
               CASE WHEN doc_id % 7 = 0
                    THEN CAST(1754000000 AS BIGINT) + 1000000000
                    ELSE NULL END AS last_modified
        FROM documents),
      sd0 AS (
        SELECT 'https://h' || (doc_id % 5) || '.rs.com/p/' || doc_id
                 AS url,
               CASE WHEN doc_id % 5 = 0 THEN '1970-01-02'
                    WHEN doc_id % 10 = 2 THEN 'junk date'
                    ELSE '2026-01-05' END AS lastmod
        FROM documents WHERE doc_id % 2 = 0),
      sd AS (
        SELECT url,
               max(CASE WHEN regexp_matches(substr(lastmod, 1, 10),
                          '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
                        THEN CAST(epoch(TRY_CAST(substr(lastmod, 1, 10)
                          AS TIMESTAMP)) AS BIGINT)
                        ELSE NULL END) AS seed_lm
        FROM sd0 GROUP BY url),
      j AS (
        SELECT f.*, sd.seed_lm
        FROM f JOIN sd ON sd.url = f.url
        WHERE sd.seed_lm IS NOT NULL
          AND f.state = 'active'
          AND f.last_fetch_ts IS NOT NULL
          AND sd.seed_lm > f.last_fetch_ts
          AND f.next_fetch_ts > 1754000000)
      SELECT url, host, depth, priority, fetch_count, fail_count,
             last_fetch_ts, content_hash, interval_s,
             CAST(1754000000 AS BIGINT) AS next_fetch_ts, state, etag,
             CASE WHEN last_modified IS NULL THEN seed_lm
                  WHEN last_modified > seed_lm THEN last_modified
                  ELSE seed_lm END AS last_modified
      FROM j ORDER BY url""")),

    Entry("crawl_robots_lifecycle", (s, dir) => {
      // the robots.txt LIFECYCLE's status law (RFC 9309 §2.3.1):
      // robots fetch results → per-host rules via rulesFromFetch —
      // 200 with rules parses ('rules'), 200 with only an empty
      // Disallow: allows everything (the empty-pattern law, still
      // 'rules'), 404 means unrestricted access ('allow_all'),
      // 503, a network error (status 0) AND a 429 mean temporarily
      // assume COMPLETE disallow ('disallow_all' — rate-limited is
      // §2.3.1.4's "unreachable": no verdict was delivered, and
      // reading it as unrestricted access would open a host BECAUSE
      // it throttled us), an unresolved 301 falls
      // to the MAY-assume-unavailable clause ('allow_all') — and the
      // maintained frame feeds gateRobots UNCHANGED, lifecycle
      // metadata riding along. The oracle replays status→verdict →
      // gate; rule parsing/precedence parity is web_robots' and
      // crawl_admit_robots' subject.
      import graft.functions.Robots
      val d = col("doc_id")
      val k = (d % 7).cast("string")
      val host = concat(lit("h"), k, lit(".rl.com"))
      val status = when(d % 7 === 0 || d % 7 === 1, lit(200))
        .when(d % 7 === 2, lit(404)).when(d % 7 === 3, lit(503))
        .when(d % 7 === 4, lit(0)).when(d % 7 === 6, lit(429))
        .otherwise(lit(301))
      val txt = when(d % 7 === 0,
          lit("User-agent: *\nDisallow: /private\n"))
        .when(d % 7 === 1, lit("User-agent: *\nDisallow:\n"))
        .otherwise(lit(null).cast("string"))
      val docs = T(s, dir, "documents")
      val robotsFetched = docs.select(host.as("domain"),
        status.as("status"), txt.as("robots_txt"),
        lit(T0).as("fetch_ts")).distinct()
      val rules = Robots.rulesFromFetch(robotsFetched, "graftbot")
      val discovered = docs.select(
        concat(lit("https://"), host,
          when(d % 2 === 0, concat(lit("/pub/"), (d % 10).cast("string")))
            .otherwise(concat(lit("/private/"),
              (d % 10).cast("string")))).as("url"),
        host.as("host"), lit(1).as("depth"))
      CrawlFrontier.gateRobots(discovered, rules)
        .join(rules.select(col("domain").as("host"),
          col("robots_status"), col("fetched_at")), Seq("host"))
        .select(col("url"), col("host"), col("depth"),
          col("robots_status"), col("fetched_at"))
        .orderBy("url")
    }, Some("""
      WITH base AS (
        SELECT doc_id,
               'h' || (doc_id % 7) || '.rl.com' AS host,
               CAST(doc_id % 7 AS INT) AS k,
               CASE WHEN doc_id % 2 = 0 THEN '/pub/' || (doc_id % 10)
                    ELSE '/private/' || (doc_id % 10) END AS path
        FROM documents),
      v AS (
        SELECT doc_id, host, path,
          CASE WHEN k IN (3, 4, 6) THEN FALSE
               WHEN k = 0 THEN NOT starts_with(path, '/private')
               ELSE TRUE END AS allowed,
          CASE WHEN k IN (0, 1) THEN 'rules'
               WHEN k IN (2, 5) THEN 'allow_all'
               ELSE 'disallow_all' END AS robots_status
        FROM base)
      SELECT 'https://' || host || path AS url, host,
             CAST(1 AS INT) AS depth, robots_status,
             CAST(1754000000 AS BIGINT) AS fetched_at
      FROM v WHERE allowed ORDER BY url""")),

    Entry("crawl_sitemap_fold", (s, dir) => {
      // the sitemap lifecycle's BODY half: one cycle's parsed feed
      // entries fold into the frontier — a known row pulls due ONLY
      // when the announced <lastmod> claims a change since our last
      // fetch (the reseed law: stale re-announcements, never-fetched
      // rows emit NOTHING — a nightly feed pass must not churn the
      // schedule), and unknown URLs seed fresh at depth 0 with the
      // publisher's declared priority/changefreq/lastmod riding into
      // the row. Entry parsing is crawl_sitemap_parse's subject; this
      // oracle replays the fixture CONTRACT + the fold laws (the
      // text_content_encoding convention).
      import graft.functions.Sitemaps
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 5).cast("string")
      val docs = T(s, dir, "documents")
      val frontier = docs.select(
        concat(lit("https://h"), k, lit(".sf.com/p/"), id).as("url"),
        concat(lit("h"), k, lit(".sf.com")).as("host"),
        lit(1).as("depth"), lit(0.5).as("priority"),
        lit(2L).as("fetch_count"), lit(0).as("fail_count"),
        when(d % 3 === 0, lit(null).cast("long"))
          .otherwise(lit(T0) - 5000L).as("last_fetch_ts"),
        md5(id).as("content_hash"),
        lit(86400L).as("interval_s"),
        (lit(T0) + 5000L).as("next_fetch_ts"),
        lit("active").as("state"),
        lit(null).cast("string").as("etag"),
        lit(null).cast("long").as("last_modified"))
      val xml = concat(
        lit("<urlset><url><loc>https://h"), k, lit(".sf.com/p/"), id,
        lit("</loc><lastmod>"),
        when(d % 2 === 0, lit("2026-01-05")).otherwise(lit("1970-01-02")),
        lit("</lastmod></url><url><loc>https://h"), k,
        lit(".sf.com/n/"), id,
        lit("</loc><lastmod>2026-01-0"), (d % 9 + 1).cast("string"),
        lit("</lastmod><changefreq>hourly</changefreq>"),
        lit("<priority>0.8</priority></url></urlset>"))
      val entries = docs.select(explode(Sitemaps.urlEntries(xml)))
        .select(col("col.*"))
      CrawlFrontier.sitemapFold(frontier, entries, now = T0)
        .orderBy("url")
    }, Some("""
      WITH base AS (
        SELECT doc_id, 'h' || (doc_id % 5) || '.sf.com' AS host
        FROM documents),
      known AS (
        SELECT doc_id, host,
               'https://' || host || '/p/' || doc_id AS url
        FROM base
        WHERE doc_id % 2 = 0       -- lastmod 2026-01-05: changed
          AND doc_id % 3 <> 0),    -- never-fetched rows emit nothing
      new_rows AS (
        SELECT doc_id, host,
               'https://' || host || '/n/' || doc_id AS url
        FROM base)
      SELECT url, host, CAST(1 AS INT) AS depth,
             CAST(0.5 AS DOUBLE) AS priority,
             CAST(2 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
             CAST(1754000000 - 5000 AS BIGINT) AS last_fetch_ts,
             md5(CAST(doc_id AS VARCHAR)) AS content_hash,
             CAST(86400 AS BIGINT) AS interval_s,
             CAST(1754000000 AS BIGINT) AS next_fetch_ts,
             'active' AS state, CAST(NULL AS VARCHAR) AS etag,
             CAST(epoch(TRY_CAST('2026-01-05' AS TIMESTAMP)) AS BIGINT)
               AS last_modified
      FROM known
      UNION ALL
      SELECT url, host, CAST(0 AS INT) AS depth,
             CAST(0.8 AS DOUBLE) AS priority,
             CAST(0 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
             CAST(NULL AS BIGINT) AS last_fetch_ts,
             CAST(NULL AS VARCHAR) AS content_hash,
             CAST(3600 AS BIGINT) AS interval_s,
             CAST(1754000000 AS BIGINT) AS next_fetch_ts,
             'active' AS state, CAST(NULL AS VARCHAR) AS etag,
             CAST(epoch(TRY_CAST('2026-01-0' || (doc_id % 9 + 1)
               AS TIMESTAMP)) AS BIGINT) AS last_modified
      FROM new_rows
      ORDER BY url""")),

    Entry("crawl_sitemap_index", (s, dir) => {
      // the sitemap BODY dispatch at the top of a real feed tree: big
      // publishers serve a <sitemapindex>, not a urlset — index
      // bodies seed their CHILD feeds as new sitemap rows (priority
      // 1.5, feed cadence; a child already in the frontier keeps its
      // own schedule via the anti-join — the parent re-announcing
      // itself every fetch must not reset it), urlset bodies take the
      // sitemapFold laws unchanged. Even docs serve an index (child
      // c{d} new + the parent itself, dropped), odd docs a urlset
      // (one new page with weekly changefreq + declared priority).
      // The oracle replays the fixture contract (the
      // crawl_sitemap_fold convention; isIndex/indexEntries regex
      // parity is crawl_sitemap_parse's subject).
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 5).cast("string")
      val feed = concat(lit("https://h"), k, lit(".si.com/sitemap.xml"))
      val docs = T(s, dir, "documents")
      val frontier = CrawlFrontier.sitemapSeeds(
        docs.select(feed.as("url")), now = T0 - 500L)
      val xml = when(d % 2 === 0, concat(
          lit("<sitemapindex><sitemap><loc>https://h"), k,
          lit(".si.com/sitemaps/c"), id, lit(".xml</loc></sitemap>"),
          lit("<sitemap><loc>https://h"), k,
          lit(".si.com/sitemap.xml</loc></sitemap></sitemapindex>")))
        .otherwise(concat(
          lit("<urlset><url><loc>https://h"), k, lit(".si.com/n/"), id,
          lit("</loc><changefreq>weekly</changefreq>"),
          lit("<priority>0.3</priority></url></urlset>")))
      CrawlFrontier.sitemapBodiesFold(frontier,
        docs.select(feed.as("url"), xml.as("xml")), now = T0)
        .orderBy("url")
    }, Some("""
      WITH base AS (
        SELECT doc_id, 'h' || (doc_id % 5) || '.si.com' AS host
        FROM documents)
      SELECT 'https://' || host || '/n/' || doc_id AS url, host,
             CAST(0 AS INT) AS depth, CAST(0.3 AS DOUBLE) AS priority,
             CAST(0 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
             CAST(NULL AS BIGINT) AS last_fetch_ts,
             CAST(NULL AS VARCHAR) AS content_hash,
             CAST(604800 AS BIGINT) AS interval_s,
             CAST(1754000000 AS BIGINT) AS next_fetch_ts,
             'active' AS state, CAST(NULL AS VARCHAR) AS etag,
             CAST(NULL AS BIGINT) AS last_modified
      FROM base WHERE doc_id % 2 = 1
      UNION ALL
      SELECT 'https://' || host || '/sitemaps/c' || doc_id || '.xml'
               AS url, host,
             CAST(0 AS INT) AS depth, CAST(1.5 AS DOUBLE) AS priority,
             CAST(0 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
             CAST(NULL AS BIGINT) AS last_fetch_ts,
             CAST(NULL AS VARCHAR) AS content_hash,
             CAST(86400 AS BIGINT) AS interval_s,
             CAST(1754000000 AS BIGINT) AS next_fetch_ts,
             'active' AS state, CAST(NULL AS VARCHAR) AS etag,
             CAST(NULL AS BIGINT) AS last_modified
      FROM base WHERE doc_id % 2 = 0
      ORDER BY url""")),

    Entry("crawl_polite_waves", (s, dir) => {
      // per-host politeness ACROSS waves: a 60-second cycle against a
      // 600-second budget window must not re-grant the declared
      // budget every wave. Wave 1 spends against the full caps; the
      // maintained usage frame carries spend over the boundary, so
      // wave 2 (same window) grants budgeted hosts only what is
      // LEFT — exhausted hosts sit it out — while unbudgeted hosts
      // keep the global cap. The oracle replays both waves' select
      // law + the usage/remaining arithmetic.
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 7).cast("string")
      val host = concat(lit("h"), k, lit(".pw.com"))
      val docs = T(s, dir, "documents")
      val frontier = docs.select(
        concat(lit("https://"), host, lit("/p/"), id).as("url"),
        host.as("host"), lit(0).as("depth"),
        ((d * 37 % 100) / lit(100.0)).as("priority"),
        lit(0L).as("fetch_count"), lit(0).as("fail_count"),
        lit(null).cast("long").as("last_fetch_ts"),
        lit(null).cast("string").as("content_hash"),
        lit(3600L).as("interval_s"), lit(T0).as("next_fetch_ts"),
        lit("active").as("state"),
        lit(null).cast("string").as("etag"),
        lit(null).cast("long").as("last_modified"))
      val budgets = docs.filter(d % 7 < 4)
        .select(host.as("host"), (d % 7 + 1).cast("int").as("cap"))
        .distinct()
      val emptyUsage = budgets.select(col("host"),
        lit(0L).as("window_start"), lit(0L).as("used")).filter(lit(false))
      // wave 1's batch feeds the usage merge, the wave-2 anti-join AND
      // the final union — ≤ batchSize rows, materialized once
      val w1 = CrawlFrontier.selectBatch(frontier, now = T0,
        batchSize = 30, perHostCap = 8,
        hostBudgets = Some(CrawlFrontier.remainingBudgets(budgets,
          emptyUsage, now = T0, windowS = 600L)))
        .localCheckpoint(true)
      val usage1 = CrawlFrontier.updateHostUsage(emptyUsage, w1,
        now = T0, windowS = 600L)
      val f2 = frontier.join(w1.select("url"), Seq("url"), "left_anti")
      val w2 = CrawlFrontier.selectBatch(f2, now = T0 + 60L,
        batchSize = 30, perHostCap = 8,
        hostBudgets = Some(CrawlFrontier.remainingBudgets(budgets,
          usage1, now = T0 + 60L, windowS = 600L)))
      w1.select(lit(1).as("wave"), col("url"), col("host"),
          col("priority"))
        .unionByName(w2.select(lit(2).as("wave"), col("url"),
          col("host"), col("priority")))
        .orderBy("wave", "url")
    }, Some("""
      WITH f AS (
        SELECT 'https://h' || (doc_id % 7) || '.pw.com/p/' || doc_id
                 AS url,
               'h' || (doc_id % 7) || '.pw.com' AS host,
               (doc_id * 37 % 100) / 100.0 AS priority
        FROM documents),
      bud AS (
        SELECT DISTINCT 'h' || (doc_id % 7) || '.pw.com' AS host,
               CAST(doc_id % 7 + 1 AS BIGINT) AS cap
        FROM documents WHERE doc_id % 7 < 4),
      r1 AS (
        SELECT f.*, row_number() OVER (PARTITION BY host
                 ORDER BY priority DESC, url) AS hr
        FROM f),
      w1 AS (
        SELECT r1.url, r1.host, r1.priority FROM r1
        LEFT JOIN bud ON bud.host = r1.host
        WHERE r1.hr <= least(8, coalesce(bud.cap, 8))
        ORDER BY r1.priority DESC, r1.url LIMIT 30),
      use1 AS (SELECT host, count(*) AS used FROM w1 GROUP BY host),
      eff AS (
        SELECT bud.host,
               greatest(0, bud.cap - coalesce(use1.used, 0)) AS cap
        FROM bud LEFT JOIN use1 ON use1.host = bud.host),
      f2 AS (
        SELECT * FROM f
        WHERE url NOT IN (SELECT url FROM w1)),
      r2 AS (
        SELECT f2.*, row_number() OVER (PARTITION BY host
                 ORDER BY priority DESC, url) AS hr
        FROM f2),
      w2 AS (
        SELECT r2.url, r2.host, r2.priority FROM r2
        LEFT JOIN eff ON eff.host = r2.host
        WHERE r2.hr <= least(8, coalesce(eff.cap, 8))
        ORDER BY r2.priority DESC, r2.url LIMIT 30)
      SELECT CAST(1 AS INT) AS wave, url, host, priority FROM w1
      UNION ALL
      SELECT CAST(2 AS INT) AS wave, url, host, priority FROM w2
      ORDER BY wave, url""")),

    Entry("crawl_compact", (s, dir) => {
      // frontier GC: dead rows past the retention horizon retire
      // (admit re-learns a re-linked URL with a fresh budget — one
      // re-probe per horizon beats carrying the corpse in every
      // admission anti-join forever); 'redirected' rows keep at ANY
      // age (they are the alias map), active rows always keep,
      // never-fetched dead rows (no last_fetch_ts) keep — age
      // unknown. Both faces in one output: kept ∪ deletes, tagged.
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 5).cast("string")
      val docs = T(s, dir, "documents")
      val state = when(d % 4 === 0 || d % 4 === 1, lit("dead"))
        .when(d % 4 === 2, lit("redirected")).otherwise(lit("active"))
      val lastFetch = when(d % 8 === 0, lit(null).cast("long"))
        .when(d % 2 === 0, lit(T0) - 100L * 86400L) // past the horizon
        .otherwise(lit(T0) - 10L * 86400L)          // inside it
      val frontier = docs.select(
        concat(lit("https://h"), k, lit(".gc.com/p/"), id).as("url"),
        concat(lit("h"), k, lit(".gc.com")).as("host"),
        lit(1).as("depth"), lit(0.5).as("priority"),
        lit(3L).as("fetch_count"), lit(0).as("fail_count"),
        lastFetch.as("last_fetch_ts"),
        md5(id).as("content_hash"), lit(86400L).as("interval_s"),
        lit(T0).as("next_fetch_ts"), state.as("state"),
        lit(null).cast("string").as("etag"),
        lit(null).cast("long").as("last_modified"))
      val deletes = CrawlFrontier.compactionDeletes(frontier, now = T0,
        deadRetentionS = 90L * 86400L)
      val kept = CrawlFrontier.compactFrontier(frontier, now = T0,
        deadRetentionS = 90L * 86400L)
      kept.select(col("url"), col("state"), lit("keep").as("verdict"))
        .unionByName(deletes.select(col("url"), col("state"),
          lit("delete").as("verdict")))
        .orderBy("url")
    }, Some("""
      WITH f AS (
        SELECT 'https://h' || (doc_id % 5) || '.gc.com/p/' || doc_id
                 AS url,
               CASE WHEN doc_id % 4 IN (0, 1) THEN 'dead'
                    WHEN doc_id % 4 = 2 THEN 'redirected'
                    ELSE 'active' END AS state,
               CASE WHEN doc_id % 8 = 0 THEN NULL
                    WHEN doc_id % 2 = 0
                      THEN CAST(1754000000 AS BIGINT) - 100 * 86400
                    ELSE CAST(1754000000 AS BIGINT) - 10 * 86400 END
                 AS last_fetch_ts
        FROM documents),
      v AS (
        SELECT url, state,
               CASE WHEN state = 'dead' AND last_fetch_ts IS NOT NULL
                         AND last_fetch_ts <
                           1754000000 - CAST(90 * 86400 AS BIGINT)
                    THEN 'delete' ELSE 'keep' END AS verdict
        FROM f)
      SELECT url, state, verdict FROM v ORDER BY url""")),

    Entry("crawl_archive_plan", (s, dir) => {
      // the archive write decision off one cycle's results: 2xx with
      // a NEW hash (or a first capture) → store the body
      // ('response'); a 2xx whose hash matches the held capture →
      // the identical-payload-digest revisit; a 304 against a held
      // capture → the server-not-modified revisit (WARC 1.1 §6.7.3 —
      // nothing was hashed this fetch, so the byte-identity profile
      // would be a false claim); errors/redirects store nothing, and
      // so does a 304 with NO held capture (nothing to refer to).
      // The oracle replays the verdict law; the writer/reader
      // round-trip is crawl_archive_revisit's subject.
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 5).cast("string")
      val docs = T(s, dir, "documents")
      val url = concat(lit("https://h"), k, lit(".ap.com/p/"), id)
      val frontier = docs.select(url.as("url"),
        concat(lit("h"), k, lit(".ap.com")).as("host"),
        lit(1).as("depth"), lit(0.5).as("priority"),
        lit(1L).as("fetch_count"), lit(0).as("fail_count"),
        (lit(T0) - 5000L).as("last_fetch_ts"),
        when(d % 8 === 1 || d % 8 === 7, lit(null).cast("string"))
          .otherwise(md5(id)).as("content_hash"),
        lit(86400L).as("interval_s"), lit(T0).as("next_fetch_ts"),
        lit("active").as("state"),
        lit(null).cast("string").as("etag"),
        lit(null).cast("long").as("last_modified"))
      val status = when(d % 8 === 2 || d % 8 === 7, lit(304))
        .when(d % 8 === 3, lit(404)).when(d % 8 === 4, lit(503))
        .when(d % 8 === 5, lit(301)).otherwise(lit(200))
      val fetched = docs.select(url.as("url"),
        (lit(T0) + 100L).as("fetch_ts"), status.as("status"),
        when(status === 200,
          when(d % 8 === 6, md5(concat(lit("new-"), id)))
            .otherwise(md5(id)))
          .otherwise(lit(null).cast("string")).as("content_hash"))
      CrawlFrontier.archivePlan(fetched, frontier).orderBy("url")
    }, Some("""
      WITH base AS (
        SELECT doc_id, CAST(doc_id % 8 AS INT) AS m,
               'https://h' || (doc_id % 5) || '.ap.com/p/' || doc_id
                 AS url,
               CASE WHEN doc_id % 8 IN (1, 7) THEN NULL
                    ELSE md5(CAST(doc_id AS VARCHAR)) END AS held
        FROM documents)
      SELECT url,
             -- m=0: 200 with the held hash → identical-digest revisit;
             -- m=2: 304 with a held capture → server-not-modified;
             -- m=1: first capture; m=6: 200 with a new hash → response;
             -- m=3/4/5 (404/503/301) and m=7 (304, no held capture)
             -- store nothing
             CASE WHEN m IN (0, 2) THEN 'revisit'
                  ELSE 'response' END AS kind,
             CASE WHEN m IN (0, 2) THEN url ELSE NULL END AS refers_to,
             CASE WHEN m IN (0, 2) THEN 'md5:' || held
                  ELSE NULL END AS payload_digest,
             CASE WHEN m = 0 THEN
               'http://netpreserve.org/warc/1.1/revisit/identical-payload-digest'
                  WHEN m = 2 THEN
               'http://netpreserve.org/warc/1.1/revisit/server-not-modified'
                  ELSE NULL END AS profile
      FROM base WHERE m IN (0, 1, 2, 6)
      ORDER BY url""")),

    Entry("crawl_redirects", (s, dir) => {
      // the 3xx regime of the revisit law (RFC 9110 §15.4): a
      // permanent redirect (301/308 with Location) RETIRES the source
      // row as 'redirected' — a healthy answer, never a failure, so
      // the moved page stops burning politeness budget — and its
      // target is admitted at the SOURCE's depth (an alias is the
      // same page, not a deeper discovery) through admit's full gate:
      // a target already in the frontier (the 308 slice here) mints
      // nothing. A temporary redirect (302/307) keeps the row on the
      // unchanged schedule with the fail streak reset; a 3xx MISSING
      // its Location is malformed and stays a transient failure (the
      // k=3 slice arrives at fail_count 2 and dies at maxFails 3).
      // One wave: recrawlSchedule over the whole frontier ∪ the
      // redirect admissions — the cycle's full write set.
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 5).cast("string")
      val docs = T(s, dir, "documents")
      val frontier = docs.select(
        concat(lit("https://h"), k, lit(".rd.com/p/"), id).as("url"),
        concat(lit("h"), k, lit(".rd.com")).as("host"),
        lit(1).as("depth"), lit(0.5).as("priority"),
        lit(1L).as("fetch_count"),
        when(d % 6 === 3, lit(2)).otherwise(lit(0)).as("fail_count"),
        (lit(T0) - 5000L).as("last_fetch_ts"),
        md5(id).as("content_hash"),
        (lit(3600L) * (d % 3 + 1)).as("interval_s"),
        lit(T0).as("next_fetch_ts"), lit("active").as("state"),
        lit(null).cast("string").as("etag"),
        lit(null).cast("long").as("last_modified"))
      val status = when(d % 6 === 0, lit(301)).when(d % 6 === 1, lit(308))
        .when(d % 6 === 2, lit(302)).when(d % 6 === 3, lit(301))
        .when(d % 6 === 4, lit(200)).otherwise(lit(307))
      val location = when(d % 6 === 0,
          concat(lit("https://h"), k, lit(".rd.com/new/"), id))
        .when(d % 6 === 1, // points at an EXISTING row: admit blocks
          concat(lit("https://h"), ((d - 1) % 5).cast("string"),
            lit(".rd.com/p/"), (d - 1).cast("string")))
        .when(d % 6 === 2 || d % 6 === 5,
          concat(lit("https://h"), k, lit(".rd.com/tmp/"), id))
        .otherwise(lit(null).cast("string")) // the malformed 301
      val fetched = docs.select(
        concat(lit("https://h"), k, lit(".rd.com/p/"), id).as("url"),
        lit(T0 + 100L).as("fetch_ts"), status.as("status"),
        when(status === 200, md5(concat(lit("w1-"), id)))
          .otherwise(lit(null).cast("string")).as("content_hash"),
        location.as("location"))
      val updated = CrawlFrontier.recrawlSchedule(frontier, fetched)
      val admitted = CrawlFrontier.redirectAdmissions(fetched, frontier,
        now = T0 + 100L)
      updated.unionByName(admitted).orderBy("url")
    }, Some("""
      WITH f AS (
        SELECT 'https://h' || (doc_id % 5) || '.rd.com/p/' || doc_id
                 AS url,
               'h' || (doc_id % 5) || '.rd.com' AS host,
               CAST(1 AS INT) AS depth, CAST(0.5 AS DOUBLE) AS priority,
               CAST(1 AS BIGINT) AS fetch_count,
               CASE WHEN doc_id % 6 = 3 THEN 2 ELSE 0 END AS fail_count,
               CAST(1754000000 - 5000 AS BIGINT) AS last_fetch_ts,
               md5(CAST(doc_id AS VARCHAR)) AS content_hash,
               CAST(3600 * (doc_id % 3 + 1) AS BIGINT) AS interval_s,
               CAST(1754000000 AS BIGINT) AS next_fetch_ts,
               'active' AS state,
               CAST(NULL AS VARCHAR) AS etag,
               CAST(NULL AS BIGINT) AS last_modified
        FROM documents),
      r AS (
        SELECT 'https://h' || (doc_id % 5) || '.rd.com/p/' || doc_id
                 AS url,
               CAST(1754000100 AS BIGINT) AS f_fetch_ts,
               CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 301
                 WHEN 1 THEN 308 WHEN 2 THEN 302 WHEN 3 THEN 301
                 WHEN 4 THEN 200 ELSE 307 END AS f_status,
               CASE WHEN doc_id % 6 = 4
                    THEN md5('w1-' || doc_id) ELSE NULL END
                 AS f_content_hash,
               CASE CAST(doc_id % 6 AS INT)
                 WHEN 0 THEN 'https://h' || (doc_id % 5) ||
                   '.rd.com/new/' || doc_id
                 WHEN 1 THEN 'https://h' || ((doc_id - 1) % 5) ||
                   '.rd.com/p/' || (doc_id - 1)
                 WHEN 2 THEN 'https://h' || (doc_id % 5) ||
                   '.rd.com/tmp/' || doc_id
                 WHEN 5 THEN 'https://h' || (doc_id % 5) ||
                   '.rd.com/tmp/' || doc_id
                 ELSE NULL END AS f_location,
               doc_id
        FROM documents),
      law AS (
        SELECT f.*, r.f_fetch_ts, r.f_status, r.f_content_hash,
               r.f_location,
          (r.f_status BETWEEN 200 AND 299) AS ok,
          (r.f_status IN (404, 410)) AS gone,
          (r.f_status = 304) AS notmod,
          (r.f_status IN (301, 308) AND r.f_location IS NOT NULL)
            AS perm,
          (r.f_status IN (302, 303, 307) AND r.f_location IS NOT NULL)
            AS tmp,
          ((r.f_status BETWEEN 200 AND 299) AND
           (f.content_hash IS NULL OR f.content_hash <> r.f_content_hash))
            AS changed
        FROM f JOIN r ON r.url = f.url),
      iv AS (
        SELECT *,
          CASE WHEN changed
                 THEN greatest(3600, CAST(floor(interval_s / 2.0)
                   AS BIGINT))
               WHEN gone OR perm THEN interval_s
               ELSE least(2592000, CAST(floor(interval_s * 2.0)
                 AS BIGINT)) END AS new_interval,
          CASE WHEN ok OR gone OR notmod OR perm OR tmp THEN 0
               ELSE fail_count + 1 END AS new_fails
        FROM law),
      upd AS (
        SELECT url, host, depth, priority,
          fetch_count + 1 AS fetch_count, new_fails AS fail_count,
          f_fetch_ts AS last_fetch_ts,
          CASE WHEN ok THEN f_content_hash ELSE content_hash END
            AS content_hash,
          new_interval AS interval_s,
          CASE WHEN gone OR perm OR (NOT ok AND NOT notmod AND NOT tmp
                    AND new_fails >= 3)
               THEN f_fetch_ts -- a retiring row's clock stops
               ELSE f_fetch_ts + new_interval END AS next_fetch_ts,
          CASE WHEN gone THEN 'dead'
               WHEN perm THEN 'redirected'
               WHEN NOT ok AND NOT notmod AND NOT tmp
                    AND new_fails >= 3 THEN 'dead'
               ELSE state END AS state,
          CAST(NULL AS VARCHAR) AS etag,
          CAST(NULL AS BIGINT) AS last_modified
        FROM iv),
      adm AS (
        SELECT DISTINCT l.f_location AS url,
               'h' || (l.doc_id % 5) || '.rd.com' AS host,
               l.depth
        FROM (SELECT law.*, r2.doc_id FROM law
              JOIN r r2 ON r2.url = law.url) l
        WHERE l.perm
          AND NOT EXISTS (SELECT 1 FROM f WHERE f.url = l.f_location)),
      admitted AS (
        SELECT url, host, depth, 1.0 / (depth + 1) AS priority,
               CAST(0 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
               CAST(NULL AS BIGINT) AS last_fetch_ts,
               CAST(NULL AS VARCHAR) AS content_hash,
               CAST(86400 AS BIGINT) AS interval_s,
               CAST(1754000100 AS BIGINT) AS next_fetch_ts,
               'active' AS state,
               CAST(NULL AS VARCHAR) AS etag,
               CAST(NULL AS BIGINT) AS last_modified
        FROM adm)
      SELECT * FROM upd
      UNION ALL SELECT * FROM admitted
      ORDER BY url""")),

    Entry("crawl_redirect_e2e", (s, dir) => {
      // the 301 law COMPOSED across two waves: wave 1's permanent
      // redirect retires the source and mints the target's row due
      // immediately; wave 2's scheduling pass picks EXACTLY those
      // targets (redirected sources are unselectable by state, the
      // wave-1 200s sleep on their halved schedule) and their 200s
      // land content at the source's depth. Output: the wave-2 upsert
      // batch ∪ the retired sources — the alias chain's full ledger.
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 5).cast("string")
      val docs = T(s, dir, "documents")
      val frontier = docs.select(
        concat(lit("https://h"), k, lit(".re.com/p/"), id).as("url"),
        concat(lit("h"), k, lit(".re.com")).as("host"),
        lit(1).as("depth"), lit(0.5).as("priority"),
        lit(0L).as("fetch_count"), lit(0).as("fail_count"),
        lit(null).cast("long").as("last_fetch_ts"),
        lit(null).cast("string").as("content_hash"),
        lit(86400L).as("interval_s"), lit(T0).as("next_fetch_ts"),
        lit("active").as("state"),
        lit(null).cast("string").as("etag"),
        lit(null).cast("long").as("last_modified"))
      val fetched1 = docs.select(
        concat(lit("https://h"), k, lit(".re.com/p/"), id).as("url"),
        lit(T0 + 100L).as("fetch_ts"),
        when(d % 2 === 0, lit(301)).otherwise(lit(200)).as("status"),
        when(d % 2 === 0, lit(null).cast("string"))
          .otherwise(md5(concat(lit("w1-"), id))).as("content_hash"),
        when(d % 2 === 0,
          concat(lit("https://h"), k, lit(".re.com/m/"), id))
          .otherwise(lit(null).cast("string")).as("location"))
      // wave 2 reads frontier2 three times (selection, the revisit
      // join, the retired-sources union) — materialize the wave
      // boundary once instead of re-running wave 1's law per reference
      val frontier2 = CrawlFrontier.recrawlSchedule(frontier, fetched1)
        .unionByName(CrawlFrontier.redirectAdmissions(fetched1, frontier,
          now = T0 + 100L))
        .localCheckpoint(true)
      val batch2 = CrawlFrontier.selectBatch(frontier2, now = T0 + 200L,
        batchSize = 1 << 30, perHostCap = 1 << 30)
      val fetched2 = batch2.select(col("url"),
        lit(T0 + 200L).as("fetch_ts"), lit(200).as("status"),
        md5(concat(lit("w2-"), col("url"))).as("content_hash"))
      CrawlFrontier.recrawlUpdates(fetched2, frontier2)
        .unionByName(frontier2.filter(col("state") === "redirected"))
        .orderBy("url")
    }, Some("""
      WITH src AS (
        SELECT doc_id,
               'https://h' || (doc_id % 5) || '.re.com/p/' || doc_id
                 AS url,
               'h' || (doc_id % 5) || '.re.com' AS host
        FROM documents),
      redirected AS (
        SELECT url, host, CAST(1 AS INT) AS depth,
               CAST(0.5 AS DOUBLE) AS priority,
               CAST(1 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
               CAST(1754000100 AS BIGINT) AS last_fetch_ts,
               CAST(NULL AS VARCHAR) AS content_hash,
               CAST(86400 AS BIGINT) AS interval_s,
               CAST(1754000100 AS BIGINT) AS next_fetch_ts,
               'redirected' AS state,
               CAST(NULL AS VARCHAR) AS etag,
               CAST(NULL AS BIGINT) AS last_modified
        FROM src WHERE doc_id % 2 = 0),
      targets AS (
        SELECT 'https://h' || (doc_id % 5) || '.re.com/m/' || doc_id
                 AS url,
               'h' || (doc_id % 5) || '.re.com' AS host
        FROM src WHERE doc_id % 2 = 0),
      wave2 AS (
        SELECT url, host, CAST(1 AS INT) AS depth,
               CAST(0.5 AS DOUBLE) AS priority,
               CAST(1 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
               CAST(1754000200 AS BIGINT) AS last_fetch_ts,
               md5('w2-' || url) AS content_hash,
               CAST(43200 AS BIGINT) AS interval_s,
               CAST(1754000200 + 43200 AS BIGINT) AS next_fetch_ts,
               'active' AS state,
               CAST(NULL AS VARCHAR) AS etag,
               CAST(NULL AS BIGINT) AS last_modified
        FROM targets)
      SELECT * FROM wave2
      UNION ALL SELECT * FROM redirected
      ORDER BY url""")),

    Entry("crawl_e2e", (s, dir) => {
      // the composed cycle: seed → politeness-bounded selection →
      // (deterministic fake fetch: trailing digit picks the outcome) →
      // revisit updates (inner face: exactly the upsert batch) →
      // admission of each fetched page's discovered child link →
      // updated ∪ admitted, the cycle's full write set. Every stage's
      // law is oracle-proven alone above; this row pins their
      // composition.
      val d = col("doc_id")
      val k = (d % 5).cast("string")
      val urls = T(s, dir, "documents").select(
        concat(lit("https://h"), k, lit(".ex"), k, lit(".com/p/"),
          (d % 60).cast("string")).as("url"))
      // materialize the two frames every later stage re-reads: the
      // seeded frontier feeds selection, the revisit join AND
      // admission (3 references), the selected batch feeds the fake
      // fetch and discovery (2) — inlined, Catalyst re-executed the
      // seed aggregate per reference (a 153k-char plan; the store-held
      // deployment loop materializes exactly these boundaries too)
      val frontier = CrawlFrontier.seed(urls, now = T0,
        defaultIntervalS = 86400L).localCheckpoint(true)
      val batch = CrawlFrontier.selectBatch(frontier, now = T0,
        batchSize = 40, perHostCap = 10).localCheckpoint(true)
      val fetched = batch.select(col("url"),
        lit(T0 + 100L).as("fetch_ts"),
        when(col("url").endsWith("0"), lit(404))
          .when(col("url").endsWith("1"), lit(503))
          .otherwise(lit(200)).as("status"),
        when(col("url").endsWith("0") || col("url").endsWith("1"),
          lit(null).cast("string")).otherwise(md5(col("url")))
          .as("content_hash"))
      val rv = Revisit(minIntervalS = 1800L, maxIntervalS = 604800L,
        grow = 2.0, shrink = 2.0, maxFails = 3)
      val updated = CrawlFrontier.recrawlUpdates(fetched, frontier, rv)
      val discovered = batch.select(
        concat(col("url"), lit("/c")).as("url"), lit(1).as("depth"))
      val admitted = CrawlFrontier.admit(frontier, discovered,
        now = T0 + 100L, maxDepth = 3, perDomainCap = 15L,
        defaultIntervalS = 86400L)
      updated.unionByName(admitted).orderBy("url")
    }, Some(s"""
      WITH seeded AS (
        SELECT DISTINCT
          'https://h' || (doc_id % 5) || '.ex' || (doc_id % 5) ||
            '.com/p/' || (doc_id % 60) AS url,
          'h' || (doc_id % 5) || '.ex' || (doc_id % 5) || '.com' AS host
        FROM documents),
      frontier AS (
        SELECT url, host, CAST(0 AS INT) AS depth, CAST(1.0 AS DOUBLE) AS priority,
               CAST(0 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
               CAST(NULL AS BIGINT) AS last_fetch_ts,
               CAST(NULL AS VARCHAR) AS content_hash,
               CAST(86400 AS BIGINT) AS interval_s,
               CAST(1754000000 AS BIGINT) AS next_fetch_ts,
               'active' AS state,
               CAST(NULL AS VARCHAR) AS etag,
               CAST(NULL AS BIGINT) AS last_modified
        FROM seeded),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY host
                    ORDER BY priority DESC, url) AS hr
        FROM frontier
        WHERE state = 'active' AND next_fetch_ts <= 1754000000),
      batch AS (
        SELECT url, host, depth, priority, fetch_count, fail_count,
               last_fetch_ts, content_hash, interval_s, next_fetch_ts,
               state, etag, last_modified
        FROM ranked WHERE hr <= 10
        ORDER BY priority DESC, url LIMIT 40),
      fetched AS (
        SELECT url, CAST(1754000100 AS BIGINT) AS f_fetch_ts,
               CASE WHEN url LIKE '%0' THEN 404
                    WHEN url LIKE '%1' THEN 503 ELSE 200 END AS f_status,
               CASE WHEN url LIKE '%0' OR url LIKE '%1' THEN NULL
                    ELSE md5(url) END AS f_content_hash
        FROM batch),
      law AS (
        SELECT f.*, r.f_fetch_ts, r.f_status, r.f_content_hash,
          (r.f_status BETWEEN 200 AND 299) AS ok,
          (r.f_status IN (404, 410)) AS gone,
          ((r.f_status BETWEEN 200 AND 299) AND
           (f.content_hash IS NULL OR f.content_hash <> r.f_content_hash))
            AS changed
        FROM fetched r JOIN frontier f ON f.url = r.url),
      iv AS (
        SELECT *,
          CASE WHEN changed
                 THEN greatest(1800, CAST(floor(interval_s / 2.0)
                   AS BIGINT))
               WHEN gone THEN interval_s
               ELSE least(604800, CAST(floor(interval_s * 2.0)
                 AS BIGINT)) END AS new_interval,
          CASE WHEN ok OR gone THEN 0 ELSE fail_count + 1 END AS new_fails
        FROM law),
      updated AS (
        SELECT url, host, depth, priority,
          fetch_count + 1 AS fetch_count, new_fails AS fail_count,
          f_fetch_ts AS last_fetch_ts,
          CASE WHEN ok THEN f_content_hash ELSE content_hash END
            AS content_hash,
          new_interval AS interval_s,
          CASE WHEN gone THEN f_fetch_ts -- the retired clock stops
               ELSE f_fetch_ts + new_interval END AS next_fetch_ts,
          CASE WHEN gone THEN 'dead'
               WHEN NOT ok AND new_fails >= 3 THEN 'dead'
               ELSE state END AS state,
          CAST(NULL AS VARCHAR) AS etag,
          CAST(NULL AS BIGINT) AS last_modified
        FROM iv),
      disc AS (
        SELECT url || '/c' AS url, host, CAST(1 AS INT) AS depth
        FROM batch),
      fresh AS (
        SELECT d.url, d.host, d.depth FROM disc d
        WHERE NOT EXISTS (SELECT 1 FROM frontier f WHERE f.url = d.url)),
      ex AS (
        SELECT $domainSql AS domain, count(*) AS n_existing
        FROM frontier GROUP BY 1),
      rk AS (
        SELECT f.*, $domainSql AS domain,
               row_number() OVER (PARTITION BY $domainSql
                 ORDER BY depth, url) AS rnk
        FROM fresh f),
      admitted AS (
        SELECT rk.url, rk.host, rk.depth,
               1.0 / (rk.depth + 1) AS priority,
               CAST(0 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
               CAST(NULL AS BIGINT) AS last_fetch_ts,
               CAST(NULL AS VARCHAR) AS content_hash,
               CAST(86400 AS BIGINT) AS interval_s,
               CAST(1754000100 AS BIGINT) AS next_fetch_ts,
               'active' AS state,
               CAST(NULL AS VARCHAR) AS etag,
               CAST(NULL AS BIGINT) AS last_modified
        FROM rk LEFT JOIN ex ON ex.domain = rk.domain
        WHERE rk.rnk + coalesce(ex.n_existing, 0) <= 15)
      SELECT * FROM updated
      UNION ALL
      SELECT * FROM admitted
      ORDER BY url""")),

    Entry("crawl_conditional_e2e", (s, dir) => {
      // the conditional-revisit loop COMPOSED across two fetch waves:
      // wave 1 is unconditional (every page 200s with a body hash,
      // an ETag and a Last-Modified — the validators land in the
      // frontier), wave 2 is the conditional pass a real fetcher runs
      // off those validators — a third of the pages answer 304 (the
      // validators matched: hash AND both validators must survive
      // from wave 1, interval grows, streak resets), a third 200 with
      // a changed body (validators REPLACE), a third 503 (keep
      // everything, count the fail). Each wave's law is oracle-proven
      // alone (crawl_recrawl); this row pins validator PERSISTENCE
      // across the composition — the thing the fetch loop relies on.
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 5).cast("string")
      val urls = T(s, dir, "documents").select(
        concat(lit("https://h"), k, lit(".ce.com/p/"), id).as("url"))
      val frontier0 = CrawlFrontier.seed(urls, now = T0,
        defaultIntervalS = 86400L)
      val rv = Revisit(minIntervalS = 1800L, maxIntervalS = 604800L,
        grow = 2.0, shrink = 2.0, maxFails = 3)
      val fetched1 = urls.select(col("url"),
        lit(T0 + 100L).as("fetch_ts"), lit(200).as("status"),
        md5(col("url")).as("content_hash"),
        concat(lit("\""), md5(col("url")), lit("-v1\"")).as("etag"),
        (lit(T0) - 50L).as("last_modified"))
      val f1 = CrawlFrontier.recrawlSchedule(frontier0, fetched1, rv)
      val m3 = substring(md5(col("url")), 1, 1)
      val isNotMod = m3.isin("0", "1", "2", "3", "4", "5")
      val isChanged = m3.isin("6", "7", "8", "9", "a")
      val fetched2 = urls.select(col("url"),
        lit(T0 + 100000L).as("fetch_ts"),
        when(isNotMod, lit(304)).when(isChanged, lit(200))
          .otherwise(lit(503)).as("status"),
        when(isChanged, md5(concat(lit("w2"), col("url"))))
          .otherwise(lit(null).cast("string")).as("content_hash"),
        when(isChanged, concat(lit("\""), md5(col("url")),
          lit("-v2\""))).otherwise(lit(null).cast("string")).as("etag"),
        when(isChanged, lit(T0) + 99000L)
          .otherwise(lit(null).cast("long")).as("last_modified"))
      CrawlFrontier.recrawlSchedule(f1, fetched2, rv).orderBy("url")
    }, Some("""
      WITH u AS (
        SELECT DISTINCT
          'https://h' || (doc_id % 5) || '.ce.com/p/' || doc_id AS url,
          'h' || (doc_id % 5) || '.ce.com' AS host
        FROM documents),
      -- wave 1: every page 200s; seed interval 86400 halves to 43200
      -- (hash was null -> changed), validators land
      f1 AS (
        SELECT url, host, CAST(0 AS INT) AS depth,
               CAST(1.0 AS DOUBLE) AS priority,
               CAST(1 AS BIGINT) AS fetch_count, CAST(0 AS INT) AS fail_count,
               CAST(1754000100 AS BIGINT) AS last_fetch_ts,
               md5(url) AS content_hash,
               CAST(43200 AS BIGINT) AS interval_s,
               CAST(1754000100 + 43200 AS BIGINT) AS next_fetch_ts,
               'active' AS state,
               '"' || md5(url) || '-v1"' AS etag,
               CAST(1754000000 - 50 AS BIGINT) AS last_modified
        FROM u),
      -- wave 2: the conditional pass off the stored validators
      r2 AS (
        SELECT url,
               CAST(1754100000 AS BIGINT) AS f_fetch_ts,
               CASE WHEN substr(md5(url), 1, 1) IN
                      ('0','1','2','3','4','5') THEN 304
                    WHEN substr(md5(url), 1, 1) IN
                      ('6','7','8','9','a') THEN 200
                    ELSE 503 END AS f_status,
               CASE WHEN substr(md5(url), 1, 1) IN
                      ('6','7','8','9','a')
                    THEN md5('w2' || url) ELSE NULL END AS f_content_hash,
               CASE WHEN substr(md5(url), 1, 1) IN
                      ('6','7','8','9','a')
                    THEN '"' || md5(url) || '-v2"' ELSE NULL END AS f_etag,
               CASE WHEN substr(md5(url), 1, 1) IN
                      ('6','7','8','9','a')
                    THEN CAST(1754000000 + 99000 AS BIGINT)
                    ELSE NULL END AS f_last_modified
        FROM u),
      law AS (
        SELECT f1.*, r2.f_fetch_ts, r2.f_status, r2.f_content_hash,
               r2.f_etag, r2.f_last_modified,
          (r2.f_status BETWEEN 200 AND 299) AS ok,
          (r2.f_status IN (404, 410)) AS gone,
          (r2.f_status = 304) AS notmod,
          ((r2.f_status BETWEEN 200 AND 299) AND
           (f1.content_hash IS NULL OR
            f1.content_hash <> r2.f_content_hash)) AS changed
        FROM f1 JOIN r2 ON r2.url = f1.url),
      iv AS (
        SELECT *,
          CASE WHEN changed
                 THEN greatest(1800, CAST(floor(interval_s / 2.0)
                   AS BIGINT))
               WHEN gone THEN interval_s
               ELSE least(604800, CAST(floor(interval_s * 2.0)
                 AS BIGINT)) END AS new_interval,
          CASE WHEN ok OR gone OR notmod THEN 0
               ELSE fail_count + 1 END AS new_fails
        FROM law)
      SELECT url, host, depth, priority,
        fetch_count + 1 AS fetch_count,
        new_fails AS fail_count,
        f_fetch_ts AS last_fetch_ts,
        CASE WHEN ok THEN f_content_hash ELSE content_hash END
          AS content_hash,
        new_interval AS interval_s,
        f_fetch_ts + new_interval AS next_fetch_ts,
        CASE WHEN gone THEN 'dead'
             WHEN NOT ok AND NOT notmod AND new_fails >= 3 THEN 'dead'
             ELSE state END AS state,
        CASE WHEN ok THEN f_etag ELSE etag END AS etag,
        CASE WHEN ok THEN f_last_modified ELSE last_modified END
          AS last_modified
      FROM iv ORDER BY url""")),

    Entry("crawl_polite_batch", (s, dir) => {
      // Crawl-delay politeness — robots' de-facto rate directive
      // becomes per-host batch budgets: parse per-host Crawl-delay
      // with the RFC group-selection law (exact agent group wins even
      // when delay-less — its silence means the crawl DEFAULT, not
      // the '*' value; junk values contribute nothing; several in
      // scope take the max), turn delay d into floor(window/d)
      // fetches-per-window (floored at 1: throttled, never starved),
      // and let the budget TIGHTEN the global per-host cap inside
      // batch selection. One broadcast join on top of
      // crawl_select_batch's plan.
      import graft.functions.Robots
      val d = col("doc_id")
      val id = d.cast("string")
      val k = (d % 7).cast("string")
      val host = concat(lit("h"), k, lit(".dl.com"))
      val nl = "\n"
      val txt = when(d % 7 === 0, lit("User-agent: ccbot" + nl +
          "Crawl-delay: 60" + nl + "User-agent: *" + nl + "Crawl-delay: 1"))
        .when(d % 7 === 1, lit("User-agent: *" + nl + "Crawl-delay: 120"))
        .when(d % 7 === 2, lit("User-agent: ccbot" + nl + "Disallow: /x" +
          nl + "User-agent: *" + nl + "Crawl-delay: 30"))
        .when(d % 7 === 3, lit("User-agent: *" + nl + "Crawl-delay: abc" +
          nl + "Crawl-delay: 0")) // junk skipped; 0 = unthrottled
        .when(d % 7 === 4, lit("User-agent: *" + nl + "Crawl-delay: 0.5"))
        .otherwise(lit("User-agent: *" + nl + "Crawl-delay: 400"))
      val docs = T(s, dir, "documents")
      val robots = docs.filter(d % 7 =!= 6) // h6 publishes no robots.txt
        .select(host.as("domain"), txt.as("robots_txt")).distinct()
      val budgets = CrawlFrontier.politenessBudgets(
        Robots.crawlDelays(robots, "ccbot"), windowS = 600L)
      val frontier = docs.select(
        concat(lit("https://"), host, lit("/p/"), id).as("url"),
        host.as("host"), lit(0).as("depth"),
        ((d * 37 % 100) / lit(100.0)).as("priority"),
        lit(0L).as("fetch_count"), lit(0).as("fail_count"),
        lit(null).cast("long").as("last_fetch_ts"),
        lit(null).cast("string").as("content_hash"),
        lit(3600L).as("interval_s"), lit(T0).as("next_fetch_ts"),
        lit("active").as("state"),
        lit(null).cast("string").as("etag"),
        lit(null).cast("long").as("last_modified"))
      CrawlFrontier.selectBatch(frontier, now = T0, batchSize = 30,
        perHostCap = 8, hostBudgets = Some(budgets))
    }, Some("""
      WITH rb AS (
        SELECT DISTINCT 'h' || (doc_id % 7) || '.dl.com' AS domain,
          CASE CAST(doc_id % 7 AS INT)
            WHEN 0 THEN 'User-agent: ccbot' || chr(10) ||
              'Crawl-delay: 60' || chr(10) || 'User-agent: *' ||
              chr(10) || 'Crawl-delay: 1'
            WHEN 1 THEN 'User-agent: *' || chr(10) || 'Crawl-delay: 120'
            WHEN 2 THEN 'User-agent: ccbot' || chr(10) ||
              'Disallow: /x' || chr(10) || 'User-agent: *' || chr(10) ||
              'Crawl-delay: 30'
            WHEN 3 THEN 'User-agent: *' || chr(10) || 'Crawl-delay: abc' ||
              chr(10) || 'Crawl-delay: 0'
            WHEN 4 THEN 'User-agent: *' || chr(10) || 'Crawl-delay: 0.5'
            ELSE 'User-agent: *' || chr(10) || 'Crawl-delay: 400' END
            AS txt
        FROM documents WHERE doc_id % 7 <> 6),
      ln0 AS (SELECT domain, string_split_regex(txt, '\r?\n') AS ls
              FROM rb),
      ln AS (SELECT domain, unnest(generate_series(1, len(ls))) AS pos,
                    ls
             FROM ln0),
      cl AS (SELECT domain, pos,
                    trim(regexp_replace(ls[pos], '#.*$', '')) AS l
             FROM ln),
      kv AS (SELECT domain, pos,
                    lower(regexp_extract(l, '^([A-Za-z-]+)\s*:', 1))
                      AS key,
                    trim(regexp_extract(l, '^[A-Za-z-]+\s*:(.*)$', 1))
                      AS value
             FROM cl WHERE length(l) > 0),
      kept AS (SELECT * FROM kv WHERE key <> ''),
      gs AS (SELECT domain, pos, key, value,
                    CASE WHEN key = 'user-agent' AND
                         coalesce(lag(key) OVER (PARTITION BY domain
                           ORDER BY pos), 'x') <> 'user-agent'
                         THEN 1 ELSE 0 END AS starts_group
             FROM kept),
      gr AS (SELECT domain, pos, key, value,
                    sum(starts_group) OVER (PARTITION BY domain
                      ORDER BY pos) AS grp
             FROM gs),
      ag AS (SELECT domain, grp, lower(value) AS agent FROM gr
             WHERE key = 'user-agent' AND grp > 0
               AND lower(value) IN ('ccbot', '*')),
      dl AS (SELECT domain, grp, CAST(value AS DOUBLE) AS delay_s
             FROM gr
             WHERE key = 'crawl-delay' AND grp > 0
               AND regexp_matches(value, '^[0-9]+(\.[0-9]+)?$')),
      hx AS (SELECT domain,
                    max(CASE WHEN agent = 'ccbot' THEN 1 ELSE 0 END)
                      AS has_exact
             FROM ag GROUP BY domain),
      chosen AS (SELECT ag.domain, ag.grp
                 FROM ag JOIN hx ON hx.domain = ag.domain
                 WHERE (hx.has_exact = 1 AND ag.agent = 'ccbot')
                    OR (hx.has_exact = 0 AND ag.agent = '*')),
      cd AS (SELECT c.domain, max(dl.delay_s) AS crawl_delay_s
             FROM chosen c JOIN dl ON dl.domain = c.domain
               AND dl.grp = c.grp
             GROUP BY c.domain),
      bud AS (SELECT domain AS host,
                     CAST(CASE WHEN crawl_delay_s <= 0
                               THEN 2147483647
                               ELSE greatest(1, floor(least(
                                 2147483647.0,
                                 600.0 / crawl_delay_s))) END
                       AS INT) AS cap
              FROM cd),
      f AS (
        SELECT 'https://h' || (doc_id % 7) || '.dl.com/p/' || doc_id
                 AS url,
               'h' || (doc_id % 7) || '.dl.com' AS host,
               CAST(0 AS INT) AS depth,
               (doc_id * 37 % 100) / 100.0 AS priority,
               CAST(0 AS BIGINT) AS fetch_count,
               CAST(0 AS INT) AS fail_count,
               CAST(NULL AS BIGINT) AS last_fetch_ts,
               CAST(NULL AS VARCHAR) AS content_hash,
               CAST(3600 AS BIGINT) AS interval_s,
               CAST(1754000000 AS BIGINT) AS next_fetch_ts,
               'active' AS state,
               CAST(NULL AS VARCHAR) AS etag,
               CAST(NULL AS BIGINT) AS last_modified
        FROM documents),
      ranked AS (
        SELECT f.*, row_number() OVER (PARTITION BY host
                      ORDER BY priority DESC, url) AS hr
        FROM f),
      capped AS (
        SELECT r.url, r.host, r.depth, r.priority, r.fetch_count,
               r.fail_count, r.last_fetch_ts, r.content_hash,
               r.interval_s, r.next_fetch_ts, r.state, r.etag,
               r.last_modified
        FROM ranked r LEFT JOIN bud b ON b.host = r.host
        WHERE r.hr <= least(8, coalesce(b.cap, 8)))
      SELECT * FROM capped ORDER BY priority DESC, url LIMIT 30""")),

    Entry("crawl_discovery_e2e", (s, dir) => {
      // the full DISCOVERY chain in one row: robots.txt → Sitemap:
      // directives (group-independent, even before the first UA
      // group, case-insensitive) → fetch the sitemaps (synthesized
      // deterministically from the directive URL) → urlset entry
      // extraction → frontier seeding → Crawl-delay budgets → the
      // politeness-bounded first fetch batch. Every stage's law is
      // oracle-proven alone; this row pins the composition a real
      // crawl bootstraps with.
      import graft.functions.{Robots, Sitemaps}
      val d = col("doc_id")
      val k = (d % 5).cast("string")
      val domain = concat(lit("h"), k, lit(".sm.com"))
      val nl = "\n"
      val txt = when(d % 5 === 0, lit("User-agent: ccbot" + nl +
          "Crawl-delay: 100" + nl + "Sitemap: https://h0.sm.com/map.xml"))
        .when(d % 5 === 1, lit("Sitemap: https://h1.sm.com/map.xml" + nl +
          "User-agent: *" + nl + "Allow: /"))
        .when(d % 5 === 2, lit("User-agent: *" + nl + "Crawl-delay: 300" +
          nl + "Sitemap: https://h2.sm.com/a.xml" + nl +
          "Sitemap: https://h2.sm.com/b.xml"))
        .when(d % 5 === 3, lit("User-agent: *" + nl + "Disallow:"))
        .otherwise(lit("sitemap: https://h4.sm.com/map.xml"))
      val docs = T(s, dir, "documents")
      // read twice (Sitemap: directive extraction AND Crawl-delay
      // budgets) — materialize the per-host-tiny frame once
      val robots = docs.select(domain.as("domain"), txt.as("robots_txt"))
        .distinct()
        .localCheckpoint(true)
      val base = regexp_replace(col("sitemap_url"), "\\.xml$", "")
      val xml = concat(lit("<urlset><url><loc>"), base,
        lit("/1</loc></url><url><loc>"), base,
        lit("/2</loc></url></urlset>"))
      val entries = Robots.sitemapUrls(robots)
        .select(explode(Sitemaps.urlEntries(xml)).as("e"))
        .select(col("e.loc").as("loc"))
      val frontier = CrawlFrontier.seed(entries, now = T0,
        urlCol = "loc", defaultIntervalS = 86400L)
      val budgets = CrawlFrontier.politenessBudgets(
        Robots.crawlDelays(robots, "ccbot"), windowS = 600L)
      CrawlFrontier.selectBatch(frontier, now = T0, batchSize = 20,
        perHostCap = 4, hostBudgets = Some(budgets))
        .orderBy("url")
    }, Some("""
      WITH rb AS (
        SELECT DISTINCT 'h' || (doc_id % 5) || '.sm.com' AS domain,
          CASE CAST(doc_id % 5 AS INT)
            WHEN 0 THEN 'User-agent: ccbot' || chr(10) ||
              'Crawl-delay: 100' || chr(10) ||
              'Sitemap: https://h0.sm.com/map.xml'
            WHEN 1 THEN 'Sitemap: https://h1.sm.com/map.xml' ||
              chr(10) || 'User-agent: *' || chr(10) || 'Allow: /'
            WHEN 2 THEN 'User-agent: *' || chr(10) ||
              'Crawl-delay: 300' || chr(10) ||
              'Sitemap: https://h2.sm.com/a.xml' || chr(10) ||
              'Sitemap: https://h2.sm.com/b.xml'
            WHEN 3 THEN 'User-agent: *' || chr(10) || 'Disallow:'
            ELSE 'sitemap: https://h4.sm.com/map.xml' END AS txt
        FROM documents),
      ls0 AS (SELECT domain, string_split_regex(txt, '\r?\n') AS ls
              FROM rb),
      ln AS (SELECT domain, unnest(generate_series(1, len(ls))) AS pos,
                    ls
             FROM ls0),
      cl AS (SELECT domain, pos,
                    trim(regexp_replace(ls[pos], '#.*$', '')) AS l
             FROM ln),
      sm AS (SELECT domain,
                    trim(regexp_extract(l, '(?i)^sitemap\s*:(.*)$', 1))
                      AS sitemap_url
             FROM cl),
      smk AS (SELECT * FROM sm WHERE length(sitemap_url) > 0),
      x AS (SELECT domain,
              '<urlset><url><loc>' ||
              regexp_replace(sitemap_url, '\.xml$', '') ||
              '/1</loc></url><url><loc>' ||
              regexp_replace(sitemap_url, '\.xml$', '') ||
              '/2</loc></url></urlset>' AS xml
            FROM smk),
      blk AS (SELECT domain,
                regexp_extract_all(xml, '(?is)<(?:[a-zA-Z0-9]+:)?url\b[^>]*>(.*?)</(?:[a-zA-Z0-9]+:)?url>', 1)
                  AS bs
              FROM x),
      ub AS (SELECT domain, unnest(bs) AS b FROM blk),
      loc0 AS (SELECT replace(replace(replace(replace(replace(
                 trim(regexp_extract(b, '(?is)<(?:[a-zA-Z0-9]+:)?loc>(.*?)</(?:[a-zA-Z0-9]+:)?loc>', 1)),
                 '&quot;', '"'), '&apos;', ''''), '&lt;', '<'),
                 '&gt;', '>'), '&amp;', '&') AS loc
               FROM ub),
      locs AS (SELECT loc FROM loc0 WHERE length(loc) > 0),
      h AS (SELECT loc AS url,
                   regexp_extract(lower(loc),
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
                     1) AS host
            FROM locs WHERE regexp_matches(loc, '^https?://')),
      g AS (SELECT url, host FROM h WHERE length(host) > 0
            GROUP BY url, host),
      f AS (SELECT url, host, CAST(0 AS INT) AS depth,
                   CAST(1.0 AS DOUBLE) AS priority,
                   CAST(0 AS BIGINT) AS fetch_count,
                   CAST(0 AS INT) AS fail_count,
                   CAST(NULL AS BIGINT) AS last_fetch_ts,
                   CAST(NULL AS VARCHAR) AS content_hash,
                   CAST(86400 AS BIGINT) AS interval_s,
                   CAST(1754000000 AS BIGINT) AS next_fetch_ts,
                   'active' AS state,
                   CAST(NULL AS VARCHAR) AS etag,
                   CAST(NULL AS BIGINT) AS last_modified
            FROM g),
      kv AS (SELECT domain, pos,
                    lower(regexp_extract(l, '^([A-Za-z-]+)\s*:', 1))
                      AS key,
                    trim(regexp_extract(l, '^[A-Za-z-]+\s*:(.*)$', 1))
                      AS value
             FROM cl WHERE length(l) > 0),
      kept AS (SELECT * FROM kv WHERE key <> ''),
      gs AS (SELECT domain, pos, key, value,
                    CASE WHEN key = 'user-agent' AND
                         coalesce(lag(key) OVER (PARTITION BY domain
                           ORDER BY pos), 'x') <> 'user-agent'
                         THEN 1 ELSE 0 END AS starts_group
             FROM kept),
      gr AS (SELECT domain, pos, key, value,
                    sum(starts_group) OVER (PARTITION BY domain
                      ORDER BY pos) AS grp
             FROM gs),
      ag AS (SELECT domain, grp, lower(value) AS agent FROM gr
             WHERE key = 'user-agent' AND grp > 0
               AND lower(value) IN ('ccbot', '*')),
      dl AS (SELECT domain, grp, CAST(value AS DOUBLE) AS delay_s
             FROM gr
             WHERE key = 'crawl-delay' AND grp > 0
               AND regexp_matches(value, '^[0-9]+(\.[0-9]+)?$')),
      hx AS (SELECT domain,
                    max(CASE WHEN agent = 'ccbot' THEN 1 ELSE 0 END)
                      AS has_exact
             FROM ag GROUP BY domain),
      chosen AS (SELECT ag.domain, ag.grp
                 FROM ag JOIN hx ON hx.domain = ag.domain
                 WHERE (hx.has_exact = 1 AND ag.agent = 'ccbot')
                    OR (hx.has_exact = 0 AND ag.agent = '*')),
      cd AS (SELECT c.domain, max(dl.delay_s) AS crawl_delay_s
             FROM chosen c JOIN dl ON dl.domain = c.domain
               AND dl.grp = c.grp
             GROUP BY c.domain),
      bud AS (SELECT domain AS host,
                     CAST(CASE WHEN crawl_delay_s <= 0
                               THEN 2147483647
                               ELSE greatest(1, floor(least(
                                 2147483647.0,
                                 600.0 / crawl_delay_s))) END
                       AS INT) AS cap
              FROM cd),
      ranked AS (
        SELECT f.*, row_number() OVER (PARTITION BY host
                      ORDER BY priority DESC, url) AS hr
        FROM f
        WHERE state = 'active' AND next_fetch_ts <= 1754000000),
      capped AS (
        SELECT r.url, r.host, r.depth, r.priority, r.fetch_count,
               r.fail_count, r.last_fetch_ts, r.content_hash,
               r.interval_s, r.next_fetch_ts, r.state, r.etag,
               r.last_modified
        FROM ranked r LEFT JOIN bud b ON b.host = r.host
        WHERE r.hr <= least(4, coalesce(b.cap, 4))
        ORDER BY priority DESC, url LIMIT 20)
      SELECT * FROM capped ORDER BY url""")))
}
