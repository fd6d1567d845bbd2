package graft
package contract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, count, format_string, lit, split, when}

/** The crawl surface: URL canonicalization and blocklists, HTML extraction,
  * robots.txt, crawl plans and frontiers, and sitemaps. */
object CrawlContract {
  import Shared._

  lazy val all: Seq[Q] = Seq(
    // URL canonicalization (the first stage of a web-crawl pipeline):
    // plant deterministic crawl URLs keyed on doc_id — scheme/host case,
    // default ports, www, tracking params, unsorted params, fragments,
    // trailing slashes — and emit the canonical form; pure codegen'd
    // projection, the oracle replays every rule in SQL
    qUrlCanon,
    Q("q_sql_url_canon", (s, d) =>
      sqlFace(s, SqlTableFunctions.UrlsRelation -> plantUrls(table(s, d, "documents")))(
        "SELECT doc_id, url, canon_url FROM graft_url_canon() ORDER BY doc_id"), qUrlCanon.oracle),
    // canonical-URL dedup: one row per canonical form, smallest doc_id
    // kept (first-crawled wins) — map-side-combinable min(struct) on the
    // canonical key, no partition-sorting window
    qUrlDedup,
    Q("q_sql_url_dedup", (s, d) =>
      sqlFace(s, SqlTableFunctions.UrlsRelation -> plantUrls(table(s, d, "documents")))(
        "SELECT doc_id, url, canon_url FROM graft_url_dedup() ORDER BY doc_id"), qUrlDedup.oracle),
    // in-page robots directives: <meta name="robots"> noindex/nofollow
    // flags (both attribute orders, either quote style, 'none' implies
    // both) — the compliance signal robots.txt cannot carry; pure
    // codegen, patterns interpolated into the oracle
    // in-page compliance: meta-robots flags and declared-canonical
    // consolidation, extraction patterns shared with the Spark side
    qHtmlNoindex,
    Q("q_sql_meta_robots", (s, d) =>
      sqlFace(s,
        SqlTableFunctions.PagesRelation -> plantCompliancePages(table(s, d, "documents"))
          .select(col("doc_id"), col("html")))(
        "SELECT doc_id, noindex, nofollow FROM graft_meta_robots() ORDER BY doc_id"),
      qHtmlNoindex.oracle),
    // cross-page canonical consolidation: <link rel="canonical">
    // targets resolved (absolute + root-relative) and canonicalized,
    // one winner per target via map-side-combinable min(struct) — the
    // dedup tier canonicalization alone cannot see (print views /
    // session variants the SITE declares equivalent)
    // Canonical-consolidation replay: declared-target extraction (both
    // attribute orders), the resolution scope the fixture exercises
    // (absolute pass-through, root-relative against the canonical
    // scheme://host — [[graft.operators.LinkGraph.resolveHref]]'s full
    // directory-relative tier is gated by q_link_extract_rel), plant
    // targets canonical by construction (the full canonicalization rule
    // is gated by q_url_canon), then one winner per target.
    Q("q_html_canonical", (s, d) =>
      graft.operators.UrlOps.consolidateByCanonical(
          plantCompliancePages(table(s, d, "documents")),
          "url", "html", "doc_id")
        .orderBy("doc_id"),
      s"""WITH $compliancePagesCteSql,
         |${canonicalConsolidationCtesSql("pg")}
         |SELECT canon_target, doc_id, url FROM win WHERE rn = 1
         |ORDER BY doc_id""".stripMargin),
    // HTML -> text extraction (the stage between crawl and every text
    // operator): four-line template pages planted around each doc's
    // text; whole-page strip drops script/style/comment content,
    // strips tags, decodes entities, collapses whitespace — a pure
    // codegen projection, every rule replayed in SQL
    // whole-page extraction: the oracle strips the SAME planted page
    // with the SAME regex/replacement chain over the full html string
    qHtmlText,
    // the URL faces through SQL — same logical plans by construction,
    // shared oracles (a crawl-ops dashboard calls these over a
    // registered `urls` relation)
    Q("q_sql_html_text", (s, d) =>
      sqlFace(s, SqlTableFunctions.PagesRelation -> plantHtml(table(s, d, "documents")))(
        "SELECT doc_id, text FROM graft_html_text() ORDER BY doc_id"), qHtmlText.oracle),
    // boilerplate removal: the line-structured main-content heuristic
    // (min extracted length + anchor-per-word density) must keep
    // exactly the content paragraph and drop head/nav/footer — the
    // oracle replays the RULE generically per line, not the expected
    // outcome
    // the main-content RULE replayed per line: keep length>=25 AND
    // anchors < words*0.34, reassemble kept lines in order
    qHtmlMain,
    Q("q_sql_html_main", (s, d) =>
      sqlFace(s, SqlTableFunctions.PagesRelation -> plantHtml(table(s, d, "documents")))(
        "SELECT doc_id, main FROM graft_html_main() ORDER BY doc_id"), qHtmlMain.oracle),
    // the minified twin: newlines stripped from the SAME pages — the
    // block-boundary pre-split must re-segment them identically, so
    // extraction is minification-invariant (most real template output
    // is minified; without the pre-split this degraded to a whole-page
    // pass/fail)
    // the minified twin: the ORACLE strips the newlines and relies on
    // the block-boundary pre-split to re-segment — proving the rule
    // (minification invariance), not the fixture outcome
    Q("q_html_main_minified", (s, d) =>
      plantHtml(table(s, d, "documents"))
        .select(col("doc_id"),
          graft.operators.TextExtraction.mainContent(
            org.apache.spark.sql.functions.regexp_replace(
              col("html"), "\n", "")).as("main"))
        .orderBy("doc_id"), htmlMainOracleSql(minified = true)),
    // the crawl-curation capstone: blocklist filter → canonical-URL
    // dedup → HTML main-content extraction → extracted-length floor,
    // composed from the actual operators; ONE hash-exact oracle chains
    // all four replays — the nightly pre-tokenization path of a
    // web-crawl training pipeline
    // all four stage replays chained: url canonicalization (k/h CTEs),
    // blocklist EXISTS, canonical QUALIFY dedup, per-line extraction
    qCrawlCurate,
    Q("q_sql_crawl_curate", (s, d) => {
      import s.implicits._
      val docs = table(s, d, "documents")
      sqlFace(s,
        SqlTableFunctions.UrlsRelation -> plantUrls(docs),
        SqlTableFunctions.PagesRelation -> plantHtml(docs),
        SqlTableFunctions.BlocklistRelation -> Seq("example7.com", "media.example11.com", "example3.com").toDF("domain"))(
        "SELECT doc_id, canon_url, n_words, main_hash " +
        "FROM graft_crawl_curate(20) ORDER BY doc_id")
    }, qCrawlCurate.oracle),
    // [[graft.operators.UrlOps.robotsRulesWithStatus]] replay for the
    // `*` agent: live hosts' binding Allow/Disallow lines plus one
    // synthesized `Disallow: /` per 5xx host.
    Q("q_sql_robots_status", (s, d) =>
      sqlFace(s,
        SqlTableFunctions.RobotsFetchRelation -> plantRobotsFetch(table(s, d, "documents")))(
        "SELECT host, pattern, allow FROM graft_robots_rules_status('*') " +
        "ORDER BY host, pattern, allow"),
      s"""WITH ${robotsDirectivesCtesSql("*")},
         |$robotsFetchStatusCteSql
         |SELECT * FROM (
         |  SELECT h AS host, dval AS pattern, (dkey = 'allow') AS allow
         |  FROM rbind JOIN rstat ON rbind.h = rstat.sh
         |  WHERE rstat.status < 400 AND dkey IN ('allow', 'disallow') AND dval <> ''
         |  UNION ALL
         |  SELECT sh AS host, '/' AS pattern, false AS allow
         |  FROM rstat WHERE status >= 500)
         |ORDER BY host, pattern, allow""".stripMargin),
    Q("q_sql_delays_status", (s, d) =>
      sqlFace(s,
        SqlTableFunctions.RobotsFetchRelation -> plantRobotsFetch(table(s, d, "documents")))(
        "SELECT host, delay_s FROM graft_crawl_delays_status('*') " +
        "ORDER BY host"),
      s"""WITH ${robotsDirectivesCtesSql("*")},
         |$robotsFetchStatusCteSql
         |SELECT h AS host, min(CAST(dval AS DOUBLE)) AS delay_s
         |FROM rbind JOIN rstat ON rbind.h = rstat.sh
         |WHERE rstat.status < 400 AND dkey = 'crawl-delay'
         |  AND regexp_matches(dval, '^[0-9]+(\\.[0-9]+)?$$')
         |GROUP BY h ORDER BY host""".stripMargin),
    // the crawl-frontier gate (ninth external-state streaming family):
    // even-id docs' canonical URLs form the persisted seen-set, all docs
    // stream through in 6 staged files — survivors are docs whose
    // canonical URL the frontier has never claimed (index-only claims,
    // so the result is batch-partition independent and the oracle is a
    // NOT IN over the even side's canonicals)
    // index-only claims make the gate batch-partition independent: the
    // survivor set is exactly "canonical URL not claimed by the even side"
    Q("q_url_stream", (s, d) => {
      val planted = plantUrls(table(s, d, "documents"))
      BenchPhases.timed("q_url_stream", "build")(
        graft.operators.UrlOps.writeUrlIndex(
          planted.filter(col("doc_id") % 2 === 0), "url", "graft_stream_url_index"))
      withTempDir("graft_url_stream") { tmp =>
        BenchPhases.timed("q_url_stream", "stage")(
          planted.repartition(6).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_url_stream")(
          graft.streaming.DedupStream.startUrls(s, s"$tmp/input",
            "graft_stream_url_index", s"$tmp/out", s"$tmp/cp",
            maxFilesPerTrigger = Some(1)))
        s.read.option("recursiveFileLookup", "true").parquet(s"$tmp/out")
          .select("doc_id", "canon_url").orderBy("doc_id")
      }
    },
      s"""WITH $urlCanonCtesSql
         |SELECT doc_id, canon_url FROM k
         |WHERE canon_url NOT IN (SELECT canon_url FROM k WHERE doc_id % 2 = 0)
         |ORDER BY doc_id""".stripMargin),
    // the TTL recrawl gate: even docs' canonicals are claimed at
    // claimed_at = doc_id*10; every doc streams through with its OWN
    // clock crawl_ts = doc_id*10 + (doc_id%7)*1000 and passes unless
    // the newest claim on its canonical is within ttl=3000 of that
    // clock — stale claims expire, URLs re-admit (per-row expiry keeps
    // the survivor set batch-partition independent)
    // TTL recrawl gate: a row passes unless the newest claim on its
    // canonical (even docs, claimed_at = doc_id*10) is within TTL of
    // the row's OWN clock — per-row expiry, so the survivor set is
    // batch-partition independent like q_url_stream's
    Q("q_url_stream_ttl", (s, d) => {
      import org.apache.spark.sql.functions.expr
      val planted = plantUrls(table(s, d, "documents"))
        .withColumn("crawl_ts", expr("doc_id * 10 + (doc_id % 7) * 1000"))
      BenchPhases.timed("q_url_stream_ttl", "build")(
        graft.operators.UrlOps.writeUrlIndex(
          planted.filter(col("doc_id") % 2 === 0)
            .withColumn("claim_ts", expr("doc_id * 10")),
          "url", "graft_stream_url_ttl_index",
          claimedAtCol = Some("claim_ts")))
      withTempDir("graft_url_stream_ttl") { tmp =>
        BenchPhases.timed("q_url_stream_ttl", "stage")(
          planted.repartition(6).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_url_stream_ttl")(
          graft.streaming.DedupStream.startUrlsTtl(s, s"$tmp/input",
            "graft_stream_url_ttl_index", s"$tmp/out", s"$tmp/cp",
            asOfCol = "crawl_ts", ttl = 3000L,
            maxFilesPerTrigger = Some(1)))
        s.read.option("recursiveFileLookup", "true").parquet(s"$tmp/out")
          .select("doc_id", "canon_url").orderBy("doc_id")
      }
    },
      s"""WITH $urlCanonCtesSql,
         |cw AS (SELECT doc_id, canon_url,
         |              doc_id * 10 + (doc_id % 7) * 1000 AS crawl_ts FROM k),
         |cl AS (SELECT canon_url, max(doc_id * 10) AS claimed_at
         |       FROM k WHERE doc_id % 2 = 0 GROUP BY canon_url)
         |SELECT cw.doc_id, cw.canon_url
         |FROM cw LEFT JOIN cl USING (canon_url)
         |WHERE cl.claimed_at IS NULL OR cl.claimed_at < cw.crawl_ts - 3000
         |ORDER BY cw.doc_id""".stripMargin),
    // the compliance gate streamed: six micro-batches of fetched pages
    // robots-enforced (parsed-rules snapshot broadcast per batch),
    // noindex-stripped, then probed against pre-seeded frontier claims
    // (even doc_ids) — claims from the INDEX only, so the survivor set
    // is batch-partition independent and the oracle replays it as one
    // batch chain + NOT IN
    // the streamed compliance gate: one batch chain + NOT IN replay
    Q("q_crawl_plan_stream", (s, d) => {
      import graft.operators.UrlOps
      val docs = table(s, d, "documents")
      val pages = plantCompliancePages(docs)
      val rules = UrlOps.parseRobotsRules(plantRobotsTxt(docs), agent = "*")
      BenchPhases.timed("q_crawl_plan_stream", "build")(
        UrlOps.writeUrlIndex(pages.filter(col("doc_id") % 2 === 0), "url",
          "graft_stream_plan_index"))
      withTempDir("graft_plan_stream") { tmp =>
        BenchPhases.timed("q_crawl_plan_stream", "stage")(
          pages.repartition(6).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_crawl_plan_stream")(
          graft.streaming.DedupStream.startCompliance(s, s"$tmp/input",
            "graft_stream_plan_index", s"$tmp/out", s"$tmp/cp", rules,
            maxFilesPerTrigger = Some(1)))
        s.read.option("recursiveFileLookup", "true").parquet(s"$tmp/out")
          .select("doc_id", "canon_url").orderBy("doc_id")
      }
    },
      s"""WITH $compliancePagesCteSql,
         |${robotsDirectivesCtesSql("*")},
         |$robotsEnforceCtesSql,
         |surv AS (
         |  SELECT pg.* FROM pg
         |  WHERE pg.doc_id NOT IN (SELECT doc_id FROM verd WHERE rn = 1 AND NOT allow)),
         |idx AS (
         |  SELECT surv.* FROM surv
         |  WHERE NOT regexp_matches(
         |    lower(regexp_extract(html, ${sqlStr(graft.operators.TextExtraction.MetaRobotsNameFirstRe)}, 1) || ' ' ||
         |          regexp_extract(html, ${sqlStr(graft.operators.TextExtraction.MetaRobotsContentFirstRe)}, 1)),
         |    '(^|[\\s,])(?:noindex|none)([\\s,]|$$)'))
         |SELECT doc_id, canon_url FROM idx
         |WHERE canon_url NOT IN (SELECT canon_url FROM k WHERE doc_id % 2 = 0)
         |ORDER BY doc_id""".stripMargin),
    // robots.txt compliance, full REP (RFC 9309): Allow/Disallow with
    // longest-pattern-wins (Allow on ties), '*' wildcards, trailing-$
    // anchors, 'Disallow: /' blocking the host root, rule hosts
    // canonicalized (www./default-port stripped); rules broadcast,
    // AQE-guarded anti, no forced driver materialization
    // robots REP replay: rule -> regex (escape metachars, '*' -> '.*',
    // trailing-$ anchor), host canonicalized on the RULES side, match
    // against the slash-preserving path+query term, longest-pattern
    // wins with Allow breaking ties (row_number replays the
    // max(struct(spec, allow)) winner)
    qUrlRobots,
    // round-11 faces: REP robots, suffix + PSL blocklists, and the
    // curation capstone as ONE SQL SELECT over registered relations —
    // same logical plans by construction, shared oracles
    Q("q_sql_url_robots", (s, d) => {
      import s.implicits._
      sqlFace(s,
        SqlTableFunctions.UrlsRelation -> plantUrls(table(s, d, "documents")),
        SqlTableFunctions.RobotsRelation -> Seq(("example2.com", "/p/1", false),
          ("example2.com", "/p/10", true),
          ("www.example9.com:443", "/", false),
          ("example9.com", "/p/3", true),
          ("cdn.media.example5.com", "/p/*7", false),
          ("example4.com", "/p/2$", false)).toDF("host", "pattern", "allow"))(
        "SELECT doc_id, url FROM graft_url_robots() ORDER BY doc_id")
    }, qUrlRobots.oracle),
    // raw robots.txt → rules frame: RFC 9309 group parsing (consecutive
    // User-agent lines open one shared group, Sitemap/comments/CRLF
    // ignored, case-insensitive keys, host-level most-specific agent
    // selection with '*' fallback) — windows shuffle only the robots
    // LINES frame, never the corpus
    // robots.txt PARSING replayed step for step (groups, fallback,
    // comments/CRLF, empty-pattern drops), then the parse→enforce chain
    // and the politeness schedule (waves × parsed delays)
    qRobotsParse,
    Q("q_sql_robots_parse", (s, d) =>
      sqlFace(s, SqlTableFunctions.RobotsTxtRelation -> plantRobotsTxt(table(s, d, "documents")))(
        "SELECT host, pattern, allow FROM graft_robots_rules('graftbot') " +
        "ORDER BY host, pattern, allow"), qRobotsParse.oracle),
    // per-host Crawl-delay for the binding groups: non-numeric values
    // dropped, multiple binding values collapse to min
    qRobotsDelay,
    Q("q_sql_crawl_delays", (s, d) =>
      sqlFace(s, SqlTableFunctions.RobotsTxtRelation -> plantRobotsTxt(table(s, d, "documents")))(
        "SELECT host, delay_s FROM graft_crawl_delays('graftbot') ORDER BY host"),
      qRobotsDelay.oracle),
    // the chained compliance path: raw robots.txt bodies parsed, then
    // ENFORCED over the URL corpus — proves the parsed frame feeds
    // filterDisallowed end to end (q_url_robots gates the enforcement
    // semantics on a hand-built rules frame; this row gates the hop
    // from bytes to rules)
    // Parse → enforce chain: the `rbind` rules compiled to REP regexes
    // and applied to the canonical URL frame with longest-pattern-wins.
    Q("q_robots_enforce", (s, d) => {
      val docs = table(s, d, "documents")
      val rules = graft.operators.UrlOps.parseRobotsRules(
        plantRobotsTxt(docs), agent = "*")
      graft.operators.UrlOps
        .filterDisallowed(plantUrls(docs), "url", "doc_id", rules)
        .orderBy("doc_id")
    },
      s"""WITH $urlCanonCtesSql,
         |${robotsDirectivesCtesSql("*")},
         |$robotsEnforceCtesSql
         |SELECT doc_id, url FROM h
         |WHERE doc_id NOT IN (SELECT doc_id FROM verd WHERE rn = 1 AND NOT allow)
         |ORDER BY doc_id""".stripMargin),
    // politeness scheduling: per-host fetch waves (priority-ranked) ×
    // parsed Crawl-delay budgets → earliest fetch offsets; ONE frontier
    // shuffle on host (the window's distribution, shared by the delays
    // equi-join — deliberately NOT broadcast: per-host delays are
    // #hosts-sized at web scale)
    // Politeness schedule replay: per-host row_number waves over
    // (priority DESC, url, doc_id), delay→ms rounded once per host,
    // wave × delay_ms with the 1000 ms default for robots-less hosts.
    Q("q_frontier_schedule", (s, d) => {
      val docs = table(s, d, "documents")
      val frontier = plantUrls(docs)
        .withColumn("priority", col("doc_id") % 5)
      val delays = graft.operators.UrlOps.crawlDelays(
        plantRobotsTxt(docs), agent = "graftbot")
      graft.operators.UrlOps
        .frontierSchedule(frontier, "url", "doc_id", "priority", delays)
        .orderBy("doc_id")
    },
      s"""WITH $urlCanonCtesSql,
         |${robotsDirectivesCtesSql("graftbot")},
         |del AS (
         |  SELECT h AS host, CAST(round(min(CAST(dval AS DOUBLE)) * 1000) AS BIGINT) AS delay_ms
         |  FROM rbind
         |  WHERE dkey = 'crawl-delay' AND regexp_matches(dval, '^[0-9]+(\\.[0-9]+)?$$')
         |  GROUP BY h),
         |sched AS (
         |  SELECT doc_id, url, host, doc_id % 5 AS prio,
         |         row_number() OVER (PARTITION BY host
         |                            ORDER BY doc_id % 5 DESC, url, doc_id) - 1 AS wave
         |  FROM h)
         |SELECT s.doc_id, s.host, CAST(s.wave AS BIGINT) AS wave,
         |       CAST(s.wave * COALESCE(d.delay_ms, 1000) AS BIGINT) AS fetch_at_ms
         |FROM sched s LEFT JOIN del d ON s.host = d.host
         |ORDER BY s.doc_id""".stripMargin),
    // soft-error pages: the server said 200 but the page says parked/
    // 404/placeholder — content-level stop-phrase + emptiness flags
    // status filtering cannot catch
    // soft-error flags + the per-host triage rollup
    Q("q_soft404", (s, d) =>
      plantSoftPages(table(s, d, "documents"))
        .select(col("doc_id"), graft.operators.TextExtraction
          .isSoftErrorPage(col("text")).as("soft"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, ${softFlagSql(softPlantCaseSql("text"))} AS soft
         |FROM documents ORDER BY doc_id""".stripMargin),
    // per-host crawl triage: page volume, canonical-duplicate rate,
    // soft-error rate — the domain-level budget/filter signal; one
    // hash agg on host, exact per-host distinct
    Q("q_domain_report", (s, d) =>
      graft.operators.CorpusCuration.domainReport(
          plantSoftPages(table(s, d, "documents")))
        .orderBy("host"),
      s"""WITH $urlCanonCtesSql,
         |sp AS (
         |  SELECT h.doc_id, h.host, k2.canon_url,
         |         ${softPlantCaseSql("d.text", "h.doc_id")} AS t
         |  FROM h JOIN k k2 ON h.doc_id = k2.doc_id
         |  JOIN documents d ON h.doc_id = d.doc_id)
         |SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
         |       CAST(count(DISTINCT canon_url) AS BIGINT) AS n_distinct,
         |       CAST(SUM(CASE WHEN ${softFlagSql("t")} THEN 1 ELSE 0 END) AS BIGINT) AS n_soft,
         |       round((count(*) - count(DISTINCT canon_url))::DOUBLE / count(*), 6) AS dup_rate,
         |       round(SUM(CASE WHEN ${softFlagSql("t")} THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS soft_rate
         |FROM sp GROUP BY host ORDER BY host""".stripMargin),
    // change-driven recrawl: current vs previous snapshot compared by
    // canonical URL (md5s travel, texts never do), changed/new pages
    // get priority 1.0 and stable ones 0.1, then the politeness
    // scheduler ranks them — the adaptive-crawl loop closed in one
    // chained row
    // change-driven recrawl replay: string compare stands in for the
    // md5 compare (equal iff the texts are equal), waves over
    // (priority DESC, canon_url, doc_id), default 1000 ms delays
    Q("q_recrawl_schedule", (s, d) => {
      import graft.operators.UrlOps
      import org.apache.spark.sql.functions.expr
      val docs = table(s, d, "documents")
      val u = concat(lit("https://snap"), (col("doc_id") % 20).cast("string"),
        lit(".com/d/"), col("doc_id").cast("string"))
      val cur = docs.select(col("doc_id"), u.as("url"),
        expr("CASE WHEN doc_id % 3 = 1 THEN text || ' v2' ELSE text END").as("text"))
      val prev = docs.filter(col("doc_id") % 5 =!= 0)
        .select(u.as("url"), col("text"))
      val pr = UrlOps.recrawlPriorities(cur, prev, "url", "doc_id", "text")
      import s.implicits._
      val noDelays = Seq.empty[(String, Double)].toDF("host", "delay_s")
      UrlOps.frontierSchedule(pr, "canon_url", "doc_id", "priority", noDelays)
        .orderBy("doc_id")
    },
      s"""WITH snap AS (
         |  SELECT doc_id,
         |         'https://snap' || CAST(doc_id % 20 AS VARCHAR) || '.com/d/' || CAST(doc_id AS VARCHAR) AS u,
         |         'snap' || CAST(doc_id % 20 AS VARCHAR) || '.com' AS host,
         |         CASE WHEN doc_id % 3 = 1 THEN text || ' v2' ELSE text END AS t_new,
         |         CASE WHEN doc_id % 5 = 0 THEN NULL ELSE text END AS t_old
         |  FROM documents),
         |pr AS (
         |  SELECT doc_id, u AS canon_url, host,
         |         CASE WHEN t_old IS NULL OR t_new <> t_old THEN 1.0 ELSE 0.1 END AS priority
         |  FROM snap),
         |sched AS (
         |  SELECT doc_id, host,
         |         row_number() OVER (PARTITION BY host
         |                            ORDER BY priority DESC, canon_url, doc_id) - 1 AS wave
         |  FROM pr)
         |SELECT doc_id, host, CAST(wave AS BIGINT) AS wave,
         |       CAST(wave * 1000 AS BIGINT) AS fetch_at_ms
         |FROM sched ORDER BY doc_id""".stripMargin),
    // Sitemap: directives from robots bodies — per the spec GLOBAL
    // (outside user-agent groups, any position), so the scan ignores
    // grouping; absolute-URL values only, distinct per (host, url)
    // Sitemap: directive extraction (group-independent, absolute only)
    Q("q_robots_sitemaps", (s, d) =>
      graft.operators.UrlOps.robotsSitemaps(
          plantRobotsTxt(table(s, d, "documents")))
        .orderBy("host", "sitemap_url"),
      s"""WITH $robotsPlantCteSql,
         |rl AS (
         |  SELECT regexp_replace(regexp_replace(lower(host), ':(80|443)$$', ''), '^www\\.', '') AS host,
         |         unnest(string_split(txt, chr(10))) AS raw
         |  FROM rb),
         |ln AS (
         |  SELECT host, trim(regexp_replace(regexp_replace(raw, '\\r$$', ''), '#.*$$', '')) AS line
         |  FROM rl)
         |SELECT DISTINCT host,
         |       trim(regexp_extract(line, '^[^:]+:(.*)$$', 1)) AS sitemap_url
         |FROM ln
         |WHERE lower(trim(regexp_extract(line, '^([^:]+):', 1))) = 'sitemap'
         |  AND regexp_matches(trim(regexp_extract(line, '^[^:]+:(.*)$$', 1)), '^[A-Za-z][A-Za-z0-9+.-]*://')
         |ORDER BY host, sitemap_url""".stripMargin),
    // the compliance CAPSTONE — robots bytes to a polite crawl plan:
    // parse robots.txt, enforce it over the page frame, drop noindex'd
    // pages, consolidate by declared canonical, schedule the winners in
    // per-host politeness waves with the parsed delays. One chained
    // oracle replays every hop; shuffle inventory: broadcast-rules anti
    // (enforce), map-only meta filter, one combiner-collapsed shuffle
    // (consolidation), one host shuffle (schedule)
    // the compliance capstone: every hop of the chained plan replayed
    qCrawlPlan,
    // the capstone as ONE SQL SELECT over registered relations —
    // identical logical plan by construction, shared chained oracle
    Q("q_sql_crawl_plan", (s, d) => {
      val docs = table(s, d, "documents")
      sqlFace(s,
        SqlTableFunctions.RobotsTxtRelation -> plantRobotsTxt(docs),
        SqlTableFunctions.PagesRelation -> plantCompliancePages(docs)
          .withColumn("priority", col("doc_id") % 5))(
        "SELECT doc_id, host, wave, fetch_at_ms FROM graft_crawl_plan('*') " +
        "ORDER BY doc_id")
    }, qCrawlPlan.oracle),
    // the compliance capstone under RFC 9309 §2.3.1 FETCH-STATUS
    // semantics: a 404'd robots.txt host crawls unrestricted (its
    // parsed rules drop), a 500'd host is fully excluded (synthesized
    // Disallow: /), and only live hosts contribute crawl delays —
    // the rule a plain body parse cannot express
    qCrawlPlanStatus,
    // SQL faces of the raw-robots family: the robots_txt relation
    // carries fetched bodies; the faces parse per-agent
    // the fetch-status faces over the robots_fetch relation (host,
    // robots_txt, status) — RFC 9309 2.3.1 semantics as one SQL call
    Q("q_sql_crawl_plan_status", (s, d) => {
      val docs = table(s, d, "documents")
      sqlFace(s,
        SqlTableFunctions.RobotsFetchRelation -> plantRobotsFetch(docs),
        SqlTableFunctions.PagesRelation -> plantCompliancePages(docs)
          .withColumn("priority", col("doc_id") % 5))(
        "SELECT doc_id, host, wave, fetch_at_ms " +
        "FROM graft_crawl_plan_status('*') ORDER BY doc_id")
    }, qCrawlPlanStatus.oracle),
    // domain-blocklist filter with suffix semantics (blocking example.com
    // blocks cdn.media.example.com): exploded domain-chain broadcast semi
    // collects blocked keys, broadcast anti removes them — the corpus
    // frame is never shuffled
    // suffix semantics via EXISTS (host = b or host endswith '.' || b) —
    // the declarative statement of what the exploded-chain joins compute
    qUrlBlocklist,
    Q("q_sql_url_blocklist", (s, d) => {
      import s.implicits._
      sqlFace(s,
        SqlTableFunctions.UrlsRelation -> plantUrls(table(s, d, "documents")),
        SqlTableFunctions.BlocklistRelation -> Seq("example7.com", "media.example11.com", "example3.com").toDF("domain"))(
        "SELECT doc_id, host FROM graft_url_blocklist() ORDER BY doc_id")
    }, qUrlBlocklist.oracle),
    // the PSL tier: chains stop at the REGISTRABLE domain, so blocklist
    // entries at a public suffix ('co.uk', 'blogspot.com') match
    // NOTHING while 'example3.co.uk' still blocks its subdomains —
    // same exploded-chain broadcast-semi + anti shape
    // PSL tier: the chain stops at the registrable domain, so entries
    // at a public suffix (co.uk, blogspot.com) match NOTHING — the
    // replay interpolates the same PslSnapshot the Spark side uses
    qUrlBlocklistPsl,
    Q("q_sql_url_blocklist_psl", (s, d) => {
      import s.implicits._
      sqlFace(s,
        SqlTableFunctions.UrlsRelation -> plantPslUrls(table(s, d, "documents")),
        SqlTableFunctions.BlocklistRelation -> Seq("co.uk", "example3.co.uk", "example7.com", "blogspot.com")
          .toDF("domain"))(
        "SELECT doc_id, host FROM graft_url_blocklist_psl() ORDER BY doc_id")
    }, qUrlBlocklistPsl.oracle),
    // sitemap ingestion (the crawl frontier's OTHER input besides
    // extracted links): <url> blocks -> (key, canonical loc, verbatim
    // lastmod-or-null); XML entity decode before canonicalization,
    // whitespace-trimmed locs, loc-less blocks dropped
    // sitemap blocks -> (canonical loc, verbatim lastmod); loc-less
    // blocks dropped, entity decode before the canonical terms
    Q("q_sitemap_urls", (s, d) =>
      graft.operators.UrlOps.sitemapUrls(
        plantSitemaps(table(s, d, "documents")), "xml", "doc_id")
        .orderBy("doc_id", "url"), sitemapUrlsOracleSql),
    // sitemap-INDEX resolution over a staged body pool, one level:
    // index bodies' <sitemap> children join back to the pool by
    // canonical URL (the child side broadcasts), their <url> entries
    // come out keyed by the INDEX's doc — then straight into the
    // per-host budget (3), so the row proves union-of-children AND
    // budgets in one gate; the unstaged child and the loc-less block
    // must contribute nothing
    // index resolution: child locs -> staged bodies -> entry union ->
    // budget waves; the unstaged child and loc-less block drop
    Q("q_url_sitemap_index", (s, d) => {
      import s.implicits._
      import graft.operators.UrlOps
      val pool = plantSitemapIndexPool(table(s, d, "documents"))
      val entries = UrlOps.sitemapUrlsViaIndex(pool, "url", "xml", "doc_id")
      val noDelays = Seq.empty[(String, Double)].toDF("host", "delay_s")
      UrlOps.frontierBudget(
          entries.withColumn("priority", lit(0.5)),
          "url", "doc_id", "priority", noDelays, maxPerHost = 3)
        .orderBy("doc_id", "wave")
    }, sitemapIndexOracleSql),
    // the sitemap DISCOVERY frontier: children the staged index bodies
    // reference but the pool does not hold — exactly the two
    // missing*.xml per index — scheduled into politeness waves (one
    // host per index doc, so waves 0 and 1 per host in url order);
    // staged children and loc-less blocks must contribute nothing
    // Sitemap-frontier replay: the two unstaged children per index doc
    // ([[plantSitemapIndexPool]]'s missing/missing2), scheduled with
    // the same window arithmetic as [[UrlOps.frontierSchedule]]
    // (per-host row_number over (priority desc, url, key) minus 1;
    // priority constant here so the url order decides).
    Q("q_sitemap_frontier", (s, d) => {
      import s.implicits._
      import graft.operators.UrlOps
      val pool = plantSitemapIndexPool(table(s, d, "documents"))
      val frontier = UrlOps.sitemapFrontier(pool, "url", "xml", "doc_id")
        .withColumn("priority", lit(0.5))
        .withColumn("k", col("child_url"))
      val noDelays = Seq.empty[(String, Double)].toDF("host", "delay_s")
      UrlOps.frontierSchedule(frontier, "child_url", "k", "priority",
          noDelays)
        .select(col("k").as("child_url"), col("host"), col("wave"),
          col("fetch_at_ms"))
        .orderBy("child_url")
    },
      s"""WITH f AS (
         |  SELECT doc_id, 'https://sm' || CAST(doc_id AS VARCHAR) ||
         |         '.example.com/sm/missing.xml' AS child_url FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'https://sm' || CAST(doc_id AS VARCHAR) ||
         |         '.example.com/sm/missing2.xml' FROM documents),
         |s AS (
         |  SELECT child_url,
         |         'sm' || CAST(doc_id AS VARCHAR) || '.example.com' AS host,
         |         CAST(row_number() OVER (PARTITION BY doc_id
         |           ORDER BY child_url, child_url) - 1 AS BIGINT) AS wave
         |  FROM f)
         |SELECT child_url, host, wave,
         |       CAST(wave * 1000 AS BIGINT) AS fetch_at_ms
         |FROM s ORDER BY child_url""".stripMargin),
    // sitemap-declared importance feeding the crawl plan: <priority>
    // parsed (clamped to [0,1], spec default 0.5 for absent/junk),
    // entries scheduled in politeness waves under a per-host budget of
    // 3 — the discovery → schedule chain a crawler actually runs
    // sitemap priority → politeness schedule under a per-host budget
    // Sitemap-schedule replay: plant, block/loc/priority extraction
    // (same regexes), the [0,1] clamp with the 0.5 default, politeness
    // waves over (priority DESC, url, k), graftbot delays, budget cut
    // at 3. Hosts are planted canonical (`example{k}.com`), so the host
    // term replays as the plant formula — the full host rule is gated
    // by q_url_canon.
    Q("q_sitemap_schedule", (s, d) => {
      import graft.operators.UrlOps
      val docs = table(s, d, "documents")
      val entries = UrlOps.sitemapEntries(
        plantPrioritySitemaps(docs), "xml", "k")
      val delays = UrlOps.crawlDelays(plantRobotsTxt(docs), agent = "graftbot")
      UrlOps.frontierBudget(entries, "url", "k", "priority", delays,
          maxPerHost = 3)
        .orderBy("host", "wave")
    },
      s"""WITH ${robotsDirectivesCtesSql("graftbot")},
         |del AS (
         |  SELECT h AS host, CAST(round(min(CAST(dval AS DOUBLE)) * 1000) AS BIGINT) AS delay_ms
         |  FROM rbind
         |  WHERE dkey = 'crawl-delay' AND regexp_matches(dval, '^[0-9]+(\\.[0-9]+)?$$')
         |  GROUP BY h),
         |hosts AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
         |sm AS (
         |  SELECT k,
         |         '<urlset>' || chr(10) ||
         |         '<url><loc>https://example' || CAST(k AS VARCHAR) || '.com/s/0</loc><priority>0.9</priority></url>' || chr(10) ||
         |         '<url><loc>https://example' || CAST(k AS VARCHAR) || '.com/s/1</loc></url>' || chr(10) ||
         |         '<url><loc>https://example' || CAST(k AS VARCHAR) || '.com/s/2</loc><priority>high</priority></url>' || chr(10) ||
         |         '<url><loc>https://example' || CAST(k AS VARCHAR) || '.com/s/3</loc><priority>1.7</priority></url>' || chr(10) ||
         |         '</urlset>' AS xml
         |  FROM hosts),
         |sb AS (
         |  SELECT k, unnest(regexp_extract_all(xml, '(?is)<url\\b[^>]*>(.*?)</url>', 1)) AS b
         |  FROM sm),
         |se AS (
         |  SELECT k,
         |         regexp_extract(b, '(?is)<loc\\s*>\\s*(.*?)\\s*</loc>', 1) AS url,
         |         regexp_extract(b, '(?is)<priority\\s*>\\s*(.*?)\\s*</priority>', 1) AS pr
         |  FROM sb),
         |sp AS (
         |  SELECT k, url,
         |         CASE WHEN regexp_matches(pr, '^[0-9]+(\\.[0-9]+)?$$')
         |              THEN least(greatest(CAST(pr AS DOUBLE), 0.0), 1.0)
         |              ELSE 0.5 END AS priority,
         |         'example' || CAST(k AS VARCHAR) || '.com' AS host
         |  FROM se WHERE url <> ''),
         |sched AS (
         |  SELECT k, url, host, priority,
         |         row_number() OVER (PARTITION BY host
         |                            ORDER BY priority DESC, url, k) - 1 AS wave
         |  FROM sp)
         |SELECT s.k, s.host, CAST(s.wave AS BIGINT) AS wave,
         |       CAST(s.wave * COALESCE(d.delay_ms, 1000) AS BIGINT) AS fetch_at_ms
         |FROM sched s LEFT JOIN del d ON s.host = d.host
         |WHERE s.wave < 3
         |ORDER BY s.host, s.wave""".stripMargin),
    // redirect-chain resolution: per-hop co-keyed left joins with an
    // early exit; chains terminating within 8 hops resolve (final_url,
    // hops), loops and over-cap chains come out (NULL, NULL) — the
    // oracle replays the walk as a recursive CTE under the same cap
    // the redirect walk as a recursive CTE bounded by the same hop cap;
    // functional-map normalization (min dst) replayed, unresolved
    // chains LEFT-JOIN to NULL
    Q("q_url_redirects", (s, d) =>
      graft.operators.UrlOps.resolveRedirects(
        plantRedirects(table(s, d, "documents")), maxHops = 8)
        .orderBy("url"), urlRedirectsOracleSql),
    // Frontier-pairs replay (the bare operator face, no schedule): the
    // two unstaged children per index doc, keyed by the index.
    Q("q_sql_sitemap_frontier", (s, d) =>
      sqlFace(s,
        SqlTableFunctions.SitemapsRelation -> plantSitemapIndexPool(table(s, d, "documents")))(
        "SELECT doc_id, child_url FROM graft_sitemap_frontier() " +
        "ORDER BY doc_id, child_url"),
      s"""WITH f AS (
         |  SELECT doc_id, 'https://sm' || CAST(doc_id AS VARCHAR) ||
         |         '.example.com/sm/missing.xml' AS child_url FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'https://sm' || CAST(doc_id AS VARCHAR) ||
         |         '.example.com/sm/missing2.xml' FROM documents)
         |SELECT doc_id, child_url FROM f ORDER BY doc_id, child_url""".stripMargin)
  )

  private lazy val qUrlCanon: Q = Q("q_url_canon", (s, d) =>
    plantUrls(table(s, d, "documents"))
      .withColumn("canon_url",
        graft.operators.UrlOps.canonicalizeUrl(col("url")))
      .select("doc_id", "url", "canon_url").orderBy("doc_id"),
    s"""WITH $urlCanonCtesSql
       |SELECT doc_id, url, canon_url FROM k ORDER BY doc_id""".stripMargin)

  private lazy val qUrlDedup: Q = Q("q_url_dedup", (s, d) =>
    graft.operators.UrlOps.dedupByCanonicalUrl(
        plantUrls(table(s, d, "documents")), "url", "doc_id")
      .select("doc_id", "url", "canon_url").orderBy("doc_id"),
    s"""WITH $urlCanonCtesSql
       |SELECT doc_id, url, canon_url FROM k
       |QUALIFY row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) = 1
       |ORDER BY doc_id""".stripMargin)

  private lazy val qHtmlNoindex: Q = Q("q_html_noindex", (s, d) =>
    plantCompliancePages(table(s, d, "documents"))
      .select(col("doc_id"),
        graft.operators.TextExtraction.metaNoindex(col("html")).as("noindex"),
        graft.operators.TextExtraction.metaNofollow(col("html")).as("nofollow"))
      .orderBy("doc_id"), {
    import graft.operators.TextExtraction.{MetaRobotsContentFirstRe, MetaRobotsNameFirstRe}
    s"""WITH $compliancePagesCteSql,
       |mx AS (
       |  SELECT doc_id,
       |         lower(regexp_extract(html, ${sqlStr(MetaRobotsNameFirstRe)}, 1) || ' ' ||
       |               regexp_extract(html, ${sqlStr(MetaRobotsContentFirstRe)}, 1)) AS declared
       |  FROM pg)
       |SELECT doc_id,
       |       regexp_matches(declared, '(^|[\\s,])(?:noindex|none)([\\s,]|$$)') AS noindex,
       |       regexp_matches(declared, '(^|[\\s,])(?:nofollow|none)([\\s,]|$$)') AS nofollow
       |FROM mx ORDER BY doc_id""".stripMargin
  })

  private lazy val qHtmlText: Q = Q("q_html_text", (s, d) =>
    plantHtml(table(s, d, "documents"))
      .select(col("doc_id"),
        graft.operators.TextExtraction.stripHtml(col("html")).as("text"))
      .orderBy("doc_id"),
    s"""WITH ${htmlLineCtesSql(minified = false)},
         |tx0 AS (
         |  SELECT doc_id,
         |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
         |           '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
         |           '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
         |           '(?s)<!--.*?-->', ' ', 'g'),
         |           '(?s)<[^>]*>', ' ', 'g') AS t0
         |  FROM hp),
         |tx1 AS (SELECT doc_id, ${duckNumRefDecodeSql("t0")} AS t1 FROM tx0)
         |SELECT doc_id,
         |       trim(regexp_replace(${duckNamedEntitySql("t1")}, '\\s+', ' ', 'g')) AS text
         |FROM tx1 ORDER BY doc_id""".stripMargin)

  private lazy val qHtmlMain: Q = Q("q_html_main", (s, d) =>
    plantHtml(table(s, d, "documents"))
      .select(col("doc_id"),
        graft.operators.TextExtraction.mainContent(col("html")).as("main"))
      .orderBy("doc_id"), htmlMainOracleSql(minified = false))

  private lazy val qCrawlCurate: Q = Q("q_crawl_curate", (s, d) => {
    import s.implicits._
    import graft.operators.{TextExtraction, UrlOps}
    import org.apache.spark.sql.functions.{md5, size, split}
    val docs = table(s, d, "documents")
    val pages = plantUrls(docs)
      .join(plantHtml(docs), "doc_id")
      .withColumn("host", UrlOps.canonicalHost(col("url")))
    val block = Seq("example7.com", "media.example11.com", "example3.com")
      .toDF("domain")
    val allowed = UrlOps.filterBlockedDomains(pages, "host", "doc_id", block)
    val kept = UrlOps.dedupByCanonicalUrl(
      allowed.drop("host"), "url", "doc_id")
    kept.withColumn("main", TextExtraction.mainContent(col("html")))
      .withColumn("n_words", size(split(col("main"), " ")))
      .filter(col("n_words") >= 20)
      .select(col("doc_id"), col("canon_url"),
        col("n_words").cast("long").as("n_words"),
        md5(col("main")).as("main_hash"))
      .orderBy("doc_id")
    }, crawlCurateOracleSql)

  private lazy val qUrlRobots: Q = Q("q_url_robots", (s, d) => {
    import s.implicits._
    val urls = plantUrls(table(s, d, "documents"))
    val robots = Seq(
      ("example2.com", "/p/1", false),
      ("example2.com", "/p/10", true),
      ("www.example9.com:443", "/", false),
      ("example9.com", "/p/3", true),
      ("cdn.media.example5.com", "/p/*7", false),
      ("example4.com", "/p/2$", false)).toDF("host", "pattern", "allow")
    graft.operators.UrlOps.filterDisallowed(urls, "url", "doc_id", robots)
      .orderBy("doc_id")
    }, urlRobotsOracleSql)

  private lazy val qRobotsParse: Q = Q("q_robots_parse", (s, d) =>
    graft.operators.UrlOps.parseRobotsRules(
        plantRobotsTxt(table(s, d, "documents")), agent = "graftbot")
      .orderBy("host", "pattern", "allow"),
    s"""WITH ${robotsDirectivesCtesSql("graftbot")}
       |SELECT h AS host, dval AS pattern, (dkey = 'allow') AS allow
       |FROM rbind
       |WHERE dkey IN ('allow', 'disallow') AND dval <> ''
       |ORDER BY host, pattern, allow""".stripMargin)

  private lazy val qRobotsDelay: Q = Q("q_robots_delay", (s, d) =>
    graft.operators.UrlOps.crawlDelays(
        plantRobotsTxt(table(s, d, "documents")), agent = "graftbot")
      .orderBy("host"),
    s"""WITH ${robotsDirectivesCtesSql("graftbot")}
       |SELECT h AS host, min(CAST(dval AS DOUBLE)) AS delay_s
       |FROM rbind
       |WHERE dkey = 'crawl-delay' AND regexp_matches(dval, '^[0-9]+(\\.[0-9]+)?$$')
       |GROUP BY h
       |ORDER BY host""".stripMargin)

  private lazy val qCrawlPlan: Q = Q("q_crawl_plan", (s, d) => {
    import graft.operators.{TextExtraction, UrlOps}
    val docs = table(s, d, "documents")
    val robots = plantRobotsTxt(docs)
    val rules = UrlOps.parseRobotsRules(robots, agent = "*")
    val pages = plantCompliancePages(docs)
    val allowed = UrlOps.filterDisallowed(pages, "url", "doc_id", rules)
    val indexable = TextExtraction.filterNoindexed(allowed, "html")
    val winners = UrlOps.consolidateByCanonical(
      indexable, "url", "html", "doc_id")
    val delays = UrlOps.crawlDelays(robots, agent = "*")
    UrlOps.frontierSchedule(
        winners.withColumn("priority", col("doc_id") % 5),
        "url", "doc_id", "priority", delays)
      .orderBy("doc_id")
    }, crawlPlanOracleSql)

  // [[crawlPlanOracleSql]] under RFC 9309 fetch-status semantics:
  // `rstat` replays [[plantRobotsFetch]]'s status formula, binding
  // directives are restricted to LIVE hosts (status < 400), the
  // enforce stage gains one synthesized `Disallow: /` row per 5xx
  // host (spec 1, regex `^/` — exactly what the Spark side's
  // [[graft.operators.UrlOps.robotsRulesWithStatus]] pattern compiles
  // to), and crawl delays come from live hosts only.
  private lazy val qCrawlPlanStatus: Q = Q("q_crawl_plan_status", (s, d) => {
    import graft.operators.{TextExtraction, UrlOps}
    val docs = table(s, d, "documents")
    val fetch = plantRobotsFetch(docs)
    val rules = UrlOps.robotsRulesWithStatus(fetch, agent = "*")
    val pages = plantCompliancePages(docs)
    val allowed = UrlOps.filterDisallowed(pages, "url", "doc_id", rules)
    val indexable = TextExtraction.filterNoindexed(allowed, "html")
    val winners = UrlOps.consolidateByCanonical(
      indexable, "url", "html", "doc_id")
    val delays = UrlOps.crawlDelaysWithStatus(fetch, agent = "*")
    UrlOps.frontierSchedule(
        winners.withColumn("priority", col("doc_id") % 5),
        "url", "doc_id", "priority", delays)
      .orderBy("doc_id")
    }, {
    import graft.operators.TextExtraction.{MetaRobotsContentFirstRe, MetaRobotsNameFirstRe}
    val downRules = "\n  UNION ALL\n  SELECT sh AS rhost, '/' AS pattern, " +
      "false AS allow, 1 AS spec, '^/' AS rx FROM rstat WHERE status >= 500"
    s"""WITH $compliancePagesCteSql,
       |${robotsDirectivesCtesSql("*")},
       |$robotsFetchStatusCteSql,
       |rbind_live AS (
       |  SELECT rbind.* FROM rbind JOIN rstat ON rbind.h = rstat.sh
       |  WHERE rstat.status < 400),
       |${robotsEnforceCtesSqlFrom("rbind_live", downRules)},
       |surv AS (
       |  SELECT pg.* FROM pg
       |  WHERE pg.doc_id NOT IN (SELECT doc_id FROM verd WHERE rn = 1 AND NOT allow)),
       |idx AS (
       |  SELECT surv.* FROM surv
       |  WHERE NOT regexp_matches(
       |    lower(regexp_extract(html, ${sqlStr(MetaRobotsNameFirstRe)}, 1) || ' ' ||
       |          regexp_extract(html, ${sqlStr(MetaRobotsContentFirstRe)}, 1)),
       |    '(^|[\\s,])(?:noindex|none)([\\s,]|$$)')),
       |${canonicalConsolidationCtesSql("idx")},
       |del AS (
       |  SELECT h AS host, CAST(round(min(CAST(dval AS DOUBLE)) * 1000) AS BIGINT) AS delay_ms
       |  FROM rbind_live
       |  WHERE dkey = 'crawl-delay' AND regexp_matches(dval, '^[0-9]+(\\.[0-9]+)?$$')
       |  GROUP BY h),
       |sched AS (
       |  SELECT w.doc_id, w.url, hh.host, w.doc_id % 5 AS prio,
       |         row_number() OVER (PARTITION BY hh.host
       |                            ORDER BY w.doc_id % 5 DESC, w.url, w.doc_id) - 1 AS wave
       |  FROM win w JOIN h hh ON w.doc_id = hh.doc_id
       |  WHERE w.rn = 1)
       |SELECT s.doc_id, s.host, CAST(s.wave AS BIGINT) AS wave,
       |       CAST(s.wave * COALESCE(d.delay_ms, 1000) AS BIGINT) AS fetch_at_ms
       |FROM sched s LEFT JOIN del d ON s.host = d.host
       |ORDER BY s.doc_id""".stripMargin
  })

  private lazy val qUrlBlocklist: Q = Q("q_url_blocklist", (s, d) => {
    import s.implicits._
    val withHost = plantUrls(table(s, d, "documents"))
      .withColumn("host",
        graft.operators.UrlOps.canonicalHost(col("url")))
      .select("doc_id", "host")
    val block = Seq("example7.com", "media.example11.com", "example3.com")
      .toDF("domain")
    graft.operators.UrlOps
      .filterBlockedDomains(withHost, "host", "doc_id", block)
      .orderBy("doc_id")
    },
    s"""WITH $urlCanonCtesSql
       |SELECT doc_id, host FROM h
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM (VALUES ('example7.com'), ('media.example11.com'),
       |                        ('example3.com')) b(domain)
       |  -- port-free comparison, mirroring domainChain's port strip
       |  WHERE regexp_replace(h.host, ':[0-9]+$$', '') = b.domain
       |     OR regexp_replace(h.host, ':[0-9]+$$', '') LIKE '%.' || b.domain)
       |ORDER BY doc_id""".stripMargin)

  private lazy val qUrlBlocklistPsl: Q = Q("q_url_blocklist_psl", (s, d) => {
    import s.implicits._
    val withHost = plantPslUrls(table(s, d, "documents"))
      .withColumn("host",
        graft.operators.UrlOps.canonicalHost(col("url")))
      .select("doc_id", "host")
    val block = Seq("co.uk", "example3.co.uk", "example7.com",
      "blogspot.com").toDF("domain")
    graft.operators.UrlOps
      .filterBlockedDomainsPsl(withHost, "host", "doc_id", block)
      .orderBy("doc_id")
    }, urlBlocklistPslOracleSql)

  /** Sitemap plant: each document becomes a sitemaps.org `<urlset>`
    * with four `<url>` blocks — (1) a canonical loc with a date-only
    * lastmod, (2) a loc needing canonicalization work (scheme/host
    * case, www, :443, trailing slash) AND whitespace around the value
    * (real sitemaps pretty-print), no lastmod, (3) a loc with an
    * `&amp;`-escaped query (the sitemaps.org REQUIRED escaping) and a
    * full datetime lastmod, (4) a block with no loc at all — dropped.
    * Replayed literally in [[sitemapUrlsOracleSql]].
    */
  private def plantSitemaps(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{concat, format_string}
    val k = (col("doc_id") % 20).cast("string")
    val m = (col("doc_id") % 11).cast("string")
    val m2 = ((col("doc_id") + 5) % 11).cast("string")
    val dd = format_string("%02d", (col("doc_id") % 28) + 1)
    docs.select(col("doc_id"), concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset " +
        "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
      lit("<url><loc>https://example"), k, lit(".com/s/"), m,
      lit("</loc><lastmod>2024-01-"), dd, lit("</lastmod></url>\n"),
      lit("<url><loc>\n  HTTPS://WWW.Example"), k, lit(".COM:443/s/"), m2,
      lit("/\n</loc></url>\n"),
      lit("<url><loc>https://example"), k, lit(".com/s?a="), m,
      lit("&amp;b=2</loc><lastmod>2024-02-01T00:00:00Z</lastmod></url>\n"),
      lit("<url><lastmod>2024-03-01</lastmod></url>\n</urlset>")).as("xml"))
  }

  /** Sitemap-INDEX pool plant: per document, ONE staged index body
    * plus its two staged children — hosts unique per doc
    * (`sm<doc_id>.example.com`), so the child→pool join is exactly
    * 1:1 and politeness waves are per-doc. Coverage: a
    * whitespace-wrapped child loc with a lastmod (ignored at the
    * index level), a child loc AND staged URL both needing
    * canonicalization (case/www/:443 on one side, case/www on the
    * other — they must meet at the same canonical), TWO referenced but
    * UNSTAGED children (`missing.xml`, `missing2.xml` — they
    * contribute nothing here and are exactly the q_sitemap_frontier
    * fetch wave), and a loc-less `<sitemap>` block (dropped). Child
    * bodies carry four `<url>` entries between them, incl. an
    * `&amp;`-escaped query. Replayed literally in
    * [[sitemapIndexOracleSql]].
    */
  private def plantSitemapIndexPool(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.concat
    val d = col("doc_id").cast("string")
    val idx = docs.select(col("doc_id"),
      concat(lit("https://sm"), d, lit(".example.com/sitemap.xml")).as("url"),
      concat(
        lit("<?xml version=\"1.0\"?>\n<sitemapindex " +
          "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          "<sitemap><loc>\n  https://sm"), d,
        lit(".example.com/sm/a.xml\n</loc>" +
          "<lastmod>2024-05-01</lastmod></sitemap>\n" +
          "<sitemap><loc>HTTPS://WWW.Sm"), d,
        lit(".Example.COM:443/sm/b.xml</loc></sitemap>\n" +
          "<sitemap><loc>https://sm"), d,
        lit(".example.com/sm/missing.xml</loc></sitemap>\n" +
          "<sitemap><loc>https://sm"), d,
        lit(".example.com/sm/missing2.xml</loc></sitemap>\n" +
          "<sitemap><lastmod>2024-06-01</lastmod></sitemap>\n" +
          "</sitemapindex>")).as("xml"))
    val childA = docs.select(col("doc_id"),
      concat(lit("https://sm"), d, lit(".example.com/sm/a.xml")).as("url"),
      concat(
        lit("<urlset>\n<url><loc>https://sm"), d,
        lit(".example.com/u/0</loc><lastmod>2024-01-15</lastmod></url>\n" +
          "<url><loc>\n  https://sm"), d,
        lit(".example.com/u/1\n</loc></url>\n</urlset>")).as("xml"))
    val childB = docs.select(col("doc_id"),
      concat(lit("HTTPS://www.sm"), d, lit(".example.com/sm/b.xml")).as("url"),
      concat(
        lit("<urlset>\n<url><loc>https://sm"), d,
        lit(".example.com/u/2?a=1&amp;b=2</loc></url>\n" +
          "<url><loc>https://sm"), d,
        lit(".example.com/u/3</loc>" +
          "<lastmod>2024-02-01T00:00:00Z</lastmod></url>\n</urlset>"))
        .as("xml"))
    idx.unionByName(childA).unionByName(childB)
  }

  /** Redirect-map plant: documents form 4-node groups (g = doc_id div
    * 4, p = doc_id % 4) chained p→p+1; the group's last node points at
    * a TERMINAL `t.com` url for even groups (the whole chain resolves,
    * 1-4 hops) and BACK to the group head for odd groups (a pure
    * 4-cycle — every source unresolved). Replayed literally in
    * [[urlRedirectsOracleSql]].
    */
  private def plantRedirects(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{concat, expr}
    val g = expr("doc_id div 4").cast("string")
    val p = expr("doc_id % 4")
    docs.select(
      concat(lit("https://r.com/"), g, lit("/"), p.cast("string")).as("src"),
      when(p < 3,
        concat(lit("https://r.com/"), g, lit("/"), (p + 1).cast("string")))
        .when(expr("(doc_id div 4) % 2 = 0"),
          concat(lit("https://t.com/"), g))
        .otherwise(concat(lit("https://r.com/"), g, lit("/0"))).as("dst"))
  }

  /** PSL-exercising URL plant: hosts under a multi-label ICANN suffix
    * (`co.uk`, with and without extra subdomain labels), a plain TLD,
    * and a private-section shared-hosting suffix (`blogspot.com`).
    * Replayed literally in [[urlBlocklistPslOracleSql]]'s `pu` CTE.
    */
  private def plantPslUrls(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{concat, expr, when}
    val k = (col("doc_id") % 20).cast("string")
    val m = (col("doc_id") % 11).cast("string")
    // (doc_id div 3) decorrelates the variant from the host index k —
    // doc_id%4 and doc_id%20 share the mod-4 residue, which would pin
    // every blocklisted k to the same variant and block NOTHING
    val v = expr("(doc_id div 3) % 4")
    docs.select(col("doc_id"),
      when(v === 0, concat(lit("https://example"), k, lit(".co.uk/p/"), m))
        .when(v === 1, concat(lit("https://cdn.media.example"), k,
          lit(".co.uk/p/"), m))
        .when(v === 2, concat(lit("https://example"), k, lit(".com/p/"), m))
        .otherwise(concat(lit("https://blog"), k,
          lit(".blogspot.com/p/"), m))
        .as("url"))
  }

  /** Compliance-page plant: every plantUrls row gains a page whose
    * head carries, by doc_id residues, a robots meta (`%7`: 3 →
    * name-first noindex+nofollow, 5 → content-first NOFOLLOW in upper
    * case, 6 → single-quoted `none`, else absent) and a canonical link
    * (`%7 == 4` → a CROSS-SITE hijack declaration to
    * `https://hijack-sink.net/steal`, which the
    * same-registrable-domain guard must ignore; else `%3`: 1 →
    * absolute href to the group's canonical
    * `https://example{k}.com/p/{m}`, 2 → root-relative `/p/{m}` with
    * href-before-rel attribute order, 0 → none). Replayed literally in
    * [[compliancePagesCteSql]].
    */
  private def plantCompliancePages(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{concat, expr, when}
    val k = (col("doc_id") % 20).cast("string")
    val m = (col("doc_id") % 11).cast("string")
    val meta = expr("doc_id % 7")
    val can = expr("doc_id % 3")
    plantUrls(docs).withColumn("html", concat(
      lit("<html><head><title>p</title>"),
      when(meta === 3, lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
        .when(meta === 5, lit("<meta content=\"NOFOLLOW\" name=\"ROBOTS\">"))
        .when(meta === 6, lit("<meta name='robots' content='none'>"))
        .otherwise(lit("")),
      when(meta === 4, lit("<link rel=\"canonical\" " +
          "href=\"https://hijack-sink.net/steal\">"))
        .when(can === 1, concat(lit("<link rel=\"canonical\" href=\"https://example"),
          k, lit(".com/p/"), m, lit("\">")))
        .when(can === 2, concat(lit("<link href=\"/p/"), m,
          lit("\" rel='canonical'>")))
        .otherwise(lit("")),
      lit("</head><body><p>body text</p></body></html>")))
  }

  /** Priority-sitemap plant: one `<urlset>` per plantUrls root host
    * with four entries — explicit 0.9, absent (spec default 0.5),
    * junk (`high` → default), and 1.7 (clamped to 1.0). Locs are
    * planted CANONICAL so the schedule oracle replays them verbatim
    * (extraction canonicalization is gated by q_sitemap_urls).
    */
  private def plantPrioritySitemaps(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.concat
    val k = col("k")
    val base = concat(lit("https://example"), k.cast("string"), lit(".com/s/"))
    docs.select((col("doc_id") % 20).as("k")).distinct()
      .select(k, concat(
        lit("<urlset>\n<url><loc>"), base,
        lit("0</loc><priority>0.9</priority></url>\n<url><loc>"), base,
        lit("1</loc></url>\n<url><loc>"), base,
        lit("2</loc><priority>high</priority></url>\n<url><loc>"), base,
        lit("3</loc><priority>1.7</priority></url>\n</urlset>")).as("xml"))
  }

  /** Soft-page plant: plantUrls pages carrying each doc's text except
    * doc_id%11 ∈ {4: a soft-404 body, 7: a parked-domain body, 9: a
    * near-empty shell} — the three stop-page classes.
    */
  private def plantSoftPages(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    plantUrls(docs).join(docs.select("doc_id", "text"), "doc_id")
      .withColumn("text", expr(
        "CASE WHEN doc_id % 11 = 4 THEN '404 Not Found - the page was not found' " +
          "WHEN doc_id % 11 = 7 THEN 'This Domain is for Sale! coming soon' " +
          "WHEN doc_id % 11 = 9 THEN 'tiny' ELSE text END"))
  }

  private def softPlantCaseSql(textExpr: String,
                               docId: String = "doc_id"): String =
    s"""CASE WHEN $docId % 11 = 4 THEN '404 Not Found - the page was not found'
       |     WHEN $docId % 11 = 7 THEN 'This Domain is for Sale! coming soon'
       |     WHEN $docId % 11 = 9 THEN 'tiny' ELSE $textExpr END""".stripMargin

  private def softFlagSql(t: String): String =
    s"(regexp_matches($t, ${sqlStr(graft.operators.TextExtraction.SoftErrorRe)}) OR length($t) < 20)"

  /** The four robots.txt body templates, one Scala constant so the
    * Spark plant ([[plantRobotsTxt]]) and the oracle VALUES
    * ([[robotsPlantCteSql]]) parse the SAME bytes. Coverage per
    * template: 0 — an agent-specific group ahead of a `*` group
    * (host-level specificity must bind ONLY the matching group) plus a
    * comment line and an integer Crawl-delay; 1 — one group naming
    * BOTH `*` and another agent on consecutive User-agent lines, CRLF
    * line endings, a lowercase `crawl-delay` key and a fractional
    * value; 2 — a `Sitemap:` line INSIDE the byte stream (non-group
    * directive, must not split the following group), a `*` wildcard
    * pattern with a trailing comment, and a non-numeric Crawl-delay;
    * 3 — a trailing-`$` anchored pattern plus empty `Disallow:` /
    * `Allow: ` lines (allow-all no-ops, must parse to nothing).
    */
  private val RobotsBodyTemplates: Seq[String] = Seq(
    "# corpus crawler policy\nUser-agent: graftbot\nDisallow: /p/1\n" +
      "Allow: /p/10\nCrawl-delay: 2\n\nUser-agent: *\nDisallow: /\n",
    "User-agent: *\r\nUser-Agent: otherbot\r\nDisallow: /\r\n" +
      "Allow: /p/3\r\ncrawl-delay: 0.5",
    "User-agent: otherbot\nDisallow: /\n\n" +
      "Sitemap: https://example.com/sitemap.xml\nUser-agent: *\n" +
      "Disallow: /p/*7 # glob\nCrawl-delay: not-a-number",
    "User-agent: *\nDisallow: /p/2$\nDisallow:\nAllow: ")

  /** Robots corpus plant: one robots.txt body per plantUrls root host
    * (`example{k}.com`, k = doc_id%20 — the cdn.media hosts get NO
    * robots, exercising the no-rules/default-delay path), body chosen
    * by k%4 from [[RobotsBodyTemplates]]. Scales with the documents
    * table like every other plant; replayed literally in
    * [[robotsPlantCteSql]].
    */
  private def plantRobotsTxt(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{concat, when}
    val k = col("k")
    docs.select((col("doc_id") % 20).as("k")).distinct()
      .select(
        concat(lit("example"), k.cast("string"), lit(".com")).as("host"),
        when(k % 4 === 0, lit(RobotsBodyTemplates(0)))
          .when(k % 4 === 1, lit(RobotsBodyTemplates(1)))
          .when(k % 4 === 2, lit(RobotsBodyTemplates(2)))
          .otherwise(lit(RobotsBodyTemplates(3))).as("robots_txt"))
  }

  /** [[plantRobotsTxt]] as a FETCH LOG: the same bodies plus the HTTP
    * status of the robots.txt fetch, by k%5 — 1 → 404 (RFC 9309:
    * crawl as if no robots.txt exists), 2 → 500 (assume complete
    * disallow), else 200 (parse normally). Replayed literally in the
    * status-plan oracle.
    */
  private def plantRobotsFetch(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    plantRobotsTxt(docs).withColumn("status", expr(
      "CASE CAST(regexp_extract(host, 'example([0-9]+)', 1) AS INT) % 5 " +
        "WHEN 1 THEN 404 WHEN 2 THEN 500 ELSE 200 END"))
  }

  private def htmlMainOracleSql(minified: Boolean): String =
    s"""WITH ${htmlLineCtesSql(minified)}
         |SELECT doc_id,
         |       COALESCE(string_agg(
         |         CASE WHEN length(txt) >= 25
         |               AND anchors < len(string_split(txt, ' ')) * 0.34
         |              THEN txt END, chr(10) ORDER BY ord), '') AS main
         |FROM hl GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def urlRobotsOracleSql: String =
    s"""WITH $urlCanonCtesSql,
       |rr AS (
       |  SELECT regexp_replace(regexp_replace(lower(rhost), ':(80|443)$$', ''), '^www\\.', '') AS rhost,
       |         pattern, allow, length(pattern) AS spec,
       |         '^' || replace(regexp_replace(
       |                  CASE WHEN pattern LIKE '%$$' THEN substr(pattern, 1, length(pattern) - 1) ELSE pattern END,
       |                  '([.\\\\+?\\[\\]{}()|^$$])', '\\\\\\1', 'g'), '*', '.*')
       |             || CASE WHEN pattern LIKE '%$$' THEN '$$' ELSE '' END AS rx
       |  FROM (VALUES ('example2.com', '/p/1', false),
       |               ('example2.com', '/p/10', true),
       |               ('www.example9.com:443', '/', false),
       |               ('example9.com', '/p/3', true),
       |               ('cdn.media.example5.com', '/p/*7', false),
       |               ('example4.com', '/p/2$$', false)) r(rhost, pattern, allow)
       |  WHERE pattern <> ''),
       |verd AS (
       |  SELECT h.doc_id, rr.allow,
       |         row_number() OVER (PARTITION BY h.doc_id
       |                            ORDER BY rr.spec DESC, rr.allow DESC) AS rn
       |  FROM h JOIN rr ON h.host = rr.rhost AND regexp_matches(h.rpathq, rr.rx))
       |SELECT doc_id, url FROM h
       |WHERE doc_id NOT IN (SELECT doc_id FROM verd WHERE rn = 1 AND NOT allow)
       |ORDER BY doc_id""".stripMargin

  /** The [[plantCompliancePages]] replay over the canonical URL frame
    * (`h` for scheme/host, `k` for canon_url).
    */
  private def compliancePagesCteSql: String =
    s"""$urlCanonCtesSql,
       |pg AS (
       |  SELECT h.doc_id, h.url, k2.canon_url, h.scheme, h.host,
       |         '<html><head><title>p</title>' ||
       |         CASE h.doc_id % 7
       |           WHEN 3 THEN '<meta name="robots" content="noindex, nofollow">'
       |           WHEN 5 THEN '<meta content="NOFOLLOW" name="ROBOTS">'
       |           WHEN 6 THEN '<meta name=''robots'' content=''none''>'
       |           ELSE '' END ||
       |         CASE WHEN h.doc_id % 7 = 4 THEN '<link rel="canonical" href="https://hijack-sink.net/steal">'
       |              WHEN h.doc_id % 3 = 1 THEN '<link rel="canonical" href="https://example' || CAST(h.doc_id % 20 AS VARCHAR) || '.com/p/' || CAST(h.doc_id % 11 AS VARCHAR) || '">'
       |              WHEN h.doc_id % 3 = 2 THEN '<link href="/p/' || CAST(h.doc_id % 11 AS VARCHAR) || '" rel=''canonical''>'
       |              ELSE '' END ||
       |         '</head><body><p>body text</p></body></html>' AS html
       |  FROM h JOIN k k2 ON h.doc_id = k2.doc_id)""".stripMargin

  /** Declared-canonical consolidation CTEs over page CTE `src`
    * (must carry doc_id, url, canon_url, scheme, host, html):
    * extraction (both attribute orders), fixture-scope resolution
    * (absolute pass-through, root-relative against the canonical
    * scheme://host — [[graft.operators.LinkGraph.resolveHref]]'s full
    * directory-relative tier is gated by q_link_extract_rel; plant
    * targets are canonical by construction, the full rule gated by
    * q_url_canon), then one ranked winner per target in `win`.
    */
  private def canonicalConsolidationCtesSql(src: String): String = {
    import graft.operators.TextExtraction.{CanonicalHrefFirstRe, CanonicalRelFirstRe}
    s"""cx AS (
       |  SELECT doc_id, url, canon_url, scheme, host,
       |         CASE WHEN regexp_extract(html, ${sqlStr(CanonicalRelFirstRe)}, 1) <> ''
       |                THEN regexp_extract(html, ${sqlStr(CanonicalRelFirstRe)}, 1)
       |              WHEN regexp_extract(html, ${sqlStr(CanonicalHrefFirstRe)}, 1) <> ''
       |                THEN regexp_extract(html, ${sqlStr(CanonicalHrefFirstRe)}, 1)
       |              ELSE NULL END AS declared
       |  FROM $src),
       |tg0 AS (
       |  SELECT doc_id, url, canon_url, host,
       |         CASE WHEN declared IS NULL THEN canon_url
       |              WHEN regexp_matches(declared, '^[Hh][Tt][Tt][Pp][Ss]?://') THEN declared
       |              WHEN declared LIKE '/%' THEN scheme || '://' || host || declared
       |              ELSE canon_url END AS target0
       |  FROM cx),
       |tg AS (
       |  -- same-registrable-domain guard (cross-site canonical hijack →
       |  -- fall back to self); fixture hosts sit under single-label TLDs,
       |  -- so the registrable domain is the last two labels — the full
       |  -- PSL tier is gated by q_url_blocklist_psl
       |  SELECT doc_id, url,
       |         CASE WHEN regexp_extract(regexp_extract(target0, '^[a-z+.-]+://([^/?]*)', 1),
       |                      '([^.]+\\.[^.]+)$$', 1)
       |                = regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
       |              THEN target0 ELSE canon_url END AS canon_target
       |  FROM tg0),
       |win AS (
       |  SELECT canon_target, doc_id, url,
       |         row_number() OVER (PARTITION BY canon_target
       |                            ORDER BY doc_id, url) AS rn
       |  FROM tg)""".stripMargin
  }

  /** The full compliance pipeline replay ([[q_crawl_plan]]): robots
    * parse→enforce over the page frame, the noindex meta filter, the
    * canonical consolidation among SURVIVORS, then the politeness
    * schedule over the winners with the '*'-agent delays.
    */
  private def crawlPlanOracleSql: String = {
    import graft.operators.TextExtraction.{MetaRobotsContentFirstRe, MetaRobotsNameFirstRe}
    s"""WITH $compliancePagesCteSql,
       |${robotsDirectivesCtesSql("*")},
       |$robotsEnforceCtesSql,
       |surv AS (
       |  SELECT pg.* FROM pg
       |  WHERE pg.doc_id NOT IN (SELECT doc_id FROM verd WHERE rn = 1 AND NOT allow)),
       |idx AS (
       |  SELECT surv.* FROM surv
       |  WHERE NOT regexp_matches(
       |    lower(regexp_extract(html, ${sqlStr(MetaRobotsNameFirstRe)}, 1) || ' ' ||
       |          regexp_extract(html, ${sqlStr(MetaRobotsContentFirstRe)}, 1)),
       |    '(^|[\\s,])(?:noindex|none)([\\s,]|$$)')),
       |${canonicalConsolidationCtesSql("idx")},
       |del AS (
       |  SELECT h AS host, CAST(round(min(CAST(dval AS DOUBLE)) * 1000) AS BIGINT) AS delay_ms
       |  FROM rbind
       |  WHERE dkey = 'crawl-delay' AND regexp_matches(dval, '^[0-9]+(\\.[0-9]+)?$$')
       |  GROUP BY h),
       |sched AS (
       |  SELECT w.doc_id, w.url, hh.host, w.doc_id % 5 AS prio,
       |         row_number() OVER (PARTITION BY hh.host
       |                            ORDER BY w.doc_id % 5 DESC, w.url, w.doc_id) - 1 AS wave
       |  FROM win w JOIN h hh ON w.doc_id = hh.doc_id
       |  WHERE w.rn = 1)
       |SELECT s.doc_id, s.host, CAST(s.wave AS BIGINT) AS wave,
       |       CAST(s.wave * COALESCE(d.delay_ms, 1000) AS BIGINT) AS fetch_at_ms
       |FROM sched s LEFT JOIN del d ON s.host = d.host
       |ORDER BY s.doc_id""".stripMargin
  }

  /** The [[plantRobotsFetch]] status replay (`sh`, `status`) — shared
    * by the status capstone and the status SQL-face oracles.
    */
  private def robotsFetchStatusCteSql: String =
    s"""rstat AS (
       |  SELECT 'example' || CAST(k AS VARCHAR) || '.com' AS sh,
       |         CASE k % 5 WHEN 1 THEN 404 WHEN 2 THEN 500 ELSE 200 END AS status
       |  FROM (SELECT DISTINCT doc_id % 20 AS k FROM documents))""".stripMargin

  /** The [[plantRobotsTxt]] replay: same k-derivation, same host
    * formula, same template bytes.
    */
  private def robotsPlantCteSql: String =
    s"""rb AS (
       |  SELECT 'example' || CAST(k AS VARCHAR) || '.com' AS host,
       |         CASE k % 4 WHEN 0 THEN ${sqlStr(RobotsBodyTemplates(0))}
       |                    WHEN 1 THEN ${sqlStr(RobotsBodyTemplates(1))}
       |                    WHEN 2 THEN ${sqlStr(RobotsBodyTemplates(2))}
       |                    ELSE ${sqlStr(RobotsBodyTemplates(3))} END AS txt
       |  FROM (SELECT DISTINCT doc_id % 20 AS k FROM documents))""".stripMargin

  /** [[graft.operators.UrlOps.parseRobotsRules]] replayed step for
    * step: line split / CR + comment strip / key-value extraction /
    * consecutive-User-agent group ids (lag + running sum) / per-group
    * agent flags / host-level most-specific selection. Ends at CTE
    * `rbind` = the binding non-User-agent directives for `agent`.
    */
  private def robotsDirectivesCtesSql(agent: String): String =
    s"""$robotsPlantCteSql,
       |rl AS (
       |  SELECT regexp_replace(regexp_replace(lower(host), ':(80|443)$$', ''), '^www\\.', '') AS h,
       |         generate_subscripts(string_split(txt, chr(10)), 1) AS pos,
       |         unnest(string_split(txt, chr(10))) AS raw
       |  FROM rb),
       |rd AS (
       |  SELECT h, pos,
       |         lower(trim(regexp_extract(line, '^([^:]+):', 1))) AS dkey,
       |         trim(regexp_extract(line, '^[^:]+:(.*)$$', 1)) AS dval
       |  FROM (SELECT h, pos,
       |               trim(regexp_replace(regexp_replace(raw, '\\r$$', ''), '#.*$$', '')) AS line
       |        FROM rl)
       |  WHERE lower(trim(regexp_extract(line, '^([^:]+):', 1)))
       |          IN ('user-agent', 'allow', 'disallow', 'crawl-delay')),
       |rg0 AS (
       |  SELECT h, pos, dkey, dval,
       |         COALESCE(LAG(dkey = 'user-agent')
       |           OVER (PARTITION BY h ORDER BY pos), false) AS prev_ua
       |  FROM rd),
       |rg AS (
       |  SELECT h, pos, dkey, dval,
       |         SUM(CASE WHEN dkey = 'user-agent' AND NOT prev_ua
       |                  THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY h ORDER BY pos) AS gid
       |  FROM rg0),
       |rm AS (
       |  SELECT h, pos, dkey, dval, gid,
       |         MAX(CASE WHEN dkey = 'user-agent' AND lower(dval) = '$agent' THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY h, gid) AS g_agent,
       |         MAX(CASE WHEN dkey = 'user-agent' AND dval = '*' THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY h, gid) AS g_star
       |  FROM rg),
       |rs AS (
       |  SELECT rm.*, MAX(g_agent) OVER (PARTITION BY h) AS h_agent FROM rm),
       |rbind AS (
       |  SELECT h, dkey, dval FROM rs
       |  WHERE dkey <> 'user-agent'
       |    AND ((h_agent = 1 AND g_agent = 1) OR (h_agent = 0 AND g_star = 1)))""".stripMargin

  /** The parsed-rules enforcement CTEs (`rr` compiles `rbind` to REP
    * regexes — the [[urlRobotsOracleSql]] formula — and `verd` ranks
    * matches per doc with longest-pattern-wins). Expects `rbind` and
    * the canonical `h` frame in scope.
    */
  private def robotsEnforceCtesSql: String =
    robotsEnforceCtesSqlFrom("rbind", "")

  /** The enforce CTEs over an arbitrary binding-directives CTE `src`,
    * with an optional `extraRulesSql` UNION ALL fragment appended to
    * `rr` (the fetch-status oracle injects its synthesized
    * `Disallow: /` rows there).
    */
  private def robotsEnforceCtesSqlFrom(src: String,
                                       extraRulesSql: String): String =
    s"""rr AS (
       |  SELECT h AS rhost, dval AS pattern, (dkey = 'allow') AS allow,
       |         length(dval) AS spec,
       |         -- no line may START with '||': this fragment is re-interpolated
       |         -- under ANOTHER stripMargin (q_crawl_plan), which would eat one
       |         '^' || replace(regexp_replace(
       |                  CASE WHEN dval LIKE '%$$' THEN substr(dval, 1, length(dval) - 1) ELSE dval END,
       |                  '([.\\\\+?\\[\\]{}()|^$$])', '\\\\\\1', 'g'), '*', '.*') ||
       |             CASE WHEN dval LIKE '%$$' THEN '$$' ELSE '' END AS rx
       |  FROM $src WHERE dkey IN ('allow', 'disallow') AND dval <> ''$extraRulesSql),
       |verd AS (
       |  SELECT h.doc_id, rr.allow,
       |         row_number() OVER (PARTITION BY h.doc_id
       |                            ORDER BY rr.spec DESC, rr.allow DESC) AS rn
       |  FROM h JOIN rr ON h.host = rr.rhost AND regexp_matches(h.rpathq, rr.rx))""".stripMargin

  /** Sitemap replay: `sm` (the literal [[plantSitemaps]] build), `sbl`
    * (per-`<url>`-block explode), `sle` (loc/lastmod extraction with
    * the same whitespace-trimming lazy regexes), `sld` (XML
    * predefined-entity decode, `&amp;` last), `scn` (the
    * canonicalization terms this plant activates — scheme/host case,
    * www, default port, trailing slash, query pass-through; the full
    * rule is gated by q_url_canon, the linkEdgesCtesSql convention).
    */
  private def sitemapUrlsOracleSql: String =
    s"""WITH sm AS (
       |  SELECT doc_id,
       |         '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) || '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) ||
       |         '<url><loc>https://example' || CAST(doc_id % 20 AS VARCHAR) || '.com/s/' || CAST(doc_id % 11 AS VARCHAR) ||
       |         '</loc><lastmod>2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '</lastmod></url>' || chr(10) ||
       |         '<url><loc>' || chr(10) || '  HTTPS://WWW.Example' || CAST(doc_id % 20 AS VARCHAR) || '.COM:443/s/' || CAST((doc_id + 5) % 11 AS VARCHAR) ||
       |         '/' || chr(10) || '</loc></url>' || chr(10) ||
       |         '<url><loc>https://example' || CAST(doc_id % 20 AS VARCHAR) || '.com/s?a=' || CAST(doc_id % 11 AS VARCHAR) ||
       |         '&amp;b=2</loc><lastmod>2024-02-01T00:00:00Z</lastmod></url>' || chr(10) ||
       |         '<url><lastmod>2024-03-01</lastmod></url>' || chr(10) || '</urlset>' AS xml
       |  FROM documents),
       |sbl AS (
       |  SELECT doc_id,
       |         unnest(regexp_extract_all(xml, '(?is)<url\\b[^>]*>(.*?)</url>', 1)) AS b
       |  FROM sm),
       |sle AS (
       |  SELECT doc_id,
       |         regexp_extract(b, '(?is)<loc\\s*>\\s*(.*?)\\s*</loc>', 1) AS loc,
       |         regexp_extract(b, '(?is)<lastmod\\s*>\\s*(.*?)\\s*</lastmod>', 1) AS lm
       |  FROM sbl),
       |sld AS (
       |  SELECT doc_id,
       |         replace(replace(replace(replace(replace(replace(loc,
       |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |           '&apos;', ''''), '&#39;', ''''), '&amp;', '&') AS loc,
       |         lm
       |  FROM sle WHERE loc <> ''),
       |scn AS (
       |  SELECT doc_id,
       |         lower(regexp_extract(loc, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
       |         regexp_replace(regexp_replace(lower(regexp_extract(
       |           regexp_replace(loc, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
       |           '^([^/?]*)', 1)), ':443$$', ''), '^www\\.', '') ||
       |         regexp_replace(regexp_extract(
       |           regexp_replace(loc, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
       |           '^[^/?]*([^?]*)', 1), '/+$$', '') ||
       |         regexp_extract(loc, '(\\?.*)$$', 1) AS url,
       |         CASE WHEN lm = '' THEN NULL ELSE lm END AS lastmod
       |  FROM sld)
       |SELECT doc_id, url, lastmod FROM scn ORDER BY doc_id, url""".stripMargin

  /** Sitemap-index replay: the [[plantSitemapIndexPool]] pool built
    * literally (3 rows per doc via UNION ALL), index bodies filtered
    * by root tag, `<sitemap>` child locs extracted and canonicalized
    * (the terms THIS plant activates: scheme/host case, www, :443 —
    * the full rule is gated by q_url_canon), joined to the pool's
    * canonicalized staged URLs, then the `<url>` entry chain of
    * [[sitemapUrlsOracleSql]] over the joined child bodies and the
    * politeness-wave window with the constant priority and the
    * per-host budget of 3.
    */
  private def sitemapIndexOracleSql: String = {
    val canon = (c: String) =>
      s"""lower(regexp_extract($c, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
         |regexp_replace(regexp_replace(lower(regexp_extract(
         |  regexp_replace($c, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
         |  '^([^/?]*)', 1)), ':443$$', ''), '^www\\.', '') ||
         |regexp_replace(regexp_extract(
         |  regexp_replace($c, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
         |  '^[^/?]*([^?]*)', 1), '/+$$', '') ||
         |regexp_extract($c, '(\\?.*)$$', 1)""".stripMargin
    s"""WITH pool AS (
       |  SELECT doc_id,
       |         'https://sm' || CAST(doc_id AS VARCHAR) || '.example.com/sitemap.xml' AS url,
       |         '<?xml version="1.0"?>' || chr(10) || '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) ||
       |         '<sitemap><loc>' || chr(10) || '  https://sm' || CAST(doc_id AS VARCHAR) || '.example.com/sm/a.xml' || chr(10) || '</loc><lastmod>2024-05-01</lastmod></sitemap>' || chr(10) ||
       |         '<sitemap><loc>HTTPS://WWW.Sm' || CAST(doc_id AS VARCHAR) || '.Example.COM:443/sm/b.xml</loc></sitemap>' || chr(10) ||
       |         '<sitemap><loc>https://sm' || CAST(doc_id AS VARCHAR) || '.example.com/sm/missing.xml</loc></sitemap>' || chr(10) ||
       |         '<sitemap><lastmod>2024-06-01</lastmod></sitemap>' || chr(10) || '</sitemapindex>' AS xml
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id,
       |         'https://sm' || CAST(doc_id AS VARCHAR) || '.example.com/sm/a.xml' AS url,
       |         '<urlset>' || chr(10) ||
       |         '<url><loc>https://sm' || CAST(doc_id AS VARCHAR) || '.example.com/u/0</loc><lastmod>2024-01-15</lastmod></url>' || chr(10) ||
       |         '<url><loc>' || chr(10) || '  https://sm' || CAST(doc_id AS VARCHAR) || '.example.com/u/1' || chr(10) || '</loc></url>' || chr(10) || '</urlset>' AS xml
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id,
       |         'HTTPS://www.sm' || CAST(doc_id AS VARCHAR) || '.example.com/sm/b.xml' AS url,
       |         '<urlset>' || chr(10) ||
       |         '<url><loc>https://sm' || CAST(doc_id AS VARCHAR) || '.example.com/u/2?a=1&amp;b=2</loc></url>' || chr(10) ||
       |         '<url><loc>https://sm' || CAST(doc_id AS VARCHAR) || '.example.com/u/3</loc><lastmod>2024-02-01T00:00:00Z</lastmod></url>' || chr(10) || '</urlset>' AS xml
       |  FROM documents),
       |ixb AS (
       |  SELECT doc_id, unnest(regexp_extract_all(xml, '(?is)<sitemap\\b[^>]*>(.*?)</sitemap>', 1)) AS b
       |  FROM pool WHERE regexp_matches(xml, '(?is)<sitemapindex\\b')),
       |ixl AS (
       |  SELECT doc_id, regexp_extract(b, '(?is)<loc\\s*>\\s*(.*?)\\s*</loc>', 1) AS loc
       |  FROM ixb),
       |chc AS (
       |  SELECT doc_id, ${canon("loc")} AS child_url
       |  FROM ixl WHERE loc <> ''),
       |spool AS (
       |  SELECT ${canon("url")} AS staged_url, xml FROM pool),
       |cb AS (
       |  SELECT c.doc_id, s.xml FROM chc c JOIN spool s ON c.child_url = s.staged_url),
       |ubl AS (
       |  SELECT doc_id, unnest(regexp_extract_all(xml, '(?is)<url\\b[^>]*>(.*?)</url>', 1)) AS b
       |  FROM cb),
       |ule AS (
       |  SELECT doc_id, regexp_extract(b, '(?is)<loc\\s*>\\s*(.*?)\\s*</loc>', 1) AS loc
       |  FROM ubl),
       |uld AS (
       |  SELECT doc_id,
       |         replace(replace(replace(replace(replace(replace(loc,
       |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |           '&apos;', ''''), '&#39;', ''''), '&amp;', '&') AS loc
       |  FROM ule WHERE loc <> ''),
       |ent AS (
       |  SELECT doc_id, ${canon("loc")} AS url,
       |         'sm' || CAST(doc_id AS VARCHAR) || '.example.com' AS host
       |  FROM uld),
       |sched AS (
       |  SELECT doc_id, host,
       |         row_number() OVER (PARTITION BY host ORDER BY url, doc_id) - 1 AS wave
       |  FROM ent)
       |SELECT doc_id, host, CAST(wave AS BIGINT) AS wave,
       |       CAST(wave * 1000 AS BIGINT) AS fetch_at_ms
       |FROM sched WHERE wave < 3
       |ORDER BY doc_id, wave""".stripMargin
  }

  /** Redirect replay: `redir` (the literal [[plantRedirects]] build),
    * `fmap` (functional-map normalization — min dst per src), `walk`
    * (the recursive pointer chase, bounded by the SAME hop cap the
    * Spark loop uses, so a cycle's states stop growing at the cap),
    * `rterm` (rows whose cur has no outgoing edge) and the final LEFT
    * JOIN that turns never-terminated sources into (NULL, NULL).
    */
  private def urlRedirectsOracleSql: String =
    s"""WITH RECURSIVE redir AS (
       |  SELECT 'https://r.com/' || CAST(doc_id // 4 AS VARCHAR) || '/' || CAST(doc_id % 4 AS VARCHAR) AS src,
       |         CASE WHEN doc_id % 4 < 3
       |                THEN 'https://r.com/' || CAST(doc_id // 4 AS VARCHAR) || '/' || CAST(doc_id % 4 + 1 AS VARCHAR)
       |              WHEN (doc_id // 4) % 2 = 0
       |                THEN 'https://t.com/' || CAST(doc_id // 4 AS VARCHAR)
       |              ELSE 'https://r.com/' || CAST(doc_id // 4 AS VARCHAR) || '/0'
       |         END AS dst
       |  FROM documents),
       |fmap AS (SELECT src, min(dst) AS dst FROM redir GROUP BY src),
       |walk(url, cur, hops) AS (
       |  SELECT src, dst, CAST(1 AS BIGINT) FROM fmap
       |  UNION
       |  SELECT walk.url, f.dst, walk.hops + 1
       |  FROM walk JOIN fmap f ON walk.cur = f.src
       |  WHERE walk.hops < 8),
       |rterm AS (
       |  SELECT url, cur AS final_url, hops FROM walk
       |  WHERE cur NOT IN (SELECT src FROM fmap))
       |SELECT f.src AS url, t.final_url, t.hops
       |FROM fmap f LEFT JOIN rterm t ON f.src = t.url
       |ORDER BY url""".stripMargin

  /** PSL blocklist plant + replay: hosts spanning a multi-label public
    * suffix (`co.uk`), a private-section suffix (`blogspot.com`) and a
    * plain TLD; the chain computation replays
    * [[graft.operators.UrlOps.registrableChain]] — longest listed
    * suffix (the IN list is interpolated from the SAME
    * [[graft.operators.UrlOps.PslSnapshot]] the Spark side uses, so the
    * two cannot drift), registrable = suffix + 1 label, chain stops
    * there — and blocklist entries AT a public suffix must match
    * nothing.
    */
  private def urlBlocklistPslOracleSql: String = {
    val psl = graft.operators.UrlOps.PslSnapshot
      .map(sfx => s"'$sfx'").mkString(", ")
    s"""WITH pu AS (
       |  SELECT doc_id,
       |         CASE (doc_id // 3) % 4
       |           WHEN 0 THEN 'https://example' || CAST(doc_id % 20 AS VARCHAR) || '.co.uk/p/' || CAST(doc_id % 11 AS VARCHAR)
       |           WHEN 1 THEN 'https://cdn.media.example' || CAST(doc_id % 20 AS VARCHAR) || '.co.uk/p/' || CAST(doc_id % 11 AS VARCHAR)
       |           WHEN 2 THEN 'https://example' || CAST(doc_id % 20 AS VARCHAR) || '.com/p/' || CAST(doc_id % 11 AS VARCHAR)
       |           ELSE 'https://blog' || CAST(doc_id % 20 AS VARCHAR) || '.blogspot.com/p/' || CAST(doc_id % 11 AS VARCHAR)
       |         END AS url
       |  FROM documents),
       |ph AS (
       |  -- canonical host (the plant is all-https, no escapes, no www)
       |  SELECT doc_id,
       |         regexp_replace(regexp_replace(lower(regexp_extract(
       |           regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
       |           '^([^/?]*)', 1)), ':443$$', ''), '^www\\.', '') AS host
       |  FROM pu),
       |pp AS (
       |  SELECT doc_id, host,
       |         string_split(regexp_replace(host, ':[0-9]+$$', ''), '.') AS parts
       |  FROM ph),
       |pc AS (
       |  SELECT doc_id, host, parts, len(parts) AS n,
       |         COALESCE(list_max([j FOR j IN range(2, len(parts) + 1)
       |           IF array_to_string(parts[len(parts) - j + 1:], '.') IN ($psl)]), 1) AS pslen
       |  FROM pp),
       |ch AS (
       |  SELECT doc_id, host,
       |         [array_to_string(parts[i:], '.')
       |          FOR i IN range(1, n - least(pslen + 1, n) + 2)] AS chain
       |  FROM pc)
       |SELECT doc_id, host FROM ch
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM (VALUES ('co.uk'), ('example3.co.uk'),
       |                        ('example7.com'), ('blogspot.com')) b(domain)
       |  WHERE list_contains(ch.chain, b.domain))
       |ORDER BY doc_id""".stripMargin
  }
}
