package graft
package contract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, concat, count, lit, split, sum, when}

/** WARC ingest: record parsing, charset sniffing, payload-digest dedup and
  * revisit resolution, batch and streamed. */
object WarcContract {
  import Shared._

  lazy val all: Seq[Q] = Seq(
    // the same capstone fed from WARC-shaped binary records (the crawl
    // family's ingest path, mirroring the reference's byte->UTF-8 wire
    // decode): pages are wrapped as raw WARC response blobs (headers +
    // blank line + payload), parsed back by WarcIngest's expression-only
    // header extraction, keyed by the parsed WARC-Record-ID, then run
    // through the identical curation chain — the oracle is the same
    // chained replay because wrap->parse is a byte-exact identity
    // charset sniffing for binary crawl payloads: BOM dispatch + exact
    // UTF-8 validation (one hex-transcript regex) + ISO-8859-1
    // fallback, then the per-verdict decode — the round trip back to
    // the planted text IS the gate (a wrong verdict decodes garbage);
    // the detector RULE's edge cases (overlongs, surrogates, lone
    // continuations) are spec-gated in WarcIngestSpec
    // charset sniff: the expected round trip (variant label + original
    // text) — a wrong verdict decodes garbage and fails the compare
    Q("q_charset_sniff", (s, d) => {
      val recs = plantCharsetRecords(table(s, d, "documents"))
      recs.select(col("doc_id"),
        graft.sources.WarcIngest.sniffCharset(col("content")).as("charset"),
        graft.sources.WarcIngest.decodeSniffed(col("content")).as("text"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id,
         |       CASE doc_id % 9 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8-bom'
         |            WHEN 2 THEN 'utf-16le' WHEN 3 THEN 'utf-16be'
         |            WHEN 5 THEN 'windows-1252'
         |            WHEN 6 THEN 'shift_jis' WHEN 7 THEN 'gbk'
         |            WHEN 8 THEN 'euc-jp'
         |            ELSE 'iso-8859-1' END AS charset,
         |       CASE doc_id % 9
         |            WHEN 5 THEN '<meta charset="windows-1252">' || text ||
         |                        ${sqlStr(CharsetProbeSuffix)} || chr(8364) || chr(8217)
         |            WHEN 6 THEN '<meta charset=shift_jis>' || text ||
         |                        ${sqlStr(JpProbeTail)}
         |            WHEN 7 THEN '<meta charset="gbk">' || text ||
         |                        ${sqlStr(ZhProbeTail)}
         |            WHEN 8 THEN '<meta charset=''euc-jp''>' || text ||
         |                        ${sqlStr(JpProbeTail)}
         |            ELSE text || ${sqlStr(CharsetProbeSuffix)} END AS text
         |FROM documents ORDER BY doc_id""".stripMargin),
    // HTTP response filtering (the FIRST C4 keep rule): status line +
    // Content-Type pulled from the embedded header block by the same
    // anchored regexes the oracle replays; only 200 + HTML media types
    // survive, with the header-stripped payload appended
    // HTTP response filtering: payload built in SQL, then the SAME
    // anchored status/content-type/body regexes the Spark side runs
    Q("q_warc_http", (s, d) => {
      import org.apache.spark.sql.functions.expr
      val docs = table(s, d, "documents")
      val st = expr("CASE WHEN doc_id % 4 = 1 THEN '404' ELSE '200' END")
      val ct = expr("CASE WHEN doc_id % 5 = 2 THEN 'application/pdf' " +
        "WHEN doc_id % 5 = 3 THEN 'application/XHTML+xml; charset=utf-8' " +
        "ELSE 'text/HTML; charset=UTF-8' END")
      val payload = concat(lit("HTTP/1.1 "), st, lit(" OK\r\nContent-Type: "),
        ct, lit("\r\nServer: x\r\n\r\n<p>"), col("text"), lit("</p>"))
      graft.sources.WarcIngest.filterHtmlResponses(
          docs.select(col("doc_id"), payload.as("payload")), "payload")
        .select(col("doc_id"), col("status"), col("content_type"), col("html"))
        .orderBy("doc_id")
    },
      s"""WITH wp AS (
         |  SELECT doc_id,
         |         'HTTP/1.1 ' || CASE WHEN doc_id % 4 = 1 THEN '404' ELSE '200' END ||
         |         ' OK' || chr(13) || chr(10) || 'Content-Type: ' ||
         |         CASE WHEN doc_id % 5 = 2 THEN 'application/pdf'
         |              WHEN doc_id % 5 = 3 THEN 'application/XHTML+xml; charset=utf-8'
         |              ELSE 'text/HTML; charset=UTF-8' END ||
         |         chr(13) || chr(10) || 'Server: x' || chr(13) || chr(10) ||
         |         chr(13) || chr(10) || '<p>' || text || '</p>' AS payload
         |  FROM documents),
         |px AS (
         |  SELECT doc_id,
         |         regexp_extract(payload, '^HTTP/[0-9.]+\\s+([0-9]{3})', 1) AS status,
         |         lower(trim(regexp_extract(payload, '(?im)^Content-Type:\\s*([^;\\r\\n]+)', 1))) AS content_type,
         |         regexp_extract(payload, '(?s)\\r?\\n\\r?\\n(.*)$$', 1) AS html
         |  FROM wp)
         |SELECT doc_id, status, content_type, html FROM px
         |WHERE status = '200' AND content_type IN ('text/html', 'application/xhtml+xml')
         |ORDER BY doc_id""".stripMargin),
    // the WARC face: record wrap -> parse is an identity on (url, html)
    // — byte-exact UTF-8 round-trip, headers split at the first blank
    // line — so the oracle is the SAME chained curation replay
    Q("q_crawl_from_warc", (s, d) => {
      import s.implicits._
      import graft.operators.{TextExtraction, UrlOps}
      import graft.sources.WarcIngest
      import org.apache.spark.sql.functions.{md5, regexp_extract, size, split, to_timestamp}
      val docs = table(s, d, "documents")
      val pages = plantUrls(docs).join(plantHtml(docs), "doc_id")
      val raw = pages.select(WarcIngest.wrapAsRawRecord(col("url"),
        col("html"), to_timestamp(lit("2026-01-15 12:00:00")),
        concat(lit("urn:graft:"), col("doc_id").cast("string"))).as("record"))
      val parsed = WarcIngest.responsesOnly(WarcIngest.parseRawRecords(raw))
        .withColumn("doc_id", regexp_extract(col("record_id"),
          "urn:graft:([0-9]+)", 1).cast("long"))
        .withColumn("host", UrlOps.canonicalHost(col("url")))
      val block = Seq("example7.com", "media.example11.com", "example3.com")
        .toDF("domain")
      val allowed = UrlOps.filterBlockedDomains(
        parsed.select("doc_id", "url", "html", "host"), "host", "doc_id", block)
      val kept = UrlOps.dedupByCanonicalUrl(
        allowed.drop("host"), "url", "doc_id")
      kept.withColumn("main", TextExtraction.mainContent(col("html")))
        .withColumn("n_words", size(split(col("main"), " ")))
        .filter(col("n_words") >= 20)
        .select(col("doc_id"), col("canon_url"),
          col("n_words").cast("long").as("n_words"),
          md5(col("main")).as("main_hash"))
        .orderBy("doc_id")
    }, crawlCurateOracleSql),
    // the ARCHIVE-shaped ingest: the same capstone fed from
    // record-gzipped WARC members (one gzip member per record — the
    // Common Crawl layout), so the chain exercises deflate → inflate
    // kernel → header parse → curation end-to-end; the oracle is the
    // shared chained replay because gzip → gunzip (and wrap → parse)
    // are byte-exact identities, pinned by the round-trip property spec
    Q("q_crawl_from_warc_gz", (s, d) => {
      import s.implicits._
      import graft.operators.{TextExtraction, UrlOps}
      import graft.sources.WarcIngest
      import org.apache.spark.sql.functions.{md5, regexp_extract, size, split, to_timestamp}
      val docs = table(s, d, "documents")
      val pages = plantUrls(docs).join(plantHtml(docs), "doc_id")
      val raw = pages.select(WarcIngest.deflateMember(
        WarcIngest.wrapAsRawRecord(col("url"), col("html"),
          to_timestamp(lit("2026-01-15 12:00:00")),
          concat(lit("urn:graft:"), col("doc_id").cast("string")))).as("record"))
      val parsed = WarcIngest.responsesOnly(WarcIngest.parseGzRecords(raw))
        .withColumn("doc_id", regexp_extract(col("record_id"),
          "urn:graft:([0-9]+)", 1).cast("long"))
        .withColumn("host", UrlOps.canonicalHost(col("url")))
      val block = Seq("example7.com", "media.example11.com", "example3.com")
        .toDF("domain")
      val allowed = UrlOps.filterBlockedDomains(
        parsed.select("doc_id", "url", "html", "host"), "host", "doc_id", block)
      val kept = UrlOps.dedupByCanonicalUrl(
        allowed.drop("host"), "url", "doc_id")
      kept.withColumn("main", TextExtraction.mainContent(col("html")))
        .withColumn("n_words", size(split(col("main"), " ")))
        .filter(col("n_words") >= 20)
        .select(col("doc_id"), col("canon_url"),
          col("n_words").cast("long").as("n_words"),
          md5(col("main")).as("main_hash"))
        .orderBy("doc_id")
    }, crawlCurateOracleSql),
    // the WHOLE-FILE archive ingest: multi-member .warc.gz FILES (the
    // layout crawl archives actually ship as — members concatenated,
    // ~1 GiB per file) staged to disk, read back via the binaryFile
    // source, split into per-member records INSIDE a partition
    // (WarcIngest.splitGzMembers — exact RFC 1952 member walking, the
    // 256 MiB cap per member), then the same curation capstone. The
    // staging collect is fixture scaffolding bounded by the plant size
    // (the operator under test is the read side); the oracle is the
    // shared chained replay because file-split → inflate → parse is
    // byte-identity on well-formed members (member-count property
    // pinned in WarcIngestSpec).
    Q("q_crawl_from_warc_file", (s, d) => {
      import s.implicits._
      import graft.operators.{TextExtraction, UrlOps}
      import graft.sources.WarcIngest
      import org.apache.spark.sql.functions.{md5, regexp_extract, size, split, to_timestamp}
      withTempDir("graft_warc_files") { tmp =>
        val docs = table(s, d, "documents")
        val pages = plantUrls(docs).join(plantHtml(docs), "doc_id")
        stageWarcArchives(tmp, pages)
        val raw = WarcIngest.readWarcGzArchives(s, tmp)
        val parsed = WarcIngest.responsesOnly(WarcIngest.parseRawRecords(raw))
          .withColumn("doc_id", regexp_extract(col("record_id"),
            "urn:graft:([0-9]+)", 1).cast("long"))
          .withColumn("host", UrlOps.canonicalHost(col("url")))
        val block = Seq("example7.com", "media.example11.com", "example3.com")
          .toDF("domain")
        val allowed = UrlOps.filterBlockedDomains(
          parsed.select("doc_id", "url", "html", "host"), "host", "doc_id", block)
        val kept = UrlOps.dedupByCanonicalUrl(
          allowed.drop("host"), "url", "doc_id")
        kept.withColumn("main", TextExtraction.mainContent(col("html")))
          .withColumn("n_words", size(split(col("main"), " ")))
          .filter(col("n_words") >= 20)
          .select(col("doc_id"), col("canon_url"),
            col("n_words").cast("long").as("n_words"),
            md5(col("main")).as("main_hash"))
          .orderBy("doc_id")
      }
    }, crawlCurateOracleSql),
    // the archive front door as a STREAM: archives dropped in a dir →
    // binaryFile file-stream source → in-partition member split →
    // parse → responses, under the native parquet sink (stateless
    // transform ⇒ exactly-once file output), then the same curation
    // capstone over the landed store — shared chained-replay oracle
    Q("q_crawl_from_warc_stream", (s, d) => {
      import s.implicits._
      import graft.operators.{TextExtraction, UrlOps}
      import org.apache.spark.sql.functions.{md5, regexp_extract, size, split}
      withTempDir("graft_warc_stream") { tmp =>
        val docs = table(s, d, "documents")
        val pages = plantUrls(docs).join(plantHtml(docs), "doc_id")
        BenchPhases.timed("q_crawl_from_warc_stream", "stage")(
          stageWarcArchives(tmp + "/in", pages))
        BenchPhases.drainTimed("q_crawl_from_warc_stream")(
          graft.streaming.WarcStream.startArchives(s, s"$tmp/in",
            s"$tmp/out", s"$tmp/cp", maxFilesPerTrigger = Some(3)))
        val parsed = s.read.parquet(s"$tmp/out")
          .withColumn("doc_id", regexp_extract(col("record_id"),
            "urn:graft:([0-9]+)", 1).cast("long"))
          .withColumn("host", UrlOps.canonicalHost(col("url")))
        val block = Seq("example7.com", "media.example11.com",
          "example3.com").toDF("domain")
        val allowed = UrlOps.filterBlockedDomains(
          parsed.select("doc_id", "url", "html", "host"), "host", "doc_id",
          block)
        val kept = UrlOps.dedupByCanonicalUrl(
          allowed.drop("host"), "url", "doc_id")
        kept.withColumn("main", TextExtraction.mainContent(col("html")))
          .withColumn("n_words", size(split(col("main"), " ")))
          .filter(col("n_words") >= 20)
          .select(col("doc_id"), col("canon_url"),
            col("n_words").cast("long").as("n_words"),
            md5(col("main")).as("main_hash"))
          .orderBy("doc_id")
      }
    }, crawlCurateOracleSql),
    // WARC record types + payload-digest dedup (the crawl-side FIRST
    // dedup tier): a mixed archive — response pairs sharing a declared
    // digest (refetches of unchanged content), digest-less responses
    // (keyed on md5 of their own payload), revisit records (no usable
    // payload, dropped) — collapses to one survivor per digest, the
    // lexicographic-min record id; wrap→parse is the byte-exact
    // identity (spec-pinned), so the oracle replays the parsed view
    // Payload-digest dedup replay: the parsed view reconstructed
    // directly from the plant (wrap→parse is a byte-exact identity,
    // spec-pinned), revisit records dropped, digest-less responses
    // keyed on md5 of their own payload, one survivor per digest by
    // lexicographic-min record id.
    Q("q_warc_digest_dedup", (s, d) => {
      import graft.sources.WarcIngest
      val parsed = plantWarcMixedParsed(table(s, d, "documents"))
      WarcIngest.dedupByPayloadDigest(parsed.drop("doc_id"), "record_id")
        .select(org.apache.spark.sql.functions.regexp_extract(
          col("record_id"), "urn:graft:([0-9]+)", 1)
          .cast("long").as("doc_id"),
          col("url"), col("payload_digest"))
        .orderBy("doc_id")
    },
      s"""WITH $warcMixedRecCtesSql
         |SELECT doc_id, url, payload_digest FROM resp
         |QUALIFY row_number() OVER (PARTITION BY dig ORDER BY record_id, url) = 1
         |ORDER BY doc_id""".stripMargin),
    // the digest gate as a STREAM (the crawl-side first dedup tier's
    // streaming face): docs ≡0 mod 3 seed the persisted digest index,
    // the rest stream in — only responses whose effective digest is
    // NOT in the index land (against-index contract, so the result is
    // batching-order free and the oracle is one anti-join)
    // Digest-gate stream replay: seed digests = responses of docs ≡0
    // mod 3; survivors = streamed responses whose effective digest is
    // not seeded — one anti-join, batching-order free by the
    // against-index contract.
    Q("q_warc_digest_stream", (s, d) => {
      import graft.sources.WarcIngest
      val parsed = plantWarcMixedParsed(table(s, d, "documents"))
        .localCheckpoint(true) // feeds seed + stage — one evaluation
      BenchPhases.timed("q_warc_digest_stream", "build")(
        WarcIngest.writeDigestIndex(parsed.filter(col("doc_id") % 3 === 0),
          "graft_warc_digest_idx"))
      withTempDir("graft_wdigest_stream") { tmp =>
        BenchPhases.timed("q_warc_digest_stream", "stage")(
          parsed.filter(col("doc_id") % 3 =!= 0).repartition(4)
            .write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_warc_digest_stream")(
          graft.streaming.DedupStream.startDigest(s, s"$tmp/input",
            "graft_warc_digest_idx", s"$tmp/out", s"$tmp/cp",
            maxFilesPerTrigger = Some(2)))
        s.read.parquet(s"$tmp/out").select("doc_id", "url")
          .orderBy("doc_id")
      }
    },
      s"""WITH $warcMixedRecCtesSql,
         |sd AS (SELECT DISTINCT dig FROM resp WHERE doc_id % 3 = 0)
         |SELECT doc_id, url FROM resp
         |WHERE doc_id % 3 <> 0 AND dig NOT IN (SELECT dig FROM sd)
         |ORDER BY doc_id""".stripMargin),
    // revisit-record RESOLUTION (the read side of the revisit
    // convention): digest-carrying revisits join back to the stored
    // original response by payload digest — response side collapsed to
    // one representative per digest first; the ghost revisit (digest
    // matching no response) must come out with NULL originals, never
    // silently dropped
    qWarcRevisitResolve,
    Q("q_sql_warc_revisits", (s, d) =>
      sqlFace(s,
        SqlTableFunctions.WarcRecordsRelation -> plantWarcHistoryParsed(table(s, d, "documents")))(
        "SELECT url, record_id, payload_digest, original_record_id, " +
        "original_url FROM graft_warc_revisits() ORDER BY record_id, url"),
      qWarcRevisitResolve.oracle),
    // OBSERVED change rates -> recrawl pressure: each URL's fetch
    // history (responses = content versions, revisits = explicit
    // unchanged observations) collapses to n_fetches / n_versions /
    // change_rate, and the rate drives the politeness schedule
    // (change-hungry URLs recrawl in earlier waves) — the adaptive
    // recrawl chain a crawler actually runs, end to end in one row
    Q("q_recrawl_observed", (s, d) => {
      import graft.sources.WarcIngest
      import graft.operators.UrlOps
      import s.implicits._
      val parsed = plantWarcHistoryParsed(table(s, d, "documents"))
      val rates = WarcIngest.observedChangeRates(parsed)
        .localCheckpoint(true) // feeds frontier + the re-join below
      val frontier = rates.select(col("canon_url"),
        col("canon_url").as("k"),
        coalesce(col("change_rate"), lit(1.0)).as("priority"))
      val noDelays = Seq.empty[(String, Double)].toDF("host", "delay_s")
      val sched = UrlOps.frontierSchedule(frontier, "canon_url", "k",
        "priority", noDelays)
      sched.join(rates, sched("k") === rates("canon_url"))
        .select(col("canon_url"), col("n_fetches"), col("n_versions"),
          col("change_rate"), col("host"), col("wave"), col("fetch_at_ms"))
        .orderBy("canon_url")
    },
      s"""WITH $warcHistoryCtesSql,
         |obs AS (SELECT url, dig FROM hresp UNION ALL SELECT url, dig FROM hrevs),
         |rates AS (
         |  SELECT url AS canon_url, CAST(COUNT(*) AS BIGINT) AS n_fetches,
         |         CAST(COUNT(DISTINCT dig) AS BIGINT) AS n_versions
         |  FROM obs GROUP BY url),
         |pr AS (
         |  SELECT canon_url, n_fetches, n_versions,
         |         CASE WHEN n_fetches > 1 THEN
         |           round(CAST(n_versions - 1 AS DOUBLE) / (n_fetches - 1), 6)
         |         END AS change_rate,
         |         COALESCE(CASE WHEN n_fetches > 1 THEN
         |           round(CAST(n_versions - 1 AS DOUBLE) / (n_fetches - 1), 6)
         |         END, 1.0) AS priority,
         |         regexp_extract(canon_url, '^https://([^/]*)', 1) AS host
         |  FROM rates),
         |sched AS (
         |  SELECT canon_url, n_fetches, n_versions, change_rate, host,
         |         CAST(row_number() OVER (PARTITION BY host
         |           ORDER BY priority DESC, canon_url, canon_url) - 1 AS BIGINT)
         |           AS wave
         |  FROM pr)
         |SELECT canon_url, n_fetches, n_versions, change_rate, host, wave,
         |       CAST(wave * 1000 AS BIGINT) AS fetch_at_ms
         |FROM sched ORDER BY canon_url""".stripMargin),
    // the digest gate with FOLD-BACK on (appendAccepted = true): each
    // accepted batch's digests join the index, so a later batch's
    // same-digest duplicate is gated — exactly one survivor per digest
    // ACROSS batches. Determinism by construction: two sequential
    // AvailableNow drains on one checkpoint (the daily-drop shape),
    // one batch each — evens land first, odds arrive later; the
    // within-batch co-arrival window stays open (documented), so the
    // oracle is seed-anti-join for stage A, then (seed ∪ A) for B
    // Fold-back digest-gate replay: stage A (streamed evens) gates
    // against the seed digests only; stage B (streamed odds, arriving
    // after A's fold) gates against seed ∪ A's accepted digests — one
    // survivor per digest across the two batches, while same-digest
    // co-arrivals WITHIN a batch both pass (the documented window).
    Q("q_warc_digest_stream_fold", (s, d) => {
      import graft.sources.WarcIngest
      val parsed = plantWarcMixedParsed(table(s, d, "documents"))
        .localCheckpoint(true) // feeds seed + both stages — one evaluation
      BenchPhases.timed("q_warc_digest_stream_fold", "build")(
        WarcIngest.writeDigestIndex(parsed.filter(col("doc_id") % 3 === 0),
          "graft_warc_digest_fold_idx"))
      withTempDir("graft_wdigest_fold") { tmp =>
        BenchPhases.timed("q_warc_digest_stream_fold", "stage")(
          parsed.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 2 === 0)
            .repartition(2).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_warc_digest_stream_fold")(
          graft.streaming.DedupStream.startDigest(s, s"$tmp/input",
            "graft_warc_digest_fold_idx", s"$tmp/out", s"$tmp/cp",
            appendAccepted = true))
        BenchPhases.timed("q_warc_digest_stream_fold", "stage")(
          parsed.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 2 === 1)
            .repartition(2).write.mode("append").parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_warc_digest_stream_fold")(
          graft.streaming.DedupStream.startDigest(s, s"$tmp/input",
            "graft_warc_digest_fold_idx", s"$tmp/out", s"$tmp/cp",
            appendAccepted = true))
        s.read.parquet(s"$tmp/out").select("doc_id", "url")
          .orderBy("doc_id")
      }
    },
      s"""WITH $warcMixedRecCtesSql,
         |sd AS (SELECT DISTINCT dig FROM resp WHERE doc_id % 3 = 0),
         |a AS (SELECT doc_id, url, dig FROM resp
         |      WHERE doc_id % 3 <> 0 AND doc_id % 2 = 0
         |        AND dig NOT IN (SELECT dig FROM sd)),
         |b AS (SELECT doc_id, url FROM resp
         |      WHERE doc_id % 3 <> 0 AND doc_id % 2 = 1
         |        AND dig NOT IN (SELECT dig FROM sd)
         |        AND dig NOT IN (SELECT dig FROM a))
         |SELECT doc_id, url FROM a
         |UNION ALL SELECT doc_id, url FROM b
         |ORDER BY doc_id""".stripMargin),
    // WARC archive observability: per-record-type counts + how many of
    // each carry a declared payload digest — the first number a crawl
    // operator asks of a new archive drop (one combiner-collapsed agg)
    // archive triage counts straight off the plant arithmetic (wrap →
    // parse is identity; the digest header rides any record type)
    Q("q_warc_types", (s, d) => {
      import graft.sources.WarcIngest
      import org.apache.spark.sql.functions.{count, expr, md5, sum, to_timestamp}
      val docs = table(s, d, "documents")
      val pages = plantUrls(docs).join(plantHtml(docs), "doc_id")
      val raw = pages.select(WarcIngest.wrapAsRawRecordTyped(
        col("url"), col("html"), to_timestamp(lit("2026-01-15 12:00:00")),
        concat(lit("urn:graft:"), col("doc_id").cast("string")),
        when(col("doc_id") % 4 === 3, lit("revisit"))
          .otherwise(when(col("doc_id") % 9 === 7, lit("request"))
            .otherwise(lit("response"))),
        when(col("doc_id") % 4 <= 1,
          concat(lit("md5:"), md5(expr("cast(doc_id div 2 as string)"))))
          .otherwise(lit(""))).as("record"))
      WarcIngest.parseRawRecords(raw)
        .groupBy(col("warc_type"))
        .agg(count(lit(1)).as("n_records"),
          sum((col("payload_digest") =!= "").cast("long")).as("n_digested"))
        .orderBy("warc_type")
    },
      """SELECT CASE WHEN doc_id % 4 = 3 THEN 'revisit'
        |            WHEN doc_id % 9 = 7 THEN 'request'
        |            ELSE 'response' END AS warc_type,
        |       COUNT(*) AS n_records,
        |       CAST(SUM(CASE WHEN doc_id % 4 <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_digested
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  private lazy val qWarcRevisitResolve: Q = Q("q_warc_revisit_resolve", (s, d) => {
    import graft.sources.WarcIngest
    val parsed = plantWarcHistoryParsed(table(s, d, "documents"))
    WarcIngest.resolveRevisits(parsed)
      .select(col("url"), col("record_id"), col("payload_digest"),
        col("original_record_id"), col("original_url"))
      .orderBy("record_id", "url")
    },
    s"""WITH $warcHistoryCtesSql,
       |reps AS (
       |  SELECT dig, record_id AS original_record_id, url AS original_url
       |  FROM hresp
       |  QUALIFY row_number() OVER (PARTITION BY dig ORDER BY record_id, url) = 1)
       |SELECT r.url, r.record_id, r.dig AS payload_digest,
       |       reps.original_record_id, reps.original_url
       |FROM hrevs r LEFT JOIN reps ON r.dig = reps.dig
       |ORDER BY r.record_id, r.url""".stripMargin)

  /** Stage a (doc_id, url, html) page frame as eight multi-member
    * `.warc.gz` archive files under `dir` — fixture scaffolding for
    * the whole-file ingest rows (the operator under test is the READ
    * side); the collect is bounded by the plant size, members ordered
    * by doc_id within each file so the staged bytes are
    * run-deterministic.
    */
  private def stageWarcArchives(dir: String, pages: DataFrame): Unit = {
    import graft.sources.WarcIngest
    import org.apache.spark.sql.functions.to_timestamp
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val members = pages.select((col("doc_id") % 8).as("fid"), col("doc_id"),
      WarcIngest.deflateMember(WarcIngest.wrapAsRawRecord(col("url"),
        col("html"), to_timestamp(lit("2026-01-15 12:00:00")),
        concat(lit("urn:graft:"), col("doc_id").cast("string"))))
        .as("member"))
      .collect()
    members.groupBy(_.getLong(0)).foreach { case (fid, rows) =>
      val bytes = rows.sortBy(_.getLong(1))
        .map(_.getAs[Array[Byte]]("member"))
        .foldLeft(Array.empty[Byte])(_ ++ _)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"archive-$fid%02d.warc.gz"), bytes)
    }
  }

  /** Mixed-archive WARC plant, PARSED: plantUrls × plantHtml pages
    * wrapped as typed records and parsed back (wrap→parse is the
    * byte-exact identity, spec-pinned — the oracle replays the parsed
    * view directly). Mix: docs ≡3 mod 4 are `revisit` records; docs
    * ≡0,1 mod 4 carry a DECLARED digest shared by the (4k, 4k+1) pair
    * (a refetch of unchanged content); docs ≡6 mod 8 serve ONE shared
    * digest-less payload (all are digest-less responses — 6 mod 8 ⇒
    * 2 mod 4 — so the md5(html) tier has a positive collapse case;
    * plantHtml embeds doc_id, which would otherwise make every payload
    * unique). `doc_id` re-derived from the record id for splits and
    * output keys.
    */
  private def plantWarcMixedParsed(docs: DataFrame): DataFrame = {
    import graft.sources.WarcIngest
    import org.apache.spark.sql.functions.{expr, md5, regexp_extract, to_timestamp}
    val pages = plantUrls(docs).join(plantHtml(docs), "doc_id")
      .withColumn("html", when(col("doc_id") % 8 === 6,
        lit("<p>shared payload</p>")).otherwise(col("html")))
    val raw = pages.select(WarcIngest.wrapAsRawRecordTyped(
      col("url"), col("html"), to_timestamp(lit("2026-01-15 12:00:00")),
      concat(lit("urn:graft:"), col("doc_id").cast("string")),
      when(col("doc_id") % 4 === 3, lit("revisit"))
        .otherwise(lit("response")),
      when(col("doc_id") % 4 <= 1,
        concat(lit("md5:"), md5(expr("cast(doc_id div 2 as string)"))))
        .otherwise(lit(""))).as("record"))
    WarcIngest.parseRawRecords(raw)
      .withColumn("doc_id", regexp_extract(col("record_id"),
        "urn:graft:([0-9]+)", 1).cast("long"))
  }

  /** Three-fetch history plant for the revisit/recrawl rows: every
    * doc's URL (`https://h<doc%20>.com/d/<doc>`, already canonical) is
    * fetched at T1<T2<T3; fetch 1 is always a response (declared
    * digest `v1`); fetch 2 is a response with a NEW digest `v2` for
    * doc≡0 mod 3, else a `revisit` carrying v1; fetch 3 is a response
    * with digest `v3` for even docs, else a revisit of v1; docs ≡6
    * mod 7 add a GHOST revisit (digest matching no response — the
    * unresolvable case). Digests are all DECLARED deterministic
    * strings (`md5:` + md5(`<doc>:<tag>`)), so the oracle replays the
    * whole history; wrap→parse is the spec-pinned identity.
    */
  private def plantWarcHistoryParsed(docs: DataFrame): DataFrame = {
    import graft.sources.WarcIngest
    import org.apache.spark.sql.functions.{concat, md5, to_timestamp}
    val u = docs.select(col("doc_id"),
      concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
        lit(".com/d/"), col("doc_id").cast("string")).as("url"))
    def dig(tag: String) = concat(lit("md5:"),
      md5(concat(col("doc_id").cast("string"), lit(s":$tag"))))
    def rid(f: String) =
      concat(lit(s"urn:$f:"), col("doc_id").cast("string"))
    def ts(day: Int) = to_timestamp(lit(f"2026-01-$day%02d 00:00:00"))
    val f1 = u.select(WarcIngest.wrapAsRawRecordTyped(col("url"),
      lit("<p>v1</p>"), ts(10), rid("f1"), lit("response"), dig("v1"))
      .as("record"))
    val f2r = u.filter(col("doc_id") % 3 === 0)
      .select(WarcIngest.wrapAsRawRecordTyped(col("url"), lit("<p>v2</p>"),
        ts(11), rid("f2"), lit("response"), dig("v2")).as("record"))
    val f2v = u.filter(col("doc_id") % 3 =!= 0)
      .select(WarcIngest.wrapAsRawRecordTyped(col("url"), lit(""),
        ts(11), rid("f2"), lit("revisit"), dig("v1")).as("record"))
    val f3r = u.filter(col("doc_id") % 2 === 0)
      .select(WarcIngest.wrapAsRawRecordTyped(col("url"), lit("<p>v3</p>"),
        ts(12), rid("f3"), lit("response"), dig("v3")).as("record"))
    val f3v = u.filter(col("doc_id") % 2 =!= 0)
      .select(WarcIngest.wrapAsRawRecordTyped(col("url"), lit(""),
        ts(12), rid("f3"), lit("revisit"), dig("v1")).as("record"))
    val f4g = u.filter(col("doc_id") % 7 === 6)
      .select(WarcIngest.wrapAsRawRecordTyped(col("url"), lit(""),
        ts(13), rid("f4"), lit("revisit"), dig("ghost")).as("record"))
    WarcIngest.parseRawRecords(
      f1.union(f2r).union(f2v).union(f3r).union(f3v).union(f4g))
  }

  /** Non-ASCII probe appended before encoding the charset-sniff
    * fixture: é and ñ exercise the multi-byte path in every variant
    * and make the latin-1 bytes invalid UTF-8 (0xE9/0xF1 followed by
    * a space fail the continuation rule).
    */
  private val CharsetProbeSuffix: String = " café ñ end"

  /** CJK tails for the declared-charset fixture variants, written in
    * \u escapes so the plant and the oracle interpolation share exact
    * codepoints. Both are inside the base JIS X 0208 / GB2312
    * repertoires, so every allowlisted JVM charset encodes them — and
    * their encoded bytes are INVALID UTF-8 (lead/continuation
    * mismatches), so the validity tier can never shadow the
    * declaration tier on these rows (spec-pinned).
    */
  private val JpProbeTail: String = // 日本語のテスト終
    " 日本語のテスト終"

  private val ZhProbeTail: String = // 中文测试结束
    " 中文测试结束"

  /** Charset-sniff fixture: the probe text encoded nine ways by
    * doc_id%9 — plain UTF-8, BOM'd UTF-8, UTF-16LE/BE behind their
    * BOMs, bare ISO-8859-1 (invalid as UTF-8, NO declaration — the
    * fallback tier), a DECLARED `windows-1252` page whose tail
    * carries the cp1252 high bytes 0x80/0x92 (€ and ’ — the translate
    * tier must produce them, a latin-1 decode would leave C1
    * controls), and the DECLARED-CJK tier: `shift_jis` (windows-31j
    * bytes), `gbk` and `euc-jp` pages whose tails carry real CJK
    * codepoints — these variants drop the latin-1-only probe suffix
    * (é/ñ are not in the JIS/GB repertoires) and carry
    * [[JpProbeTail]]/[[ZhProbeTail]] instead. The oracle replays the
    * expected round trip: variant-determined label + the decoded
    * text (DuckDB never needs the legacy charsets — encode∘decode is
    * identity on representable text, so the expected text is the
    * planted literal).
    */
  private def plantCharsetRecords(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{concat, encode, expr, when}
    import graft.sources.WarcIngest.encodeDeclared
    val txt = concat(col("text"), lit(CharsetProbeSuffix))
    val v = expr("doc_id % 9")
    docs.select(col("doc_id"),
      when(v === 0, encode(txt, "UTF-8"))
        .when(v === 1, concat(
          lit(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)),
          encode(txt, "UTF-8")))
        .when(v === 2, concat(lit(Array[Byte](0xFF.toByte, 0xFE.toByte)),
          encode(txt, "UTF-16LE")))
        .when(v === 3, concat(lit(Array[Byte](0xFE.toByte, 0xFF.toByte)),
          encode(txt, "UTF-16BE")))
        .when(v === 4, encode(txt, "ISO-8859-1"))
        .when(v === 5, concat(
          encode(concat(lit("<meta charset=\"windows-1252\">"), txt),
            "ISO-8859-1"),
          lit(Array[Byte](0x80.toByte, 0x92.toByte))))
        .when(v === 6, encodeDeclared(
          concat(lit("<meta charset=shift_jis>"), col("text"),
            lit(JpProbeTail)), "windows-31j"))
        .when(v === 7, encodeDeclared(
          concat(lit("<meta charset=\"gbk\">"), col("text"),
            lit(ZhProbeTail)), "GBK"))
        .otherwise(encodeDeclared(
          concat(lit("<meta charset='euc-jp'>"), col("text"),
            lit(JpProbeTail)), "EUC-JP")).as("content"))
  }

  /** The [[plantWarcMixedParsed]] replay: `rec` (the parsed view —
    * wrap→parse is identity) and `resp` (responses with the effective
    * digest: declared when present, else md5 of the payload).
    */
  private def warcMixedRecCtesSql: String =
    s"""$urlCanonCtesSql,
       |$htmlPagesCteSql,
       |rec AS (
       |  SELECT u.doc_id, u.url,
       |         CASE WHEN u.doc_id % 8 = 6 THEN '<p>shared payload</p>'
       |              ELSE hp.html END AS html,
       |         CASE WHEN u.doc_id % 4 = 3 THEN 'revisit' ELSE 'response' END AS warc_type,
       |         CASE WHEN u.doc_id % 4 <= 1 THEN 'md5:' || md5(CAST(u.doc_id // 2 AS VARCHAR)) ELSE '' END AS payload_digest
       |  FROM u JOIN hp ON u.doc_id = hp.doc_id),
       |resp AS (
       |  SELECT doc_id, url, payload_digest,
       |         'urn:graft:' || CAST(doc_id AS VARCHAR) AS record_id,
       |         CASE WHEN payload_digest <> '' THEN payload_digest
       |              ELSE 'md5:' || md5(html) END AS dig
       |  FROM rec WHERE warc_type = 'response')""".stripMargin

  /** The [[plantWarcHistoryParsed]] replay: `hresp` (responses with
    * their declared digests) and `hrevs` (digest-carrying revisits) —
    * wrap→parse is the spec-pinned identity, so the CTEs rebuild the
    * parsed view directly from the plant's arithmetic.
    */
  private def warcHistoryCtesSql: String =
    s"""hu AS (SELECT doc_id,
       |  'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.com/d/' ||
       |  CAST(doc_id AS VARCHAR) AS url FROM documents),
       |hresp AS (
       |  SELECT doc_id, url, 'urn:f1:' || CAST(doc_id AS VARCHAR) AS record_id,
       |         'md5:' || md5(CAST(doc_id AS VARCHAR) || ':v1') AS dig FROM hu
       |  UNION ALL
       |  SELECT doc_id, url, 'urn:f2:' || CAST(doc_id AS VARCHAR),
       |         'md5:' || md5(CAST(doc_id AS VARCHAR) || ':v2') FROM hu
       |  WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id, url, 'urn:f3:' || CAST(doc_id AS VARCHAR),
       |         'md5:' || md5(CAST(doc_id AS VARCHAR) || ':v3') FROM hu
       |  WHERE doc_id % 2 = 0),
       |hrevs AS (
       |  SELECT doc_id, url, 'urn:f2:' || CAST(doc_id AS VARCHAR) AS record_id,
       |         'md5:' || md5(CAST(doc_id AS VARCHAR) || ':v1') AS dig FROM hu
       |  WHERE doc_id % 3 <> 0
       |  UNION ALL
       |  SELECT doc_id, url, 'urn:f3:' || CAST(doc_id AS VARCHAR),
       |         'md5:' || md5(CAST(doc_id AS VARCHAR) || ':v1') FROM hu
       |  WHERE doc_id % 2 <> 0
       |  UNION ALL
       |  SELECT doc_id, url, 'urn:f4:' || CAST(doc_id AS VARCHAR),
       |         'md5:' || md5(CAST(doc_id AS VARCHAR) || ':ghost') FROM hu
       |  WHERE doc_id % 7 = 6)""".stripMargin
}
