package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WARC-shaped binary ingest for the crawl-curation family — the
  * analogue of the reference's wire-format ingest
  * (`shared_code/json_converter.py:37-56` decodes Event Hub body bytes
  * to UTF-8 before any parse): the URL/HTML operators
  * ([[graft.operators.UrlOps]], [[graft.operators.TextExtraction]])
  * start from string columns, and this module is the stage that gets a
  * crawl there from parquet-staged binary WARC response records.
  *
  * Two entry points, matching how WARC material is actually staged:
  *
  *  - [[decodeRecords]] — a pre-parsed records frame (`url` string,
  *    `content` binary, `warc_date` timestamp): just the byte→string
  *    decode.
  *  - [[parseRawRecords]] — one binary blob per record holding the
  *    WARC header block + payload (`WARC/1.0\r\n` headers, blank line,
  *    body — ISO 28500 §4): header-field extraction and body split as
  *    pure column expressions (anchored multiline regexes — Java and
  *    RE2 agree on `(?m)`/`(?s)`), so the whole parse is map-only and
  *    oracle-replayable.
  *
  * Charset handling: [[decodeRecords]]/[[parseRawRecords]] decode as
  * UTF-8 (the reference's rule — `shared_code/json_converter.py:44`);
  * [[sniffCharset]]/[[decodeSniffed]] add the detection tier a real
  * crawl needs — BOM dispatch, exact UTF-8 validation as ONE regex
  * over the hex transcript (Java and RE2 agree, so the oracle replays
  * the detector bit for bit), the in-document charset declaration
  * ([[declaredCharset]], with the WHATWG cp1252 mapping), ISO-8859-1
  * as the no-declaration fallback. HTTP response headers embedded in `response`-type
  * payloads are the caller's concern — pass `stripHttpHeaders = true`
  * to drop everything up to the payload's own first blank line.
  */
object WarcIngest {

  /** Decode a pre-parsed WARC records frame into the string-typed page
    * frame the curation capstone consumes: (`url`, `html`, `fetch_ts`).
    * Map-only, codegen'd.
    */
  def decodeRecords(records: DataFrame, urlCol: String = "url",
                    contentCol: String = "content",
                    dateCol: String = "warc_date"): DataFrame =
    records.select(col(urlCol).as("url"),
      decode(col(contentCol), "UTF-8").as("html"),
      col(dateCol).as("fetch_ts"))

  /** Parse raw WARC record blobs (header block + blank line + payload)
    * into (`url`, `html`, `fetch_ts`): `WARC-Target-URI` and
    * `WARC-Date` are pulled from the header block by anchored
    * multiline regex, the payload is everything after the FIRST blank
    * line (the ISO 28500 header/body separator — `\r\n\r\n`, with bare
    * `\n\n` tolerated). Records missing a target URI (warcinfo,
    * request records) come out with `url = ''` — filter them with
    * [[responsesOnly]]. `record_id` carries the `WARC-Record-ID`
    * (angle brackets stripped), the record's stable key.
    */
  def parseRawRecords(raw: DataFrame, rawCol: String = "record",
                      stripHttpHeaders: Boolean = false): DataFrame = {
    val s = decode(col(rawCol), "UTF-8")
    val body = regexp_extract(s, "(?s)\\r?\\n\\r?\\n(.*)$", 1)
    val html = if (stripHttpHeaders)
      regexp_extract(body, "(?s)\\r?\\n\\r?\\n(.*)$", 1) else body
    raw.select(
      regexp_extract(s, "(?m)^WARC-Target-URI:\\s*(\\S+)\\s*$", 1).as("url"),
      regexp_extract(s, "(?m)^WARC-Record-ID:\\s*<([^>]*)>\\s*$", 1)
        .as("record_id"),
      // r13: the record TYPE (response/request/revisit/warcinfo/… —
      // lowercased; '' when absent) and the payload digest, the two
      // headers crawl-side dedup keys on; both optional per ISO 28500
      lower(regexp_extract(s, "(?m)^WARC-Type:\\s*(\\S+)\\s*$", 1))
        .as("warc_type"),
      regexp_extract(s, "(?m)^WARC-Payload-Digest:\\s*(\\S+)\\s*$", 1)
        .as("payload_digest"),
      html.as("html"),
      // try_: a record with no (or a junk) WARC-Date must flow to a
      // NULL fetch_ts and the drop path, not throw under ANSI mode —
      // warcinfo/request records routinely lack response headers
      try_to_timestamp(
        regexp_extract(s, "(?m)^WARC-Date:\\s*(\\S+)\\s*$", 1),
        lit("yyyy-MM-dd'T'HH:mm:ss'Z'")).as("fetch_ts"))
  }

  /** Crawl-side exact dedup by PAYLOAD DIGEST — the WARC-native first
    * dedup tier (Common Crawl marks refetches of unchanged content as
    * `revisit` records carrying the original's digest; and two
    * different URLs serving identical bytes collide here long before
    * any text tier runs): keep `response` records only (revisit/
    * request/warcinfo records carry no usable payload), one survivor
    * per digest — the MINIMUM (`keyCol`, url) struct, the
    * deterministic-winner rule every dedup tier uses. Records with no
    * declared digest are keyed on `md5(html)` (digest the payload
    * yourself — the crawler-side convention), so an archive mixing
    * digested and bare records still collapses exactly. One hash
    * aggregation; shuffle ∝ distinct digests.
    */
  def dedupByPayloadDigest(parsed: DataFrame, keyCol: String): DataFrame = {
    val others = parsed.columns.filterNot(_ == keyCol).map(col).toSeq
    parsed.filter(col("warc_type") === "response")
      .withColumn("_dig", effectiveDigest)
      .groupBy(col("_dig"))
      .agg(min(struct(col(keyCol) +: others: _*)).as("_kept"))
      .select(parsed.columns.map(c => col(s"_kept.$c")).toSeq: _*)
  }

  /** Keep only rows that parsed to a usable page: a target URI and a
    * non-empty payload.
    */
  def responsesOnly(parsed: DataFrame): DataFrame =
    parsed.filter(col("url") =!= "" && col("html") =!= "")

  /** Resolve `revisit` records to their stored ORIGINALS by payload
    * digest — the read-side half of the revisit convention
    * ([[dedupByPayloadDigest]] is the write side): per ISO 28500 /
    * Common Crawl practice, a revisit record carries the original
    * response's digest precisely so a reader can join the refetch back
    * to the stored content. Returns one row per digest-carrying
    * revisit: (`url`, `record_id`, `fetch_ts`, `payload_digest`,
    * `original_record_id`, `original_url`) — the original columns NULL
    * when no response in `parsed` shares the digest (unresolvable —
    * honest, never a silent drop). Revisits with no declared digest
    * are dropped (nothing to resolve by). Together with the responses
    * this reconstructs each URL's full fetch history, the input
    * [[observedChangeRates]] turns into recrawl pressure.
    *
    * Scale shape: the response side collapses to ONE representative
    * per digest first (minimum (record_id, url) struct — the
    * deterministic-winner rule every dedup tier uses), so the join is
    * digest-keyed with no fan-out; shuffle ∝ distinct digests +
    * revisits.
    */
  def resolveRevisits(parsed: DataFrame): DataFrame = {
    val revs = parsed
      .filter(col("warc_type") === "revisit" && col("payload_digest") =!= "")
      .select(col("url"), col("record_id"), col("fetch_ts"),
        col("payload_digest"))
    val reps = parsed.filter(col("warc_type") === "response")
      .withColumn("_dig", effectiveDigest)
      .groupBy(col("_dig"))
      .agg(min(struct(col("record_id"), col("url"))).as("_rep"))
      .select(col("_dig").as("payload_digest"),
        col("_rep.record_id").as("original_record_id"),
        col("_rep.url").as("original_url"))
    revs.join(reps, Seq("payload_digest"), "left")
      .select(col("url"), col("record_id"), col("fetch_ts"),
        col("payload_digest"), col("original_record_id"),
        col("original_url"))
  }

  /** Per-URL OBSERVED content change rates from an archive's fetch
    * history — the evidence an adaptive recrawl scheduler needs (how
    * often a URL's content ACTUALLY changed across refetches, the
    * Cho–García-Molina frequency input): every response contributes
    * (canonical url, its effective digest); every digest-carrying
    * revisit contributes (canonical url, the original's digest) — an
    * explicit unchanged-at-refetch observation. One row per canonical
    * URL: `n_fetches`, `n_versions` (distinct digests seen),
    * `change_rate` = (n_versions − 1) / (n_fetches − 1) rounded 6 dp —
    * the fraction of refetches that found NEW content — NULL for
    * single-fetch URLs (no refetch evidence; feed
    * `coalesce(change_rate, 1.0)` to a schedule so unknowns recrawl
    * soon). One combiner-collapsed aggregation; shuffle ∝ distinct
    * (url, digest) pairs.
    */
  def observedChangeRates(parsed: DataFrame): DataFrame = {
    import graft.operators.UrlOps
    val resp = parsed.filter(col("warc_type") === "response")
      .select(UrlOps.canonicalizeUrl(col("url")).as("canon_url"),
        effectiveDigest.as("_dig"))
    val revs = parsed
      .filter(col("warc_type") === "revisit" && col("payload_digest") =!= "")
      .select(UrlOps.canonicalizeUrl(col("url")).as("canon_url"),
        col("payload_digest").as("_dig"))
    resp.unionByName(revs)
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_fetches"),
        countDistinct(col("_dig")).as("n_versions"))
      .withColumn("change_rate",
        when(col("n_fetches") > 1,
          round((col("n_versions") - 1).cast("double") /
            (col("n_fetches") - 1), 6)))
  }

  /** HTTP status code from a `response` payload that begins with the
    * embedded HTTP header block (`HTTP/1.1 200 OK\r\n…\r\n\r\nbody`);
    * '' when the payload carries no status line. Pure codegen.
    */
  def httpStatus(payload: Column): Column =
    regexp_extract(payload, "^HTTP/[0-9.]+\\s+([0-9]{3})", 1)

  /** The media type from the embedded `Content-Type` header —
    * lowercased, parameters (`; charset=…`) stripped; '' when absent.
    * Anchored multiline, case-insensitive key (RFC 9110 field names
    * are case-insensitive).
    */
  def httpContentType(payload: Column): Column =
    lower(trim(regexp_extract(payload,
      "(?im)^Content-Type:\\s*([^;\\r\\n]+)", 1)))

  /** The C4/CCNet keep rule: status 200 and an HTML media type
    * (text/html or application/xhtml+xml) — everything else (redirect
    * bodies, PDFs, images mislabeled as responses) leaves the corpus
    * HERE, before any byte is decoded or tokenized. Returns the kept
    * rows with `status`, `content_type` and the header-stripped `html`
    * payload columns appended. Map-only.
    */
  def filterHtmlResponses(df: DataFrame, payloadCol: String): DataFrame =
    df.withColumn("status", httpStatus(col(payloadCol)))
      .withColumn("content_type", httpContentType(col(payloadCol)))
      .filter(col("status") === "200" &&
        col("content_type").isin("text/html", "application/xhtml+xml"))
      .withColumn("html",
        regexp_extract(col(payloadCol), "(?s)\\r?\\n\\r?\\n(.*)$", 1))

  /** The effective dedup digest of a parsed record: the declared
    * `WARC-Payload-Digest` when present, else `md5:` + md5 of the
    * payload bytes (digest it yourself — the crawler-side convention),
    * so archives mixing digested and bare records collapse exactly.
    */
  private def effectiveDigest: Column =
    when(col("payload_digest") =!= "", col("payload_digest"))
      .otherwise(concat(lit("md5:"), md5(encode(col("html"), "UTF-8"))))

  /** Persist the distinct payload digests of a parsed archive's
    * RESPONSE records, bucketed by digest — the crawl-side exact-dedup
    * state (what a fetch loop consults before storing a refetch). The
    * index is digest-only: probing never re-reads stored payload
    * bytes, and the anti-join against a bucketed digest table leaves
    * the index side exchange-free — only the (batch-sized) probe side
    * shuffles.
    */
  def writeDigestIndex(parsed: DataFrame, tableName: String,
                       buckets: Int = graft.util.IndexBuckets.Auto): Unit = {
    graft.operators.Dedup.dropManaged(parsed.sparkSession, tableName)
    val frame = parsed.filter(col("warc_type") === "response")
      .select(effectiveDigest.as("dig")).distinct()
    // size-derived by default ([[graft.util.IndexBuckets]]); the resolved
    // count rides the table properties so appends stay co-bucketed
    val b = graft.util.IndexBuckets.resolve(frame, buckets)
    frame.write.format("parquet")
      .bucketBy(b, "dig").sortBy("dig")
      .mode("overwrite").saveAsTable(tableName)
    parsed.sparkSession.sql(
      s"ALTER TABLE $tableName SET TBLPROPERTIES('graft.buckets' = '$b')")
  }

  /** Append a batch's digests (idempotent: duplicate digests are
    * harmless index state — the probe is an anti-join). Refreshes the
    * writing session's cached relation, the [[graft.operators
    * .LinkGraph.appendToEdgeIndex]] rule.
    */
  def appendToDigestIndex(parsed: DataFrame, tableName: String): Unit = {
    val spark = parsed.sparkSession
    val buckets = spark.sql(s"SHOW TBLPROPERTIES $tableName").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .getOrElse("graft.buckets", throw new IllegalArgumentException(
        s"digest index $tableName carries no graft.buckets property — " +
          "not written by writeDigestIndex")).toInt
    parsed.filter(col("warc_type") === "response")
      .select(effectiveDigest.as("dig")).distinct()
      .write.format("parquet")
      .bucketBy(buckets, "dig").sortBy("dig")
      .mode("append").saveAsTable(tableName)
    spark.catalog.refreshTable(tableName)
  }

  /** The RESPONSE records of a parsed batch whose effective digest is
    * NOT in a [[writeDigestIndex]] table — the novel content a fetch
    * loop actually stores. Non-response records never pass (they carry
    * no payload to store). Left-anti join on the digest: index side
    * bucketed (exchange-free), batch side shuffles once.
    */
  def novelByDigest(parsed: DataFrame, tableName: String): DataFrame = {
    val idx = parsed.sparkSession.table(tableName)
    parsed.filter(col("warc_type") === "response")
      .withColumn("_dig", effectiveDigest)
      .join(idx, col("_dig") === idx("dig"), "left_anti")
      .drop("_dig")
  }

  /** Exact UTF-8 validity as a regex over `hex(bytes)` — the RFC 3629
    * byte grammar transcribed to hex pairs (uppercase in both Spark's
    * and DuckDB's `hex`): ASCII, C2–DF lead + one continuation, the
    * four 3-byte rows (E0 with its A0-BF restriction, ED excluding
    * surrogates, E1-EC/EE-EF plain), the three 4-byte rows (F0/F1-F3/F4
    * with their range restrictions). Overlong encodings, lone
    * continuation bytes, surrogates and >U+10FFFF all fail. Shared
    * verbatim with the oracle.
    */
  val Utf8HexRe: String =
    "^(?:[0-7][0-9A-F]" +
      "|(?:C[2-9A-F]|D[0-9A-F])[89AB][0-9A-F]" +
      "|E0[AB][0-9A-F][89AB][0-9A-F]" +
      "|E[1-9A-C](?:[89AB][0-9A-F]){2}" +
      "|ED[89][0-9A-F][89AB][0-9A-F]" +
      "|E[EF](?:[89AB][0-9A-F]){2}" +
      "|F0[9AB][0-9A-F](?:[89AB][0-9A-F]){2}" +
      "|F[1-3](?:[89AB][0-9A-F]){3}" +
      "|F48[0-9A-F](?:[89AB][0-9A-F]){2})*$"

  /** The charset DECLARED inside the payload's first KB — the
    * `<meta charset=…>` / `<meta http-equiv … charset=…>` /
    * `Content-Type: …; charset=…` forms all reduce to one anchored
    * `charset = <label>` scan (either quote style or none),
    * lowercased; '' when nothing is declared. The probe window decodes
    * as latin-1 (never fails, ASCII-transparent — exactly how browsers
    * pre-scan before committing to an encoding). Shared verbatim with
    * the oracle (Java and RE2 agree on the pattern).
    */
  val DeclaredCharsetRe: String =
    "(?i)charset\\s*=\\s*[\"']?([A-Za-z0-9_-]+)"

  def declaredCharset(bin: Column): Column =
    lower(regexp_extract(
      decode(substring(bin, 1, 1024), "ISO-8859-1"), DeclaredCharsetRe, 1))

  /** Labels the WHATWG encoding standard maps to windows-1252: the
    * cp1252 names themselves PLUS the latin-1/ascii family — browsers
    * never decode a declared `iso-8859-1` as ISO-8859-1, and neither
    * does this tier once the page SAYS so (the no-declaration fallback
    * stays the C1-preserving latin-1, where the bytes are evidence,
    * not a promise).
    */
  val Cp1252Labels: Seq[String] = Seq(
    "windows-1252", "cp1252", "x-cp1252", "iso-8859-1", "iso8859-1",
    "iso_8859-1", "latin1", "l1", "ascii", "us-ascii")

  /** The declared-CJK tier: (WHATWG labels, canonical sniff label, JVM
    * charset) per family — a meaningful fraction of real web bytes is
    * Shift_JIS / EUC-JP / GBK / Big5 with an honest declaration, and
    * letting those fall through to latin-1 silently mangles them.
    * Spark's `decode` whitelist has none of these, so the decode runs
    * as a compiled [[decodeDeclared]] kernel (the gunzip-kernel
    * precedent) over THIS allowlist only — never a blind
    * `Charset.forName` of attacker-controlled labels. Label sets per
    * the WHATWG encoding standard's label tables; `shift_jis` maps to
    * the JVM's windows-31j (WHATWG Shift_JIS ≡ Microsoft code page
    * 932, a superset of plain JIS X 0208 Shift_JIS); WHATWG `big5` is
    * big5-hkscs-extended — the JVM's plain Big5 is used here and the
    * HKSCS-only codepoints fall to the NULL drop path, documented.
    */
  val CjkLabelCharsets: Seq[(Seq[String], String, String)] = Seq(
    (Seq("shift_jis", "shift-jis", "sjis", "x-sjis", "ms_kanji",
      "csshiftjis", "windows-31j", "ms932"), "shift_jis", "windows-31j"),
    (Seq("euc-jp", "x-euc-jp", "cseucpkdfmtjapanese"), "euc-jp", "EUC-JP"),
    (Seq("gbk", "gb2312", "gb_2312", "gb_2312-80", "x-gbk", "chinese",
      "csgb2312", "csiso58gb231280", "iso-ir-58"), "gbk", "GBK"),
    (Seq("big5", "big5-hkscs", "cn-big5", "x-x-big5", "csbig5"),
      "big5", "Big5"))

  /** Decode bytes with a NAMED JVM charset from the [[CjkLabelCharsets]]
    * allowlist, malformed/unmappable input ⇒ NULL (the parse-and-drop
    * semantics — a record whose bytes contradict its declaration is
    * countable damage, never silently-wrong text). The decoder is
    * looked up per charset NAME and compiled once per executor;
    * `ScalaUDF` codegens as a plain invoke so the surrounding chain
    * stays fused.
    */
  private def decodeDeclaredStr(b: Array[Byte], cs: String): String =
    if (b == null || cs == null) null
    else try {
      java.nio.charset.Charset.forName(cs).newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        .decode(java.nio.ByteBuffer.wrap(b)).toString
    } catch { case _: java.nio.charset.CharacterCodingException => null }

  private val decodeDeclaredKernel = udf(decodeDeclaredStr _)

  def decodeDeclared(bin: Column, jvmCharset: String): Column =
    decodeDeclaredKernel(bin, lit(jvmCharset))

  /** The writer half for staging fixtures in these charsets (Spark's
    * `encode` whitelist has none of them): unencodable text throws —
    * a staging error, not a data path.
    */
  private def encodeDeclaredStr(s: String, cs: String): Array[Byte] =
    if (s == null || cs == null) null
    else {
      val enc = java.nio.charset.Charset.forName(cs).newEncoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      val bb = enc.encode(java.nio.CharBuffer.wrap(s))
      val out = new Array[Byte](bb.remaining())
      bb.get(out)
      out
    }

  private val encodeDeclaredKernel = udf(encodeDeclaredStr _)

  def encodeDeclared(text: Column, jvmCharset: String): Column =
    encodeDeclaredKernel(text, lit(jvmCharset))

  /** Detected transport label for a binary payload, in precedence
    * order: BOM dispatch first (`utf-8-bom`, `utf-16le`, `utf-16be`),
    * then exact UTF-8 validation ([[Utf8HexRe]] — VALID BYTES BEAT A
    * DECLARATION: mislabeled UTF-8 is endemic and the validation is
    * exact), then the in-document declaration ([[declaredCharset]]:
    * the cp1252-family labels decode as `windows-1252` per WHATWG,
    * the [[CjkLabelCharsets]] families as their canonical labels;
    * any other label — declared-but-unsupported encodings like
    * koi8-r — falls through, documented), then `iso-8859-1` — the
    * browser-convention fallback that never fails and never loses
    * bytes (C1 controls survive for
    * [[graft.operators.TextNormalization.repairMojibake]] to use as
    * evidence). One linear scan per record (the hex transcript) plus
    * one KB-bounded declaration probe; a latin-1 page that genuinely
    * starts with `ÿþ` mis-sniffs as UTF-16LE — the standard sniffing
    * caveat, accepted and documented. Pure codegen.
    */
  def sniffCharset(bin: Column): Column = {
    // BOM dispatch reads a 3-byte prefix hex — hexing the WHOLE payload
    // inside each CaseWhen condition would materialize a string 2× the
    // payload size up to four times per row (branch conditions are not
    // subexpression-eliminated); only the UTF-8 validity check (reached
    // once, after the cheap prefix checks) pays the full transcript
    val pfx = hex(substring(bin, 1, 3))
    // the declaration tiers each re-run the KB-bounded probe (branch
    // conditions are not subexpression-eliminated) — 5 bounded probes
    // per non-UTF-8 row, still far below one full-payload transcript
    CjkLabelCharsets.foldLeft(
      when(pfx.startsWith("EFBBBF"), lit("utf-8-bom"))
        .when(pfx.startsWith("FFFE"), lit("utf-16le"))
        .when(pfx.startsWith("FEFF"), lit("utf-16be"))
        .when(regexp_like(hex(bin), lit(Utf8HexRe)), lit("utf-8"))
        .when(declaredCharset(bin).isin(Cp1252Labels: _*),
          lit("windows-1252"))) { case (acc, (labels, canonical, _)) =>
      acc.when(declaredCharset(bin).isin(labels: _*), lit(canonical))
    }.otherwise(lit("iso-8859-1"))
  }

  private val Cp1252From: String =
    graft.operators.TextNormalization.Cp1252DefinedPairs.map(_._1).mkString
  private val Cp1252To: String =
    graft.operators.TextNormalization.Cp1252DefinedPairs.map(_._2).mkString

  /** windows-1252 decode as latin-1 + the derived 27-pair high-half
    * `translate` ([[graft.operators.TextNormalization
    * .Cp1252DefinedPairs]]) — Spark's `decode` whitelist has no
    * cp1252, and the two charsets differ ONLY on 0x80–0x9F; the five
    * undefined bytes stay C1 controls (evidence for the mojibake
    * repairer) instead of Java's U+FFFD. Codegen'd (`translate` is a
    * built-in); the oracle replays the same pairs via its own
    * `translate`.
    */
  def decodeCp1252(bin: Column): Column =
    translate(decode(bin, "ISO-8859-1"), Cp1252From, Cp1252To)

  /** Decode a binary payload per [[sniffCharset]]'s verdict, BOM
    * stripped. Every branch uses JVM charsets from Spark's allowed
    * `decode` set (the cp1252 branch is latin-1 + translate), so no
    * legacy-charset flag is needed.
    */
  def decodeSniffed(bin: Column): Column = {
    // same prefix-hex discipline as [[sniffCharset]]: the full
    // transcript is hexed once per row at most (the UTF-8 validity
    // condition), never per branch
    val pfx = hex(substring(bin, 1, 3))
    CjkLabelCharsets.foldLeft(
      when(pfx.startsWith("EFBBBF"),
          decode(substring(bin, 4, Int.MaxValue), "UTF-8"))
        .when(pfx.startsWith("FFFE"),
          decode(substring(bin, 3, Int.MaxValue), "UTF-16LE"))
        .when(pfx.startsWith("FEFF"),
          decode(substring(bin, 3, Int.MaxValue), "UTF-16BE"))
        .when(regexp_like(hex(bin), lit(Utf8HexRe)), decode(bin, "UTF-8"))
        .when(declaredCharset(bin).isin(Cp1252Labels: _*),
          decodeCp1252(bin))) { case (acc, (labels, _, jvm)) =>
      // bytes contradicting the declaration ⇒ NULL (drop path), per
      // [[decodeDeclared]]
      acc.when(declaredCharset(bin).isin(labels: _*),
        decodeDeclared(bin, jvm))
    }.otherwise(decode(bin, "ISO-8859-1"))
  }

  /** Inflate ONE record-gzip member — the layout real WARC archives
    * use (Common Crawl stores one gzip member per record, so members
    * are independently splittable/fetchable); this kernel is the step
    * that turns an archive-shaped binary record into the bytes
    * [[parseRawRecords]] consumes. A COMPILED KERNEL
    * (`java.util.zip.GZIPInputStream`), the resolveHref-kernel
    * precedent: no Catalyst built-in inflates gzip, and `ScalaUDF`
    * codegens as a plain invoke so the surrounding parse chain stays
    * fused. Malformed/truncated members yield NULL — the
    * parse-and-drop semantics of the converter tier (A10): a NULL
    * record parses to a NULL/'' url and [[responsesOnly]] drops it,
    * loudly countable, never silently wrong. Trailing members of a
    * CONCATENATED stream are out of scope (the record-per-member
    * layout has exactly one).
    */
  /** Decompression cap: a record inflating past this is a zip bomb by
    * WARC standards (real response records are KB–MB) and yields NULL
    * like any other malformed member — an executor must never OOM on
    * one hostile record. 256 MiB leaves three orders of magnitude of
    * headroom over real crawl payloads.
    */
  val MaxInflatedBytes: Int = 256 * 1024 * 1024

  private def gunzipBytes(b: Array[Byte]): Array[Byte] =
    if (b == null) null
    else try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))
      try {
        val out = new java.io.ByteArrayOutputStream(
          math.min(b.length * 4, 1 << 16))
        val buf = new Array[Byte](64 * 1024)
        var total = 0
        var bomb = false
        var n = in.read(buf)
        while (n >= 0 && !bomb) {
          // cap BEFORE buffering: a rejected record must never have
          // allocated the full cap-sized buffer first (a handful of
          // concurrent hostile records would transiently demand GiBs
          // of executor heap) — once the total would exceed the cap,
          // stop writing and reject without draining further
          if (total + n > MaxInflatedBytes) bomb = true
          else {
            out.write(buf, 0, n)
            total += n
            n = in.read(buf)
          }
        }
        if (bomb) null else out.toByteArray
      } finally in.close()
    } catch { case _: java.io.IOException => null }

  private val gunzipKernel = udf(gunzipBytes _)

  def inflateMember(bin: Column): Column = gunzipKernel(bin)

  /** Split a whole multi-member `.warc.gz` FILE into its per-member
    * INFLATED payloads — the step between a staged archive (the layout
    * real WARC crawls ship as: one gzip member per record, members
    * concatenated into GB-scale files) and [[parseRawRecords]].
    *
    * Member walking is exact, not a magic-byte scan: each member's
    * header is parsed (RFC 1952 — magic, CM=8, the FEXTRA / FNAME /
    * FCOMMENT / FHCRC optional fields), the deflate stream is inflated
    * with a raw `Inflater(nowrap)` whose `getRemaining` pins the
    * compressed length, and the 8-byte CRC32+ISIZE trailer is skipped
    * to land on the next member's first byte. The per-member
    * decompression cap ([[MaxInflatedBytes]]) drains-and-discards past
    * the limit — a bomb member yields NULL at its position WITHOUT
    * buffering the bomb and WITHOUT losing the members after it (the
    * boundary is known because draining finished the stream). A
    * member that fails to parse/inflate ends the walk: its position
    * yields one trailing NULL (the boundary after a corrupt member is
    * unknowable), so `n` well-formed members in = `n` records out,
    * and damage is one countable NULL, never silent loss of the
    * whole file.
    *
    * The trailer is VALIDATED, not just skipped: a running CRC32 of
    * the inflated bytes (and the inflated length mod 2^32) is compared
    * against the member's CRC32/ISIZE trailer — the same integrity
    * check `GZIPInputStream` applies on the single-member path — so a
    * member whose deflate structure survived but whose payload bytes
    * were corrupted yields a countable NULL at its position (boundary
    * still known — the walk continues) instead of passing silently. A
    * trailer that runs past EOF is the corrupt-tail case (one trailing
    * NULL, walk ends).
    */
  private[sources] def splitGzMembersBytes(
      file: Array[Byte]): Array[Array[Byte]] = {
    if (file == null) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val n = file.length
    var off = 0
    var corrupt = false
    while (!corrupt && off < n) {
      if (off + 10 > n || (file(off) & 0xFF) != 0x1F ||
        (file(off + 1) & 0xFF) != 0x8B || (file(off + 2) & 0xFF) != 8) {
        corrupt = true
      } else {
        try {
          val flg = file(off + 3) & 0xFF
          var p = off + 10
          if ((flg & 4) != 0) {
            val xlen = (file(p) & 0xFF) | ((file(p + 1) & 0xFF) << 8)
            p += 2 + xlen
          }
          if ((flg & 8) != 0) { while (file(p) != 0) p += 1; p += 1 }
          if ((flg & 16) != 0) { while (file(p) != 0) p += 1; p += 1 }
          if ((flg & 2) != 0) p += 2
          val inf = new java.util.zip.Inflater(true)
          try {
            inf.setInput(file, p, n - p)
            val buf = new Array[Byte](64 * 1024)
            val bos = new java.io.ByteArrayOutputStream(
              math.min((n - p).toLong * 4, 1L << 16).toInt)
            val crc = new java.util.zip.CRC32()
            var total = 0L
            var inflated = 0L
            var bomb = false
            while (!inf.finished()) {
              val m = inf.inflate(buf)
              if (m == 0 && !inf.finished())
                throw new java.util.zip.DataFormatException(
                  "truncated deflate stream")
              // the CRC runs over EVERYTHING inflated (drained bytes
              // included) so trailer validation stays exact even for
              // bombs; buffering follows the cap-before-buffer rule of
              // [[gunzipBytes]] — past the cap the loop keeps INFLATING
              // (to pin the member boundary) but stops BUFFERING
              crc.update(buf, 0, m)
              inflated += m
              if (!bomb) {
                if (total + m > MaxInflatedBytes) bomb = true
                else { bos.write(buf, 0, m); total += m }
              }
            }
            val consumed = (n - p) - inf.getRemaining
            val tr = p + consumed
            if (tr + 8 > n) {
              // trailer runs past EOF — the corrupt-tail case: the
              // member is unverifiable and nothing follows it
              corrupt = true
            } else {
              def le32(i: Int): Long =
                (file(i) & 0xFFL) | ((file(i + 1) & 0xFFL) << 8) |
                  ((file(i + 2) & 0xFFL) << 16) | ((file(i + 3) & 0xFFL) << 24)
              val trailerOk = le32(tr) == crc.getValue &&
                le32(tr + 4) == (inflated & 0xFFFFFFFFL)
              out += (if (bomb || !trailerOk) null else bos.toByteArray)
              off = tr + 8 // CRC32 + ISIZE trailer
            }
          } finally inf.end()
        } catch { case _: Exception => corrupt = true }
      }
    }
    if (corrupt) out += null
    out.toArray
  }

  private val splitGzKernel = udf(splitGzMembersBytes _)

  /** Column face of [[splitGzMembersBytes]]: `array<binary>` of
    * inflated members (NULL elements mark bombs / the corrupt tail).
    */
  def splitGzMembers(bin: Column): Column = splitGzKernel(bin)

  /** Read staged multi-member `.warc.gz` archive FILES into one row
    * per member: (`archive`, `record`) with `record` the INFLATED
    * member bytes ready for [[parseRawRecords]] (NULL for bomb/corrupt
    * members — countable, parse-and-drop downstream).
    *
    * Scale shape: the `binaryFile` source distributes whole files
    * across executors (one row per file; Spark caps a single file at
    * `spark.sql.sources.binaryFile.maxLength` = 2 GiB — real crawl
    * archives are written ~1 GiB for exactly this kind of reader),
    * the member walk is one in-partition pass per file, and
    * everything downstream of the explode is the ordinary record
    * pipeline. A 100 TB crawl = ~100k files → ~100k input rows, each
    * exploding to its records WITHOUT a shuffle; per-executor memory
    * holds one file + one inflated record at a time (the cap bounds
    * the latter).
    */
  def readWarcGzArchives(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame =
    spark.read.format("binaryFile").load(path)
      .select(col("path").as("archive"),
        explode(splitGzMembers(col("content"))).as("record"))

  /** The writer half — wrap bytes as one gzip member (staging crawl
    * snapshots, tests). Deterministic: Java's `GZIPOutputStream`
    * writes a fixed header (MTIME = 0) and the default-level deflate
    * is input-deterministic, so staged fixtures are byte-stable
    * across runs — what lets the gz round trip sit inside an
    * oracle-gated query.
    */
  private def gzipBytes(b: Array[Byte]): Array[Byte] =
    if (b == null) null
    else {
      val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 32)
      val out = new java.util.zip.GZIPOutputStream(bos)
      out.write(b); out.close()
      bos.toByteArray
    }

  private val gzipKernel = udf(gzipBytes _)

  def deflateMember(bin: Column): Column = gzipKernel(bin)

  /** [[parseRawRecords]] over record-gzipped members: inflate each
    * member ([[inflateMember]]), then the same expression-only header
    * parse. Malformed members drop via the NULL path.
    */
  def parseGzRecords(raw: DataFrame, rawCol: String = "record",
                     stripHttpHeaders: Boolean = false): DataFrame =
    parseRawRecords(
      raw.withColumn(rawCol, inflateMember(col(rawCol))),
      rawCol, stripHttpHeaders)

  /** The inverse of [[parseRawRecords]] for tests and staging fixtures:
    * wrap (`url`, `html`, `fetch_ts`) as a raw WARC response record
    * blob. Kept in main (not test) code because a pipeline that stages
    * its own crawl snapshots needs the writer half too.
    */
  def wrapAsRawRecord(url: Column, html: Column, fetchTs: Column,
                      recordId: Column): Column =
    wrapAsRawRecordTyped(url, html, fetchTs, recordId, lit("response"),
      lit(""))

  /** [[wrapAsRawRecord]] with the record TYPE and an optional payload
    * digest ('' ⇒ header omitted) — the writer half for staging mixed
    * archives (request/revisit/warcinfo records alongside responses).
    */
  def wrapAsRawRecordTyped(url: Column, html: Column, fetchTs: Column,
                           recordId: Column, warcType: Column,
                           payloadDigest: Column): Column =
    encode(concat(
      lit("WARC/1.0\r\n"),
      lit("WARC-Type: "), warcType, lit("\r\n"),
      lit("WARC-Record-ID: <"), recordId, lit(">\r\n"),
      lit("WARC-Target-URI: "), url, lit("\r\n"),
      when(payloadDigest =!= "",
        concat(lit("WARC-Payload-Digest: "), payloadDigest, lit("\r\n")))
        .otherwise(lit("")),
      lit("WARC-Date: "),
      date_format(fetchTs, "yyyy-MM-dd'T'HH:mm:ss'Z'"), lit("\r\n"),
      lit("Content-Length: "), length(html).cast("string"), lit("\r\n"),
      lit("\r\n"), html), "UTF-8")
}
