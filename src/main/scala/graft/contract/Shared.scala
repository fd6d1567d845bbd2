package graft
package contract

import graft.operators.TextAnalysis
import graft.sources.EventsAsConditions
import graft.streaming.GateStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StringType, TimestampType}
import org.apache.spark.sql.functions.{coalesce, col, concat, count, lit, sum, timestamp_seconds, when, round => sround}

/** Parameters, fixtures and helpers shared by more than one query family. */
private[contract] object Shared {
  // Shared query parameters: the synthetic events table spans Jan 2024 at
  // every SF, so fixed epochs parameterize identically across scales.
  val S1 = 1704240000L // 2024-01-03T00:00:00Z
  val E1 = 1706400000L // 2024-01-28T00:00:00Z  (span 2_160_000 s)
  val FS = 1704844800L // 2024-01-10T00:00:00Z
  val FE = 1704866400L // 2024-01-10T06:00:00Z  (≤1-day branch of B3)
  val Subject = "user_3"
  val Of = "click"

  def conditions(s: SparkSession, dir: String): DataFrame =
    EventsAsConditions.load(s, dir)

  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scratch dir for the streaming-gate queries, deleted after use: the
    * body's result is eagerly materialized (localCheckpoint) so the
    * caller's later actions don't re-read the deleted files.
    */
  def withTempDir(prefix: String)(body: String => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(tmp).localCheckpoint(true)
    finally graft.util.FsUtil.deleteRecursively(new java.io.File(tmp))
  }

  def r6(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, sround(col(c), 6)))

  /** Six time-ascending slice bounds covering [S1, E1] — the staging grid
    * of every restart-per-slice streaming bench row. Six data slices
    * (plus a sentinel batch where the row needs one) put the per-batch
    * marginal mean over ≥5 batches, enough for `per_batch_s`/`pb_n` to
    * carry a dispute — two batches cannot tell a GC pause from a real
    * marginal-cost change. Ordered, non-overlapping ranges keep every
    * later slice's rows at-or-ahead of the watermark (watermark after
    * slice k ≤ slice k's max event time ≤ every slice-k+1 row), so the
    * split provably cannot change any windowed/stateful result.
    */
  // five slices (was six through round 10): pb_n = 5 still clears the
  // ≥5-batch adjudication bar, and the round-11 batch-volume probe
  // (SCALING.md, "Round-11: batch-volume sensitivity probe") showed
  // restart-cycle cost is pure fixed overhead (marginal 2.50 vs 2.60
  // s/run at 7× volume difference), so one fewer batch is the only
  // drain trim that doesn't change what the marginal measures
  val SliceBounds = Seq(S1, 1704672000L, 1705104000L,
    1705536000L, 1705968000L, E1 + 1)

  // the no-sentinel gates (q_rate_stream, q_cagg_streamed) count pb_n
  // over their slice runs alone — no flush batch — so they keep six
  // slices to stay at pb_n = 5
  val SliceBoundsNoSentinel = Seq(S1, 1704600000L, 1704960000L,
    1705320000L, 1705680000L, 1706040000L, E1 + 1)

  /** Run `body` with Spark's no-data micro-batches disabled, restoring
    * the previous session setting afterwards.
    *
    * Why: the windowed/sessionized restart-per-slice rows run one
    * AvailableNow drain per arrival; with no-data batches on, EVERY
    * drain appends an eviction-only batch that re-executes the whole
    * stateful plan (measured ~1.0–1.2 s per restart at sf0.1, ~45% of
    * drain wall — SCALING.md, "Round 15") just to emit windows the
    * watermark closed at the end of that drain's data batch. In the
    * maintenance-loop deployment those emissions are equally correct
    * one arrival later: the NEXT restart's data batch runs with the
    * checkpointed watermark and evicts the same windows. Only the
    * TERMINAL flush drain (the far-future sentinel) genuinely needs
    * the no-data batch — it is what pushes the last closed windows
    * out within the same run — so that drain keeps the default. The
    * final output set is byte-identical (oracle-checked): this moves
    * WHICH batch emits a row, never whether it is emitted.
    */
  def withNoDataBatchesDisabled[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Stage `real` into `dir` one time-slice file at a time, draining the
    * stream via `run` after each — the restart-per-slice gate shape
    * (each counted batch deliberately includes checkpoint resume: that
    * is what every production arrival pays in the maintenance loop).
    */
  def stageSlices(query: String, real: DataFrame, dir: String,
                          bounds: Seq[Long] = SliceBounds)
                         (run: () => Unit): Unit = {
    // `real` is a projection of the raw parquet: persist it for the
    // duration of the slice loop so the 5-6 slice writes read one
    // materialized pass instead of re-deriving the projection from the
    // source per slice (r15; computed fresh inside every timed rep —
    // nothing survives the rep, so this is plain intermediate reuse,
    // not cross-run caching). Persisting counts as stage time.
    val cached = BenchPhases.timed(query, "stage") {
      val c = real.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }
    try bounds.sliding(2).foreach {
      case Seq(a, b) =>
        BenchPhases.timed(query, "stage")(
          cached.filter(col("timestamp") >= timestamp_seconds(lit(a)) &&
              col("timestamp") < timestamp_seconds(lit(b)))
            .coalesce(1).write.mode("append").parquet(dir))
        run()
      case _ => ()
    } finally { cached.unpersist(false); () }
  }

  /** The restart-per-slice drain of a windowed stream row: `transform`
    * over a parquet stream of `real`'s slices (intermediate drains skip
    * the eviction-only no-data batch, see withNoDataBatchesDisabled),
    * then one far-future SENTINEL row (2100-01-01, built from
    * `real.schema`) and a terminal drain with no-data batches on, which
    * advances the watermark past every real window's close so append
    * mode flushes them all. Returns the output without the sentinel's
    * own still-open rows.
    */
  def drainWindowed(s: SparkSession, query: String, real: DataFrame,
                            tmp: String)(transform: DataFrame => DataFrame): DataFrame = {
    val in = s"$tmp/input"
    def run(): Unit = BenchPhases.drainTimed(query)(
      GateStream.startParquet(s, in, s"$tmp/out", s"$tmp/cp")(
        transform(GateStream.read(s, in, real.schema))))
    withNoDataBatchesDisabled(s)(stageSlices(query, real, in)(() => run()))
    val sentinel = Row.fromSeq(real.schema.fields.toSeq.map(_.dataType match {
      case StringType => "__sentinel__"
      case DoubleType => 0.0
      case TimestampType => new java.sql.Timestamp(4102444800L * 1000L)
    }))
    s.createDataFrame(java.util.List.of(sentinel), real.schema)
      .coalesce(1).write.mode("append").parquet(in)
    run()
    s.read.parquet(s"$tmp/out").filter(col("measurement_subject") =!= "__sentinel__")
  }

  /** The SQL face of a query: `sql` over the graft functions and the
    * given temp views, registered on `s` first.
    */
  def sqlFace(s: SparkSession, views: (String, DataFrame)*)(sql: String): DataFrame = {
    GraftFunctions.register(s)
    views.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    s.sql(sql)
  }

  val Cte = s"WITH conditions AS (${EventsAsConditions.oracleCte})"

  val ScanPred =
    s"""measurement_of = '$Of' AND measurement_subject = '$Subject'
       | AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1""".stripMargin

  /** Quality-score SQL (no trailing ORDER BY) — shared by q_quality,
    * q_topk_quality and the curate oracle's inline copy.
    */
  def qualityCoreSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok,
      |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS ndist,
      |         CAST(len(list_filter(string_split(text, ' '),
      |           t -> t IN ('the', 'and', 'of', 'to', 'a', 'in', 'is', 'that', 'it'))) AS DOUBLE) AS nstop
      |  FROM documents)
      |SELECT doc_id,
      |       ROUND(LEAST(1.0, ntok / 200) * 0.3 + (ndist / ntok) * 0.3
      |             + LEAST(1.0, nstop / ntok * 5) * 0.4, 6) AS quality
      |FROM t""".stripMargin

  /** First-8-hex-digits-of-md5 bucket in [0, 10000) — replays
    * [[graft.operators.Sampling.bucket]] bit-for-bit via a hex-digit
    * Horner reduce (DuckDB has md5 but no hex→int conversion).
    */
  def md5BucketSql(salt: String, keyExpr: String): String =
    s"""(list_reduce(list_transform(range(1, 9),
       |   i -> CAST(strpos('0123456789abcdef',
       |          substr(md5('$salt:' || CAST($keyExpr AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
       |   (a, b) -> a * 16 + b) % ${graft.operators.Sampling.BucketCount})""".stripMargin

  /** Deterministic crawl-URL plant keyed on doc_id: seven variant shapes
    * exercising every canonicalization rule. The variant class
    * `(doc_id div 7) % 7` is decoupled from the host (`doc_id % 20`) and
    * path (`doc_id % 11`) indices, so the same logical page recurs under
    * different surface forms and canonical dedup has real work. Variants
    * 5 and 6 (round 11) exercise percent-encoding normalization: v5 is a
    * pct-encoded twin of the plain form (`%70` decodes to `p`, `%7e` to
    * `~`, `%2f` stays escaped but uppercases), v6 carries a MALFORMED
    * escape (`%9z` — passes through verbatim). Replayed literally in
    * [[urlCanonCtesSql]]'s `u` CTE.
    */
  def plantUrls(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{concat, expr, when}
    val k = (col("doc_id") % 20).cast("string")
    val m = (col("doc_id") % 11).cast("string")
    val v = expr("(doc_id div 7) % 7")
    docs.select(col("doc_id"),
      when(v === 0, concat(lit("https://example"), k, lit(".com/p/"), m))
        .when(v === 1, concat(lit("HTTPS://WWW.Example"), k,
          lit(".COM:443/p/"), m, lit("/")))
        .when(v === 2, concat(lit("https://cdn.media.example"), k,
          lit(".com:443/p/"), m, lit("?utm_source=x&fbclid=1#top")))
        .when(v === 3, concat(lit("https://example"), k,
          lit(".com/p/"), m, lit("?b=2&a=1#frag")))
        .when(v === 4, concat(lit("http://www.example"), k,
          lit(".com:80/p/"), m, lit("?a=1&utm_medium=y&b=2")))
        .when(v === 5, concat(lit("https://example"), k,
          lit(".com/%70/"), m, lit("?x=%2f&Y=%7e")))
        .otherwise(concat(lit("http://example"), k,
          lit(".com/p/"), m, lit("%9z?gclid=1&a=%5A")))
        .as("url"))
  }

  /** Deterministic HTML plant: each document's text wrapped in a
    * four-line template page — head (title + style + script content),
    * a nav bar (three anchors, three words), the content paragraph
    * (bold tags + planted `&amp;`/`&lt;`/`&gt;` entities, numeric
    * character references — decimal `&#72;`, hex `&#x21;`, nbsp-class
    * `&#160;`, out-of-range `&#999;` which must pass through
    * verbatim — and NAMED references: `&eacute;`, `&ndash;`, uppercase
    * `&Ouml;`, `&hellip;`, plus unknown `&bogus;` which passes
    * through), and a comment + footer line (two anchors and a
    * `&middot;`, which decodes via the named table). Exercises
    * every [[graft.operators.TextExtraction]] rule; replayed literally
    * in [[htmlLineCtesSql]].
    */
  def plantHtml(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>body { margin:0 }</style>" +
        "<script>var t = 1;</script></head>\n"),
      lit("<div class=\"nav\"><a href=\"/\">Home</a> " +
        "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>\n"),
      lit("<p><b>"), col("text"), lit("</b> &amp; tail&lt;"),
      col("doc_id").cast("string"),
      lit("&gt; say &#72;i&#x21;&#160;plus &#999; caf&eacute; &ndash; " +
        "&Ouml;l r&eacute;sum&eacute; &hellip; &bogus; done</p>\n"),
      lit("<!-- tracking pixel --><div class=\"footer\">" +
        "<a href=\"/t\">Terms</a> &middot; <a href=\"/p\">Privacy</a></div>"))
      .as("html"))

  /** DuckDB replay of [[graft.operators.TextExtraction]]'s numeric
    * character-reference decode (the same `&#`-split transform the
    * Spark side runs): decode decimal/hex refs in the ASCII range,
    * whitespace-class codes (9/10/13/160) to a space, everything else
    * passes through verbatim. `x` is a column name — call this from a
    * CTE stage so the inner expression is referenced, not duplicated.
    */
  def duckNumRefDecodeSql(x: String): String =
    s"""CASE WHEN strpos($x, '&#') = 0 THEN $x
       |     ELSE string_split($x, '&#')[1] || array_to_string(list_transform(string_split($x, '&#')[2:], s ->
       |       CASE WHEN regexp_matches(s, '^[0-9]{1,7};') THEN
       |              CASE WHEN CAST(regexp_extract(s, '^([0-9]{1,7});', 1) AS INT) IN (9, 10, 13, 160)
       |                     THEN ' ' || substr(s, length(regexp_extract(s, '^([0-9]{1,7});', 1)) + 2)
       |                   WHEN CAST(regexp_extract(s, '^([0-9]{1,7});', 1) AS INT) BETWEEN 32 AND 126
       |                     THEN chr(CAST(regexp_extract(s, '^([0-9]{1,7});', 1) AS INT)) || substr(s, length(regexp_extract(s, '^([0-9]{1,7});', 1)) + 2)
       |                   ELSE '&#' || s END
       |            WHEN regexp_matches(s, '^[xX][0-9a-fA-F]{1,6};') THEN
       |              CASE WHEN CAST('0x' || upper(regexp_extract(s, '^[xX]([0-9a-fA-F]{1,6});', 1)) AS BIGINT) IN (9, 10, 13, 160)
       |                     THEN ' ' || substr(s, length(regexp_extract(s, '^[xX]([0-9a-fA-F]{1,6});', 1)) + 3)
       |                   WHEN CAST('0x' || upper(regexp_extract(s, '^[xX]([0-9a-fA-F]{1,6});', 1)) AS BIGINT) BETWEEN 32 AND 126
       |                     THEN chr(CAST('0x' || upper(regexp_extract(s, '^[xX]([0-9a-fA-F]{1,6});', 1)) AS INT)) || substr(s, length(regexp_extract(s, '^[xX]([0-9a-fA-F]{1,6});', 1)) + 3)
       |                   ELSE '&#' || s END
       |            ELSE '&#' || s END), '') END""".stripMargin

  /** DuckDB replay of [[graft.operators.TextExtraction]]'s NAMED
    * entity decode — the same split-on-`&` segment transform, with the
    * per-name WHEN branches GENERATED from the shared
    * `NamedEntityCodepoints` table (characters via `chr(codepoint)`,
    * `nbsp` → space, per-name substr offsets computed at generation
    * time), so the engines cannot drift on the name set. Generated
    * lines never START with `|` — this fragment is interpolated under
    * callers' stripMargin. Runs after [[duckNumRefDecodeSql]], folding
    * `&amp;` last — the Spark side's order.
    */
  def duckNamedEntitySql(x: String): String = {
    val whens = graft.operators.TextExtraction.NamedEntityCodepoints.map {
      case (n, cp) =>
        val v = if (cp == 160) 32 else cp
        s"WHEN '$n' THEN chr($v) || substr(s, ${n.length + 2})"
    }.mkString(" ")
    s"""CASE WHEN strpos($x, '&') = 0 THEN $x
       |          ELSE string_split($x, '&')[1] || array_to_string(list_transform(string_split($x, '&')[2:], s ->
       |            CASE regexp_extract(s, '${graft.operators.TextExtraction.EntityNameRe}', 1)
       |            $whens
       |            ELSE '&' || s END), '') END""".stripMargin
  }

  /** The literal [[plantHtml]] replay on its own — shared by the
    * line-split chain and any oracle needing the raw page string.
    */
  def htmlPagesCteSql: String =
    s"""hp AS (
       |  SELECT doc_id,
       |         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
       |         '</title><style>body { margin:0 }</style><script>var t = 1;</script></head>' || chr(10) ||
       |         '<div class="nav"><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></div>' || chr(10) ||
       |         '<p><b>' || text || '</b> &amp; tail&lt;' || CAST(doc_id AS VARCHAR) || '&gt; say &#72;i&#x21;&#160;plus &#999; caf&eacute; &ndash; &Ouml;l r&eacute;sum&eacute; &hellip; &bogus; done</p>' || chr(10) ||
       |         '<!-- tracking pixel --><div class="footer"><a href="/t">Terms</a> &middot; <a href="/p">Privacy</a></div>'
       |           AS html
       |  FROM documents)""".stripMargin

  /** HTML plant + per-line extraction replay (oracle side): CTE `hp`
    * (the literal [[plantHtml]] replay), `hs` (the block-boundary
    * pre-split — applied to the newline-stripped page for the minified
    * face, so the oracle proves minification invariance, not just the
    * fixture outcome), and `hl0`→`hl` (per-line tag strip, numeric-ref
    * decode, named-entity decode + whitespace collapse + anchor count)
    * — the whole [[graft.operators.TextExtraction]] chain as the same
    * regexes/replacements, every regexp_replace with the 'g' DuckDB
    * needs to match Spark's replace-all default.
    */
  def htmlLineCtesSql(minified: Boolean): String = {
    val page = if (minified) "replace(html, chr(10), '')" else "html"
    s"""$htmlPagesCteSql,
       |hs AS (
       |  SELECT doc_id, regexp_replace($page,
       |           '${graft.operators.TextExtraction.BlockBoundaryRe}',
       |           '\\0' || chr(10), 'g') AS shtml
       |  FROM hp),
       |hl0 AS (
       |  SELECT doc_id, generate_subscripts(string_split(shtml, chr(10)), 1) AS ord,
       |         unnest(string_split(shtml, chr(10))) AS line
       |  FROM hs),
       |hl1 AS (
       |  SELECT doc_id, ord, line,
       |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(line,
       |           '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
       |           '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
       |           '<!--.*?-->', ' ', 'g'),
       |           '<[^>]*>', ' ', 'g') AS t0
       |  FROM hl0),
       |hl2 AS (
       |  SELECT doc_id, ord, line, ${duckNumRefDecodeSql("t0")} AS t1
       |  FROM hl1),
       |hl AS (
       |  SELECT doc_id, ord,
       |         trim(regexp_replace(${duckNamedEntitySql("t1")}, '\\s+', ' ', 'g')) AS txt,
       |         len(regexp_extract_all(line, '(?i)<a\\b')) AS anchors
       |  FROM hl2)""".stripMargin
  }

  /** Plant + canonicalization replay (oracle side): CTEs `u` (the
    * literal [[plantUrls]] replay), `p0` (percent-encoding
    * normalization — the same segment transform
    * [[graft.operators.UrlOps.normalizePctEncoding]] runs), `h`
    * (scheme/host/path/sorted-query terms — each
    * [[graft.operators.UrlOps.canonicalizeUrl]] rule as the same regex,
    * plus `rpathq`, the slash-preserving raw-query robots term) and `k`
    * (the assembled canonical form).
    */
  def urlCanonCtesSql: String =
    s"""u AS (
      |  SELECT doc_id,
      |         CASE (doc_id // 7) % 7
      |           WHEN 0 THEN 'https://example' || CAST(doc_id % 20 AS VARCHAR) || '.com/p/' || CAST(doc_id % 11 AS VARCHAR)
      |           WHEN 1 THEN 'HTTPS://WWW.Example' || CAST(doc_id % 20 AS VARCHAR) || '.COM:443/p/' || CAST(doc_id % 11 AS VARCHAR) || '/'
      |           WHEN 2 THEN 'https://cdn.media.example' || CAST(doc_id % 20 AS VARCHAR) || '.com:443/p/' || CAST(doc_id % 11 AS VARCHAR) || '?utm_source=x&fbclid=1#top'
      |           WHEN 3 THEN 'https://example' || CAST(doc_id % 20 AS VARCHAR) || '.com/p/' || CAST(doc_id % 11 AS VARCHAR) || '?b=2&a=1#frag'
      |           WHEN 4 THEN 'http://www.example' || CAST(doc_id % 20 AS VARCHAR) || '.com:80/p/' || CAST(doc_id % 11 AS VARCHAR) || '?a=1&utm_medium=y&b=2'
      |           WHEN 5 THEN 'https://example' || CAST(doc_id % 20 AS VARCHAR) || '.com/%70/' || CAST(doc_id % 11 AS VARCHAR) || '?x=%2f&Y=%7e'
      |           ELSE 'http://example' || CAST(doc_id % 20 AS VARCHAR) || '.com/p/' || CAST(doc_id % 11 AS VARCHAR) || '%9z?gclid=1&a=%5A'
      |         END AS url
      |  FROM documents),
      |p0 AS (
      |  SELECT doc_id, url,
      |         CASE WHEN strpos(nofrag, '%') = 0 THEN nofrag
      |              ELSE string_split(nofrag, '%')[1] || array_to_string(list_transform(string_split(nofrag, '%')[2:], s ->
      |                CASE WHEN NOT regexp_matches(s, '^[0-9A-Fa-f]{2}') THEN '%' || s
      |                     WHEN CAST('0x' || upper(s[1:2]) AS INT) BETWEEN 48 AND 57
      |                       OR CAST('0x' || upper(s[1:2]) AS INT) BETWEEN 65 AND 90
      |                       OR CAST('0x' || upper(s[1:2]) AS INT) BETWEEN 97 AND 122
      |                       OR CAST('0x' || upper(s[1:2]) AS INT) IN (45, 46, 95, 126)
      |                       THEN chr(CAST('0x' || upper(s[1:2]) AS INT)) || s[3:]
      |                     ELSE '%' || upper(s[1:2]) || s[3:] END), '') END AS nf
      |  FROM (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS nofrag FROM u)),
      |c0 AS (
      |  SELECT doc_id, url,
      |         lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |         regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      |  FROM p0),
      |h AS (
      |  SELECT doc_id, url, scheme,
      |         regexp_replace(
      |           CASE WHEN scheme = 'http'  THEN regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)), ':80$$', '')
      |                WHEN scheme = 'https' THEN regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)), ':443$$', '')
      |                ELSE lower(regexp_extract(rest, '^([^/?]*)', 1)) END,
      |           '^www\\.', '') AS host,
      |         regexp_replace(regexp_extract(rest, '^[^/?]*([^?]*)', 1), '/+$$', '') AS path,
      |         -- robots matching term: slash-preserving path ('' -> '/') + RAW query
      |         -- (continuation lines must not START with '||': an outer
      |         -- stripMargin over the interpolated fragment would eat one)
      |         (CASE WHEN regexp_extract(rest, '^[^/?]*([^?]*)', 1) = '' THEN '/'
      |               ELSE regexp_extract(rest, '^[^/?]*([^?]*)', 1) END) ||
      |           regexp_extract(rest, '(\\?.*)$$', 1) AS rpathq,
      |         -- DuckDB list_sort/array_to_string yield NULL on an EMPTY
      |         -- list (Spark: empty array -> ''), so the no-params case
      |         -- needs the COALESCE
      |         COALESCE(array_to_string(list_sort(list_filter(
      |           string_split(regexp_extract(rest, '\\?(.*)$$', 1), '&'),
      |           p -> p <> '' AND NOT regexp_matches(p, '^(?:utm_[^=]*|fbclid|gclid|ref)(?:=|$$)'))), '&'), '') AS qs
      |  FROM c0),
      |k AS (
      |  SELECT doc_id, url,
      |         scheme || '://' || host || path ||
      |           CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon_url
      |  FROM h)""".stripMargin

  /** The crawl-curation capstone replay, shared by `q_crawl_curate` and
    * `q_crawl_from_warc` (the WARC wrap→parse stage is an identity on
    * (url, html), verified by the round-trip spec): blocklist EXISTS →
    * canonical QUALIFY dedup → per-line extraction → length floor.
    */
  def crawlCurateOracleSql: String =
    s"""WITH $urlCanonCtesSql,
       |${htmlLineCtesSql(minified = false)},
       |mn AS (
       |  SELECT doc_id,
       |         COALESCE(string_agg(
       |           CASE WHEN length(txt) >= 25
       |                 AND anchors < len(string_split(txt, ' ')) * 0.34
       |                THEN txt END, chr(10) ORDER BY ord), '') AS main
       |  FROM hl GROUP BY doc_id),
       |allowed AS (
       |  SELECT k.doc_id, k.canon_url FROM k JOIN h USING (doc_id)
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM (VALUES ('example7.com'), ('media.example11.com'),
       |                          ('example3.com')) b(domain)
       |    -- port-free comparison, mirroring domainChain's port strip
       |  WHERE regexp_replace(h.host, ':[0-9]+$$', '') = b.domain
       |     OR regexp_replace(h.host, ':[0-9]+$$', '') LIKE '%.' || b.domain)),
       |kept AS (
       |  SELECT doc_id, canon_url FROM allowed
       |  QUALIFY row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) = 1)
       |SELECT kept.doc_id, kept.canon_url,
       |       CAST(len(string_split(mn.main, ' ')) AS BIGINT) AS n_words,
       |       md5(mn.main) AS main_hash
       |FROM kept JOIN mn ON kept.doc_id = mn.doc_id
       |WHERE len(string_split(mn.main, ' ')) >= 20
       |ORDER BY kept.doc_id""".stripMargin

  /** DuckDB literal from a Scala string: quotes doubled, control
    * characters (the robots templates carry real LF/CR bytes) embedded
    * verbatim — DuckDB string literals accept them.
    */
  def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Trigram shingle CTE body (doc_id, s, nsh) — the single source of
    * the shingling convention, shared by every jaccard-family oracle.
    */
  def shingleCteSql: String =
    """
      |  SELECT doc_id,
      |         unnest(list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1) ])) AS s,
      |         len(list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1) ])) AS nsh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)""".stripMargin

  /** Bounded-Jaccard replay — oracle for q_dedup_jaccard_bounded. Mirrors
    * [[graft.operators.Dedup.jaccardPairs]] with `maxDf = Some(k)` exactly:
    * shingles with document frequency > k are dropped from the inverted
    * index BEFORE the pair join (so `inter` shrinks) while na/nb stay the
    * full shingle-set sizes — the computed jaccard is a lower bound of the
    * true one and the output is a subset of the exact tier's.
    */
  def jaccardBoundedPairsCte(maxDf: Int): String =
    s"""sh AS ($shingleCteSql),
      |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > $maxDf),
      |pr AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
      |jagg AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
      |         any_value(a.nsh) AS na, any_value(b.nsh) AS nb
      |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jp AS (
      |  SELECT doc_a, doc_b, ROUND(CAST(inter AS DOUBLE)/(na+nb-inter), 6) AS jaccard
      |  FROM jagg WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= 0.8)""".stripMargin

  /** Transitive closure of the bounded-Jaccard pair graph as a recursive
    * CTE: per-node reachable sets under set-union semantics (terminates —
    * the frontier is deduplicated), component = min reachable id. The
    * Spark side computes the same fixpoint with large-star/small-star
    * rounds ([[graft.operators.Clustering.connectedComponents]]); the
    * oracle's O(component²) row blowup is fine at oracle scale and
    * EXACTLY why the engine side doesn't do it this way.
    */
  def clustersCte(maxDf: Int): String =
    s"""${jaccardBoundedPairsCte(maxDf)},
      |e AS (SELECT doc_a AS u, doc_b AS v FROM jp
      |      UNION SELECT doc_b, doc_a FROM jp),
      |reach(n, r) AS (
      |  SELECT DISTINCT u, u FROM e
      |  UNION
      |  SELECT reach.n, e.v FROM reach JOIN e ON reach.r = e.u),
      |comp AS (SELECT n, min(r) AS component FROM reach GROUP BY n)""".stripMargin

  def langIdSql: String = {
    val score = TextAnalysis.StopwordSets.map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS BIGINT) AS s_$lang"
    }.mkString(",\n         ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         $score
       |  FROM documents)
       |SELECT doc_id,
       |       CASE
       |        WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |        WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |        WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |        WHEN s_fr >= s_zh THEN 'fr'
       |        ELSE 'zh' END AS lang_pred
       |FROM t ORDER BY doc_id""".stripMargin
  }
}
