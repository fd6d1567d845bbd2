package graft

import graft.functions.{Asap, TimeWeight}
import graft.operators.{Ann, Sampling, TextAnalysis}
import graft.queries.TimeseriesQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The dashboard analytics functions — and the most-used pipeline
  * operators — as SQL-callable TABLE functions. The reference's entire
  * query surface is SQL a dashboard executes directly
  * (`db/get_aggregated_data.sql:18-35` builds a parameterized `EXECUTE`;
  * Grafana calls `SELECT * FROM get_aggregated_data(...)`), so a
  * Scala-only surface would strand those clients. With these registered,
  *
  * {{{
  * SELECT * FROM graft_aggregated_data('emonTx4', 'P1', 1704240000, 1706400000, 360)
  * SELECT * FROM graft_ann_topk(0, 20)
  * SELECT * FROM graft_epoch_shuffle(42, 1, 1000)
  * }}}
  *
  * run in `spark.sql` (or any SQL gateway on the session) and produce
  * exactly the Scala methods' plans — each builder CALLS the Scala
  * method and hands its logical plan to the analyzer, so the two
  * surfaces cannot drift.
  *
  * Input relations are resolved BY NAME from the session catalog, the
  * same implicit-table convention as the reference's stored procedures
  * (their `FROM conditions` is fixed in the SQL body,
  * `db/get_aggregated_data.sql:24`):
  *  - the nine dashboard functions read [[ConditionsRelation]]
  *    (`conditions`);
  *  - text/shuffle functions read [[DocumentsRelation]] (`documents`);
  *  - vector functions read [[EmbeddingsRelation]] (`embeddings`).
  * Register temp views (or catalog tables) under those names; a missing
  * relation fails with a message naming the view to register. Resolution
  * is lazy per call — a session that only runs vector queries never
  * needs a `conditions` view.
  *
  * Registration paths (mirroring [[GraftFunctions]] / [[GraftExtensions]]):
  *  - existing session: `SqlTableFunctions.register(spark)`;
  *  - builder time: `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * Scale note: registration is pure catalog metadata; each call plans
  * the same pruned scan as the Scala path (subject/of/time predicates
  * reach the parquet reader — see [[TimeseriesQueries.scan]]), so the
  * SQL surface adds zero runtime overhead.
  */
object SqlTableFunctions {

  /** The relation the nine dashboard functions read. Register it with
    * `df.createOrReplaceTempView(SqlTableFunctions.ConditionsRelation)`
    * or point the name at a catalog table.
    */
  val ConditionsRelation = "conditions"

  /** The relation the text-pipeline functions read (doc_id, text, …). */
  val DocumentsRelation = "documents"

  /** URL-stage functions read this relation: one row per crawl
    * candidate, `doc_id` + `url` columns.
    */
  val UrlsRelation = "urls"

  /** HTML-extraction functions read this relation: one row per fetched
    * page, `doc_id` + `html` columns.
    */
  val PagesRelation = "pages"

  /** Link-graph functions read this relation: one row per fetched
    * page, `url` + `html` columns (the page's address and markup —
    * both endpoints of every extracted edge come out canonical).
    */
  val LinkPagesRelation = "link_pages"

  /** Robots-compliance functions read this relation: one row per
    * `Allow:`/`Disallow:` line — `host`, `pattern`, `allow` columns
    * (REP semantics, see [[graft.operators.UrlOps.filterDisallowed]]).
    */
  val RobotsRelation = "robots"

  /** Blocklist functions read this relation: one `domain` column. */
  val BlocklistRelation = "blocklist"

  /** Raw-robots functions read this relation: one row per fetched
    * robots.txt — `host`, `robots_txt` columns (the body bytes as
    * text; [[graft.operators.UrlOps.parseRobotsRules]] semantics).
    */
  val RobotsTxtRelation = "robots_txt"

  /** The fetch-status faces read this relation: `host`, `robots_txt`,
    * `status` — the robots fetch LOG
    * ([[graft.operators.UrlOps.robotsRulesWithStatus]] semantics).
    */
  val RobotsFetchRelation = "robots_fetch"

  /** The relation the vector functions read (vec_id, embedding). */
  val EmbeddingsRelation = "embeddings"

  /** The relation the WARC-history faces read: one row per PARSED
    * archive record — `url`, `record_id`, `warc_type`,
    * `payload_digest`, `html`, `fetch_ts`
    * ([[graft.sources.WarcIngest.parseRawRecords]] output).
    */
  val WarcRecordsRelation = "warc_records"

  /** The relation the sitemap faces read: one row per STAGED sitemap
    * fetch — `doc_id`, `url`, `xml` (the resource's own address and
    * body; index bodies and child bodies side by side, the
    * [[graft.operators.UrlOps.sitemapUrlsViaIndex]] pool shape).
    */
  val SitemapsRelation = "sitemaps"

  private final case class TableFn(
      name: String, usage: String, arity: Int,
      build: (SparkSession, Seq[Expression]) => DataFrame)

  private def rel(spark: SparkSession, name: String, fn: String): DataFrame =
    try spark.table(name)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"$fn reads the relation '$name' — register it first with " +
            s"""df.createOrReplaceTempView("$name") or a catalog table of that name""", e)
    }

  // ---- literal argument extraction -----------------------------------
  // Table-function arguments must be literals (the reference's functions
  // are EXECUTEd with bound parameters — same contract). Foldable
  // expressions (CAST('…' AS BIGINT), 1704240000 + 3600, …) fold here.

  private def evalArg(fn: TableFn, args: Seq[Expression], i: Int): Any = {
    val e = args(i)
    require(e.foldable,
      s"${fn.name}: argument ${i + 1} must be a literal (usage: ${fn.usage})")
    e.eval(null)
  }

  private def strArg(fn: TableFn, args: Seq[Expression], i: Int): String =
    evalArg(fn, args, i) match {
      case null => throw new IllegalArgumentException(
        s"${fn.name}: argument ${i + 1} must be a non-null string (usage: ${fn.usage})")
      case v => v.toString // UTF8String and friends
    }

  private def longArg(fn: TableFn, args: Seq[Expression], i: Int): Long =
    evalArg(fn, args, i) match {
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"${fn.name}: argument ${i + 1} must be an integer, got $other (usage: ${fn.usage})")
    }

  private def intArg(fn: TableFn, args: Seq[Expression], i: Int): Int = {
    val v = longArg(fn, args, i)
    require(v >= Int.MinValue && v <= Int.MaxValue,
      s"${fn.name}: argument ${i + 1} out of int range: $v")
    v.toInt
  }

  private def doubleArg(fn: TableFn, args: Seq[Expression], i: Int): Double =
    evalArg(fn, args, i) match {
      case n: java.lang.Number => n.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble // SQL 0.8 literal
      case other => throw new IllegalArgumentException(
        s"${fn.name}: argument ${i + 1} must be numeric, got $other (usage: ${fn.usage})")
    }

  // ---- the functions -------------------------------------------------
  // Dashboard names mirror the reference's db/ function names under the
  // graft_ prefix; argument order follows the reference signatures (see
  // ConditionsView — in particular get_unique_measurement_subjects takes
  // (start, end, of)). Pipeline names mirror their Scala operators.

  /** Built as a method-per-entry list rather than a map so arity errors
    * and usage strings stay adjacent to each binding.
    */
  private val all: Seq[TableFn] = {
    var out = List.empty[TableFn]
    def add(name: String, usage: String, arity: Int)(
        build: (SparkSession, TableFn, Seq[Expression]) => DataFrame): Unit = {
      lazy val self: TableFn = TableFn(name, usage, arity,
        (s, a) => build(s, self, a))
      out = self :: out
    }
    def cond(s: SparkSession, f: TableFn): DataFrame = rel(s, ConditionsRelation, f.name)

    add("graft_aggregated_data",
      "graft_aggregated_data(subject, of, start_s, end_s, max_result_size)", 5) {
      (s, f, a) =>
        TimeseriesQueries.aggregatedData(cond(s, f), strArg(f, a, 0), strArg(f, a, 1),
          longArg(f, a, 2), longArg(f, a, 3), intArg(f, a, 4))
    }
    add("graft_aggregated_data_by_interval",
      "graft_aggregated_data_by_interval(subject, of, start_s, end_s, interval_s)", 5) {
      (s, f, a) =>
        TimeseriesQueries.aggregatedDataByInterval(cond(s, f), strArg(f, a, 0), strArg(f, a, 1),
          longArg(f, a, 2), longArg(f, a, 3), longArg(f, a, 4))
    }
    add("graft_aggregated_data_by_day",
      "graft_aggregated_data_by_day(subject, of, start_s, end_s)", 4) {
      (s, f, a) =>
        TimeseriesQueries.aggregatedDataByDay(cond(s, f), strArg(f, a, 0), strArg(f, a, 1),
          longArg(f, a, 2), longArg(f, a, 3))
    }
    add("graft_most_frequent_value_by_interval",
      "graft_most_frequent_value_by_interval(subject, of, start_s, end_s)", 4) {
      (s, f, a) =>
        TimeseriesQueries.mostFrequentValueByInterval(cond(s, f), strArg(f, a, 0), strArg(f, a, 1),
          longArg(f, a, 2), longArg(f, a, 3))
    }
    add("graft_sampled_data",
      "graft_sampled_data(subject, of, start_s, end_s, resolution)", 5) {
      (s, f, a) =>
        Asap.sampledData(s, cond(s, f), strArg(f, a, 0), strArg(f, a, 1),
          longArg(f, a, 2), longArg(f, a, 3), intArg(f, a, 4))
    }
    add("graft_sampled_data_with_time_weight",
      "graft_sampled_data_with_time_weight(subject, of, start_s, end_s, method, resolution)", 6) {
      (s, f, a) =>
        TimeWeight.sampledDataWithTimeWeight(cond(s, f), strArg(f, a, 0), strArg(f, a, 1),
          longArg(f, a, 2), longArg(f, a, 3), TimeWeight.method(strArg(f, a, 4)),
          intArg(f, a, 5))
    }
    add("graft_unique_measurement_subjects",
      "graft_unique_measurement_subjects(start_s, end_s, of)", 3) {
      (s, f, a) =>
        TimeseriesQueries.uniqueMeasurementSubjects(cond(s, f), strArg(f, a, 2),
          longArg(f, a, 0), longArg(f, a, 1))
    }
    add("graft_filter_unchanged_rows",
      "graft_filter_unchanged_rows(subject, of, start_s, end_s)", 4) {
      (s, f, a) =>
        TimeseriesQueries.filterUnchangedRows(cond(s, f), strArg(f, a, 0), strArg(f, a, 1),
          longArg(f, a, 2), longArg(f, a, 3))
    }
    add("graft_format_time_intervals",
      "graft_format_time_intervals(subject, of, start_s, end_s, clock_s)", 5) {
      (s, f, a) =>
        TimeseriesQueries.formatTimeIntervals(cond(s, f), strArg(f, a, 0), strArg(f, a, 1),
          longArg(f, a, 2), longArg(f, a, 3), longArg(f, a, 4))
    }
    add("graft_ohlc", "graft_ohlc(of, start_s, end_s, width_s)", 4) {
      (s, f, a) =>
        TimeseriesQueries.ohlcBars(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3))
    }
    add("graft_heartbeat_uptime",
      "graft_heartbeat_uptime(of, start_s, end_s, heartbeat_s)", 4) {
      (s, f, a) =>
        TimeseriesQueries.heartbeatUptime(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3))
    }
    add("graft_gapfill", "graft_gapfill(of, start_s, end_s, width_s, method)", 5) {
      (s, f, a) =>
        val method = strArg(f, a, 4).toLowerCase(java.util.Locale.ROOT) match {
          case "locf"   => graft.queries.GapfillLocf
          case "linear" => graft.queries.GapfillLinear
          case other => throw new IllegalArgumentException(
            s"${f.name}: unknown gapfill method '$other' (expected locf|linear)")
        }
        TimeseriesQueries.gapfill(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3), method)
    }
    add("graft_lttb", "graft_lttb(of, start_s, end_s, threshold)", 4) {
      (s, f, a) =>
        graft.functions.Lttb.downsample(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), intArg(f, a, 3))
    }
    add("graft_rolling_stats", "graft_rolling_stats(of, start_s, end_s, k)", 4) {
      (s, f, a) =>
        TimeseriesQueries.rollingStats(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), intArg(f, a, 3))
    }
    add("graft_ewma", "graft_ewma(of, start_s, end_s, taps)", 4) {
      (s, f, a) =>
        TimeseriesQueries.ewmaSmooth(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), intArg(f, a, 3))
    }
    add("graft_cusum",
      "graft_cusum(of, start_s, end_s, target_cents, slack_cents, h_cents)", 6) {
      (s, f, a) =>
        TimeseriesQueries.cusumDrift(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3),
          longArg(f, a, 4), longArg(f, a, 5))
    }
    add("graft_stats_agg", "graft_stats_agg(of, start_s, end_s, width_s)", 4) {
      (s, f, a) =>
        TimeseriesQueries.statsDerive(TimeseriesQueries.statsAgg(cond(s, f),
          strArg(f, a, 0), longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3)))
    }
    add("graft_counter_agg", "graft_counter_agg(of, start_s, end_s, bucket_s)", 4) {
      (s, f, a) =>
        TimeseriesQueries.counterAgg(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3))
    }
    add("graft_counter_rollup",
      "graft_counter_rollup(of, start_s, end_s, width_s, coarse_s)", 5) {
      (s, f, a) =>
        TimeseriesQueries.counterRollup(
          TimeseriesQueries.counterPartials(cond(s, f), strArg(f, a, 0),
            longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3)),
          longArg(f, a, 4))
    }
    add("graft_histogram_agg",
      "graft_histogram_agg(of, start_s, end_s, bucket_s, lo, hi, nbins)", 7) {
      (s, f, a) =>
        TimeseriesQueries.histogramAgg(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3),
          doubleArg(f, a, 4), doubleArg(f, a, 5), intArg(f, a, 6))
    }
    add("graft_state_durations",
      "graft_state_durations(of, start_s, end_s)", 3) {
      (s, f, a) =>
        TimeseriesQueries.stateDurations(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2))
    }
    add("graft_gaps", "graft_gaps(of, start_s, end_s, top_n)", 4) {
      (s, f, a) =>
        TimeseriesQueries.largestGaps(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), intArg(f, a, 3))
    }
    add("graft_hampel", "graft_hampel(of, start_s, end_s, width_s, k)", 5) {
      (s, f, a) =>
        TimeseriesQueries.hampelOutliers(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3),
          intArg(f, a, 4))
    }
    add("graft_gauge_agg", "graft_gauge_agg(of, start_s, end_s, bucket_s)", 4) {
      (s, f, a) =>
        TimeseriesQueries.gaugeAgg(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3))
    }
    add("graft_counter_idelta",
      "graft_counter_idelta(of, start_s, end_s, bucket_s)", 4) {
      (s, f, a) =>
        TimeseriesQueries.counterIdelta(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3))
    }
    add("graft_m4", "graft_m4(of, start_s, end_s, bucket_s)", 4) {
      (s, f, a) =>
        TimeseriesQueries.m4Downsample(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3))
    }
    add("graft_interpolated_average",
      "graft_interpolated_average(of, start_s, end_s, bucket_s)", 4) {
      (s, f, a) =>
        TimeseriesQueries.interpolatedTimeWeight(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3))
    }
    add("graft_sax", "graft_sax(of, start_s, end_s, bucket_s)", 4) {
      (s, f, a) =>
        TimeseriesQueries.saxSymbols(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3))
    }
    add("graft_seasonal_outliers",
      "graft_seasonal_outliers(of, base_start_s, base_end_s, eval_start_s, eval_end_s)", 5) {
      (s, f, a) =>
        TimeseriesQueries.seasonalOutliers(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3), longArg(f, a, 4))
    }
    add("graft_retention", "graft_retention(of, start_s, end_s)", 3) {
      (s, f, a) =>
        graft.queries.EventAnalytics.retentionCohorts(cond(s, f), strArg(f, a, 0),
          longArg(f, a, 1), longArg(f, a, 2))
    }
    add("graft_funnel", "graft_funnel(steps_csv, start_s, end_s, horizon_s)", 4) {
      (s, f, a) =>
        val steps = strArg(f, a, 0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        graft.queries.EventAnalytics.funnel(cond(s, f), steps,
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3))
    }
    // metrics as a comma-separated list — table-function args are scalar
    // literals, so the list travels as one string
    add("graft_pivot", "graft_pivot(metrics_csv, start_s, end_s, width_s)", 4) {
      (s, f, a) =>
        val metrics = strArg(f, a, 0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        graft.queries.EventAnalytics.pivotWide(cond(s, f), metrics,
          longArg(f, a, 1), longArg(f, a, 2), longArg(f, a, 3))
    }

    // ---- pipeline operators over the documents/embeddings relations --

    add("graft_token_count", "graft_token_count()", 0) { (s, f, _) =>
      TextAnalysis.tokenCount(rel(s, DocumentsRelation, f.name))
    }
    add("graft_lang_id", "graft_lang_id()", 0) { (s, f, _) =>
      TextAnalysis.langId(rel(s, DocumentsRelation, f.name))
    }
    add("graft_heavy_hitters", "graft_heavy_hitters(k, min_freq)", 2) {
      (s, f, a) =>
        TextAnalysis.heavyHitters(rel(s, DocumentsRelation, f.name),
          intArg(f, a, 0), doubleArg(f, a, 1))
    }
    add("graft_line_dedup", "graft_line_dedup()", 0) { (s, f, _) =>
      graft.operators.Dedup.lineDedup(rel(s, DocumentsRelation, f.name))
    }
    add("graft_url_canon", "graft_url_canon()", 0) { (s, f, _) =>
      import org.apache.spark.sql.functions.col
      val u = rel(s, UrlsRelation, f.name)
      u.withColumn("canon_url",
        graft.operators.UrlOps.canonicalizeUrl(col("url")))
    }
    add("graft_url_dedup", "graft_url_dedup()", 0) { (s, f, _) =>
      graft.operators.UrlOps.dedupByCanonicalUrl(
        rel(s, UrlsRelation, f.name), "url", "doc_id")
    }
    add("graft_html_text", "graft_html_text()", 0) { (s, f, _) =>
      import org.apache.spark.sql.functions.col
      rel(s, PagesRelation, f.name).select(col("doc_id"),
        graft.operators.TextExtraction.stripHtml(col("html")).as("text"))
    }
    add("graft_html_main", "graft_html_main()", 0) { (s, f, _) =>
      import org.apache.spark.sql.functions.col
      rel(s, PagesRelation, f.name).select(col("doc_id"),
        graft.operators.TextExtraction.mainContent(col("html")).as("main"))
    }
    add("graft_url_robots", "graft_url_robots()", 0) { (s, f, _) =>
      graft.operators.UrlOps.filterDisallowed(
        rel(s, UrlsRelation, f.name), "url", "doc_id",
        rel(s, RobotsRelation, f.name))
    }
    add("graft_url_blocklist", "graft_url_blocklist()", 0) { (s, f, _) =>
      import org.apache.spark.sql.functions.col
      val withHost = rel(s, UrlsRelation, f.name).select(col("doc_id"),
        graft.operators.UrlOps.canonicalHost(col("url")).as("host"))
      graft.operators.UrlOps.filterBlockedDomains(withHost, "host", "doc_id",
        rel(s, BlocklistRelation, f.name))
    }
    add("graft_url_blocklist_psl", "graft_url_blocklist_psl()", 0) { (s, f, _) =>
      import org.apache.spark.sql.functions.col
      val withHost = rel(s, UrlsRelation, f.name).select(col("doc_id"),
        graft.operators.UrlOps.canonicalHost(col("url")).as("host"))
      graft.operators.UrlOps.filterBlockedDomainsPsl(withHost, "host", "doc_id",
        rel(s, BlocklistRelation, f.name))
    }
    add("graft_crawl_curate", "graft_crawl_curate(min_words)", 1) { (s, f, a) =>
      import org.apache.spark.sql.functions.{col, md5, size, split}
      val minWords = intArg(f, a, 0)
      val pages = rel(s, UrlsRelation, f.name)
        .join(rel(s, PagesRelation, f.name), "doc_id")
        .withColumn("host", graft.operators.UrlOps.canonicalHost(col("url")))
      val allowed = graft.operators.UrlOps.filterBlockedDomains(
        pages, "host", "doc_id", rel(s, BlocklistRelation, f.name))
      val kept = graft.operators.UrlOps.dedupByCanonicalUrl(
        allowed.drop("host"), "url", "doc_id")
      kept
        .withColumn("main", graft.operators.TextExtraction.mainContent(col("html")))
        .withColumn("n_words", size(split(col("main"), " ")))
        .filter(col("n_words") >= minWords)
        .select(col("doc_id"), col("canon_url"),
          col("n_words").cast("long").as("n_words"),
          md5(col("main")).as("main_hash"))
    }
    // the compliance capstone as ONE SQL SELECT: pages relation must
    // carry (doc_id, url, html, priority); robots_txt carries fetched
    // bodies. Parse -> enforce -> noindex strip -> canonical
    // consolidation -> politeness schedule with the parsed delays.
    add("graft_crawl_plan", "graft_crawl_plan(agent)", 1) { (s, f, a) =>
      import org.apache.spark.sql.functions.{col, min => fmin}
      val agent = strArg(f, a, 0)
      val robots = rel(s, RobotsTxtRelation, f.name)
      val pages = rel(s, PagesRelation, f.name)
      val rules = graft.operators.UrlOps.parseRobotsRules(robots, agent = agent)
      val allowed = graft.operators.UrlOps.filterDisallowed(
        pages, "url", "doc_id", rules)
      val indexable = graft.operators.TextExtraction.filterNoindexed(
        allowed, "html")
      val winners = graft.operators.UrlOps.consolidateByCanonical(
        indexable, "url", "html", "doc_id")
        .join(pages.select(col("doc_id"), col("priority")), "doc_id")
      graft.operators.UrlOps.frontierSchedule(
        winners, "url", "doc_id", "priority",
        graft.operators.UrlOps.crawlDelays(robots, agent = agent))
    }
    add("graft_robots_rules", "graft_robots_rules(agent)", 1) { (s, f, a) =>
      graft.operators.UrlOps.parseRobotsRules(
        rel(s, RobotsTxtRelation, f.name), agent = strArg(f, a, 0))
    }
    add("graft_crawl_delays", "graft_crawl_delays(agent)", 1) { (s, f, a) =>
      graft.operators.UrlOps.crawlDelays(
        rel(s, RobotsTxtRelation, f.name), agent = strArg(f, a, 0))
    }
    // the status capstone: same chain as graft_crawl_plan, rules and
    // delays derived under the RFC 9309 fetch-status semantics from
    // the robots_fetch relation
    add("graft_crawl_plan_status", "graft_crawl_plan_status(agent)", 1) {
      (s, f, a) =>
        import org.apache.spark.sql.functions.col
        val agent = strArg(f, a, 0)
        val fetch = rel(s, RobotsFetchRelation, f.name)
        val pages = rel(s, PagesRelation, f.name)
        val rules = graft.operators.UrlOps.robotsRulesWithStatus(
          fetch, agent = agent)
        val allowed = graft.operators.UrlOps.filterDisallowed(
          pages, "url", "doc_id", rules)
        val indexable = graft.operators.TextExtraction.filterNoindexed(
          allowed, "html")
        val winners = graft.operators.UrlOps.consolidateByCanonical(
          indexable, "url", "html", "doc_id")
          .join(pages.select(col("doc_id"), col("priority")), "doc_id")
        graft.operators.UrlOps.frontierSchedule(
          winners, "url", "doc_id", "priority",
          graft.operators.UrlOps.crawlDelaysWithStatus(fetch, agent = agent))
    }
    add("graft_robots_rules_status", "graft_robots_rules_status(agent)", 1) {
      (s, f, a) =>
        graft.operators.UrlOps.robotsRulesWithStatus(
          rel(s, RobotsFetchRelation, f.name), agent = strArg(f, a, 0))
    }
    add("graft_crawl_delays_status", "graft_crawl_delays_status(agent)", 1) {
      (s, f, a) =>
        graft.operators.UrlOps.crawlDelaysWithStatus(
          rel(s, RobotsFetchRelation, f.name), agent = strArg(f, a, 0))
    }
    add("graft_meta_robots", "graft_meta_robots()", 0) { (s, f, _) =>
      import org.apache.spark.sql.functions.col
      rel(s, PagesRelation, f.name).select(col("doc_id"),
        graft.operators.TextExtraction.metaNoindex(col("html")).as("noindex"),
        graft.operators.TextExtraction.metaNofollow(col("html")).as("nofollow"))
    }
    add("graft_text_normalize", "graft_text_normalize()", 0) { (s, f, _) =>
      import org.apache.spark.sql.functions.col
      rel(s, DocumentsRelation, f.name).select(col("doc_id"),
        graft.operators.TextNormalization.normalize(col("text")).as("clean"))
    }
    add("graft_link_edges", "graft_link_edges()", 0) { (s, f, _) =>
      graft.operators.LinkGraph.extractLinks(
        rel(s, LinkPagesRelation, f.name), "url", "html")
    }
    add("graft_link_pagerank", "graft_link_pagerank(iters, damping_pct)", 2) {
      (s, f, a) =>
        graft.operators.LinkGraph.pagerank(
          graft.operators.LinkGraph.extractLinks(
            rel(s, LinkPagesRelation, f.name), "url", "html"),
          iters = intArg(f, a, 0), dampingPct = intArg(f, a, 1))
    }
    add("graft_anchor_labels", "graft_anchor_labels()", 0) { (s, f, _) =>
      graft.operators.LinkGraph.topAnchorLabels(
        graft.operators.LinkGraph.extractAnchors(
          rel(s, LinkPagesRelation, f.name), "url", "html"))
    }
    add("graft_link_hits", "graft_link_hits(iters)", 1) { (s, f, a) =>
      graft.operators.LinkGraph.hits(
        graft.operators.LinkGraph.extractLinks(
          rel(s, LinkPagesRelation, f.name), "url", "html"),
        iters = intArg(f, a, 0))
    }
    add("graft_url_report", "graft_url_report()", 0) { (s, f, _) =>
      graft.operators.LinkGraph.urlReport(
        rel(s, LinkPagesRelation, f.name), "url", "html")
    }
    add("graft_link_hits_host", "graft_link_hits_host(iters)", 1) { (s, f, a) =>
      import org.apache.spark.sql.functions.col
      val hg = graft.operators.LinkGraph.hostGraph(
        graft.operators.LinkGraph.extractLinks(
          rel(s, LinkPagesRelation, f.name), "url", "html"))
      graft.operators.LinkGraph.hits(
        hg.select(col("src_host").as("src"), col("dst_host").as("dst")),
        iters = intArg(f, a, 0))
    }
    add("graft_warc_revisits", "graft_warc_revisits()", 0) { (s, f, _) =>
      graft.sources.WarcIngest.resolveRevisits(
        rel(s, WarcRecordsRelation, f.name))
    }
    add("graft_recrawl_observed", "graft_recrawl_observed()", 0) { (s, f, _) =>
      graft.sources.WarcIngest.observedChangeRates(
        rel(s, WarcRecordsRelation, f.name))
    }
    add("graft_sitemap_urls", "graft_sitemap_urls()", 0) { (s, f, _) =>
      graft.operators.UrlOps.sitemapUrls(
        rel(s, SitemapsRelation, f.name), "xml", "doc_id")
    }
    add("graft_sitemap_entries", "graft_sitemap_entries()", 0) { (s, f, _) =>
      graft.operators.UrlOps.sitemapEntries(
        rel(s, SitemapsRelation, f.name), "xml", "doc_id")
    }
    add("graft_sitemap_index_urls", "graft_sitemap_index_urls()", 0) {
      (s, f, _) =>
        graft.operators.UrlOps.sitemapUrlsViaIndex(
          rel(s, SitemapsRelation, f.name), "url", "xml", "doc_id")
    }
    add("graft_sitemap_frontier", "graft_sitemap_frontier()", 0) { (s, f, _) =>
      graft.operators.UrlOps.sitemapFrontier(
        rel(s, SitemapsRelation, f.name), "url", "xml", "doc_id")
    }
    add("graft_line_dedup_intra", "graft_line_dedup_intra()", 0) { (s, f, _) =>
      graft.operators.Dedup.lineDedupWithinDoc(rel(s, DocumentsRelation, f.name))
    }
    add("graft_cap_per_source", "graft_cap_per_source(cap)", 1) { (s, f, a) =>
      Sampling.capPerStratum(rel(s, DocumentsRelation, f.name), longArg(f, a, 0))
    }
    add("graft_ann_topk", "graft_ann_topk(query_vec_id, k)", 2) { (s, f, a) =>
      Ann.topK(rel(s, EmbeddingsRelation, f.name), longArg(f, a, 0), intArg(f, a, 1))
    }
    add("graft_epoch_shuffle", "graft_epoch_shuffle(seed, epoch, num_shards)", 3) {
      (s, f, a) =>
        Sampling.epochShuffle(rel(s, DocumentsRelation, f.name),
          longArg(f, a, 0), longArg(f, a, 1), intArg(f, a, 2))
    }
    add("graft_bm25", "graft_bm25(query, k)", 2) { (s, f, a) =>
      TextAnalysis.bm25TopK(rel(s, DocumentsRelation, f.name),
        strArg(f, a, 0), intArg(f, a, 1))
    }
    // the persisted-index serving path: a dashboard can query a
    // writeIvfIndex table by name without touching Scala — the index
    // table is resolved from the catalog like any relation
    add("graft_ivf_topk", "graft_ivf_topk(index_table, query_vec_id, k, n_probe)", 4) {
      (s, f, a) =>
        Ann.ivfTopKAgainstIndex(s, strArg(f, a, 0), longArg(f, a, 1),
          intArg(f, a, 2), intArg(f, a, 3))
    }
    // the capstone composition: curate -> decontaminate (vs a benchmark
    // relation named by the caller) -> train split -> epoch shuffle,
    // entirely from SQL
    add("graft_training_export",
      "graft_training_export(benchmark_relation, seed, epoch, num_shards)", 4) {
      (s, f, a) =>
        graft.operators.CorpusCuration.trainingExport(
          rel(s, DocumentsRelation, f.name), rel(s, strArg(f, a, 0), f.name),
          longArg(f, a, 1), longArg(f, a, 2), intArg(f, a, 3))
    }
    add("graft_dup_spans", "graft_dup_spans(min_len)", 1) { (s, f, a) =>
      graft.operators.SpanDedup.duplicatedSpans(
        rel(s, DocumentsRelation, f.name), intArg(f, a, 0))
    }
    // CCNet head/middle/tail by LM score; ref = doc_id % holdout_mod = 0
    add("graft_ccnet", "graft_ccnet(holdout_mod, tier)", 2) { (s, f, a) =>
      import org.apache.spark.sql.functions.col
      val docs = rel(s, DocumentsRelation, f.name)
      val m = longArg(f, a, 0)
      val corpus = docs.filter(col("doc_id") % m =!= 0)
      val ref = docs.filter(col("doc_id") % m === 0)
      strArg(f, a, 1).toLowerCase(java.util.Locale.ROOT) match {
        case "exact"  => TextAnalysis.ccnetBuckets(corpus, ref)
        case "approx" => TextAnalysis.ccnetBucketsApprox(corpus, ref)
        case other => throw new IllegalArgumentException(
          s"${f.name}: unknown tier '$other' (expected exact|approx)")
      }
    }
    add("graft_novelty", "graft_novelty(n)", 1) { (s, f, a) =>
      TextAnalysis.ngramNovelty(rel(s, DocumentsRelation, f.name), intArg(f, a, 0))
    }
    add("graft_kcenters", "graft_kcenters(k)", 1) { (s, f, a) =>
      Ann.kCenters(rel(s, EmbeddingsRelation, f.name), intArg(f, a, 0))
    }
    add("graft_gopher", "graft_gopher(min_words, max_words)", 2) { (s, f, a) =>
      TextAnalysis.gopherRules(rel(s, DocumentsRelation, f.name),
        intArg(f, a, 0), intArg(f, a, 1))
    }
    add("graft_fim", "graft_fim(min_tokens, fim_rate)", 2) { (s, f, a) =>
      graft.operators.Packing.fimExamples(rel(s, DocumentsRelation, f.name),
        intArg(f, a, 0), doubleArg(f, a, 1))
    }
    add("graft_corpus_report", "graft_corpus_report()", 0) { (s, f, _) =>
      TextAnalysis.corpusReport(rel(s, DocumentsRelation, f.name))
    }
    // per-(doc, bench) leakage evidence; bench = doc_id % holdout_mod = 0
    add("graft_contamination_report",
      "graft_contamination_report(holdout_mod, n)", 2) { (s, f, a) =>
      import org.apache.spark.sql.functions.col
      val docs = rel(s, DocumentsRelation, f.name)
      val m = longArg(f, a, 0)
      graft.operators.Decontamination.contaminationReport(
        docs.filter(col("doc_id") % m =!= 0),
        docs.filter(col("doc_id") % m === 0), intArg(f, a, 1))
    }
    add("graft_rag_retrieve", "graft_rag_retrieve(query, k)", 2) { (s, f, a) =>
      graft.operators.Rag.retrieveChunks(rel(s, DocumentsRelation, f.name),
        strArg(f, a, 0), intArg(f, a, 1))
    }
    // keep-best-of-cluster over bounded-jaccard pairs, scored by the
    // 6-dp quality heuristic — the curation policy callable from SQL
    add("graft_keep_best", "graft_keep_best(max_df)", 1) { (s, f, a) =>
      val docs = rel(s, DocumentsRelation, f.name)
      graft.operators.Clustering.keepBest(docs,
        graft.operators.Dedup.jaccardPairs(docs, n = 3, threshold = 0.8,
          maxDf = Some(intArg(f, a, 0))),
        TextAnalysis.qualityScore(docs))
    }
    // NB quality classifier: train on doc_id % holdout_mod <> 0 with
    // pos = (lang = pos_lang), score the held-out slice
    add("graft_quality_classifier",
      "graft_quality_classifier(pos_lang, holdout_mod)", 2) { (s, f, a) =>
      import org.apache.spark.sql.functions.col
      val docs = rel(s, DocumentsRelation, f.name)
      val m = longArg(f, a, 1)
      graft.operators.QualityModels.nbQualityScores(
        docs.filter(col("doc_id") % m =!= 0),
        docs.filter(col("doc_id") % m === 0),
        col("lang") === strArg(f, a, 0))
    }
    add("graft_dsir", "graft_dsir(target_lang, top_n)", 2) { (s, f, a) =>
      import org.apache.spark.sql.functions.col
      graft.operators.QualityModels.dsirWeights(
        rel(s, DocumentsRelation, f.name),
        col("lang") === strArg(f, a, 0), intArg(f, a, 1))
    }
    add("graft_ann_mmr", "graft_ann_mmr(query_vec_id, k_cand, k_out, lambda)", 4) {
      (s, f, a) =>
        Ann.mmrTopK(rel(s, EmbeddingsRelation, f.name), longArg(f, a, 0),
          intArg(f, a, 1), intArg(f, a, 2), doubleArg(f, a, 3))
    }
    add("graft_bpe_train", "graft_bpe_train(k)", 1) { (s, f, a) =>
      graft.operators.BpeTokenizer.train(
        rel(s, DocumentsRelation, f.name), intArg(f, a, 0))
    }
    add("graft_media_neardup", "graft_media_neardup(max_hamming)", 1) { (s, f, a) =>
      graft.operators.Multimodal.mediaNearDupPairs(
        graft.operators.Multimodal.fromDocuments(rel(s, DocumentsRelation, f.name)),
        intArg(f, a, 0))
    }
    // the curation-v2 capstone from SQL: NB gate (pos = lang equality on
    // the %5 train split) → UniMax rebalance at budget_pct% → bucketed
    // batches with the score joined back — a dashboard can run the whole
    // nightly composition with one SELECT
    add("graft_curate_v2",
      "graft_curate_v2(pos_lang, budget_pct, batch_size, bucket_width)", 4) {
      (s, f, a) =>
        import org.apache.spark.sql.functions.col
        val docs = rel(s, DocumentsRelation, f.name)
        val scored = graft.operators.QualityModels.nbQualityScores(
          docs.filter(col("doc_id") % 5 =!= 0), docs,
          col("lang") === strArg(f, a, 0))
        val survivors = docs.join(
          scored.filter(col("score") > 0).select("doc_id"), "doc_id")
        val budget = survivors.count() * longArg(f, a, 1) / 100
        val picked = graft.operators.Sampling.unimaxSample(
          survivors, budget, epochs = 1.0)
        graft.operators.Packing.lengthBucketedBatches(
            picked, batchSize = intArg(f, a, 2),
            bucketWidth = intArg(f, a, 3), numShards = 4)
          .join(scored.select("doc_id", "score"), "doc_id")
          .select("doc_id", "n_tokens", "len_bucket", "shard", "batch_id", "score")
          .orderBy("doc_id")
    }
    add("graft_temperature_sample", "graft_temperature_sample(alpha)", 1) { (s, f, a) =>
      graft.operators.Sampling.temperatureSample(
        rel(s, DocumentsRelation, f.name), doubleArg(f, a, 0))
    }
    // continuous-aggregate serving: dashboards hit the materialized
    // rollup (by path) straight from SQL — the cagg-view query shape
    add("graft_cagg_query",
      "graft_cagg_query(rollup_path, subject, of, start_s, end_s, width_s)", 6) {
      (s, f, a) =>
        graft.sources.ContinuousAggregate.query(s, strArg(f, a, 0),
          strArg(f, a, 1), strArg(f, a, 2),
          longArg(f, a, 3), longArg(f, a, 4), longArg(f, a, 5))
    }
    add("graft_cagg_realtime",
      "graft_cagg_realtime(rollup_path, subject, of, start_s, end_s, width_s, stored_width_s)", 7) {
      (s, f, a) =>
        // raw tail comes from the session's conditions relation — the
        // same implicit-table convention as the dashboard functions
        graft.sources.ContinuousAggregate.queryRealtime(s, strArg(f, a, 0),
          cond(s, f), strArg(f, a, 1), strArg(f, a, 2),
          longArg(f, a, 3), longArg(f, a, 4), longArg(f, a, 5),
          longArg(f, a, 6))
    }
    add("graft_corpus_overlap",
      "graft_corpus_overlap(relation_a, relation_b, n, num_perm)", 4) {
      (s, f, a) =>
        graft.operators.Dedup.corpusOverlap(
          rel(s, strArg(f, a, 0), f.name), rel(s, strArg(f, a, 1), f.name),
          intArg(f, a, 2), intArg(f, a, 3))
    }
    add("graft_exact_norm_dedup", "graft_exact_norm_dedup()", 0) { (s, f, _) =>
      graft.operators.Dedup.exactNormalized(rel(s, DocumentsRelation, f.name))
    }
    add("graft_weighted_sample",
      "graft_weighted_sample(weight_col, k)", 2) { (s, f, a) =>
      Sampling.weightedSample(rel(s, DocumentsRelation, f.name),
        strArg(f, a, 0), intArg(f, a, 1))
    }
    add("graft_rag_retrieve_docs",
      "graft_rag_retrieve_docs(query, k)", 2) { (s, f, a) =>
      graft.operators.Rag.retrieveDocs(rel(s, DocumentsRelation, f.name),
        strArg(f, a, 0), intArg(f, a, 1))
    }
    // semantic dedup from SQL: centroids come from a named relation
    // (list_id, centroid) — a trainedCentroids dump or any seed table
    add("graft_semdedup", "graft_semdedup(centroid_relation, threshold)", 2) {
      (s, f, a) =>
        graft.operators.SemDedup.semDedup(rel(s, EmbeddingsRelation, f.name),
          rel(s, strArg(f, a, 0), f.name), doubleArg(f, a, 1))
    }
    // snapshot bookkeeping: both snapshots named by the caller
    add("graft_corpus_diff", "graft_corpus_diff(old_relation, new_relation)", 2) {
      (s, f, a) =>
        graft.operators.SnapshotDiff.diff(
          rel(s, strArg(f, a, 0), f.name), rel(s, strArg(f, a, 1), f.name))
    }
    add("graft_token_drift", "graft_token_drift(old_relation, new_relation, k)", 3) {
      (s, f, a) =>
        graft.operators.SnapshotDiff.tokenDrift(
          rel(s, strArg(f, a, 0), f.name), rel(s, strArg(f, a, 1), f.name),
          intArg(f, a, 2))
    }
    out.reverse
  }

  /** Registered function names (stable order), for docs and specs. */
  def names: Seq[String] = all.map(_.name)

  private def planBuilder(t: TableFn): Seq[Expression] => LogicalPlan = { args =>
    require(args.length == t.arity,
      s"${t.name} expects ${t.arity} arguments, got ${args.length} (usage: ${t.usage})")
    val spark = SparkSession.active
    // The builder runs on the driver during analysis; handing back the
    // method path's logical plan (over the catalog-resolved relation)
    // makes SQL-path ≡ method-path true by construction.
    t.build(spark, args).queryExecution.logical
  }

  /** Register on an existing session (temp table functions), skipping
    * names the session already holds.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.tableFunctionRegistry
    all.foreach { t =>
      if (!reg.functionExists(FunctionIdentifier(t.name)))
        reg.createOrReplaceTempFunction(t.name, planBuilder(t), "built-in")
    }
  }

  /** The same bindings as [[SparkSessionExtensions.injectTableFunction]]
    * tuples, for [[GraftExtensions]].
    */
  def injections: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] =
    all.map { t =>
      (FunctionIdentifier(t.name),
        new ExpressionInfo(SqlTableFunctions.getClass.getName, t.name),
        planBuilder(t))
    }
}
