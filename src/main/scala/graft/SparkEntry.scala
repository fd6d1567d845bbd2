package graft

import graft.functions.{Asap, TimeWeight}
import graft.queries.TimeseriesQueries._
import graft.operators.{Redaction, TextAnalysis}
import graft.sources.EventsAsConditions
import graft.streaming.GateStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StringType, TimestampType}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, concat, concat_ws, count, element_at, format_string, lit, split, sum, timestamp_seconds, unix_micros, when, round => sround}

/** Driver contract — one `queries` entry (+ matching DuckDB `oracleSql`)
  * per implemented operator from SURVEY.md §2.
  *
  * Conventions shared by the Spark queries and their oracles:
  *  - output timestamps are BIGINT epoch seconds (`time_s`) or micros
  *    (`*_us`) — engine-portable, no parquet timestamp-unit skew;
  *  - every floating-point aggregate is rounded to 6 dp on BOTH sides
  *    (aggregation order differs between engines in the last few bits);
  *  - column aliases match the oracle exactly (driver hashes by sorted
  *    column name).
  */
object SparkEntry {

  // Shared query parameters: the synthetic events table spans Jan 2024 at
  // every SF, so fixed epochs parameterize identically across scales.
  private val S1 = 1704240000L // 2024-01-03T00:00:00Z
  private val E1 = 1706400000L // 2024-01-28T00:00:00Z  (span 2_160_000 s)
  private val FS = 1704844800L // 2024-01-10T00:00:00Z
  private val FE = 1704866400L // 2024-01-10T06:00:00Z  (≤1-day branch of B3)
  private val Subject = "user_3"
  private val Of = "click"

  private def conditions(s: SparkSession, dir: String): DataFrame =
    EventsAsConditions.load(s, dir)

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scratch dir for the streaming-gate queries, deleted after use: the
    * body's result is eagerly materialized (localCheckpoint) so the
    * caller's later actions don't re-read the deleted files.
    */
  private def withTempDir(prefix: String)(body: String => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(tmp).localCheckpoint(true)
    finally deleteRecursively(new java.io.File(tmp))
  }

  private def deleteRecursively(f: java.io.File): Unit =
    graft.util.FsUtil.deleteRecursively(f)

  private def r6(df: DataFrame, cols: String*): DataFrame =
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
  private val SliceBounds = Seq(S1, 1704672000L, 1705104000L,
    1705536000L, 1705968000L, E1 + 1)

  // the no-sentinel gates (q_rate_stream, q_cagg_streamed) count pb_n
  // over their slice runs alone — no flush batch — so they keep six
  // slices to stay at pb_n = 5
  private val SliceBoundsNoSentinel = Seq(S1, 1704600000L, 1704960000L,
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
  private def withNoDataBatchesDisabled[T](s: SparkSession)(body: => T): T = {
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
  private def stageSlices(query: String, real: DataFrame, dir: String,
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
  private def drainWindowed(s: SparkSession, query: String, real: DataFrame,
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

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B1 — resolution-bounded bucketed AVG
    "q_agg" -> ((s, d) =>
      r6(aggregatedData(conditions(s, d), Subject, Of, S1, E1, 100), "avg_measurement_number")),
    // B2 — fixed-interval bucketed AVG (1 day)
    "q_agg_interval" -> ((s, d) =>
      r6(aggregatedDataByInterval(conditions(s, d), Subject, Of, S1, E1, 86400), "avg_measurement_number")),
    // B3 — >1 day branch: daily MAX
    "q_agg_day" -> ((s, d) =>
      r6(aggregatedDataByDay(conditions(s, d), Subject, Of, S1, E1), "avg_measurement_number")),
    // B3 — ≤1 day branch: fine buckets anchored at midnight
    "q_agg_day_fine" -> ((s, d) =>
      r6(aggregatedDataByDay(conditions(s, d), Subject, Of, FS, FE), "avg_measurement_number")),
    // B4 — adaptive-interval per-bucket MODE (deterministic ties)
    "q_mode" -> ((s, d) =>
      mostFrequentValueByInterval(conditions(s, d), Subject, Of, S1, E1)),
    // B5 v1 — gridded 5-point SMA (documented asap_smooth stand-in)
    "q_sampled_sma" -> ((s, d) =>
      r6(sampledDataSma(conditions(s, d), Subject, Of, S1, E1, 50), "smoothed_value")),
    // B5 — full ASAP (oracle = stage-by-stage SQL replay of the window
    // search, see asapOracleSql; plus the independent golden-file spec)
    "q_sampled_asap" -> ((s, d) =>
      r6(Asap.sampledData(s, conditions(s, d), Subject, Of, S1, E1, 50), "smoothed_value")),
    // B6 — time-weighted average, trapezoidal + LOCF
    "q_timeweight_linear" -> ((s, d) =>
      r6(TimeWeight.sampledDataWithTimeWeight(conditions(s, d), Subject, Of, S1, E1,
        TimeWeight.Linear, 100), "time_weighted_value")),
    "q_timeweight_locf" -> ((s, d) =>
      r6(TimeWeight.sampledDataWithTimeWeight(conditions(s, d), Subject, Of, S1, E1,
        TimeWeight.Locf, 100), "time_weighted_value")),
    // B7 — distinct subjects
    "q_subjects" -> ((s, d) =>
      uniqueMeasurementSubjects(conditions(s, d), Of, S1, E1)),
    // B8 — change-point filter
    "q_changepoints" -> ((s, d) =>
      filterUnchangedRows(conditions(s, d), Subject, Of, S1, E1)),
    // B9 — state intervals (clock injected = range end)
    "q_intervals" -> ((s, d) =>
      formatTimeIntervals(conditions(s, d), Subject, Of, S1, E1, clockS = E1)),
    // the dashboard-facing SQL surface: the same B1/B9 answers through the
    // registered TABLE functions (`SELECT * FROM graft_…(args)`) against
    // the session `conditions` view — hash-checked against the SAME
    // oracles as the Scala path, so SQL-path ≡ method-path is driver-
    // verified end-to-end (the per-function ≡ proof is
    // SqlTableFunctionsSpec)
    "q_sql_agg" -> ((s, d) => {
      GraftFunctions.register(s)
      conditions(s, d).createOrReplaceTempView(SqlTableFunctions.ConditionsRelation)
      r6(s.sql(s"SELECT * FROM graft_aggregated_data('$Subject', '$Of', $S1, $E1, 100)"),
        "avg_measurement_number")
    }),
    "q_sql_intervals" -> ((s, d) => {
      GraftFunctions.register(s)
      conditions(s, d).createOrReplaceTempView(SqlTableFunctions.ConditionsRelation)
      s.sql(s"SELECT * FROM graft_format_time_intervals('$Subject', '$Of', $S1, $E1, $E1)")
    }),
    // the counter family through the SQL face, sharing the method-path
    // oracle — SQL-path ≡ method-path is driver-verified end to end
    "q_sql_counter_agg" -> ((s, d) => {
      GraftFunctions.register(s)
      conditions(s, d).createOrReplaceTempView(SqlTableFunctions.ConditionsRelation)
      s.sql(s"SELECT * FROM graft_counter_agg('$Of', $S1, $E1, 21600)")
    }),
    // realtime cagg serving through the SQL face: rollup built STALE,
    // raw tail read from the session's conditions view — shares the
    // from-raw full-window oracle like the method-path row
    "q_sql_cagg_realtime" -> ((s, d) => {
      GraftFunctions.register(s)
      val c = conditions(s, d)
      c.createOrReplaceTempView(SqlTableFunctions.ConditionsRelation)
      withTempDir("graft_sql_cagg_rt") { tmp =>
        graft.sources.ContinuousAggregate.create(
          c.filter(col("timestamp") < timestamp_seconds(lit(1705536000L))),
          s"$tmp/agg", widthS = 3600)
        s.sql(s"SELECT * FROM graft_cagg_realtime('$tmp/agg', '$Subject', '$Of', $S1, $E1, 86400, 3600)")
      }
    }),
    "q_sql_corpus_overlap" -> ((s, d) => {
      GraftFunctions.register(s)
      val docs = table(s, d, "documents")
      docs.filter(col("doc_id") % 2 === 0).createOrReplaceTempView("graft_corpus_a")
      docs.filter(col("doc_id") % 2 === 1).createOrReplaceTempView("graft_corpus_b")
      s.sql("SELECT * FROM graft_corpus_overlap('graft_corpus_a', 'graft_corpus_b', 3, 32)")
    }),
    "q_sql_exact_norm" -> ((s, d) => {
      GraftFunctions.register(s)
      val docs = table(s, d, "documents")
      val planted = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(org.apache.spark.sql.functions.upper(col("text")), lit("!!")).as("text"))
      docs.select("doc_id", "text").unionByName(planted)
        .createOrReplaceTempView(SqlTableFunctions.DocumentsRelation)
      s.sql("SELECT * FROM graft_exact_norm_dedup()")
    }),
    // SQL face of the intra-doc line dedup over the SAME echoed planted
    // corpus as q_line_dedup_intra — plan identity by construction, the
    // two rows share one oracle
    "q_sql_line_dedup_intra" -> ((s, d) => {
      GraftFunctions.register(s)
      val planted = plantedLines(s, d)
      planted.select(col("doc_id"),
          concat_ws("\n", col("text"),
            element_at(split(col("text"), "\n"), 1),
            element_at(split(col("text"), "\n"), 1)).as("text"))
        .createOrReplaceTempView(SqlTableFunctions.DocumentsRelation)
      s.sql("SELECT * FROM graft_line_dedup_intra()")
    }),
    "q_sql_weighted_sample" -> ((s, d) => {
      GraftFunctions.register(s)
      table(s, d, "documents")
        .createOrReplaceTempView(SqlTableFunctions.DocumentsRelation)
      s.sql("SELECT * FROM graft_weighted_sample('n_chars', 100)")
    }),
    "q_sql_counter_rollup" -> ((s, d) => {
      GraftFunctions.register(s)
      conditions(s, d).createOrReplaceTempView(SqlTableFunctions.ConditionsRelation)
      s.sql(s"SELECT * FROM graft_counter_rollup('$Of', $S1, $E1, 21600, 604800)")
    }),
    "q_sql_histogram" -> ((s, d) => {
      GraftFunctions.register(s)
      conditions(s, d).createOrReplaceTempView(SqlTableFunctions.ConditionsRelation)
      s.sql(s"SELECT * FROM graft_histogram_agg('$Of', $S1, $E1, 21600, 0.0, 20.0, 10)")
    }),
    "q_sql_state" -> ((s, d) => {
      GraftFunctions.register(s)
      conditions(s, d).createOrReplaceTempView(SqlTableFunctions.ConditionsRelation)
      s.sql(s"SELECT * FROM graft_state_durations('$Of', $S1, $E1)")
    }),
    "q_sql_gaps" -> ((s, d) => {
      GraftFunctions.register(s)
      conditions(s, d).createOrReplaceTempView(SqlTableFunctions.ConditionsRelation)
      s.sql(s"SELECT * FROM graft_gaps('$Of', $S1, $E1, 50)")
    }),
    "q_sql_hampel" -> ((s, d) => {
      GraftFunctions.register(s)
      conditions(s, d).createOrReplaceTempView(SqlTableFunctions.ConditionsRelation)
      s.sql(s"SELECT * FROM graft_hampel('$Of', $S1, $E1, 86400, 3)")
    }),
    // the rule battery through SQL, over the registered documents view
    "q_sql_gopher" -> ((s, d) => {
      GraftFunctions.register(s)
      table(s, d, "documents")
        .createOrReplaceTempView(SqlTableFunctions.DocumentsRelation)
      s.sql("SELECT * FROM graft_gopher(50, 100000)")
    }),
    // the pipeline surface through SQL: ANN serving and the epoch
    // shuffle called as table functions over registered views — each
    // shares its method-path oracle (the builder returns the method's
    // own logical plan, so this pins registration, not new semantics)
    "q_sql_ann_topk" -> ((s, d) => {
      GraftFunctions.register(s)
      table(s, d, "embeddings")
        .createOrReplaceTempView(SqlTableFunctions.EmbeddingsRelation)
      s.sql("SELECT * FROM graft_ann_topk(0, 20)")
    }),
    "q_sql_curate_v2" -> ((s, d) => {
      GraftFunctions.register(s)
      table(s, d, "documents")
        .createOrReplaceTempView(SqlTableFunctions.DocumentsRelation)
      s.sql("SELECT * FROM graft_curate_v2('en', 60, 8, 16)")
    }),
    "q_sql_quality" -> ((s, d) => {
      GraftFunctions.register(s)
      table(s, d, "documents")
        .createOrReplaceTempView(SqlTableFunctions.DocumentsRelation)
      s.sql("SELECT * FROM graft_quality_classifier('en', 5)")
    }),
    "q_sql_mmr" -> ((s, d) => {
      GraftFunctions.register(s)
      table(s, d, "embeddings")
        .createOrReplaceTempView(SqlTableFunctions.EmbeddingsRelation)
      s.sql("SELECT * FROM graft_ann_mmr(0, 20, 8, 0.7)")
    }),
    "q_sql_shuffle" -> ((s, d) => {
      GraftFunctions.register(s)
      table(s, d, "documents")
        .createOrReplaceTempView(SqlTableFunctions.DocumentsRelation)
      s.sql("""SELECT doc_id, shard, global_pos FROM graft_epoch_shuffle(42, 1, 7)
              |ORDER BY global_pos""".stripMargin)
    }),
    // the full export composition through SQL — same plan by
    // construction, shares the q_training_export oracle
    "q_sql_export" -> ((s, d) => {
      GraftFunctions.register(s)
      val docs = table(s, d, "documents")
      docs.createOrReplaceTempView(SqlTableFunctions.DocumentsRelation)
      docs.filter(col("doc_id") % 7 === 0)
        .createOrReplaceTempView("graft_bench_slice")
      s.sql("""SELECT doc_id, shard, global_pos
              |FROM graft_training_export('graft_bench_slice', 42, 1, 7)
              |ORDER BY global_pos""".stripMargin)
    }),
    // persisted-index serving via SQL: index built once, then queried
    // by table name at nProbe = nlist (exact ⇒ brute-force oracle)
    "q_sql_ivf_topk" -> ((s, d) => {
      GraftFunctions.register(s)
      graft.operators.Ann.writeIvfIndex(table(s, d, "embeddings"),
        "graft_sql_ivf_idx", nlist = 16)
      s.sql("SELECT * FROM graft_ivf_topk('graft_sql_ivf_idx', 0, 20, 16)")
    }),
    // keyless point-in-interval join: EVERY subject's events labeled with
    // the reference subject's active state interval — binned equi-join
    // ([[graft.queries.IntervalJoin]]), never a BroadcastNestedLoopJoin
    "q_interval_join" -> ((s, d) => {
      val c = conditions(s, d)
      val intervals = formatTimeIntervals(c, Subject, Of, S1, E1, clockS = E1)
      val points = scan(c, Of, S1, E1)
        .select(unix_micros(col("timestamp")).as("ts_us"), col("measurement_subject"))
      graft.queries.IntervalJoin.pointInInterval(points, intervals,
          "ts_us", "time_us", "time_end_us", binWidthUs = 6L * 3600 * 1000000)
        .select(col("ts_us"), col("measurement_subject"),
          col("measurement_string").as("state"))
        .orderBy("ts_us", "measurement_subject")
    }),
    // sessionization: gap > 2h opens a new session, all subjects
    "q_sessions" -> ((s, d) =>
      sessionize(conditions(s, d), Of, S1, E1, gapS = 7200)),
    // sensor-outage report: 50 largest consecutive-event gaps (downtime
    // seen from the other side of sessionize); all-integer µs arithmetic
    "q_gaps" -> ((s, d) =>
      graft.queries.TimeseriesQueries.largestGaps(conditions(s, d), Of, S1, E1, topN = 50)),
    // Hampel outliers per (subject, day): |x - median| > 3 MAD over
    // integer cents — medians/MADs are dyadic, so the flag comparison
    // has no FP boundary and the oracle replays it bit-exactly
    "q_outliers" -> ((s, d) =>
      graft.queries.TimeseriesQueries.hampelOutliers(
        conditions(s, d), Of, S1, E1, widthS = 86400)),
    // the approximate-quantile Hampel tier (bounded summary state — the
    // hot-subject escape hatch). For groups with n ≤ accuracy the rank
    // error is < 1, so approx_percentile deterministically returns the
    // lower-middle group ELEMENT — exactly DuckDB's quantile_disc — and
    // the full output (med/mad included, as BIGINTs) replays exactly.
    // The >accuracy regime's error bound is scaladoc'd; the exact tier
    // (q_outliers) stays the interpolated-median contract.
    "q_outliers_approx" -> ((s, d) =>
      graft.queries.TimeseriesQueries.hampelOutliersApprox(
        conditions(s, d), Of, S1, E1, widthS = 86400)),
    // counter-to-rate: consecutive deltas with reset detection, exact
    // integer outputs (the synthetic series isn't monotone, so resets
    // are exercised heavily — which is the point of the contract)
    "q_rate" -> ((s, d) =>
      graft.queries.TimeseriesQueries.counterToRate(conditions(s, d), Of, S1, E1)),
    // the live counter face: one (last_t, last_c) state pair per subject,
    // batch-boundary pairs bridged by the carry — feeding the range in
    // three ordered slices must reproduce the batch q_rate stream exactly
    "q_rate_stream" -> ((s, d) => {
      val real = scan(conditions(s, d), Of, S1, E1)
        .filter(col("measurement_number").isNotNull)
        .select("measurement_subject", "measurement_of", "measurement_number",
          "timestamp")
      withTempDir("graft_rate_stream") { tmp =>
        def run(): Unit = BenchPhases.drainTimed("q_rate_stream")(
          GateStream.startParquet(s, s"$tmp/input", s"$tmp/out", s"$tmp/cp")(
            graft.streaming.CounterStream.deltas(
              GateStream.read(s, s"$tmp/input", real.schema), Of)))
        // six non-overlapping, time-ascending slices; each is ONE file
        // so AvailableNow cannot split it out of order
        stageSlices("q_rate_stream", real, s"$tmp/input",
          SliceBoundsNoSentinel)(() => run())
        s.read.parquet(s"$tmp/out")
          .orderBy("measurement_subject", "t_start_us", "t_end_us", "dv_scaled")
      }
    }),
    // counter_agg rollup (toolkit counter summary): reset-aware delta /
    // num_resets / rate per (subject, 6 h bucket) — exact cents until the
    // one final divide
    "q_counter_agg" -> ((s, d) =>
      graft.queries.TimeseriesQueries.counterAgg(conditions(s, d), Of, S1, E1,
        bucketS = 21600)),
    // the counter-summary ⊕ contract: 6 h partials (with boundary
    // readings) bridge-merged to WEEKLY summaries must equal computing
    // the weekly counters directly from raw rows — the oracle does the
    // latter, so the hash match proves the merge algebra exactly
    "q_counter_rollup" -> ((s, d) =>
      graft.queries.TimeseriesQueries.counterRollup(
        graft.queries.TimeseriesQueries.counterPartials(conditions(s, d), Of, S1, E1,
          widthS = 21600),
        coarseS = 604800)),
    // M4 visualization downsample: the ≤4 extremum rows (min/max time,
    // min/max value, ties kept) per (subject, 6 h pixel bucket)
    "q_m4" -> ((s, d) =>
      graft.queries.TimeseriesQueries.m4Downsample(conditions(s, d), Of, S1, E1,
        bucketS = 21600)),
    // idelta_right/irate: the LAST pair's instantaneous delta and rate
    // per bucket — the live-dashboard slope
    "q_counter_idelta" -> ((s, d) =>
      graft.queries.TimeseriesQueries.counterIdelta(conditions(s, d), Of, S1, E1,
        bucketS = 21600)),
    // fixed-bin histogram per (subject, 6 h bucket): [0, 20) in 10 bins,
    // under/overflow clamped, exact-cents bin membership
    "q_histogram" -> ((s, d) =>
      graft.queries.TimeseriesQueries.histogramAgg(conditions(s, d), Of, S1, E1,
        bucketS = 21600, lo = 0.0, hi = 20.0, nbins = 10)),
    // the ops-side data card: per-metric volume, subject cardinality,
    // time extent, null count, exact-cents mean
    "q_conditions_report" -> ((s, d) =>
      graft.queries.TimeseriesQueries.conditionsReport(conditions(s, d), S1, E1)),
    // gauge_agg: signed last-minus-first delta + min/max envelope —
    // the counter family for metrics that legitimately go down
    "q_gauge_agg" -> ((s, d) =>
      graft.queries.TimeseriesQueries.gaugeAgg(conditions(s, d), Of, S1, E1,
        bucketS = 21600)),
    // interpolated counter rate: cross-edge increments credited
    // proportionally to the buckets they span; rate over the full bucket
    // width (edge-to-edge interpolation leaves no dead time)
    "q_counter_interp" -> ((s, d) =>
      graft.queries.TimeseriesQueries.interpolatedCounterRate(conditions(s, d),
        Of, S1, E1, bucketS = 21600)),
    // SAX: PAA + z-normalized 4-letter quantization at the Gaussian
    // breakpoints; exact integer partials → token-identical doubles
    "q_sax" -> ((s, d) =>
      graft.queries.TimeseriesQueries.saxSymbols(conditions(s, d), Of, S1, E1,
        bucketS = 21600)),
    // toolkit interpolated_average: LOCF time-weighted bucket means whose
    // step function extends across bucket edges (head from the last
    // reading before the bucket, tail held to bucket end) — exact
    // cents×µs integrals, one divide at the end
    "q_timeweight_interp" -> ((s, d) =>
      graft.queries.TimeseriesQueries.interpolatedTimeWeight(conditions(s, d),
        Of, S1, E1, bucketS = 21600)),
    // truncated EWMA trend line: 8 dyadic taps (α=1/2 ⇒ every weight
    // exact), head-normalized — the smoothing face of the rollup family
    "q_ewma" -> ((s, d) =>
      graft.queries.TimeseriesQueries.ewmaSmooth(conditions(s, d), Of, S1, E1)),
    // one-sided CUSUM drift: the max(0, S+d) recurrence via its
    // running-sum-minus-running-min closed form — window algebra,
    // integer-exact in cents (target 50.00, slack 10.00, h 500.00)
    "q_cusum" -> ((s, d) =>
      graft.queries.TimeseriesQueries.cusumDrift(conditions(s, d), Of, S1, E1,
        targetCents = 5000, slackCents = 1000, threshCents = 50000)),
    // rolling window stats (last-5-readings count/sum/min/max per
    // subject): single window pass, integer-exact outputs
    "q_rolling" -> ((s, d) =>
      graft.queries.TimeseriesQueries.rollingStats(conditions(s, d), Of, S1, E1, k = 5)),
    // seasonal-baseline outliers: per-(subject, hour-of-day) median/MAD
    // profile from the first week, scored against the rest of the range —
    // the diurnal-pattern anomaly rule, dyadic-integer exact
    "q_seasonal" -> ((s, d) =>
      graft.queries.TimeseriesQueries.seasonalOutliers(conditions(s, d), Of,
        baseStartS = S1, baseEndS = FS, evalStartS = FS + 1, evalEndS = E1)),
    // retention cohorts: first-active day → activity per day offset
    "q_retention" -> ((s, d) =>
      graft.queries.EventAnalytics.retentionCohorts(conditions(s, d), Of, S1, E1)),
    // EAV-to-wide pivot: daily (subject, bucket) rows, one avg column per
    // metric — ONE conditional hash agg, no pivot distinct-scan
    "q_pivot" -> ((s, d) =>
      graft.queries.EventAnalytics.pivotWide(conditions(s, d),
        Seq("click", "view", "purchase"), S1, E1, widthS = 86400)),
    // composable stats_agg (Timescale toolkit stats_agg 1D+2D): exact
    // BIGINT partials (n, Σx, Σy, Σx², Σy², Σxy) per (subject, day) +
    // derived avg/var/stddev/OLS slope/intercept/Pearson corr — the
    // double formulas run token-identically in the oracle over the same
    // exact integers
    "q_stats_agg" -> ((s, d) =>
      graft.queries.TimeseriesQueries.statsDerive(
        graft.queries.TimeseriesQueries.statsAgg(conditions(s, d), Of, S1, E1,
          widthS = 86400))),
    // the additivity contract: day partials re-aggregated by plain sum()
    // to whole-range per-subject stats — bit-identical to computing the
    // coarse level directly, which is what lets a continuous-aggregate
    // tier serve ANY rollup from stored partials
    "q_stats_rollup" -> ((s, d) => {
      val p = graft.queries.TimeseriesQueries.statsAgg(conditions(s, d), Of, S1, E1,
        widthS = 86400)
      graft.queries.TimeseriesQueries.statsDerive(
        p.groupBy("measurement_subject")
          .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
            sum("sxx").as("sxx"), sum("syy").as("syy"), sum("sxy").as("sxy")))
        .orderBy("measurement_subject")
    }),
    // LTTB downsampling (Timescale toolkit lttb): threshold=20 points per
    // subject, integer-exact triangle argmax, sequential selection
    // replayed by the oracle as an unrolled per-bucket CTE chain
    "q_lttb" -> ((s, d) =>
      graft.functions.Lttb.downsample(conditions(s, d), Of, S1, E1, threshold = 20)),
    // OHLC candlestick bars (Timescale toolkit candlestick_agg): one hash
    // aggregation, open/close via min_by/max_by over a composite
    // (ts, value) key so duplicate-timestamp ties are deterministic
    "q_ohlc" -> ((s, d) =>
      graft.queries.TimeseriesQueries.ohlcBars(conditions(s, d), Of, S1, E1,
        widthS = 86400)),
    // heartbeat/uptime aggregation (Timescale toolkit heartbeat_agg):
    // liveness-union via one lead window, exact µs integer outputs
    "q_uptime" -> ((s, d) =>
      graft.queries.TimeseriesQueries.heartbeatUptime(conditions(s, d), Of, S1, E1,
        heartbeatS = 43200)),
    // time-in-state durations (Timescale toolkit state_agg): LOCF state
    // intervals summed per (subject, state) + maximal-run counts, one
    // shared window sort — exact µs integers
    "q_state" -> ((s, d) =>
      graft.queries.TimeseriesQueries.stateDurations(conditions(s, d), Of, S1, E1)),
    // time_bucket_gapfill + LOCF: dense (subject × bucket) grid, empty
    // buckets carry the last observed bucket AVG forward; the fill uses
    // the engine-portable gaps-and-islands trick (no IGNORE NULLS)
    "q_gapfill_locf" -> ((s, d) =>
      graft.queries.TimeseriesQueries.gapfill(conditions(s, d), Of, S1, E1,
        widthS = 86400, graft.queries.GapfillLocf)),
    // time_bucket_gapfill + linear interpolation between observed buckets
    "q_gapfill_linear" -> ((s, d) =>
      graft.queries.TimeseriesQueries.gapfill(conditions(s, d), Of, S1, E1,
        widthS = 86400, graft.queries.GapfillLinear)),
    // continuous aggregate: hourly integer-partial rollup materialized,
    // then the DAILY dashboard answer served by re-aggregating stored
    // partials (Σsum/Σcount — exact, half-open bucket containment);
    // oracle replays the quantize → sum → divide arithmetic on the raw
    // events directly
    "q_cagg" -> ((s, d) =>
      withTempDir("graft_cagg") { tmp =>
        graft.sources.ContinuousAggregate.create(conditions(s, d), s"$tmp/agg",
          widthS = 3600)
        graft.sources.ContinuousAggregate.query(s, s"$tmp/agg", Subject, Of,
          S1, E1, widthS = 86400)
      }),
    // the stream-maintained rollup (the 7th external-state streaming
    // family — state IS the rollup table): three ordered slices append
    // to the raw store and refresh the touched dates; serving afterward
    // must equal computing from raw rows
    "q_cagg_streamed" -> ((s, d) => {
      val real = during(conditions(s, d), S1, E1)
        .filter(col("timestamp") < timestamp_seconds(lit(E1)))
      withTempDir("graft_cagg_stream") { tmp =>
        def run(): Unit = BenchPhases.drainTimed("q_cagg_streamed")(
          graft.streaming.CaggStream.start(s, s"$tmp/input", s"$tmp/store",
            s"$tmp/agg", s"$tmp/cp", widthS = 3600))
        // real is already bounded < E1, so the shared inclusive slice
        // grid stages exactly the same rows
        stageSlices("q_cagg_streamed", real, s"$tmp/input",
          SliceBoundsNoSentinel)(() => run())
        graft.sources.ContinuousAggregate.query(s, s"$tmp/agg", Subject, Of,
          S1, E1, widthS = 86400)
      }
    }),
    // REAL-TIME cagg serving (Timescale materialized_only=false): the
    // rollup is built STALE — only events before the mid-window horizon
    // are materialized — then served over the FULL window; the answer
    // must equal computing everything from raw because the serve path
    // unions stored partials with the raw tail past the watermark.
    // Materialized-only serving provably loses the tail (spec-pinned);
    // the oracle replays the whole window from raw events directly.
    "q_cagg_realtime" -> ((s, d) =>
      withTempDir("graft_cagg_rt") { tmp =>
        val c = conditions(s, d)
        val staleHorizonS = 1705536000L // 2024-01-18, bucket-aligned
        graft.sources.ContinuousAggregate.create(
          c.filter(col("timestamp") < timestamp_seconds(lit(staleHorizonS))),
          s"$tmp/agg", widthS = 3600)
        graft.sources.ContinuousAggregate.queryRealtime(s, s"$tmp/agg", c,
          Subject, Of, S1, E1, widthS = 86400, storedWidthS = 3600)
      }),
    // distinct-count continuous aggregate: hourly mergeable distinct
    // state (sorted subject arrays = exact tier; HLL sketches = the
    // unbounded-cardinality tier, spec-gated), daily distinct-subject
    // counts served by unioning stored arrays
    "q_cagg_distinct" -> ((s, d) =>
      withTempDir("graft_cagg_d") { tmp =>
        graft.sources.ContinuousAggregate.createDistinct(conditions(s, d),
          s"$tmp/agg", widthS = 3600)
        graft.sources.ContinuousAggregate.queryDistinct(s, s"$tmp/agg", Of,
          S1, E1, widthS = 86400)
      }),
    // realtime face of the distinct cagg: stale hourly subject-array
    // store union the raw tail, daily distinct counts over the union —
    // exact (set union of exact sets), shares the q_cagg_distinct oracle
    "q_cagg_distinct_realtime" -> ((s, d) =>
      withTempDir("graft_cagg_drt") { tmp =>
        val c = conditions(s, d)
        graft.sources.ContinuousAggregate.createDistinct(
          c.filter(col("timestamp") < timestamp_seconds(lit(1705536000L))),
          s"$tmp/agg", widthS = 3600)
        graft.sources.ContinuousAggregate.queryDistinctRealtime(s, s"$tmp/agg",
          c, Of, S1, E1, widthS = 86400, storedWidthS = 3600)
      }),
    // stats_agg continuous aggregate: hourly six-moment partials with
    // per-bucket x anchors, served DAILY via the exact integer moment
    // translation (x' = x + δ) — the oracle computes at the daily anchor
    // directly, so the hash match proves the translation algebra
    "q_cagg_stats" -> ((s, d) =>
      withTempDir("graft_cagg_s") { tmp =>
        graft.sources.ContinuousAggregate.createStats(conditions(s, d),
          s"$tmp/agg", widthS = 3600)
        graft.sources.ContinuousAggregate.queryStats(s, s"$tmp/agg", Subject,
          Of, S1, E1, widthS = 86400)
      }),
    // realtime face of the stats cagg: stale hourly moment store union
    // raw-computed tail partials, translated to daily anchors and
    // derived — bit-identical to the from-raw daily compute, so it
    // shares q_cagg_stats's oracle
    "q_cagg_stats_realtime" -> ((s, d) =>
      withTempDir("graft_cagg_srt") { tmp =>
        val c = conditions(s, d)
        graft.sources.ContinuousAggregate.createStats(
          c.filter(col("timestamp") < timestamp_seconds(lit(1705536000L))),
          s"$tmp/agg", widthS = 3600)
        graft.sources.ContinuousAggregate.queryStatsRealtime(s, s"$tmp/agg",
          c, Subject, Of, S1, E1, widthS = 86400, storedWidthS = 3600)
      }),
    // composable percentile sketch (Timescale percentile_agg / uddsketch
    // shape): hourly (bl, sub) log-bucket count partials materialized
    // date-partitioned, then DAILY p50/p95/p99 served by merging counts
    // and walking cumulative ranks — all integer arithmetic (bin() bit
    // length, shifts, ceil-rank via div), so the oracle replays it
    // bit-for-bit
    "q_psketch" -> ((s, d) =>
      withTempDir("graft_psketch") { tmp =>
        graft.sources.PercentileSketch.create(conditions(s, d), s"$tmp/sk", Of,
          S1, E1, widthS = 3600, subBits = 6)
        graft.sources.PercentileSketch.query(s, s"$tmp/sk", S1, E1,
          widthS = 86400, subBits = 6)
      }),
    // streaming OHLC through the gate: tumbling windows + watermark with
    // the SAME composite-key min_by/max_by aggregates as the batch tier —
    // state is one partial OHLC row per open (window, subject); sentinel
    // flush as in q_agg_interval_stream; shares the batch-replay oracle
    "q_ohlc_stream" -> ((s, d) => {
      val real = scan(conditions(s, d), Of, S1, E1)
        .filter(col("measurement_number").isNotNull)
        .select("measurement_subject", "measurement_number", "timestamp")
      withTempDir("graft_ohlc_stream") { tmp =>
        drainWindowed(s, "q_ohlc_stream", real, tmp)(
          graft.queries.TimeseriesQueries.streamingOhlc(_, intervalS = 86400))
          .orderBy("time_us", "measurement_subject")
      }
    }),
    // streaming stats_agg: daily tumbling windows + watermark emit the
    // six exact partials on window close (state = one partial row per
    // open (window, subject)); derived stats computed on the stored
    // partials at read — shares the batch day-window oracle
    "q_stats_stream" -> ((s, d) => {
      val real = scan(conditions(s, d), Of, S1, E1)
        .filter(col("measurement_number").isNotNull)
        .select("measurement_subject", "measurement_number", "timestamp")
      withTempDir("graft_stats_stream") { tmp =>
        graft.queries.TimeseriesQueries.statsDerive(
          drainWindowed(s, "q_stats_stream", real, tmp)(
            graft.queries.TimeseriesQueries.streamingStatsAgg(_, intervalS = 86400)))
          .orderBy("measurement_subject", "time_s")
      }
    }),
    // the event-time tumbling-window aggregation through the streaming
    // gate: same sentinel-flush pattern as q_sessions_stream. Uses the
    // exact-integer projection (sum of value×100 + count — see
    // streamingIntervalStats) because a rounded double AVG of
    // 2-decimal-quantized inputs structurally lands ON 6-decimal rounding
    // ties that the two engines break differently; oracle = the window
    // replayed as epoch-aligned integer bucketing over every (subject,
    // of) group
    "q_agg_interval_stream" -> ((s, d) => {
      val real = during(conditions(s, d), S1, E1)
        .select("measurement_subject", "measurement_of", "measurement_number", "timestamp")
      withTempDir("graft_aggint_stream") { tmp =>
        drainWindowed(s, "q_agg_interval_stream", real, tmp)(
          graft.queries.TimeseriesQueries.streamingIntervalStats(_, intervalS = 86400))
          .orderBy("time_us", "measurement_subject", "measurement_of")
      }
    }),
    // the SAME sessionization through Structured Streaming's
    // session_window (append mode + watermark), via the streaming gate
    // pattern: the fixed event set is streamed under AvailableNow, then a
    // far-future SENTINEL event advances the watermark past every real
    // session's close so append mode emits them all (the watermark
    // advance triggers Spark's no-data batch, which evicts the closed
    // state within the same run — verified green at both SFs, and the
    // per-round driver gate would catch a regression). The sentinel's
    // own still-open session is filtered out.
    // Oracle = the batch q_sessions oracle without the session ordinal.
    "q_sessions_stream" -> ((s, d) => {
      val real = scan(conditions(s, d), Of, S1, E1)
        .select("measurement_subject", "timestamp")
      withTempDir("graft_sess_stream") { tmp =>
        drainWindowed(s, "q_sessions_stream", real, tmp)(
          graft.queries.TimeseriesQueries.streamingSessionize(_, gapS = 7200))
          .orderBy("measurement_subject", "session_start_us")
      }
    }),

    // ---- LLM-data-pipeline operators (documents / embeddings tables) ----
    // exact dedup: one representative per distinct content hash
    "q_dedup_exact" -> ((s, d) =>
      graft.operators.Dedup.exact(table(s, d, "documents"))),
    // C4/RefinedWeb line-level dedup: the corpus has no newlines, so the
    // gate deterministically re-chunks each doc into 12-token lines
    // (replayed token-for-token by the oracle), then keeps every line
    // only at its global first (doc_id, idx) occurrence and reassembles
    // the docs — fully-claimed docs disappear
    "q_line_dedup" -> ((s, d) =>
      graft.operators.Dedup.lineDedup(plantedLines(s, d))),
    // incremental line dedup vs the persisted line-claim index (even docs
    // play yesterday's corpus): batch lines lose to index claims, then
    // cross-doc first-occurrence within the batch — per-batch cost is
    // independent of index history
    "q_line_dedup_idx" -> ((s, d) => {
      val planted = plantedLines(s, d)
      graft.operators.Dedup.writeLineIndex(
        planted.filter(col("doc_id") % 2 === 0), "graft_line_index")
      graft.operators.Dedup.lineDedupAgainstIndex(
        planted.filter(col("doc_id") % 2 === 1), "graft_line_index")
    }),
    // the STREAMING line gate (fourth index family to gate streams):
    // index-only claims + per-doc repeat collapse, so the stored result
    // is identical under any micro-batching and the oracle replays it
    "q_line_dedup_stream" -> ((s, d) => {
      val planted = plantedLines(s, d)
      BenchPhases.timed("q_line_dedup_stream", "build")(
        graft.operators.Dedup.writeLineIndex(
          planted.filter(col("doc_id") % 2 === 0), "graft_stream_line_index"))
      withTempDir("graft_line_stream") { tmp =>
        BenchPhases.timed("q_line_dedup_stream", "stage")(
          planted.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
            .repartition(6).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_line_dedup_stream")(
          graft.streaming.DedupStream.startLines(s, s"$tmp/input",
              "graft_stream_line_index", s"$tmp/out", s"$tmp/cp",
              maxFilesPerTrigger = Some(1)))
        // explicit projection: the sink's batch_id partition column is
        // write-side replay bookkeeping, not part of the result
        s.read.parquet(s"$tmp/out").select("doc_id", "text").orderBy("doc_id")
      }
    }),
    // INTRA-document repeated-line removal (RefinedWeb within-page
    // dedup): the gate echoes each planted doc's first line twice onto
    // its tail, then the map-only dedup must strip both echoes (plus any
    // natural repeats) keeping first occurrences in order — the oracle
    // replays echo construction and first-occurrence collapse
    "q_line_dedup_intra" -> ((s, d) => {
      val planted = plantedLines(s, d)
      val echoed = planted.select(col("doc_id"),
        concat_ws("\n", col("text"),
          element_at(split(col("text"), "\n"), 1),
          element_at(split(col("text"), "\n"), 1)).as("text"))
      graft.operators.Dedup.lineDedupWithinDoc(echoed)
    }),
    // exact n-gram Jaccard similarity join (oracle baseline)
    "q_dedup_jaccard" -> ((s, d) =>
      graft.operators.Dedup.jaccardPairs(table(s, d, "documents"), n = 3, threshold = 0.8)),
    // scale-safe Jaccard: the stop-shingle df cutoff wired into a contract
    // config (maxDf = 10 — actually prunes at sf0.1, where shingle df
    // reaches 25). The oracle replays the cutoff in SQL exactly, so the
    // hash match is independent of whether pruning changes results — on
    // THIS corpus it does (the synthetic duplicates share the corpus's
    // hottest shingles, so no pruning k preserves equality; computed
    // jaccard is a lower bound, output ⊆ exact — see
    // BoundedJaccardSpec for the corpus-conditional equality proof)
    "q_dedup_jaccard_bounded" -> ((s, d) =>
      graft.operators.Dedup.jaccardPairs(table(s, d, "documents"), n = 3, threshold = 0.8,
        maxDf = Some(10))),
    // which sources duplicate into which: bounded-Jaccard pairs joined to
    // both sides' source labels — the corpus-provenance QA view
    "q_dup_source_matrix" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      graft.operators.Dedup.jaccardPairs(docs, n = 3, threshold = 0.8, maxDf = Some(10))
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), "doc_b")
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }),
    // transitive duplicate CLUSTERS over the bounded-Jaccard pair graph:
    // large-star/small-star star contraction (O(log² n) rounds, each a
    // node-keyed shuffle) vs the oracle's recursive-CTE reachability
    // closure — every doc labeled, singletons by themselves
    "q_dedup_clusters" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Clustering.assignComponents(docs,
          graft.operators.Dedup.jaccardPairs(docs, n = 3, threshold = 0.8, maxDf = Some(10)))
        .orderBy("doc_id")
    }),
    // incremental cluster maintenance: yesterday's assignment (even-only
    // pair graph) + today's new pairs (those touching odd docs) must
    // reproduce the full-graph clusters EXACTLY — shares the
    // q_dedup_clusters oracle, so the incremental path is hash-checked
    // against the from-scratch closure
    "q_dedup_clusters_inc" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val pairs = graft.operators.Dedup
        .jaccardPairs(docs, n = 3, threshold = 0.8, maxDf = Some(10))
        .localCheckpoint(true) // feeds both slices below — one evaluation
      val oldAssign = graft.operators.Clustering.connectedComponents(
        pairs.filter(col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0))
      val updated = graft.operators.Clustering.updateComponents(oldAssign,
        pairs.filter(col("doc_a") % 2 === 1 || col("doc_b") % 2 === 1))
        .withColumnRenamed("node", "doc_id")
      docs.select(col("doc_id").cast("long").as("doc_id"))
        .join(updated, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
        .orderBy("doc_id")
    }),
    // keep-one-per-cluster dedup: the anti-join key set is only the
    // non-representatives, so the corpus side stays narrow
    "q_dedup_reps" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Clustering.keepRepresentatives(docs,
          graft.operators.Dedup.jaccardPairs(docs, n = 3, threshold = 0.8, maxDf = Some(10)))
        .select("doc_id")
        .orderBy("doc_id")
    }),
    // threshold sensitivity: pair counts at 0.7/0.8/0.9 from ONE pair
    // pass — the tuning sweep a dedup rollout runs before fixing its
    // threshold
    "q_dedup_sensitivity" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Dedup.jaccardPairs(docs, n = 3, threshold = 0.7, maxDf = Some(10))
        .agg(count(lit(1)).as("pairs_at_070"),
          sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)).as("pairs_at_080"),
          sum(when(col("jaccard") >= 0.9, 1L).otherwise(0L)).as("pairs_at_090"))
    }),
    // the provenance diagnostic: near-dup pair mass by (source, source)
    "q_dedup_matrix" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Dedup.sourcePairMatrix(docs,
        graft.operators.Dedup.jaccardPairs(docs, n = 3, threshold = 0.8, maxDf = Some(10)))
    }),
    // the vector-side data card: per-label counts, zero-norm drops,
    // dimension envelope, mean L2 norm
    "q_embed_report" -> ((s, d) =>
      graft.operators.Ann.embeddingReport(table(s, d, "embeddings"))),
    // keep-BEST-per-cluster: survivor = cluster argmax of the 6-dp quality
    // score (tie → min id) — the curation-grade policy; score join ∝ the
    // duplicated subset only
    "q_dedup_keep_best" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Clustering.keepBest(docs,
          graft.operators.Dedup.jaccardPairs(docs, n = 3, threshold = 0.8, maxDf = Some(10)),
          graft.operators.TextAnalysis.qualityScore(docs))
        .select("doc_id")
        .orderBy("doc_id")
    }),
    // MinHash-LSH near-dups, exact-verified (scale path) — oracle-checked
    // against the exact DuckDB Jaccard join. Precision is exact by
    // construction; the hash match is an empirical recall check for THIS
    // corpus and seed set (per-pair recall at j=0.8 with bands=16/rows=4
    // is ~0.9998, not 1 — re-validate per scale factor)
    "q_dedup_minhash" -> ((s, d) =>
      graft.operators.Dedup.minhashPairs(table(s, d, "documents"), threshold = 0.8)),
    // incremental dedup: odd doc_ids play today's batch, even ids the
    // accumulated index — no index×index pair is ever formed
    "q_dedup_incremental" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Dedup.minhashPairsIncremental(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
    }),
    // normalized-exact dedup: uppercase+punctuation clones of every 20th
    // doc are planted; normalization collapses them onto their originals
    // (min doc_id wins), which byte-exact dedup provably would not
    "q_dedup_exact_norm" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val planted = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(org.apache.spark.sql.functions.upper(col("text")), lit("!!")).as("text"))
      graft.operators.Dedup.exactNormalized(
        docs.select("doc_id", "text").unionByName(planted))
    }),
    // corpus-level overlap triage: k-min-value Jaccard estimate between
    // the even- and odd-doc corpora — deterministic md5 mins, so the
    // oracle replays every per-perm minimum bit-exactly
    "q_corpus_overlap" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Dedup.corpusOverlap(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), n = 3, numPerm = 32)
    }),
    // the persisted-sketch path: base corpus sketched ONCE (numPerm
    // stored rows), the "new crawl" probed against the stored minima —
    // identical to q_corpus_overlap by construction, shares its oracle
    "q_corpus_overlap_idx" -> ((s, d) => {
      val docs = table(s, d, "documents")
      BenchPhases.timed("q_corpus_overlap_idx", "build")(
        graft.operators.Dedup.writeOverlapSketch(
          docs.filter(col("doc_id") % 2 === 0), "graft_overlap_sketch",
          n = 3, numPerm = 32))
      graft.operators.Dedup.corpusOverlapAgainstSketch(
        docs.filter(col("doc_id") % 2 === 1), "graft_overlap_sketch")
    }),
    // the STREAMING sketch gate (eighth external-state family): the
    // base corpus streams in micro-batches, each min-merged into the
    // persisted sketch; the probe afterward must equal the one-shot
    // sketch (min is associative) — shares q_corpus_overlap's oracle
    "q_corpus_overlap_stream" -> ((s, d) => {
      val docs = table(s, d, "documents")
      BenchPhases.timed("q_corpus_overlap_stream", "build")(
        graft.operators.Dedup.writeOverlapSketch(
          docs.filter(lit(false)), "graft_overlap_stream_sk", n = 3, numPerm = 32))
      withTempDir("graft_overlap_stream") { tmp =>
        BenchPhases.timed("q_corpus_overlap_stream", "stage")(
          docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
            .repartition(6).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_corpus_overlap_stream")(
          graft.streaming.OverlapSketchStream.start(s, s"$tmp/input",
              "graft_overlap_stream_sk", s"$tmp/cp", maxFilesPerTrigger = Some(1)))
        graft.operators.Dedup.corpusOverlapAgainstSketch(
          docs.filter(col("doc_id") % 2 === 1), "graft_overlap_stream_sk")
      }
    }),
    // ... and the exact tier the estimate is judged against
    "q_corpus_overlap_exact" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Dedup.corpusOverlapExact(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), n = 3)
    }),
    // the index MAINTENANCE path: day-0 slice indexed, day-1 slice
    // APPENDED (parameters from the table's own properties), day-2 slice
    // probed — oracle is the exact cross-slice join, so the appended
    // files' bucket layout is hash-checked end to end
    "q_dedup_idx_append" -> ((s, d) => {
      val docs = table(s, d, "documents")
      BenchPhases.timed("q_dedup_idx_append", "build")(
        graft.operators.Dedup.writeSignatureIndex(
          docs.filter(col("doc_id") % 3 === 0), "graft_sig_append"))
      BenchPhases.timed("q_dedup_idx_append", "append")(
        graft.operators.Dedup.appendToSignatureIndex(
          docs.filter(col("doc_id") % 3 === 1), "graft_sig_append"))
      graft.operators.Dedup.minhashPairsAgainstIndex(
        docs.filter(col("doc_id") % 3 === 2), "graft_sig_append",
        docs.filter(col("doc_id") % 3 =!= 2))
    }),
    // the maintenance cycle CLOSED: build + append (as above), then
    // COMPACT the accumulated per-append files into one bucketed pass,
    // then probe — compaction must be invisible to results, so this row
    // shares q_dedup_idx_append's oracle verbatim
    "q_dedup_idx_compact" -> ((s, d) => {
      val docs = table(s, d, "documents")
      BenchPhases.timed("q_dedup_idx_compact", "build")(
        graft.operators.Dedup.writeSignatureIndex(
          docs.filter(col("doc_id") % 3 === 0), "graft_sig_compact"))
      BenchPhases.timed("q_dedup_idx_compact", "append")(
        graft.operators.Dedup.appendToSignatureIndex(
          docs.filter(col("doc_id") % 3 === 1), "graft_sig_compact"))
      BenchPhases.timed("q_dedup_idx_compact", "compact")(
        graft.operators.Dedup.compactIndex(s, "graft_sig_compact", "bh"))
      graft.operators.Dedup.minhashPairsAgainstIndex(
        docs.filter(col("doc_id") % 3 === 2), "graft_sig_compact",
        docs.filter(col("doc_id") % 3 =!= 2))
    }),
    // the SAME batch-vs-index dedup through the streaming gate: index
    // persisted once, the "crawl" streamed in micro-batches
    // (maxFilesPerTrigger=1 under AvailableNow), novel docs appended to
    // the output store — the full streaming path sits inside the
    // correctness gate; oracle = odd docs with no exact cross-slice pair
    "q_dedup_stream" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val idxDocs = docs.filter(col("doc_id") % 2 === 0)
      BenchPhases.timed("q_dedup_stream", "build")(
        graft.operators.Dedup.writeSignatureIndex(idxDocs, "graft_stream_sig_index"))
      withTempDir("graft_dedup_stream") { tmp =>
        BenchPhases.timed("q_dedup_stream", "stage")(
          docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text", "source")
            .repartition(6).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_dedup_stream")(
          graft.streaming.DedupStream.start(s, s"$tmp/input", "graft_stream_sig_index",
              idxDocs, s"$tmp/out", s"$tmp/cp", maxFilesPerTrigger = Some(1)))
        s.read.parquet(s"$tmp/out").select("doc_id").orderBy("doc_id")
      }
    }),
    // the SimHash face of the streaming gate — with this all THREE index
    // families gate streams (MinHash buckets, SimHash band segments, IVF
    // lists); oracle = odd docs with no cross-slice hamming<=3 pair
    "q_dedup_simhash_stream" -> ((s, d) => {
      val docs = table(s, d, "documents")
      BenchPhases.timed("q_dedup_simhash_stream", "build")(
        graft.operators.Dedup.writeSimhashIndex(
          docs.filter(col("doc_id") % 2 === 0), "graft_stream_sh_index"))
      withTempDir("graft_simhash_stream") { tmp =>
        BenchPhases.timed("q_dedup_simhash_stream", "stage")(
          docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text", "source")
            .repartition(6).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_dedup_simhash_stream")(
          graft.streaming.DedupStream.startSimhash(s, s"$tmp/input",
              "graft_stream_sh_index", s"$tmp/out", s"$tmp/cp",
              maxFilesPerTrigger = Some(1)))
        s.read.parquet(s"$tmp/out").select("doc_id").orderBy("doc_id")
      }
    }),
    // SimHash hamming<=3 near-dups (rows-only oracle)
    "q_dedup_simhash" -> ((s, d) =>
      graft.operators.Dedup.simhashPairs(table(s, d, "documents"))),
    // incremental SimHash: odd doc_ids play today's batch, even ids the
    // index — banded new×index candidates only, no index×index pairs
    "q_dedup_simhash_inc" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Dedup.simhashPairsIncremental(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
    }),
    // the same batch-vs-index SimHash tier through the PERSISTED index:
    // even docs written once (bucketed on the folded band-segment key),
    // odd docs probed against the stored signatures — no index-side
    // recomputation; shares the incremental oracle
    "q_dedup_simhash_idx" -> ((s, d) => {
      val docs = table(s, d, "documents")
      BenchPhases.timed("q_dedup_simhash_idx", "build")(
        graft.operators.Dedup.writeSimhashIndex(
          docs.filter(col("doc_id") % 2 === 0), "graft_simhash_index"))
      graft.operators.Dedup.simhashPairsAgainstIndex(
        docs.filter(col("doc_id") % 2 === 1), "graft_simhash_index")
    }),
    // SimHash index maintenance: day-0 indexed, day-1 appended, day-2
    // probed against the stored signatures — exact cross-slice oracle
    "q_dedup_simhash_app" -> ((s, d) => {
      val docs = table(s, d, "documents")
      BenchPhases.timed("q_dedup_simhash_app", "build")(
        graft.operators.Dedup.writeSimhashIndex(
          docs.filter(col("doc_id") % 3 === 0), "graft_simhash_append"))
      BenchPhases.timed("q_dedup_simhash_app", "append")(
        graft.operators.Dedup.appendToSimhashIndex(
          docs.filter(col("doc_id") % 3 === 1), "graft_simhash_append"))
      graft.operators.Dedup.simhashPairsAgainstIndex(
        docs.filter(col("doc_id") % 3 === 2), "graft_simhash_append")
    }),
    // chunk -> doc mean pooling: every 8 consecutive vec_ids play one
    // document's chunks; the gate row explodes the pooled arrays so the
    // compare stays on scalar columns
    "q_embed_pool" -> ((s, d) => {
      import org.apache.spark.sql.functions.{expr, posexplode}
      val e = table(s, d, "embeddings")
        .withColumn("group_id", expr("vec_id div 8"))
      graft.operators.Ann.meanPoolEmbeddings(e, "group_id")
        .select(col("group_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("group_id"), col("pos").cast("long").as("pos"), col("v"))
        .orderBy("group_id", "pos")
    }),
    // brute-force cosine top-k
    "q_ann_topk" -> ((s, d) =>
      graft.operators.Ann.topK(table(s, d, "embeddings"), queryId = 0, k = 20)),
    // the same top-k served from int8 scalar-quantized codes (4× smaller
    // scan); the oracle replays quantize → decode → cosine bit-for-bit
    "q_ann_topk_sq8" -> ((s, d) =>
      graft.operators.Ann.topKSq8(table(s, d, "embeddings"), queryId = 0, k = 20)),
    // JL-projected ANN: 64→16 dims through the deterministic ±1 hash
    // matrix (4× cheaper probes/scan), then the standard top-20 — the
    // oracle replays matrix, projection, float cast and cosine exactly
    "q_ann_jl" -> ((s, d) =>
      graft.operators.Ann.topK(
        graft.operators.Ann.jlProject(table(s, d, "embeddings"),
          outDim = 16, seed = 7),
        queryId = 0, k = 20)),
    // MMR diversified rerank of the brute-force top-20 down to 8: greedy
    // relevance-minus-redundancy, kCand-bounded driver loop; the oracle
    // unrolls all 8 selection steps as a CTE chain over the same doubles
    "q_ann_mmr" -> ((s, d) =>
      graft.operators.Ann.mmrTopK(table(s, d, "embeddings"), queryId = 0,
        kCand = 20, kOut = 8, lambda = 0.7)),
    // k-center coreset (farthest-point traversal): 8 diversity-spanning
    // picks over the whole corpus; driver state = 8 vectors, k scans
    "q_kcenters" -> ((s, d) =>
      graft.operators.Ann.kCenters(table(s, d, "embeddings"), k = 8)),
    // exact embedding similarity pairs via the distributed block kernel
    // (0.45: the synthetic embeddings contain no true near-dups — max
    // pairwise cosine ≈ 0.51, so the exact tier is the only one that can
    // return rows at this threshold)
    "q_embed_neardup" -> ((s, d) =>
      graft.operators.Ann.neardupPairs(table(s, d, "embeddings"), threshold = 0.45)),
    // incremental embedding near-dup: odd vec_ids play today's batch,
    // even ids the index — Bn×Bi rectangle kernel, |new|·|index| dot
    // products instead of O(|union|²)
    "q_embed_neardup_inc" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      graft.operators.Ann.neardupPairsIncremental(
        e.filter(col("vec_id") % 2 === 1),
        e.filter(col("vec_id") % 2 === 0), threshold = 0.45)
    }),
    // the same batch-vs-index near-dup through the PERSISTED IVF index:
    // even vectors indexed once (norms stored, ivf_list-partitioned),
    // odd vectors probed at nProbe = nlist (exact ⇒ shares the
    // incremental oracle); nProbe < nlist is the documented scale dial
    "q_embed_neardup_idx" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      BenchPhases.timed("q_embed_neardup_idx", "build")(
        graft.operators.Ann.writeIvfIndex(e.filter(col("vec_id") % 2 === 0),
          "graft_ivf_neardup", nlist = 16))
      graft.operators.Ann.neardupAgainstIvfIndex(
        e.filter(col("vec_id") % 2 === 1), "graft_ivf_neardup",
        threshold = 0.45, nProbe = 16)
    }),
    // SQ8 index maintenance lifecycle: build on the even half, append
    // the odd half vs the STORED centroids, then serve topK at
    // nProbe = nlist — exact over the full corpus, so it shares the
    // brute-force SQ8 oracle (the float q_ann_ivf_append pattern)
    "q_ann_ivf_sq8_app" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      BenchPhases.timed("q_ann_ivf_sq8_app", "build")(
        graft.operators.Ann.writeIvfSq8Index(e.filter(col("vec_id") % 2 === 0),
          "graft_ivfsq8_app", nlist = 16))
      BenchPhases.timed("q_ann_ivf_sq8_app", "append")(
        graft.operators.Ann.appendToIvfSq8Index(
          e.filter(col("vec_id") % 2 === 1), "graft_ivfsq8_app"))
      graft.operators.Ann.ivfTopKSq8AgainstIndex(s, "graft_ivfsq8_app",
        queryId = 0L, k = 20, nProbe = 16)
    }),
    // near-dup served from the composed IVF-SQ8 index (the serving
    // symmetry: both index families serve topK AND near-dup). Symmetric
    // distance — both sides quantized+decoded — and nProbe = nlist, so
    // the oracle replays quantize -> decode -> cross-slice cosine in SQL
    "q_embed_neardup_sq8" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      BenchPhases.timed("q_embed_neardup_sq8", "build")(
        graft.operators.Ann.writeIvfSq8Index(e.filter(col("vec_id") % 2 === 0),
          "graft_ivfsq8_neardup", nlist = 16))
      graft.operators.Ann.neardupAgainstIvfSq8Index(
        e.filter(col("vec_id") % 2 === 1), "graft_ivfsq8_neardup",
        threshold = 0.45, nProbe = 16)
    }),
    // the SAME batch-vs-index near-dup through the STREAMING gate: IVF
    // index persisted once, the "crawl" streamed in micro-batches
    // (maxFilesPerTrigger=1 under AvailableNow), novel vectors appended
    // to the output store — the embedding face of q_dedup_stream; at
    // nProbe = nlist the gate is exact, so the oracle is the cross-slice
    // brute-force survivor set
    "q_embed_neardup_stream" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      BenchPhases.timed("q_embed_neardup_stream", "build")(
        graft.operators.Ann.writeIvfIndex(e.filter(col("vec_id") % 2 === 0),
          "graft_stream_ivf_index", nlist = 16))
      withTempDir("graft_embed_stream") { tmp =>
        BenchPhases.timed("q_embed_neardup_stream", "stage")(
          e.filter(col("vec_id") % 2 === 1).select("vec_id", "embedding")
            .repartition(6).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_embed_neardup_stream")(
          graft.streaming.AnnStream.start(s, s"$tmp/input", "graft_stream_ivf_index",
              s"$tmp/out", s"$tmp/cp", threshold = 0.45, nProbe = 16,
              maxFilesPerTrigger = Some(1)))
        s.read.parquet(s"$tmp/out").select("vec_id").orderBy("vec_id")
      }
    }),
    // SemDeDup: cluster-bounded semantic dedup — max-cosine assignment to
    // fixed seed centroids (first 16 corpus vectors, so the WHOLE pipeline
    // incl. assignment replays in SQL), within-cluster pairwise at 0.8,
    // CC, keep = min id. Clones of every 50th vector are planted: an
    // identical vector shares its original's assignment deterministically,
    // so each clone forms a within-cluster pair and is dropped
    "q_semdedup" -> ((s, d) => {
      val e = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val seeds = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("list_id"), col("embedding").as("centroid"))
      graft.operators.SemDedup.semDedup(e.unionByName(planted), seeds, threshold = 0.8)
    }),
    // exact repeated-substring spans: 20-char rolling windows occurring
    // ≥2 times corpus-wide, merged per document into maximal spans —
    // the character-level dedup tier (winnowing is the approximate one)
    "q_dup_spans" -> ((s, d) =>
      graft.operators.SpanDedup.duplicatedSpans(table(s, d, "documents"), minLen = 20)),
    // corpus snapshot diff: old = ids %10≠0, new = ids %10≠1 with every
    // 7th document's text rewritten — added/removed/changed only, churn-
    // proportional output, texts reduced to md5 at the scan
    "q_corpus_diff" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 1)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.operators.SnapshotDiff.diff(oldSnap, newSnap)
    }),
    // token-distribution drift between the same two snapshots: top-50
    // per-token KL(new‖old) contributions under add-one smoothing
    "q_corpus_drift" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 1)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.operators.SnapshotDiff.tokenDrift(oldSnap, newSnap, k = 50)
    }),
    // duplicate-cluster resolution generalizes to the EMBEDDING pair
    // graph unchanged: components of the exact cosine near-dup pairs,
    // every vector labeled (singletons by themselves)
    "q_embed_clusters" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      graft.operators.Clustering.assignComponents(
          emb, graft.operators.Ann.neardupPairs(emb, threshold = 0.45),
          idCol = "vec_id", src = "id_a", dst = "id_b")
        .orderBy("vec_id")
    }),
    // LSH-bucketed near-dup pairs at the operator's design point
    // (cos ≥ 0.8, default bits=12/tables=6). The raw synthetic corpus has
    // no pairs in that regime, so the query plants true near-dups:
    // duplicate copies of every 50th vector under offset ids. Identical
    // vectors share every sign-sketch deterministically, so recall on the
    // planted pairs is 1 by construction (not probabilistically); random
    // pairs (θ≈90°) collide with prob ≈ 6·0.5¹² ≈ 0.15%, so candidates
    // stay pruned. Oracle = independent DuckDB brute force over the same
    // planted corpus.
    "q_embed_neardup_lsh" -> ((s, d) => {
      val e = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      graft.operators.Ann.lshNeardupPairs(e.unionByName(planted), threshold = 0.8)
    }),
    // IVF-partitioned top-k, run at nProbe = nlist (all lists probed —
    // exactly brute force by construction, so it shares the q_ann_topk
    // DuckDB oracle and the whole IVF plan (sample → train → assign →
    // probe) is hash-checked end-to-end; the pruned nProbe < nlist
    // configuration stays spec-tested in OperatorsSpec)
    "q_ann_ivf" -> ((s, d) =>
      graft.operators.Ann.ivfTopK(table(s, d, "embeddings"), queryId = 0, k = 20,
        nlist = 16, nProbe = 16)),
    // IVF through the PERSISTED index: build once (train + assign +
    // partitioned write), then query without retraining; at nProbe =
    // nlist it shares the brute-force oracle, so the whole
    // write-index → probe-from-index path is hash-checked end-to-end
    "q_ann_ivf_indexed" -> ((s, d) => {
      graft.operators.Ann.writeIvfIndex(table(s, d, "embeddings"),
        "graft_ivf_index", nlist = 16)
      graft.operators.Ann.ivfTopKAgainstIndex(s, "graft_ivf_index",
        queryId = 0, k = 20, nProbe = 16)
    }),
    // the index MAINTENANCE path: build on the even half, append the odd
    // half against the stored centroids (no retrain), probe at
    // nProbe = nlist — exact, so it shares the brute-force oracle; drift
    // is asserted sane (reference stored at write time)
    "q_ann_ivf_append" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      BenchPhases.timed("q_ann_ivf_append", "build")(
        graft.operators.Ann.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0),
          "graft_ivf_append", nlist = 16))
      BenchPhases.timed("q_ann_ivf_append", "append")(
        graft.operators.Ann.appendToIvfIndex(
          emb.filter(col("vec_id") % 2 === 1), "graft_ivf_append"))
      val (_, _, ratio) = graft.operators.Ann.ivfDrift(s, "graft_ivf_append")
      require(ratio > 0, s"drift ratio must be positive, got $ratio")
      graft.operators.Ann.ivfTopKAgainstIndex(s, "graft_ivf_append",
        queryId = 0, k = 20, nProbe = 16)
    }),
    // IVF-SQ8 composed index (FAISS's IVF-SQ shape): int8 codes stored
    // in the ivf_list-partitioned table, decode INSIDE the scoring
    // kernel; at nProbe = nlist the probe scans every list, so the
    // composed path is bit-identical to topKSq8 and shares its
    // quantize → decode → cosine oracle replay
    "q_ann_ivf_sq8" -> ((s, d) => {
      graft.operators.Ann.writeIvfSq8Index(table(s, d, "embeddings"),
        "graft_ivf_sq8", nlist = 16)
      graft.operators.Ann.ivfTopKSq8AgainstIndex(s, "graft_ivf_sq8",
        queryId = 0L, k = 20, nProbe = 16)
    }),
    // text analysis
    "q_token_count" -> ((s, d) =>
      graft.operators.TextAnalysis.tokenCount(table(s, d, "documents"))),
    // BPE-ish regex token count (letter/digit/punct runs — the
    // pre-tokenizer segmentation, Java/RE2-portable pattern)
    "q_token_count_bpe" -> ((s, d) =>
      graft.operators.TextAnalysis.tokenCountBpe(table(s, d, "documents"))),
    "q_lang_id" -> ((s, d) =>
      graft.operators.TextAnalysis.langId(table(s, d, "documents"))),
    "q_quality" -> ((s, d) =>
      graft.operators.TextAnalysis.qualityScore(table(s, d, "documents"))),
    // Gopher-style repetition signals: map-only compiled kernel, no shuffle
    "q_repetition" -> ((s, d) =>
      graft.operators.TextAnalysis.repetitionSignals(table(s, d, "documents"))),
    // CCNet-style LM scoring: bigram LM from the clean slice (doc_id % 7
    // == 0, the same split decontamination treats as the benchmark),
    // per-token NLL + OOV-bigram fraction over the rest
    "q_lm_score" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.TextAnalysis.lmScore(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    }),
    // CCNet head/middle/tail thirds per language by LM score (low nll =
    // head, the slice CCNet keeps); exact ntile tier, approx-threshold
    // alternative documented for the 100 TB path
    "q_ccnet" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.TextAnalysis.ccnetBuckets(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    }),
    // the scale tier: per-language approx-percentile thresholds (exact
    // rank elements while n ≤ accuracy) + map-only assignment — no
    // per-language corpus sort
    "q_ccnet_approx" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.TextAnalysis.ccnetBucketsApprox(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    }),
    "q_fingerprint" -> ((s, d) =>
      graft.operators.TextAnalysis.fingerprint(table(s, d, "documents"))),
    // the data-card summary: per-source volume/token/lang/dup stats in
    // one hash-agg pass, every column engine-exact
    "q_corpus_report" -> ((s, d) =>
      graft.operators.TextAnalysis.corpusReport(table(s, d, "documents"))),
    // the Gopher rule battery: every pass/fail boundary an exact integer
    // cross-multiply — no float ratio can drift the filter
    "q_gopher" -> ((s, d) =>
      graft.operators.TextAnalysis.gopherRules(table(s, d, "documents"))),
    // FIM/span-corruption examples: md5-deterministic selection + span
    // geometry, map-only — reproducible across runs, partitionings and
    // engines
    "q_fim" -> ((s, d) =>
      graft.operators.Packing.fimExamples(table(s, d, "documents"))),
    // n-gram novelty: fraction of a doc's trigram shingles first seen in
    // that doc (min doc_id wins) — the memorization/near-copy diagnostic;
    // no shingle→doc join back, the doc's novel count is how many
    // shingles it wins
    "q_novelty" -> ((s, d) =>
      graft.operators.TextAnalysis.ngramNovelty(table(s, d, "documents"))),
    // PMI collocations: top-30 adjacent-bigram associations (Church &
    // Hanks), min count 5; surfaces multi-word expressions
    "q_pmi" -> ((s, d) =>
      graft.operators.TextAnalysis.pmiCollocations(table(s, d, "documents"))),
    // incremental vocabulary index: build on the even half, append the
    // odd half, serve top-30 by re-aggregation — merge = SUM, so the
    // served vocab equals the full-corpus q_vocab oracle exactly
    "q_vocab_idx" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.TextAnalysis.writeVocabIndex(
        docs.filter(col("doc_id") % 2 === 0), "graft_vocab_index")
      graft.operators.TextAnalysis.appendToVocabIndex(
        docs.filter(col("doc_id") % 2 === 1), "graft_vocab_index")
      graft.operators.TextAnalysis.vocabFromIndex(s, "graft_vocab_index", k = 30)
    }),
    // feature-hashed bag-of-words embeddings (signed hashing trick),
    // exploded to scalar (doc, dim, value) rows for the exact-float gate
    "q_hash_embed" -> ((s, d) => {
      import org.apache.spark.sql.functions.posexplode
      graft.operators.TextAnalysis.hashEmbed(table(s, d, "documents"), dim = 32)
        .select(col("doc_id"), posexplode(col("embedding")))
        .toDF("doc_id", "j", "v")
        .orderBy("doc_id", "j")
    }),
    // tf-idf-weighted hashed embeddings: idf quantized to integer
    // milli-nats so every bucket sum and squared norm stays exact —
    // the full component matrix gated bit-for-bit like q_hash_embed
    "q_tfidf_embed" -> ((s, d) => {
      import org.apache.spark.sql.functions.posexplode
      graft.operators.TextAnalysis.tfidfHashEmbed(table(s, d, "documents"), dim = 32)
        .select(col("doc_id"), posexplode(col("embedding")))
        .toDF("doc_id", "j", "v")
        .orderBy("doc_id", "j")
    }),
    // lexical-semantic search: the hashed embeddings feed the standard
    // ANN top-k unchanged (doc 0's most hash-similar documents)
    "q_hash_embed_topk" -> ((s, d) =>
      graft.operators.Ann.topK(
        graft.operators.TextAnalysis.hashEmbed(table(s, d, "documents"), dim = 32)
          .withColumnRenamed("doc_id", "vec_id"),
        queryId = 0, k = 15)),
    // the RAG serving capstone: overlapping chunks → hashed chunk
    // embeddings → free-text query top-10 — three gated operators under
    // one end-to-end oracle
    "q_rag_retrieve" -> ((s, d) =>
      graft.operators.Rag.retrieveChunks(table(s, d, "documents"),
        "table scan hash join window agg", k = 10)),
    // the DOC-level retrieval face: chunk vectors mean-pooled per doc,
    // query scored against one vector per document — the capstone plus
    // the pooling operator under one oracle
    "q_rag_retrieve_docs" -> ((s, d) =>
      graft.operators.Rag.retrieveDocs(table(s, d, "documents"),
        "table scan hash join window agg", k = 10)),
    // curation v2 — the model-era capstone: NB quality gate (score > 0)
    // → UniMax language rebalancing over the survivors (60% budget, 1
    // epoch) → padding-efficient bucketed batches, each doc annotated
    // with its domain-match score; the oracle chains all three replays
    "q_curate_v2" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val scored = graft.operators.QualityModels.nbQualityScores(
        docs.filter(col("doc_id") % 5 =!= 0), docs, col("lang") === "en")
      val survivors = docs.join(
        scored.filter(col("score") > 0).select("doc_id"), "doc_id")
      val budget = survivors.count() * 3 / 5
      val picked = graft.operators.Sampling.unimaxSample(
        survivors, budget, epochs = 1.0)
      graft.operators.Packing.lengthBucketedBatches(
          picked, batchSize = 8, bucketWidth = 16, numShards = 4)
        .join(scored.select("doc_id", "score"), "doc_id")
        .select("doc_id", "n_tokens", "len_bucket", "shard", "batch_id", "score")
        .orderBy("doc_id")
    }),
    // JSONL corpus-drop round trip with corrupt routing: documents write
    // themselves out as JSONL, two malformed lines are planted, the
    // routed read recovers exactly the documents table (oracle = the
    // table itself — corruption must be invisible to the good side)
    "q_ingest_jsonl" -> ((s, d) => {
      val docs = table(s, d, "documents").select("doc_id", "text", "lang", "source")
      withTempDir("graft_ingest_jsonl") { tmp =>
        docs.write.json(s"$tmp/drop")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$tmp/drop/part-corrupt.json"),
          "{this is not json\ngarbage line\n".getBytes("UTF-8"))
        val (good, bad) = graft.sources.CorpusIngest.readJsonlRouted(s, s"$tmp/drop")
        require(bad.count() == 2, "both planted corrupt lines must route to dead letters")
        good.select("doc_id", "lang").orderBy("doc_id")
      }
    }),
    // streaming corpus stats: docs stream through in micro-batches, each
    // appending mergeable vocab partials to the index; compaction folds
    // the per-batch files; served top-30 must equal the one-shot corpus
    // vocabulary (shares the q_vocab_idx oracle)
    "q_vocab_stream" -> ((s, d) => {
      val docs = table(s, d, "documents")
      // seed an EMPTY index (schema only) so every count arrives via the
      // streaming appends
      BenchPhases.timed("q_vocab_stream", "build")(
        graft.operators.TextAnalysis.writeVocabIndex(
          docs.filter(lit(false)), "graft_vocab_stream_idx"))
      withTempDir("graft_vocab_stream") { tmp =>
        BenchPhases.timed("q_vocab_stream", "stage")(
          docs.select("doc_id", "text").repartition(6)
            .write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_vocab_stream")(
          graft.streaming.CorpusStatsStream.start(s, s"$tmp/input",
              "graft_vocab_stream_idx", s"$tmp/cp", maxFilesPerTrigger = Some(1)))
        BenchPhases.timed("q_vocab_stream", "compact")(
          graft.operators.TextAnalysis.compactVocabIndex(s, "graft_vocab_stream_idx"))
        graft.operators.TextAnalysis.vocabFromIndex(s, "graft_vocab_stream_idx", k = 30)
      }
    }),
    // fastText-shaped Naive-Bayes quality classifier: train "looks
    // English" on the 80% split (doc_id % 5 <> 0), score the held-out
    // 20% — the full smoothed log-likelihood arithmetic replays in SQL
    "q_quality_classifier" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.QualityModels.nbQualityScores(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        col("lang") === "en")
    }),
    // the persisted-model serving path: train once into a catalog table
    // (token weights + prior/w0 scalars in TBLPROPERTIES), score the
    // held-out slice FROM THE TABLE — bit-identical to training-time
    // scoring, shares the q_quality_classifier oracle
    "q_quality_model_idx" -> ((s, d) => {
      val docs = table(s, d, "documents")
      BenchPhases.timed("q_quality_model_idx", "build")(
        graft.operators.QualityModels.writeNbModel(
          docs.filter(col("doc_id") % 5 =!= 0), col("lang") === "en",
          "graft_nb_model"))
      graft.operators.QualityModels.scoreAgainstModel(
        docs.filter(col("doc_id") % 5 === 0), "graft_nb_model")
    }),
    // the streaming quality gate: the eval slice streams through in
    // micro-batches, each scored against the persisted model; output =
    // accepted doc_ids (score > 0), oracle = the batch replay filtered
    "q_quality_stream" -> ((s, d) => {
      val docs = table(s, d, "documents")
      BenchPhases.timed("q_quality_stream", "build")(
        graft.operators.QualityModels.writeNbModel(
          docs.filter(col("doc_id") % 5 =!= 0), col("lang") === "en",
          "graft_nb_model_stream"))
      withTempDir("graft_quality_stream") { tmp =>
        BenchPhases.timed("q_quality_stream", "stage")(
          docs.filter(col("doc_id") % 5 === 0).select("doc_id", "text", "lang")
            .repartition(6).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_quality_stream")(
          graft.streaming.QualityStream.start(s, s"$tmp/input",
              "graft_nb_model_stream", s"$tmp/out", s"$tmp/cp",
              maxFilesPerTrigger = Some(1)))
        s.read.parquet(s"$tmp/out").select("doc_id").orderBy("doc_id")
      }
    }),
    // DSIR importance resampling: hashed-unigram importance weights of
    // the lang='en' target vs the raw corpus, top-100 selection
    "q_dsir" -> ((s, d) =>
      graft.operators.QualityModels.dsirWeights(
        table(s, d, "documents"), col("lang") === "en", topN = 100)),
    // UniMax budget allocation (epoch-capped water-filling over
    // languages): budget = 84% of the corpus, 1 epoch max per language —
    // the four small languages are fully funded, en is downsampled to the
    // remaining budget; allocation is pure window algebra over the
    // 5-row strata frame, selection is the bucket-histogram cap engine
    "q_sample_unimax" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val budget = docs.count() * 84 / 100
      graft.operators.Sampling.unimaxSample(docs, budget, epochs = 1.0)
        .select("doc_id", "lang").orderBy("doc_id")
    }),
    // distributed BPE training: 6 learned merges over the corpus word
    // histogram; the oracle replays every iteration (pair count → argmax
    // → greedy merge) as an unrolled CTE chain over the same strings
    "q_bpe_train" -> ((s, d) =>
      graft.operators.BpeTokenizer.train(table(s, d, "documents"), k = 6)),
    // encode with the just-learned tokenizer: per-doc post-merge token
    // counts, merge table applied as a broadcast-local replace chain
    "q_bpe_encode" -> ((s, d) => {
      val merges = BenchPhases.timed("q_bpe_encode", "train")(
        graft.operators.BpeTokenizer
          .train(table(s, d, "documents"), k = 6)
          .collect().map(r => (r.getString(1), r.getString(2))))
      graft.operators.BpeTokenizer.encodeTokenCounts(
        table(s, d, "documents"), merges)
    }),
    // the encode -> decode round trip as a corpus IDENTITY gate (the
    // strongest oracle form): merges never move bytes across symbol
    // boundaries, so bracket-stripping the full token stream must
    // reproduce every document byte for byte — any encoder bug
    // (symbol splitting, word reordering, lost whitespace) breaks the
    // hash
    "q_bpe_roundtrip" -> ((s, d) => {
      val merges = BenchPhases.timed("q_bpe_roundtrip", "train")(
        graft.operators.BpeTokenizer
          .train(table(s, d, "documents"), k = 6)
          .collect().map(r => (r.getString(1), r.getString(2))))
      graft.operators.BpeTokenizer.encodeTokens(
          table(s, d, "documents"), merges)
        .select(col("doc_id"),
          graft.operators.BpeTokenizer.decode(col("encoded")).as("text"))
        .orderBy("doc_id")
    }),
    // tokenizer fertility per language: BPE tokens per whitespace word —
    // the "does the learned vocab fit this language" diagnostic
    "q_bpe_fertility" -> ((s, d) => {
      val merges = BenchPhases.timed("q_bpe_fertility", "train")(
        graft.operators.BpeTokenizer
          .train(table(s, d, "documents"), k = 6)
          .collect().map(r => (r.getString(1), r.getString(2))))
      graft.operators.BpeTokenizer.fertilityByStratum(
        table(s, d, "documents"), merges)
    }),
    // winnowing fingerprints (rolling-hash local fingerprints, MOSS):
    // map-only; oracle recomputes each k-gram hash as the direct modular
    // polynomial and replays the rightmost-min window selection
    "q_winnow" -> ((s, d) =>
      graft.operators.TextAnalysis.winnowFingerprints(table(s, d, "documents"))),
    // MOSS-style copied-span report: doc pairs sharing >= 10 winnowed
    // fingerprint values after dropping boilerplate fps present in > 20
    // docs (the df² stop-shingle argument; unpruned, 8-char grams of a
    // same-vocabulary corpus connect ~85% of ALL pairs at minShared=3 —
    // measured, not hypothetical). The oracle replays the cutoff.
    "q_winnow_pairs" -> ((s, d) =>
      graft.operators.TextAnalysis.sharedSpanPairs(table(s, d, "documents"),
        minShared = 10, maxDocsPerFp = Some(20))),
    // vocabulary build: top-K tokens by total frequency + doc frequency
    "q_vocab" -> ((s, d) =>
      graft.operators.TextAnalysis.vocabulary(table(s, d, "documents"), k = 100)),
    // heavy hitters (freq_agg/topn_agg parity): Misra-Gries candidates
    // (k=30 < the 31-token vocab, so the decrement path actually runs)
    // + exact confirmation — output is EXACTLY the tokens at ≥3.35%
    // frequency, independent of partitioning, at any SF (3.35% > 1/31)
    "q_heavy_hitters" -> ((s, d) =>
      graft.operators.TextAnalysis.heavyHitters(table(s, d, "documents"),
        k = 30, minFreq = 0.0335)),
    // tokenizer-fit: per-doc OOV counts against the corpus's own top-30
    // vocabulary — exact integers, vocabulary broadcast
    "q_vocab_coverage" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.TextAnalysis.vocabCoverage(docs,
        graft.operators.TextAnalysis.vocabulary(docs, k = 30).select("token"))
    }),
    // BM25 lexical top-k retrieval (the lexical face of similarity
    // search): Okapi scoring with binary-exact constants, full SQL
    // replay including the Robertson idf
    "q_bm25" -> ((s, d) =>
      graft.operators.TextAnalysis.bm25TopK(table(s, d, "documents"),
        "spark window merge vector", k = 15)),
    // batched BM25: a query TABLE scored in one job, per-query top-10
    // via a query_id-partitioned rank — the serving-at-scale shape
    "q_bm25_batch" -> ((s, d) => {
      import s.implicits._
      val qs = Seq((0L, "spark window"), (1L, "merge vector slow"),
        (2L, "customer filter the")).toDF("query_id", "query")
      graft.operators.TextAnalysis.bm25TopKBatch(
        table(s, d, "documents"), qs, k = 10)
    }),
    // per-source token-length distribution (exact percentiles)
    "q_length_stats" -> ((s, d) =>
      graft.operators.TextAnalysis.lengthStats(table(s, d, "documents"))),
    // the mergeable-summary tier (hot-stratum escape hatch): quantiles
    // are group elements at rank ceil(p*n), replayed as quantile_disc
    "q_length_stats_approx" -> ((s, d) =>
      graft.operators.TextAnalysis.lengthStatsApprox(table(s, d, "documents"))),
    // benchmark decontamination: corpus docs sharing a 5-gram with the
    // held-out benchmark slice (doc_id % 7 == 0 plays the eval suite)
    "q_decontaminate" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Decontamination.contaminated(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), n = 5)
    }),
    // the audit trail: WHICH benchmark items a training doc leaks, with
    // the shared-n-gram count and a deterministic example
    "q_contamination_report" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Decontamination.contaminationReport(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), n = 5)
    }),
    // the broadcast-Bloom tier: ~10 bits per benchmark n-gram on the wire
    // instead of the exact strings, exact shuffle-join confirmation on
    // the bloom-positive trickle — no false negatives, so it computes
    // exactly the same rows and shares the q_decontaminate oracle
    "q_decontaminate_bloom" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Decontamination.contaminatedBloom(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), n = 5)
    }),
    // SEMANTIC decontamination: corpus embeddings within cosine 0.45 of
    // any benchmark embedding (vec_id % 7 == 0 plays the eval suite) are
    // dropped — the paraphrase tier n-grams can't see; exact packed
    // block-rectangle kernel, anti-join keeps the clean ids
    "q_decontaminate_semantic" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      graft.operators.Decontamination.semantic(
        e.filter(col("vec_id") % 7 =!= 0),
        e.filter(col("vec_id") % 7 === 0), threshold = 0.45)
    }),
    // the same contract served from a persisted IVF index over the
    // BENCHMARK at nProbe = nlist (exact) — shares the oracle; at scale
    // the corpus probes nProbe lists instead of the whole eval suite
    "q_decontaminate_semantic_idx" -> ((s, d) => {
      val e = table(s, d, "embeddings")
      BenchPhases.timed("q_decontaminate_semantic_idx", "build")(
        graft.operators.Ann.writeIvfIndex(e.filter(col("vec_id") % 7 === 0),
          "graft_decon_bench_ivf", nlist = 16))
      graft.operators.Decontamination.semanticAgainstIndex(
        e.filter(col("vec_id") % 7 =!= 0), "graft_decon_bench_ivf",
        threshold = 0.45, nProbe = 16)
    }),
    // decontamination as a STREAMING gate: bloom + benchmark shingles
    // built once per stream, each micro-batch exact-confirmed — only
    // clean docs reach the store; oracle = corpus docs with no shared
    // 5-gram (the q_decontaminate survivor set)
    "q_decontaminate_stream" -> ((s, d) => {
      val docs = table(s, d, "documents")
      withTempDir("graft_decon_stream") { tmp =>
        BenchPhases.timed("q_decontaminate_stream", "stage")(
          docs.filter(col("doc_id") % 7 =!= 0).select("doc_id", "text", "source")
            .repartition(6).write.parquet(s"$tmp/input"))
        val q = BenchPhases.timed("q_decontaminate_stream", "build")(
          graft.streaming.DecontaminationStream.start(s, s"$tmp/input",
            docs.filter(col("doc_id") % 7 === 0), s"$tmp/out", s"$tmp/cp",
            n = 5, maxFilesPerTrigger = Some(1)))
        BenchPhases.drainTimed("q_decontaminate_stream")(
          q)
        s.read.parquet(s"$tmp/out").select("doc_id").orderBy("doc_id")
      }
    }),
    // PII redaction: plant synthetic emails/phones/IPs keyed on doc_id
    // (the corpus itself is PII-free), scrub, emit count + content hash
    "q_pii_redact" -> ((s, d) => {
      import org.apache.spark.sql.functions.{concat, lpad, md5, when}
      val planted = table(s, d, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@mail.example.com now")))
        .when(col("doc_id") % 3 === 1,
          concat(col("text"), lit(" call 415-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" or 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
        .otherwise(col("text")))
      graft.operators.Redaction.redact(planted)
        .select(col("doc_id"), col("n_pii"), md5(col("redacted")).as("redacted_hash"))
        .orderBy("doc_id")
    }),
    // URL canonicalization (the first stage of a web-crawl pipeline):
    // plant deterministic crawl URLs keyed on doc_id — scheme/host case,
    // default ports, www, tracking params, unsorted params, fragments,
    // trailing slashes — and emit the canonical form; pure codegen'd
    // projection, the oracle replays every rule in SQL
    "q_url_canon" -> ((s, d) =>
      plantUrls(table(s, d, "documents"))
        .withColumn("canon_url",
          graft.operators.UrlOps.canonicalizeUrl(col("url")))
        .select("doc_id", "url", "canon_url").orderBy("doc_id")),
    // canonical-URL dedup: one row per canonical form, smallest doc_id
    // kept (first-crawled wins) — map-side-combinable min(struct) on the
    // canonical key, no partition-sorting window
    "q_url_dedup" -> ((s, d) =>
      graft.operators.UrlOps.dedupByCanonicalUrl(
          plantUrls(table(s, d, "documents")), "url", "doc_id")
        .select("doc_id", "url", "canon_url").orderBy("doc_id")),
    // Unicode NFC composition (decomposed e+U+0301 must hash equal to
    // é in every downstream dedup/shingle): one compiled kernel,
    // cross-checked against DuckDB's INDEPENDENT nfc_normalize — a
    // two-implementation check, not a replay
    "q_text_nfc" -> ((s, d) => {
      val dirty = plantDirtyText(table(s, d, "documents"))
      val n = graft.operators.TextNormalization.nfc(col("dirty"))
      dirty.select(col("doc_id"), n.as("text_nfc"),
        (n =!= col("dirty")).as("changed")).orderBy("doc_id")
    }),
    // UTF-8-as-cp1252 mojibake repair (the Ã©/â€™ classic) over the
    // curated alphabet — a codegen'd replace chain behind a lazy
    // contains guard; the oracle replays the SAME chain generated from
    // the SAME pair table
    "q_text_mojibake" -> ((s, d) =>
      plantDirtyText(table(s, d, "documents"))
        .select(col("doc_id"), graft.operators.TextNormalization
          .repairMojibake(col("dirty")).as("repaired"))
        .orderBy("doc_id")),
    // the full cleaning pass in canonical order: strip control/zero-
    // width chars (C1 kept — mojibake evidence), repair
    // double-encoding, compose to NFC
    "q_text_normalize" -> ((s, d) =>
      plantDirtyText(table(s, d, "documents"))
        .select(col("doc_id"), graft.operators.TextNormalization
          .normalize(col("dirty")).as("clean"))
        .orderBy("doc_id")),
    // per-doc writing-system profile: one codegen'd regexp_count per
    // explicit codepoint range (\x{..} classes — the one script syntax
    // Java regex and RE2 share), letter total, dominant script with
    // earlier-range tie priority — the routing signal deciding which
    // language pipeline a document enters
    "q_script_profile" -> ((s, d) =>
      graft.operators.TextAnalysis.scriptProfile(
          plantScriptText(table(s, d, "documents")))
        .orderBy("doc_id")),
    // in-page robots directives: <meta name="robots"> noindex/nofollow
    // flags (both attribute orders, either quote style, 'none' implies
    // both) — the compliance signal robots.txt cannot carry; pure
    // codegen, patterns interpolated into the oracle
    "q_html_noindex" -> ((s, d) =>
      plantCompliancePages(table(s, d, "documents"))
        .select(col("doc_id"),
          graft.operators.TextExtraction.metaNoindex(col("html")).as("noindex"),
          graft.operators.TextExtraction.metaNofollow(col("html")).as("nofollow"))
        .orderBy("doc_id")),
    // cross-page canonical consolidation: <link rel="canonical">
    // targets resolved (absolute + root-relative) and canonicalized,
    // one winner per target via map-side-combinable min(struct) — the
    // dedup tier canonicalization alone cannot see (print views /
    // session variants the SITE declares equivalent)
    "q_html_canonical" -> ((s, d) =>
      graft.operators.UrlOps.consolidateByCanonical(
          plantCompliancePages(table(s, d, "documents")),
          "url", "html", "doc_id")
        .orderBy("doc_id")),
    // HTML -> text extraction (the stage between crawl and every text
    // operator): four-line template pages planted around each doc's
    // text; whole-page strip drops script/style/comment content,
    // strips tags, decodes entities, collapses whitespace — a pure
    // codegen projection, every rule replayed in SQL
    "q_html_text" -> ((s, d) =>
      plantHtml(table(s, d, "documents"))
        .select(col("doc_id"),
          graft.operators.TextExtraction.stripHtml(col("html")).as("text"))
        .orderBy("doc_id")),
    // boilerplate removal: the line-structured main-content heuristic
    // (min extracted length + anchor-per-word density) must keep
    // exactly the content paragraph and drop head/nav/footer — the
    // oracle replays the RULE generically per line, not the expected
    // outcome
    "q_html_main" -> ((s, d) =>
      plantHtml(table(s, d, "documents"))
        .select(col("doc_id"),
          graft.operators.TextExtraction.mainContent(col("html")).as("main"))
        .orderBy("doc_id")),
    // the minified twin: newlines stripped from the SAME pages — the
    // block-boundary pre-split must re-segment them identically, so
    // extraction is minification-invariant (most real template output
    // is minified; without the pre-split this degraded to a whole-page
    // pass/fail)
    "q_html_main_minified" -> ((s, d) =>
      plantHtml(table(s, d, "documents"))
        .select(col("doc_id"),
          graft.operators.TextExtraction.mainContent(
            org.apache.spark.sql.functions.regexp_replace(
              col("html"), "\n", "")).as("main"))
        .orderBy("doc_id")),
    // the crawl-curation capstone: blocklist filter → canonical-URL
    // dedup → HTML main-content extraction → extracted-length floor,
    // composed from the actual operators; ONE hash-exact oracle chains
    // all four replays — the nightly pre-tokenization path of a
    // web-crawl training pipeline
    "q_crawl_curate" -> ((s, d) => {
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
    }),
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
    "q_charset_sniff" -> ((s, d) => {
      val recs = plantCharsetRecords(table(s, d, "documents"))
      recs.select(col("doc_id"),
        graft.sources.WarcIngest.sniffCharset(col("content")).as("charset"),
        graft.sources.WarcIngest.decodeSniffed(col("content")).as("text"))
        .orderBy("doc_id")
    }),
    // HTTP response filtering (the FIRST C4 keep rule): status line +
    // Content-Type pulled from the embedded header block by the same
    // anchored regexes the oracle replays; only 200 + HTML media types
    // survive, with the header-stripped payload appended
    "q_warc_http" -> ((s, d) => {
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
    }),
    // blocked-token accounting + the C4 badwords drop: exact TOKEN
    // match (not substring) against a broadcast list, one map-side
    // combinable rollup — shuffled bytes ∝ docs, never tokens
    "q_badword_stats" -> ((s, d) => {
      import s.implicits._
      val dirty = plantBadwordText(table(s, d, "documents"))
      val words = Seq("badx", "bady", "BadZ").toDF("word")
      graft.operators.CorpusCuration.blockedTokenStats(dirty, words)
        .orderBy("doc_id")
    }),
    "q_badwords_filter" -> ((s, d) => {
      import s.implicits._
      val dirty = plantBadwordText(table(s, d, "documents"))
      val words = Seq("badx", "bady", "BadZ").toDF("word")
      graft.operators.CorpusCuration
        .filterBlockedTokens(dirty, words, maxFrac = 0.02)
        .select("doc_id").orderBy("doc_id")
    }),
    "q_crawl_from_warc" -> ((s, d) => {
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
    }),
    // the ARCHIVE-shaped ingest: the same capstone fed from
    // record-gzipped WARC members (one gzip member per record — the
    // Common Crawl layout), so the chain exercises deflate → inflate
    // kernel → header parse → curation end-to-end; the oracle is the
    // shared chained replay because gzip → gunzip (and wrap → parse)
    // are byte-exact identities, pinned by the round-trip property spec
    "q_crawl_from_warc_gz" -> ((s, d) => {
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
    }),
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
    "q_crawl_from_warc_file" -> ((s, d) => {
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
    }),
    // the archive front door as a STREAM: archives dropped in a dir →
    // binaryFile file-stream source → in-partition member split →
    // parse → responses, under the native parquet sink (stateless
    // transform ⇒ exactly-once file output), then the same curation
    // capstone over the landed store — shared chained-replay oracle
    "q_crawl_from_warc_stream" -> ((s, d) => {
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
    }),
    // WARC record types + payload-digest dedup (the crawl-side FIRST
    // dedup tier): a mixed archive — response pairs sharing a declared
    // digest (refetches of unchanged content), digest-less responses
    // (keyed on md5 of their own payload), revisit records (no usable
    // payload, dropped) — collapses to one survivor per digest, the
    // lexicographic-min record id; wrap→parse is the byte-exact
    // identity (spec-pinned), so the oracle replays the parsed view
    "q_warc_digest_dedup" -> ((s, d) => {
      import graft.sources.WarcIngest
      val parsed = plantWarcMixedParsed(table(s, d, "documents"))
      WarcIngest.dedupByPayloadDigest(parsed.drop("doc_id"), "record_id")
        .select(org.apache.spark.sql.functions.regexp_extract(
          col("record_id"), "urn:graft:([0-9]+)", 1)
          .cast("long").as("doc_id"),
          col("url"), col("payload_digest"))
        .orderBy("doc_id")
    }),
    // the digest gate as a STREAM (the crawl-side first dedup tier's
    // streaming face): docs ≡0 mod 3 seed the persisted digest index,
    // the rest stream in — only responses whose effective digest is
    // NOT in the index land (against-index contract, so the result is
    // batching-order free and the oracle is one anti-join)
    "q_warc_digest_stream" -> ((s, d) => {
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
    }),
    // revisit-record RESOLUTION (the read side of the revisit
    // convention): digest-carrying revisits join back to the stored
    // original response by payload digest — response side collapsed to
    // one representative per digest first; the ghost revisit (digest
    // matching no response) must come out with NULL originals, never
    // silently dropped
    "q_warc_revisit_resolve" -> ((s, d) => {
      import graft.sources.WarcIngest
      val parsed = plantWarcHistoryParsed(table(s, d, "documents"))
      WarcIngest.resolveRevisits(parsed)
        .select(col("url"), col("record_id"), col("payload_digest"),
          col("original_record_id"), col("original_url"))
        .orderBy("record_id", "url")
    }),
    // OBSERVED change rates -> recrawl pressure: each URL's fetch
    // history (responses = content versions, revisits = explicit
    // unchanged observations) collapses to n_fetches / n_versions /
    // change_rate, and the rate drives the politeness schedule
    // (change-hungry URLs recrawl in earlier waves) — the adaptive
    // recrawl chain a crawler actually runs, end to end in one row
    "q_recrawl_observed" -> ((s, d) => {
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
    }),
    // the digest gate with FOLD-BACK on (appendAccepted = true): each
    // accepted batch's digests join the index, so a later batch's
    // same-digest duplicate is gated — exactly one survivor per digest
    // ACROSS batches. Determinism by construction: two sequential
    // AvailableNow drains on one checkpoint (the daily-drop shape),
    // one batch each — evens land first, odds arrive later; the
    // within-batch co-arrival window stays open (documented), so the
    // oracle is seed-anti-join for stage A, then (seed ∪ A) for B
    "q_warc_digest_stream_fold" -> ((s, d) => {
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
    }),
    // the URL faces through SQL — same logical plans by construction,
    // shared oracles (a crawl-ops dashboard calls these over a
    // registered `urls` relation)
    "q_sql_html_text" -> ((s, d) => {
      GraftFunctions.register(s)
      plantHtml(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.PagesRelation)
      s.sql("SELECT doc_id, text FROM graft_html_text() ORDER BY doc_id")
    }),
    "q_sql_html_main" -> ((s, d) => {
      GraftFunctions.register(s)
      plantHtml(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.PagesRelation)
      s.sql("SELECT doc_id, main FROM graft_html_main() ORDER BY doc_id")
    }),
    "q_sql_url_canon" -> ((s, d) => {
      GraftFunctions.register(s)
      plantUrls(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.UrlsRelation)
      s.sql("SELECT doc_id, url, canon_url FROM graft_url_canon() ORDER BY doc_id")
    }),
    "q_sql_url_dedup" -> ((s, d) => {
      GraftFunctions.register(s)
      plantUrls(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.UrlsRelation)
      s.sql("SELECT doc_id, url, canon_url FROM graft_url_dedup() ORDER BY doc_id")
    }),
    // round-11 faces: REP robots, suffix + PSL blocklists, and the
    // curation capstone as ONE SQL SELECT over registered relations —
    // same logical plans by construction, shared oracles
    "q_sql_url_robots" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      plantUrls(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.UrlsRelation)
      Seq(("example2.com", "/p/1", false),
        ("example2.com", "/p/10", true),
        ("www.example9.com:443", "/", false),
        ("example9.com", "/p/3", true),
        ("cdn.media.example5.com", "/p/*7", false),
        ("example4.com", "/p/2$", false)).toDF("host", "pattern", "allow")
        .createOrReplaceTempView(SqlTableFunctions.RobotsRelation)
      s.sql("SELECT doc_id, url FROM graft_url_robots() ORDER BY doc_id")
    }),
    // the capstone as ONE SQL SELECT over registered relations —
    // identical logical plan by construction, shared chained oracle
    "q_sql_crawl_plan" -> ((s, d) => {
      GraftFunctions.register(s)
      val docs = table(s, d, "documents")
      plantRobotsTxt(docs)
        .createOrReplaceTempView(SqlTableFunctions.RobotsTxtRelation)
      plantCompliancePages(docs)
        .withColumn("priority", col("doc_id") % 5)
        .createOrReplaceTempView(SqlTableFunctions.PagesRelation)
      s.sql("SELECT doc_id, host, wave, fetch_at_ms FROM graft_crawl_plan('*') " +
        "ORDER BY doc_id")
    }),
    // SQL faces of the raw-robots family: the robots_txt relation
    // carries fetched bodies; the faces parse per-agent
    // the fetch-status faces over the robots_fetch relation (host,
    // robots_txt, status) — RFC 9309 2.3.1 semantics as one SQL call
    "q_sql_crawl_plan_status" -> ((s, d) => {
      GraftFunctions.register(s)
      val docs = table(s, d, "documents")
      plantRobotsFetch(docs)
        .createOrReplaceTempView(SqlTableFunctions.RobotsFetchRelation)
      plantCompliancePages(docs)
        .withColumn("priority", col("doc_id") % 5)
        .createOrReplaceTempView(SqlTableFunctions.PagesRelation)
      s.sql("SELECT doc_id, host, wave, fetch_at_ms " +
        "FROM graft_crawl_plan_status('*') ORDER BY doc_id")
    }),
    "q_sql_robots_status" -> ((s, d) => {
      GraftFunctions.register(s)
      plantRobotsFetch(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.RobotsFetchRelation)
      s.sql("SELECT host, pattern, allow FROM graft_robots_rules_status('*') " +
        "ORDER BY host, pattern, allow")
    }),
    "q_sql_delays_status" -> ((s, d) => {
      GraftFunctions.register(s)
      plantRobotsFetch(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.RobotsFetchRelation)
      s.sql("SELECT host, delay_s FROM graft_crawl_delays_status('*') " +
        "ORDER BY host")
    }),
    "q_sql_robots_parse" -> ((s, d) => {
      GraftFunctions.register(s)
      plantRobotsTxt(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.RobotsTxtRelation)
      s.sql("SELECT host, pattern, allow FROM graft_robots_rules('graftbot') " +
        "ORDER BY host, pattern, allow")
    }),
    "q_sql_crawl_delays" -> ((s, d) => {
      GraftFunctions.register(s)
      plantRobotsTxt(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.RobotsTxtRelation)
      s.sql("SELECT host, delay_s FROM graft_crawl_delays('graftbot') ORDER BY host")
    }),
    "q_sql_meta_robots" -> ((s, d) => {
      GraftFunctions.register(s)
      plantCompliancePages(table(s, d, "documents"))
        .select(col("doc_id"), col("html"))
        .createOrReplaceTempView(SqlTableFunctions.PagesRelation)
      s.sql("SELECT doc_id, noindex, nofollow FROM graft_meta_robots() ORDER BY doc_id")
    }),
    "q_sql_text_normalize" -> ((s, d) => {
      GraftFunctions.register(s)
      plantDirtyText(table(s, d, "documents"))
        .select(col("doc_id"), col("dirty").as("text"))
        .createOrReplaceTempView(SqlTableFunctions.DocumentsRelation)
      s.sql("SELECT doc_id, clean FROM graft_text_normalize() ORDER BY doc_id")
    }),
    "q_sql_url_blocklist" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      plantUrls(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.UrlsRelation)
      Seq("example7.com", "media.example11.com", "example3.com").toDF("domain")
        .createOrReplaceTempView(SqlTableFunctions.BlocklistRelation)
      s.sql("SELECT doc_id, host FROM graft_url_blocklist() ORDER BY doc_id")
    }),
    "q_sql_url_blocklist_psl" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      plantPslUrls(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.UrlsRelation)
      Seq("co.uk", "example3.co.uk", "example7.com", "blogspot.com")
        .toDF("domain")
        .createOrReplaceTempView(SqlTableFunctions.BlocklistRelation)
      s.sql("SELECT doc_id, host FROM graft_url_blocklist_psl() ORDER BY doc_id")
    }),
    "q_sql_crawl_curate" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val docs = table(s, d, "documents")
      plantUrls(docs).createOrReplaceTempView(SqlTableFunctions.UrlsRelation)
      plantHtml(docs).createOrReplaceTempView(SqlTableFunctions.PagesRelation)
      Seq("example7.com", "media.example11.com", "example3.com").toDF("domain")
        .createOrReplaceTempView(SqlTableFunctions.BlocklistRelation)
      s.sql("SELECT doc_id, canon_url, n_words, main_hash " +
        "FROM graft_crawl_curate(20) ORDER BY doc_id")
    }),
    // the crawl-frontier gate (ninth external-state streaming family):
    // even-id docs' canonical URLs form the persisted seen-set, all docs
    // stream through in 6 staged files — survivors are docs whose
    // canonical URL the frontier has never claimed (index-only claims,
    // so the result is batch-partition independent and the oracle is a
    // NOT IN over the even side's canonicals)
    "q_url_stream" -> ((s, d) => {
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
    }),
    // the TTL recrawl gate: even docs' canonicals are claimed at
    // claimed_at = doc_id*10; every doc streams through with its OWN
    // clock crawl_ts = doc_id*10 + (doc_id%7)*1000 and passes unless
    // the newest claim on its canonical is within ttl=3000 of that
    // clock — stale claims expire, URLs re-admit (per-row expiry keeps
    // the survivor set batch-partition independent)
    "q_url_stream_ttl" -> ((s, d) => {
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
    }),
    // the compliance gate streamed: six micro-batches of fetched pages
    // robots-enforced (parsed-rules snapshot broadcast per batch),
    // noindex-stripped, then probed against pre-seeded frontier claims
    // (even doc_ids) — claims from the INDEX only, so the survivor set
    // is batch-partition independent and the oracle replays it as one
    // batch chain + NOT IN
    "q_crawl_plan_stream" -> ((s, d) => {
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
    }),
    // robots.txt compliance, full REP (RFC 9309): Allow/Disallow with
    // longest-pattern-wins (Allow on ties), '*' wildcards, trailing-$
    // anchors, 'Disallow: /' blocking the host root, rule hosts
    // canonicalized (www./default-port stripped); rules broadcast,
    // AQE-guarded anti, no forced driver materialization
    "q_url_robots" -> ((s, d) => {
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
    }),
    // raw robots.txt → rules frame: RFC 9309 group parsing (consecutive
    // User-agent lines open one shared group, Sitemap/comments/CRLF
    // ignored, case-insensitive keys, host-level most-specific agent
    // selection with '*' fallback) — windows shuffle only the robots
    // LINES frame, never the corpus
    "q_robots_parse" -> ((s, d) =>
      graft.operators.UrlOps.parseRobotsRules(
          plantRobotsTxt(table(s, d, "documents")), agent = "graftbot")
        .orderBy("host", "pattern", "allow")),
    // per-host Crawl-delay for the binding groups: non-numeric values
    // dropped, multiple binding values collapse to min
    "q_robots_delay" -> ((s, d) =>
      graft.operators.UrlOps.crawlDelays(
          plantRobotsTxt(table(s, d, "documents")), agent = "graftbot")
        .orderBy("host")),
    // the chained compliance path: raw robots.txt bodies parsed, then
    // ENFORCED over the URL corpus — proves the parsed frame feeds
    // filterDisallowed end to end (q_url_robots gates the enforcement
    // semantics on a hand-built rules frame; this row gates the hop
    // from bytes to rules)
    "q_robots_enforce" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val rules = graft.operators.UrlOps.parseRobotsRules(
        plantRobotsTxt(docs), agent = "*")
      graft.operators.UrlOps
        .filterDisallowed(plantUrls(docs), "url", "doc_id", rules)
        .orderBy("doc_id")
    }),
    // politeness scheduling: per-host fetch waves (priority-ranked) ×
    // parsed Crawl-delay budgets → earliest fetch offsets; ONE frontier
    // shuffle on host (the window's distribution, shared by the delays
    // equi-join — deliberately NOT broadcast: per-host delays are
    // #hosts-sized at web scale)
    "q_frontier_schedule" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val frontier = plantUrls(docs)
        .withColumn("priority", col("doc_id") % 5)
      val delays = graft.operators.UrlOps.crawlDelays(
        plantRobotsTxt(docs), agent = "graftbot")
      graft.operators.UrlOps
        .frontierSchedule(frontier, "url", "doc_id", "priority", delays)
        .orderBy("doc_id")
    }),
    // soft-error pages: the server said 200 but the page says parked/
    // 404/placeholder — content-level stop-phrase + emptiness flags
    // status filtering cannot catch
    "q_soft404" -> ((s, d) =>
      plantSoftPages(table(s, d, "documents"))
        .select(col("doc_id"), graft.operators.TextExtraction
          .isSoftErrorPage(col("text")).as("soft"))
        .orderBy("doc_id")),
    // per-host crawl triage: page volume, canonical-duplicate rate,
    // soft-error rate — the domain-level budget/filter signal; one
    // hash agg on host, exact per-host distinct
    "q_domain_report" -> ((s, d) =>
      graft.operators.CorpusCuration.domainReport(
          plantSoftPages(table(s, d, "documents")))
        .orderBy("host")),
    // change-driven recrawl: current vs previous snapshot compared by
    // canonical URL (md5s travel, texts never do), changed/new pages
    // get priority 1.0 and stable ones 0.1, then the politeness
    // scheduler ranks them — the adaptive-crawl loop closed in one
    // chained row
    "q_recrawl_schedule" -> ((s, d) => {
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
    }),
    // Sitemap: directives from robots bodies — per the spec GLOBAL
    // (outside user-agent groups, any position), so the scan ignores
    // grouping; absolute-URL values only, distinct per (host, url)
    "q_robots_sitemaps" -> ((s, d) =>
      graft.operators.UrlOps.robotsSitemaps(
          plantRobotsTxt(table(s, d, "documents")))
        .orderBy("host", "sitemap_url")),
    // the compliance CAPSTONE — robots bytes to a polite crawl plan:
    // parse robots.txt, enforce it over the page frame, drop noindex'd
    // pages, consolidate by declared canonical, schedule the winners in
    // per-host politeness waves with the parsed delays. One chained
    // oracle replays every hop; shuffle inventory: broadcast-rules anti
    // (enforce), map-only meta filter, one combiner-collapsed shuffle
    // (consolidation), one host shuffle (schedule)
    "q_crawl_plan" -> ((s, d) => {
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
    }),
    // the compliance capstone under RFC 9309 §2.3.1 FETCH-STATUS
    // semantics: a 404'd robots.txt host crawls unrestricted (its
    // parsed rules drop), a 500'd host is fully excluded (synthesized
    // Disallow: /), and only live hosts contribute crawl delays —
    // the rule a plain body parse cannot express
    "q_crawl_plan_status" -> ((s, d) => {
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
    }),
    // domain-blocklist filter with suffix semantics (blocking example.com
    // blocks cdn.media.example.com): exploded domain-chain broadcast semi
    // collects blocked keys, broadcast anti removes them — the corpus
    // frame is never shuffled
    "q_url_blocklist" -> ((s, d) => {
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
    }),
    // the PSL tier: chains stop at the REGISTRABLE domain, so blocklist
    // entries at a public suffix ('co.uk', 'blogspot.com') match
    // NOTHING while 'example3.co.uk' still blocks its subdomains —
    // same exploded-chain broadcast-semi + anti shape
    "q_url_blocklist_psl" -> ((s, d) => {
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
    }),
    // the link-graph family (the stage after extraction in a crawl
    // pipeline): anchor hrefs -> canonical edge list — quote styles,
    // absolute + root-relative resolution (page scheme kept),
    // mailto/fragment/relative-doc dropped, target canonicalized,
    // self-loops and duplicate edges collapsed
    "q_link_extract" -> ((s, d) =>
      graft.operators.LinkGraph.extractLinks(
        plantLinkedPages(table(s, d, "documents")), "url", "html")
        .orderBy("src", "dst")),
    // in-link counts — the cheapest link-quality prior (one
    // combiner-collapsed aggregation per destination)
    "q_link_indegree" -> ((s, d) =>
      graft.operators.LinkGraph.inDegree(
        graft.operators.LinkGraph.extractLinks(
          plantLinkedPages(table(s, d, "documents")), "url", "html"))
        .orderBy("url")),
    // FIXED-POINT PageRank (integer micro-units, floor division at
    // every step, dangling mass redistributed) — bit-identical under
    // any partitioning, so the oracle replays all three iterations
    // exactly; per iteration: one shuffle of contributions on dst +
    // one rank join on src + one scalar dangling aggregate
    "q_link_pagerank" -> ((s, d) =>
      graft.operators.LinkGraph.pagerank(
        graft.operators.LinkGraph.extractLinks(
          plantLinkedPages(table(s, d, "documents")), "url", "html"),
        iters = 3).orderBy("url")),
    // host-level PageRank — domain reputation as the fixed-point rank
    // over the host graph (the level real reputation systems compute
    // at: orders of magnitude fewer nodes than the page graph); pure
    // composition of hostGraph + pagerank, same replayable arithmetic
    "q_link_host_rank" -> ((s, d) => {
      val hg = graft.operators.LinkGraph.hostGraph(
        graft.operators.LinkGraph.extractLinks(
          plantLinkedPages(table(s, d, "documents")), "url", "html"))
      graft.operators.LinkGraph.pagerank(
          hg.select(col("src_host").as("src"), col("dst_host").as("dst")),
          iters = 3)
        .orderBy("url")
    }),
    // PERSONALIZED PageRank: teleport mass lands only on a trusted
    // seed set (the hub0-2 hosts), so rank measures proximity-to-trust
    // — the TrustRank-shaped seed propagation crawl curation runs;
    // same fixed-point arithmetic, all three iterations replayed
    "q_link_ppr" -> ((s, d) => {
      val edges = graft.operators.LinkGraph.extractLinks(
        plantLinkedPages(table(s, d, "documents")), "url", "html")
      val seeds = edges.select(col("dst").as("url"))
        .filter(col("url").rlike("^https://hub[0-2]\\."))
        .distinct()
      graft.operators.LinkGraph.personalizedPagerank(edges, seeds, iters = 3)
        .orderBy("url")
    }),
    // per-link rel="nofollow" compliance (the link-level half of REP —
    // metaNofollow is the page level): per-anchor ATTRIBUTE-STRING
    // extraction makes the flag attribute-order free, and duplicate
    // (src, dst) pairs collapse to followed when ANY copy endorses
    "q_link_rel" -> ((s, d) =>
      graft.operators.LinkGraph.extractLinksWithRel(
        plantRelAttrPages(table(s, d, "documents")), "url", "html")
        .orderBy("src", "dst")),
    // the per-URL reputation report: rank over the ENDORSEMENT graph
    // (nofollow edges carry no rank), in-degree + nofollow share over
    // ALL in-edges, and the top anchor label — three pre-aggregated
    // one-row-per-URL sides joined on url; only-nofollow'd targets
    // come out with NULL rank (honest, not zero)
    "q_link_url_report" -> ((s, d) =>
      graft.operators.LinkGraph.urlReport(
        plantRelAttrPages(table(s, d, "documents")), "url", "html")
        .orderBy("url")),
    // the persisted-index path: edges bucketed by src, so every
    // PageRank iteration's join is co-partitioned on the edge side
    // (no edge shuffle per iteration — only the rank table moves);
    // exact-fixpoint early stop (delta == 0) keeps the fixed-iters
    // oracle valid. Shares q_link_pagerank's oracle.
    "q_link_pagerank_idx" -> ((s, d) => {
      val edges = graft.operators.LinkGraph.extractLinks(
        plantLinkedPages(table(s, d, "documents")), "url", "html")
      graft.operators.LinkGraph.writeEdgeIndex(edges,
        "graft_link_edge_index")
      graft.operators.LinkGraph.pagerankAgainstIndex(s,
        "graft_link_edge_index", iters = 3).orderBy("url")
    }),
    // incremental edge-index maintenance (the daily-crawl shape, and
    // the dedup/ANN append precedent applied to the link family):
    // yesterday's index holds the hub edges, today's append carries
    // the FULL day crawl — hub edges arrive a second time, and the
    // exchange-free duplicate collapse on read (src bucketing already
    // satisfies the (src, dst) grouping) must make PageRank over the
    // appended index EXACTLY equal the from-scratch run
    "q_link_pagerank_idx_inc" -> ((s, d) => {
      val edges = graft.operators.LinkGraph.extractLinks(
        plantLinkedPages(table(s, d, "documents")), "url", "html")
        .localCheckpoint(true) // feeds both slices — one evaluation
      graft.operators.LinkGraph.writeEdgeIndex(
        edges.filter(col("dst").contains("hub")), "graft_link_edge_inc")
      graft.operators.LinkGraph.appendToEdgeIndex(edges,
        "graft_link_edge_inc")
      graft.operators.LinkGraph.pagerankAgainstIndex(s,
        "graft_link_edge_inc", iters = 3).orderBy("url")
    }),
    "q_link_components_idx" -> ((s, d) => {
      val edges = graft.operators.LinkGraph.extractLinks(
        plantLinkedPages(table(s, d, "documents")), "url", "html")
      graft.operators.LinkGraph.writeEdgeIndex(edges,
        "graft_link_edge_cidx")
      graft.operators.LinkGraph.componentsAgainstIndex(s,
        "graft_link_edge_cidx").orderBy("url")
    }),
    // HITS hubs & authorities over the same edge list — the
    // query-independent complement of PageRank (authority = linked-to
    // by good hubs; hub = links to good authorities): fixed-point
    // integers with per-iteration L1 rescale (the HITS update is
    // linear, so the normalization choice sets only the scale — and
    // integer L1 is what the oracle can replay bit for bit; the
    // textbook L2 needs a sqrt)
    "q_link_hits" -> ((s, d) =>
      graft.operators.LinkGraph.hits(
        graft.operators.LinkGraph.extractLinks(
          plantLinkedPages(table(s, d, "documents")), "url", "html"),
        iters = 2).orderBy("url")),
    // HOST-sharded HITS — the sharded-ranking shape the resolution
    // bound prescribes past ~10^9 nodes (HITS was defined on local
    // subgraphs; the host projection is orders of magnitude smaller
    // than the page graph): pure composition of hostGraph + hits, the
    // q_link_host_rank precedent with authorities/hubs instead of rank
    "q_link_hits_host" -> ((s, d) => {
      val hg = graft.operators.LinkGraph.hostGraph(
        graft.operators.LinkGraph.extractLinks(
          plantLinkedPages(table(s, d, "documents")), "url", "html"))
      graft.operators.LinkGraph.hits(
          hg.select(col("src_host").as("src"), col("dst_host").as("dst")),
          iters = 2)
        .orderBy("url")
    }),
    // streamed PageRank maintenance (the link family's streaming face,
    // completing the persisted-index line): half the edge list seeds
    // the bucketed index, the other half streams in as micro-batches —
    // each batch appends to the index and recomputes against the full
    // accumulated graph, so the LAST batch's ranks are bit-identical
    // to the from-scratch 3-iteration run over ALL edges (the
    // incremental-≡-from-scratch discipline; shares q_link_pagerank's
    // oracle)
    "q_link_pagerank_stream" -> ((s, d) => {
      import org.apache.spark.sql.functions.crc32
      val edges = graft.operators.LinkGraph.extractLinks(
        plantLinkedPages(table(s, d, "documents")), "url", "html")
        .localCheckpoint(true) // feeds both slices — one evaluation
      val seedSide = crc32(concat_ws("|", col("src"), col("dst"))) % 2 === 0
      BenchPhases.timed("q_link_pagerank_stream", "build")(
        graft.operators.LinkGraph.writeEdgeIndex(
          edges.filter(seedSide), "graft_link_edge_stream"))
      withTempDir("graft_pr_stream") { tmp =>
        BenchPhases.timed("q_link_pagerank_stream", "stage")(
          edges.filter(!seedSide).repartition(3)
            .write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_link_pagerank_stream")(
          graft.streaming.LinkStream.startPagerank(s, s"$tmp/input",
            "graft_link_edge_stream", s"$tmp/out", s"$tmp/cp",
            maxFilesPerTrigger = Some(1)))
        graft.streaming.LinkStream.latestRanks(s, s"$tmp/out")
          .orderBy("url")
      }
    }),
    // the COARSER-TRIGGER recompute split (the documented scale lever,
    // now gated): edges append on every one of the 4 micro-batches,
    // ranks recompute only on every 2nd — the final (4th) batch IS a
    // recompute batch, so the latest ranks must still be bit-identical
    // to the from-scratch run over ALL edges (incremental ≡
    // from-scratch is cadence-independent); per-batch cost now scales
    // with the recompute cadence, not the arrival cadence
    "q_link_pagerank_stream_n" -> ((s, d) => {
      import org.apache.spark.sql.functions.crc32
      val edges = graft.operators.LinkGraph.extractLinks(
        plantLinkedPages(table(s, d, "documents")), "url", "html")
        .localCheckpoint(true) // feeds both slices — one evaluation
      val seedSide = crc32(concat_ws("|", col("src"), col("dst"))) % 2 === 0
      BenchPhases.timed("q_link_pagerank_stream_n", "build")(
        graft.operators.LinkGraph.writeEdgeIndex(
          edges.filter(seedSide), "graft_link_edge_stream_n"))
      withTempDir("graft_pr_stream_n") { tmp =>
        BenchPhases.timed("q_link_pagerank_stream_n", "stage")(
          edges.filter(!seedSide).repartition(4)
            .write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_link_pagerank_stream_n")(
          graft.streaming.LinkStream.startPagerank(s, s"$tmp/input",
            "graft_link_edge_stream_n", s"$tmp/out", s"$tmp/cp",
            maxFilesPerTrigger = Some(1), recomputeEveryN = 2))
        graft.streaming.LinkStream.latestRanks(s, s"$tmp/out")
          .orderBy("url")
      }
    }),
    // sitemap ingestion (the crawl frontier's OTHER input besides
    // extracted links): <url> blocks -> (key, canonical loc, verbatim
    // lastmod-or-null); XML entity decode before canonicalization,
    // whitespace-trimmed locs, loc-less blocks dropped
    "q_sitemap_urls" -> ((s, d) =>
      graft.operators.UrlOps.sitemapUrls(
        plantSitemaps(table(s, d, "documents")), "xml", "doc_id")
        .orderBy("doc_id", "url")),
    // sitemap-INDEX resolution over a staged body pool, one level:
    // index bodies' <sitemap> children join back to the pool by
    // canonical URL (the child side broadcasts), their <url> entries
    // come out keyed by the INDEX's doc — then straight into the
    // per-host budget (3), so the row proves union-of-children AND
    // budgets in one gate; the unstaged child and the loc-less block
    // must contribute nothing
    "q_url_sitemap_index" -> ((s, d) => {
      import s.implicits._
      import graft.operators.UrlOps
      val pool = plantSitemapIndexPool(table(s, d, "documents"))
      val entries = UrlOps.sitemapUrlsViaIndex(pool, "url", "xml", "doc_id")
      val noDelays = Seq.empty[(String, Double)].toDF("host", "delay_s")
      UrlOps.frontierBudget(
          entries.withColumn("priority", lit(0.5)),
          "url", "doc_id", "priority", noDelays, maxPerHost = 3)
        .orderBy("doc_id", "wave")
    }),
    // the sitemap DISCOVERY frontier: children the staged index bodies
    // reference but the pool does not hold — exactly the two
    // missing*.xml per index — scheduled into politeness waves (one
    // host per index doc, so waves 0 and 1 per host in url order);
    // staged children and loc-less blocks must contribute nothing
    "q_sitemap_frontier" -> ((s, d) => {
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
    }),
    // sitemap-declared importance feeding the crawl plan: <priority>
    // parsed (clamped to [0,1], spec default 0.5 for absent/junk),
    // entries scheduled in politeness waves under a per-host budget of
    // 3 — the discovery → schedule chain a crawler actually runs
    "q_sitemap_schedule" -> ((s, d) => {
      import graft.operators.UrlOps
      val docs = table(s, d, "documents")
      val entries = UrlOps.sitemapEntries(
        plantPrioritySitemaps(docs), "xml", "k")
      val delays = UrlOps.crawlDelays(plantRobotsTxt(docs), agent = "graftbot")
      UrlOps.frontierBudget(entries, "url", "k", "priority", delays,
          maxPerHost = 3)
        .orderBy("host", "wave")
    }),
    // redirect-chain resolution: per-hop co-keyed left joins with an
    // early exit; chains terminating within 8 hops resolve (final_url,
    // hops), loops and over-cap chains come out (NULL, NULL) — the
    // oracle replays the walk as a recursive CTE under the same cap
    "q_url_redirects" -> ((s, d) =>
      graft.operators.UrlOps.resolveRedirects(
        plantRedirects(table(s, d, "documents")), maxHops = 8)
        .orderBy("url")),
    // the link family's SQL faces: edge extraction and the full
    // three-iteration fixed-point PageRank as ONE SQL SELECT over the
    // registered link_pages relation — same logical plans by
    // construction, shared oracles
    "q_sql_link_edges" -> ((s, d) => {
      GraftFunctions.register(s)
      plantLinkedPages(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.LinkPagesRelation)
      s.sql("SELECT src, dst FROM graft_link_edges() ORDER BY src, dst")
    }),
    "q_sql_link_pagerank" -> ((s, d) => {
      GraftFunctions.register(s)
      plantLinkedPages(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.LinkPagesRelation)
      s.sql("SELECT url, rank FROM graft_link_pagerank(3, 85) ORDER BY url")
    }),
    // HITS against the persisted src-bucketed edge index — same
    // exchange-free src-side read as pagerankAgainstIndex; shares the
    // ad-hoc row's oracle (index read ≡ edge list by construction)
    "q_link_hits_idx" -> ((s, d) => {
      val edges = graft.operators.LinkGraph.extractLinks(
        plantLinkedPages(table(s, d, "documents")), "url", "html")
      graft.operators.LinkGraph.writeEdgeIndex(edges,
        "graft_link_edge_hits")
      graft.operators.LinkGraph.hitsAgainstIndex(s,
        "graft_link_edge_hits", iters = 2).orderBy("url")
    }),
    // WARC archive observability: per-record-type counts + how many of
    // each carry a declared payload digest — the first number a crawl
    // operator asks of a new archive drop (one combiner-collapsed agg)
    "q_warc_types" -> ((s, d) => {
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
    }),
    "q_sql_link_hits" -> ((s, d) => {
      GraftFunctions.register(s)
      plantLinkedPages(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.LinkPagesRelation)
      s.sql("SELECT url, hub, authority FROM graft_link_hits(2) ORDER BY url")
    }),
    "q_sql_url_report" -> ((s, d) => {
      GraftFunctions.register(s)
      plantRelAttrPages(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.LinkPagesRelation)
      s.sql("SELECT url, rank, n_inlinks, nofollow_share, top_anchor " +
        "FROM graft_url_report() ORDER BY url")
    }),
    // the round-14 faces: host-sharded HITS, revisit resolution and
    // the sitemap frontier as ONE SQL SELECT over registered relations
    // — same logical plans by construction, shared oracles
    "q_sql_link_hits_host" -> ((s, d) => {
      GraftFunctions.register(s)
      plantLinkedPages(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.LinkPagesRelation)
      s.sql("SELECT url, hub, authority FROM graft_link_hits_host(2) " +
        "ORDER BY url")
    }),
    "q_sql_warc_revisits" -> ((s, d) => {
      GraftFunctions.register(s)
      plantWarcHistoryParsed(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.WarcRecordsRelation)
      s.sql("SELECT url, record_id, payload_digest, original_record_id, " +
        "original_url FROM graft_warc_revisits() ORDER BY record_id, url")
    }),
    "q_sql_sitemap_frontier" -> ((s, d) => {
      GraftFunctions.register(s)
      plantSitemapIndexPool(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.SitemapsRelation)
      s.sql("SELECT doc_id, child_url FROM graft_sitemap_frontier() " +
        "ORDER BY doc_id, child_url")
    }),
    // directory-relative resolution face: ../, ./, mixed traversal and
    // the above-root clamp, all via the fixed-pass dot-segment
    // contraction the oracle replays pass-for-pass
    "q_link_extract_rel" -> ((s, d) =>
      graft.operators.LinkGraph.extractLinks(
        plantRelPages(table(s, d, "documents")), "url", "html")
        .orderBy("src", "dst")),
    // anchor-text signal: per (target, normalized anchor text) source
    // counts — the query-independent relevance label other pages give a
    // URL. Exercises per-match group re-alignment (arrays_zip over the
    // three extract_all lists), both quote styles, whitespace collapse,
    // and the empty-text drop (nested-markup anchors)
    "q_link_anchors" -> ((s, d) =>
      graft.operators.LinkGraph.extractAnchors(
        plantAnchorPages(table(s, d, "documents")), "url", "html")
        .groupBy(col("dst").as("url"), col("anchor"))
        .agg(count(lit(1)).as("n_srcs"))
        .orderBy("url", "anchor")),
    // the per-target label rollup: ONE row per URL — the most common
    // anchor other pages use for it (combiner-collapsed histogram +
    // the deterministic-mode row_number, count DESC then anchor ASC)
    "q_link_anchor_labels" -> ((s, d) =>
      graft.operators.LinkGraph.topAnchorLabels(
        graft.operators.LinkGraph.extractAnchors(
          plantAnchorPages(table(s, d, "documents")), "url", "html"))
        .orderBy("url")),
    "q_sql_anchor_labels" -> ((s, d) => {
      GraftFunctions.register(s)
      plantAnchorPages(table(s, d, "documents"))
        .createOrReplaceTempView(SqlTableFunctions.LinkPagesRelation)
      s.sql("SELECT url, top_anchor, n_srcs FROM graft_anchor_labels() " +
        "ORDER BY url")
    }),
    // host-level rollup of the edge list (domain reputation): intra-host
    // edges dropped, one combiner-collapsed count per host pair
    "q_link_hostgraph" -> ((s, d) =>
      graft.operators.LinkGraph.hostGraph(
        graft.operators.LinkGraph.extractLinks(
          plantLinkedPages(table(s, d, "documents")), "url", "html"))
        .orderBy("src_host", "dst_host")),
    // connected components of the undirected link graph (string-keyed
    // large-star/small-star contraction; component = min canonical URL)
    // — crawl sharding / mirror detection; the oracle computes the same
    // fixpoint as a recursive reachability CTE
    "q_link_components" -> ((s, d) =>
      graft.operators.LinkGraph.components(
        graft.operators.LinkGraph.extractLinks(
          plantLinkedPages(table(s, d, "documents")), "url", "html"))
        .orderBy("url")),
    // mirror-candidate host pairs by link structure: outgoing-target
    // Jaccard >= 0.15 after the hot-target cut (targets linked from >15
    // hosts are dropped BEFORE the pair join — the maxDf discipline);
    // jaccard banded at the rounded 6-dp value so the threshold
    // boundary is engine-identical
    "q_link_mirror" -> ((s, d) =>
      graft.operators.LinkGraph.hostSimilarity(
        graft.operators.LinkGraph.extractLinks(
          plantLinkedPages(table(s, d, "documents")), "url", "html"),
        threshold = 0.15, maxDf = 15)
        .orderBy("host_a", "host_b")),
    // incremental component maintenance: "yesterday" = the hub-link
    // subgraph (absolute anchors), "today" = the in-site next-page
    // edges, which MERGE hub components through shared pages — the
    // incremental path must reproduce the full-graph components
    // EXACTLY, so it shares q_link_components' from-scratch oracle
    "q_link_components_inc" -> ((s, d) => {
      val edges = graft.operators.LinkGraph.extractLinks(
        plantLinkedPages(table(s, d, "documents")), "url", "html")
        .localCheckpoint(true) // feeds both slices below — one evaluation
      val assign = graft.operators.LinkGraph.components(
        edges.filter(col("dst").contains("hub")))
      graft.operators.LinkGraph.updateComponents(assign,
          edges.filter(!col("dst").contains("hub")))
        .orderBy("url")
    }),
    // Efraimidis-Spirakis weighted sample without replacement: 100 docs
    // drawn ∝ n_chars — one map + TakeOrdered(k), no sequential pass;
    // the oracle replays the md5 uniform, the ln(u)/w key and the
    // rounded-key/id ordering exactly
    "q_weighted_sample" -> ((s, d) =>
      graft.operators.Sampling.weightedSample(
        table(s, d, "documents"), "n_chars", k = 100)),
    // the per-domain face: best-20 weighted draw within each source
    "q_weighted_sample_strat" -> ((s, d) =>
      graft.operators.Sampling.weightedSamplePerStratum(
        table(s, d, "documents"), "n_chars", k = 20)),
    // the STREAMING weighted sample (mergeable top-k keys): the corpus
    // streams in micro-batches into the <=k-row state table; the final
    // state must equal the one-shot draw over everything — micro-batching
    // provably invisible, the oracle replays the one-shot selection
    "q_weighted_sample_stream" -> ((s, d) => {
      val docs = table(s, d, "documents")
      BenchPhases.timed("q_weighted_sample_stream", "build")(
        graft.operators.Sampling.writeWeightedSampleState(
          docs.filter(lit(false)), "graft_wsample_state", "n_chars", k = 100))
      withTempDir("graft_wsample_stream") { tmp =>
        BenchPhases.timed("q_weighted_sample_stream", "stage")(
          docs.select("doc_id", "n_chars").repartition(6)
            .write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_weighted_sample_stream")(
          graft.streaming.WeightedSampleStream.start(s, s"$tmp/input",
              "graft_wsample_state", s"$tmp/cp", maxFilesPerTrigger = Some(1)))
        // state stores the RAW selection key; quantize only at report,
        // mirroring the batch face (see Sampling.weightedSample)
        s.table("graft_wsample_state")
          .select(col("doc_id"), sround(col("es_key"), 6).as("es_key"))
          .orderBy(col("es_key").desc, col("doc_id"))
      }
    }),
    // deterministic hash-bucketed train/validation/test split
    "q_split" -> ((s, d) =>
      graft.operators.Sampling.assignSplits(table(s, d, "documents"))
        .select("doc_id", "split").orderBy("doc_id")),
    // leakage-safe split: the split unit is the near-dup CLUSTER, so a
    // paraphrase of a test doc cannot land in train
    "q_split_by_cluster" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.Sampling.assignSplitsByCluster(docs,
          graft.operators.Dedup.jaccardPairs(docs, n = 3, threshold = 0.8, maxDf = Some(10)))
        .select("doc_id", "component", "split").orderBy("doc_id")
    }),
    // per-source stratified downsample (deterministic, reshuffle-proof)
    "q_sample_stratified" -> ((s, d) =>
      graft.operators.Sampling.stratifiedSample(table(s, d, "documents"),
          stratum = "source", rates = Map("src0" -> 0.5, "src1" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "source").orderBy("doc_id")),
    // RefinedWeb-style per-domain cap: at most 15 docs per source, the
    // hash-deterministic (bucket, doc_id)-least selection, computed via
    // the histogram+boundary-bucket plan (no stratum-wide sort); the
    // oracle is the equivalent stratum-wide row_number
    "q_cap_per_source" -> ((s, d) =>
      graft.operators.Sampling.capPerStratum(table(s, d, "documents"), cap = 15)
        .select("doc_id", "source").orderBy("doc_id")),
    // target-mixture downsample (data mixing): src0/src1/src2 at 50/30/20;
    // the oracle recomputes counts → λ → thresholds in SQL
    "q_sample_mixture" -> ((s, d) =>
      graft.operators.Sampling.mixtureSample(table(s, d, "documents"),
          targets = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select("doc_id", "source").orderBy("doc_id")),
    // temperature re-sampling (α = 0.5) over a deterministically SKEWED
    // corpus (odd ids of five sources removed — the synthetic corpus is
    // uniform, which would make every keep rate 1): small sources kept
    // whole, big sources downsampled toward √count proportions
    "q_sample_temperature" -> ((s, d) => {
      val skewed = table(s, d, "documents").filter(
        !(col("source").isin("src0", "src1", "src2", "src3", "src4") &&
          col("doc_id") % 2 === 1))
      graft.operators.Sampling.temperatureSample(skewed, alpha = 0.5)
        .select("doc_id", "source").orderBy("doc_id")
    }),
    // deterministic epoch shuffle (training-data ordering): shard +
    // global position are a pure function of (seed, epoch, doc_id) —
    // the oracle replays md5 -> hex-Horner shard -> total order in SQL
    "q_epoch_shuffle" -> ((s, d) =>
      graft.operators.Sampling.epochShuffle(table(s, d, "documents"),
          seed = 42, epoch = 1, numShards = 7)
        .select(col("doc_id"), col("shard"), col("global_pos"))
        .orderBy("global_pos")),
    // best-k-per-domain selection: top-5 docs per source by quality
    // (total order via doc_id tie-break)
    "q_topk_quality" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val scored = graft.operators.TextAnalysis.qualityScore(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
      graft.operators.Sampling.topKPerStratum(scored, "source", 5,
          col("quality").desc, col("doc_id").asc)
        .select("doc_id", "source", "quality")
        .orderBy("source", "doc_id")
    }),

    // sequence packing: token-budget chunking in corpus order via a
    // two-phase distributed prefix sum (no single-task global window)
    // context-window chunking: 64-token windows, 8-token overlap —
    // map-only, integer boundary arithmetic replayed exactly in SQL
    "q_chunk" -> ((s, d) =>
      graft.operators.Packing.chunkDocuments(table(s, d, "documents"),
        maxTokens = 64, overlap = 8)),
    "q_pack_sequences" -> ((s, d) =>
      graft.operators.Packing.assignSequences(table(s, d, "documents"), budget = 2048)),
    // length-bucketed batch assembly (padding-minimizing sorted batching):
    // hash-sharded per-bucket sequencing, no global sort; batch_id packs
    // (bucket, shard, seq) into one BIGINT
    "q_batch_buckets" -> ((s, d) =>
      graft.operators.Packing.lengthBucketedBatches(
        table(s, d, "documents"), batchSize = 8, bucketWidth = 16,
        numShards = 4)),
    // materialized training sequences: docs concatenated in id order per
    // sequence — oracle replays the concat as string_agg(ORDER BY doc_id)
    "q_pack_materialize" -> ((s, d) =>
      graft.operators.Packing.materializeSequences(table(s, d, "documents"), budget = 2048)),

    // multimodal: binary content + typed metadata, batched feature extract
    // (decode stubbed deterministically — no codecs in this container).
    // Oracle precondition: the documents corpus is ASCII (chars == bytes,
    // asserted against the test data) — the stub sums UTF-8 bytes while
    // DuckDB's ascii() sums code points
    "q_multimodal_features" -> ((s, d) => {
      import graft.operators.Multimodal
      r6(Multimodal.extractFeatures(s,
          Multimodal.fromDocuments(table(s, d, "documents"))).toDF()
        .orderBy("id"), "byte_mean")
    }),
    // the REAL decode face of the media pipeline: deterministic tiny
    // PNGs synthesized per doc (constant gray survives the lossless PNG
    // round-trip and BT.601 luma exactly), decoded by javax.imageio and
    // feature-extracted from the DECODED plane — the features are
    // closed-form in doc_id, so the oracle replays the entire
    // encode → decode → extract chain in SQL
    "q_media_decode" -> ((s, d) => {
      import graft.operators.Multimodal
      val media = Multimodal.syntheticPng(
        table(s, d, "documents").filter(col("doc_id") % 10 === 0))
      r6(Multimodal.extractFeatures(s, media,
          Multimodal.MediaDecoder.Real).toDF()
        .orderBy("id"), "byte_mean")
    }),
    // real AUDIO decode through the same seam: hand-rolled constant-PCM16
    // WAVs decode via javax.sound.sampled (base JRE) to a closed-form
    // plane (every byte = doc_id%256), so the oracle replays the full
    // encode→decode→extract chain arithmetically
    "q_audio_decode" -> ((s, d) => {
      import graft.operators.Multimodal
      val media = Multimodal.syntheticWav(
        table(s, d, "documents").filter(col("doc_id") % 10 === 3))
      r6(Multimodal.extractFeatures(s, media,
          Multimodal.MediaDecoder.Real).toDF()
        .orderBy("id"), "byte_mean")
    }),

    // as-of (point-in-time) join: each click joined to the latest view at
    // or before it — composed from built-ins (union + running window), with
    // DuckDB's native ASOF LEFT JOIN as the oracle
    // perceptual media near-dup: every 25th doc re-planted as a
    // "re-encoded" copy (one byte overwritten — same length, so the
    // aHash cell grid is stable); aHash64 + pigeonhole banding finds
    // copies at hamming ≤ 4 (natural background starts at 10 on this
    // corpus — measured, see Scaladoc)
    "q_media_neardup" -> ((s, d) => {
      import graft.operators.Multimodal
      import org.apache.spark.sql.functions.{expr, substring}
      val docs = table(s, d, "documents")
      val planted = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(substring(col("text"), 1, 10), lit("q"),
            expr("substring(text, 12)")).as("text"), col("n_chars"))
      val corpus = docs.select("doc_id", "text", "n_chars")
        .unionByName(planted)
      Multimodal.mediaNearDupPairs(Multimodal.fromDocuments(corpus), maxHamming = 4)
    }),
    // the live media drop: even-id assets form the catalog, odd-id
    // assets stream through the aHash gate — survivors have no indexed
    // neighbor at hamming<=4 (the sixth external-state streaming family)
    "q_media_stream" -> ((s, d) => {
      import graft.operators.Multimodal
      import org.apache.spark.sql.functions.{expr, substring}
      val docs = table(s, d, "documents")
      val planted = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(substring(col("text"), 1, 10), lit("q"),
            expr("substring(text, 12)")).as("text"), col("n_chars"))
      val media = Multimodal.fromDocuments(
        docs.select("doc_id", "text", "n_chars").unionByName(planted))
      BenchPhases.timed("q_media_stream", "build")(
        Multimodal.writeMediaIndex(media.filter(col("id") % 2 === 0),
          "graft_media_stream_idx"))
      withTempDir("graft_media_stream") { tmp =>
        BenchPhases.timed("q_media_stream", "stage")(
          media.filter(col("id") % 2 === 1).select("id", "content")
            .repartition(6).write.parquet(s"$tmp/input"))
        BenchPhases.drainTimed("q_media_stream")(
          graft.streaming.DedupStream.startMedia(s, s"$tmp/input",
              "graft_media_stream_idx", s"$tmp/out", s"$tmp/cp",
              maxFilesPerTrigger = Some(1)))
        s.read.parquet(s"$tmp/out").select("id").orderBy("id")
      }
    }),
    // the asset-catalog lifecycle: day-0 indexed, day-1 APPENDED
    // (parameters from the table's own properties), day-2 probed — the
    // heavy media bytes of the catalog are never re-hashed; the oracle
    // recomputes every signature, so stored ≡ recomputed is the contract
    "q_media_neardup_idx" -> ((s, d) => {
      import graft.operators.Multimodal
      import org.apache.spark.sql.functions.{expr, substring}
      val docs = table(s, d, "documents")
      val planted = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(substring(col("text"), 1, 10), lit("q"),
            expr("substring(text, 12)")).as("text"), col("n_chars"))
      val media = Multimodal.fromDocuments(
        docs.select("doc_id", "text", "n_chars").unionByName(planted))
      BenchPhases.timed("q_media_neardup_idx", "build")(
        Multimodal.writeMediaIndex(media.filter(col("id") % 3 === 0), "graft_media_idx"))
      BenchPhases.timed("q_media_neardup_idx", "append")(
        Multimodal.appendToMediaIndex(media.filter(col("id") % 3 === 1), "graft_media_idx"))
      Multimodal.mediaNearDupAgainstIndex(media.filter(col("id") % 3 === 2),
        "graft_media_idx")
    }),

    // as-of (point-in-time) join: each click joined to the latest view at
    // or before it — composed from built-ins (union + running window), with
    // DuckDB's native ASOF LEFT JOIN as the oracle
    "q_asof" -> ((s, d) => {
      val cond = conditions(s, d)
      val clicks = scan(cond, "click", S1, E1, Some(Subject))
        .select(col("measurement_subject"), col("timestamp"),
          col("measurement_number").as("click_value"))
      val views = scan(cond, "view", S1, E1, Some(Subject))
        .select(col("measurement_subject"), col("timestamp"),
          col("measurement_number").as("view_value"))
      graft.queries.AsOfJoin.asofJoin(clicks, views,
          "measurement_subject", "timestamp", "click_value", "view_value")
        .select(org.apache.spark.sql.functions.unix_micros(col("timestamp")).as("ts_us"),
          col("click_value"), col("view_value"))
        .orderBy("ts_us")
    }),

    // funnel / conversion: per subject, how many clicks see a view within
    // 1h (forward as-of join over ALL subjects), plus mean response time.
    // Only the matched TIMESTAMP feeds the output, so ties between view
    // rows cannot make the result engine-dependent
    "q_funnel" -> ((s, d) => {
      import org.apache.spark.sql.functions.{avg, when}
      val cond = conditions(s, d)
      def side(of: String) = scan(cond, of, S1, E1)
        .select("measurement_subject", "timestamp")
      val horizonUs = 3600L * 1000000L
      graft.queries.AsOfJoin.asofNext(side("click"), side("view"),
          "measurement_subject", "timestamp")
        .withColumn("resp_us", unix_micros(col("next_ts")) - unix_micros(col("timestamp")))
        .groupBy("measurement_subject")
        .agg(count(lit(1)).as("n_clicks"),
          count(when(col("resp_us") <= horizonUs, 1)).as("n_converted"),
          sround(avg(when(col("resp_us") <= horizonUs, col("resp_us") / 1000000.0)), 6)
            .as("avg_response_s"))
        .orderBy("measurement_subject")
    }),

    // N-step ordered funnel (click → view → purchase, each hop ≤1h from
    // the previous reached event): one asofNext per hop over dedup'd
    // anchors, re-attached by hash join — never a range join
    "q_funnel3" -> ((s, d) =>
      graft.queries.EventAnalytics.funnel(conditions(s, d),
        Seq(Of, "view", "purchase"), S1, E1, horizonS = 3600)),

    // flagship curation: exact dedup -> near-dup removal -> quality +
    // language filter, the whole LLM-pipeline composed and oracle-checked
    "q_curate" -> ((s, d) =>
      graft.operators.CorpusCuration.curate(table(s, d, "documents"))),
    // the full training-run EXPORT: curate -> decontaminate (vs the
    // doc_id % 7 == 0 slice playing the eval suite) -> keep the train
    // split -> epoch-shuffle; the oracle replays all four stages in one
    // SQL statement, so the END-TO-END path carries an exact contract
    "q_training_export" -> ((s, d) => {
      val docs = table(s, d, "documents")
      graft.operators.CorpusCuration.trainingExport(docs,
          docs.filter(col("doc_id") % 7 === 0),
          seed = 42, epoch = 1, numShards = 7)
        .orderBy("global_pos")
    }),
    // the export's integrity manifest: per-shard counts, position extent
    // and an order-insensitive XOR content checksum — what gets recorded
    // next to the shards so a bad copy is detectable without re-reads
    "q_export_manifest" -> ((s, d) => {
      val docs = table(s, d, "documents")
      // the 4-stage export is MATERIALIZED under its own phase timer
      // (persist + count), then the manifest reads the cached rows: the
      // bench row's movement splits into export vs manifest instead of
      // repaying (and re-timing) the whole curation pipeline opaquely
      val exported = BenchPhases.timed("q_export_manifest", "export") {
        val e = graft.operators.CorpusCuration.trainingExport(docs,
            docs.filter(col("doc_id") % 7 === 0),
            seed = 42, epoch = 1, numShards = 7)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        e.count()
        e
      }
      graft.operators.Sampling.shardManifest(exported, docs)
    }),

    // end-to-end converter path under load: synthesize emon MQTT envelopes
    // from the events table, run the REAL convertEvent flatMap, emit the
    // wire records — the whole normalize stage is oracle-checked
    "q_ingest_emon" -> ((s, d) => {
      import s.implicits._
      emonEnvelopes(s, d).as[String]
        .flatMap(raw => graft.convert.Converters.convertEvent(raw).getOrElse(Vector.empty))
        .toDF()
        .select(col("timestamp"), col("measurement_subject"), col("measurement_of"),
          col("measurement_number"))
        .orderBy("timestamp", "measurement_number")
    }),

    // the SAME ingest, through the real Structured Streaming two-hop wire
    // topology (convert stage → replayable wire topic → storage stage, each
    // its own streaming query under Trigger.AvailableNow) — puts the
    // streaming path inside both the correctness gate (full DuckDB oracle)
    // and the bench (its timing is the streaming throughput row; the input
    // set is fixed per SF, so seconds are comparable round over round)
    "q_ingest_wire" -> ((s, d) => {
      withTempDir("graft_wire_bench") { tmp =>
        BenchPhases.timed("q_ingest_wire", "stage")(
          emonEnvelopes(s, d).write.text(s"$tmp/input"))
        BenchPhases.drainTimed("q_ingest_wire", "convert")(
          graft.streaming.IngestPipeline
            .startConvertToWire(s, s"$tmp/input", s"$tmp/wire", s"$tmp/cp_convert"))
        BenchPhases.drainTimed("q_ingest_wire", "store")(
          graft.streaming.IngestPipeline
            .startWire(s, s"$tmp/wire", s"$tmp/out", s"$tmp/cp_store"))
        s.read.parquet(s"$tmp/out")
          .select(unix_micros(col("timestamp")).as("ts_us"), col("measurement_subject"),
            col("measurement_of"), col("measurement_number"))
          .orderBy("ts_us", "measurement_number")
      }
    }),

    // dynamic JSON as Spark 4 Variant (SURVEY §1.4 alternative to
    // pre-flattening): envelopes parsed ONCE to a binary Variant, typed
    // fields extracted by path — including through the string-embedded
    // payload JSON (parse → extract string → parse again), the
    // reference's actual wire shape
    "q_variant_json" -> ((s, d) => {
      import graft.operators.DynamicJson
      val parsed = DynamicJson.parseEnvelopes(emonEnvelopes(s, d))
      parsed.select(
          col("topic"),
          sround(DynamicJson.payloadField(col("v"), "$.P1", "double"), 6).as("p1"),
          sround(DynamicJson.payloadField(col("v"), "$.time", "double"), 6).as("time_s"))
        .orderBy("time_s", "p1")
    }),

    // ---- general relational surface (TPC-H-style, scale/bench anchors) ----
    "q_tpch_pricing" -> ((s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sround(sum("l_quantity"), 2).as("sum_qty"),
          sround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q_tpch_top_orders" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val o = table(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(sround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),
    // deterministic salted join (Skew.saltedJoin) must be result-invisible:
    // the hot-key spread + small-side replication aggregates to exactly
    // the plain join. Integer-valued aggregates so the oracle is
    // sum-order-proof.
    "q_skew_join" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val ords = table(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(li, ords, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sround(sum("l_quantity"), 2).as("total_qty"))
        .orderBy("o_orderpriority")
    }),
    // Q18-shaped large-volume customers: the HAVING subquery becomes ONE
    // reusable per-order aggregation whose selective result (~1% of
    // orders at qty > 250) then BROADCASTS through the orders and
    // customer joins — the semi-join never re-shuffles the fact table,
    // the shape that survives a 100× scale-up
    // Q4-shaped order-priority checking: EXISTS becomes a LEFT SEMI join
    // (equi key + the non-equi lateness residual) — orders appear once
    // however many late lines they have; no distinct, no fan-out
    "q_tpch_priority" -> ((s, d) => {
      val o = table(s, d, "orders").filter(
        col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1995-07-01 00:00:00")))
      val late = table(s, d, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(late,
          o("o_orderkey") === late("l_orderkey") &&
            late("l_shipdate") > o("o_orderdate") +
              org.apache.spark.sql.functions.expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),
    "q_tpch_big_orders" -> ((s, d) => {
      val hot = table(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(sround(sum("l_quantity"), 2).as("total_qty"))
        .filter(col("total_qty") > 250)
      val o = table(s, d, "orders").select("o_orderkey", "o_custkey")
      val c = table(s, d, "customer").select("c_custkey", "c_name")
      broadcast(hot)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(20)
    }),
    // Q3-shaped shipping-priority: selective dim (BUILDING customers)
    // broadcast into the orders×lineitem shuffle join, top-10 revenue.
    // The big-big join shuffles on the order key; the customer filter is a
    // broadcast semi-join — the shape that must survive a 100× scale-up.
    "q_tpch_shipping" -> ((s, d) => {
      val c = table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = table(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          (unix_micros(col("o_orderdate").cast("timestamp")) / 1000000L)
            .cast("long").as("o_date_s"))
        .agg(sround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select("l_orderkey", "o_date_s", "revenue")
        .orderBy(col("revenue").desc, col("o_date_s").asc, col("l_orderkey").asc)
        .limit(10)
    }),
    // Q5-shaped local-supplier volume: 6-table join — lineitem×orders
    // shuffle on the order key, customer shuffle on the cust key, then
    // supplier/nation/region as broadcast dims (the nation-colocation
    // predicate c_nationkey = s_nationkey rides the supplier broadcast).
    // Q13-shaped customer order-count distribution: the outer-join +
    // double-grouping shape (customers with zero orders must survive
    // into the c_count = 0 bucket)
    "q_tpch_cust_dist" -> ((s, d) => {
      val c = table(s, d, "customer").select("c_custkey")
      val o = table(s, d, "orders").select("o_custkey", "o_orderkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
    // Q22-shaped idle rich customers: above-average balance (exact
    // cross-multiply — balance·cnt > Σbalance, no division), no order
    // since 1999 (anti-join against the recent slice — this synthetic
    // corpus has every customer order at least once, so the classic
    // never-ordered predicate is vacuous), grouped by nation
    "q_tpch_idle_rich" -> ((s, d) => {
      val c = table(s, d, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
      val thr = c.filter(col("c_acctbal") > 0)
        .agg(sum("c_acctbal").as("tot"), count(lit(1)).as("cnt"))
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey")).distinct()
      val n = table(s, d, "nation").select("n_nationkey", "n_name")
      c.crossJoin(broadcast(thr))
        .filter(col("c_acctbal") * col("cnt") > col("tot"))
        .join(o, Seq("c_custkey"), "left_anti")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("numcust"), sround(sum("c_acctbal"), 2).as("totacctbal"))
        .orderBy("n_name")
    }),
    "q_tpch_local_supplier" -> ((s, d) => {
      val li = table(s, d, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val c = table(s, d, "customer").select("c_custkey", "c_nationkey")
      val sup = table(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val n = table(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
      val r = table(s, d, "region").filter(col("r_name") === "ASIA").select("r_regionkey")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),
    // Q14-shaped promo revenue share: date-sliced lineitem joined to the
    // part dim (broadcast), conditional-aggregate ratio — the classic
    // "wide fact × small dim + CASE aggregate" shape.
    "q_tpch_promo" -> ((s, d) => {
      import org.apache.spark.sql.functions.when
      val li = table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_partkey", "l_extendedprice", "l_discount")
      val p = table(s, d, "part").select("p_partkey", "p_type")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(sround(lit(100.0) *
          sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("promo_revenue"))
    })
  )

  /** emon MQTT envelopes synthesized from the events table — shared input
    * of the batch (q_ingest_emon) and streaming (q_ingest_wire) ingest
    * queries. `%.6f` is exact: `ts` is µs-truncated at load, so the float
    * carries precisely the microseconds DuckDB's `epoch_us` sees.
    */
  /** Documents with deterministic 12-token lines planted (the corpus has
    * no newlines) — shared by the three line-dedup gates; the oracle
    * replays the same chunking token-for-token ([[plantedLinesCte]]).
    */
  private def plantedLines(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{array_join, sequence, size, slice, split, transform}
    val toks = split(col("text"), " ")
    table(s, d, "documents").withColumn("text",
      array_join(transform(
        sequence(lit(0), org.apache.spark.sql.functions.floor(
          (size(toks) - 1) / 12).cast("int")),
        i => array_join(slice(toks, i * lit(12) + 1, lit(12)), " ")), "\n"))
  }

  private def emonEnvelopes(s: SparkSession, d: String): DataFrame =
    EventsAsConditions.loadEvents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(format_string(
        """{"topic": "emon/emonTx4", "payload": "{\"P1\": %s, \"time\": %.6f}", "qos": 0, "retain": 0, "timestamp": 0}""",
        col("value"), epochS(col("ts"))).as("raw"))

  // ---------------------------------------------------------------- oracle

  private val Cte = s"WITH conditions AS (${EventsAsConditions.oracleCte})"
  private val ScanPred =
    s"""measurement_of = '$Of' AND measurement_subject = '$Subject'
       | AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1""".stripMargin

  /** Daily AVG served from the materialized hourly rollup ≡ computed
    * directly from raw rows — shared by q_cagg (batch-built rollup) and
    * q_cagg_streamed (stream-maintained rollup).
    */
  private def caggServeOracleSql: String =
    s"""$Cte
       |SELECT (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400 AS time_s,
       |       ROUND(CAST(SUM(CAST(ROUND(measurement_number * 100, 0) AS BIGINT)) AS DOUBLE)
       |             / (COUNT(measurement_number) * 100.0), 6) AS avg_measurement_number
       |FROM conditions
       |WHERE measurement_of = '$Of' AND measurement_subject = '$Subject'
       |  AND measurement_number IS NOT NULL
       |  AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 < $E1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private def counterRollupOracleSql: String =
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(604800)} AS coarse_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |lagged AS (
         |  SELECT *, lag(c) OVER w AS prev_c
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject, coarse_s ORDER BY t_us, c)),
         |agg AS (
         |  SELECT measurement_subject, coarse_s,
         |         CAST(SUM(CASE WHEN prev_c IS NULL THEN 0
         |                       WHEN c < prev_c THEN c
         |                       ELSE c - prev_c END) AS BIGINT) AS delta_scaled,
         |         CAST(SUM(CASE WHEN c < prev_c THEN 1 ELSE 0 END) AS BIGINT) AS num_resets,
         |         COUNT(*) AS n,
         |         MIN(t_us) AS first_us, MAX(t_us) AS last_us
         |  FROM lagged GROUP BY 1, 2)
         |SELECT measurement_subject, coarse_s, delta_scaled, num_resets, n,
         |       first_us, last_us,
         |       CASE WHEN last_us > first_us
         |            THEN ROUND(CAST(delta_scaled AS DOUBLE) / 100
         |                       / ((last_us - first_us) / 1000000.0), 6)
         |       END AS rate_per_s
         |FROM agg ORDER BY measurement_subject, coarse_s""".stripMargin

  private def histogramOracleSql: String =
      s"""$Cte,
         |pts AS (
         |  SELECT measurement_subject, ${bucketSql(21600)} AS time_s,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT measurement_subject, time_s,
         |       LEAST(GREATEST(c - 0, 0) // 200, 9) AS bin, COUNT(*) AS n
         |FROM pts GROUP BY 1, 2, 3
         |ORDER BY measurement_subject, time_s, bin""".stripMargin

  private def gapsOracleSql: String =
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, "timestamp" FROM conditions
         |  WHERE measurement_of = '$Of'
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |gaps AS (
         |  SELECT measurement_subject,
         |         epoch_us(lag("timestamp") OVER w) AS gap_start_us,
         |         epoch_us("timestamp") AS gap_end_us
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY "timestamp"))
         |SELECT measurement_subject, gap_start_us, gap_end_us,
         |       gap_end_us - gap_start_us AS gap_us
         |FROM gaps WHERE gap_start_us IS NOT NULL
         |ORDER BY gap_us DESC, measurement_subject ASC, gap_start_us ASC
         |LIMIT 50""".stripMargin

  private def stateOracleSql: String =
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us,
         |         measurement_string AS state
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_string IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |seq AS (
         |  SELECT measurement_subject, ts_us, state,
         |         COALESCE(lead(ts_us) OVER (PARTITION BY measurement_subject ORDER BY ts_us, state),
         |                  ${E1 * 1000000L}) AS next_us,
         |         lag(state) OVER (PARTITION BY measurement_subject ORDER BY ts_us, state) AS prev_state
         |  FROM scanned)
         |SELECT measurement_subject, state,
         |       CAST(SUM(next_us - ts_us) AS BIGINT) AS duration_us,
         |       CAST(SUM(CASE WHEN prev_state IS NULL OR prev_state <> state THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
         |       COUNT(*) AS n_events
         |FROM seq GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private def idxAppendOracleSql: String =
      s"""WITH sh AS ($shingleCteSql),
        |pairs AS (
        |  SELECT a.doc_id AS doc_new, b.doc_id AS doc_index, count(*) AS inter,
        |         any_value(a.nsh) AS na, any_value(b.nsh) AS nb
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id % 3 = 2 AND b.doc_id % 3 <> 2
        |  GROUP BY 1, 2)
        |SELECT doc_new, doc_index, ROUND(CAST(inter AS DOUBLE)/(na+nb-inter), 6) AS jaccard
        |FROM pairs WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= 0.8
        |ORDER BY doc_new, doc_index""".stripMargin

  private def corpusOverlapOracleSql: String =
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id % 2 AS side,
        |         unnest(list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1) ])) AS s
        |  FROM w),
        |hashed AS (
        |  SELECT side, p,
        |         list_reduce(list_transform(range(1, 16),
        |           i -> CAST(strpos('0123456789abcdef',
        |                  substr(md5(CAST(p AS VARCHAR) || ':' || s), i, 1)) - 1 AS BIGINT)),
        |           (x, y) -> x * 16 + y) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS p)),
        |mins AS (
        |  SELECT p,
        |         MIN(CASE WHEN side = 0 THEN h END) AS min_a,
        |         MIN(CASE WHEN side = 1 THEN h END) AS min_b
        |  FROM hashed GROUP BY p)
        |SELECT COUNT(*) AS num_perm,
        |       CAST(SUM(CASE WHEN min_a = min_b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |       ROUND(CAST(SUM(CASE WHEN min_a = min_b THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS jaccard_est
        |FROM mins""".stripMargin

  private def exactNormOracleSql: String =
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, upper(text) || '!!' FROM documents WHERE doc_id % 20 = 0)
        |SELECT min(doc_id) AS doc_id FROM all_docs
        |GROUP BY trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))
        |ORDER BY doc_id""".stripMargin

  // selection orders on the RAW ln(u)/w key (rounding first collapses the
  // near-0 winners into id-ordered tie classes — see Sampling.weightedSample);
  // only the reported es_key column is quantized to 6 dp
  private def weightedSampleOracleSql: String =
      s"""WITH keyed AS (
         |  SELECT doc_id, n_chars,
         |         ln((list_reduce(list_transform(range(1, 16),
         |             i -> CAST(strpos('0123456789abcdef',
         |                    substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
         |             (a, b) -> a * 16 + b) + 1.0) / ${math.pow(2.0, 60)})
         |           / n_chars AS es_raw
         |  FROM documents WHERE n_chars > 0)
         |SELECT doc_id, n_chars, ROUND(es_raw, 6) AS es_key FROM keyed
         |ORDER BY es_raw DESC, doc_id ASC LIMIT 100""".stripMargin

  /** Gopher rule replay — shared by q_gopher and q_sql_gopher. */
  private def gopherOracleSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
      |             CAST(list_sum(list_transform(w, t -> len(t))) AS BIGINT) AS sumlen,
      |             CAST(len(list_filter(w, t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
      |             CAST(len(list_filter(w, t -> strpos(t, '#') > 0 OR strpos(t, '...') > 0)) AS BIGINT) AS n_sym,
      |             CAST(len(list_filter(w, t -> t IN ('the','and','of','to','a','in','is','that','it'))) AS BIGINT) AS n_stop
      |      FROM t)
      |SELECT doc_id, n AS n_words,
      |       ROUND(CAST(sumlen AS DOUBLE) / n, 6) AS mean_word_len,
      |       (n >= 50 AND n <= 100000) AS ok_words,
      |       (sumlen >= n * 3 AND sumlen <= n * 10) AS ok_mean_len,
      |       (n_alpha * 10 >= n * 8) AS ok_alpha,
      |       (n_sym * 10 < n) AS ok_symbols,
      |       (n_stop >= 2) AS ok_stops,
      |       ((n >= 50 AND n <= 100000) AND (sumlen >= n * 3 AND sumlen <= n * 10)
      |        AND (n_alpha * 10 >= n * 8) AND (n_sym * 10 < n)
      |        AND (n_stop >= 2)) AS pass
      |FROM s ORDER BY doc_id""".stripMargin

  /** Reset-aware counter rollup replay — shared by q_counter_agg and its
    * SQL-face twin q_sql_counter_agg.
    */
  private def counterAggOracleSql: String =
    s"""$Cte,
       |scanned AS (
       |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
       |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
       |         ${bucketSql(21600)} AS time_s
       |  FROM conditions
       |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
       |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
       |lagged AS (
       |  SELECT *, lag(c) OVER w AS prev_c
       |  FROM scanned
       |  WINDOW w AS (PARTITION BY measurement_subject, time_s ORDER BY t_us, c)),
       |agg AS (
       |  SELECT measurement_subject, time_s,
       |         CAST(SUM(CASE WHEN prev_c IS NULL THEN 0
       |                       WHEN c < prev_c THEN c
       |                       ELSE c - prev_c END) AS BIGINT) AS delta_scaled,
       |         CAST(SUM(CASE WHEN c < prev_c THEN 1 ELSE 0 END) AS BIGINT) AS num_resets,
       |         COUNT(*) AS n,
       |         MIN(t_us) AS first_us, MAX(t_us) AS last_us
       |  FROM lagged GROUP BY 1, 2)
       |SELECT measurement_subject, time_s, delta_scaled, num_resets, n,
       |       first_us, last_us,
       |       CASE WHEN last_us > first_us
       |            THEN ROUND(CAST(delta_scaled AS DOUBLE) / 100
       |                       / ((last_us - first_us) / 1000000.0), 6)
       |       END AS rate_per_s
       |FROM agg ORDER BY measurement_subject, time_s""".stripMargin

  /** Bigram-LM scoring replay (add-one smoothing, 4-dp nll) — oracle for
    * q_lm_score and the base of the q_ccnet bucketing replay.
    */
  private def lmScoreOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |refw AS (SELECT * FROM w WHERE doc_id % 7 = 0),
      |corpw AS (SELECT * FROM w WHERE doc_id % 7 <> 0),
      |refu AS (SELECT unnest(w) AS t FROM refw),
      |refuc AS (SELECT t, count(*) AS u FROM refu GROUP BY t),
      |v AS (SELECT count(*) AS v FROM refuc),
      |refbi AS (SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
      |          FROM refw WHERE len(w) >= 2),
      |refb AS (SELECT w1, w2, count(*) AS b FROM refbi GROUP BY 1, 2),
      |corpbi AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
      |           FROM corpw WHERE len(w) >= 2),
      |sc AS (SELECT c.doc_id,
      |         ln(CAST(COALESCE(rb.b, 0) + 1 AS DOUBLE) / (COALESCE(ru.u, 0) + v.v)) AS lp,
      |         CASE WHEN rb.b IS NULL THEN 1 ELSE 0 END AS oov
      |       FROM corpbi c
      |       LEFT JOIN refb rb ON c.w1 = rb.w1 AND c.w2 = rb.w2
      |       LEFT JOIN refuc ru ON c.w1 = ru.t
      |       CROSS JOIN v),
      |agg AS (SELECT doc_id, ROUND(-AVG(lp), 4) AS nll,
      |               ROUND(AVG(CAST(oov AS DOUBLE)), 6) AS oov_bigram_frac
      |        FROM sc GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(a.nll, 0.0) AS nll,
      |       COALESCE(a.oov_bigram_frac, 0.0) AS oov_bigram_frac
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
      |LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Exact integer counter deltas with reset detection — oracle for
    * q_rate (batch) and q_rate_stream (ordered-slice stream equality).
    * lag ordered by (ts, c) so duplicate-ts pairing is deterministic.
    */
  private def rateOracleSql: String =
    s"""$Cte,
       |scanned AS (
       |  SELECT measurement_subject, "timestamp",
       |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
       |  FROM conditions
       |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
       |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
       |lagged AS (
       |  SELECT measurement_subject, "timestamp", c,
       |         lag("timestamp") OVER w AS prev_ts, lag(c) OVER w AS prev_c
       |  FROM scanned
       |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY "timestamp", c))
       |SELECT epoch_us(prev_ts) AS t_start_us, epoch_us("timestamp") AS t_end_us,
       |       measurement_subject,
       |       CASE WHEN c < prev_c THEN 0 ELSE c - prev_c END AS dv_scaled,
       |       epoch_us("timestamp") - epoch_us(prev_ts) AS dt_us,
       |       c < prev_c AS reset
       |FROM lagged WHERE prev_ts IS NOT NULL
       |ORDER BY measurement_subject, t_start_us, t_end_us, dv_scaled""".stripMargin

  private def bucketSql(widthS: Long, origin: Long = BucketOriginS): String =
    s"""CAST(FLOOR((epoch_us("timestamp")/1000000.0 - $origin)/$widthS)*$widthS + $origin AS BIGINT)"""

  private def aggSql(widthS: Long, limit: String = ""): String =
    s"""$Cte
       |SELECT ${bucketSql(widthS)} AS time_s,
       |       ROUND(AVG(measurement_number), 6) AS avg_measurement_number
       |FROM conditions WHERE $ScanPred
       |GROUP BY 1 ORDER BY 1 $limit""".stripMargin

  /** stats_agg replay: exact BIGINT partials (n, Σx, Σy, Σx², Σy², Σxy)
    * at the requested grouping, then the derived avg/var/stddev/slope/
    * intercept/corr with the SAME cast-to-double expression order as
    * [[graft.queries.TimeseriesQueries.statsDerive]]. `grouped` is the
    * partial key list (`"measurement_subject, time_s"` for the day level,
    * `"measurement_subject"` for the whole-range rollup — integer partial
    * sums are associative, so the single-level oracle covers the
    * two-level Spark plan).
    */
  private def statsOracleSql(grouped: String,
                             xSql: String = s"""(epoch_us("timestamp") // 1000000) - $S1""",
                             timeSql: String = bucketSql(86400),
                             pred: String = "",
                             upper: String = "<="): String = {
    s"""$Cte,
       |scanned AS (
       |  SELECT measurement_subject,
       |         $timeSql AS time_s,
       |         $xSql AS x,
       |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS y
       |  FROM conditions
       |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL $pred
       |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 $upper $E1),
       |partials AS (
       |  SELECT $grouped, COUNT(*) AS n,
       |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |         CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
       |         CAST(SUM(x*y) AS BIGINT) AS sxy
       |  FROM scanned GROUP BY $grouped),
       |casted AS (
       |  SELECT *, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
       |         CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
       |         CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
       |  FROM partials),
       |moments AS (
       |  SELECT *, nd*sxxd - sxd*sxd AS dx, nd*syyd - syd*syd AS dy,
       |         nd*sxyd - sxd*syd AS cov
       |  FROM casted)
       |SELECT $grouped, n, sx, sy, sxx, syy, sxy,
       |       ROUND(syd/nd, 6) AS avg_y,
       |       ROUND(dy/(nd*nd), 6) AS var_y,
       |       ROUND(SQRT(dy/(nd*nd)), 6) AS stddev_y,
       |       CASE WHEN dx > 0 THEN ROUND(cov/dx, 6) END AS slope,
       |       CASE WHEN dx > 0 THEN ROUND((syd - cov/dx*sxd)/nd, 6) END AS intercept,
       |       CASE WHEN dx > 0 AND dy > 0 THEN ROUND(cov/SQRT(dx*dy), 6) END AS corr
       |FROM moments
       |ORDER BY $grouped""".stripMargin
  }

  /** Hampel replay over integer cents, parameterized on the quantile
    * flavor: `quantile_cont` (interpolated — dyadic, the exact tier) or
    * `quantile_disc` (lower-middle element — what approx_percentile
    * returns at rank error < 1, i.e. groups with n ≤ accuracy).
    */
  private def outliersOracleSql(quantile: String): String =
    s"""$Cte,
       |scanned AS (
       |  SELECT measurement_subject, "timestamp",
       |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
       |         (epoch_us("timestamp") // 1000000 // 86400) * 86400 AS bucket_s
       |  FROM conditions
       |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
       |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
       |st AS (
       |  SELECT *, $quantile(c, 0.5) OVER w AS med
       |  FROM scanned
       |  WINDOW w AS (PARTITION BY measurement_subject, bucket_s)),
       |st2 AS (
       |  SELECT *, $quantile(abs(c - med), 0.5) OVER w AS mad
       |  FROM st
       |  WINDOW w AS (PARTITION BY measurement_subject, bucket_s))
       |SELECT epoch_us("timestamp") AS ts_us, measurement_subject, bucket_s,
       |       c AS value_scaled, med AS med_scaled, mad AS mad_scaled
       |FROM st2 WHERE abs(c - med) > 3 * mad
       |ORDER BY ts_us, measurement_subject, value_scaled""".stripMargin

  /** B9 oracle — shared by the Scala path (q_intervals) and the SQL
    * table-function path (q_sql_intervals).
    */
  private def intervalsOracleSql: String =
    s"""WITH cp AS ($changepointsSql)
       |SELECT ts_us AS time_us,
       |       COALESCE(lead(ts_us) OVER (PARTITION BY measurement_subject ORDER BY ts_us),
       |                ${E1 * 1000000L}) AS time_end_us,
       |       measurement_string
       |FROM cp ORDER BY time_us""".stripMargin

  /** LTTB replay: the sequential bucket selection unrolled as a CTE chain
    * (one `sel_k` per interior bucket, m = threshold − 2 of them), each
    * step picking the per-subject argmax of the SAME c-scaled integer
    * triangle form the Spark kernel computes
    * (`|(xₚ·c − Σx)(y − yₚ) − (xₚ − x)(Σy − yₚ·c)|`, ties → smallest
    * index). Subjects with ≤threshold points short-circuit to "all
    * points", like the kernel.
    */
  private def lttbOracleSql: String = {
    val threshold = 20
    val m = threshold - 2
    val startUs = S1 * 1000000L
    val sb = new StringBuilder
    sb ++=
      s"""$Cte,
         |pts AS (
         |  SELECT measurement_subject AS s,
         |         epoch_us("timestamp") - $startUs AS x,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS y
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |base AS (
         |  SELECT s, row_number() OVER (PARTITION BY s ORDER BY x, y) - 1 AS idx,
         |         COUNT(*) OVER (PARTITION BY s) AS n, x, y
         |  FROM pts),
         |small AS (SELECT s, x, y FROM base WHERE n <= $threshold),
         |sel_0 AS (SELECT s, idx, x, y, n FROM base WHERE idx = 0 AND n > $threshold)""".stripMargin
    for (k <- 0 until m) {
      if (k == m - 1)
        sb ++=
          s""",
             |na_$k AS (SELECT s, CAST(1 AS BIGINT) AS c, x AS sx, y AS sy
             |          FROM base WHERE idx = n - 1 AND n > $threshold)""".stripMargin
      else
        sb ++=
          s""",
             |na_$k AS (SELECT s, COUNT(*) AS c, CAST(SUM(x) AS BIGINT) AS sx,
             |                 CAST(SUM(y) AS BIGINT) AS sy
             |          FROM base
             |          WHERE n > $threshold AND idx >= 1 + ((${k + 1}*(n-2))//$m)
             |            AND idx < 1 + ((${k + 2}*(n-2))//$m)
             |          GROUP BY s)""".stripMargin
      sb ++=
        s""",
           |sel_${k + 1} AS (
           |  SELECT t.s, t.idx, t.x, t.y, t.n FROM (
           |    SELECT p.s, p.idx, p.x, p.y, p.n,
           |           row_number() OVER (PARTITION BY p.s ORDER BY
           |             abs((q.x*na.c - na.sx)*(p.y - q.y) - (q.x - p.x)*(na.sy - q.y*na.c)) DESC,
           |             p.idx ASC) AS rn
           |    FROM base p
           |    JOIN sel_$k q ON q.s = p.s
           |    JOIN na_$k na ON na.s = p.s
           |    WHERE p.n > $threshold AND p.idx >= 1 + (($k*(p.n-2))//$m)
           |      AND p.idx < 1 + ((${k + 1}*(p.n-2))//$m)) t
           |  WHERE t.rn = 1)""".stripMargin
    }
    val sels = (0 to m).map(k => s"SELECT s, x, y FROM sel_$k").mkString("\n  UNION ALL ")
    sb ++=
      s""",
         |lastp AS (SELECT s, x, y FROM base WHERE idx = n - 1 AND n > $threshold),
         |picked AS (
         |  $sels
         |  UNION ALL SELECT s, x, y FROM lastp
         |  UNION ALL SELECT s, x, y FROM small)
         |SELECT s AS measurement_subject, x + $startUs AS time_us, y AS value_scaled
         |FROM picked ORDER BY 1, 2, 3""".stripMargin
    sb.toString
  }

  /** Gapfill replay: dense grid via generate_series × distinct subjects,
    * then the SAME gaps-and-islands fill the Spark side uses (running
    * count of non-null buckets → island id → the island head's value) —
    * no IGNORE NULLS window dependence in either engine. Linear tier
    * interpolates in bucket time with the identical expression tree
    * (`pv + (nv − pv) * (t − pt) / (nt − pt)`, rounded to 6 dp).
    */
  private def gapfillOracleSql(locf: Boolean): String = {
    val w = 86400L
    val b0 = Math.floorDiv(S1, w) * w
    val bN = Math.floorDiv(E1 - 1, w) * w
    val base =
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us, measurement_number
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 < $E1),
         |buckets AS (
         |  SELECT measurement_subject, (ts_us // 1000000 // $w) * $w AS bucket_s,
         |         ROUND(AVG(measurement_number), 6) AS v, COUNT(*) AS n_events
         |  FROM scanned GROUP BY 1, 2),
         |grid AS (
         |  SELECT s.measurement_subject, g.generate_series AS bucket_s
         |  FROM (SELECT DISTINCT measurement_subject FROM scanned) s,
         |       generate_series(${b0}, ${bN}, ${w}) g),
         |joined AS (
         |  SELECT g.measurement_subject, g.bucket_s, b.v,
         |         COALESCE(b.n_events, 0) AS n_events
         |  FROM grid g LEFT JOIN buckets b
         |    ON g.measurement_subject = b.measurement_subject AND g.bucket_s = b.bucket_s)""".stripMargin
    if (locf)
      s"""$base,
         |islands AS (
         |  SELECT *, COUNT(v) OVER (PARTITION BY measurement_subject ORDER BY bucket_s
         |                           ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM joined)
         |SELECT measurement_subject, bucket_s AS time_s,
         |       MAX(v) OVER (PARTITION BY measurement_subject, grp) AS value,
         |       n_events
         |FROM islands ORDER BY 1, 2""".stripMargin
    else
      s"""$base,
         |islands AS (
         |  SELECT *,
         |         COUNT(v) OVER (PARTITION BY measurement_subject ORDER BY bucket_s
         |                        ROWS UNBOUNDED PRECEDING) AS pg,
         |         COUNT(v) OVER (PARTITION BY measurement_subject ORDER BY bucket_s DESC
         |                        ROWS UNBOUNDED PRECEDING) AS ng
         |  FROM joined),
         |fill AS (
         |  SELECT *,
         |         MAX(v) OVER (PARTITION BY measurement_subject, pg) AS pv,
         |         MAX(CASE WHEN v IS NOT NULL THEN bucket_s END)
         |           OVER (PARTITION BY measurement_subject, pg) AS pt,
         |         MAX(v) OVER (PARTITION BY measurement_subject, ng) AS nv,
         |         MAX(CASE WHEN v IS NOT NULL THEN bucket_s END)
         |           OVER (PARTITION BY measurement_subject, ng) AS nt
         |  FROM islands)
         |SELECT measurement_subject, bucket_s AS time_s,
         |       CASE WHEN v IS NOT NULL THEN v
         |            WHEN pv IS NOT NULL AND nv IS NOT NULL
         |              THEN ROUND(pv + (nv - pv) * (bucket_s - pt) / (nt - pt), 6)
         |            ELSE NULL END AS value,
         |       n_events
         |FROM fill ORDER BY 1, 2""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_agg" -> aggSql((E1 - S1) / 100, "LIMIT 100"),
    "q_agg_interval" -> aggSql(86400),
    "q_agg_day" ->
      s"""$Cte
         |SELECT CAST(epoch_us(date_trunc('day', "timestamp"))/1000000 AS BIGINT) AS time_s,
         |       ROUND(MAX(measurement_number), 6) AS avg_measurement_number
         |FROM conditions WHERE $ScanPred
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_day_fine" -> {
      // width via PG's FRACTIONAL arithmetic (interval/numeric, µs-rounded),
      // computed by the SQL itself — not a Scala-precomputed literal, so the
      // oracle independently replays the reference formula
      val span = FE - FS
      s"""$Cte,
         |w AS (SELECT CAST(round($span*1000000.0 / LEAST(360.0, $span/900.0)) AS BIGINT) AS w_us)
         |SELECT CAST((epoch_us(date_trunc('day', "timestamp"))
         |         + CAST(FLOOR((epoch_us("timestamp") - epoch_us(date_trunc('day', "timestamp"))) / w_us) AS BIGINT) * w_us)
         |       / 1000000 AS BIGINT) AS time_s,
         |       ROUND(AVG(measurement_number), 6) AS avg_measurement_number
         |FROM conditions, w
         |WHERE measurement_of = '$Of' AND measurement_subject = '$Subject'
         |  AND epoch_us("timestamp")/1000000.0 >= $FS AND epoch_us("timestamp")/1000000.0 <= $FE
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_mode" ->
      s"""$Cte, scanned AS (SELECT * FROM conditions WHERE $ScanPred),
         |params AS (SELECT CASE WHEN count(*) > 360 THEN ${(E1 - S1) / 360} ELSE 60 END AS w FROM scanned),
         |counted AS (
         |  SELECT CAST(FLOOR(epoch_us("timestamp")/1000000.0 / w)*w AS BIGINT) AS time_s,
         |         measurement_string, count(*) AS cnt
         |  FROM scanned, params GROUP BY 1, 2)
         |SELECT time_s, measurement_string AS most_common_value
         |FROM (SELECT *, row_number() OVER (PARTITION BY time_s ORDER BY cnt DESC, measurement_string ASC) AS rn
         |      FROM counted)
         |WHERE rn = 1 ORDER BY time_s""".stripMargin,
    "q_sampled_sma" -> {
      val w = (E1 - S1) / 50
      s"""$Cte, gridded AS (
         |  SELECT ${bucketSql(w)} AS time_s, AVG(measurement_number) AS v
         |  FROM conditions WHERE $ScanPred GROUP BY 1)
         |SELECT time_s,
         |       ROUND(AVG(v) OVER (ORDER BY time_s ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS smoothed_value
         |FROM gridded ORDER BY time_s""".stripMargin
    },
    "q_sampled_asap" -> asapOracleSql,
    "q_timeweight_linear" -> timeWeightSql("(nt - t)/1000000.0 * (v + nv)/2"),
    "q_timeweight_locf" -> timeWeightSql("(nt - t)/1000000.0 * v"),
    "q_subjects" ->
      s"""$Cte
         |SELECT DISTINCT measurement_subject
         |FROM conditions
         |WHERE measurement_of = '$Of'
         |  AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1
         |ORDER BY measurement_subject""".stripMargin,
    "q_changepoints" -> changepointsSql,
    "q_intervals" -> intervalsOracleSql,
    // SQL table-function surface: same plans, same oracles
    "q_sql_agg" -> aggSql((E1 - S1) / 100, "LIMIT 100"),
    "q_sql_intervals" -> intervalsOracleSql,
    // SQL-path pipeline functions share the method-path oracles
    "q_sql_ann_topk" -> annTopkOracleSql,
    // full-probe persisted-index serving via SQL ≡ brute force
    "q_sql_ivf_topk" -> annTopkOracleSql,
    "q_sql_shuffle" -> epochShuffleOracleSql,
    // SQL-face NB classifier / MMR share the method-path oracles
    "q_sql_quality" -> nbQualityOracleSql,
    "q_sql_mmr" -> annMmrOracleSql(kCand = 20, kOut = 8),

    // half-open [start, end) containment replayed as a plain range join —
    // the binned Spark plan must be invisible in the result
    "q_interval_join" ->
      s"""$Cte,
         |cp AS (
         |  SELECT epoch_us("timestamp") AS ts_us, measurement_string
         |  FROM (SELECT *, lag(measurement_string) OVER (PARTITION BY measurement_subject ORDER BY "timestamp") AS prev
         |        FROM conditions WHERE $ScanPred)
         |  WHERE measurement_string IS DISTINCT FROM prev),
         |iv AS (SELECT ts_us AS time_us,
         |              COALESCE(lead(ts_us) OVER (ORDER BY ts_us), ${E1 * 1000000L}) AS time_end_us,
         |              measurement_string
         |       FROM cp),
         |pts AS (SELECT epoch_us("timestamp") AS ts_us, measurement_subject
         |        FROM conditions
         |        WHERE measurement_of = '$Of'
         |          AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT p.ts_us, p.measurement_subject, i.measurement_string AS state
         |FROM pts p JOIN iv i ON p.ts_us >= i.time_us AND p.ts_us < i.time_end_us
         |ORDER BY 1, 2""".stripMargin,

    "q_sessions" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, "timestamp" FROM conditions
         |  WHERE measurement_of = '$Of'
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |flagged AS (
         |  SELECT measurement_subject, "timestamp",
         |         CASE WHEN lag("timestamp") OVER w IS NULL
         |                OR epoch_us("timestamp") - epoch_us(lag("timestamp") OVER w) > ${7200L * 1000000L}
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY "timestamp")),
         |sess AS (
         |  SELECT measurement_subject, "timestamp",
         |         CAST(SUM(new_sess) OVER (PARTITION BY measurement_subject ORDER BY "timestamp"
         |                                  RANGE UNBOUNDED PRECEDING) AS BIGINT) AS sess_no
         |  FROM flagged)
         |SELECT measurement_subject, sess_no,
         |       min(epoch_us("timestamp")) AS session_start_us,
         |       max(epoch_us("timestamp")) AS session_end_us,
         |       count(*) AS n_events
         |FROM sess GROUP BY 1, 2 ORDER BY 1, 3""".stripMargin,
    // exact integer deltas; lag ordered by (ts, c) so duplicate-ts
    // pairing is deterministic in both engines
    "q_rate" -> rateOracleSql,
    // the stream fed in ordered slices must reproduce the batch pair
    // stream exactly — same oracle
    "q_rate_stream" -> rateOracleSql,
    // counter_agg rollup: the same (ts, c)-ordered lag restricted to the
    // (subject, bucket) partition; every sum is exact cents, the one
    // divide (rate) runs token-identically on both sides
    "q_counter_agg" -> counterAggOracleSql,
    // SQL face, same answer
    "q_sql_counter_agg" -> counterAggOracleSql,
    // the five late-family SQL faces — each shares its method-path
    // oracle verbatim (SQL path ≡ method path by construction)
    "q_sql_counter_rollup" -> counterRollupOracleSql,
    "q_sql_histogram" -> histogramOracleSql,
    "q_sql_gaps" -> gapsOracleSql,
    "q_sql_state" -> stateOracleSql,
    "q_sql_hampel" -> outliersOracleSql("quantile_cont"),
    // rollup contract oracle: weekly counters computed DIRECTLY from raw
    // rows — equality with Spark's partials-then-merge path proves ⊕
    "q_counter_rollup" -> counterRollupOracleSql,
    // the same lag pair + reversed row_number pick
    "q_counter_idelta" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(21600)} AS time_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |lagged AS (
         |  SELECT *, lag(t_us) OVER w AS prev_t, lag(c) OVER w AS prev_c,
         |         row_number() OVER (PARTITION BY measurement_subject, time_s
         |                            ORDER BY t_us DESC, c DESC) AS rn
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject, time_s ORDER BY t_us, c))
         |SELECT measurement_subject, time_s,
         |       CASE WHEN c < prev_c THEN 0 ELSE c - prev_c END AS idelta_scaled,
         |       t_us - prev_t AS idt_us,
         |       c < prev_c AS reset,
         |       CASE WHEN t_us > prev_t
         |            THEN ROUND(CAST(CASE WHEN c < prev_c THEN 0 ELSE c - prev_c END AS DOUBLE)
         |                       / 100 / ((t_us - prev_t) / 1000000.0), 6)
         |       END AS irate_per_s
         |FROM lagged WHERE rn = 1 AND prev_t IS NOT NULL
         |ORDER BY measurement_subject, time_s""".stripMargin,
    // clamp-then-floor-divide — negatives never reach the divide, so
    // Spark's truncating div and DuckDB's flooring // agree
    "q_histogram" -> histogramOracleSql,
    "q_conditions_report" ->
      s"""$Cte,
         |t AS (SELECT measurement_of, measurement_subject,
         |             epoch_us("timestamp") AS t_us,
         |             CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |      FROM conditions
         |      WHERE epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT measurement_of, COUNT(*) AS n_rows,
         |       CAST(COUNT(DISTINCT measurement_subject) AS BIGINT) AS n_subjects,
         |       MIN(t_us) AS first_us, MAX(t_us) AS last_us,
         |       CAST(SUM(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_number,
         |       ROUND(CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) / (COUNT(c) * 100.0), 6) AS avg_number
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // first/last replayed as row_number picks over the same composite
    // (t, c) order the struct extrema use
    "q_gauge_agg" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(21600)} AS time_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |ranked AS (
         |  SELECT *,
         |         row_number() OVER (PARTITION BY measurement_subject, time_s
         |                            ORDER BY t_us ASC, c ASC) AS rn_f,
         |         row_number() OVER (PARTITION BY measurement_subject, time_s
         |                            ORDER BY t_us DESC, c DESC) AS rn_l
         |  FROM scanned),
         |agg AS (
         |  SELECT measurement_subject, time_s,
         |         MAX(CASE WHEN rn_l = 1 THEN c END)
         |           - MAX(CASE WHEN rn_f = 1 THEN c END) AS delta_scaled,
         |         MIN(c) AS min_scaled, MAX(c) AS max_scaled, COUNT(*) AS n,
         |         MAX(CASE WHEN rn_f = 1 THEN t_us END) AS first_us,
         |         MAX(CASE WHEN rn_l = 1 THEN t_us END) AS last_us
         |  FROM ranked GROUP BY 1, 2)
         |SELECT measurement_subject, time_s, delta_scaled, min_scaled,
         |       max_scaled, n, first_us, last_us,
         |       CASE WHEN last_us > first_us
         |            THEN ROUND(CAST(delta_scaled AS DOUBLE) / 100
         |                       / ((last_us - first_us) / 1000000.0), 6)
         |       END AS rate_per_s
         |FROM agg ORDER BY measurement_subject, time_s""".stripMargin,
    // the proportional-credit replay: exact in-bucket sum + one head +
    // one tail double term per bucket, fixed association
    "q_counter_interp" ->
      s"""$Cte,
         |pts AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(21600)} AS time_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |lagged AS (
         |  SELECT *, lag(t_us) OVER w AS prev_t, lag(c) OVER w AS prev_c,
         |         lag(time_s) OVER w AS prev_b, lead(t_us) OVER w AS next_t,
         |         lead(c) OVER w AS next_c, lead(time_s) OVER w AS next_b
         |  FROM pts
         |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY t_us, c)),
         |contrib AS (
         |  SELECT measurement_subject, time_s,
         |         CASE WHEN prev_b = time_s
         |              THEN CASE WHEN c < prev_c THEN c ELSE c - prev_c END
         |              ELSE 0 END AS ex,
         |         CASE WHEN prev_b IS NOT NULL AND prev_b < time_s
         |              THEN CAST(CASE WHEN c < prev_c THEN c ELSE c - prev_c END AS DOUBLE)
         |                   * (t_us - time_s * 1000000) / (t_us - prev_t)
         |              ELSE 0.0 END AS hd,
         |         CASE WHEN next_b IS NOT NULL AND next_b <> time_s
         |              THEN CAST(CASE WHEN next_c < c THEN next_c ELSE next_c - c END AS DOUBLE)
         |                   * (LEAST((time_s + 21600) * 1000000, ${E1 * 1000000L}) - t_us)
         |                   / (next_t - t_us)
         |              ELSE 0.0 END AS tl,
         |         CASE WHEN prev_c IS NOT NULL AND c < prev_c THEN 1 ELSE 0 END AS rs,
         |         (LEAST((time_s + 21600) * 1000000, ${E1 * 1000000L})
         |          - time_s * 1000000) / 1000000.0 AS wd
         |  FROM lagged),
         |agg AS (
         |  SELECT measurement_subject, time_s, CAST(SUM(ex) AS BIGINT) AS ex,
         |         SUM(hd) AS hd, SUM(tl) AS tl,
         |         CAST(SUM(rs) AS BIGINT) AS num_resets, COUNT(*) AS n,
         |         any_value(wd) AS wd
         |  FROM contrib GROUP BY 1, 2)
         |SELECT measurement_subject, time_s,
         |       ROUND((CAST(ex AS DOUBLE) + hd + tl) / 100, 6) AS delta_interp,
         |       ROUND((CAST(ex AS DOUBLE) + hd + tl) / 100 / wd, 6) AS rate_per_s,
         |       num_resets, n
         |FROM agg ORDER BY measurement_subject, time_s""".stripMargin,
    // SAX replay: same exact integer partials, same double formula
    // tokens, same breakpoint CASE — letters cannot drift
    "q_sax" ->
      s"""$Cte,
         |pts AS (
         |  SELECT measurement_subject,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(21600)} AS time_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |stats AS (
         |  SELECT measurement_subject, COUNT(*) AS n,
         |         CAST(SUM(c) AS BIGINT) AS sx, CAST(SUM(c * c) AS BIGINT) AS sxx
         |  FROM pts GROUP BY 1),
         |paa AS (
         |  SELECT measurement_subject, time_s, COUNT(*) AS nb,
         |         CAST(SUM(c) AS BIGINT) AS sb
         |  FROM pts GROUP BY 1, 2),
         |j AS (
         |  SELECT p.measurement_subject, p.time_s,
         |         CAST(p.sb AS DOUBLE) / CAST(p.nb AS DOUBLE) AS pa,
         |         CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE) AS mean,
         |         sqrt((CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)
         |               - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))
         |              / (CAST(s.n AS DOUBLE) * CAST(s.n AS DOUBLE))) AS std
         |  FROM paa p JOIN stats s USING (measurement_subject))
         |SELECT measurement_subject, time_s,
         |       ROUND(pa / 100, 6) AS paa,
         |       CASE WHEN std > 0 THEN ROUND((pa - mean) / std, 6) END AS z,
         |       CASE WHEN std > 0 THEN
         |         CASE WHEN (pa - mean) / std < -0.6745 THEN 'a'
         |              WHEN (pa - mean) / std < 0.0 THEN 'b'
         |              WHEN (pa - mean) / std < 0.6745 THEN 'c'
         |              ELSE 'd' END
         |       END AS symbol
         |FROM j ORDER BY measurement_subject, time_s""".stripMargin,
    // M4: extremum membership replayed with the same four window extrema
    "q_m4" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(21600)} AS time_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |ext AS (
         |  SELECT *, MIN(t_us) OVER w AS min_t, MAX(t_us) OVER w AS max_t,
         |         MIN(c) OVER w AS min_c, MAX(c) OVER w AS max_c
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject, time_s))
         |SELECT DISTINCT measurement_subject, time_s, t_us, c
         |FROM ext
         |WHERE t_us = min_t OR t_us = max_t OR c = min_c OR c = max_c
         |ORDER BY measurement_subject, time_s, t_us, c""".stripMargin,
    // interpolated_average: the three-case span partition (same-bucket
    // pair / cross-edge head / bucket tail) replayed verbatim; integrals
    // exact cents×µs, one final divide
    "q_timeweight_interp" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS t_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         ${bucketSql(21600)} AS time_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |lagged AS (
         |  SELECT *, lag(t_us) OVER w AS prev_t, lag(c) OVER w AS prev_c,
         |         lag(time_s) OVER w AS prev_b, lead(time_s) OVER w AS next_b
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY t_us, c)),
         |contrib AS (
         |  SELECT measurement_subject, time_s,
         |         (CASE WHEN prev_b IS NULL THEN 0
         |               WHEN prev_b = time_s THEN prev_c * (t_us - prev_t)
         |               ELSE prev_c * (t_us - time_s * 1000000) END
         |          + CASE WHEN next_b IS NULL OR next_b <> time_s
         |                 THEN c * (LEAST((time_s + 21600) * 1000000, ${E1 * 1000000L}) - t_us)
         |                 ELSE 0 END) AS seg,
         |         (CASE WHEN prev_b IS NULL THEN 0
         |               WHEN prev_b = time_s THEN t_us - prev_t
         |               ELSE t_us - time_s * 1000000 END
         |          + CASE WHEN next_b IS NULL OR next_b <> time_s
         |                 THEN LEAST((time_s + 21600) * 1000000, ${E1 * 1000000L}) - t_us
         |                 ELSE 0 END) AS dur
         |  FROM lagged)
         |SELECT measurement_subject, time_s,
         |       ROUND(CAST(CAST(SUM(seg) AS BIGINT) AS DOUBLE)
         |             / CAST(SUM(dur) AS BIGINT) / 100, 6) AS interpolated_avg,
         |       CAST(SUM(dur) AS BIGINT) AS covered_us
         |FROM contrib GROUP BY 1, 2
         |ORDER BY measurement_subject, time_s""".stripMargin,
    // 8 dyadic taps replayed as LAG columns; numerator/denominator sums
    // are exact (cents × 2^-j), only the final 6-dp rounds
    "q_ewma" -> {
      val lagCols = (1 until 8).map(j => s"lag(c, $j) OVER w AS l$j")
        .mkString(",\n         ")
      val num = (1 until 8)
        .map(j => s" + COALESCE(CAST(l$j AS DOUBLE) * ${math.pow(0.5, j)}, 0)").mkString
      val den = (1 until 8)
        .map(j => s" + CASE WHEN l$j IS NOT NULL THEN ${math.pow(0.5, j)} ELSE 0 END").mkString
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, "timestamp",
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |lagged AS (
         |  SELECT measurement_subject, "timestamp", c,
         |         $lagCols
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY "timestamp", c))
         |SELECT epoch_us("timestamp") AS t_us, measurement_subject,
         |       c AS raw_scaled,
         |       ROUND((CAST(c AS DOUBLE)$num) / (1.0$den), 6) AS ewma
         |FROM lagged
         |ORDER BY measurement_subject, t_us, raw_scaled""".stripMargin
    },
    // the same closed form in DuckDB windows; all-integer arithmetic
    "q_cusum" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, "timestamp",
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |pre1 AS (
         |  SELECT measurement_subject, "timestamp", c,
         |         SUM(c - 5000 - 1000) OVER
         |           (PARTITION BY measurement_subject ORDER BY "timestamp", c
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
         |  FROM scanned),
         |pre AS (
         |  SELECT measurement_subject, "timestamp", c, prefix,
         |         MIN(prefix) OVER
         |           (PARTITION BY measurement_subject ORDER BY "timestamp", c
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
         |  FROM pre1)
         |SELECT epoch_us("timestamp") AS t_us, measurement_subject,
         |       c AS raw_scaled,
         |       CAST(prefix - LEAST(runmin, 0) AS BIGINT) AS cusum_scaled,
         |       prefix - LEAST(runmin, 0) > 50000 AS alarm
         |FROM pre
         |ORDER BY measurement_subject, t_us, raw_scaled""".stripMargin,
    // dyadic median/MAD over integer cents — quantile_cont of integers
    // lands on .0/.5 (and MAD on quarters), exact in both engines
    "q_outliers" -> outliersOracleSql("quantile_cont"),
    // approx tier at n ≤ accuracy: approx_percentile returns the
    // lower-middle element — DuckDB's quantile_disc, bit-exact replay
    "q_outliers_approx" -> outliersOracleSql("quantile_disc"),
    // exact integer gaps; deterministic tie-break (gap desc, subject,
    // start) makes LIMIT reproducible across engines
    "q_gaps" -> gapsOracleSql,
    "q_lttb" -> lttbOracleSql,
    // exact BIGINT partials, then the IDENTICAL double formulas over the
    // identical integers — both engines run the same IEEE sequence
    "q_stats_agg" -> statsOracleSql(grouped = "measurement_subject, time_s"),
    // single-level oracle for the two-level Spark rollup: integer partial
    // sums are associative, so day-partials-then-merge ≡ direct coarse
    "q_stats_rollup" -> statsOracleSql(grouped = "measurement_subject"),
    // hourly store translated to daily anchors ≡ direct daily compute —
    // the oracle computes at the daily anchor straight from raw rows, so
    // a hash match proves the integer moment-translation algebra
    "q_cagg_stats_realtime" -> statsOracleSql(grouped = "time_s",
      xSql = s"""(epoch_us("timestamp") // 1000000) - (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400""",
      timeSql = s"""(epoch_us("timestamp") // ${86400L * 1000000L}) * 86400""",
      pred = s"AND measurement_subject = '$Subject'",
      upper = "<"),
    "q_cagg_stats" -> statsOracleSql(grouped = "time_s",
      xSql = s"""(epoch_us("timestamp") // 1000000) - (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400""",
      timeSql = s"""(epoch_us("timestamp") // ${86400L * 1000000L}) * 86400""",
      pred = s"AND measurement_subject = '$Subject'",
      upper = "<"),
    // streaming windowed partials ≡ the batch day-window compute; x
    // anchors at each window's own start
    "q_stats_stream" -> statsOracleSql(grouped = "measurement_subject, time_s",
      xSql = s"""(epoch_us("timestamp") // 1000000) - (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400""",
      timeSql = s"""(epoch_us("timestamp") // ${86400L * 1000000L}) * 86400"""),
    // identical ROWS frame over the identical (ts, value) order; equal
    // keys are interchangeable so the frame multiset is engine-stable
    "q_rolling" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT measurement_subject, ts_us, c AS value_scaled,
         |       COUNT(*) OVER w AS roll_n,
         |       CAST(SUM(c) OVER w AS BIGINT) AS roll_sum,
         |       MIN(c) OVER w AS roll_min,
         |       MAX(c) OVER w AS roll_max
         |FROM scanned
         |WINDOW w AS (PARTITION BY measurement_subject ORDER BY ts_us, c
         |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         |ORDER BY 1, 2, 3""".stripMargin,
    // per-(subject, hour-of-day) quantile_cont profile over the baseline
    // week, dyadic-exact flag rule over the evaluation slice
    "q_seasonal" ->
      s"""$Cte,
         |base AS (
         |  SELECT measurement_subject, (epoch_us("timestamp") // 1000000 // 3600) % 24 AS hour_of_day,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $FS),
         |prof AS (
         |  SELECT measurement_subject, hour_of_day,
         |         quantile_cont(c, 0.5) AS med, COUNT(*) AS n_base
         |  FROM base GROUP BY 1, 2),
         |madt AS (
         |  SELECT b.measurement_subject, b.hour_of_day,
         |         quantile_cont(abs(b.c - p.med), 0.5) AS mad
         |  FROM base b JOIN prof p
         |    ON b.measurement_subject = p.measurement_subject AND b.hour_of_day = p.hour_of_day
         |  GROUP BY 1, 2),
         |ev AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us,
         |         (epoch_us("timestamp") // 1000000 // 3600) % 24 AS hour_of_day,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= ${FS + 1} AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT ev.ts_us, ev.measurement_subject, ev.hour_of_day,
         |       ev.c AS value_scaled, p.med AS med_scaled, m.mad AS mad_scaled, p.n_base
         |FROM ev
         |JOIN prof p ON ev.measurement_subject = p.measurement_subject AND ev.hour_of_day = p.hour_of_day
         |JOIN madt m ON ev.measurement_subject = m.measurement_subject AND ev.hour_of_day = m.hour_of_day
         |WHERE abs(ev.c - p.med) > m.mad * 3
         |ORDER BY 1, 2, 4""".stripMargin,
    // first-active day per subject → per-offset distinct-active counts
    "q_retention" ->
      s"""$Cte,
         |d AS (
         |  SELECT DISTINCT measurement_subject,
         |         epoch_us("timestamp") // 1000000 // 86400 AS day
         |  FROM conditions
         |  WHERE measurement_of = '$Of'
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |coh AS (SELECT measurement_subject, MIN(day) AS cohort_day FROM d GROUP BY 1)
         |SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
         |       COUNT(DISTINCT d.measurement_subject) AS n_active
         |FROM d JOIN coh c ON d.measurement_subject = c.measurement_subject
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the pivot IS conditional aggregation — the oracle writes it out
    "q_pivot" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, measurement_of, measurement_number,
         |         (epoch_us("timestamp") // 1000000 // 86400) * 86400 AS bucket_s
         |  FROM conditions
         |  WHERE measurement_of IN ('click', 'view', 'purchase')
         |    AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT measurement_subject, bucket_s,
         |       ROUND(AVG(CASE WHEN measurement_of = 'click' THEN measurement_number END), 6) AS click,
         |       ROUND(AVG(CASE WHEN measurement_of = 'view' THEN measurement_number END), 6) AS view,
         |       ROUND(AVG(CASE WHEN measurement_of = 'purchase' THEN measurement_number END), 6) AS purchase
         |FROM scanned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // exact integer OHLC; open/close replayed as row_number picks over the
    // SAME composite (ts, value) order min_by/max_by use on the Spark side
    "q_ohlc" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         (epoch_us("timestamp") // 1000000 // 86400) * 86400 AS bucket_s
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |ranked AS (
         |  SELECT *,
         |         row_number() OVER (PARTITION BY measurement_subject, bucket_s
         |                            ORDER BY ts_us ASC, c ASC) AS rn_o,
         |         row_number() OVER (PARTITION BY measurement_subject, bucket_s
         |                            ORDER BY ts_us DESC, c DESC) AS rn_c
         |  FROM scanned)
         |SELECT measurement_subject, bucket_s,
         |       MAX(CASE WHEN rn_o = 1 THEN c END) AS open_scaled,
         |       MAX(c) AS high_scaled, MIN(c) AS low_scaled,
         |       MAX(CASE WHEN rn_c = 1 THEN c END) AS close_scaled,
         |       COUNT(*) AS n_events
         |FROM ranked GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // exact µs liveness union: Σ min(heartbeat, gap) + tail clip at range
    // end, one lead window — integers everywhere, no ratio division
    "q_uptime" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us FROM conditions
         |  WHERE measurement_of = '$Of'
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |led AS (
         |  SELECT measurement_subject, ts_us,
         |         lead(ts_us) OVER (PARTITION BY measurement_subject ORDER BY ts_us) AS next_us
         |  FROM scanned)
         |SELECT measurement_subject,
         |       CAST(SUM(CASE WHEN next_us IS NOT NULL THEN LEAST(${43200L * 1000000L}, next_us - ts_us)
         |                     ELSE LEAST(${43200L * 1000000L}, ${E1 * 1000000L} - ts_us) END) AS BIGINT) AS covered_us,
         |       ${(E1 - S1) * 1000000L} AS total_us,
         |       CAST(SUM(CASE WHEN next_us - ts_us > ${43200L * 1000000L} THEN 1 ELSE 0 END) AS BIGINT) AS n_outages,
         |       COUNT(*) AS n_events
         |FROM led GROUP BY 1 ORDER BY 1""".stripMargin,
    // LOCF state intervals: lead gives each reading's hold time (tail
    // clipped at range end), lag marks run starts — same (ts, state) tie
    // order as the Spark window, so zero-length duplicate-ts intervals
    // and run boundaries agree exactly
    "q_state" -> stateOracleSql,
    "q_gapfill_locf" -> gapfillOracleSql(locf = true),
    "q_gapfill_linear" -> gapfillOracleSql(locf = false),
    // continuous-aggregate replay: the same integer-partial arithmetic
    // (Σ round(v·100) / (n·100)) over the raw rows, half-open range
    "q_cagg" -> caggServeOracleSql,
    // stream-maintained rollup must serve the identical daily answer
    "q_cagg_streamed" -> caggServeOracleSql,
    // realtime = stored partials ∪ raw tail must equal the full window
    // computed from raw — same replay as the serve oracle
    "q_cagg_realtime" -> caggServeOracleSql,
    "q_sql_cagg_realtime" -> caggServeOracleSql,
    "q_cagg_distinct_realtime" ->
      s"""$Cte
         |SELECT (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400 AS time_s,
         |       COUNT(DISTINCT measurement_subject) AS n_subjects
         |FROM conditions
         |WHERE measurement_of = '$Of'
         |  AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 < $E1
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // distinct state composes by union, so serving from hourly arrays ≡
    // COUNT(DISTINCT) over the raw rows at daily grain; half-open range
    "q_cagg_distinct" ->
      s"""$Cte
         |SELECT (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400 AS time_s,
         |       COUNT(DISTINCT measurement_subject) AS n_subjects
         |FROM conditions
         |WHERE measurement_of = '$Of'
         |  AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 < $E1
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // sketch replay: identical (bit-length, top-bits) cells over daily
    // buckets — hourly partials merged to daily ≡ daily directly (counts
    // add; cell keys don't depend on the time grain); HALF-OPEN range
    // like the store; cum/total CAST to BIGINT (window SUM → HUGEINT)
    "q_psketch" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT (epoch_us("timestamp") // ${86400L * 1000000L}) * 86400 AS time_s,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND measurement_number >= 0
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 < $E1),
         |cells AS (
         |  SELECT time_s, length(bin(c)) AS bl,
         |         c >> GREATEST(length(bin(c)) - 6, 0) AS sub, COUNT(*) AS n
         |  FROM scanned GROUP BY 1, 2, 3),
         |walked AS (
         |  SELECT time_s, bl, sub, n,
         |         CAST(SUM(n) OVER (PARTITION BY time_s ORDER BY bl, sub) AS BIGINT) AS cum,
         |         CAST(SUM(n) OVER (PARTITION BY time_s) AS BIGINT) AS total
         |  FROM cells)
         |SELECT time_s,
         |       MIN(CASE WHEN cum >= (total * 50 + 99) // 100 THEN sub << GREATEST(bl - 6, 0) END) AS p50_cents,
         |       MIN(CASE WHEN cum >= (total * 95 + 99) // 100 THEN sub << GREATEST(bl - 6, 0) END) AS p95_cents,
         |       MIN(CASE WHEN cum >= (total * 99 + 99) // 100 THEN sub << GREATEST(bl - 6, 0) END) AS p99_cents,
         |       MAX(total) AS n_values
         |FROM walked GROUP BY 1 ORDER BY 1""".stripMargin,
    // streaming OHLC replay: epoch-aligned µs window starts, the same
    // composite-order row_number picks as q_ohlc
    "q_ohlc_stream" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, epoch_us("timestamp") AS ts_us,
         |         CAST(ROUND(measurement_number * 100, 0) AS BIGINT) AS c,
         |         (epoch_us("timestamp") // ${86400L * 1000000L}) * ${86400L * 1000000L} AS time_us
         |  FROM conditions
         |  WHERE measurement_of = '$Of' AND measurement_number IS NOT NULL
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |ranked AS (
         |  SELECT *,
         |         row_number() OVER (PARTITION BY measurement_subject, time_us
         |                            ORDER BY ts_us ASC, c ASC) AS rn_o,
         |         row_number() OVER (PARTITION BY measurement_subject, time_us
         |                            ORDER BY ts_us DESC, c DESC) AS rn_c
         |  FROM scanned)
         |SELECT time_us, measurement_subject,
         |       MAX(CASE WHEN rn_o = 1 THEN c END) AS open_scaled,
         |       MAX(c) AS high_scaled, MIN(c) AS low_scaled,
         |       MAX(CASE WHEN rn_c = 1 THEN c END) AS close_scaled,
         |       COUNT(*) AS n_events
         |FROM ranked GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // tumbling windows are epoch-aligned ⇒ integer floor-bucket replay;
    // exact-integer payload (sum of value×100 + non-null count), so no
    // cross-engine FP rounding surface at all
    "q_agg_interval_stream" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, measurement_of, measurement_number, "timestamp"
         |  FROM conditions
         |  WHERE epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT (epoch_us("timestamp") // ${86400L * 1000000L}) * ${86400L * 1000000L} AS time_us,
         |       measurement_subject, measurement_of,
         |       CAST(SUM(CAST(ROUND(measurement_number * 100, 0) AS BIGINT)) AS BIGINT) AS sum_scaled,
         |       COUNT(measurement_number) AS n_events
         |FROM scanned
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // same sessions as q_sessions minus the ordinal (session_window
    // carries no cross-session counter); boundary note: session_window
    // splits on gap >= 2h vs batch's > 2h — identical on µs-resolution
    // data with no exact-7200s gap, which the hash match itself certifies
    "q_sessions_stream" ->
      s"""$Cte,
         |scanned AS (
         |  SELECT measurement_subject, "timestamp" FROM conditions
         |  WHERE measurement_of = '$Of'
         |    AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |flagged AS (
         |  SELECT measurement_subject, "timestamp",
         |         CASE WHEN lag("timestamp") OVER w IS NULL
         |                OR epoch_us("timestamp") - epoch_us(lag("timestamp") OVER w) > ${7200L * 1000000L}
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM scanned
         |  WINDOW w AS (PARTITION BY measurement_subject ORDER BY "timestamp")),
         |sess AS (
         |  SELECT measurement_subject, "timestamp",
         |         CAST(SUM(new_sess) OVER (PARTITION BY measurement_subject ORDER BY "timestamp"
         |                                  RANGE UNBOUNDED PRECEDING) AS BIGINT) AS sess_no
         |  FROM flagged)
         |SELECT measurement_subject,
         |       min(epoch_us("timestamp")) AS session_start_us,
         |       max(epoch_us("timestamp")) AS session_end_us,
         |       count(*) AS n_events
         |FROM sess GROUP BY measurement_subject, sess_no ORDER BY 1, 2""".stripMargin,
    "q_length_stats" ->
      """SELECT source,
        |       count(*) AS n_docs,
        |       ROUND(AVG(len(string_split(text, ' '))), 6) AS mean_tokens,
        |       ROUND(quantile_cont(len(string_split(text, ' ')), 0.25), 6) AS p25,
        |       ROUND(quantile_cont(len(string_split(text, ' ')), 0.5), 6) AS p50,
        |       ROUND(quantile_cont(len(string_split(text, ' ')), 0.9), 6) AS p90
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // full Okapi replay: N/avgdl from exact integers, per-term Robertson
    // idf (ln absorbed by round-4), identical op order and binary-exact
    // constants (2.25, 1.25, 0.25, 0.75) on both sides
    "q_bm25" ->
      """WITH lens AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |st AS (SELECT count(*) AS n, CAST(SUM(dl) AS DOUBLE)/count(*) AS avgdl FROM lens),
        |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |               unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf, any_value(dl) AS dl
        |       FROM tok WHERE t IN ('spark', 'window', 'merge', 'vector')
        |       GROUP BY doc_id, t),
        |dfs AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |idf AS (SELECT q.t,
        |               ln(1 + ((SELECT n FROM st) - COALESCE(d.df, 0) + 0.5)
        |                      / (COALESCE(d.df, 0) + 0.5)) AS idf
        |        FROM (SELECT unnest(['spark', 'window', 'merge', 'vector']) AS t) q
        |        LEFT JOIN dfs d USING (t)),
        |sc AS (SELECT tf.doc_id,
        |              SUM(idf.idf * (tf.tf * 2.25)
        |                  / (tf.tf + 1.25 * (0.25 + 0.75 * tf.dl / (SELECT avgdl FROM st)))) AS score
        |       FROM tf JOIN idf USING (t)
        |       GROUP BY tf.doc_id)
        |SELECT doc_id, ROUND(score, 4) AS score FROM sc
        |ORDER BY score DESC, doc_id ASC LIMIT 15""".stripMargin,
    // the batch variant: same Okapi replay fanned out over a VALUES
    // query table, per-query rank on the ROUNDED score (deterministic
    // rank-k boundary cross-engine)
    "q_bm25_batch" ->
      """WITH qs AS (SELECT * FROM (VALUES (0, 'spark window'),
        |                                  (1, 'merge vector slow'),
        |                                  (2, 'customer filter the')) AS q(query_id, query)),
        |qt AS (SELECT DISTINCT query_id, unnest(string_split(query, ' ')) AS t FROM qs),
        |lens AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |st AS (SELECT count(*) AS n, CAST(SUM(dl) AS DOUBLE)/count(*) AS avgdl FROM lens),
        |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |               unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf, any_value(dl) AS dl
        |       FROM tok WHERE t IN (SELECT t FROM qt)
        |       GROUP BY doc_id, t),
        |dfs AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |idf AS (SELECT ut.t,
        |               ln(1 + ((SELECT n FROM st) - COALESCE(d.df, 0) + 0.5)
        |                      / (COALESCE(d.df, 0) + 0.5)) AS idf
        |        FROM (SELECT DISTINCT t FROM qt) ut
        |        LEFT JOIN dfs d USING (t)),
        |sc AS (SELECT qt.query_id, tf.doc_id,
        |              ROUND(SUM(idf.idf * (tf.tf * 2.25)
        |                  / (tf.tf + 1.25 * (0.25 + 0.75 * tf.dl / (SELECT avgdl FROM st)))), 4) AS score
        |       FROM tf JOIN idf USING (t) JOIN qt USING (t)
        |       GROUP BY qt.query_id, tf.doc_id),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                    ORDER BY score DESC, doc_id ASC) AS rn FROM sc)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score FROM rk WHERE rn <= 10
        |ORDER BY query_id, score DESC, doc_id ASC""".stripMargin,
    // discrete-rank replay of the approx tier (deterministic for
    // n <= accuracy — same rule q_outliers_approx pins for the median)
    "q_length_stats_approx" ->
      """SELECT source,
        |       count(*) AS n_docs,
        |       ROUND(AVG(len(string_split(text, ' '))), 6) AS mean_tokens,
        |       CAST(quantile_disc(len(string_split(text, ' ')), 0.25) AS BIGINT) AS p25,
        |       CAST(quantile_disc(len(string_split(text, ' ')), 0.5) AS BIGINT) AS p50,
        |       CAST(quantile_disc(len(string_split(text, ' ')), 0.9) AS BIGINT) AS p90
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text) ORDER BY doc_id""",
    // plant replayed, then the same lowercase/strip/collapse/trim chain
    // (DuckDB needs the 'g' flag for global regexp_replace)
    "q_dedup_exact_norm" -> exactNormOracleSql,
    "q_sql_exact_norm" -> exactNormOracleSql,
    // 12-token line planting replayed, then first-occurrence-wins line
    // dedup and per-doc reassembly in ORDER BY idx
    "q_line_dedup" ->
      s"""WITH $plantedLinesCte,
        |k AS (SELECT *, doc_id*100000 + idx AS key FROM lines),
        |f AS (SELECT line, min(key) AS fk FROM k GROUP BY line)
        |SELECT k.doc_id, string_agg(k.line, chr(10) ORDER BY k.idx) AS text
        |FROM k JOIN f ON k.line = f.line AND k.key = f.fk
        |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin,
    // odd-batch lines lose to even-index claims, then cross-doc
    // first-occurrence within the batch
    "q_line_dedup_idx" ->
      s"""WITH $plantedLinesCte,
        |claimed AS (SELECT DISTINCT line FROM lines WHERE doc_id % 2 = 0),
        |k AS (SELECT *, doc_id*100000 + idx AS key FROM lines
        |      WHERE doc_id % 2 = 1 AND line NOT IN (SELECT line FROM claimed)),
        |f AS (SELECT line, min(key) AS fk FROM k GROUP BY line)
        |SELECT k.doc_id, string_agg(k.line, chr(10) ORDER BY k.idx) AS text
        |FROM k JOIN f ON k.line = f.line AND k.key = f.fk
        |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin,
    // echo construction replayed (first planted line appended twice),
    // then per-doc first-occurrence collapse in original order; the SQL
    // face runs the identical plan over the identical echoed corpus
    "q_line_dedup_intra" -> lineDedupIntraOracleSql,
    "q_sql_line_dedup_intra" -> lineDedupIntraOracleSql,
    // index-only claims + per-doc repeat collapse: identical under any
    // micro-batching, which is what lets the stream gate share an oracle
    "q_line_dedup_stream" ->
      s"""WITH $plantedLinesCte,
        |claimed AS (SELECT DISTINCT line FROM lines WHERE doc_id % 2 = 0),
        |k AS (SELECT doc_id, line, min(idx) AS idx FROM lines
        |      WHERE doc_id % 2 = 1 AND line NOT IN (SELECT line FROM claimed)
        |      GROUP BY doc_id, line)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_jaccard" -> jaccardOracleSql,
    "q_dedup_jaccard_bounded" -> jaccardBoundedOracleSql(10),
    "q_dedup_clusters" -> clustersOracleSql(10),
    // the incremental update must equal the from-scratch closure
    "q_dedup_clusters_inc" -> clustersOracleSql(10),
    "q_dedup_reps" -> repsOracleSql(10),
    // the 0.7-threshold pair pass banded at the ROUNDED jaccard, so the
    // band boundaries are engine-identical
    "q_dedup_sensitivity" ->
      s"""WITH sh AS ($shingleCteSql),
         |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 10),
         |pr AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
         |jagg AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
         |         any_value(a.nsh) AS na, any_value(b.nsh) AS nb
         |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT ROUND(CAST(inter AS DOUBLE)/(na+nb-inter), 6) AS jaccard
         |  FROM jagg WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= 0.7)
         |SELECT COUNT(*) AS pairs_at_070,
         |       CAST(SUM(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS pairs_at_080,
         |       CAST(SUM(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS pairs_at_090
         |FROM jp""".stripMargin,
    // pair mass re-keyed to the lexically-ordered source pair
    "q_dedup_matrix" ->
      s"""WITH ${jaccardBoundedPairsCte(10)},
         |m AS (SELECT LEAST(da.source, db.source) AS source_a,
         |             GREATEST(da.source, db.source) AS source_b
         |      FROM jp JOIN documents da ON jp.doc_a = da.doc_id
         |              JOIN documents db ON jp.doc_b = db.doc_id)
         |SELECT source_a, source_b, COUNT(*) AS n_pairs
         |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // vector-side data card; the norm fold is the neardup oracle's
    // sequential double dot
    "q_embed_report" ->
      """WITH n AS (
        |  SELECT label,
        |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm,
        |         len(embedding) AS dim
        |  FROM embeddings)
        |SELECT label, COUNT(*) AS n_vecs,
        |       CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
        |       CAST(MIN(dim) AS INT) AS min_dim, CAST(MAX(dim) AS INT) AS max_dim,
        |       ROUND(AVG(nrm), 6) AS mean_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,
    // argmax-by-quality survivor per cluster, replayed with the same
    // 6-dp-rounded score so the boundary is engine-identical
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE ${clustersCte(10)},
         |q AS ($qualityCoreSql),
         |scored AS (SELECT c.n AS node, c.component, q.quality
         |           FROM comp c JOIN q ON c.n = q.doc_id),
         |keep AS (SELECT node FROM (
         |  SELECT node, row_number() OVER (PARTITION BY component
         |                                  ORDER BY quality DESC, node ASC) AS rn
         |  FROM scored) WHERE rn = 1),
         |dropped AS (SELECT n FROM comp WHERE n NOT IN (SELECT node FROM keep))
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT n FROM dropped)
         |ORDER BY doc_id""".stripMargin,
    // same exact-join oracle: LSH+exact-verify equals the exact tier
    // wherever recall holds — the hash match checks that empirically for
    // this corpus/seed (not a proof; see q_dedup_minhash comment)
    "q_dedup_minhash" -> jaccardOracleSql,
    // exact cross-parity jaccard join — same empirical-recall caveat as
    // q_dedup_minhash
    "q_dedup_incremental" ->
      s"""WITH sh AS ($shingleCteSql),
        |pairs AS (
        |  SELECT a.doc_id AS doc_new, b.doc_id AS doc_index, count(*) AS inter,
        |         any_value(a.nsh) AS na, any_value(b.nsh) AS nb
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |  GROUP BY 1, 2)
        |SELECT doc_new, doc_index, ROUND(CAST(inter AS DOUBLE)/(na+nb-inter), 6) AS jaccard
        |FROM pairs WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= 0.8
        |ORDER BY doc_new, doc_index""".stripMargin,
    // day-2 probe vs day-0+day-1 appended signature index: exact
    // cross-slice jaccard (same empirical-recall caveat as the other
    // minhash tiers)
    // per-perm global min over each side's distinct shingles, same md5
    // 15-hex-char -> 60-bit arithmetic as the Spark side
    "q_corpus_overlap" -> corpusOverlapOracleSql,
    "q_sql_corpus_overlap" -> corpusOverlapOracleSql,
    "q_corpus_overlap_idx" -> corpusOverlapOracleSql,
    "q_corpus_overlap_stream" -> corpusOverlapOracleSql,
    "q_corpus_overlap_exact" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id % 2 AS side,
        |         unnest(list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1) ])) AS s
        |  FROM w),
        |a AS (SELECT DISTINCT s FROM sh WHERE side = 0),
        |b AS (SELECT DISTINCT s FROM sh WHERE side = 1)
        |SELECT (SELECT COUNT(*) FROM a) AS n_a,
        |       (SELECT COUNT(*) FROM b) AS n_b,
        |       (SELECT COUNT(*) FROM a JOIN b USING (s)) AS n_inter,
        |       ROUND(CAST((SELECT COUNT(*) FROM a JOIN b USING (s)) AS DOUBLE) /
        |             ((SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b) - (SELECT COUNT(*) FROM a JOIN b USING (s))), 6) AS jaccard
        |""".stripMargin,
    "q_dedup_idx_append" -> idxAppendOracleSql,
    // compaction is result-invisible: same oracle as the uncompacted cycle
    "q_dedup_idx_compact" -> idxAppendOracleSql,
    // survivors of the streaming gate = odd docs with NO exact
    // cross-slice pair (same empirical-recall caveat as the batch tiers)
    "q_dedup_stream" ->
      s"""WITH sh AS ($shingleCteSql),
        |pairs AS (
        |  SELECT a.doc_id AS doc_new, count(*) AS inter,
        |         any_value(a.nsh) AS na, any_value(b.nsh) AS nb
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |  GROUP BY a.doc_id, b.doc_id),
        |dup AS (SELECT DISTINCT doc_new FROM pairs
        |        WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= 0.8)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_new FROM dup)
        |ORDER BY doc_id""".stripMargin,
    // aHash bits replayed with the exact integer cross-multiply
    // (sum_g·n > total·cnt_g); brute-force pair scan is the oracle, the
    // Spark side must band. CASTs to BIGINT keep DuckDB's HUGEINT sums
    // out of the xor (128-bit xor would corrupt the sign-bit encoding).
    "q_media_neardup" ->
      s"""WITH $mediaSigCte
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 4
        |ORDER BY id_a, id_b""".stripMargin,
    // gate survivors = odd assets with no even-indexed hamming<=4
    // neighbor (the bit replay inverted to the survivor set)
    "q_media_stream" ->
      s"""WITH $mediaSigCte
        |SELECT a.doc_id AS id FROM sig a
        |WHERE a.doc_id % 2 = 1 AND NOT EXISTS (
        |  SELECT 1 FROM sig b
        |  WHERE b.doc_id % 2 = 0 AND bit_count(xor(a.h, b.h)) <= 4)
        |ORDER BY id""".stripMargin,
    // day-2 media drop probed against the day-0 + day-1 appended aHash
    // catalog: exact cross-slice bit replay (no index-side re-hash on
    // the Spark side — the oracle recomputes everything, which is the
    // point: stored sigs must equal recomputed sigs)
    "q_media_neardup_idx" ->
      s"""WITH $mediaSigCte
        |SELECT a.doc_id AS id_new, b.doc_id AS id_index,
        |       CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id % 3 = 2 AND b.doc_id % 3 <> 2
        |WHERE bit_count(xor(a.h, b.h)) <= 4
        |ORDER BY id_new, id_index""".stripMargin,
    "q_dedup_simhash" -> simhashOracleSql(3),
    // survivors of the SimHash streaming gate = odd docs with no
    // cross-slice banded hamming<=3 pair (the incremental pair replay,
    // inverted to the survivor set)
    "q_dedup_simhash_stream" ->
      s"""SELECT doc_id FROM documents
         |WHERE doc_id % 2 = 1 AND doc_id NOT IN (
         |  SELECT doc_new FROM (${simhashOracleSql(3, incremental = true)}) p)
         |ORDER BY doc_id""".stripMargin,
    // same bit-for-bit SimHash replay, restricted to new×index pairs
    "q_dedup_simhash_inc" -> simhashOracleSql(3, incremental = true),
    // persisted-index path computes the identical pair set
    "q_dedup_simhash_idx" -> simhashOracleSql(3, incremental = true),
    // day-2 probe vs day-0+day-1 appended index, exact cross-slice replay
    "q_dedup_simhash_app" -> simhashOracleSql(3, incremental = true,
      incPredSql = "a.doc_id % 3 = 2 AND b.doc_id % 3 <> 2"),
    "q_ann_topk" -> annTopkOracleSql,
    "q_ann_topk_sq8" -> annTopkSq8OracleSql,
    // the 8 greedy MMR selection steps unrolled as a CTE chain
    "q_ann_mmr" -> annMmrOracleSql(kCand = 20, kOut = 8),
    // the 8 farthest-point picks unrolled as a MATERIALIZED CTE chain
    // (the MMR oracle recipe); per-(point, center) distances rounded to
    // 6 dp before the min/argmax, exactly as the Spark traversal does
    "q_kcenters" -> kCentersOracleSql(k = 8),
    // JL projection replay: hash-derived ±1 matrix (md5 hex-digit
    // parity), per-dim sequential dot fold, ×0.25 (= 1/√16, exact),
    // FLOAT cast, then the brute-force cosine over the projected lists
    "q_ann_jl" ->
      """WITH mat AS (
        |  SELECT list([CASE WHEN (strpos('0123456789abcdef',
        |           substr(md5('jl:7:' || j || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)) - 1) % 2 = 1
        |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END
        |         FOR i IN range(1, 65)] ORDER BY j) AS rows
        |  FROM (SELECT unnest(range(0, 16)) AS j)),
        |proj AS (
        |  SELECT e.vec_id,
        |         list_transform(range(1, 17),
        |           j -> CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |                  i -> CAST(e.embedding[i] AS DOUBLE) * m.rows[j][i])) * 0.25 AS FLOAT)) AS p
        |  FROM embeddings e CROSS JOIN mat m),
        |q AS (SELECT p AS qe FROM proj WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |         list_sum(list_transform(range(1, len(e.p)+1),
        |            i -> CAST(e.p[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS d,
        |         sqrt(list_sum(list_transform(range(1, len(e.p)+1),
        |            i -> CAST(e.p[i] AS DOUBLE) * CAST(e.p[i] AS DOUBLE)))) AS ne,
        |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
        |            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
        |  FROM proj e, q)
        |SELECT vec_id, ROUND(d/(ne*nq), 6) AS cos
        |FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 20""".stripMargin,
    // the 6 BPE merge iterations unrolled as CTE stages
    "q_bpe_train" -> bpeOracleSql(k = 6, mode = "train"),
    "q_bpe_encode" -> bpeOracleSql(k = 6, mode = "encode"),
    // decode(encode(x)) == x — the oracle is the corpus itself
    "q_bpe_roundtrip" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",
    "q_bpe_fertility" -> bpeOracleSql(k = 6, mode = "fertility"),
    // parallel unnests zip in DuckDB, giving (pos, v) pairs; the pooled
    // mean replays as a (group, pos) AVG rounded to the same 6 dp
    "q_embed_pool" ->
      """WITH x AS (
        |  SELECT vec_id // 8 AS group_id,
        |         unnest(range(0, len(embedding))) AS pos,
        |         unnest(embedding) AS v
        |  FROM embeddings)
        |SELECT group_id, pos, ROUND(AVG(v), 6) AS v
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // nProbe = nlist probes every inverted list — identical to brute force
    "q_ann_ivf" -> annTopkOracleSql,
    // ... and the persisted-index path at nProbe = nlist is the same scan
    "q_ann_ivf_indexed" -> annTopkOracleSql,
    // build-on-half + append-half probed at nProbe = nlist is exact too
    "q_ann_ivf_append" -> annTopkOracleSql,
    // the composed IVF-SQ8 index at nProbe = nlist ≡ brute-force SQ8
    "q_ann_ivf_sq8" -> annTopkSq8OracleSql,
    // ... and so is the build-half + append-half lifecycle
    "q_ann_ivf_sq8_app" -> annTopkSq8OracleSql,
    "q_embed_neardup" -> neardupOracleSql,
    // reachability closure over the exact cosine pair graph, every
    // vector labeled — the embedding face of the clusters oracle
    // SemDeDup replay: seed-cosine assignment (row_number over the same
    // (cos DESC, list_id ASC) order the Spark argmax scan uses), within-
    // cluster pairs, recursive-CTE components, min-id keep
    "q_semdedup" ->
      """WITH RECURSIVE base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 50 = 0),
        |n AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM base),
        |sn AS (
        |  SELECT vec_id AS list_id, embedding AS ce,
        |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS cn
        |  FROM embeddings WHERE vec_id < 16),
        |scored AS (
        |  SELECT n.vec_id, sn.list_id,
        |         list_sum(list_transform(range(1, len(n.embedding)+1),
        |            i -> CAST(n.embedding[i] AS DOUBLE) * CAST(sn.ce[i] AS DOUBLE)))
        |           / (n.nrm * sn.cn) AS cos
        |  FROM n, sn),
        |assigned AS (
        |  SELECT vec_id, list_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |                                 ORDER BY cos DESC, list_id ASC) AS rn
        |    FROM scored) WHERE rn = 1),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM n a JOIN assigned aa ON a.vec_id = aa.vec_id
        |       JOIN assigned bb ON aa.list_id = bb.list_id
        |       JOIN n b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(range(1, len(a.embedding)+1),
        |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |        / (a.nrm * b.nrm) >= 0.8),
        |e AS (SELECT id_a AS u, id_b AS v FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |reach(nn, r) AS (
        |  SELECT DISTINCT u, u FROM e
        |  UNION
        |  SELECT reach.nn, e.v FROM reach JOIN e ON reach.r = e.u),
        |comp AS (SELECT nn, min(r) AS component FROM reach GROUP BY nn)
        |SELECT b.vec_id, a.list_id, COALESCE(c.component, b.vec_id) AS component,
        |       COALESCE(c.component, b.vec_id) = b.vec_id AS keep
        |FROM base b JOIN assigned a ON b.vec_id = a.vec_id
        |     LEFT JOIN comp c ON b.vec_id = c.nn
        |ORDER BY b.vec_id""".stripMargin,
    // span replay: per-row range unnest → substr windows → HAVING ≥2 →
    // the same lag/island merge (break when gap > L)
    "q_dup_spans" ->
      """WITH wins AS (
        |  SELECT doc_id, unnest(range(1, len(text) - 18)) AS pos, text
        |  FROM documents WHERE len(text) >= 20),
        |sub AS (SELECT doc_id, pos, substr(text, pos, 20) AS win FROM wins),
        |dup AS (SELECT win FROM sub GROUP BY win HAVING count(*) >= 2),
        |d AS (SELECT s.doc_id, s.pos FROM sub s WHERE s.win IN (SELECT win FROM dup)),
        |isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 20
        |              THEN 0 ELSE 1 END AS brk
        |  FROM d),
        |grp AS (
        |  SELECT doc_id, pos,
        |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                        ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl)
        |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 19 AS span_end,
        |       COUNT(*) AS n_windows
        |FROM grp GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,
    // snapshot diff: membership via full outer join, content via md5 —
    // both engines hash the same lowercase-hex md5
    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |n AS (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |      FROM documents WHERE doc_id % 10 <> 1),
        |j AS (SELECT o.doc_id AS id_o, n.doc_id AS id_n, md5(o.text) AS h_o, md5(n.text) AS h_n
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT COALESCE(id_o, id_n) AS doc_id,
        |       CASE WHEN id_o IS NULL THEN 'added'
        |            WHEN id_n IS NULL THEN 'removed'
        |            ELSE 'changed' END AS status
        |FROM j WHERE id_o IS NULL OR id_n IS NULL OR h_o <> h_n
        |ORDER BY doc_id""".stripMargin,
    // drift replay: identical smoothing arithmetic ((cnt+1.0)/(total+V),
    // natural log), rounded 6 dp; ordering on the ROUNDED term so both
    // engines rank identically
    "q_corpus_drift" ->
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |n AS (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |      FROM documents WHERE doc_id % 10 <> 1),
        |co AS (SELECT unnest(string_split(text, ' ')) AS token FROM o),
        |cog AS (SELECT token, count(*) AS cnt_old FROM co GROUP BY 1),
        |cn AS (SELECT unnest(string_split(text, ' ')) AS token FROM n),
        |cng AS (SELECT token, count(*) AS cnt_new FROM cn GROUP BY 1),
        |j AS (SELECT COALESCE(cog.token, cng.token) AS token,
        |             COALESCE(cnt_old, 0) AS cnt_old, COALESCE(cnt_new, 0) AS cnt_new
        |      FROM cog FULL OUTER JOIN cng ON cog.token = cng.token),
        |tot AS (SELECT CAST(SUM(cnt_old) AS BIGINT) AS t_old,
        |               CAST(SUM(cnt_new) AS BIGINT) AS t_new,
        |               COUNT(*) AS v FROM j),
        |terms AS (
        |  SELECT token, cnt_old, cnt_new,
        |         ROUND(((cnt_new + 1.0) / (t_new + v)) *
        |               ln(((cnt_new + 1.0) / (t_new + v)) /
        |                  ((cnt_old + 1.0) / (t_old + v))), 6) AS kl_term
        |  FROM j, tot)
        |SELECT token, cnt_old, cnt_new, kl_term
        |FROM terms ORDER BY abs(kl_term) DESC, token ASC LIMIT 50""".stripMargin,
    "q_embed_clusters" ->
      s"""WITH RECURSIVE nd AS ($neardupOracleSql),
         |e AS (SELECT id_a AS u, id_b AS v FROM nd
         |      UNION SELECT id_b, id_a FROM nd),
         |reach(n, r) AS (
         |  SELECT DISTINCT u, u FROM e
         |  UNION
         |  SELECT reach.n, e.v FROM reach JOIN e ON reach.r = e.u),
         |comp AS (SELECT n, min(r) AS component FROM reach GROUP BY n)
         |SELECT em.vec_id, COALESCE(c.component, em.vec_id) AS component
         |FROM embeddings em LEFT JOIN comp c ON em.vec_id = c.n
         |ORDER BY vec_id""".stripMargin,
    // cross-slice brute force: new (odd) × index (even), oriented sides
    "q_embed_neardup_inc" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_new, b.vec_id AS id_index,
        |         list_sum(list_transform(range(1, len(a.embedding)+1),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |           / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0)
        |SELECT id_new, id_index, ROUND(cos, 6) AS cos
        |FROM pairs WHERE cos >= 0.45 ORDER BY id_new, id_index""".stripMargin,
    // SQ8 near-dup: both sides quantize -> decode, then the cross-slice
    // cosine — same decode replay as annTopkSq8OracleSql, pair-shaped
    "q_embed_neardup_sq8" ->
      """WITH mm AS (
        |  SELECT vec_id, embedding,
        |         CAST(list_min(embedding) AS DOUBLE) AS mn,
        |         CAST(list_max(embedding) AS DOUBLE) AS mx
        |  FROM embeddings),
        |d AS (
        |  SELECT vec_id,
        |         CASE WHEN mx > mn THEN
        |           list_transform(embedding,
        |             x -> mn + FLOOR((CAST(x AS DOUBLE) - mn)/(mx - mn)*255 + 0.5)/255*(mx - mn))
        |         ELSE list_transform(embedding, x -> mn) END AS dq
        |  FROM mm),
        |n AS (SELECT vec_id, dq,
        |             sqrt(list_sum(list_transform(dq, x -> x*x))) AS nrm FROM d),
        |pairs AS (
        |  SELECT a.vec_id AS id_new, b.vec_id AS id_index,
        |         list_sum(list_transform(range(1, len(a.dq)+1),
        |            i -> a.dq[i] * b.dq[i])) / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0)
        |SELECT id_new, id_index, ROUND(cos, 6) AS cos
        |FROM pairs WHERE cos >= 0.45 ORDER BY id_new, id_index""".stripMargin,
    // survivors of the streaming gate = odd vectors with NO exact
    // cross-slice cos >= 0.45 pair (nProbe = nlist makes the gate exact)
    "q_embed_neardup_stream" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |dup AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM n a JOIN n b ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
        |  WHERE list_sum(list_transform(range(1, len(a.embedding)+1),
        |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |        / (a.nrm * b.nrm) >= 0.45)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id % 2 = 1 AND vec_id NOT IN (SELECT vec_id FROM dup)
        |ORDER BY vec_id""".stripMargin,
    // the persisted-IVF path at nProbe = nlist computes the identical set
    "q_embed_neardup_idx" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_new, b.vec_id AS id_index,
        |         list_sum(list_transform(range(1, len(a.embedding)+1),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |           / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0)
        |SELECT id_new, id_index, ROUND(cos, 6) AS cos
        |FROM pairs WHERE cos >= 0.45 ORDER BY id_new, id_index""".stripMargin,
    // independent brute force over the planted-duplicate corpus at the LSH
    // design threshold (recall on identical-vector pairs is deterministic)
    "q_embed_neardup_lsh" -> lshPlantedOracleSql,
    "q_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents ORDER BY doc_id""",
    // DuckDB single-quoted strings don't process backslash escapes, so
    // the Scala pattern string embeds verbatim
    "q_token_count_bpe" ->
      s"""SELECT doc_id,
         |       len(regexp_extract_all(text, '${graft.operators.TextAnalysis.BpeTokenPattern}')) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" -> langIdSql,
    "q_ingest_emon" ->
      """SELECT strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS "timestamp",
        |       'emonTx4' AS measurement_subject,
        |       'P1' AS measurement_of,
        |       "value" AS measurement_number
        |FROM events ORDER BY "timestamp", measurement_number""".stripMargin,
    // variant path extraction reproduces the source fields exactly: p1 is
    // the raw value, time_s the µs-exact epoch float the envelope carries
    "q_variant_json" ->
      """SELECT 'emon/emonTx4' AS topic,
        |       ROUND("value", 6) AS p1,
        |       ROUND(epoch_us(ts)/1000000.0, 6) AS time_s
        |FROM events ORDER BY time_s, p1""".stripMargin,
    // same ingest through the streaming wire topology; the stored
    // TimestampType round-trips the wire string µs-exactly
    "q_ingest_wire" ->
      """SELECT epoch_us(ts) AS ts_us,
        |       'emonTx4' AS measurement_subject,
        |       'P1' AS measurement_of,
        |       "value" AS measurement_number
        |FROM events ORDER BY ts_us, measurement_number""".stripMargin,
    "q_quality" -> s"$qualityCoreSql ORDER BY doc_id",
    // exact replay of the repetition kernel: same double divisions over
    // integer counts; degenerate docs (no bigrams/trigrams) score 0
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nd FROM t),
        |bg AS (SELECT doc_id, unnest([ w[i] || ' ' || w[i+1] for i in range(1, len(w)) ]) AS g FROM t),
        |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |bga AS (SELECT doc_id, max(c) AS top_c, sum(c) AS tot FROM bgc GROUP BY 1),
        |tg AS (SELECT doc_id, unnest([ w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1) ]) AS g FROM t),
        |tga AS (SELECT doc_id, count(DISTINCT g) AS nd3, count(*) AS n3 FROM tg GROUP BY 1)
        |SELECT b.doc_id,
        |       ROUND(CASE WHEN b.n > 0 THEN CAST(b.n - b.nd AS DOUBLE) / b.n ELSE 0.0 END, 6) AS dup_token_frac,
        |       ROUND(COALESCE(CAST(bga.top_c AS DOUBLE) / bga.tot, 0.0), 6) AS top_bigram_frac,
        |       ROUND(COALESCE(CAST(tga.n3 - tga.nd3 AS DOUBLE) / tga.n3, 0.0), 6) AS dup_trigram_frac
        |FROM base b LEFT JOIN bga USING (doc_id) LEFT JOIN tga USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_topk_quality" ->
      s"""WITH q AS ($qualityCoreSql),
         |j AS (SELECT q.doc_id, q.quality, d.source
         |      FROM q JOIN documents d USING (doc_id))
         |SELECT doc_id, source, quality
         |FROM (SELECT *, row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rn
         |      FROM j)
         |WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, md5(text) AS fingerprint FROM documents ORDER BY doc_id""",
    "q_corpus_report" ->
      """WITH t AS (SELECT source, lang, md5(text) AS h,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |           FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        |       ROUND(AVG(ntok), 6) AS mean_tokens,
        |       quantile_disc(ntok, 0.5) AS p50_tokens,
        |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    // the same exact integer comparisons over the same token lists
    "q_gopher" -> gopherOracleSql,
    // SQL face, same answer
    "q_sql_gopher" -> gopherOracleSql,
    // the same md5 selection + integer span arithmetic + three slices
    "q_fim" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, w, len(w) AS n,
         |             ${md5BucketSql("fim", "doc_id")} AS b0,
         |             ${md5BucketSql("fimstart", "doc_id")} AS b1,
         |             ${md5BucketSql("fimlen", "doc_id")} AS b2
         |      FROM t),
         |e AS (SELECT doc_id, w, n, n // 3 AS third, b1, b2
         |      FROM p WHERE n >= 12 AND b0 < 5000),
         |s AS (SELECT doc_id, w, n,
         |             third + (b1 % GREATEST(third, 1)) + 1 AS a,
         |             (b2 % GREATEST(third, 1)) + 1 AS l
         |      FROM e)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |       array_to_string(w[1:a-1], ' ') AS prefix,
         |       array_to_string(w[a:a+l-1], ' ') AS middle,
         |       array_to_string(w[a+l:n], ' ') AS suffix
         |FROM s ORDER BY doc_id""".stripMargin,
    // novelty: a doc's novel-shingle count = the shingles it WINS (is the
    // min doc_id of) — replayed with the same two-agg decomposition
    "q_novelty" ->
      s"""WITH sh AS ($shingleCteSql),
         |firsts AS (SELECT s, MIN(doc_id) AS doc_id FROM sh GROUP BY 1),
         |nnew AS (SELECT doc_id, COUNT(*) AS n_new FROM firsts GROUP BY 1),
         |perdoc AS (SELECT doc_id, CAST(MAX(nsh) AS BIGINT) AS n_shingles FROM sh GROUP BY 1)
         |SELECT p.doc_id, p.n_shingles,
         |       CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
         |       ROUND(CAST(COALESCE(n.n_new, 0) AS DOUBLE) / p.n_shingles, 6) AS novelty
         |FROM perdoc p LEFT JOIN nnew n USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,
    "q_winnow" -> winnowOracleSql,
    "q_winnow_pairs" ->
      s"""WITH w AS ($winnowOracleSql),
         |df AS (SELECT DISTINCT doc_id, fp FROM w),
         |hot AS (SELECT fp FROM df GROUP BY fp HAVING count(*) > 20),
         |pr AS (SELECT * FROM df WHERE fp NOT IN (SELECT fp FROM hot))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
         |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 10
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_vocab" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM t GROUP BY token ORDER BY tf DESC, token ASC LIMIT 100""".stripMargin,
    // the sketch only bounds memory — the OUTPUT is exact, so the oracle
    // is a plain frequency-threshold count (same CEIL of the same IEEE
    // product)
    "q_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS cnt
        |FROM t GROUP BY token
        |HAVING count(*) >= CEIL(0.0335 * (SELECT count(*) FROM t))
        |ORDER BY cnt DESC, token ASC""".stripMargin,
    // coverage vs the deterministic top-30 vocab (q_vocab's own ranking)
    "q_vocab_coverage" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |v AS (SELECT token FROM (
        |  SELECT token, count(*) AS tf FROM t GROUP BY token
        |  ORDER BY tf DESC, token ASC LIMIT 30))
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(SUM(CASE WHEN t.token IN (SELECT token FROM v) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([ array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3) ])) AS s
        |       FROM w),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 7 = 0),
        |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 <> 0)
        |SELECT doc_id, count(*) AS n_shared
        |FROM corp WHERE s IN (SELECT s FROM bench)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // per-(doc, bench) pair evidence with the min shared n-gram
    "q_contamination_report" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([ array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3) ])) AS s
        |       FROM w),
        |bench AS (SELECT DISTINCT doc_id AS bench_id, s FROM sh WHERE doc_id % 7 = 0),
        |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 <> 0)
        |SELECT c.doc_id, b.bench_id, count(*) AS n_shared,
        |       min(c.s) AS example_ngram
        |FROM corp c JOIN bench b ON c.s = b.s
        |GROUP BY 1, 2 ORDER BY c.doc_id, b.bench_id""".stripMargin,
    // survivors of the streaming gate = corpus docs with NO shared
    // 5-gram with the benchmark slice
    "q_decontaminate_stream" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([ array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3) ])) AS s
        |       FROM w),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 7 = 0),
        |dirty AS (SELECT DISTINCT doc_id FROM sh
        |          WHERE doc_id % 7 <> 0 AND s IN (SELECT s FROM bench))
        |SELECT doc_id FROM documents
        |WHERE doc_id % 7 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
        |ORDER BY doc_id""".stripMargin,
    // brute-force cross-slice cosine: corpus (≠0 mod 7) survivors with
    // no benchmark (0 mod 7) neighbor at ≥ 0.45 — shared by the exact
    // kernel and the nProbe=nlist IVF serving path
    "q_decontaminate_semantic" -> semanticDeconOracleSql,
    "q_decontaminate_semantic_idx" -> semanticDeconOracleSql,
    // bloom pre-filter + exact confirmation ≡ the exact join
    "q_decontaminate_bloom" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct([ array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3) ])) AS s
        |       FROM w),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 7 = 0),
        |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 <> 0)
        |SELECT doc_id, count(*) AS n_shared
        |FROM corp WHERE s IN (SELECT s FROM bench)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_pii_redact" -> piiRedactOracleSql,
    // whole-page extraction: the oracle strips the SAME planted page
    // with the SAME regex/replacement chain over the full html string
    "q_html_text" -> htmlTextOracleSql,
    "q_sql_html_text" -> htmlTextOracleSql,
    // the main-content RULE replayed per line: keep length>=25 AND
    // anchors < words*0.34, reassemble kept lines in order
    "q_html_main" -> htmlMainOracleSql(minified = false),
    "q_sql_html_main" -> htmlMainOracleSql(minified = false),
    // the minified twin: the ORACLE strips the newlines and relies on
    // the block-boundary pre-split to re-segment — proving the rule
    // (minification invariance), not the fixture outcome
    "q_html_main_minified" -> htmlMainOracleSql(minified = true),
    // all four stage replays chained: url canonicalization (k/h CTEs),
    // blocklist EXISTS, canonical QUALIFY dedup, per-line extraction
    "q_crawl_curate" -> crawlCurateOracleSql,
    // the WARC face: record wrap -> parse is an identity on (url, html)
    // — byte-exact UTF-8 round-trip, headers split at the first blank
    // line — so the oracle is the SAME chained curation replay
    "q_crawl_from_warc" -> crawlCurateOracleSql,
    "q_crawl_from_warc_gz" -> crawlCurateOracleSql,
    "q_crawl_from_warc_file" -> crawlCurateOracleSql,
    "q_crawl_from_warc_stream" -> crawlCurateOracleSql,
    "q_url_canon" -> urlCanonOracleSql,
    "q_sql_url_canon" -> urlCanonOracleSql,
    "q_url_dedup" -> urlDedupOracleSql,
    "q_sql_url_dedup" -> urlDedupOracleSql,
    // index-only claims make the gate batch-partition independent: the
    // survivor set is exactly "canonical URL not claimed by the even side"
    "q_url_stream" ->
      s"""WITH $urlCanonCtesSql
         |SELECT doc_id, canon_url FROM k
         |WHERE canon_url NOT IN (SELECT canon_url FROM k WHERE doc_id % 2 = 0)
         |ORDER BY doc_id""".stripMargin,
    // TTL recrawl gate: a row passes unless the newest claim on its
    // canonical (even docs, claimed_at = doc_id*10) is within TTL of
    // the row's OWN clock — per-row expiry, so the survivor set is
    // batch-partition independent like q_url_stream's
    "q_url_stream_ttl" ->
      s"""WITH $urlCanonCtesSql,
         |cw AS (SELECT doc_id, canon_url,
         |              doc_id * 10 + (doc_id % 7) * 1000 AS crawl_ts FROM k),
         |cl AS (SELECT canon_url, max(doc_id * 10) AS claimed_at
         |       FROM k WHERE doc_id % 2 = 0 GROUP BY canon_url)
         |SELECT cw.doc_id, cw.canon_url
         |FROM cw LEFT JOIN cl USING (canon_url)
         |WHERE cl.claimed_at IS NULL OR cl.claimed_at < cw.crawl_ts - 3000
         |ORDER BY cw.doc_id""".stripMargin,
    // robots REP replay: rule -> regex (escape metachars, '*' -> '.*',
    // trailing-$ anchor), host canonicalized on the RULES side, match
    // against the slash-preserving path+query term, longest-pattern
    // wins with Allow breaking ties (row_number replays the
    // max(struct(spec, allow)) winner)
    "q_url_robots" -> urlRobotsOracleSql,
    "q_sql_url_robots" -> urlRobotsOracleSql,
    // robots.txt PARSING replayed step for step (groups, fallback,
    // comments/CRLF, empty-pattern drops), then the parse→enforce chain
    // and the politeness schedule (waves × parsed delays)
    "q_robots_parse" -> robotsParseOracleSql,
    "q_robots_delay" -> robotsDelayOracleSql,
    "q_robots_enforce" -> robotsEnforceOracleSql,
    "q_frontier_schedule" -> frontierScheduleOracleSql,
    // the compliance capstone: every hop of the chained plan replayed
    "q_crawl_plan" -> crawlPlanOracleSql,
    "q_crawl_plan_status" -> crawlPlanStatusOracleSql,
    // sitemap priority → politeness schedule under a per-host budget
    "q_sitemap_schedule" -> sitemapScheduleOracleSql,
    // change-driven recrawl replay: string compare stands in for the
    // md5 compare (equal iff the texts are equal), waves over
    // (priority DESC, canon_url, doc_id), default 1000 ms delays
    "q_recrawl_schedule" ->
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
         |FROM sched ORDER BY doc_id""".stripMargin,
    // Sitemap: directive extraction (group-independent, absolute only)
    "q_robots_sitemaps" ->
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
         |ORDER BY host, sitemap_url""".stripMargin,
    // the streamed compliance gate: one batch chain + NOT IN replay
    "q_crawl_plan_stream" ->
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
         |ORDER BY doc_id""".stripMargin,
    // SQL faces ≡ their method twins, same oracles
    "q_sql_crawl_plan" -> crawlPlanOracleSql,
    "q_sql_robots_parse" -> robotsParseOracleSql,
    "q_sql_crawl_plan_status" -> crawlPlanStatusOracleSql,
    "q_sql_robots_status" -> robotsStatusRulesOracleSql,
    "q_sql_delays_status" -> robotsStatusDelaysOracleSql,
    "q_sql_crawl_delays" -> robotsDelayOracleSql,
    "q_sql_meta_robots" -> htmlNoindexOracleSql,
    "q_sql_text_normalize" -> textNormalizeOracleSql,
    // text normalization: NFC is a TWO-IMPLEMENTATION check (DuckDB's
    // independent nfc_normalize vs java.text.Normalizer); mojibake and
    // control-strip are replays generated from the same constants
    "q_text_nfc" -> textNfcOracleSql,
    "q_text_mojibake" -> textMojibakeOracleSql,
    "q_text_normalize" -> textNormalizeOracleSql,
    // script routing: counts generated from the shared range constants
    "q_script_profile" -> scriptProfileOracleSql,
    // soft-error flags + the per-host triage rollup
    "q_soft404" -> soft404OracleSql,
    "q_domain_report" -> domainReportOracleSql,
    // in-page compliance: meta-robots flags and declared-canonical
    // consolidation, extraction patterns shared with the Spark side
    "q_html_noindex" -> htmlNoindexOracleSql,
    "q_html_canonical" -> htmlCanonicalOracleSql,
    // HTTP response filtering: payload built in SQL, then the SAME
    // anchored status/content-type/body regexes the Spark side runs
    "q_warc_http" ->
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
         |ORDER BY doc_id""".stripMargin,
    // blocked tokens: exact token membership over the whitespace split
    // of the lowercased planted text; strict-vs-fraction thresholds
    "q_badword_stats" -> badwordStatsOracleSql("""
         |SELECT doc_id, n_tokens, n_blocked, blocked_frac FROM bs
         |ORDER BY doc_id""".stripMargin),
    "q_badwords_filter" -> badwordStatsOracleSql("""
         |SELECT doc_id FROM bs WHERE blocked_frac <= 0.02
         |ORDER BY doc_id""".stripMargin),
    // charset sniff: the expected round trip (variant label + original
    // text) — a wrong verdict decodes garbage and fails the compare
    "q_charset_sniff" ->
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
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_sql_url_blocklist_psl" -> urlBlocklistPslOracleSql,
    "q_sql_crawl_curate" -> crawlCurateOracleSql,
    // suffix semantics via EXISTS (host = b or host endswith '.' || b) —
    // the declarative statement of what the exploded-chain joins compute
    "q_url_blocklist" -> urlBlocklistOracleSql,
    "q_sql_url_blocklist" -> urlBlocklistOracleSql,
    // PSL tier: the chain stops at the registrable domain, so entries
    // at a public suffix (co.uk, blogspot.com) match NOTHING — the
    // replay interpolates the same PslSnapshot the Spark side uses
    "q_url_blocklist_psl" -> urlBlocklistPslOracleSql,
    // link extraction replayed end to end: href regex (both quote
    // groups), resolution scope, target case-canonicalization,
    // distinct + self-loop rules
    "q_link_extract" ->
      s"""WITH $linkEdgesCtesSql
         |SELECT src, dst FROM edges ORDER BY src, dst""".stripMargin,
    "q_link_indegree" ->
      s"""WITH $linkEdgesCtesSql
         |SELECT dst AS url, COUNT(*) AS n_inlinks FROM edges
         |GROUP BY dst ORDER BY url""".stripMargin,
    // all three fixed-point iterations replayed exactly — integer
    // floor division makes the ranks sum-order- and
    // partitioning-independent, so the hash compare is exact
    "q_link_pagerank" -> linkPagerankOracleSql,
    "q_link_pagerank_idx" -> linkPagerankOracleSql,
    "q_link_ppr" -> linkPprOracleSql,
    "q_link_pagerank_idx_inc" -> linkPagerankOracleSql,
    "q_link_pagerank_stream" -> linkPagerankOracleSql,
    "q_link_pagerank_stream_n" -> linkPagerankOracleSql,
    "q_link_hits" -> linkHitsOracleSql,
    "q_link_hits_idx" -> linkHitsOracleSql,
    "q_sql_link_hits" -> linkHitsOracleSql,
    "q_link_hits_host" -> linkHitsHostOracleSql,
    "q_sql_link_hits_host" -> linkHitsHostOracleSql,
    "q_sql_warc_revisits" -> warcRevisitResolveOracleSql,
    "q_sql_sitemap_frontier" -> sitemapFrontierPairsOracleSql,
    // archive triage counts straight off the plant arithmetic (wrap →
    // parse is identity; the digest header rides any record type)
    "q_warc_types" ->
      """SELECT CASE WHEN doc_id % 4 = 3 THEN 'revisit'
        |            WHEN doc_id % 9 = 7 THEN 'request'
        |            ELSE 'response' END AS warc_type,
        |       COUNT(*) AS n_records,
        |       CAST(SUM(CASE WHEN doc_id % 4 <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_digested
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sql_url_report" -> linkUrlReportOracleSql,
    "q_warc_digest_dedup" -> warcDigestDedupOracleSql,
    "q_warc_digest_stream" -> warcDigestStreamOracleSql,
    "q_warc_digest_stream_fold" -> warcDigestStreamFoldOracleSql,
    "q_warc_revisit_resolve" -> warcRevisitResolveOracleSql,
    "q_recrawl_observed" -> recrawlObservedOracleSql,
    "q_link_host_rank" -> linkHostRankOracleSql,
    "q_link_components_idx" -> linkComponentsOracleSql,
    // sitemap blocks -> (canonical loc, verbatim lastmod); loc-less
    // blocks dropped, entity decode before the canonical terms
    "q_sitemap_urls" -> sitemapUrlsOracleSql,
    "q_sitemap_frontier" -> sitemapFrontierOracleSql,
    // index resolution: child locs -> staged bodies -> entry union ->
    // budget waves; the unstaged child and loc-less block drop
    "q_url_sitemap_index" -> sitemapIndexOracleSql,
    // the redirect walk as a recursive CTE bounded by the same hop cap;
    // functional-map normalization (min dst) replayed, unresolved
    // chains LEFT-JOIN to NULL
    "q_url_redirects" -> urlRedirectsOracleSql,
    // the SQL faces share the method-path oracles (same plans by
    // construction)
    "q_sql_link_edges" ->
      s"""WITH $linkEdgesCtesSql
         |SELECT src, dst FROM edges ORDER BY src, dst""".stripMargin,
    "q_sql_link_pagerank" -> linkPagerankOracleSql,
    // directory-relative resolution + dot-segment removal replayed
    // pass-for-pass (same regexes, same pass counts, 'g' = Spark's
    // replace-all)
    "q_link_extract_rel" -> linkExtractRelOracleSql,
    // per-match group re-alignment (three extract_all lists zipped
    // positionally), anchor-text normalization, empty-text drop, and
    // the same resolution scope as the edge extraction
    "q_link_anchors" -> linkAnchorsOracleSql,
    "q_link_anchor_labels" -> linkAnchorLabelsOracleSql,
    "q_link_rel" -> linkRelOracleSql,
    "q_link_url_report" -> linkUrlReportOracleSql,
    "q_sql_anchor_labels" -> linkAnchorLabelsOracleSql,
    // host projection of the edge list, intra-host edges dropped
    "q_link_hostgraph" -> linkHostgraphOracleSql,
    // the star-contraction fixpoint equals recursive reachability with
    // min-label components — string order on canonical URLs
    "q_link_components" -> linkComponentsOracleSql,
    // the incremental update must equal the from-scratch closure
    "q_link_components_inc" -> linkComponentsOracleSql,
    // outgoing-target Jaccard with the hot-target cut replayed; the
    // threshold compares the ROUNDED value on both sides
    "q_link_mirror" -> linkMirrorOracleSql,
    // bigram-LM replay: same add-one smoothing, same ln/avg op shape;
    // nll round-4 (ln portability + sum order, see TextAnalysis.lmScore)
    // smoothed NB log-likelihood ratio, trained on doc_id % 5 <> 0 with
    // pos = (lang = 'en'); OOV tokens fall through the LEFT JOIN as c=0
    "q_quality_classifier" -> nbQualityOracleSql,
    // persisted-model serving computes the same numbers
    "q_quality_model_idx" -> nbQualityOracleSql,
    // streaming gate survivors = the batch replay's score > 0 slice
    "q_quality_stream" ->
      s"""SELECT doc_id FROM ($nbQualityOracleSql) WHERE score > 0 ORDER BY doc_id""",
    // DSIR: per-bucket add-one log ratios of target (lang='en') vs raw
    // token distributions over the md5 bucket space, doc weight = Σ over
    // tokens with multiplicity, deterministic top-100
    "q_dsir" ->
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS tgt,
         |                    ${md5BucketSql("dsir", "t")} AS b
         |             FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
         |                   FROM documents)),
         |hist AS (SELECT b, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         |                COUNT(*) AS cr
         |         FROM tok GROUP BY b),
         |tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM hist),
         |lam AS (SELECT b,
         |          ln(CAST(ct + 1 AS DOUBLE) / (tot.nt + ${graft.operators.Sampling.BucketCount})) -
         |          ln(CAST(cr + 1 AS DOUBLE) / (tot.nr + ${graft.operators.Sampling.BucketCount})) AS lam
         |        FROM hist CROSS JOIN tot),
         |byDoc AS (SELECT doc_id, b, COUNT(*) AS m FROM tok GROUP BY doc_id, b)
         |SELECT d.doc_id, ROUND(SUM(d.m * lam.lam), 4) AS weight
         |FROM byDoc d JOIN lam USING (b)
         |GROUP BY d.doc_id
         |ORDER BY weight DESC, doc_id ASC LIMIT 100""".stripMargin,
    // UniMax water-filling replayed as the same window algebra; the
    // selection replay is the stratum-wide row_number over (bucket, id)
    "q_sample_unimax" ->
      s"""WITH counts AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
         |bud AS (SELECT 84 * COUNT(*) // 100 AS budget FROM documents),
         |caps AS (SELECT lang, CAST(FLOOR(c * 1.0) AS BIGINT) AS capl FROM counts),
         |rk AS (SELECT lang, capl,
         |        ROW_NUMBER() OVER (ORDER BY capl, lang) AS k,
         |        COALESCE(SUM(capl) OVER (ORDER BY capl, lang
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
         |       FROM caps),
         |lt AS (SELECT COUNT(*) AS l FROM counts),
         |g AS (SELECT rk.lang, rk.capl, rk.k, rk.s, lt.l, bud.budget,
         |             (rk.capl * (lt.l - rk.k + 1) + rk.s <= bud.budget) AS fl
         |      FROM rk CROSS JOIN lt CROSS JOIN bud),
         |ks AS (SELECT COALESCE(MAX(CASE WHEN fl THEN k END), 0) AS kstar,
         |              COALESCE(SUM(CASE WHEN fl THEN capl END), 0) AS sk,
         |              MAX(l) AS l, MAX(budget) AS budget FROM g),
         |quotas AS (SELECT g.lang,
         |            CASE WHEN g.k <= ks.kstar THEN g.capl
         |                 ELSE (ks.budget - ks.sk) // GREATEST(ks.l - ks.kstar, 1) END AS quota
         |           FROM g CROSS JOIN ks),
         |wb AS (SELECT doc_id, lang, ${md5BucketSql("unimax", "doc_id")} AS b FROM documents),
         |sel AS (SELECT doc_id, lang,
         |          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY b, doc_id) AS rn FROM wb)
         |SELECT s.doc_id, s.lang FROM sel s JOIN quotas q USING (lang)
         |WHERE s.rn <= q.quota ORDER BY doc_id""".stripMargin,
    // gate → rebalance → batch, all three replays chained
    "q_curate_v2" -> curateV2OracleSql,
    // the SQL face runs the identical composition (same 60% budget)
    "q_sql_curate_v2" -> curateV2OracleSql,
    // the JSONL round trip must reproduce the table exactly; the two
    // planted corrupt lines are asserted routed inside the query
    "q_ingest_jsonl" ->
      "SELECT doc_id, lang FROM documents ORDER BY doc_id",
    // the incremental index's served vocab must equal the full-corpus
    // computation (merge = SUM over doc-disjoint slices)
    "q_vocab_idx" -> vocabTop30OracleSql,
    // ... and so must the streaming-maintained index after compaction
    "q_vocab_stream" -> vocabTop30OracleSql,
    // hashed-embedding ANN: rebuild the unit vectors as lists (ORDER BY
    // dim), drop zero-norm docs (the withNorm contract), brute cosine
    "q_hash_embed_topk" ->
      s"""WITH tok AS (
         |  SELECT doc_id, CAST(${md5BucketSql("hemb", "t")} % 32 AS INT) AS b,
         |         CASE WHEN ${md5BucketSql("hsign", "t")} % 2 = 1 THEN 1 ELSE -1 END AS s
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
         |sp AS (SELECT doc_id, b, SUM(s) AS v FROM tok GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, j.j
         |         FROM (SELECT DISTINCT doc_id FROM documents) d,
         |              (SELECT unnest(range(0, 32)) AS j) j),
         |dense AS (SELECT g.doc_id, g.j, CAST(COALESCE(sp.v, 0) AS DOUBLE) AS v
         |          FROM grid g LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.j = sp.b),
         |nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS n FROM dense GROUP BY doc_id),
         |vec AS (SELECT d.doc_id,
         |          list(CAST(CASE WHEN n.n = 0 THEN 0 ELSE d.v / n.n END AS FLOAT)
         |               ORDER BY d.j) AS p
         |        FROM dense d JOIN nrm n USING (doc_id)
         |        WHERE n.n > 0 GROUP BY d.doc_id),
         |q AS (SELECT p AS qe FROM vec WHERE doc_id = 0),
         |scored AS (
         |  SELECT e.doc_id AS vec_id,
         |         list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS d,
         |         sqrt(list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(e.p[i] AS DOUBLE)))) AS ne,
         |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
         |            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
         |  FROM vec e, q)
         |SELECT vec_id, ROUND(d/(ne*nq), 6) AS cos
         |FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 15""".stripMargin,
    // chunk replay (q_chunk's integer arithmetic) keyed doc_id*1e5+chunk,
    // then the hash-embed + cosine top-k replay over the chunk relation
    // plus the literal query embedded as key -1
    "q_rag_retrieve_docs" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, w, GREATEST(1, (len(w) - 8 + 55) // 56) AS nchunks FROM t),
         |c AS (SELECT doc_id, w, unnest(range(0, nchunks)) AS chunk_id FROM p),
         |chdocs AS (SELECT doc_id * 100000 + chunk_id AS doc_id,
         |                  array_to_string(w[chunk_id * 56 + 1 : chunk_id * 56 + 64], ' ') AS text
         |           FROM c),
         |corpus AS (SELECT * FROM chdocs
         |           UNION ALL SELECT CAST(-1 AS BIGINT), 'table scan hash join window agg'),
         |tok AS (
         |  SELECT doc_id, CAST(${md5BucketSql("hemb", "t")} % 32 AS INT) AS b,
         |         CASE WHEN ${md5BucketSql("hsign", "t")} % 2 = 1 THEN 1 ELSE -1 END AS s
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus)),
         |sp AS (SELECT doc_id, b, SUM(s) AS v FROM tok GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, j.j
         |         FROM (SELECT DISTINCT doc_id FROM corpus) d,
         |              (SELECT unnest(range(0, 32)) AS j) j),
         |dense AS (SELECT g.doc_id, g.j, CAST(COALESCE(sp.v, 0) AS DOUBLE) AS v
         |          FROM grid g LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.j = sp.b),
         |nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS n FROM dense GROUP BY doc_id),
         |vec AS (SELECT d.doc_id,
         |          list(CAST(CASE WHEN n.n = 0 THEN 0 ELSE d.v / n.n END AS FLOAT)
         |               ORDER BY d.j) AS p
         |        FROM dense d JOIN nrm n USING (doc_id)
         |        WHERE n.n > 0 GROUP BY d.doc_id),
         |q AS (SELECT p AS qe FROM vec WHERE doc_id = -1),
         |pv AS (SELECT v.doc_id // 100000 AS gid, j.j AS j,
         |              CAST(v.p[j.j + 1] AS DOUBLE) AS x
         |       FROM vec v, (SELECT unnest(range(0, 32)) AS j) j
         |       WHERE v.doc_id <> -1),
         |pool AS (SELECT gid, j, CAST(ROUND(AVG(x), 6) AS FLOAT) AS x
         |         FROM pv GROUP BY 1, 2),
         |pooled AS (SELECT gid, list(x ORDER BY j) AS p FROM pool GROUP BY gid),
         |scored AS (
         |  SELECT e.gid AS doc_id,
         |         list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS d,
         |         sqrt(list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(e.p[i] AS DOUBLE)))) AS ne,
         |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
         |            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
         |  FROM pooled e, q
         |  WHERE list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(e.p[i] AS DOUBLE))) > 0)
         |SELECT doc_id, ROUND(d/(ne*nq), 6) AS cos
         |FROM scored ORDER BY cos DESC, doc_id ASC LIMIT 10""".stripMargin,
    "q_rag_retrieve" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, w, GREATEST(1, (len(w) - 8 + 55) // 56) AS nchunks FROM t),
         |c AS (SELECT doc_id, w, unnest(range(0, nchunks)) AS chunk_id FROM p),
         |chdocs AS (SELECT doc_id * 100000 + chunk_id AS doc_id,
         |                  array_to_string(w[chunk_id * 56 + 1 : chunk_id * 56 + 64], ' ') AS text
         |           FROM c),
         |corpus AS (SELECT * FROM chdocs
         |           UNION ALL SELECT CAST(-1 AS BIGINT), 'table scan hash join window agg'),
         |tok AS (
         |  SELECT doc_id, CAST(${md5BucketSql("hemb", "t")} % 32 AS INT) AS b,
         |         CASE WHEN ${md5BucketSql("hsign", "t")} % 2 = 1 THEN 1 ELSE -1 END AS s
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus)),
         |sp AS (SELECT doc_id, b, SUM(s) AS v FROM tok GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, j.j
         |         FROM (SELECT DISTINCT doc_id FROM corpus) d,
         |              (SELECT unnest(range(0, 32)) AS j) j),
         |dense AS (SELECT g.doc_id, g.j, CAST(COALESCE(sp.v, 0) AS DOUBLE) AS v
         |          FROM grid g LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.j = sp.b),
         |nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS n FROM dense GROUP BY doc_id),
         |vec AS (SELECT d.doc_id,
         |          list(CAST(CASE WHEN n.n = 0 THEN 0 ELSE d.v / n.n END AS FLOAT)
         |               ORDER BY d.j) AS p
         |        FROM dense d JOIN nrm n USING (doc_id)
         |        WHERE n.n > 0 GROUP BY d.doc_id),
         |q AS (SELECT p AS qe FROM vec WHERE doc_id = -1),
         |scored AS (
         |  SELECT e.doc_id AS vec_id,
         |         list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS d,
         |         sqrt(list_sum(list_transform(range(1, len(e.p)+1),
         |            i -> CAST(e.p[i] AS DOUBLE) * CAST(e.p[i] AS DOUBLE)))) AS ne,
         |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
         |            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
         |  FROM vec e, q WHERE e.doc_id <> -1)
         |SELECT vec_id // 100000 AS doc_id, vec_id % 100000 AS chunk_id,
         |       ROUND(d/(ne*nq), 6) AS cos
         |FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    // signed feature hashing: bucket and sign are independent salted-md5
    // draws; squared norms are integer-valued doubles so the L2 norm is
    // exact regardless of summation order
    "q_hash_embed" ->
      s"""WITH tok AS (
         |  SELECT doc_id, CAST(${md5BucketSql("hemb", "t")} % 32 AS INT) AS b,
         |         CASE WHEN ${md5BucketSql("hsign", "t")} % 2 = 1 THEN 1 ELSE -1 END AS s
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
         |sp AS (SELECT doc_id, b, SUM(s) AS v FROM tok GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, j.j
         |         FROM (SELECT DISTINCT doc_id FROM documents) d,
         |              (SELECT unnest(range(0, 32)) AS j) j),
         |dense AS (SELECT g.doc_id, g.j, CAST(COALESCE(sp.v, 0) AS DOUBLE) AS v
         |          FROM grid g LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.j = sp.b),
         |nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS n FROM dense GROUP BY doc_id)
         |SELECT d.doc_id, CAST(d.j AS INT) AS j,
         |       CAST(CASE WHEN n.n = 0 THEN 0 ELSE d.v / n.n END AS FLOAT) AS v
         |FROM dense d JOIN nrm n USING (doc_id)
         |ORDER BY doc_id, j""".stripMargin,
    // idf = ROUND(ln((N+1)/(df+1))·1000) BIGINT — then the q_hash_embed
    // replay with weighted signs
    "q_tfidf_embed" ->
      s"""WITH tokraw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |nn AS (SELECT COUNT(*) AS n FROM documents),
         |dfc AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tokraw GROUP BY t),
         |wts AS (SELECT t, CAST(ROUND(ln((nn.n + 1.0) / (df + 1.0)) * 1000, 0) AS BIGINT) AS idfm
         |        FROM dfc CROSS JOIN nn),
         |tok AS (
         |  SELECT doc_id, CAST(${md5BucketSql("hemb", "tokraw.t")} % 32 AS INT) AS b,
         |         (CASE WHEN ${md5BucketSql("hsign", "tokraw.t")} % 2 = 1 THEN 1 ELSE -1 END)
         |           * w.idfm AS s
         |  FROM tokraw JOIN wts w ON tokraw.t = w.t),
         |sp AS (SELECT doc_id, b, CAST(SUM(s) AS BIGINT) AS v FROM tok GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, j.j
         |         FROM (SELECT DISTINCT doc_id FROM documents) d,
         |              (SELECT unnest(range(0, 32)) AS j) j),
         |dense AS (SELECT g.doc_id, g.j, CAST(COALESCE(sp.v, 0) AS DOUBLE) AS v
         |          FROM grid g LEFT JOIN sp ON g.doc_id = sp.doc_id AND g.j = sp.b),
         |nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS n FROM dense GROUP BY doc_id)
         |SELECT d.doc_id, CAST(d.j AS INT) AS j,
         |       CAST(CASE WHEN n.n = 0 THEN 0 ELSE d.v / n.n END AS FLOAT) AS v
         |FROM dense d JOIN nrm n USING (doc_id)
         |ORDER BY doc_id, j""".stripMargin,
    // PMI = ln(cab·U²/(N·ca·cb)), denominator cast double pre-multiply
    "q_pmi" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS t FROM w),
        |uc AS (SELECT t, COUNT(*) AS u FROM uni GROUP BY t),
        |ut AS (SELECT SUM(u) AS tu FROM uc),
        |bi AS (SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
        |       FROM w WHERE len(w) >= 2),
        |bc AS (SELECT w1, w2, COUNT(*) AS cab FROM bi GROUP BY w1, w2),
        |bt AS (SELECT SUM(cab) AS tb FROM bc)
        |SELECT w1, w2, CAST(cab AS BIGINT) AS cab,
        |       ROUND(ln(CAST(cab AS DOUBLE) * ut.tu * ut.tu /
        |         (CAST(bt.tb AS DOUBLE) * ua.u * ub.u)), 4) AS pmi
        |FROM bc JOIN uc ua ON bc.w1 = ua.t JOIN uc ub ON bc.w2 = ub.t
        |CROSS JOIN ut CROSS JOIN bt
        |WHERE cab >= 5
        |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 30""".stripMargin,
    "q_lm_score" -> lmScoreOracleSql,
    // CCNet thirds: the lm replay + per-language ntile(3) on the SAME
    // 4-dp nll and doc_id tie-break, so boundary docs match exactly
    "q_ccnet" ->
      s"""WITH lm AS ($lmScoreOracleSql),
        |lab AS (SELECT l.doc_id, l.nll, d.lang
        |        FROM lm l JOIN documents d USING (doc_id)),
        |t AS (SELECT doc_id, lang, nll,
        |             ntile(3) OVER (PARTITION BY lang ORDER BY nll ASC, doc_id ASC) AS tert
        |      FROM lab)
        |SELECT doc_id, lang, nll,
        |       CASE tert WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM t ORDER BY doc_id""".stripMargin,
    // approx tier: while n ≤ accuracy both engines pick the exact
    // rank-ceil(p·n) element (quantile_disc ≡ approx_percentile's exact
    // path — the q_outliers_approx precedent extended to p = 1/3, 2/3),
    // then the same value-threshold CASE
    "q_ccnet_approx" ->
      s"""WITH lm AS ($lmScoreOracleSql),
        |lab AS (SELECT l.doc_id, l.nll, d.lang
        |        FROM lm l JOIN documents d USING (doc_id)),
        |th AS (SELECT lang, quantile_disc(nll, ${1.0 / 3}) AS t1,
        |              quantile_disc(nll, ${2.0 / 3}) AS t2
        |       FROM lab GROUP BY lang)
        |SELECT lab.doc_id, lab.lang, lab.nll,
        |       CASE WHEN nll <= t1 THEN 'head'
        |            WHEN nll <= t2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM lab JOIN th USING (lang) ORDER BY doc_id""".stripMargin,
    // integer chunk arithmetic: nchunks = max(1, (n-8+55)//56), start =
    // c*56+1 (1-based slice), len = min(64, n - c*56)
    "q_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT doc_id, w, len(w) AS n,
        |             GREATEST(1, (len(w) - 8 + 55) // 56) AS nchunks
        |      FROM t),
        |c AS (SELECT doc_id, w, n, unnest(range(0, nchunks)) AS chunk_id FROM p)
        |SELECT doc_id, chunk_id,
        |       LEAST(64, n - chunk_id * 56) AS n_tokens,
        |       array_to_string(w[chunk_id * 56 + 1 : chunk_id * 56 + 64], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // global exclusive prefix sum replayed as a single-threaded window
    // (fine for the oracle; the Spark side must NOT use a global window)
    // hash-sharded bucketed batching: row_number per (bucket, shard)
    // over (md5 bucket, id), batch = rn div batchSize, packed id
    "q_batch_buckets" ->
      s"""WITH t AS (SELECT doc_id,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |        ${md5BucketSql("batch", "doc_id")} AS sk
         |      FROM documents),
         |b AS (SELECT doc_id, n_tokens, n_tokens // 16 AS len_bucket, sk,
         |             CAST(sk % 4 AS INT) AS shard FROM t),
         |r AS (SELECT doc_id, n_tokens, len_bucket, shard,
         |        (ROW_NUMBER() OVER (PARTITION BY len_bucket, shard
         |           ORDER BY sk, doc_id) - 1) // 8 AS seq
         |      FROM b)
         |SELECT doc_id, n_tokens, len_bucket, shard,
         |       CAST(len_bucket * 4294967296 + shard * 1048576 + seq AS BIGINT) AS batch_id
         |FROM r ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |        COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        |      FROM t)
        |SELECT doc_id, n_tokens, CAST(prefix // 2048 AS BIGINT) AS seq_id
        |FROM p ORDER BY doc_id""".stripMargin,
    "q_pack_materialize" ->
      """WITH t AS (SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |p AS (SELECT doc_id, text, n_tokens,
        |        COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        |      FROM t)
        |SELECT CAST(prefix // 2048 AS BIGINT) AS seq_id, count(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
        |       string_agg(text, ' ' ORDER BY doc_id) AS seq_text
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // shard = first-8-hex-digit Horner reduce of the epoch-salted md5,
    // global_pos = rank in the (shard, skey, doc_id) total order — the
    // per-shard row_number + cumulative base on the Spark side flattens
    // to exactly this single ORDER BY
    "q_epoch_shuffle" -> epochShuffleOracleSql,
    "q_weighted_sample_strat" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, source, n_chars,
         |         ln((list_reduce(list_transform(range(1, 16),
         |             i -> CAST(strpos('0123456789abcdef',
         |                    substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
         |             (a, b) -> a * 16 + b) + 1.0) / ${math.pow(2.0, 60)})
         |           / n_chars AS es_raw
         |  FROM documents WHERE n_chars > 0),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |            ORDER BY es_raw DESC, doc_id ASC) AS rk
         |  FROM keyed)
         |SELECT doc_id, source, n_chars, ROUND(es_raw, 6) AS es_key
         |FROM ranked WHERE rk <= 20
         |ORDER BY source, es_key DESC, doc_id""".stripMargin,
    "q_weighted_sample" -> weightedSampleOracleSql,
    // the stream's state = the one-shot selection minus the weight column
    "q_weighted_sample_stream" ->
      s"""WITH keyed AS (
         |  SELECT doc_id,
         |         ln((list_reduce(list_transform(range(1, 16),
         |             i -> CAST(strpos('0123456789abcdef',
         |                    substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
         |             (a, b) -> a * 16 + b) + 1.0) / ${math.pow(2.0, 60)})
         |           / n_chars AS es_raw
         |  FROM documents WHERE n_chars > 0)
         |SELECT doc_id, ROUND(es_raw, 6) AS es_key FROM keyed
         |ORDER BY es_raw DESC, doc_id ASC LIMIT 100""".stripMargin,
    "q_sql_weighted_sample" -> weightedSampleOracleSql,
    "q_split" ->
      s"""SELECT doc_id,
         |       CASE WHEN b < 9000 THEN 'train'
         |            WHEN b < 9500 THEN 'validation'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${md5BucketSql("split", "doc_id")} AS b FROM documents)
         |ORDER BY doc_id""".stripMargin,
    // the same md5 CASE keyed on the duplicate-cluster component
    "q_split_by_cluster" ->
      s"""WITH RECURSIVE ${clustersCte(10)},
         |assigned AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.n)
         |SELECT doc_id, component,
         |       CASE WHEN b < 9000 THEN 'train'
         |            WHEN b < 9500 THEN 'validation'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, component,
         |             ${md5BucketSql("split", "component")} AS b FROM assigned)
         |ORDER BY doc_id""".stripMargin,
    "q_sample_stratified" ->
      s"""SELECT doc_id, source
         |FROM (SELECT doc_id, source, ${md5BucketSql("strat", "doc_id")} AS b FROM documents)
         |WHERE b < CASE WHEN source = 'src0' THEN 5000
         |               WHEN source = 'src1' THEN 2500
         |               ELSE 1000 END
         |ORDER BY doc_id""".stripMargin,
    // per-domain cap: the histogram+boundary plan selects exactly the
    // stratum-wide (bucket, doc_id)-least 15 — replayed as a plain rank
    "q_cap_per_source" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY ${md5BucketSql("cap", "doc_id")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 15 ORDER BY doc_id""".stripMargin,
    // mixture replay: counts → λ = min(c/t) → per-source threshold
    // round(λ·t/c·10⁴), same double op order as Sampling.mixtureSample
    "q_sample_mixture" ->
      s"""WITH tgt(source, t) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
         |cnt AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
         |lam AS (SELECT MIN(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) AS l
         |        FROM cnt JOIN tgt USING (source)),
         |thr AS (SELECT source,
         |               CAST(ROUND(lam.l * CAST(t AS DOUBLE) / c * ${graft.operators.Sampling.BucketCount}) AS BIGINT) AS thr
         |        FROM cnt JOIN tgt USING (source) CROSS JOIN lam)
         |SELECT d.doc_id, d.source
         |FROM (SELECT doc_id, source, ${md5BucketSql("mix", "doc_id")} AS b FROM documents) d
         |JOIN thr USING (source)
         |WHERE d.b < thr.thr
         |ORDER BY doc_id""".stripMargin,
    // temperature replay: counts → count^0.5 targets → λ → integer
    // thresholds → md5 buckets, all in SQL over the same skewed slice
    "q_sample_temperature" ->
      s"""WITH skew AS (
         |  SELECT doc_id, source FROM documents
         |  WHERE NOT (source IN ('src0','src1','src2','src3','src4') AND doc_id % 2 = 1)),
         |cnt AS (SELECT source, count(*) AS c FROM skew GROUP BY source),
         |tgt AS (SELECT source, c, pow(CAST(c AS DOUBLE), 0.5) AS t FROM cnt),
         |lam AS (SELECT MIN(CAST(c AS DOUBLE) / t) AS l FROM tgt),
         |thr AS (SELECT source,
         |               CAST(ROUND(lam.l * t / c * ${graft.operators.Sampling.BucketCount}) AS BIGINT) AS thr
         |        FROM tgt CROSS JOIN lam)
         |SELECT d.doc_id, d.source
         |FROM (SELECT doc_id, source, ${md5BucketSql("temp", "doc_id")} AS b FROM skew) d
         |JOIN thr USING (source)
         |WHERE d.b < thr.thr
         |ORDER BY doc_id""".stripMargin,
    "q_asof" ->
      s"""$Cte,
         |c AS (SELECT "timestamp", measurement_number FROM conditions WHERE $ScanPred),
         |v AS (SELECT "timestamp", measurement_number FROM conditions
         |      WHERE measurement_of = 'view' AND measurement_subject = '$Subject'
         |        AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1)
         |SELECT epoch_us(c."timestamp") AS ts_us,
         |       c.measurement_number AS click_value,
         |       v.measurement_number AS view_value
         |FROM c ASOF LEFT JOIN v ON c."timestamp" >= v."timestamp"
         |ORDER BY ts_us""".stripMargin,
    // forward as-of replayed as a backward ASOF on NEGATED timestamps
    // (max of -ts <= -t == min of ts >= t, same >= tie visibility)
    "q_funnel" ->
      s"""$Cte,
         |c AS (SELECT measurement_subject AS s, epoch_us("timestamp") AS t FROM conditions
         |      WHERE measurement_of = '$Of'
         |        AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |v AS (SELECT measurement_subject AS s, epoch_us("timestamp") AS t FROM conditions
         |      WHERE measurement_of = 'view'
         |        AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |j AS (
         |  SELECT c.s, c.t, v.t AS vt
         |  FROM (SELECT s, t, -t AS nt FROM c) c
         |  ASOF LEFT JOIN (SELECT s, t, -t AS nt FROM v) v
         |    ON c.s = v.s AND c.nt >= v.nt)
         |SELECT s AS measurement_subject,
         |       count(*) AS n_clicks,
         |       count(CASE WHEN vt - t <= ${3600L * 1000000L} THEN 1 END) AS n_converted,
         |       ROUND(AVG(CASE WHEN vt - t <= ${3600L * 1000000L} THEN (vt - t)/1000000.0 END), 6) AS avg_response_s
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // chained ASOF joins on negated timestamps, anchors dedup'd per hop
    // exactly like the Spark plan; hop clocks restart at the reached event
    "q_funnel3" ->
      s"""$Cte,
         |c AS (SELECT measurement_subject AS s, epoch_us("timestamp") AS t FROM conditions
         |      WHERE measurement_of = '$Of'
         |        AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |v AS (SELECT measurement_subject AS s, epoch_us("timestamp") AS t FROM conditions
         |      WHERE measurement_of = 'view'
         |        AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |p AS (SELECT measurement_subject AS s, epoch_us("timestamp") AS t FROM conditions
         |      WHERE measurement_of = 'purchase'
         |        AND epoch_us("timestamp")/1000000.0 >= $S1 AND epoch_us("timestamp")/1000000.0 <= $E1),
         |j1 AS (
         |  SELECT c.s, c.t AS t0,
         |         CASE WHEN v.t - c.t <= ${3600L * 1000000L} THEN v.t END AS t1
         |  FROM (SELECT s, t, -t AS nt FROM c) c
         |  ASOF LEFT JOIN (SELECT s, t, -t AS nt FROM v) v
         |    ON c.s = v.s AND c.nt >= v.nt),
         |a AS (SELECT DISTINCT s, t1 FROM j1 WHERE t1 IS NOT NULL),
         |j2 AS (
         |  SELECT a.s, a.t1,
         |         CASE WHEN p.t - a.t1 <= ${3600L * 1000000L} THEN p.t END AS t2
         |  FROM (SELECT s, t1, -t1 AS nt FROM a) a
         |  ASOF LEFT JOIN (SELECT s, t, -t AS nt FROM p) p
         |    ON a.s = p.s AND a.nt >= p.nt)
         |SELECT j1.s AS measurement_subject,
         |       count(*) AS n_0, count(j1.t1) AS n_1, count(j2.t2) AS n_2
         |FROM j1 LEFT JOIN j2 ON j1.s = j2.s AND j1.t1 = j2.t1
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_curate" -> curateOracleSql,
    // the composed export: curate survivors minus 5-gram-contaminated
    // docs, md5-bucket train split, epoch-42/1 shuffle over 7 shards —
    // each stage the same replay its own gate uses
    "q_training_export" -> trainingExportOracleSql,
    // manifest over the SAME export replay: counts, extent and the
    // 60-bit md5-XOR checksum recomputed from scratch
    "q_export_manifest" ->
      s"""WITH exp AS ($trainingExportOracleSql),
         |j AS (SELECT e.shard, e.global_pos,
         |             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ntok,
         |             list_reduce(list_transform(range(1, 16),
         |               i -> CAST(strpos('0123456789abcdef',
         |                      substr(md5('manifest:' || CAST(e.doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
         |               (a, b) -> a * 16 + b) AS h
         |      FROM exp e JOIN documents d USING (doc_id))
         |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
         |       MIN(global_pos) AS first_pos, MAX(global_pos) AS last_pos,
         |       CAST(bit_xor(h) AS BIGINT) AS checksum
         |FROM j GROUP BY shard ORDER BY shard""".stripMargin,
    // SQL-path twin shares the composed oracle (same plan by construction)
    "q_sql_export" -> trainingExportOracleSql,
    "q_multimodal_features" ->
      """WITH m AS (
        |  SELECT doc_id AS id,
        |         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
        |         CAST(len(text) AS BIGINT) AS n_plane,
        |         CAST(list_sum(list_transform(range(1, len(text)+1),
        |           i -> ascii(substr(text, i, 1)))) AS BIGINT) AS s
        |  FROM documents)
        |SELECT id, modality, n_plane, s % 9973 AS byte_sum,
        |       ROUND(CAST(s AS DOUBLE)/n_plane, 6) AS byte_mean
        |FROM m ORDER BY id""".stripMargin,
    // the Real-decoder face: constant-gray PNGs make the decoded-plane
    // features closed-form in doc_id (n = w·h, sum%9973, mean = gray)
    "q_media_decode" ->
      """SELECT doc_id AS id, 'image' AS modality,
        |       CAST((8 + doc_id % 8) * (8 + doc_id % 5) AS BIGINT) AS n_plane,
        |       CAST(((doc_id % 256) * (8 + doc_id % 8) * (8 + doc_id % 5)) % 9973 AS BIGINT) AS byte_sum,
        |       ROUND(CAST(doc_id % 256 AS DOUBLE), 6) AS byte_mean
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY id""".stripMargin,
    // the audio face of the Real decoder: constant-PCM16 WAVs decode to
    // a plane of n = 800 + id%211 bytes, every byte = id%256
    "q_audio_decode" ->
      """SELECT doc_id AS id, 'audio' AS modality,
        |       CAST(800 + doc_id % 211 AS BIGINT) AS n_plane,
        |       CAST(((doc_id % 256) * (800 + doc_id % 211)) % 9973 AS BIGINT) AS byte_sum,
        |       ROUND(CAST(doc_id % 256 AS DOUBLE), 6) AS byte_mean
        |FROM documents WHERE doc_id % 10 = 3 ORDER BY id""".stripMargin,
    "q_tpch_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_tpch_top_orders" ->
      """SELECT o_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    // the salted join must aggregate to exactly the plain join
    "q_skew_join" ->
      """SELECT o_orderpriority, count(*) AS n, ROUND(SUM(l_quantity), 2) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dup_source_matrix" ->
      s"""WITH ${jaccardBoundedPairsCte(10)}
         |SELECT sa.source AS source_a, sb.source AS source_b, count(*) AS n_pairs
         |FROM jp JOIN documents sa ON jp.doc_a = sa.doc_id
         |        JOIN documents sb ON jp.doc_b = sb.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_tpch_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_tpch_big_orders" ->
      """WITH hot AS (
        |  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 2) > 250)
        |SELECT c_custkey, c_name, o_orderkey, total_qty
        |FROM hot JOIN orders ON l_orderkey = o_orderkey
        |         JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    "q_tpch_shipping" ->
      """SELECT l_orderkey,
        |       CAST(epoch_us(o_orderdate)/1000000 AS BIGINT) AS o_date_s,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_date_s
        |ORDER BY revenue DESC, o_date_s ASC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q_tpch_cust_dist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch_idle_rich" ->
      """WITH thr AS (SELECT SUM(c_acctbal) AS tot, COUNT(*) AS cnt
        |             FROM customer WHERE c_acctbal > 0)
        |SELECT n_name, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
        |FROM customer CROSS JOIN thr
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal * thr.cnt > thr.tot
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_tpch_local_supplier" ->
      """SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
        |              JOIN customer ON o_custkey = c_custkey
        |              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |              JOIN nation   ON s_nationkey = n_nationkey
        |              JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin,
    "q_tpch_promo" ->
      """SELECT ROUND(100.0 *
        |         SUM(CASE WHEN p_type = 'PROMO'
        |             THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) /
        |         SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'""".stripMargin
  )

  /** Quality-score SQL (no trailing ORDER BY) — shared by q_quality,
    * q_topk_quality and the curate oracle's inline copy.
    */
  private def qualityCoreSql: String =
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

  /** Full ASAP replay in DuckDB SQL — oracle for q_sampled_asap. Mirrors
    * [[graft.functions.Asap]] stage by stage: bucketed-AVG grid (same
    * bucket function as B2), linear gap-fill, population kurtosis,
    * ACF at lags 1..n/2, interior local-maxima peak detection above
    * max(mean(acf), 0), per-candidate trailing SMA with kurtosis
    * preservation and roughness (σ of first differences) minimization,
    * minBy tie-break order (peaks ascending, then w=1). The discrete
    * window choice makes this FP-sensitive in principle; the
    * AsapGoldenSpec cross-implementation bound (≤1e-9 divergence) is
    * what makes the replay safe in practice — both engines land on the
    * same window, and round-6 absorbs the arithmetic-order noise in the
    * smoothed values. Verified to hash-match at sf0.01 (w=1 regime) AND
    * sf0.1 (w>1 regime — the full search path).
    */
  private def asapOracleSql: String = {
    val res = 50
    val w = math.max(1L, (E1 - S1) / res)
    s"""$Cte,
       |grid0 AS (
       |  SELECT ${bucketSql(w)} AS time_s, AVG(measurement_number) AS v
       |  FROM conditions WHERE $ScanPred
       |  GROUP BY 1 HAVING AVG(measurement_number) IS NOT NULL),
       |gaps AS (
       |  SELECT time_s, v,
       |         lead(time_s) OVER (ORDER BY time_s) AS nt,
       |         lead(v) OVER (ORDER BY time_s) AS nv
       |  FROM grid0),
       |gf AS (
       |  SELECT time_s, v FROM grid0
       |  UNION ALL
       |  SELECT time_s + g * $w,
       |         v + (nv - v) * (CAST(g AS DOUBLE) / CAST((nt - time_s) // $w AS BIGINT))
       |  FROM gaps, unnest(range(1, CAST((nt - time_s) // $w AS BIGINT))) t(g)
       |  WHERE nt IS NOT NULL),
       |s AS (SELECT time_s, v, row_number() OVER (ORDER BY time_s) AS i FROM gf),
       |st AS (SELECT count(*) AS n, avg(v) AS m FROM s),
       |cent AS (SELECT i, v - (SELECT m FROM st) AS c FROM s),
       |dn AS (SELECT sum(c*c) AS d FROM cent),
       |k0 AS (
       |  SELECT CASE WHEN (SELECT n FROM st) < 2 THEN 0.0
       |              WHEN m2 = 0 THEN 0.0 ELSE m4/(m2*m2) END AS k
       |  FROM (SELECT sum(c*c)/(SELECT n FROM st) AS m2,
       |               sum(c*c*c*c)/(SELECT n FROM st) AS m4 FROM cent)),
       |acf AS (
       |  SELECT l.lag,
       |         CASE WHEN (SELECT d FROM dn) = 0 THEN 0.0
       |              ELSE COALESCE((SELECT sum(a.c * b.c) FROM cent a JOIN cent b ON b.i = a.i + l.lag), 0.0)
       |                   / (SELECT d FROM dn) END AS corr
       |  FROM (SELECT unnest(range(1, (SELECT n FROM st) // 2 + 1)) AS lag) l),
       |th AS (SELECT greatest(avg(corr), 0.0) AS t FROM acf),
       |peaks AS (
       |  SELECT a.lag AS w
       |  FROM acf a JOIN acf p ON p.lag = a.lag - 1 JOIN acf q ON q.lag = a.lag + 1
       |  WHERE a.corr > p.corr AND a.corr >= q.corr AND a.corr > (SELECT t FROM th)),
       |cand AS (
       |  SELECT w FROM peaks WHERE w <= greatest(1, (SELECT n FROM st) // 2)
       |  UNION SELECT 1),
       |sm AS (
       |  SELECT c.w, a.i AS j, sum(b.v)/c.w AS sv
       |  FROM cand c, s a JOIN s b ON b.i >= a.i AND b.i <= a.i + c.w - 1
       |  WHERE a.i <= (SELECT n FROM st) - c.w + 1
       |  GROUP BY c.w, a.i),
       |smst AS (SELECT w, count(*) AS ns, avg(sv) AS ms FROM sm GROUP BY w),
       |kurt AS (
       |  SELECT sm.w,
       |         CASE WHEN any_value(ns) < 2 THEN 0.0
       |              WHEN sum(pow(sv-ms,2))/any_value(ns) = 0 THEN 0.0
       |              ELSE (sum(pow(sv-ms,4))/any_value(ns))
       |                   / pow(sum(pow(sv-ms,2))/any_value(ns), 2) END AS k
       |  FROM sm JOIN smst USING (w) GROUP BY sm.w),
       |diffs AS (
       |  SELECT w, sv - lag(sv) OVER (PARTITION BY w ORDER BY j) AS dd
       |  FROM sm),
       |rough AS (
       |  SELECT w, CASE WHEN count(dd) < 2 THEN 0.0
       |                 ELSE sqrt(sum(pow(dd - md, 2)) / count(dd)) END AS r
       |  FROM (SELECT w, dd, avg(dd) OVER (PARTITION BY w) AS md FROM diffs WHERE dd IS NOT NULL)
       |  GROUP BY w),
       |choice AS (
       |  SELECT CASE WHEN (SELECT n FROM st) < 8 THEN 1 ELSE
       |    (SELECT k.w FROM kurt k JOIN rough r USING (w)
       |     JOIN k0 ON TRUE
       |     WHERE k.w = 1 OR k.k >= k0.k
       |     ORDER BY r.r ASC, (k.w = 1) ASC, k.w ASC LIMIT 1) END AS w)
       |SELECT g.time_s AS time_s, ROUND(sm.sv, 6) AS smoothed_value
       |FROM sm JOIN choice ON sm.w = choice.w JOIN s g ON g.i = sm.j
       |ORDER BY time_s""".stripMargin
  }

  /** First-8-hex-digits-of-md5 bucket in [0, 10000) — replays
    * [[graft.operators.Sampling.bucket]] bit-for-bit via a hex-digit
    * Horner reduce (DuckDB has md5 but no hex→int conversion).
    */
  /** Winnowing replay: the rolling hash recomputed as the direct modular
    * polynomial (identical values — both reduce mod the same prime), then
    * the rightmost-min window selection as nested list comprehensions.
    */
  private def winnowOracleSql: String = {
    import graft.operators.TextAnalysis.{WinnowK => K, WinnowW => W}
    val P = 1000000007L
    val pw = (0 until K).map(j => BigInt(257).modPow(BigInt(K - 1 - j), BigInt(P)))
    val pwList = pw.map(p => s"CAST($p AS BIGINT)").mkString("[", ",", "]")
    s"""WITH h AS (
       |  SELECT doc_id, length(text) - $K + 1 AS m,
       |    [ CAST(list_sum([ CAST(unicode(substr(text, i + j, 1)) AS BIGINT) * ($pwList)[j+1]
       |                 for j in range(0, $K) ]) % $P AS BIGINT)
       |      for i in range(1, length(text) - $K + 2) ] AS hs
       |  FROM documents WHERE length(text) >= $K),
       |fp AS (
       |  SELECT doc_id, hs,
       |    CASE WHEN m >= $W THEN
       |      list_distinct([ list_max([ i for i in range(j, j + $W) if hs[i] = list_min(hs[j : j + $W - 1]) ])
       |                      for j in range(1, m - $W + 2) ])
       |    ELSE [ list_max([ i for i in range(1, m + 1) if hs[i] = list_min(hs) ]) ] END AS poss
       |  FROM h)
       |SELECT doc_id, unnest(poss) - 1 AS pos, hs[unnest(poss)] AS fp
       |FROM fp ORDER BY doc_id, pos""".stripMargin
  }

  /** Exact-join curate replay — oracle for q_curate, reused as a CTE by
    * the q_training_export composition.
    */
  private def curateOracleSql: String =
    s"""WITH sh AS ($shingleCteSql),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
        |         any_value(a.nsh) AS na, any_value(b.nsh) AS nb
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |near_drop AS (
        |  SELECT DISTINCT doc_b AS doc_id FROM pairs
        |  WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= 0.8),
        |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |q AS (
        |  SELECT doc_id,
        |         ROUND(LEAST(1.0, ntok / 200) * 0.3 + (ndist / ntok) * 0.3
        |               + LEAST(1.0, nstop / ntok * 5) * 0.4, 6) AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok,
        |          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS ndist,
        |          CAST(len(list_filter(string_split(text, ' '),
        |            t -> t IN ('the', 'and', 'of', 'to', 'a', 'in', 'is', 'that', 'it'))) AS DOUBLE) AS nstop
        |        FROM documents)),
        |l AS ($langIdSql)
        |SELECT k.doc_id, q.quality, l.lang_pred
        |FROM exact_keep k JOIN q USING (doc_id) JOIN l USING (doc_id)
        |WHERE k.doc_id NOT IN (SELECT doc_id FROM near_drop)
        |  AND q.quality >= 0.3 AND l.lang_pred IN ('en')
        |ORDER BY k.doc_id""".stripMargin

  /** The four-stage export replay (curate → decontaminate → split →
    * shuffle) — shared by q_training_export and its SQL-path twin
    * q_sql_export.
    */
  private def trainingExportOracleSql: String =
    s"""WITH cur AS (SELECT doc_id FROM ($curateOracleSql) c),
        |w5 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh5 AS (SELECT doc_id,
        |          unnest(list_distinct([ array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3) ])) AS s
        |        FROM w5),
        |bench AS (SELECT DISTINCT s FROM sh5 WHERE doc_id % 7 = 0),
        |dirty AS (SELECT DISTINCT doc_id FROM sh5 WHERE s IN (SELECT s FROM bench)),
        |train AS (
        |  SELECT doc_id FROM cur
        |  WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
        |    AND doc_id % 7 <> 0
        |    AND ${md5BucketSql("split", "doc_id")} < 9000),
        |sk AS (SELECT doc_id,
        |              md5('shuf:42:1:' || CAST(doc_id AS VARCHAR)) AS skey
        |       FROM train),
        |shd AS (SELECT doc_id, skey,
        |               CAST(list_reduce(list_transform(range(1, 9),
        |                       i -> CAST(strpos('0123456789abcdef', substr(skey, i, 1)) - 1 AS BIGINT)),
        |                     (a, b) -> a * 16 + b) % 7 AS INT) AS shard
        |       FROM sk)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (ORDER BY shard, skey, doc_id) - 1 AS BIGINT) AS global_pos
        |FROM shd ORDER BY global_pos""".stripMargin

  /** md5 → hex-Horner shard → total order replay of
    * [[graft.operators.Sampling.epochShuffle]] at (seed 42, epoch 1,
    * 7 shards) — shared by q_epoch_shuffle and its SQL-path twin
    * q_sql_shuffle so the two gates can never desynchronize.
    */
  private def epochShuffleOracleSql: String =
      """WITH s AS (
        |  SELECT doc_id,
        |         md5('shuf:42:1:' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, skey,
        |         CAST(list_reduce(list_transform(range(1, 9),
        |                 i -> CAST(strpos('0123456789abcdef', substr(skey, i, 1)) - 1 AS BIGINT)),
        |               (a, b) -> a * 16 + b) % 7 AS INT) AS shard
        |  FROM s)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (ORDER BY shard, skey, doc_id) - 1 AS BIGINT) AS global_pos
        |FROM sh ORDER BY global_pos""".stripMargin

  private def md5BucketSql(salt: String, keyExpr: String): String =
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
  private def plantUrls(docs: DataFrame): DataFrame = {
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

  /** Linked-page plant for the link-graph family: each page (its URL
    * from [[plantUrls]], so the src side exercises the full
    * canonicalization) carries four anchors — an ABSOLUTE hub link
    * (uppercase scheme/host, so target canonicalization has work; 13
    * hubs × 5 paths ⇒ a hub-spoke graph where in-degree and rank
    * concentrate), a ROOT-RELATIVE next-page link (resolves against
    * the page's canonical scheme://host), an UNQUOTED root-relative
    * link (`href=/q/…` — the legacy/minified form the third [[graft
    * .operators.LinkGraph.HrefRe]] alternative matches), and a
    * `mailto:` + fragment-only pair that must be DROPPED. Replayed
    * literally in [[linkEdgesCtesSql]].
    */
  private def plantLinkedPages(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.concat
    plantUrls(docs).select(col("doc_id"), col("url"), concat(
      lit("<p>intro <a href=\"HTTPS://HUB"),
      (col("doc_id") % 13).cast("string"),
      lit(".Example.net/h/"), (col("doc_id") % 5).cast("string"),
      lit("\">hub</a> <a href=\"/p/"),
      ((col("doc_id") + 3) % 11).cast("string"),
      lit("\">next</a> <a href=/q/"),
      ((col("doc_id") + 5) % 7).cast("string"),
      lit(">unq</a> <a href='mailto:x@y'>mail</a>" +
        " <a href=\"#top\">top</a></p>")).as("html"))
  }

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

  /** Relative-href plant: each page (canonical src path `/p/<m>`, so
    * the directory is `/p/`) carries a plain directory-relative link,
    * a `../` parent link, a `./` same-dir link, a mixed
    * `x/../y/./c.html` traversal, an above-root `../../../../` clamp
    * case, and a `tel:` that must drop. Replayed literally in
    * [[linkExtractRelOracleSql]].
    */
  private def plantRelPages(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.concat
    plantUrls(docs).select(col("doc_id"), col("url"), concat(
      lit("<p><a href=\"a/b"), (col("doc_id") % 7).cast("string"),
      lit(".html\">down</a> <a href='../u"), (col("doc_id") % 5).cast("string"),
      lit(".html'>up</a> <a href=\"./s"), (col("doc_id") % 3).cast("string"),
      lit(".html\">same</a> <a href=\"x/../y/./c.html\">mixed</a>" +
        " <a href=\"../../../../clamp.html\">clamp</a>" +
        " <a href='tel:+15550'>tel</a></p>")).as("html"))
  }

  /** rel-attribute plant: each page carries (1) a followed absolute
    * hub link, (2) a root-relative link with `rel="nofollow"` AFTER
    * href, (3) an absolute link with a multi-token `rel='ugc
    * nofollow'` BEFORE href (attribute order + token scan), (4) an
    * UNQUOTED href with unquoted `rel=nofollow`, (5) a nofollow'd
    * DUPLICATE of (1)'s target — the (src, dst) collapse must come
    * out followed (any followed copy endorses), and (6) a `mailto:`
    * that drops. Replayed literally in [[linkRelOracleSql]].
    */
  private def plantRelAttrPages(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.concat
    val hub = concat(lit("HTTPS://HUB"), (col("doc_id") % 13).cast("string"),
      lit(".Example.net/h/"), (col("doc_id") % 5).cast("string"))
    plantUrls(docs).select(col("doc_id"), col("url"), concat(
      lit("<p><a href=\""), hub, lit("\">hub</a>"),
      lit(" <a href=\"/p/"), ((col("doc_id") + 3) % 11).cast("string"),
      lit("\" rel=\"nofollow\">later</a>"),
      lit(" <a rel='ugc nofollow' href='HTTPS://HUB"),
      (col("doc_id") % 13).cast("string"),
      lit(".Example.net/u/"), (col("doc_id") % 3).cast("string"),
      lit("'>ugc</a> <a href=/q/"), ((col("doc_id") + 5) % 7).cast("string"),
      lit(" rel=nofollow>unq</a> <a href=\""), hub,
      lit("\" rel=\"nofollow\">dup</a>" +
        " <a href='mailto:x@y'>mail</a></p>")).as("html"))
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

  /** Anchor-text plant: each page carries (1) a double-quoted hub link
    * whose text has internal double spacing (collapse exercised), (2) a
    * SINGLE-quoted next-page link whose text varies (group-2 href must
    * re-align with the group-4 text of the SAME match), (3) an
    * UNQUOTED link (group-3 href, fixed label — the four-way zip must
    * keep all three value styles aligned with their text), (4) a
    * nested-markup anchor whose leading text run is empty (`<b>`
    * immediately after `>` — dropped by the empty-anchor rule), and
    * (5) a `mailto:` that fails resolution. Replayed literally in
    * [[linkAnchorsOracleSql]].
    */
  private def plantAnchorPages(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.concat
    plantUrls(docs).select(col("doc_id"), col("url"), concat(
      lit("<p><a href=\"HTTPS://HUB"), (col("doc_id") % 13).cast("string"),
      lit(".Example.net/h/"), (col("doc_id") % 5).cast("string"),
      lit("\">hub  "), (col("doc_id") % 7).cast("string"),
      lit(" page</a> <a href='/p/"), ((col("doc_id") + 3) % 11).cast("string"),
      lit("'>next "), (col("doc_id") % 3).cast("string"),
      lit("</a> <a href=/q/"), ((col("doc_id") + 5) % 7).cast("string"),
      lit(">plain label</a>" +
        " <a href=\"/p/0\"><b>nested</b> lead run empty</a>" +
        " <a href='mailto:x@y'>mail</a></p>")).as("html"))
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

  /** Sitemap-schedule replay: plant, block/loc/priority extraction
    * (same regexes), the [0,1] clamp with the 0.5 default, politeness
    * waves over (priority DESC, url, k), graftbot delays, budget cut
    * at 3. Hosts are planted canonical (`example{k}.com`), so the host
    * term replays as the plant formula — the full host rule is gated
    * by q_url_canon.
    */
  private def sitemapScheduleOracleSql: String =
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
       |ORDER BY s.host, s.wave""".stripMargin

  /** Script probes appended by doc_id%6 (\u escapes — plant and oracle
    * share exact codepoints): none (Latin body only), Cyrillic, Han,
    * Arabic, Greek, Hangul samples.
    */
  private val ScriptProbes: Seq[String] = Seq(
    "",
    " Привет мир",
    " 你好世界文档 カタ",
    " مرحبا بك",
    " αβγ δεζ",
    " 안녕하세요")

  private def plantScriptText(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{concat, expr, when}
    val v = expr("doc_id % 6")
    val suffix = ScriptProbes.zipWithIndex.tail
      .foldLeft(when(v === 0, lit(ScriptProbes.head))) {
        case (acc, (p, i)) => acc.when(v === i, lit(p))
      }
    docs.select(col("doc_id"), concat(col("text"), suffix).as("text"))
  }

  /** Script-profile replay, GENERATED from the same
    * [[graft.operators.TextAnalysis.ScriptRanges]] constants and
    * [[ScriptProbes]] bytes. Dominance replays as first-label-equals-
    * max — equivalent to the Spark side's strictly-greater fold with
    * earlier-entry priority (both = earliest range achieving the max;
    * all-zero rows fall to `latin` on both engines).
    */
  private def scriptProfileOracleSql: String = {
    val ranges = graft.operators.TextAnalysis.ScriptRanges
    val probeCase = ScriptProbes.zipWithIndex.map { case (p, i) =>
      s"WHEN $i THEN ${sqlStr(p)}" }.mkString(" ")
    val countCols = ranges.map { case (n, re) =>
      s"CAST(len(regexp_extract_all(t, ${sqlStr(re)})) AS BIGINT) AS n_$n"
    }.mkString(",\n         ")
    val total = ranges.map(r => s"n_${r._1}").mkString(" + ")
    val m = "GREATEST(" + ranges.map(r => s"n_${r._1}").mkString(", ") + ")"
    val dom = "CASE " + ranges.map { case (n, _) =>
      s"WHEN n_$n = $m THEN '$n'" }.mkString(" ") + " END"
    s"""WITH sd AS (
       |  SELECT doc_id, text || CASE doc_id % 6 $probeCase END AS t
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id,
       |         $countCols
       |  FROM sd)
       |SELECT sc.*, CAST($total AS BIGINT) AS n_letters, $dom AS dominant_script
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Badword plant: doc_id%9==1 gains one blocked token (a single hit
    * must trip the strict rule but stay under a fraction threshold on
    * long docs), %9==2 gains three (two distinct words, repeats
    * counted per occurrence). Tokenization is whitespace on the
    * LOWERCASED text, matching the oracle's split.
    */
  private def plantBadwordText(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    docs.select(col("doc_id"), concat(col("text"),
      expr("CASE doc_id % 9 WHEN 1 THEN ' badx' " +
        "WHEN 2 THEN ' badx bady badx' ELSE '' END")).as("text"))
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

  private def soft404OracleSql: String =
    s"""SELECT doc_id, ${softFlagSql(softPlantCaseSql("text"))} AS soft
       |FROM documents ORDER BY doc_id""".stripMargin

  private def domainReportOracleSql: String =
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
       |FROM sp GROUP BY host ORDER BY host""".stripMargin

  /** Badword replay: the plant, the whitespace split of the lowercased
    * text, exact token membership ('BadZ' lowercased like the Spark
    * side lowers the words frame), 6-dp fraction. `finalSelect` reads
    * CTE `bs` (doc_id, n_tokens, n_blocked, blocked_frac).
    */
  private def badwordStatsOracleSql(finalSelect: String): String =
    s"""WITH bd AS (
       |  SELECT doc_id, lower(text ||
       |           CASE doc_id % 9 WHEN 1 THEN ' badx'
       |                WHEN 2 THEN ' badx bady badx' ELSE '' END) AS t
       |  FROM documents),
       |tk AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(t, '\\s+')) AS tok
       |  FROM bd),
       |bs AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(SUM(CASE WHEN tok IN ('badx', 'bady', 'badz')
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       |         round(SUM(CASE WHEN tok IN ('badx', 'bady', 'badz')
       |                        THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS blocked_frac
       |  FROM tk GROUP BY doc_id)
       |$finalSelect""".stripMargin

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

  /** Dirty-text suffix appended to every document for the
    * normalization rows — written entirely in \u escapes so the plant
    * and the oracle interpolation share exact bytes. Contents: a
    * DECOMPOSED accent (`e`+U+0301, NFC must compose it), the mojibake
    * of `déjà` (`Ã©` and `Ã `+NBSP forms) and of an em dash
    * (`â€”`), a zero-width space and a BEL control (both stripped),
    * and the mojibake of `”` whose third byte is cp1252-undefined and
    * decodes to the C1 control U+009D — which [[graft.operators
    * .TextNormalization.stripControls]] must NOT eat before repair.
    */
  private val DirtyTextSuffix: String =
    " Cafe\u0301 d\u00C3\u00A9j\u00C3\u00A0 vu \u00E2\u20AC\u201D " +
      "a\u200Bb \u0007ok \u00E2\u20AC\u009Dend"

  private def plantDirtyText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"), lit(DirtyTextSuffix)).as("dirty"))

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
  private def plantHtml(docs: DataFrame): DataFrame =
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
  private def duckNumRefDecodeSql(x: String): String =
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

  /** The named-entity fold (`&amp;` last, after [[duckNumRefDecodeSql]]
    * has already run — same ordering as the Spark side).
    */
  /** DuckDB replay of [[graft.operators.TextExtraction]]'s NAMED
    * entity decode — the same split-on-`&` segment transform, with the
    * per-name WHEN branches GENERATED from the shared
    * `NamedEntityCodepoints` table (characters via `chr(codepoint)`,
    * `nbsp` → space, per-name substr offsets computed at generation
    * time), so the engines cannot drift on the name set. Generated
    * lines never START with `|` — this fragment is interpolated under
    * callers' stripMargin.
    */
  private def duckNamedEntitySql(x: String): String = {
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
  /** The literal [[plantHtml]] replay on its own — shared by the
    * line-split chain and any oracle needing the raw page string.
    */
  private def htmlPagesCteSql: String =
    s"""hp AS (
       |  SELECT doc_id,
       |         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
       |         '</title><style>body { margin:0 }</style><script>var t = 1;</script></head>' || chr(10) ||
       |         '<div class="nav"><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></div>' || chr(10) ||
       |         '<p><b>' || text || '</b> &amp; tail&lt;' || CAST(doc_id AS VARCHAR) || '&gt; say &#72;i&#x21;&#160;plus &#999; caf&eacute; &ndash; &Ouml;l r&eacute;sum&eacute; &hellip; &bogus; done</p>' || chr(10) ||
       |         '<!-- tracking pixel --><div class="footer"><a href="/t">Terms</a> &middot; <a href="/p">Privacy</a></div>'
       |           AS html
       |  FROM documents)""".stripMargin

  private def htmlLineCtesSql(minified: Boolean): String = {
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
  private def urlCanonCtesSql: String =
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

  private def htmlTextOracleSql: String =
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
         |FROM tx1 ORDER BY doc_id""".stripMargin

  private def htmlMainOracleSql(minified: Boolean): String =
    s"""WITH ${htmlLineCtesSql(minified)}
         |SELECT doc_id,
         |       COALESCE(string_agg(
         |         CASE WHEN length(txt) >= 25
         |               AND anchors < len(string_split(txt, ' ')) * 0.34
         |              THEN txt END, chr(10) ORDER BY ord), '') AS main
         |FROM hl GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def urlCanonOracleSql: String =
    s"""WITH $urlCanonCtesSql
       |SELECT doc_id, url, canon_url FROM k ORDER BY doc_id""".stripMargin

  /** The crawl-curation capstone replay, shared by `q_crawl_curate` and
    * `q_crawl_from_warc` (the WARC wrap→parse stage is an identity on
    * (url, html), verified by the round-trip spec): blocklist EXISTS →
    * canonical QUALIFY dedup → per-line extraction → length floor.
    */
  private def crawlCurateOracleSql: String =
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

  /** DuckDB literal from a Scala string: quotes doubled, control
    * characters (the robots templates carry real LF/CR bytes) embedded
    * verbatim — DuckDB string literals accept them.
    */
  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The [[plantDirtyText]] replay — suffix bytes shared via
    * [[sqlStr]].
    */
  private def dirtyTextCteSql: String =
    s"""dd AS (
       |  SELECT doc_id, text || ${sqlStr(DirtyTextSuffix)} AS dirty
       |  FROM documents)""".stripMargin

  /** The mojibake repair chain as nested DuckDB `replace` calls —
    * GENERATED from the same
    * [[graft.operators.TextNormalization.MojibakePairs]] table the
    * Spark side folds, so the two engines cannot drift on the pair
    * set or its order.
    */
  private def mojibakeChainSql(x: String): String =
    graft.operators.TextNormalization.MojibakePairs.foldLeft(x) {
      case (acc, (bad, good)) => s"replace($acc, ${sqlStr(bad)}, ${sqlStr(good)})"
    }

  private def textNfcOracleSql: String =
    s"""WITH $dirtyTextCteSql
       |SELECT doc_id, nfc_normalize(dirty) AS text_nfc,
       |       (nfc_normalize(dirty) <> dirty) AS changed
       |FROM dd ORDER BY doc_id""".stripMargin

  private def textMojibakeOracleSql: String =
    s"""WITH $dirtyTextCteSql
       |SELECT doc_id, ${mojibakeChainSql("dirty")} AS repaired
       |FROM dd ORDER BY doc_id""".stripMargin

  private def textNormalizeOracleSql: String = {
    val stripped = "regexp_replace(dirty, '" +
      graft.operators.TextNormalization.ControlCharClass + "', '', 'g')"
    s"""WITH $dirtyTextCteSql
       |SELECT doc_id, nfc_normalize(${mojibakeChainSql(stripped)}) AS clean
       |FROM dd ORDER BY doc_id""".stripMargin
  }

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

  private def htmlNoindexOracleSql: String = {
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
  }

  /** Canonical-consolidation replay: declared-target extraction (both
    * attribute orders), the resolution scope the fixture exercises
    * (absolute pass-through, root-relative against the canonical
    * scheme://host — [[graft.operators.LinkGraph.resolveHref]]'s full
    * directory-relative tier is gated by q_link_extract_rel), plant
    * targets canonical by construction (the full canonicalization rule
    * is gated by q_url_canon), then one winner per target.
    */
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

  private def htmlCanonicalOracleSql: String =
    s"""WITH $compliancePagesCteSql,
       |${canonicalConsolidationCtesSql("pg")}
       |SELECT canon_target, doc_id, url FROM win WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

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

  /** [[crawlPlanOracleSql]] under RFC 9309 fetch-status semantics:
    * `rstat` replays [[plantRobotsFetch]]'s status formula, binding
    * directives are restricted to LIVE hosts (status < 400), the
    * enforce stage gains one synthesized `Disallow: /` row per 5xx
    * host (spec 1, regex `^/` — exactly what the Spark side's
    * [[graft.operators.UrlOps.robotsRulesWithStatus]] pattern compiles
    * to), and crawl delays come from live hosts only.
    */
  /** The [[plantRobotsFetch]] status replay (`sh`, `status`) — shared
    * by the status capstone and the status SQL-face oracles.
    */
  private def robotsFetchStatusCteSql: String =
    s"""rstat AS (
       |  SELECT 'example' || CAST(k AS VARCHAR) || '.com' AS sh,
       |         CASE k % 5 WHEN 1 THEN 404 WHEN 2 THEN 500 ELSE 200 END AS status
       |  FROM (SELECT DISTINCT doc_id % 20 AS k FROM documents))""".stripMargin

  /** [[graft.operators.UrlOps.robotsRulesWithStatus]] replay for the
    * `*` agent: live hosts' binding Allow/Disallow lines plus one
    * synthesized `Disallow: /` per 5xx host.
    */
  private def robotsStatusRulesOracleSql: String =
    s"""WITH ${robotsDirectivesCtesSql("*")},
       |$robotsFetchStatusCteSql
       |SELECT * FROM (
       |  SELECT h AS host, dval AS pattern, (dkey = 'allow') AS allow
       |  FROM rbind JOIN rstat ON rbind.h = rstat.sh
       |  WHERE rstat.status < 400 AND dkey IN ('allow', 'disallow') AND dval <> ''
       |  UNION ALL
       |  SELECT sh AS host, '/' AS pattern, false AS allow
       |  FROM rstat WHERE status >= 500)
       |ORDER BY host, pattern, allow""".stripMargin

  private def robotsStatusDelaysOracleSql: String =
    s"""WITH ${robotsDirectivesCtesSql("*")},
       |$robotsFetchStatusCteSql
       |SELECT h AS host, min(CAST(dval AS DOUBLE)) AS delay_s
       |FROM rbind JOIN rstat ON rbind.h = rstat.sh
       |WHERE rstat.status < 400 AND dkey = 'crawl-delay'
       |  AND regexp_matches(dval, '^[0-9]+(\\.[0-9]+)?$$')
       |GROUP BY h ORDER BY host""".stripMargin

  private def crawlPlanStatusOracleSql: String = {
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
  }

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

  private def robotsParseOracleSql: String =
    s"""WITH ${robotsDirectivesCtesSql("graftbot")}
       |SELECT h AS host, dval AS pattern, (dkey = 'allow') AS allow
       |FROM rbind
       |WHERE dkey IN ('allow', 'disallow') AND dval <> ''
       |ORDER BY host, pattern, allow""".stripMargin

  private def robotsDelayOracleSql: String =
    s"""WITH ${robotsDirectivesCtesSql("graftbot")}
       |SELECT h AS host, min(CAST(dval AS DOUBLE)) AS delay_s
       |FROM rbind
       |WHERE dkey = 'crawl-delay' AND regexp_matches(dval, '^[0-9]+(\\.[0-9]+)?$$')
       |GROUP BY h
       |ORDER BY host""".stripMargin

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

  /** Parse → enforce chain: the `rbind` rules compiled to REP regexes
    * and applied to the canonical URL frame with longest-pattern-wins.
    */
  private def robotsEnforceOracleSql: String =
    s"""WITH $urlCanonCtesSql,
       |${robotsDirectivesCtesSql("*")},
       |$robotsEnforceCtesSql
       |SELECT doc_id, url FROM h
       |WHERE doc_id NOT IN (SELECT doc_id FROM verd WHERE rn = 1 AND NOT allow)
       |ORDER BY doc_id""".stripMargin

  /** Politeness schedule replay: per-host row_number waves over
    * (priority DESC, url, doc_id), delay→ms rounded once per host,
    * wave × delay_ms with the 1000 ms default for robots-less hosts.
    */
  private def frontierScheduleOracleSql: String =
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
       |ORDER BY s.doc_id""".stripMargin

  private def urlBlocklistOracleSql: String =
    s"""WITH $urlCanonCtesSql
       |SELECT doc_id, host FROM h
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM (VALUES ('example7.com'), ('media.example11.com'),
       |                        ('example3.com')) b(domain)
       |  -- port-free comparison, mirroring domainChain's port strip
       |  WHERE regexp_replace(h.host, ':[0-9]+$$', '') = b.domain
       |     OR regexp_replace(h.host, ':[0-9]+$$', '') LIKE '%.' || b.domain)
       |ORDER BY doc_id""".stripMargin

  /** Link-graph plant + replay: CTE `lp` (the literal
    * [[plantLinkedPages]] page build over the canonical `k` frame),
    * `hx` (href extraction — all three value-style groups of the same
    * regex [[graft.operators.LinkGraph.HrefRe]], empty
    * non-participating groups filtered), `rx` (resolution: absolute http(s) pass,
    * root-relative against the canonical src's scheme://host prefix,
    * everything else NULL → dropped), `cx` (target canonicalization —
    * the plant's targets are canonical up to scheme/host CASE, the one
    * active term here; the full rule is gated by q_url_canon) and
    * `edges` (distinct, self-loops dropped).
    */
  private def linkEdgesCtesSql: String =
    s"""$urlCanonCtesSql,
       |lp AS (
       |  SELECT doc_id, canon_url,
       |         '<p>intro <a href="HTTPS://HUB' || CAST(doc_id % 13 AS VARCHAR) || '.Example.net/h/' || CAST(doc_id % 5 AS VARCHAR) ||
       |         '">hub</a> <a href="/p/' || CAST((doc_id + 3) % 11 AS VARCHAR) ||
       |         '">next</a> <a href=/q/' || CAST((doc_id + 5) % 7 AS VARCHAR) ||
       |         '>unq</a> <a href=''mailto:x@y''>mail</a> <a href="#top">top</a></p>' AS html
       |  FROM k),
       |hx AS (
       |  SELECT canon_url AS src,
       |         unnest(list_concat(list_concat(
       |           regexp_extract_all(html, '(?i)<a\\b[^>]*\\bhref\\s*=\\s*(?:"([^"]*)"|''([^'']*)''|([^\\s>"''][^\\s>]*))', 1),
       |           regexp_extract_all(html, '(?i)<a\\b[^>]*\\bhref\\s*=\\s*(?:"([^"]*)"|''([^'']*)''|([^\\s>"''][^\\s>]*))', 2)),
       |           regexp_extract_all(html, '(?i)<a\\b[^>]*\\bhref\\s*=\\s*(?:"([^"]*)"|''([^'']*)''|([^\\s>"''][^\\s>]*))', 3))) AS href
       |  FROM lp),
       |rx AS (
       |  SELECT src,
       |         CASE WHEN regexp_matches(href, '^[Hh][Tt][Tt][Pp][Ss]?://') THEN href
       |              WHEN href LIKE '/%' THEN regexp_extract(src, '^([a-z+.-]+://[^/?]*)', 1) || href
       |         END AS abs
       |  FROM hx WHERE href <> ''),
       |cx AS (
       |  SELECT src,
       |         lower(regexp_extract(abs, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1)) ||
       |           regexp_extract(abs, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$$', 1) AS dst
       |  FROM rx WHERE abs IS NOT NULL),
       |edges AS (SELECT DISTINCT src, dst FROM cx WHERE src <> dst)""".stripMargin

  /** One fixed-point PageRank iteration as CTEs (`d`/`c`/`r` + index):
    * the SAME integer formula [[graft.operators.LinkGraph.pagerank]]
    * computes — floor division everywhere, HUGEINT sums cast back to
    * BIGINT so dtypes gate too.
    */
  private def pagerankIterCteSql(i: Int, edgesCte: String = "edges"): String = {
    val p = s"pr${i - 1}"
    s"""d$i AS (SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dang FROM $p WHERE outdeg = 0),
       |c$i AS (SELECT e.dst, CAST(SUM(r.rank // r.outdeg) AS BIGINT) AS contrib
       |        FROM $edgesCte e JOIN $p r ON e.src = r.url WHERE r.outdeg > 0
       |        GROUP BY e.dst),
       |pr$i AS (SELECT nb.url, nb.outdeg,
       |               (15 * (1000000000000 // nn.n)) // 100
       |             + (85 * COALESCE(c$i.contrib, 0)) // 100
       |             + (85 * (d$i.dang // nn.n)) // 100 AS rank
       |        FROM nb CROSS JOIN nn CROSS JOIN d$i
       |        LEFT JOIN c$i ON nb.url = c$i.dst)""".stripMargin
  }

  private def linkPagerankOracleSql: String =
    s"""WITH $linkEdgesCtesSql,
       |nodes AS (SELECT DISTINCT url FROM
       |  (SELECT src AS url FROM edges UNION ALL SELECT dst FROM edges)),
       |odeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |nb AS (SELECT url, COALESCE(outdeg, 0) AS outdeg
       |       FROM nodes LEFT JOIN odeg ON nodes.url = odeg.src),
       |nn AS (SELECT COUNT(*) AS n FROM nb),
       |pr0 AS (SELECT url, outdeg, 1000000000000 // nn.n AS rank
       |        FROM nb CROSS JOIN nn),
       |${pagerankIterCteSql(1)},
       |${pagerankIterCteSql(2)},
       |${pagerankIterCteSql(3)}
       |SELECT url, CAST(rank AS BIGINT) AS rank FROM pr3 ORDER BY url""".stripMargin

  /** One HITS iteration as CTEs: authority = in-summed hubs rescaled
    * to the 10^9 L1 total by floor division, hub = out-summed NEW
    * authorities rescaled likewise — the exact integer arithmetic of
    * [[graft.operators.LinkGraph.hits]], HUGEINT sums cast back at the
    * end.
    */
  private def hitsIterCteSql(i: Int, edgesCte: String = "edges"): String = {
    val p = s"s${i - 1}"
    val T = graft.operators.LinkGraph.HitsTotal
    s"""ar$i AS (SELECT e.dst, CAST(SUM(s.hub) AS BIGINT) AS ra
       |         FROM $edgesCte e JOIN $p s ON e.src = s.url GROUP BY e.dst),
       |at$i AS (SELECT CAST(SUM(ra) AS BIGINT) AS t FROM ar$i),
       |sa$i AS (SELECT s.url, s.hub,
       |               (COALESCE(ar$i.ra, 0) * $T) // at$i.t AS authority
       |         FROM $p s CROSS JOIN at$i
       |         LEFT JOIN ar$i ON s.url = ar$i.dst),
       |hr$i AS (SELECT e.src, CAST(SUM(s.authority) AS BIGINT) AS rh
       |         FROM $edgesCte e JOIN sa$i s ON e.dst = s.url GROUP BY e.src),
       |ht$i AS (SELECT CAST(SUM(rh) AS BIGINT) AS t FROM hr$i),
       |s$i AS (SELECT s.url,
       |              (COALESCE(hr$i.rh, 0) * $T) // ht$i.t AS hub,
       |              s.authority
       |        FROM sa$i s CROSS JOIN ht$i
       |        LEFT JOIN hr$i ON s.url = hr$i.src)""".stripMargin
  }

  private def linkHitsOracleSql: String = {
    val T = graft.operators.LinkGraph.HitsTotal
    s"""WITH $linkEdgesCtesSql,
       |nodes AS (SELECT DISTINCT url FROM
       |  (SELECT src AS url FROM edges UNION ALL SELECT dst FROM edges)),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |s0 AS (SELECT url, $T // nn.n AS hub, $T // nn.n AS authority
       |       FROM nodes CROSS JOIN nn),
       |${hitsIterCteSql(1)},
       |${hitsIterCteSql(2)}
       |SELECT url, CAST(hub AS BIGINT) AS hub,
       |       CAST(authority AS BIGINT) AS authority
       |FROM s2 ORDER BY url""".stripMargin
  }

  /** Host-level HITS replay: the [[linkHostRankOracleSql]] host
    * projection (`hed`) fed through the SAME two unrolled HITS
    * iterations, the edge relation swapped — the sharded-ranking shape
    * the resolution-bound scaladoc prescribes past ~10^9 nodes.
    */
  private def linkHitsHostOracleSql: String = {
    val T = graft.operators.LinkGraph.HitsTotal
    s"""WITH $linkEdgesCtesSql,
       |hed AS (
       |  SELECT DISTINCT regexp_extract(src, '^[a-z+.-]+://([^/?]*)', 1) AS src,
       |         regexp_extract(dst, '^[a-z+.-]+://([^/?]*)', 1) AS dst
       |  FROM edges
       |  WHERE regexp_extract(src, '^[a-z+.-]+://([^/?]*)', 1)
       |     <> regexp_extract(dst, '^[a-z+.-]+://([^/?]*)', 1)),
       |nodes AS (SELECT DISTINCT url FROM
       |  (SELECT src AS url FROM hed UNION ALL SELECT dst FROM hed)),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |s0 AS (SELECT url, $T // nn.n AS hub, $T // nn.n AS authority
       |       FROM nodes CROSS JOIN nn),
       |${hitsIterCteSql(1, "hed")},
       |${hitsIterCteSql(2, "hed")}
       |SELECT url, CAST(hub AS BIGINT) AS hub,
       |       CAST(authority AS BIGINT) AS authority
       |FROM s2 ORDER BY url""".stripMargin
  }

  /** Payload-digest dedup replay: the parsed view reconstructed
    * directly from the plant (wrap→parse is a byte-exact identity,
    * spec-pinned), revisit records dropped, digest-less responses
    * keyed on md5 of their own payload, one survivor per digest by
    * lexicographic-min record id.
    */
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

  private def warcDigestDedupOracleSql: String =
    s"""WITH $warcMixedRecCtesSql
       |SELECT doc_id, url, payload_digest FROM resp
       |QUALIFY row_number() OVER (PARTITION BY dig ORDER BY record_id, url) = 1
       |ORDER BY doc_id""".stripMargin

  /** Digest-gate stream replay: seed digests = responses of docs ≡0
    * mod 3; survivors = streamed responses whose effective digest is
    * not seeded — one anti-join, batching-order free by the
    * against-index contract.
    */
  private def warcDigestStreamOracleSql: String =
    s"""WITH $warcMixedRecCtesSql,
       |sd AS (SELECT DISTINCT dig FROM resp WHERE doc_id % 3 = 0)
       |SELECT doc_id, url FROM resp
       |WHERE doc_id % 3 <> 0 AND dig NOT IN (SELECT dig FROM sd)
       |ORDER BY doc_id""".stripMargin

  /** Fold-back digest-gate replay: stage A (streamed evens) gates
    * against the seed digests only; stage B (streamed odds, arriving
    * after A's fold) gates against seed ∪ A's accepted digests — one
    * survivor per digest across the two batches, while same-digest
    * co-arrivals WITHIN a batch both pass (the documented window).
    */
  private def warcDigestStreamFoldOracleSql: String =
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
       |ORDER BY doc_id""".stripMargin

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

  private def warcRevisitResolveOracleSql: String =
    s"""WITH $warcHistoryCtesSql,
       |reps AS (
       |  SELECT dig, record_id AS original_record_id, url AS original_url
       |  FROM hresp
       |  QUALIFY row_number() OVER (PARTITION BY dig ORDER BY record_id, url) = 1)
       |SELECT r.url, r.record_id, r.dig AS payload_digest,
       |       reps.original_record_id, reps.original_url
       |FROM hrevs r LEFT JOIN reps ON r.dig = reps.dig
       |ORDER BY r.record_id, r.url""".stripMargin

  /** Sitemap-frontier replay: the two unstaged children per index doc
    * ([[plantSitemapIndexPool]]'s missing/missing2), scheduled with
    * the same window arithmetic as [[UrlOps.frontierSchedule]]
    * (per-host row_number over (priority desc, url, key) minus 1;
    * priority constant here so the url order decides).
    */
  private def sitemapFrontierOracleSql: String =
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
       |FROM s ORDER BY child_url""".stripMargin

  /** Frontier-pairs replay (the bare operator face, no schedule): the
    * two unstaged children per index doc, keyed by the index.
    */
  private def sitemapFrontierPairsOracleSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, 'https://sm' || CAST(doc_id AS VARCHAR) ||
       |         '.example.com/sm/missing.xml' AS child_url FROM documents
       |  UNION ALL
       |  SELECT doc_id, 'https://sm' || CAST(doc_id AS VARCHAR) ||
       |         '.example.com/sm/missing2.xml' FROM documents)
       |SELECT doc_id, child_url FROM f ORDER BY doc_id, child_url""".stripMargin

  private def recrawlObservedOracleSql: String =
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
       |FROM sched ORDER BY canon_url""".stripMargin

  /** Host-level PageRank replay: the host projection of the edge list
    * (distinct inter-host pairs — exactly [[graft.operators.LinkGraph
    * .hostGraph]]'s key set) fed through the SAME unrolled fixed-point
    * iterations, `edgesCte` pointed at the host pairs.
    */
  private def linkHostRankOracleSql: String =
    s"""WITH $linkEdgesCtesSql,
       |hed AS (
       |  SELECT DISTINCT regexp_extract(src, '^[a-z+.-]+://([^/?]*)', 1) AS src,
       |         regexp_extract(dst, '^[a-z+.-]+://([^/?]*)', 1) AS dst
       |  FROM edges
       |  WHERE regexp_extract(src, '^[a-z+.-]+://([^/?]*)', 1)
       |     <> regexp_extract(dst, '^[a-z+.-]+://([^/?]*)', 1)),
       |nodes AS (SELECT DISTINCT url FROM
       |  (SELECT src AS url FROM hed UNION ALL SELECT dst FROM hed)),
       |odeg AS (SELECT src, COUNT(*) AS outdeg FROM hed GROUP BY src),
       |nb AS (SELECT url, COALESCE(outdeg, 0) AS outdeg
       |       FROM nodes LEFT JOIN odeg ON nodes.url = odeg.src),
       |nn AS (SELECT COUNT(*) AS n FROM nb),
       |pr0 AS (SELECT url, outdeg, 1000000000000 // nn.n AS rank
       |        FROM nb CROSS JOIN nn),
       |${pagerankIterCteSql(1, "hed")},
       |${pagerankIterCteSql(2, "hed")},
       |${pagerankIterCteSql(3, "hed")}
       |SELECT url, CAST(rank AS BIGINT) AS rank FROM pr3 ORDER BY url""".stripMargin

  /** One SEEDED fixed-point iteration (the personalized-PageRank
    * formula — teleport and dangling shares land only on seed rows,
    * over the seed count `ns.k`); same floor-division discipline as
    * [[pagerankIterCteSql]].
    */
  private def pprIterCteSql(i: Int): String = {
    val p = s"ppr${i - 1}"
    s"""pd$i AS (SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dang FROM $p WHERE outdeg = 0),
       |pc$i AS (SELECT e.dst, CAST(SUM(r.rank // r.outdeg) AS BIGINT) AS contrib
       |        FROM edges e JOIN $p r ON e.src = r.url WHERE r.outdeg > 0
       |        GROUP BY e.dst),
       |ppr$i AS (SELECT sb.url, sb.outdeg, sb.is_seed,
       |               CASE WHEN sb.is_seed = 1
       |                    THEN (15 * (1000000000000 // ns.k)) // 100
       |                       + (85 * (pd$i.dang // ns.k)) // 100
       |                    ELSE 0 END
       |             + (85 * COALESCE(pc$i.contrib, 0)) // 100 AS rank
       |        FROM sb CROSS JOIN ns CROSS JOIN pd$i
       |        LEFT JOIN pc$i ON sb.url = pc$i.dst)""".stripMargin
  }

  private def linkPprOracleSql: String =
    s"""WITH $linkEdgesCtesSql,
       |nodes AS (SELECT DISTINCT url FROM
       |  (SELECT src AS url FROM edges UNION ALL SELECT dst FROM edges)),
       |odeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |sb AS (SELECT url, COALESCE(outdeg, 0) AS outdeg,
       |              CASE WHEN regexp_matches(url, '^https://hub[0-2]\\.')
       |                   THEN 1 ELSE 0 END AS is_seed
       |       FROM nodes LEFT JOIN odeg ON nodes.url = odeg.src),
       |nn AS (SELECT COUNT(*) AS n FROM sb),
       |ns AS (SELECT COUNT(*) AS k FROM sb WHERE is_seed = 1),
       |ppr0 AS (SELECT url, outdeg, is_seed, 1000000000000 // nn.n AS rank
       |        FROM sb CROSS JOIN nn),
       |${pprIterCteSql(1)},
       |${pprIterCteSql(2)},
       |${pprIterCteSql(3)}
       |SELECT url, CAST(rank AS BIGINT) AS rank FROM ppr3 ORDER BY url""".stripMargin

  /** n sequential replace-all passes of the same pattern — the DuckDB
    * replay of a Spark `(1 to n).foldLeft(...)(regexp_replace(...))`
    * chain ('g' = Spark's replace-all default).
    */
  private def duckPasses(expr: String, pattern: String, repl: String,
                         n: Int): String =
    (1 to n).foldLeft(expr)((e, _) =>
      s"regexp_replace($e, '$pattern', '$repl', 'g')")

  /** Relative-href replay: `rl` (the literal [[plantRelPages]] build
    * over the canonical `k` frame), `rhx` (href extraction), `rres`
    * (the three-branch resolution incl. the directory term — the
    * greedy up-to-last-slash dirname, host-root → `/`), `rds`
    * (dot-segment removal as the IDENTICAL pass sequence
    * [[graft.operators.LinkGraph]] runs: trailing fixup, 4× `/./`,
    * 8× pair-collapse, 4× above-root clamp) and the distinct
    * self-loop-dropped edge list. Targets inherit the canonical base,
    * so the case-canonicalization terms are identity here (the full
    * rule is gated by q_url_canon).
    */
  private def linkExtractRelOracleSql: String = {
    val pathExpr =
      """regexp_extract(regexp_replace(abs, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', ''), '^([^?]*)', 1)"""
    val p0 = s"regexp_replace($pathExpr, '(/\\.\\.?)$$', '\\1/')"
    val p1 = duckPasses(p0, "/\\./", "/", 4)
    val p2 = duckPasses(p1, "/[^/]*[^/.][^/]*/\\.\\./", "/", 8)
    val p3 = duckPasses(p2, "^/\\.\\./", "/", 4)
    s"""WITH $urlCanonCtesSql,
       |rl AS (
       |  SELECT doc_id, canon_url,
       |         '<p><a href="a/b' || CAST(doc_id % 7 AS VARCHAR) ||
       |         '.html">down</a> <a href=''../u' || CAST(doc_id % 5 AS VARCHAR) ||
       |         '.html''>up</a> <a href="./s' || CAST(doc_id % 3 AS VARCHAR) ||
       |         '.html">same</a> <a href="x/../y/./c.html">mixed</a> <a href="../../../../clamp.html">clamp</a> <a href=''tel:+15550''>tel</a></p>' AS html
       |  FROM k),
       |rhx AS (
       |  SELECT canon_url AS src,
       |         unnest(list_concat(list_concat(
       |           regexp_extract_all(html, '(?i)<a\\b[^>]*\\bhref\\s*=\\s*(?:"([^"]*)"|''([^'']*)''|([^\\s>"''][^\\s>]*))', 1),
       |           regexp_extract_all(html, '(?i)<a\\b[^>]*\\bhref\\s*=\\s*(?:"([^"]*)"|''([^'']*)''|([^\\s>"''][^\\s>]*))', 2)),
       |           regexp_extract_all(html, '(?i)<a\\b[^>]*\\bhref\\s*=\\s*(?:"([^"]*)"|''([^'']*)''|([^\\s>"''][^\\s>]*))', 3))) AS href
       |  FROM rl),
       |rres AS (
       |  SELECT src,
       |         CASE WHEN regexp_matches(href, '^[Hh][Tt][Tt][Pp][Ss]?://') THEN href
       |              WHEN href LIKE '/%' THEN regexp_extract(src, '^([a-z+.-]+://[^/?]*)', 1) || href
       |              WHEN NOT regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:')
       |                   AND href NOT LIKE '#%' AND href NOT LIKE '?%'
       |                THEN regexp_extract(src, '^([a-z+.-]+://[^/?]*)', 1) ||
       |                     (CASE WHEN regexp_extract(regexp_extract(src, '^[a-z+.-]+://[^/?]*([^?]*)', 1), '^(.*/)', 1) = ''
       |                           THEN '/'
       |                           ELSE regexp_extract(regexp_extract(src, '^[a-z+.-]+://[^/?]*([^?]*)', 1), '^(.*/)', 1) END) || href
       |         END AS abs
       |  FROM rhx WHERE href <> ''),
       |rds AS (
       |  SELECT src,
       |         regexp_extract(abs, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1) ||
       |         $p3 ||
       |         regexp_extract(regexp_replace(abs, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', ''), '(\\?.*)$$', 1) AS dst
       |  FROM rres WHERE abs IS NOT NULL)
       |SELECT DISTINCT src, dst FROM rds WHERE src <> dst
       |ORDER BY src, dst""".stripMargin
  }

  /** Anchor-text replay: `ap` (the literal [[plantAnchorPages]] page
    * build over the canonical `k` frame), `ax` (the three capture
    * groups of [[graft.operators.LinkGraph.AnchorRe]] re-aligned
    * positionally — DuckDB zips same-length unnests in one SELECT, the
    * mirror of the Spark side's `arrays_zip`), `an` (href group
    * coalesce + anchor-text whitespace collapse), `rx`/`cx` (the same
    * resolution + case-canonicalization stages as [[linkEdgesCtesSql]])
    * and the (dst, anchor) source-count rollup.
    */
  private def linkAnchorsCtesSql: String = {
    // plain (non-interpolated) triple quotes: NO escape processing, so
    // single backslashes here arrive in the SQL literally — unlike the
    // s-interpolated CTE bodies, where \\ collapses to \
    val re = """(?i)<a\b[^>]*\bhref\s*=\s*(?:"([^"]*)"|''([^'']*)''|([^\s>"''][^\s>]*))[^>]*>([^<]*)"""
    s"""WITH $urlCanonCtesSql,
       |ap AS (
       |  SELECT doc_id, canon_url,
       |         '<p><a href="HTTPS://HUB' || CAST(doc_id % 13 AS VARCHAR) || '.Example.net/h/' || CAST(doc_id % 5 AS VARCHAR) ||
       |         '">hub  ' || CAST(doc_id % 7 AS VARCHAR) ||
       |         ' page</a> <a href=''/p/' || CAST((doc_id + 3) % 11 AS VARCHAR) ||
       |         '''>next ' || CAST(doc_id % 3 AS VARCHAR) ||
       |         '</a> <a href=/q/' || CAST((doc_id + 5) % 7 AS VARCHAR) ||
       |         '>plain label</a> <a href="/p/0"><b>nested</b> lead run empty</a> <a href=''mailto:x@y''>mail</a></p>' AS html
       |  FROM k),
       |ax AS (
       |  SELECT canon_url AS src,
       |         unnest(regexp_extract_all(html, '$re', 1)) AS g1,
       |         unnest(regexp_extract_all(html, '$re', 2)) AS g2,
       |         unnest(regexp_extract_all(html, '$re', 3)) AS g3,
       |         unnest(regexp_extract_all(html, '$re', 4)) AS g4
       |  FROM ap),
       |an AS (
       |  SELECT src,
       |         CASE WHEN g1 <> '' THEN g1
       |              WHEN g2 <> '' THEN g2 ELSE g3 END AS href,
       |         trim(regexp_replace(g4, '\\s+', ' ', 'g')) AS anchor
       |  FROM ax),
       |arx AS (
       |  SELECT src, anchor,
       |         CASE WHEN regexp_matches(href, '^[Hh][Tt][Tt][Pp][Ss]?://') THEN href
       |              WHEN href LIKE '/%' THEN regexp_extract(src, '^([a-z+.-]+://[^/?]*)', 1) || href
       |         END AS abs
       |  FROM an WHERE href <> '' AND anchor <> ''),
       |acx AS (
       |  SELECT src, anchor,
       |         lower(regexp_extract(abs, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1)) ||
       |           regexp_extract(abs, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$$', 1) AS dst
       |  FROM arx WHERE abs IS NOT NULL),
       |tr AS (SELECT DISTINCT src, dst, anchor FROM acx WHERE src <> dst)""".stripMargin
  }

  private def linkAnchorsOracleSql: String =
    s"""$linkAnchorsCtesSql
       |SELECT dst AS url, anchor, COUNT(*) AS n_srcs FROM tr
       |GROUP BY dst, anchor ORDER BY url, anchor""".stripMargin

  /** Top-label rollup: histogram + the deterministic-mode QUALIFY
    * (count DESC, anchor ASC) — the same total order the Spark
    * window ranks by.
    */
  private def linkAnchorLabelsOracleSql: String =
    s"""$linkAnchorsCtesSql,
       |ahist AS (
       |  SELECT dst, anchor, COUNT(*) AS n_srcs FROM tr GROUP BY dst, anchor)
       |SELECT dst AS url, anchor AS top_anchor, n_srcs FROM ahist
       |QUALIFY row_number() OVER (PARTITION BY dst
       |                           ORDER BY n_srcs DESC, anchor) = 1
       |ORDER BY url""".stripMargin

  /** Per-link rel replay: `rp` (the literal [[plantRelAttrPages]]
    * build), `atx` (per-anchor ATTRIBUTE STRINGS — the patterns
    * interpolate from the SAME Scala constants the operator runs),
    * `ahf` (href value across the three styles + the rel-token scan),
    * the fixture-scope resolution/canonicalization stages, and the
    * (src, dst) collapse with min-as-ANY-followed.
    */
  private def linkRelCtesSql: String = {
    import graft.operators.LinkGraph.{AnchorTagRe, HrefValRe, RelNofollowRe}
    s"""$urlCanonCtesSql,
       |rp AS (
       |  SELECT doc_id, canon_url,
       |         '<p><a href="HTTPS://HUB' || CAST(doc_id % 13 AS VARCHAR) || '.Example.net/h/' || CAST(doc_id % 5 AS VARCHAR) ||
       |         '">hub</a> <a href="/p/' || CAST((doc_id + 3) % 11 AS VARCHAR) ||
       |         '" rel="nofollow">later</a> <a rel=''ugc nofollow'' href=''HTTPS://HUB' || CAST(doc_id % 13 AS VARCHAR) ||
       |         '.Example.net/u/' || CAST(doc_id % 3 AS VARCHAR) ||
       |         '''>ugc</a> <a href=/q/' || CAST((doc_id + 5) % 7 AS VARCHAR) ||
       |         ' rel=nofollow>unq</a> <a href="HTTPS://HUB' || CAST(doc_id % 13 AS VARCHAR) || '.Example.net/h/' || CAST(doc_id % 5 AS VARCHAR) ||
       |         '" rel="nofollow">dup</a> <a href=''mailto:x@y''>mail</a></p>' AS html
       |  FROM k),
       |atx AS (
       |  SELECT canon_url AS src,
       |         unnest(regexp_extract_all(html, ${sqlStr(AnchorTagRe)}, 1)) AS attrs
       |  FROM rp),
       |ahf AS (
       |  SELECT src,
       |         CASE WHEN regexp_extract(attrs, ${sqlStr(HrefValRe)}, 1) <> '' THEN regexp_extract(attrs, ${sqlStr(HrefValRe)}, 1)
       |              WHEN regexp_extract(attrs, ${sqlStr(HrefValRe)}, 2) <> '' THEN regexp_extract(attrs, ${sqlStr(HrefValRe)}, 2)
       |              WHEN regexp_extract(attrs, ${sqlStr(HrefValRe)}, 3) <> '' THEN regexp_extract(attrs, ${sqlStr(HrefValRe)}, 3)
       |         END AS href,
       |         regexp_matches(attrs, ${sqlStr(RelNofollowRe)}) AS nf
       |  FROM atx),
       |arr AS (
       |  SELECT src, nf,
       |         CASE WHEN regexp_matches(href, '^[Hh][Tt][Tt][Pp][Ss]?://') THEN href
       |              WHEN href LIKE '/%' THEN regexp_extract(src, '^([a-z+.-]+://[^/?]*)', 1) || href
       |         END AS abs
       |  FROM ahf WHERE href IS NOT NULL),
       |acn AS (
       |  SELECT src, nf,
       |         lower(regexp_extract(abs, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1)) ||
       |           regexp_extract(abs, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$$', 1) AS dst
       |  FROM arr WHERE abs IS NOT NULL),
       |rel AS (
       |  SELECT src, dst, CAST(min(CAST(nf AS INT)) AS BOOLEAN) AS nofollow
       |  FROM acn WHERE src <> dst GROUP BY src, dst)""".stripMargin
  }

  private def linkRelOracleSql: String =
    s"""WITH $linkRelCtesSql
       |SELECT src, dst, nofollow FROM rel ORDER BY src, dst""".stripMargin

  /** The per-URL reputation report replay: the [[linkRelCtesSql]] rel
    * chain feeds BOTH the in-link/nofollow-share aggregate and (minus
    * nofollow edges) the unrolled fixed-point PageRank; the anchor
    * zip chain of [[linkAnchorsCtesSql]] runs over the SAME `rp` plant
    * for the top-label side; three one-row-per-URL sides join on url.
    */
  private def linkUrlReportOracleSql: String = {
    // raw triple quotes: single backslashes arrive in the SQL literally
    val are = """(?i)<a\b[^>]*\bhref\s*=\s*(?:"([^"]*)"|''([^'']*)''|([^\s>"''][^\s>]*))[^>]*>([^<]*)"""
    s"""WITH $linkRelCtesSql,
       |ina AS (
       |  SELECT dst AS url, COUNT(*) AS n_inlinks,
       |         round(CAST(SUM(CAST(nofollow AS INT)) AS DOUBLE) / COUNT(*), 6) AS nofollow_share
       |  FROM rel GROUP BY dst),
       |fedges AS (SELECT src, dst FROM rel WHERE NOT nofollow),
       |nodes AS (SELECT DISTINCT url FROM
       |  (SELECT src AS url FROM fedges UNION ALL SELECT dst FROM fedges)),
       |odeg AS (SELECT src, COUNT(*) AS outdeg FROM fedges GROUP BY src),
       |nb AS (SELECT url, COALESCE(outdeg, 0) AS outdeg
       |       FROM nodes LEFT JOIN odeg ON nodes.url = odeg.src),
       |nn AS (SELECT COUNT(*) AS n FROM nb),
       |pr0 AS (SELECT url, outdeg, 1000000000000 // nn.n AS rank
       |        FROM nb CROSS JOIN nn),
       |${pagerankIterCteSql(1, "fedges")},
       |${pagerankIterCteSql(2, "fedges")},
       |${pagerankIterCteSql(3, "fedges")},
       |rax AS (
       |  SELECT canon_url AS src,
       |         unnest(regexp_extract_all(html, '$are', 1)) AS g1,
       |         unnest(regexp_extract_all(html, '$are', 2)) AS g2,
       |         unnest(regexp_extract_all(html, '$are', 3)) AS g3,
       |         unnest(regexp_extract_all(html, '$are', 4)) AS g4
       |  FROM rp),
       |ran AS (
       |  SELECT src,
       |         CASE WHEN g1 <> '' THEN g1
       |              WHEN g2 <> '' THEN g2 ELSE g3 END AS href,
       |         trim(regexp_replace(g4, '\\s+', ' ', 'g')) AS anchor
       |  FROM rax),
       |rarx AS (
       |  SELECT src, anchor,
       |         CASE WHEN regexp_matches(href, '^[Hh][Tt][Tt][Pp][Ss]?://') THEN href
       |              WHEN href LIKE '/%' THEN regexp_extract(src, '^([a-z+.-]+://[^/?]*)', 1) || href
       |         END AS abs
       |  FROM ran WHERE href <> '' AND anchor <> ''),
       |racx AS (
       |  SELECT src, anchor,
       |         lower(regexp_extract(abs, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1)) ||
       |           regexp_extract(abs, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$$', 1) AS dst
       |  FROM rarx WHERE abs IS NOT NULL),
       |rtr AS (SELECT DISTINCT src, dst, anchor FROM racx WHERE src <> dst),
       |rhist AS (
       |  SELECT dst, anchor, COUNT(*) AS n_srcs FROM rtr GROUP BY dst, anchor),
       |rlbl AS (
       |  SELECT dst AS url, anchor AS top_anchor FROM rhist
       |  QUALIFY row_number() OVER (PARTITION BY dst
       |                             ORDER BY n_srcs DESC, anchor) = 1)
       |SELECT i.url, CAST(p.rank AS BIGINT) AS rank, i.n_inlinks,
       |       i.nofollow_share, l.top_anchor
       |FROM ina i
       |LEFT JOIN pr3 p ON i.url = p.url
       |LEFT JOIN rlbl l ON i.url = l.url
       |ORDER BY i.url""".stripMargin
  }

  /** Host projection of the edge list — same host regex as
    * [[graft.operators.LinkGraph.hostGraph]] over the replayed edges.
    */
  private def linkHostgraphOracleSql: String =
    s"""WITH $linkEdgesCtesSql,
       |hg AS (
       |  SELECT regexp_extract(src, '^[a-z+.-]+://([^/?]*)', 1) AS src_host,
       |         regexp_extract(dst, '^[a-z+.-]+://([^/?]*)', 1) AS dst_host
       |  FROM edges)
       |SELECT src_host, dst_host, COUNT(*) AS n_links FROM hg
       |WHERE src_host <> dst_host
       |GROUP BY src_host, dst_host ORDER BY src_host, dst_host""".stripMargin

  /** Components as recursive reachability (min reachable canonical URL
    * per node) — the same fixpoint the Spark side's star contraction
    * converges to; O(component²) reach rows are fine at oracle scale
    * and exactly why the engine side contracts stars instead.
    */
  private def linkComponentsOracleSql: String =
    s"""WITH RECURSIVE $linkEdgesCtesSql,
       |und AS (SELECT src AS u, dst AS v FROM edges
       |        UNION SELECT dst, src FROM edges),
       |reach(n, r) AS (
       |  SELECT DISTINCT u, u FROM und
       |  UNION
       |  SELECT reach.n, und.v FROM reach JOIN und ON reach.r = und.u)
       |SELECT n AS url, min(r) AS component FROM reach
       |GROUP BY n ORDER BY url""".stripMargin

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

  /** Mirror-candidate replay: distinct (src host, dst) pairs, the
    * hot-target cut (df > 15 hosts), per-host cold-target counts, the
    * dst-keyed pair join, and the 6-dp-rounded Jaccard band — the same
    * stages as [[graft.operators.LinkGraph.hostSimilarity]].
    */
  private def linkMirrorOracleSql: String =
    s"""WITH $linkEdgesCtesSql,
       |hd AS (SELECT DISTINCT regexp_extract(src, '^[a-z+.-]+://([^/?]*)', 1) AS host, dst
       |       FROM edges),
       |hot AS (SELECT dst FROM hd GROUP BY dst HAVING COUNT(*) > 15),
       |cold AS (SELECT host, dst FROM hd WHERE dst NOT IN (SELECT dst FROM hot)),
       |sizes AS (SELECT host, COUNT(*) AS n FROM cold GROUP BY host),
       |cm AS (SELECT a.host AS host_a, b.host AS host_b, COUNT(*) AS common
       |       FROM cold a JOIN cold b ON a.dst = b.dst AND a.host < b.host
       |       GROUP BY a.host, b.host),
       |j AS (SELECT host_a, host_b,
       |             round(common / (sa.n + sb.n - common), 6) AS jaccard
       |      FROM cm JOIN sizes sa ON cm.host_a = sa.host
       |              JOIN sizes sb ON cm.host_b = sb.host)
       |SELECT host_a, host_b, jaccard FROM j WHERE jaccard >= 0.15
       |ORDER BY host_a, host_b""".stripMargin

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

  private def urlDedupOracleSql: String =
    s"""WITH $urlCanonCtesSql
       |SELECT doc_id, url, canon_url FROM k
       |QUALIFY row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) = 1
       |ORDER BY doc_id""".stripMargin

  /** PII plant + redact replay — oracle for q_pii_redact. The plant
    * construction and the three [[graft.operators.Redaction.DefaultRules]]
    * patterns are duplicated literally; the patterns avoid every
    * Java-vs-RE2 divergence (no lookaround, no backreferences).
    */
  private def piiRedactOracleSql: String = {
    // named lookup, not positional destructure: the oracle replays these
    // three specific rules (the plant only contains them); adding rules to
    // DefaultRules must not crash oracle construction
    val byName = Redaction.DefaultRules.map(r => r._1 -> r._2).toMap
    val (email, phone, ip) = (byName("email"), byName("phone"), byName("ipv4"))
    // counts mirror Redaction.piiCount: each rule counted on the text as
    // already redacted by the rules before it (= actual replacements)
    s"""WITH p AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 3 = 0
       |                THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
       |              WHEN doc_id % 3 = 1
       |                THEN text || ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |                     || ' or 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
       |              ELSE text END AS t
       |  FROM documents),
       |r1 AS (SELECT doc_id, t, regexp_replace(t, '$email', '<EMAIL>', 'g') AS t1 FROM p),
       |r2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '$phone', '<PHONE>', 'g') AS t2 FROM r1)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(t, '$email'))
       |          + len(regexp_extract_all(t1, '$phone'))
       |          + len(regexp_extract_all(t2, '$ip')) AS BIGINT) AS n_pii,
       |       md5(regexp_replace(t2, '$ip', '<IP>', 'g')) AS redacted_hash
       |FROM r2 ORDER BY doc_id""".stripMargin
  }

  /** Exact shingle-join Jaccard pairs — oracle for BOTH q_dedup_jaccard
    * (same algorithm) and q_dedup_minhash (LSH recall-equality proof).
    */
  /** Trigram shingle CTE body (doc_id, s, nsh) — the single source of
    * the shingling convention, shared by every jaccard-family oracle.
    */
  private def shingleCteSql: String =
    """
      |  SELECT doc_id,
      |         unnest(list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1) ])) AS s,
      |         len(list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1) ])) AS nsh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)""".stripMargin

  private def jaccardOracleSql: String =
    s"""WITH sh AS ($shingleCteSql),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
      |         any_value(a.nsh) AS na, any_value(b.nsh) AS nb
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, ROUND(CAST(inter AS DOUBLE)/(na+nb-inter), 6) AS jaccard
      |FROM pairs WHERE CAST(inter AS DOUBLE)/(na+nb-inter) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Bounded-Jaccard replay — oracle for q_dedup_jaccard_bounded. Mirrors
    * [[graft.operators.Dedup.jaccardPairs]] with `maxDf = Some(k)` exactly:
    * shingles with document frequency > k are dropped from the inverted
    * index BEFORE the pair join (so `inter` shrinks) while na/nb stay the
    * full shingle-set sizes — the computed jaccard is a lower bound of the
    * true one and the output is a subset of the exact tier's.
    */
  private def jaccardBoundedPairsCte(maxDf: Int): String =
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

  private def jaccardBoundedOracleSql(maxDf: Int): String =
    s"""WITH ${jaccardBoundedPairsCte(maxDf)}
      |SELECT doc_a, doc_b, jaccard FROM jp ORDER BY doc_a, doc_b""".stripMargin

  /** Transitive closure of the bounded-Jaccard pair graph as a recursive
    * CTE: per-node reachable sets under set-union semantics (terminates —
    * the frontier is deduplicated), component = min reachable id. The
    * Spark side computes the same fixpoint with large-star/small-star
    * rounds ([[graft.operators.Clustering.connectedComponents]]); the
    * oracle's O(component²) row blowup is fine at oracle scale and
    * EXACTLY why the engine side doesn't do it this way.
    */
  private def clustersCte(maxDf: Int): String =
    s"""${jaccardBoundedPairsCte(maxDf)},
      |e AS (SELECT doc_a AS u, doc_b AS v FROM jp
      |      UNION SELECT doc_b, doc_a FROM jp),
      |reach(n, r) AS (
      |  SELECT DISTINCT u, u FROM e
      |  UNION
      |  SELECT reach.n, e.v FROM reach JOIN e ON reach.r = e.u),
      |comp AS (SELECT n, min(r) AS component FROM reach GROUP BY n)""".stripMargin

  private def clustersOracleSql(maxDf: Int): String =
    s"""WITH RECURSIVE ${clustersCte(maxDf)}
      |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      |FROM documents d LEFT JOIN comp c ON d.doc_id = c.n
      |ORDER BY doc_id""".stripMargin

  private def repsOracleSql(maxDf: Int): String =
    s"""WITH RECURSIVE ${clustersCte(maxDf)}
      |SELECT d.doc_id FROM documents d LEFT JOIN comp c ON d.doc_id = c.n
      |WHERE c.n IS NULL OR c.component = d.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Brute-force cosine pairs at 0.45 — oracle for q_embed_neardup (same
    * algorithm) and q_embed_neardup_lsh (LSH recall-equality proof).
    */
  /** The 12-token line planting + line explode shared by the three
    * line-dedup oracles — must stay token-for-token in sync with
    * [[plantedLines]].
    */
  private val plantedLinesCte: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |planted AS (SELECT doc_id,
      |  array_to_string([array_to_string(w[i*12+1:i*12+12], ' ')
      |                   for i in range(0, CAST(CEIL(len(w)/12.0) AS BIGINT))], chr(10)) AS text
      |  FROM w),
      |ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
      |lines AS (SELECT doc_id, generate_subscripts(ls, 1) - 1 AS idx, unnest(ls) AS line FROM ls)""".stripMargin

  /** Intra-doc line-dedup oracle: replay the echo construction (first
    * planted line appended twice), then per-doc first-occurrence
    * collapse reassembled in original order. Shared by the method row
    * and its SQL face.
    */
  private def lineDedupIntraOracleSql: String =
    s"""WITH $plantedLinesCte,
      |mx AS (SELECT doc_id, max(idx) AS mx FROM lines GROUP BY doc_id),
      |echoed AS (
      |  SELECT doc_id, idx, line FROM lines
      |  UNION ALL
      |  SELECT l.doc_id, m.mx + 1, l.line FROM lines l JOIN mx m USING (doc_id) WHERE l.idx = 0
      |  UNION ALL
      |  SELECT l.doc_id, m.mx + 2, l.line FROM lines l JOIN mx m USING (doc_id) WHERE l.idx = 0),
      |k AS (SELECT doc_id, line, min(idx) AS idx FROM echoed GROUP BY doc_id, line)
      |SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Semantic-decontamination oracle: corpus (vec_id ≠ 0 mod 7) vectors
    * with NO benchmark (vec_id = 0 mod 7) cosine neighbor at ≥ 0.45.
    */
  private def semanticDeconOracleSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
      |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |dirty AS (
      |  SELECT DISTINCT a.vec_id
      |  FROM n a JOIN n b ON a.vec_id % 7 <> 0 AND b.vec_id % 7 = 0
      |  WHERE list_sum(list_transform(range(1, len(a.embedding)+1),
      |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |          / (a.nrm * b.nrm) >= 0.45)
      |SELECT vec_id FROM embeddings
      |WHERE vec_id % 7 <> 0 AND vec_id NOT IN (SELECT vec_id FROM dirty)
      |ORDER BY vec_id""".stripMargin

  private def neardupOracleSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
      |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |         list_sum(list_transform(range(1, len(a.embedding)+1),
      |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |           / (a.nrm * b.nrm) AS cos
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, ROUND(cos, 6) AS cos
      |FROM pairs WHERE cos >= 0.45 ORDER BY id_a, id_b""".stripMargin

  /** Full SimHash replay in DuckDB SQL — oracle for q_dedup_simhash.
    * Mirrors [[graft.operators.Dedup.simhash]]/[[graft.operators.Dedup.simhashPairs]]
    * bit-for-bit: token hash = first 64 bits of md5 (hex digits → nibble
    * values), per-bit ±1 votes summed per doc (multiplicity counts), bit
    * set iff the vote is strictly positive, signature packed to a signed
    * BIGINT (bit 63 via the min-Long term), then the same
    * `maxHamming + 1`-segment pigeonhole banding and
    * `bit_count(xor)` Hamming filter.
    */
  private def simhashOracleSql(maxHamming: Int, incremental: Boolean = false,
                               incPredSql: String =
                                 "a.doc_id % 2 = 1 AND b.doc_id % 2 = 0"): String = {
    val nSeg = maxHamming + 1
    val segBits = 64 / nSeg
    // bit k of the 64-bit value lives in hex digit (63-k)/4 (0-based,
    // big-endian nibbles), at position k%4 within the digit
    val votes = (0 until 64).map { k =>
      s"SUM(CASE WHEN ((dg[${(63 - k) / 4 + 1}] >> ${k % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v$k"
    }.mkString(",\n         ")
    val sigBits = (0 until 63).map { k =>
      s"(CASE WHEN v$k > 0 THEN ${1L << k} ELSE 0 END)"
    }.mkString(" + ")
    val sigExpr =
      s"$sigBits + (CASE WHEN v63 > 0 THEN CAST(-9223372036854775807 AS BIGINT) - 1 ELSE CAST(0 AS BIGINT) END)"
    val segExprs = (0 until nSeg).map { j =>
      val width = if (j == nSeg - 1) 64 - j * segBits else segBits
      val mask = if (width >= 64) -1L else (1L << width) - 1
      s"((simhash >> ${j * segBits}) & $mask)"
    }.mkString(", ")
    // self: unordered a<b pairs; incremental: oriented new×index slices
    val (colA, colB, joinPred) =
      if (incremental) ("doc_new", "doc_index", incPredSql)
      else ("doc_a", "doc_b", "a.doc_id < b.doc_id")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |d AS (
       |  SELECT doc_id, [strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 for i in range(1, 17)] AS dg FROM tok),
       |votes AS (
       |  SELECT doc_id,
       |         $votes
       |  FROM d GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigExpr AS simhash FROM votes),
       |seg AS (
       |  SELECT doc_id, simhash, j AS band, ([$segExprs])[j + 1] AS seg
       |  FROM sig, (SELECT unnest(range(0, $nSeg)) AS j) bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS $colA, b.doc_id AS $colB,
       |         a.simhash AS sig_a, b.simhash AS sig_b
       |  FROM seg a JOIN seg b ON a.band = b.band AND a.seg = b.seg AND $joinPred)
       |SELECT $colA, $colB, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= $maxHamming
       |ORDER BY $colA, $colB""".stripMargin
  }

  /** Brute-force cosine top-20 for vec_id 0 — oracle for q_ann_topk (same
    * algorithm) and q_ann_ivf (nProbe = nlist ≡ brute force).
    */
  private def annTopkOracleSql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |scored AS (
      |  SELECT e.vec_id,
      |         list_sum(list_transform(range(1, len(e.embedding)+1),
      |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS d,
      |         sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
      |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS ne,
      |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
      |            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
      |  FROM embeddings e, q)
      |SELECT vec_id, ROUND(d/(ne*nq), 6) AS cos
      |FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 20""".stripMargin

  /** MMR rerank replay: the brute-force top-`kCand` candidate pool (query
    * row excluded), pairwise candidate cosines, then the `kOut` greedy
    * selection steps UNROLLED as a CTE chain (the LTTB-oracle technique —
    * a sequential algorithm replayed as sK/selK stages). All arithmetic
    * mirrors `Ann.mmrTopK` bit-for-bit: left-to-right double dot folds,
    * `CAST(0.7 AS DOUBLE)` for λ (verified bit-identical to the JVM
    * literal), `1−λ` as an explicit double subtraction (0.3 differs from
    * 1.0−0.7 in the last ulp), round-6 before each argmax, vec_id ties.
    */
  private def annMmrOracleSql(kCand: Int, kOut: Int): String = {
    val lam = "CAST(0.7 AS DOUBLE)"
    val mu = s"(CAST(1 AS DOUBLE) - $lam)"
    // every CTE is MATERIALIZED: the selK chain references sel(K-1)
    // multiple times, and DuckDB's default inlining makes the expansion
    // exponential in kOut (measured: minutes at kOut=8; instant
    // materialized)
    val steps = (2 to kOut).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT c.vec_id,
         |         ROUND($lam * c.rawcos - $mu *
         |           (SELECT MAX(p.p) FROM ps p WHERE p.ia = c.vec_id
         |              AND p.ib IN (SELECT vec_id FROM sel${k - 1})), 6) AS mmr
         |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
         |  ORDER BY mmr DESC, c.vec_id ASC LIMIT 1),
         |sel$k AS MATERIALIZED (SELECT vec_id FROM sel${k - 1} UNION ALL SELECT vec_id FROM s$k)""".stripMargin
    }.mkString(",\n")
    val ranks = (1 to kOut).map { k =>
      s"SELECT CAST($k AS BIGINT) AS rank, vec_id, mmr FROM s$k"
    }.mkString("\n  UNION ALL ")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |scored AS (
       |  SELECT e.vec_id, e.embedding,
       |         list_sum(list_transform(range(1, len(e.embedding)+1),
       |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS d,
       |         sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
       |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS ne,
       |         sqrt(list_sum(list_transform(range(1, len(q.qe)+1),
       |            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
       |  FROM embeddings e, q WHERE e.vec_id <> 0),
       |cand AS MATERIALIZED (
       |  SELECT vec_id, embedding, ne, d/(ne*nq) AS rawcos
       |  FROM scored ORDER BY ROUND(d/(ne*nq), 6) DESC, vec_id ASC LIMIT $kCand),
       |ps AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |         list_sum(list_transform(range(1, len(a.embedding)+1),
       |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |           / (a.ne * b.ne) AS p
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |s1 AS MATERIALIZED (SELECT vec_id, ROUND($lam * rawcos, 6) AS mmr
       |       FROM cand ORDER BY mmr DESC, vec_id ASC LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT vec_id FROM s1),
       |$steps
       |SELECT * FROM (
       |  $ranks
       |) ORDER BY rank""".stripMargin
  }

  /** The media aHash bit replay over the planted corpus (re-encodes =
    * one-byte edits at +1000000 ids) up to per-asset signatures `sig` —
    * shared by the self-pair and index-probe media oracles.
    */
  private def mediaSigCte: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(text, 1, 10) || 'q' || substr(text, 12)
      |  FROM documents WHERE doc_id % 25 = 0),
      |m AS (SELECT doc_id, text, len(text) AS n FROM corpus WHERE len(text) > 0),
      |by1 AS (SELECT doc_id, n, text, unnest(range(1, n+1)) AS i FROM m),
      |bv AS (SELECT doc_id, n, (i-1)*64//n AS g,
      |              ascii(substr(text, CAST(i AS INT), 1)) AS v FROM by1),
      |grp AS (SELECT doc_id, g, SUM(v) AS sg, COUNT(*) AS cg, any_value(n) AS n
      |        FROM bv GROUP BY doc_id, g),
      |tot AS (SELECT doc_id, SUM(sg) AS st FROM grp GROUP BY doc_id),
      |bits AS (SELECT g.doc_id, g.g,
      |                CASE WHEN g.sg * g.n > t.st * g.cg THEN 1 ELSE 0 END AS b
      |         FROM grp g JOIN tot t ON g.doc_id = t.doc_id),
      |sig AS (SELECT doc_id,
      |        CAST(SUM(CASE WHEN b = 1 AND g < 63
      |                      THEN (CAST(1 AS BIGINT) << CAST(g AS INT)) ELSE 0 END) AS BIGINT)
      |        + CAST(SUM(CASE WHEN b = 1 AND g = 63
      |                        THEN CAST(-9223372036854775807 AS BIGINT) - 1 ELSE 0 END) AS BIGINT) AS h
      |        FROM bits GROUP BY doc_id)""".stripMargin

  /** Farthest-point traversal unrolled: stage r computes every remaining
    * point's min 6-dp distance to the selected set, takes the (mind DESC,
    * vec_id ASC) head, and appends it. MATERIALIZED for the same
    * exponential-inlining reason as the MMR chain.
    */
  private def kCentersOracleSql(k: Int): String = {
    val steps = (2 to k).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, e.ne,
         |         (SELECT MIN(ROUND(1 - list_sum(list_transform(range(1, len(e.embedding)+1),
         |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
         |            / (e.ne * c.ne), 6))
         |          FROM n c WHERE c.vec_id IN (SELECT vec_id FROM sel${r - 1})) AS mind
         |  FROM n e WHERE e.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
         |  ORDER BY mind DESC, e.vec_id ASC LIMIT 1),
         |sel$r AS MATERIALIZED (SELECT vec_id FROM sel${r - 1} UNION ALL SELECT vec_id FROM s$r)""".stripMargin
    }.mkString(",\n")
    val ranks = (2 to k).map { r =>
      s"SELECT CAST($r AS BIGINT) AS rank, vec_id, mind AS dist FROM s$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH n AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
       |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS ne
       |  FROM embeddings
       |  WHERE list_sum(list_transform(range(1, len(embedding)+1),
       |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) > 0),
       |s1 AS MATERIALIZED (SELECT vec_id FROM n ORDER BY vec_id ASC LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT vec_id FROM s1),
       |$steps
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS rank, (SELECT vec_id FROM s1) AS vec_id,
       |         CAST(NULL AS DOUBLE) AS dist
       |  UNION ALL $ranks
       |) ORDER BY rank""".stripMargin
  }

  /** Top-30 full-corpus vocabulary (tf, doc-distinct df; tf DESC, token
    * ASC) — shared by the incremental-index and streaming-index rows.
    */
  private def vocabTop30OracleSql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
      |FROM t GROUP BY token ORDER BY tf DESC, token ASC LIMIT 30""".stripMargin

  /** CTE chain producing `nbsc(doc_id, score, pred)` — the NB replay
    * (train on doc_id % 5 <> 0, pos = lang = 'en') scoring the docs
    * selected by `evalPredSql`. Shared by the classifier rows and the
    * curate-v2 composition (which scores the WHOLE corpus).
    */
  private def nbScoredCtesSql(evalPredSql: String): String =
    s"""tr AS (SELECT lang = 'en' AS pos, string_split(text, ' ') AS w
      |            FROM documents WHERE doc_id % 5 <> 0),
      |tok AS (SELECT pos, unnest(w) AS t FROM tr),
      |cnt AS (SELECT t, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
      |               SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cn
      |        FROM tok GROUP BY t),
      |tot AS (SELECT SUM(cp) AS np, SUM(cn) AS nn, COUNT(*) AS v FROM cnt),
      |dts AS (SELECT SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS dp,
      |               SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS dn FROM tr),
      |ev AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |       FROM documents WHERE $evalPredSql),
      |sc AS (SELECT e.doc_id,
      |         ln(CAST(COALESCE(c.cp, 0) + 1 AS DOUBLE) / (tot.np + tot.v)) -
      |         ln(CAST(COALESCE(c.cn, 0) + 1 AS DOUBLE) / (tot.nn + tot.v)) AS w
      |       FROM ev e LEFT JOIN cnt c ON e.t = c.t CROSS JOIN tot),
      |agg AS (SELECT doc_id, SUM(w) AS sw FROM sc GROUP BY doc_id),
      |nbsc AS (
      |  SELECT d.doc_id,
      |       ROUND(ln(CAST(dts.dp + 1 AS DOUBLE) / (dts.dn + 1)) + COALESCE(a.sw, 0), 4) AS score,
      |       ROUND(ln(CAST(dts.dp + 1 AS DOUBLE) / (dts.dn + 1)) + COALESCE(a.sw, 0), 4) > 0 AS pred
      |  FROM (SELECT doc_id FROM documents WHERE $evalPredSql) d
      |  LEFT JOIN agg a USING (doc_id) CROSS JOIN dts)""".stripMargin

  /** NB quality-classifier replay scoring the held-out slice. Shared by
    * q_quality_classifier, q_quality_model_idx and q_sql_quality.
    */
  private def nbQualityOracleSql: String =
    s"""WITH ${nbScoredCtesSql("doc_id % 5 = 0")}
      |SELECT doc_id, score, pred FROM nbsc ORDER BY doc_id""".stripMargin

  /** Curate-v2 replay: NB gate (whole-corpus scoring) → UniMax
    * water-filling over the survivors → bucketed batching, score joined
    * back — the three operator replays chained verbatim.
    */
  private def curateV2OracleSql: String =
    s"""WITH ${nbScoredCtesSql("1 = 1")},
       |surv AS (SELECT d.doc_id, d.text, d.lang FROM documents d
       |         JOIN nbsc ON d.doc_id = nbsc.doc_id AND nbsc.score > 0),
       |counts AS (SELECT lang, COUNT(*) AS c FROM surv GROUP BY lang),
       |bud AS (SELECT COUNT(*) * 3 // 5 AS budget FROM surv),
       |caps AS (SELECT lang, CAST(FLOOR(c * 1.0) AS BIGINT) AS capl FROM counts),
       |rk AS (SELECT lang, capl,
       |        ROW_NUMBER() OVER (ORDER BY capl, lang) AS k,
       |        COALESCE(SUM(capl) OVER (ORDER BY capl, lang
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
       |       FROM caps),
       |lt AS (SELECT COUNT(*) AS l FROM counts),
       |g AS (SELECT rk.lang, rk.capl, rk.k, rk.s, lt.l, bud.budget,
       |             (rk.capl * (lt.l - rk.k + 1) + rk.s <= bud.budget) AS fl
       |      FROM rk CROSS JOIN lt CROSS JOIN bud),
       |ks AS (SELECT COALESCE(MAX(CASE WHEN fl THEN k END), 0) AS kstar,
       |              COALESCE(SUM(CASE WHEN fl THEN capl END), 0) AS sk,
       |              MAX(l) AS l, MAX(budget) AS budget FROM g),
       |quotas AS (SELECT g.lang,
       |            CASE WHEN g.k <= ks.kstar THEN g.capl
       |                 ELSE (ks.budget - ks.sk) // GREATEST(ks.l - ks.kstar, 1) END AS quota
       |           FROM g CROSS JOIN ks),
       |wb AS (SELECT doc_id, lang, ${md5BucketSql("unimax", "doc_id")} AS b FROM surv),
       |selu AS (SELECT doc_id, lang,
       |          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY b, doc_id) AS rn FROM wb),
       |picked AS (SELECT s.doc_id FROM selu s JOIN quotas q USING (lang)
       |           WHERE s.rn <= q.quota),
       |t AS (SELECT sv.doc_id,
       |        CAST(len(string_split(sv.text, ' ')) AS BIGINT) AS n_tokens,
       |        ${md5BucketSql("batch", "sv.doc_id")} AS sk2
       |      FROM surv sv JOIN picked USING (doc_id)),
       |b2 AS (SELECT doc_id, n_tokens, n_tokens // 16 AS len_bucket, sk2,
       |             CAST(sk2 % 4 AS INT) AS shard FROM t),
       |r2 AS (SELECT doc_id, n_tokens, len_bucket, shard, sk2,
       |        (ROW_NUMBER() OVER (PARTITION BY len_bucket, shard
       |           ORDER BY sk2, doc_id) - 1) // 8 AS seq
       |      FROM b2)
       |SELECT r2.doc_id, r2.n_tokens, r2.len_bucket, r2.shard,
       |       CAST(r2.len_bucket * 4294967296 + r2.shard * 1048576 + r2.seq AS BIGINT) AS batch_id,
       |       nbsc.score
       |FROM r2 JOIN nbsc ON r2.doc_id = nbsc.doc_id
       |ORDER BY r2.doc_id""".stripMargin

  /** BPE training replay: the full k-iteration loop (word histogram →
    * pair counts → argmax merge → greedy apply) unrolled as CTE stages.
    * The symbol encoding (`<a><b>` wrapping) and the literal-`replace`
    * greedy merge are the same construction as `BpeTokenizer` — replace
    * semantics (left-to-right, non-overlapping) agree across the JVM and
    * DuckDB, which is what makes the sequential algorithm replayable.
    * `encode = true` emits per-doc post-merge token counts instead of the
    * merge table (token count = '<' count after applying all k merges).
    */
  private def bpeOracleSql(k: Int, mode: String): String = {
    val encode = mode != "train"
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT regexp_replace(t, '(.)', '<\1>', 'g') AS syms, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE regexp_matches(t, '^[a-z]+$')
        |  GROUP BY 1)""".stripMargin
    val iters = (1 to k).map { i =>
      val apply =
        if (i == k && !encode) "" // the last post-merge histogram is unused
        else
          s""",
             |w$i AS MATERIALIZED (
             |  SELECT replace(w.syms, '<' || b.s1 || '><' || b.s2 || '>',
             |                 '<' || b.s1 || b.s2 || '>') AS syms, w.freq
             |  FROM w${i - 1} w CROSS JOIN b$i b)""".stripMargin
      s"""p$i AS MATERIALIZED (
         |  SELECT s1, s2, SUM(freq) AS f FROM (
         |    SELECT freq, unnest(l[1:len(l)-1]) AS s1, unnest(l[2:len(l)]) AS s2
         |    FROM (SELECT freq, string_split(substr(syms, 2, len(syms) - 2), '><') AS l
         |          FROM w${i - 1}))
         |  GROUP BY s1, s2),
         |b$i AS MATERIALIZED (
         |  SELECT s1, s2, f FROM p$i ORDER BY f DESC, s1 ASC, s2 ASC LIMIT 1)$apply""".stripMargin
    }.mkString(",\n")
    val finalSel = mode match {
      case "train" =>
        val rows = (1 to k).map { i =>
          s"SELECT CAST($i AS BIGINT) AS step, s1 AS lhs, s2 AS rhs, CAST(f AS BIGINT) AS freq FROM b$i"
        }.mkString("\n  UNION ALL ")
        s"SELECT * FROM (\n  $rows\n) ORDER BY step"
      case enc @ ("encode" | "fertility") =>
        val chain = (1 to k).foldLeft("regexp_replace(t, '(.)', '<\\1>', 'g')") {
          case (acc, i) =>
            s"replace($acc, '<' || b$i.s1 || '><' || b$i.s2 || '>', '<' || b$i.s1 || b$i.s2 || '>')"
        }
        val joins = (1 to k).map(i => s"CROSS JOIN b$i").mkString(" ")
        if (enc == "encode")
          s"""SELECT doc_id,
             |       CAST(SUM(len(m) - len(replace(m, '<', ''))) AS BIGINT) AS n_tokens
             |FROM (
             |  SELECT doc_id, $chain AS m
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
             |  $joins)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin
        else
          s"""SELECT lang,
             |       CAST(SUM(len(m) - len(replace(m, '<', ''))) AS BIGINT) AS n_bpe,
             |       CAST(COUNT(*) AS BIGINT) AS n_words,
             |       ROUND(CAST(SUM(len(m) - len(replace(m, '<', ''))) AS DOUBLE) / COUNT(*), 6) AS fertility
             |FROM (
             |  SELECT lang, $chain AS m
             |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
             |  $joins)
             |GROUP BY lang ORDER BY lang""".stripMargin
    }
    s"WITH $w0,\n$iters\n$finalSel"
  }

  /** SQ8 replay: per-vector [mn, mx] int8 quantization, decode, then the
    * brute-force cosine — the same op order as `Ann.sq8Quant`/`sq8Dequant`
    * (floor((x−mn)/(mx−mn)·255 + 0.5), then mn + q/255·(mx−mn), all in
    * double), so the hash match covers the code path bit-for-bit.
    */
  private def annTopkSq8OracleSql: String =
    """WITH mm AS (
      |  SELECT vec_id, embedding,
      |         CAST(list_min(embedding) AS DOUBLE) AS mn,
      |         CAST(list_max(embedding) AS DOUBLE) AS mx
      |  FROM embeddings),
      |d AS (
      |  SELECT vec_id,
      |         CASE WHEN mx > mn THEN
      |           list_transform(embedding,
      |             x -> mn + FLOOR((CAST(x AS DOUBLE) - mn)/(mx - mn)*255 + 0.5)/255*(mx - mn))
      |         ELSE list_transform(embedding, x -> mn) END AS dq
      |  FROM mm),
      |n AS (SELECT vec_id, dq,
      |             sqrt(list_sum(list_transform(dq, x -> x*x))) AS nrm FROM d),
      |q AS (SELECT dq AS qe, nrm AS qn FROM n WHERE vec_id = 0)
      |SELECT e.vec_id,
      |       ROUND(list_sum(list_transform(range(1, len(e.dq)+1),
      |          i -> e.dq[i] * q.qe[i])) / (e.nrm * q.qn), 6) AS cos
      |FROM n e, q
      |ORDER BY cos DESC, vec_id ASC LIMIT 20""".stripMargin

  /** Brute-force cosine pairs at 0.8 over the planted-duplicate corpus —
    * oracle for q_embed_neardup_lsh. Same construction as the Spark side:
    * every 50th vector duplicated under an offset id.
    */
  private def lshPlantedOracleSql: String =
    """WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
      |n AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
      |            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM corpus),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |         list_sum(list_transform(range(1, len(a.embedding)+1),
      |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |           / (a.nrm * b.nrm) AS cos
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, ROUND(cos, 6) AS cos
      |FROM pairs WHERE cos >= 0.8 ORDER BY id_a, id_b""".stripMargin

  private def langIdSql: String = {
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

  private def timeWeightSql(termSql: String): String = {
    val w = (E1 - S1) / 100
    s"""$Cte, scanned AS (
       |  SELECT ${bucketSql(w)} AS time_s, epoch_us("timestamp") AS t, measurement_number AS v
       |  FROM conditions WHERE $ScanPred),
       |paired AS (
       |  SELECT time_s, t, v,
       |         lead(t) OVER (PARTITION BY time_s ORDER BY t) AS nt,
       |         lead(v) OVER (PARTITION BY time_s ORDER BY t) AS nv
       |  FROM scanned)
       |SELECT time_s,
       |       ROUND(CASE WHEN MAX(t) = MIN(t) THEN arg_min(v, t)
       |             ELSE SUM(CASE WHEN nt IS NULL THEN 0 ELSE $termSql END)
       |                  / ((MAX(t) - MIN(t))/1000000.0) END, 6) AS time_weighted_value
       |FROM paired GROUP BY time_s ORDER BY time_s""".stripMargin
  }

  private def changepointsSql: String =
    s"""$Cte
       |SELECT epoch_us("timestamp") AS ts_us, measurement_subject, measurement_of, measurement_string
       |FROM (SELECT *, lag(measurement_string) OVER (PARTITION BY measurement_subject ORDER BY "timestamp") AS prev
       |      FROM conditions WHERE $ScanPred)
       |WHERE measurement_string IS DISTINCT FROM prev ORDER BY ts_us""".stripMargin
}
