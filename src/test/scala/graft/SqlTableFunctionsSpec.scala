package graft

import graft.functions.{Asap, TimeWeight}
import graft.queries.TimeseriesQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** SQL-path ≡ method-path for all nine dashboard table functions: the SQL
  * builder hands the analyzer the Scala method's own logical plan, so any
  * drift would be a registration bug — which is exactly what this spec
  * pins, together with the literal-argument and arity error contracts.
  */
class SqlTableFunctionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftFunctions.register(s)
    conditions(s).createOrReplaceTempView(SqlTableFunctions.ConditionsRelation)
    s
  }

  private val T0 = 1704240000L // 2024-01-03T00:00:00Z
  private val T1 = T0 + 6 * 3600

  /** Two subjects × (numeric metric "m", string metric "state") over six
    * hours — enough rows that every function returns a non-trivial result.
    */
  private def conditions(s: SparkSession): DataFrame = {
    import s.implicits._
    val rows = for {
      subj <- Seq("s1", "s2")
      i <- 0 until 200
    } yield {
      val t = ts(i * 108L + (if (subj == "s2") 17 else 0))
      if (i % 4 == 3)
        (t, subj, "state", None: Option[Double], Some(Seq("on", "on", "off")(i % 3)))
      else
        (t, subj, "m", Some((i % 13) * 0.5 + (if (subj == "s2") 2.0 else 0.0)), None: Option[String])
    }
    rows.toDF("timestamp", "measurement_subject", "measurement_of",
      "measurement_number", "measurement_string")
  }

  private def ts(offsetS: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(T0 + offsetS))

  private def assertSame(sql: String, method: DataFrame): Unit = {
    val viaSql = spark.sql(sql)
    assert(viaSql.columns.toSeq == method.columns.toSeq,
      s"column mismatch for: $sql")
    assert(viaSql.collect().toSeq == method.collect().toSeq,
      s"row mismatch for: $sql")
  }

  private def cond: DataFrame = spark.table(SqlTableFunctions.ConditionsRelation)

  test("graft_aggregated_data ≡ aggregatedData") {
    assertSame(
      s"SELECT * FROM graft_aggregated_data('s1', 'm', $T0, $T1, 50)",
      TimeseriesQueries.aggregatedData(cond, "s1", "m", T0, T1, 50))
  }

  test("graft_aggregated_data_by_interval ≡ aggregatedDataByInterval") {
    assertSame(
      s"SELECT * FROM graft_aggregated_data_by_interval('s1', 'm', $T0, $T1, 900)",
      TimeseriesQueries.aggregatedDataByInterval(cond, "s1", "m", T0, T1, 900))
  }

  test("graft_aggregated_data_by_day ≡ aggregatedDataByDay (≤1-day branch)") {
    assertSame(
      s"SELECT * FROM graft_aggregated_data_by_day('s1', 'm', $T0, $T1)",
      TimeseriesQueries.aggregatedDataByDay(cond, "s1", "m", T0, T1))
  }

  test("graft_most_frequent_value_by_interval ≡ mostFrequentValueByInterval") {
    assertSame(
      s"SELECT * FROM graft_most_frequent_value_by_interval('s1', 'state', $T0, $T1)",
      TimeseriesQueries.mostFrequentValueByInterval(cond, "s1", "state", T0, T1))
  }

  test("graft_sampled_data ≡ Asap.sampledData") {
    assertSame(
      s"SELECT * FROM graft_sampled_data('s1', 'm', $T0, $T1, 20)",
      Asap.sampledData(spark, cond, "s1", "m", T0, T1, 20))
  }

  test("graft_sampled_data_with_time_weight ≡ TimeWeight (both methods)") {
    assertSame(
      s"SELECT * FROM graft_sampled_data_with_time_weight('s1', 'm', $T0, $T1, 'linear', 20)",
      TimeWeight.sampledDataWithTimeWeight(cond, "s1", "m", T0, T1, TimeWeight.Linear, 20))
    assertSame(
      s"SELECT * FROM graft_sampled_data_with_time_weight('s1', 'm', $T0, $T1, 'locf', 20)",
      TimeWeight.sampledDataWithTimeWeight(cond, "s1", "m", T0, T1, TimeWeight.Locf, 20))
  }

  test("graft_unique_measurement_subjects ≡ uniqueMeasurementSubjects (reference arg order)") {
    assertSame(
      s"SELECT * FROM graft_unique_measurement_subjects($T0, $T1, 'm')",
      TimeseriesQueries.uniqueMeasurementSubjects(cond, "m", T0, T1))
  }

  test("graft_filter_unchanged_rows ≡ filterUnchangedRows") {
    assertSame(
      s"SELECT * FROM graft_filter_unchanged_rows('s1', 'state', $T0, $T1)",
      TimeseriesQueries.filterUnchangedRows(cond, "s1", "state", T0, T1))
  }

  test("graft_format_time_intervals ≡ formatTimeIntervals") {
    assertSame(
      s"SELECT * FROM graft_format_time_intervals('s1', 'state', $T0, $T1, $T1)",
      TimeseriesQueries.formatTimeIntervals(cond, "s1", "state", T0, T1, T1))
  }

  test("graft_sax ≡ saxSymbols") {
    assertSame(
      s"SELECT * FROM graft_sax('m', $T0, $T1, 900)",
      TimeseriesQueries.saxSymbols(cond, "m", T0, T1, 900))
  }

  test("graft_ewma ≡ ewmaSmooth; graft_cusum ≡ cusumDrift") {
    assertSame(
      s"SELECT * FROM graft_ewma('m', $T0, $T1, 8)",
      TimeseriesQueries.ewmaSmooth(cond, "m", T0, T1, 8))
    assertSame(
      s"SELECT * FROM graft_cusum('m', $T0, $T1, 300, 50, 400)",
      TimeseriesQueries.cusumDrift(cond, "m", T0, T1, 300, 50, 400))
  }

  test("graft_rag_retrieve_docs ≡ Rag.retrieveDocs") {
    registerCorpus()
    assertSame("SELECT * FROM graft_rag_retrieve_docs('table scan hash join', 5)",
      graft.operators.Rag.retrieveDocs(
        spark.table(SqlTableFunctions.DocumentsRelation),
        "table scan hash join", 5))
  }

  test("graft_kcenters ≡ Ann.kCenters; graft_rag_retrieve ≡ Rag.retrieveChunks") {
    registerCorpus()
    assertSame("SELECT * FROM graft_kcenters(4)",
      graft.operators.Ann.kCenters(
        spark.table(SqlTableFunctions.EmbeddingsRelation), 4))
    assertSame("SELECT * FROM graft_rag_retrieve('table scan hash join', 5)",
      graft.operators.Rag.retrieveChunks(
        spark.table(SqlTableFunctions.DocumentsRelation),
        "table scan hash join", 5))
  }

  test("graft_counter_agg ≡ counterAgg") {
    assertSame(
      s"SELECT * FROM graft_counter_agg('m', $T0, $T1, 900)",
      TimeseriesQueries.counterAgg(cond, "m", T0, T1, 900))
  }

  test("graft_gauge_agg ≡ gaugeAgg; graft_counter_idelta ≡ counterIdelta") {
    assertSame(
      s"SELECT * FROM graft_gauge_agg('m', $T0, $T1, 900)",
      TimeseriesQueries.gaugeAgg(cond, "m", T0, T1, 900))
    assertSame(
      s"SELECT * FROM graft_counter_idelta('m', $T0, $T1, 900)",
      TimeseriesQueries.counterIdelta(cond, "m", T0, T1, 900))
  }

  test("graft_m4 ≡ m4Downsample") {
    assertSame(
      s"SELECT * FROM graft_m4('m', $T0, $T1, 900)",
      TimeseriesQueries.m4Downsample(cond, "m", T0, T1, 900))
  }

  test("graft_interpolated_average ≡ interpolatedTimeWeight") {
    assertSame(
      s"SELECT * FROM graft_interpolated_average('m', $T0, $T1, 900)",
      TimeseriesQueries.interpolatedTimeWeight(cond, "m", T0, T1, 900))
  }

  test("table functions compose with ordinary SQL around them") {
    val n = spark.sql(
      s"""SELECT count(*) AS n FROM (
         |  SELECT * FROM graft_aggregated_data_by_interval('s1', 'm', $T0, $T1, 900)
         |  WHERE avg_measurement_number IS NOT NULL)""".stripMargin)
      .head().getLong(0)
    assert(n > 0)
  }

  test("wrong arity fails with the usage string") {
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_aggregated_data('s1', 'm', $T0)").collect()
    }
    assert(e.getMessage.contains("expects 5 arguments"))
    assert(e.getMessage.contains("usage:"))
  }

  test("non-literal argument is rejected") {
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_unique_measurement_subjects($T0, $T1, CAST(rand() AS STRING))").collect()
    }
    assert(e.getMessage.contains("must be a literal"))
  }

  test("unknown time-weight method names both expected values") {
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_sampled_data_with_time_weight('s1', 'm', $T0, $T1, 'cubic', 20)")
        .collect()
    }
    assert(e.getMessage.contains("linear|locf"))
  }
  // ---- pipeline functions over the documents/embeddings relations ----

  private def registerCorpus(): Unit = {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView(SqlTableFunctions.DocumentsRelation)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView(SqlTableFunctions.EmbeddingsRelation)
  }

  test("graft_token_count ≡ TextAnalysis.tokenCount") {
    registerCorpus()
    assertSame("SELECT * FROM graft_token_count()",
      graft.operators.TextAnalysis.tokenCount(
        spark.table(SqlTableFunctions.DocumentsRelation)))
  }

  test("graft_lang_id ≡ TextAnalysis.langId") {
    registerCorpus()
    assertSame("SELECT * FROM graft_lang_id()",
      graft.operators.TextAnalysis.langId(
        spark.table(SqlTableFunctions.DocumentsRelation)))
  }

  test("graft_link_edges/graft_link_pagerank ≡ LinkGraph method paths") {
    import spark.implicits._
    Seq(
      ("http://a.com/1", "<a href=\"HTTPS://B.com/x\">b</a><a href='/n'>n</a>"),
      ("http://b.com/x", "<a href=\"http://a.com/1\">a</a>"))
      .toDF("url", "html")
      .createOrReplaceTempView(SqlTableFunctions.LinkPagesRelation)
    val pages = spark.table(SqlTableFunctions.LinkPagesRelation)
    assertSame("SELECT * FROM graft_link_edges() ORDER BY src, dst",
      graft.operators.LinkGraph.extractLinks(pages, "url", "html")
        .orderBy("src", "dst"))
    assertSame("SELECT * FROM graft_link_pagerank(2, 85) ORDER BY url",
      graft.operators.LinkGraph.pagerank(
          graft.operators.LinkGraph.extractLinks(pages, "url", "html"),
          iters = 2, dampingPct = 85)
        .orderBy("url"))
  }

  test("graft_ccnet ≡ TextAnalysis.ccnetBuckets (both tiers)") {
    registerCorpus()
    import org.apache.spark.sql.functions.col
    val docs = spark.table(SqlTableFunctions.DocumentsRelation)
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val ref = docs.filter(col("doc_id") % 7 === 0)
    assertSame("SELECT * FROM graft_ccnet(7, 'exact')",
      graft.operators.TextAnalysis.ccnetBuckets(corpus, ref))
    assertSame("SELECT * FROM graft_ccnet(7, 'approx')",
      graft.operators.TextAnalysis.ccnetBucketsApprox(corpus, ref))
  }

  test("graft_gopher/fim/corpus_report/contamination_report ≡ method paths") {
    registerCorpus()
    import org.apache.spark.sql.functions.col
    val docs = spark.table(SqlTableFunctions.DocumentsRelation)
    assertSame("SELECT * FROM graft_gopher(50, 100000)",
      graft.operators.TextAnalysis.gopherRules(docs, 50, 100000))
    assertSame("SELECT * FROM graft_fim(12, 0.5)",
      graft.operators.Packing.fimExamples(docs, 12, 0.5))
    assertSame("SELECT * FROM graft_corpus_report()",
      graft.operators.TextAnalysis.corpusReport(docs))
    assertSame("SELECT * FROM graft_contamination_report(7, 5)",
      graft.operators.Decontamination.contaminationReport(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), 5))
  }

  test("graft_novelty ≡ TextAnalysis.ngramNovelty") {
    registerCorpus()
    assertSame("SELECT * FROM graft_novelty(3)",
      graft.operators.TextAnalysis.ngramNovelty(
        spark.table(SqlTableFunctions.DocumentsRelation)))
  }

  test("graft_keep_best ≡ Clustering.keepBest composition") {
    registerCorpus()
    val docs = spark.table(SqlTableFunctions.DocumentsRelation)
    assertSame("SELECT * FROM graft_keep_best(10) ORDER BY doc_id",
      graft.operators.Clustering.keepBest(docs,
        graft.operators.Dedup.jaccardPairs(docs, n = 3, threshold = 0.8,
          maxDf = Some(10)),
        graft.operators.TextAnalysis.qualityScore(docs)).orderBy("doc_id"))
  }

  test("graft_dsir ≡ QualityModels.dsirWeights") {
    registerCorpus()
    import org.apache.spark.sql.functions.col
    assertSame("SELECT * FROM graft_dsir('en', 25)",
      graft.operators.QualityModels.dsirWeights(
        spark.table(SqlTableFunctions.DocumentsRelation),
        col("lang") === "en", topN = 25))
  }

  test("graft_bpe_train ≡ BpeTokenizer.train") {
    registerCorpus()
    assertSame("SELECT * FROM graft_bpe_train(3)",
      graft.operators.BpeTokenizer.train(
        spark.table(SqlTableFunctions.DocumentsRelation), k = 3))
  }

  test("graft_media_neardup ≡ Multimodal.mediaNearDupPairs") {
    registerCorpus()
    assertSame("SELECT * FROM graft_media_neardup(4)",
      graft.operators.Multimodal.mediaNearDupPairs(
        graft.operators.Multimodal.fromDocuments(
          spark.table(SqlTableFunctions.DocumentsRelation)), maxHamming = 4))
  }

  test("graft_ann_topk ≡ Ann.topK") {
    registerCorpus()
    assertSame("SELECT * FROM graft_ann_topk(0, 10)",
      graft.operators.Ann.topK(
        spark.table(SqlTableFunctions.EmbeddingsRelation), queryId = 0, k = 10))
  }

  test("graft_epoch_shuffle ≡ Sampling.epochShuffle") {
    registerCorpus()
    assertSame("SELECT * FROM graft_epoch_shuffle(42, 1, 7)",
      graft.operators.Sampling.epochShuffle(
        spark.table(SqlTableFunctions.DocumentsRelation),
        seed = 42, epoch = 1, numShards = 7))
  }

  test("graft_bm25 ≡ TextAnalysis.bm25TopK") {
    registerCorpus()
    assertSame("SELECT * FROM graft_bm25('spark window merge vector', 10)",
      graft.operators.TextAnalysis.bm25TopK(
        spark.table(SqlTableFunctions.DocumentsRelation),
        "spark window merge vector", k = 10))
  }

  test("graft_ivf_topk ≡ Ann.ivfTopKAgainstIndex over a persisted index") {
    registerCorpus()
    graft.operators.Ann.writeIvfIndex(
      spark.table(SqlTableFunctions.EmbeddingsRelation), "sql_fn_ivf_idx", nlist = 4)
    try assertSame("SELECT * FROM graft_ivf_topk('sql_fn_ivf_idx', 0, 10, 4)",
      graft.operators.Ann.ivfTopKAgainstIndex(spark, "sql_fn_ivf_idx",
        queryId = 0L, k = 10, nProbe = 4))
    finally {
      spark.sql("DROP TABLE IF EXISTS sql_fn_ivf_idx")
      spark.sql("DROP TABLE IF EXISTS sql_fn_ivf_idx_centroids")
    }
  }

  test("graft_training_export ≡ CorpusCuration.trainingExport") {
    registerCorpus()
    val docs = spark.table(SqlTableFunctions.DocumentsRelation)
    docs.filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0)
      .createOrReplaceTempView("spec_bench_slice")
    assertSame("SELECT * FROM graft_training_export('spec_bench_slice', 42, 1, 5)",
      graft.operators.CorpusCuration.trainingExport(docs,
        spark.table("spec_bench_slice"), seed = 42, epoch = 1, numShards = 5))
  }

  test("graft_ohlc ≡ ohlcBars") {
    assertSame(s"SELECT * FROM graft_ohlc('m', $T0, $T1, 3600)",
      TimeseriesQueries.ohlcBars(cond, "m", T0, T1, widthS = 3600))
  }

  test("graft_heartbeat_uptime ≡ heartbeatUptime") {
    assertSame(s"SELECT * FROM graft_heartbeat_uptime('m', $T0, $T1, 600)",
      TimeseriesQueries.heartbeatUptime(cond, "m", T0, T1, heartbeatS = 600))
  }

  test("graft_gapfill ≡ gapfill (both methods); unknown method errors") {
    assertSame(s"SELECT * FROM graft_gapfill('m', $T0, $T1, 3600, 'locf')",
      TimeseriesQueries.gapfill(cond, "m", T0, T1, 3600, graft.queries.GapfillLocf))
    assertSame(s"SELECT * FROM graft_gapfill('m', $T0, $T1, 3600, 'linear')",
      TimeseriesQueries.gapfill(cond, "m", T0, T1, 3600, graft.queries.GapfillLinear))
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_gapfill('m', $T0, $T1, 3600, 'cubic')").collect()
    }
    assert(e.getMessage.contains("locf|linear"))
  }

  test("graft_lttb ≡ Lttb.downsample") {
    assertSame(s"SELECT * FROM graft_lttb('m', $T0, $T1, 15)",
      graft.functions.Lttb.downsample(cond, "m", T0, T1, threshold = 15))
  }

  test("graft_rolling_stats ≡ rollingStats") {
    assertSame(s"SELECT * FROM graft_rolling_stats('m', $T0, $T1, 5)",
      TimeseriesQueries.rollingStats(cond, "m", T0, T1, k = 5))
  }

  test("graft_funnel ≡ EventAnalytics.funnel") {
    assertSame(s"SELECT * FROM graft_funnel('m,state', $T0, $T1, 3600)",
      graft.queries.EventAnalytics.funnel(cond, Seq("m", "state"), T0, T1,
        horizonS = 3600))
  }

  test("graft_heavy_hitters ≡ heavyHitters") {
    registerCorpus()
    assertSame("SELECT * FROM graft_heavy_hitters(30, 0.0335)",
      graft.operators.TextAnalysis.heavyHitters(
        spark.table(SqlTableFunctions.DocumentsRelation), k = 30, minFreq = 0.0335))
  }

  test("graft_line_dedup ≡ Dedup.lineDedup") {
    registerCorpus()
    assertSame("SELECT * FROM graft_line_dedup()",
      graft.operators.Dedup.lineDedup(
        spark.table(SqlTableFunctions.DocumentsRelation)))
  }

  test("graft_cap_per_source ≡ Sampling.capPerStratum") {
    registerCorpus()
    assertSame("SELECT * FROM graft_cap_per_source(15)",
      graft.operators.Sampling.capPerStratum(
        spark.table(SqlTableFunctions.DocumentsRelation), cap = 15))
  }

  test("graft_stats_agg ≡ statsDerive(statsAgg)") {
    assertSame(s"SELECT * FROM graft_stats_agg('m', $T0, $T1, 3600)",
      TimeseriesQueries.statsDerive(
        TimeseriesQueries.statsAgg(cond, "m", T0, T1, widthS = 3600)))
  }

  test("graft_seasonal_outliers ≡ seasonalOutliers") {
    val mid = T0 + 3 * 3600
    assertSame(
      s"SELECT * FROM graft_seasonal_outliers('m', $T0, $mid, ${mid + 1}, $T1)",
      TimeseriesQueries.seasonalOutliers(cond, "m", T0, mid, mid + 1, T1))
  }

  test("graft_retention ≡ retentionCohorts") {
    assertSame(s"SELECT * FROM graft_retention('m', $T0, $T1)",
      graft.queries.EventAnalytics.retentionCohorts(cond, "m", T0, T1))
  }

  test("graft_pivot ≡ pivotWide with a CSV metric list") {
    assertSame(s"SELECT * FROM graft_pivot('m, state', $T0, $T1, 3600)",
      graft.queries.EventAnalytics.pivotWide(cond, Seq("m", "state"), T0, T1, 3600))
  }

  test("graft_dup_spans ≡ SpanDedup.duplicatedSpans") {
    registerCorpus()
    assertSame("SELECT * FROM graft_dup_spans(20)",
      graft.operators.SpanDedup.duplicatedSpans(
        spark.table(SqlTableFunctions.DocumentsRelation), minLen = 20))
  }

  test("graft_temperature_sample ≡ Sampling.temperatureSample") {
    registerCorpus()
    assertSame("SELECT * FROM graft_temperature_sample(0.5)",
      graft.operators.Sampling.temperatureSample(
        spark.table(SqlTableFunctions.DocumentsRelation), alpha = 0.5))
  }

  test("graft_cagg_query ≡ ContinuousAggregate.query over a materialized rollup") {
    val path = java.nio.file.Files.createTempDirectory("sqlfn_cagg").toString + "/agg"
    graft.sources.ContinuousAggregate.create(cond, path, widthS = 900)
    assertSame(
      s"SELECT * FROM graft_cagg_query('$path', 's1', 'm', $T0, $T1, 3600)",
      graft.sources.ContinuousAggregate.query(spark, path, "s1", "m", T0, T1, 3600))
  }

  test("graft_cagg_realtime ≡ queryRealtime over a STALE rollup plus the raw tail") {
    import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
    val path = java.nio.file.Files.createTempDirectory("sqlfn_cagg_rt").toString + "/agg"
    val mid = T0 + 3 * 3600 // bucket-aligned stale horizon
    graft.sources.ContinuousAggregate.create(
      cond.filter(col("timestamp") < timestamp_seconds(lit(mid))), path, widthS = 900)
    assertSame(
      s"SELECT * FROM graft_cagg_realtime('$path', 's1', 'm', $T0, $T1, 3600, 900)",
      graft.sources.ContinuousAggregate.queryRealtime(spark, path, cond,
        "s1", "m", T0, T1, 3600, 900))
  }

  test("graft_semdedup ≡ SemDedup.semDedup over a named centroid relation") {
    registerCorpus()
    val emb = spark.table(SqlTableFunctions.EmbeddingsRelation)
    emb.filter(org.apache.spark.sql.functions.col("vec_id") < 8)
      .select(org.apache.spark.sql.functions.col("vec_id").as("list_id"),
        org.apache.spark.sql.functions.col("embedding").as("centroid"))
      .createOrReplaceTempView("spec_seed_centroids")
    assertSame("SELECT * FROM graft_semdedup('spec_seed_centroids', 0.8)",
      graft.operators.SemDedup.semDedup(emb,
        spark.table("spec_seed_centroids"), threshold = 0.8))
  }

  test("graft_corpus_diff / graft_token_drift ≡ SnapshotDiff over named snapshots") {
    registerCorpus()
    val docs = spark.table(SqlTableFunctions.DocumentsRelation)
    docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0)
      .createOrReplaceTempView("spec_snap_old")
    docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 1)
      .createOrReplaceTempView("spec_snap_new")
    assertSame("SELECT * FROM graft_corpus_diff('spec_snap_old', 'spec_snap_new')",
      graft.operators.SnapshotDiff.diff(
        spark.table("spec_snap_old"), spark.table("spec_snap_new")))
    assertSame("SELECT * FROM graft_token_drift('spec_snap_old', 'spec_snap_new', 25)",
      graft.operators.SnapshotDiff.tokenDrift(
        spark.table("spec_snap_old"), spark.table("spec_snap_new"), k = 25))
  }

  test("a missing relation names the view to register") {
    spark.sessionState.catalog.dropTempView(SqlTableFunctions.EmbeddingsRelation)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_ann_topk(0, 10)").collect()
    }
    assert(e.getMessage.contains("graft_ann_topk reads the relation 'embeddings'"))
    assert(e.getMessage.contains("createOrReplaceTempView"))
  }

  test("graft_sitemap_urls/_entries/_index_urls ≡ UrlOps sitemap family; " +
      "graft_recrawl_observed ≡ WarcIngest.observedChangeRates") {
    import spark.implicits._
    // a staged pool: one index body + one staged child + one unstaged
    // reference — all three faces read the same `sitemaps` relation
    val pool = Seq(
      (1L, "https://s.com/sitemap.xml",
        "<sitemapindex><sitemap><loc>https://s.com/sm/a.xml</loc></sitemap>" +
          "<sitemap><loc>https://s.com/sm/miss.xml</loc></sitemap></sitemapindex>"),
      (2L, "https://s.com/sm/a.xml",
        "<urlset><url><loc>https://s.com/u/1</loc>" +
          "<lastmod>2024-01-15</lastmod></url>" +
          "<url><loc>https://s.com/u/2</loc>" +
          "<priority>0.8</priority></url></urlset>"))
      .toDF("doc_id", "url", "xml")
    pool.createOrReplaceTempView(SqlTableFunctions.SitemapsRelation)
    assertSame("SELECT * FROM graft_sitemap_urls()",
      graft.operators.UrlOps.sitemapUrls(pool, "xml", "doc_id"))
    assertSame("SELECT * FROM graft_sitemap_entries()",
      graft.operators.UrlOps.sitemapEntries(pool, "xml", "doc_id"))
    assertSame("SELECT * FROM graft_sitemap_index_urls()",
      graft.operators.UrlOps.sitemapUrlsViaIndex(pool, "url", "xml", "doc_id"))
    val parsed = Seq(
      ("https://a.com/", "id:a1", "response", "md5:v1", "<p>1</p>"),
      ("https://a.com/", "id:a2", "revisit", "md5:v1", ""),
      ("https://a.com/", "id:a3", "response", "md5:v2", "<p>2</p>"))
      .toDF("url", "record_id", "warc_type", "payload_digest", "html")
      .withColumn("fetch_ts", org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.lit("2026-01-10 00:00:00")))
    parsed.createOrReplaceTempView(SqlTableFunctions.WarcRecordsRelation)
    assertSame("SELECT * FROM graft_recrawl_observed()",
      graft.sources.WarcIngest.observedChangeRates(parsed))
  }

  test("meta: every registered graft_* face is gated — by a q_sql_* oracle row or a ≡-assertion in this file") {
    // registry-level tripwire: a future face added to SqlTableFunctions
    // without a gate fails HERE, instead of shipping unverified. A face
    // counts as gated when its exact name appears (word-bounded, so
    // shared prefixes can't mask each other) in either gate surface:
    //  - the contract family modules — the q_sql_* oracle rows call faces
    //    by name inside sqlFace(...), and the driver hash-matches them
    //    against DuckDB at two scale factors;
    //  - this spec — the assertSame(...) plan/row-equality cases.
    val contractDir = new java.io.File("src/main/scala/graft/contract")
    assert(contractDir.isDirectory, s"meta-spec must run from the repo root (missing $contractDir)")
    val gateSources = contractDir.listFiles().toSeq.map(_.getPath).filter(_.endsWith(".scala")).sorted :+
      "src/test/scala/graft/SqlTableFunctionsSpec.scala"
    val texts = gateSources.map { p =>
      val f = java.nio.file.Paths.get(p)
      assert(java.nio.file.Files.exists(f),
        s"meta-spec must run from the repo root (missing $p)")
      p -> java.nio.file.Files.readString(f)
    }
    val names = SqlTableFunctions.names
    assert(names.size >= 60, s"registry unexpectedly small: ${names.size}")
    // a gate is a SQL INVOCATION of the face — "FROM <name>(" — not a
    // mere mention (a comment or an error-message assertion containing
    // the name must not count, or deleting the real gate goes unnoticed)
    val ungated = names.filterNot { n =>
      val re = ("FROM\\s+" + java.util.regex.Pattern.quote(n) + "\\s*\\(").r
      texts.exists { case (_, src) => re.findFirstIn(src).isDefined }
    }
    assert(ungated.isEmpty,
      s"SQL faces registered without any gate (add a q_sql_* oracle row " +
        s"or an assertSame case invoking 'FROM <face>(...)'): ${ungated.mkString(", ")}")
  }
}
