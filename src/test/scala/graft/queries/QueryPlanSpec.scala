package graft.queries

import graft.ConditionsView
import graft.sources.{ConditionsTable, EventsAsConditions}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Plan-shape assertions: the universal dashboard scan must reach parquet
  * as pushed filters + partition pruning on a native conditions table —
  * the Spark analogue of the reference's hypertable chunk exclusion and
  * subject/of indexes (SURVEY §4).
  */
class QueryPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val conditionsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("conditions_tbl").toString
    ConditionsTable.write(EventsAsConditions.load(spark, "/root/testdata/sf0.001")
      .withColumn("date", ConditionsTable.dateKey), dir)
    dir
  }

  /** Every parquet scan the actions of `body` execute, eager parts
    * included. Listener events arrive asynchronously on one queue, so a
    * marker query run after `body` flushes the ones before it.
    */
  private def scansOf(body: => Unit): Seq[FileSourceScanExec] = {
    val scans = new ConcurrentLinkedQueue[FileSourceScanExec]()
    val flushed = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "__scans_marker")) flushed.countDown()
        else collect(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach(scans.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("__scans_marker").collect()
      assert(flushed.await(60, TimeUnit.SECONDS), "query listener events never arrived")
    } finally spark.listenerManager.unregister(listener)
    scans.asScala.toSeq
  }

  test("scan pushes subject/of equality and timestamp range to parquet + prunes partitions") {
    val table = spark.read.parquet(conditionsPath)
    val q = TimeseriesQueries.aggregatedDataByInterval(
      table, "user_3", "click", 1704844800L, 1704931200L, 3600) // 1 day
    val scanned = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(scanned.contains("PushedFilters:"), scanned)
    assert(scanned.contains("EqualTo(measurement_of,click)"), scanned)
    assert(scanned.contains("EqualTo(measurement_subject,user_3)"), scanned)
    assert(scanned.contains("GreaterThanOrEqual(timestamp,"), scanned)
    assert(scanned.contains("LessThanOrEqual(timestamp,"), scanned)
    // date partition pruning: 30 date partitions exist, the 1-day range
    // touches at most 2
    assert(scanned.contains("PartitionFilters:"), scanned)
    // and results are identical to the un-pushable view-based run
    val viaView = TimeseriesQueries.aggregatedDataByInterval(
      EventsAsConditions.load(spark, "/root/testdata/sf0.001"),
      "user_3", "click", 1704844800L, 1704931200L, 3600).collect().toSeq
    assert(q.collect().toSeq == viaView)
  }

  test("statsAgg plan: one scan, partial+final hash agg, exactly one exchange, no window/sort before agg") {
    val table = spark.read.parquet(conditionsPath)
    val q = TimeseriesQueries.statsDerive(TimeseriesQueries.statsAgg(
      table, "click", 1704240000L, 1706400000L, widthS = 86400))
    val plan = q.queryExecution.executedPlan.toString
    // partial (map-side) then final hash aggregation — the partials
    // combine before the shuffle, so shuffled bytes ∝ groups, not rows
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    // exactly one data exchange for the agg (plus the output sort's) —
    // no extra repartition, no window operator anywhere
    assert(!plan.contains("Window"), plan)
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected ≤2 exchanges (agg + orderBy), got $exchanges\n$plan")
  }

  test("lineDedup plans ONE pass over the exploded lines (no self-join recompute)") {
    import spark.implicits._
    val docs = Seq((1L, "a\nb"), (2L, "b\nc")).toDF("doc_id", "text")
    val plan = graft.operators.Dedup.lineDedup(docs)
      .queryExecution.executedPlan.toString
    // the first-occurrence rule is a min window over the line, so the
    // explode lineage appears exactly once; a groupBy+join-back shape
    // would show two Generate (posexplode) subtrees
    assert("Generate".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("Window"), plan)
  }

  test("partition pruning actually reduces files read") {
    val view = new ConditionsView(spark.read.parquet(conditionsPath))
    val (sub, of, s0, s1) = ("user_3", "click", 1704844800L, 1704931200L) // 1 day
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "getAggregatedData" -> (() => view.getAggregatedData(sub, of, s0, s1, 24)),
      "getAggregatedDataByInterval" ->
        (() => view.getAggregatedDataByInterval(sub, of, s0, s1, 3600)),
      "getAggregatedDataByDay" -> (() => view.getAggregatedDataByDay(sub, of, s0, s1)),
      "getMostFrequentValueByTimeInterval" ->
        (() => view.getMostFrequentValueByTimeInterval(sub, of, s0, s1)),
      "getSampledData" -> (() => view.getSampledData(spark, sub, of, s0, s1, 24)),
      "getSampledDataWithTimeWeight" ->
        (() => view.getSampledDataWithTimeWeight(sub, of, s0, s1, "linear", 24)),
      "getUniqueMeasurementSubjects" -> (() => view.getUniqueMeasurementSubjects(s0, s1, of)),
      "filterUnchangedRows" -> (() => view.filterUnchangedRows(sub, of, s0, s1)),
      "formatTimeIntervals" -> (() => view.formatTimeIntervals(sub, of, s0, s1, s1)))
    val storeFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(conditionsPath))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
    calls.foreach { case (name, call) =>
      val scans = scansOf(call().collect())
      assert(scans.nonEmpty, s"$name ran no parquet scan")
      scans.foreach { scan =>
        // the partition filters must constrain `date`, and the scan must
        // read fewer files than the 30-date store holds
        assert(scan.partitionFilters.exists(_.references.exists(_.name == "date")),
          s"$name: ${scan.simpleString(400)}")
        assert(scan.metrics("numFiles").value < storeFiles,
          s"$name read ${scan.metrics("numFiles").value} of $storeFiles files")
      }
    }
  }

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("tpch shipping plan: customer dim broadcast, date filters pushed to parquet") {
    val p = plan("q_tpch_shipping")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate,")
      || p.contains("GreaterThan(l_shipdate,"), p)
    assert(p.contains("LessThan(o_orderdate,"), p)
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch priority plan: EXISTS runs as a semi join, no cartesian, no distinct") {
    val p = plan("q_tpch_priority")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    // semi-join semantics make a dedup step unnecessary — none planned
    assert(!p.toLowerCase.contains("distinct"), p)
  }

  test("tpch local-supplier plan: supplier/nation/region ride broadcasts, no cartesian") {
    val p = plan("q_tpch_local_supplier")
    // three dim joins broadcast (supplier, nation, region)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bucketed conditions store: subject-keyed agg and self-join plan without Exchange") {
    import graft.sources.{ConditionsTable, EventsAsConditions}
    val storage = EventsAsConditions.load(spark, "/root/testdata/sf0.001")
    ConditionsTable.writeBucketed(storage, "conditions_bucketed", buckets = 8)
    try {
      val t = spark.table("conditions_bucketed")
      val agg = t.groupBy("measurement_subject").count()
      val aggPlan = agg.queryExecution.executedPlan.toString
      // no shuffle exchange (a BroadcastExchange would be fine — it isn't
      // a repartition of the bucketed data)
      assert(!aggPlan.contains("Exchange hashpartitioning"), aggPlan)
      assert(aggPlan.contains("Bucketed: true"), aggPlan)
      assert(agg.count() > 0)
      // co-located self-join on the bucket key: no shuffle on either side
      val l = t.select(col("measurement_subject"), col("measurement_number").as("l"))
      val r = t.select(col("measurement_subject"), col("measurement_number").as("r"))
      val joined = l.groupBy("measurement_subject").count()
        .join(r.groupBy("measurement_subject").avg("r"), "measurement_subject")
      val joinPlan = joined.queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange hashpartitioning"), joinPlan)
      assert(joined.count() > 0)
    } finally spark.sql("DROP TABLE IF EXISTS conditions_bucketed")
  }

  test("embed neardup block kernel: distributed plan, no nested-loop or cartesian join") {
    val p = plan("q_embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the packed-block kernel runs as an object-mode flatMap over joined
    // block pairs — a MapPartitions/SerializeFromObject stage must exist
    assert(p.contains("SerializeFromObject"), p)
  }

  test("sampling split/downsample are shuffle-free narrow stages") {
    import graft.operators.Sampling
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val splitPlan = Sampling.assignSplits(docs)
      .queryExecution.executedPlan.toString
    assert(!splitPlan.contains("Exchange"), splitPlan)
    assert(splitPlan.contains("*(1)"), splitPlan) // whole-stage codegen stage marker
    val samplePlan = Sampling.stratifiedSample(docs, "source", Map("src0" -> 0.5))
      .queryExecution.executedPlan.toString
    assert(!samplePlan.contains("Exchange"), samplePlan)
  }

  test("redaction is a shuffle-free codegen projection") {
    import graft.operators.Redaction
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = Redaction.redact(docs).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(p.contains("*(1)"), p) // whole-stage codegen stage marker
  }

  test("url canonicalization is a shuffle-free codegen projection") {
    import graft.operators.UrlOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = docs.select(UrlOps.canonicalizeUrl(concat(lit("https://x.com/"),
        col("doc_id").cast("string"))).as("c"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(p.contains("*(1)"), p) // whole-stage codegen stage marker
  }

  test("url dedup plan: partial+final agg on the canonical key, no window") {
    val p = plan("q_url_dedup")
    // map-side partial_min(struct) collapses duplicates BEFORE the
    // exchange — shuffled bytes ∝ distinct canonical URLs, not rows
    // (struct-typed min lowers to SortAggregate: partition-local sort,
    // still a combiner, NOT a row_number window over the full frame)
    assert(p.contains("partial_min"), p)
    assert("SortAggregate|HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), p)
    // one hash exchange (the agg); the other is the presentation orderBy
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("url blocklist plan: both joins broadcast, corpus frame never shuffled") {
    val p = plan("q_url_blocklist")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // no hash exchange of the corpus side: the only exchanges are the
    // broadcasts and the blocked-key distinct (a small subset)
    val hashEx = "hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 1, s"expected at most the blocked-key distinct exchange, got $hashEx\n$p")
  }

  test("robots REP plan: rules broadcast, winner is an aggregation, no window, no cartesian") {
    val p = plan("q_url_robots")
    // rules ride a broadcast into the host equi-join (regex residual);
    // the longest-match winner is max(struct(spec, allow)) — a
    // map-side-combinable aggregate, NOT a row_number window
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_max"), p)
  }

  test("crawl capstone plan: broadcast joins only, one agg exchange, no window") {
    val p = plan("q_crawl_curate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    // hash exchanges: the blocked-key distinct + the canonical-key agg;
    // the (doc_id-keyed) url><html plant join rides a broadcast, and the
    // corpus never shuffles for the blocklist
    assert("hashpartitioning".r.findAllIn(p).size <= 3, p)
  }

  test("crawl-plan capstone: rules/delays never force a corpus cartesian; windows only on host/robots keys") {
    val p = plan("q_crawl_plan")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p) // parsed rules ride a broadcast
    // windows: the robots-parse group machinery (lines frame) + the
    // per-host schedule rank — all partitioned, never a global
    // empty-partition-spec Window (which would single-task the corpus).
    // Checked on the optimized plan's Window nodes directly: the plan
    // STRING always renders a windowspecdefinition with its order/frame
    // children, so a text match on 'windowspecdefinition()' can never
    // fire and would leave this assertion vacuous
    val windows = graft.SparkEntry.queries("q_crawl_plan")(
        spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(windows.nonEmpty, p)
    windows.foreach(w =>
      assert(w.partitionSpec.nonEmpty, s"global (empty-partition) Window:\n$w"))
    val exchanges = "hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 9, s"hash exchanges grew past the measured 8 to $exchanges:\n$p")
  }

  test("edge index: the per-iteration src join reads the bucketed scan with no edge-side Exchange") {
    import spark.implicits._
    val edges = (0 until 200).map(i =>
      (s"https://s$i.com/p", s"https://t${i % 7}.com/x")).toDF("src", "dst")
    graft.operators.LinkGraph.writeEdgeIndex(edges, "graft_plan_edge_idx",
      buckets = 8)
    // force the shuffle join AQE would broadcast away at toy scale —
    // the co-partitioning claim is about the at-scale plan
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ranks = (0 until 200).map(i =>
        (s"https://s$i.com/p", 1L, 5L)).toDF("url", "outdeg", "rank")
      val tbl = spark.table("graft_plan_edge_idx")
      val joined = tbl.join(ranks, tbl("src") === ranks("url"))
      // string assertions — executedPlan.collect does not descend into
      // the AdaptiveSparkPlan wrapper
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"no bucketed scan in:\n$plan")
      assert(plan.contains("SelectedBucketsCount: 8 out of 8"), plan)
      // exactly ONE exchange: the rank side shuffling TO the bucket
      // partitioning; the edge side reads the bucketed scan in place
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        s"expected only the rank-side exchange:\n$plan")
      assert(plan.contains("hashpartitioning(url"),
        s"the one exchange should be the rank side:\n$plan")
      // the cross-append duplicate collapse is a LOCAL aggregate: src
      // bucketing satisfies the (src, dst) grouping distribution, so
      // dedup-on-read costs no Exchange
      val dedupPlan = spark.table("graft_plan_edge_idx")
        .dropDuplicates("src", "dst")
        .queryExecution.executedPlan.toString
      assert(!dedupPlan.contains("Exchange hashpartitioning"),
        s"index dedup-on-read shuffled:\n$dedupPlan")
      assert(dedupPlan.contains("Bucketed: true"), dedupPlan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_plan_edge_idx")
    }
  }

  test("decontamination plan: benchmark side broadcasts, no cartesian") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("vocabulary top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q_vocab")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bm25 plan: idf rides a broadcast, top-k is TakeOrderedAndProject, no corpus join") {
    val p = plan("q_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus-sized lengths frame must never reach a shuffle join:
    // dl rides the explode, so the only join is tf >< broadcast(idf)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("epoch shuffle plan: shard-partitioned window, no single-partition window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = graft.SparkEntry.queries("q_epoch_shuffle")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    val windows = exec.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, exec.toString)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window in epoch shuffle plan:\n$exec"))
  }

  test("sessionize plan: subject-partitioned windows, no unpartitioned window") {
    import org.apache.spark.sql.execution.window.WindowExec
    // an empty partition spec would collapse the corpus to one task —
    // assert on the physical nodes, not the explain string (sparkPlan is
    // the pre-adaptive physical plan, traversable with collect)
    val exec = graft.SparkEntry.queries("q_sessions")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    val windows = exec.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, exec.toString)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      windows.map(_.partitionSpec).mkString("; "))
  }

  test("simhash pairs: the sketch aggregation runs ONCE (bucket-grouped, not self-joined)") {
    // a self-join over the banded signatures would duplicate the whole
    // token-explode + md5 + 64-vote aggregation subplan (once per side);
    // the bucket-grouped formulation evaluates it once — assert at the
    // physical level: exactly one partial/final pair of SimHashAgg nodes
    val exec = graft.operators.Dedup
      .simhashPairs(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .queryExecution.sparkPlan
    val simhashAggs = exec.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
        if a.aggregateExpressions.mkString.toLowerCase.contains("simhashagg") => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec
        if a.aggregateExpressions.mkString.toLowerCase.contains("simhashagg") => a
    }
    assert(simhashAggs.size == 2, // partial + final of ONE logical aggregate
      s"expected one partial+final SimHashAgg pair, got ${simhashAggs.size}:\n$exec")
  }

  test("sequence packing plan: no single-task global window") {
    import org.apache.spark.sql.execution.window.WindowExec
    // the naive formulation is Window.orderBy with no partitioning — one
    // task for the whole corpus; the two-phase prefix sum must have NO
    // window at all
    val exec = graft.SparkEntry.queries("q_pack_sequences")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    assert(exec.collect { case w: WindowExec => w }.isEmpty, exec.toString)
  }

  test("incremental kernels: no cartesian or nested-loop joins") {
    for (q <- Seq("q_dedup_simhash_inc", "q_embed_neardup_inc")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("length stats plan: single stratum aggregation, no cartesian") {
    val p = plan("q_length_stats")
    assert(p.contains("percentile"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("repetition signals plan: map-only — no aggregate, no join, one sort only") {
    val p = plan("q_repetition")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    // the only wide stage is the contract ORDER BY (rangepartitioning)
    assert(p.contains("Sort"), p)
  }

  test("interval join contract plan: equi-join on the bin, no nested loop") {
    val p = plan("q_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sq8 top-k plan: broadcast 1-row query side, single corpus pass") {
    val p = plan("q_ann_topk_sq8")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  /** Physical node count by the formatted-explain DETAIL header
    * (`(n) NodeName`) — each node prints exactly one such header.
    */
  private def nodes(p: String, name: String): Int =
    ("""\(\d+\) """ + name + """\b""").r.findAllIn(p).length

  test("ohlc plan: ONE aggregation (partial+final), no window — open/close are aggregates") {
    val p = plan("q_ohlc")
    assert(nodes(p, "Window") == 0, p)
    // min_by over a struct key plans as SortAggregate — still one
    // partial+final pair with map-side combine, which is the contract
    assert(nodes(p, "SortAggregate") + nodes(p, "HashAggregate") == 2, p)
  }

  test("pivot plan: ONE conditional hash aggregation, single scan, no window") {
    val p = plan("q_pivot")
    assert(nodes(p, "Window") == 0, p)
    assert(nodes(p, "Scan parquet") == 1, p)
    // the conditional-agg form — Dataset .pivot() would plan 4 (two
    // stages, each partial+final)
    assert(nodes(p, "HashAggregate") == 2, p)
  }

  test("counterAgg plan: rollup agg reuses the pair window's exchange — one data shuffle") {
    val p = plan("q_counter_agg")
    // the lag window partitions by (subject, bucket) and the rollup
    // groups by the same keys: the agg must NOT re-shuffle
    assert(nodes(p, "Window") == 1, p)
    val ex = nodes(p, "Exchange")
    assert(ex <= 2, s"expected window + orderBy exchanges only, got $ex\n$p")
  }

  test("counterRollup plan: bridge window + merge agg, no extra shuffle between them") {
    val p = plan("q_counter_rollup")
    assert(nodes(p, "Window") == 2, p) // fine-partial pair window + bridge window
    assert(!p.contains("Join"), p)
  }

  test("m4 plan: one windowed extrema pass, no join") {
    val p = plan("q_m4")
    assert(nodes(p, "Window") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("interpolatedTimeWeight plan: subject window, then the bucket agg rides the subject partitioning") {
    val p = plan("q_timeweight_interp")
    assert(nodes(p, "Window") == 1, p)
    // hashpartitioning(subject) clusters (subject, bucket) groups too, so
    // the agg needs no second data exchange
    val ex = nodes(p, "Exchange")
    assert(ex <= 2, s"expected window + orderBy exchanges only, got $ex\n$p")
    assert(!p.contains("Join"), p)
  }

  test("sax plan: two hash aggs, stats ride a broadcast, no window") {
    val p = plan("q_sax")
    assert(nodes(p, "Window") == 0, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("rolling stats plan: one subject-partitioned window pass, all four aggs in it") {
    val p = plan("q_rolling")
    assert(nodes(p, "Window") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("seasonal outliers plan: baseline profile broadcast onto the eval scan") {
    val p = plan("q_seasonal")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("gapfill plan: grid explode is subject-distinct × sequence, no cartesian") {
    val p = plan("q_gapfill_locf")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(nodes(p, "Generate") >= 1, p)
  }

  test("duplicated spans plan: ONE window-count pass over ONE explosion, no self-join") {
    val p = plan("q_dup_spans")
    assert(!p.contains("Join"), p)
    // one generate (the window explosion) — the groupBy+semi-join shape
    // would show two
    assert(nodes(p, "Generate") == 1, p)
  }

  test("token drift plan: totals ride a broadcast, top-k is TakeOrderedAndProject") {
    val p = plan("q_corpus_drift")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("retention plan: hash aggregations only, cohort map joined without nested loop") {
    val p = plan("q_retention")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("NB classifier plan: token-keyed joins only, no cartesian; totals broadcast") {
    val p = plan("q_quality_classifier")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("DSIR plan: top-N is TakeOrderedAndProject, never a global sort") {
    val p = plan("q_dsir")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("UniMax plan: document windows are (stratum, bucket)-partitioned, strata window is the only unpartitioned one") {
    import graft.operators.Sampling
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exec = Sampling.unimaxSample(docs, budget = 420)
      .queryExecution.sparkPlan // pre-adaptive: traversable with collect
    // every window over DOCUMENTS must be partitioned; the allocation
    // window runs over the ≤#langs strata frame, where a single
    // partition is the design (bounded by construction)
    val windows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    val unpartitioned = windows.count(_.partitionSpec.isEmpty)
    assert(unpartitioned <= 2, s"unexpected unpartitioned windows: $unpartitioned")
  }

  test("length-bucketed batching plan: window partitions on (len_bucket, shard)") {
    val p = plan("q_batch_buckets")
    assert(!p.contains("CartesianProduct"), p)
    val exec = graft.SparkEntry.queries("q_batch_buckets")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    val windows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, exec.toString)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "no unpartitioned window over documents allowed")
  }

  test("JL projection + hashEmbed stay narrow until their aggregations") {
    import graft.operators.{Ann, TextAnalysis}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val projPlan = Ann.jlProject(emb, outDim = 16).queryExecution.executedPlan.toString
    assert(!projPlan.contains("Exchange"), projPlan) // map-only projection
    val hePlan = plan("q_hash_embed")
    assert(!hePlan.contains("CartesianProduct"), hePlan)
  }

  test("PMI plan: totals broadcast, top-k is TakeOrderedAndProject") {
    val p = plan("q_pmi")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("weightedSample plans TakeOrdered, not a global sort") {
    import spark.implicits._
    val docs = (1L to 1000L).map(i => (i, (i % 13 + 1).toDouble)).toDF("doc_id", "w")
    val plan = graft.operators.Sampling.weightedSample(docs, "w", k = 10)
      .queryExecution.executedPlan.toString
    // the k-largest-keys selection must be a TakeOrderedAndProject (per-
    // partition top-k + driver merge of k-row heads) — a global Sort
    // would shuffle the whole corpus to order rows nobody keeps
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort "), plan)
  }

  test("realtime cagg serve: raw tail scan pushes the watermark time filter; rollup scan prunes by bucket") {
    val table = spark.read.parquet(conditionsPath)
    val path = java.nio.file.Files.createTempDirectory("plan_cagg_rt").toString + "/agg"
    graft.sources.ContinuousAggregate.create(
      table.filter(col("timestamp") < timestamp_seconds(lit(1705536000L))),
      path, widthS = 3600)
    val q = graft.sources.ContinuousAggregate.queryRealtime(spark, path, table,
      "user_3", "click", 1704240000L, 1706400000L, widthS = 86400,
      storedWidthS = 3600)
    val scanned = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // raw side: subject/of equality and the >= watermark bound reach
    // parquet — at 100 TB the tail scan reads one refresh period, pruned
    // by the date partitioning, never the whole store
    assert(scanned.contains("EqualTo(measurement_subject,user_3)"), scanned)
    assert(scanned.contains("EqualTo(measurement_of,click)"), scanned)
    assert(scanned.contains("GreaterThanOrEqual(timestamp,"), scanned)
    // rollup side: the bucket-range filter is pushed to the rollup scan
    assert(scanned.contains("GreaterThanOrEqual(bucket_s,"), scanned)
  }
}
