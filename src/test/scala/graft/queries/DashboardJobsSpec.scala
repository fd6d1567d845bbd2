package graft.queries

import graft.ConditionsView
import graft.functions.{Asap, TimeWeight}
import graft.sources.ConditionsTable
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Each of the nine dashboard calls over a date-partitioned store whose
  * slice is at most `TimeseriesQueries.OneTaskSliceBytes` runs one Spark
  * job of one task with no exchange, and returns exactly the rows — in
  * order — of the global-`orderBy` formulation spelled out below (B4 with
  * its driver-side count pre-query). Over a slice above that size, or a
  * local frame, a call keeps its parallel scan: a hash exchange and at
  * most two jobs (the scan's map stage and one result task). A refresh —
  * the same call over the same span ending later — compiles no generated
  * class.
  */
class DashboardJobsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val T0 = 1704240000L // 2024-01-03T00:00:00Z
  private val StepS = 37L
  private val States = Seq("off", "idle", "on")

  /** Five days of subject s1's `state` every 37 s (runs of equal values,
    * a few null numbers and null strings), sparser s2..s4, and a second
    * metric — numbers are multiples of 0.5, so every AVG is exact in any
    * summation order.
    */
  private lazy val rows: DataFrame = {
    import spark.implicits._
    val s1 = (0L until 5 * 86400 / StepS).map { i =>
      (i * StepS, "s1", "state",
        if (i % 31 == 0) None else Some(((i * 7) % 23) * 0.5),
        if (i % 41 == 0) None else Some(if (i % 29 == 0) "idle" else States(((i / 13) % 3).toInt)))
    }
    val others = for (s <- 2 to 4; i <- 0L until 200L)
      yield (i * 1800 + s, s"s$s", "state", Some(i * 0.5), Some(States((i % 3).toInt)))
    val temp = (0L until 500L).map(i => (i * 600, "s1", "temp", Some(i * 0.5), None))
    (s1 ++ others ++ temp).toDF("offset_s", "measurement_subject",
        "measurement_of", "measurement_number", "measurement_string")
      .select(timestamp_seconds(col("offset_s") + T0).as("timestamp"),
        col("measurement_subject"), col("measurement_of"),
        col("measurement_number"), col("measurement_string"))
      .withColumn("date", ConditionsTable.dateKey)
  }

  private lazy val view: ConditionsView = {
    val dir = java.nio.file.Files.createTempDirectory("dashboard_jobs").toString
    ConditionsTable.write(rows, dir)
    ConditionsView.fromParquet(spark, dir)
  }

  /** The same rows plus a metric no call reads, of unique 64-character
    * strings that do not compress, over the same five days: a five-day
    * slice of this store is larger than `OneTaskSliceBytes`.
    */
  private lazy val wide: ConditionsView = {
    val n = 150000L
    val noise = spark.range(n).select(
        timestamp_seconds(lit(T0) + col("id") * (5 * 86400L) / n).as("timestamp"),
        lit("noise").as("measurement_subject"), lit("noise").as("measurement_of"),
        col("id").cast("double").as("measurement_number"),
        sha2(col("id").cast("string"), 256).as("measurement_string"))
      .withColumn("date", ConditionsTable.dateKey)
    val dir = java.nio.file.Files.createTempDirectory("dashboard_jobs_wide").toString
    ConditionsTable.write(rows.unionByName(noise), dir)
    ConditionsView.fromParquet(spark, dir)
  }

  private val Start = T0
  private val End = T0 + 5 * 86400 - 1

  private val TagKey = "graft.test.dashboardCall"

  /** What `body` runs in this thread: its rows, and the Spark jobs, tasks
    * and executed plans of its actions. Jobs and stages are tagged through
    * a local property and plans arrive through a query listener; a marker
    * action before `body` opens the plan window and one with its own tag
    * after `body` is the fence — each bus delivers in order, so a plan of
    * an earlier action that reaches the listener late is not counted, and
    * once the fence is seen every event of `body` has been counted.
    */
  private case class Run(rows: Seq[Row], jobs: Long, tasks: Long, plans: Seq[String]) {
    def exchanges: Seq[String] = plans.filter(_.contains("Exchange"))
  }

  private def runOf(body: => Seq[Row]): Run = {
    val sc = spark.sparkContext
    val token = s"call-${System.nanoTime()}"
    val fenceToken = s"$token-fence"
    val jobs = new AtomicLong()
    val tasks = new AtomicLong()
    val plans = new ConcurrentLinkedQueue[String]()
    val fenced = new CountDownLatch(2)
    val opened = new CountDownLatch(1)
    def tag(p: java.util.Properties) = Option(p).flatMap(p => Option(p.getProperty(TagKey)))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = tag(e.properties) match {
        case Some(`token`) => jobs.incrementAndGet()
        case Some(`fenceToken`) => fenced.countDown()
        case _ =>
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tag(e.properties).contains(token)) tasks.addAndGet(e.stageInfo.numTasks)
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val output = qe.analyzed.output
        if (output.exists(_.name == "__open")) opened.countDown()
        else if (output.exists(_.name == "__fence")) fenced.countDown()
        else if (opened.getCount == 0) plans.add(qe.executedPlan.toString)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(queries)
    try {
      spark.range(1).toDF("__open").collect()
      sc.setLocalProperty(TagKey, token)
      val rows = try body finally sc.setLocalProperty(TagKey, fenceToken)
      try spark.range(1).toDF("__fence").collect() finally sc.setLocalProperty(TagKey, null)
      assert(fenced.await(60, TimeUnit.SECONDS), "the fence never reached the listeners")
      Run(rows, jobs.get, tasks.get, plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(listener)
    }
  }

  // The global-orderBy formulations each call must match row for row.
  private def scanOf(of: String, s: Long, e: Long, subject: Option[String]) =
    TimeseriesQueries.scan(view.df, of, s, e, subject)

  private def refByInterval(sub: String, of: String, s: Long, e: Long, w: Long) =
    scanOf(of, s, e, Some(sub))
      .groupBy(TimeseriesQueries.timeBucketS(w, col("timestamp")).as("time_s"))
      .agg(avg("measurement_number").as("avg_measurement_number"))
      .orderBy("time_s")

  private def refByDay(sub: String, of: String, s: Long, e: Long) = {
    val span = e - s
    val base = scanOf(of, s, e, Some(sub))
    if (span <= 86400) {
      val widthUs = math.rint(span * 1e6 / math.min(360.0, span / 900.0)).toLong
      val dayUs = unix_micros(date_trunc("day", col("timestamp")))
      val tsUs = unix_micros(col("timestamp"))
      val bucketUs = dayUs + (floor((tsUs - dayUs) / lit(widthUs.toDouble)) * widthUs).cast("long")
      base.groupBy((bucketUs / lit(1e6)).cast("long").as("time_s"))
        .agg(avg("measurement_number").as("avg_measurement_number")).orderBy("time_s")
    } else
      base.groupBy((unix_micros(date_trunc("day", col("timestamp"))) / 1000000L)
          .cast("long").as("time_s"))
        .agg(max("measurement_number").as("avg_measurement_number")).orderBy("time_s")
  }

  /** B4 as the reference runs it: a COUNT pre-query on the driver picks
    * the interval, then the bucketed mode.
    */
  private def refMode(sub: String, of: String, s: Long, e: Long) = {
    val slice = scanOf(of, s, e, Some(sub))
    val intervalS = if (slice.count() > 360) math.max(1L, (e - s) / 360) else 60L
    val w = Window.partitionBy("time_s").orderBy(col("cnt").desc, col("measurement_string").asc)
    slice.groupBy((floor(TimeseriesQueries.epochS(col("timestamp")) / intervalS) * intervalS)
        .cast("long").as("time_s"), col("measurement_string"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("time_s"), col("measurement_string").as("most_common_value"))
      .orderBy("time_s")
  }

  private def refAsap(sub: String, of: String, s: Long, e: Long, resolution: Int) = {
    import spark.implicits._
    val widthS = math.max(1L, (e - s) / resolution)
    val grid = refByInterval(sub, of, s, e, widthS).collect()
      .filter(!_.isNullAt(1)).map(r => Asap.Point(r.getLong(0), r.getDouble(1))).toIndexedSeq
    Asap.smooth(Asap.gapFill(grid, widthS)).toDF("time_s", "smoothed_value").orderBy("time_s")
  }

  private def refTimeWeight(sub: String, of: String, s: Long, e: Long, m: TimeWeight.Method,
                            resolution: Int) = {
    val tw = udf { (pts: Seq[Row]) =>
      TimeWeight.integrateSorted(
        pts.map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toIndexedSeq, m)
    }
    scanOf(of, s, e, Some(sub)).filter(col("measurement_number").isNotNull)
      .groupBy(TimeseriesQueries.timeBucketS((e - s) / resolution, col("timestamp")).as("time_s"))
      .agg(collect_list(struct(unix_micros(col("timestamp")), col("measurement_number"))).as("pts"))
      .select(col("time_s"), tw(col("pts")).as("time_weighted_value"))
      .orderBy("time_s")
  }

  private def refChanges(sub: String, of: String, s: Long, e: Long) = {
    val w = Window.partitionBy("measurement_subject").orderBy("timestamp")
    scanOf(of, s, e, Some(sub))
      .withColumn("prev", lag("measurement_string", 1).over(w))
      .filter(!(col("measurement_string") <=> col("prev")))
      .select(unix_micros(col("timestamp")).as("ts_us"),
        col("measurement_subject"), col("measurement_of"), col("measurement_string"))
      .orderBy("ts_us")
  }

  private def refIntervals(sub: String, of: String, s: Long, e: Long, clockS: Long) = {
    val w = Window.partitionBy("measurement_subject").orderBy("ts_us")
    refChanges(sub, of, s, e)
      .withColumn("next_us", lead("ts_us", 1).over(w))
      .select(col("ts_us").as("time_us"),
        coalesce(col("next_us"), lit(clockS * 1000000L)).as("time_end_us"),
        col("measurement_string"))
      .orderBy("time_us")
  }

  /** Slice bounds holding exactly `n` of s1's `state` rows. */
  private def firstRows(n: Long): (Long, Long) = (Start, Start + (n - 1) * StepS)

  private def calls: Seq[(String, () => DataFrame, () => DataFrame)] = {
    val (s, e) = (Start, End)
    val (fs, fe) = (T0 + 3600, T0 + 3600 + 20000)
    val (m360s, m360e) = firstRows(360)
    val (m361s, m361e) = firstRows(361)
    Seq(
      ("B1 aggregated", () => view.getAggregatedData("s1", "state", s, e, 100),
        () => refByInterval("s1", "state", s, e, (e - s) / 100).limit(100)),
      ("B2 by interval", () => view.getAggregatedDataByInterval("s1", "state", s, e, 3600),
        () => refByInterval("s1", "state", s, e, 3600)),
      ("B3 by day, daily", () => view.getAggregatedDataByDay("s1", "state", s, e),
        () => refByDay("s1", "state", s, e)),
      ("B3 by day, fine", () => view.getAggregatedDataByDay("s1", "state", fs, fe),
        () => refByDay("s1", "state", fs, fe)),
      ("B4 mode, wide", () => view.getMostFrequentValueByTimeInterval("s1", "state", s, e),
        () => refMode("s1", "state", s, e)),
      ("B4 mode, 360 rows", () =>
        view.getMostFrequentValueByTimeInterval("s1", "state", m360s, m360e),
        () => refMode("s1", "state", m360s, m360e)),
      ("B4 mode, 361 rows", () =>
        view.getMostFrequentValueByTimeInterval("s1", "state", m361s, m361e),
        () => refMode("s1", "state", m361s, m361e)),
      ("B4 mode, empty", () =>
        view.getMostFrequentValueByTimeInterval("nobody", "state", s, e),
        () => refMode("nobody", "state", s, e)),
      ("B5 asap", () => view.getSampledData(spark, "s1", "state", s, e, 60),
        () => refAsap("s1", "state", s, e, 60)),
      ("B6 time weight linear", () =>
        view.getSampledDataWithTimeWeight("s1", "state", s, e, "linear", 50),
        () => refTimeWeight("s1", "state", s, e, TimeWeight.Linear, 50)),
      ("B6 time weight locf", () =>
        view.getSampledDataWithTimeWeight("s1", "state", s, e, "locf", 50),
        () => refTimeWeight("s1", "state", s, e, TimeWeight.Locf, 50)),
      ("B7 subjects", () => view.getUniqueMeasurementSubjects(s, e, "state"),
        () => scanOf("state", s, e, None).select("measurement_subject").distinct()
          .orderBy("measurement_subject")),
      ("B8 change points", () => view.filterUnchangedRows("s1", "state", s, e),
        () => refChanges("s1", "state", s, e)),
      ("B9 intervals", () => view.formatTimeIntervals("s1", "state", s, e, e),
        () => refIntervals("s1", "state", s, e, e)))
  }

  test("the B4 cases straddle the 360-row threshold") {
    val count = (r: (Long, Long)) =>
      TimeseriesQueries.scan(view.df, "state", r._1, r._2, Some("s1")).count()
    assert(count(firstRows(360)) == 360)
    assert(count(firstRows(361)) == 361)
  }

  calls.foreach { case (name, call, reference) =>
    test(s"$name: ≤ 2 jobs, no range-partitioned exchange, rows of the orderBy form") {
      val ref = reference()
      val expected = ref.collect().toSeq
      var df: DataFrame = null
      val run = runOf { df = call(); df.collect().toSeq }
      assert(run.jobs == 1, s"$name ran ${run.jobs} Spark jobs")
      assert(run.tasks == 1, s"$name ran ${run.tasks} tasks")
      assert(run.plans.nonEmpty && run.exchanges.isEmpty, run.plans.mkString("\n"))
      assert(run.rows.nonEmpty || name.endsWith("empty"), s"$name returned no rows")
      assert(df.schema == ref.schema)
      assert(run.rows == expected)
    }
  }

  test("a slice above OneTaskSliceBytes keeps the parallel scan") {
    assert(ConditionsTable.sliceBytes(wide.df, Start, End)
      .exists(_ > TimeseriesQueries.OneTaskSliceBytes))
    refresh(Start, End).zip(refresh(Start, End, wide)).foreach {
      case ((name, small), (_, call)) =>
        val run = runOf(call().collect().toSeq)
        assert(run.exchanges.exists(_.contains("hashpartitioning")), s"$name: ${run.plans}")
        assert(run.jobs <= 2, s"$name ran ${run.jobs} Spark jobs")
        assert(run.rows == small().collect().toSeq, name)
    }
  }

  test("above OneTaskSliceBytes, stats, counter and time-weight aggregates combine before one shuffle") {
    def body(on: ConditionsView) = Seq(
      "statsAgg" -> TimeseriesQueries.statsDerive(
        TimeseriesQueries.statsAgg(on.df, "state", Start, End, widthS = 86400)),
      "counterAgg" -> TimeseriesQueries.counterAgg(on.df, "state", Start, End, bucketS = 21600),
      "interpolatedTimeWeight" ->
        TimeseriesQueries.interpolatedTimeWeight(on.df, "state", Start, End, bucketS = 21600))
    body(wide).zip(body(view)).foreach { case ((name, q), (_, small)) =>
      val plan = q.queryExecution.executedPlan.toString
      val ops = plan.linesIterator.toSeq
      def at(op: String) = ops.indexWhere(_.contains(op))
      assert(ops.count(_.contains("Exchange hashpartitioning")) == 1, s"$name\n$plan")
      assert(at("partial_") >= 0 &&
        ops.exists(l => l.contains("HashAggregate") && !l.contains("partial_")), s"$name\n$plan")
      if (name == "statsAgg") // the partial aggregate runs below (printed after) the shuffle
        assert(at("partial_") > at("Exchange hashpartitioning"), plan)
      else // the window's exchange serves the aggregate too
        assert(ops.count(_.contains("Window")) == 1, plan)
      assert(!small.queryExecution.executedPlan.toString.contains("Exchange"), name)
      assert(q.collect().toSeq == small.collect().toSeq, name)
    }
  }

  test("a local conditions frame keeps the parallel scan") {
    val local = new ConditionsView(rows)
    assert(ConditionsTable.sliceBytes(local.df, Start, End).isEmpty)
    refresh(Start, End, view).zip(refresh(Start, End, local)).foreach {
      case ((name, stored), (_, call)) =>
        val run = runOf(call().collect().toSeq)
        assert(run.exchanges.exists(_.contains("hashpartitioning")), s"$name: ${run.plans}")
        assert(run.jobs <= 2, s"$name ran ${run.jobs} Spark jobs")
        assert(run.rows == stored().collect().toSeq, name)
    }
  }

  /** The nine calls over [s, e], with the span-derived widths a
    * dashboard derives (B2 120 buckets, as perfbench's calls do).
    */
  private def refresh(s: Long, e: Long, on: => ConditionsView = view)
      : Seq[(String, () => DataFrame)] = Seq(
    "B1 aggregated" -> (() => on.getAggregatedData("s1", "state", s, e, 100)),
    "B2 by interval" -> (() => on.getAggregatedDataByInterval("s1", "state", s, e, (e - s) / 120)),
    "B3 by day" -> (() => on.getAggregatedDataByDay("s1", "state", s, e)),
    "B4 mode" -> (() => on.getMostFrequentValueByTimeInterval("s1", "state", s, e)),
    "B5 asap" -> (() => on.getSampledData(spark, "s1", "state", s, e, 60)),
    "B6 time weight" -> (() => on.getSampledDataWithTimeWeight("s1", "state", s, e, "linear", 50)),
    "B7 subjects" -> (() => on.getUniqueMeasurementSubjects(s, e, "state")),
    "B8 change points" -> (() => on.filterUnchangedRows("s1", "state", s, e)),
    "B9 intervals" -> (() => on.formatTimeIntervals("s1", "state", s, e, e)))

  refresh(0L, 0L).map(_._1).zipWithIndex.foreach { case (name, i) =>
    test(s"$name: a refresh of the same span 60 s later compiles no class") {
      val (s, e) = (T0 + 3600 + 7 * i, T0 + 3600 + 7 * i + 86400)
      def compiled(call: () => DataFrame): (Long, Int) = {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val n = call().collect().length
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, n)
      }
      compiled(refresh(s, e)(i)._2)
      val (classes, n) = compiled(refresh(s + 60, e + 60)(i)._2)
      assert(n > 0, s"$name returned no rows")
      assert(classes == 0L, s"$name compiled $classes classes for a range 60 s later")
    }
  }
}
