package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

/** What one run shares: the session, the spans, and the tally of attempted
  * and failed operations and output checks.
  */
final class Ctx(val opts: Opts, val jvmStartMs: Long) {
  var spark: SparkSession = _
  val spans = new Spans
  val attempted = new AtomicLong
  val failed = new AtomicLong

  def cores: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): Path = opts.work.resolve(name)

  /** Count one attempted operation or check, and a failure if `ok` is false. */
  def tally(ok: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      val msg = try what catch { case scala.util.control.NonFatal(e) => e.toString }
      System.err.println(s"perfbench: FAILED $msg")
    }
    ok
  }

  /** Count one output check; an exception while checking fails it. */
  def check(what: => String)(ok: => Boolean): Boolean =
    tally(try ok catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"perfbench: check threw $e")
        false
    }, what)

  /** Run and count one operation; an exception is a failure, not a crash. */
  def attempt[A](what: => String)(f: => A): Option[A] = {
    val r = try Right(f) catch { case scala.util.control.NonFatal(e) => Left(e) }
    tally(r.isRight, s"$what: ${r.left.toOption.orNull}")
    r.toOption
  }

  def startSession(master: String): SparkSession = {
    val local = Files.createDirectories(dir("spark-local"))
    spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", master.stripPrefix("local[").stripSuffix("]"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", dir("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** One measured phase: the operations a workload ran and what Spark
  * reported about them.
  */
final class Phase {
  var wallS = 0.0
  /** Envelopes ingested per second (ingest workloads). */
  var eventsPerS = Double.NaN
  /** Envelopes per second of each drain. */
  val eventsSamples = mutable.ArrayBuffer.empty[Double]
  /** Per file: ms from its availability to the commit of its batch. */
  val commitLagMs = mutable.ArrayBuffer.empty[Double]
  /** Per drain: the median and 90th percentile of its files' commit lag. */
  val drainLagMs = mutable.ArrayBuffer.empty[(Double, Double)]
  /** Per dashboard call: function, ms from issue to collected result, rows. */
  val calls = mutable.ArrayBuffer.empty[(Fn, Double, Int)]
  /** Calls completed within the measured window, counting a call that
    * straddles its end by the share inside, so call counts are not rounded.
    */
  var callsInWindow = 0.0
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  val bmwProgress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  val lateMs = mutable.ArrayBuffer.empty[Double]
  var backlogFilesMax = 0
  var drains = 0

  def ops: Int = drains + calls.size
  def callMs: Seq[Double] = calls.map(_._2).toSeq
}

trait Workload {
  def ctx: Ctx
  /** One repetition of the set-up: generate the inputs, build the stores. */
  def setup(): Unit
  /** Set-up done once, after the repetitions: warm-up, stream start. */
  def prepare(): Unit = ()
  def measure(seconds: Int): Phase
  /** End-to-end metrics of a phase, by name: (value, unit). */
  def endToEnd(p: Phase): Seq[(String, Double, String)]
  /** Layer metrics only this workload can give (convert, sources), from
    * the traced phase and Spark's counter deltas over it.
    */
  def layers(p: Phase, m: Map[String, Long]): Map[String, Double]
  /** Output checks done once, after measuring. */
  def finish(): Unit
  def close(): Unit = ()
}

object Streams {
  def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.batchDuration

  def dataBatches(ps: Iterable[StreamingQueryProgress]): Vector[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0).toVector.sortBy(_.batchId)

  /** The commit time (epoch ms) of each file, given its line count, from
    * the cumulative input rows of the batches: the file source takes files
    * in order, so a file is committed by the first batch whose cumulative
    * rows reach the file's last line. `skipRows` are rows read before the
    * first of these files.
    */
  def commitTimes(fileRows: Seq[Int], ps: Seq[StreamingQueryProgress],
                  skipRows: Long = 0L): Seq[Option[Long]] = {
    val batches = dataBatches(ps)
    val cum = batches.scanLeft(0L)(_ + _.numInputRows).tail
    var b = 0
    var rows = skipRows
    fileRows.map { n =>
      rows += n
      while (b < cum.size && cum(b) < rows) b += 1
      if (b < cum.size) Some(endMs(batches(b))) else None
    }
  }

  def dupsDropped(ps: Iterable[StreamingQueryProgress]): Long =
    ps.iterator.flatMap(_.stateOperators.iterator).flatMap(_.customMetrics.asScala)
      .collect { case (k, v) if k.toLowerCase.contains("dropduplicate") ||
        k.toLowerCase.contains("droppedduplicate") => v.longValue }.sum

  /** Wait until `q` has committed `rows` input rows or `timeoutMs` passes. */
  def awaitRows(q: StreamingQuery, rows: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = q.recentProgress.map(_.numInputRows).sum >= rows
    while (!done && System.currentTimeMillis() < deadline && q.isActive) Thread.sleep(20)
    done
  }
}

object Main {
  val Usage = "usage: perfbench.Main --workload <ingest_backlog|dashboard|live> " +
    "--seed <n> --seconds <n> --trace <0|1> --work <dir>"

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k; $Usage"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  /** Every per-layer metric and its unit, printed on every traced run;
    * a layer a workload does not exercise reads 0.
    */
  val LayerUnits: Seq[(String, String)] = Seq(
    "convert.ns_per_event" -> "ns", "convert.records_per_event" -> "count",
    "convert.filtered_share" -> "ratio", "convert.dead_letter_share" -> "ratio",
    "streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms",
    "streaming.addBatch_ms" -> "ms", "streaming.getBatch_ms" -> "ms",
    "streaming.latestOffset_ms" -> "ms", "streaming.queryPlanning_ms" -> "ms",
    "streaming.walCommit_ms" -> "ms", "streaming.commitOffsets_ms" -> "ms",
    "streaming.jobs_per_batch" -> "count", "streaming.bmw_state_rows" -> "count",
    "streaming.bmw_state_bytes" -> "B", "streaming.bmw_dups_dropped" -> "count",
    "streaming.backlog_files_max" -> "count", "streaming.fresh_p50_ms" -> "ms",
    "streaming.fresh_p95_ms" -> "ms", "streaming.local1_events_per_s" -> "1/s",
    "streaming.speedup_vs_local1" -> "ratio", "loadgen.late_ms_p95" -> "ms",
    "sources.store_write_ms" -> "ms", "sources.files_written" -> "count",
    "sources.files_per_date" -> "count", "sources.bytes_per_record" -> "B") ++
    Fn.all.map(f => s"queries.${f.name}.p50_ms" -> "ms") ++ Seq(
    "queries.plan_ms" -> "ms", "queries.exec_ms" -> "ms",
    "queries.jobs_per_call" -> "count", "queries.tasks_per_call" -> "count",
    "queries.files_read_per_call" -> "count", "queries.dates_read_share" -> "ratio",
    "queries.rows_scanned_per_row_returned" -> "ratio",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.shuffle_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.executor_run_share" -> "ratio",
    "run.ingest_events_per_s" -> "1/s", "run.query_p50_ms" -> "ms",
    "run.query_p95_ms" -> "ms", "run.queries_per_s" -> "1/s", "run.failed_share" -> "ratio",
    "trace.overhead_pct" -> "%", "trace.spans" -> "count",
    "trace.self_convert_ms" -> "ms", "trace.self_streaming_ms" -> "ms",
    "trace.self_sources_ms" -> "ms", "trace.self_queries_ms" -> "ms")

  def main(args: Array[String]): Unit = {
    val opts = try parse(args) catch {
      case e: Exception => System.err.println(e.getMessage); sys.exit(2)
    }
    val ctx = new Ctx(opts, ManagementFactory.getRuntimeMXBean.getStartTime)
    val code = try { run(ctx); 0 } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run aborted: $e")
        e.printStackTrace()
        1
    } finally {
      Option(ctx.spark).foreach(_.stop())
      graft.util.FsUtil.deleteRecursively(opts.work.toFile)
    }
    // exit explicitly: no stray non-daemon thread may keep the JVM alive
    sys.exit(code)
  }

  def run(ctx: Ctx): Unit = {
    val o = ctx.opts
    graft.util.FsUtil.deleteRecursively(o.work.toFile)
    Files.createDirectories(o.work)
    ctx.startSession(s"local[${Runtime.getRuntime.availableProcessors}]")
    val sessionS = (System.currentTimeMillis() - ctx.jvmStartMs) / 1000.0
    val w: Workload = o.workload match {
      case "ingest_backlog" => new IngestBacklog(ctx)
      case "dashboard"      => new DashboardLoad(ctx)
      case "live"           => new LiveLoad(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other; $Usage")
    }
    try {
      // set-up time: session start and warm-up once, plus the median of
      // repeated input set-ups (generation, store build); the last is kept
      val reps = (1 to Setup.Reps).map { _ =>
        val t0 = System.nanoTime()
        w.setup()
        (System.nanoTime() - t0) / 1e9
      }
      val t0 = System.nanoTime()
      w.prepare()
      val setupS = sessionS + Stats.median(reps) + (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: session $sessionS%.2f s, set-up reps " +
        f"${reps.map(r => f"$r%.2f").mkString(" ")} s, warm-up ${setupS - sessionS - Stats.median(reps)}%.2f s")

      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) {
          Heap.reset()
          val p = w.measure(o.seconds)
          val heap = Heap.peakMb()
          w.finish()
          Seq(("setup_s", setupS, "s")) ++ w.endToEnd(p) ++ Seq(("heap_peak_mb", heap, "MB"))
        } else traced(ctx, w)
      val out = metrics.map { case (k, v, u) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
      val ok = ctx.failed.get == 0 && metrics.forall(m => !m._2.isNaN)
      println(s"""{"correct":$ok,"attempted":${math.max(1L, ctx.attempted.get)},"failed":${ctx.failed.get},"metrics":$out}""")
    } finally w.close()
  }

  /** The traced run: an untraced phase, the same phase with spans and
    * listeners on, and an untraced phase again. Per-layer metrics come from
    * the traced phase; the tracing overhead is its throughput against the
    * mean of the untraced phases around it, which cancels steady warm-up.
    */
  def traced(ctx: Ctx, w: Workload): Seq[(String, Double, String)] = {
    val o = ctx.opts
    val untraced1 = w.measure(o.seconds)
    val meter = new Meter(ctx.spark)
    meter.install()
    ctx.spans.enabled = true
    val counts0 = meter.snapshot
    val p = w.measure(o.seconds)
    Thread.sleep(200) // let the listener bus deliver the phase's last events
    val m = Meter.delta(counts0, meter.snapshot)
    meter.remove()
    ctx.spans.enabled = false
    val untraced2 = w.measure(o.seconds)
    ctx.spans.enabled = true
    val layer = mutable.LinkedHashMap.empty[String, Double]
    LayerUnits.foreach { case (k, _) => layer(k) = 0.0 }
    layer ++= common(ctx, p, m)
    layer ++= w.layers(p, m)
    val (a, b) = ((primary(untraced1) + primary(untraced2)) / 2, primary(p))
    layer("trace.overhead_pct") = Stats.ratio(a - b, a) * 100
    w.finish()
    val self = ctx.spans.selfTimes
    Seq("convert", "streaming", "sources", "queries").foreach { l =>
      layer(s"trace.self_${l}_ms") = self.collect { case (n, (_, _, s)) if n.startsWith(l + ".") => s }.sum
    }
    layer("trace.spans") = ctx.spans.all.size.toDouble
    layer("run.failed_share") = Stats.ratio(ctx.failed.get.toDouble, ctx.attempted.get.toDouble)
    ctx.spans.write(o.work.getParent.resolve(s"trace-${o.workload}-${o.seed}.json"), layer.toMap)
    System.err.println(f"perfbench: tracing overhead ${layer("trace.overhead_pct")}%.1f%% " +
      f"(throughput untraced $a%.2f, traced $b%.2f)")
    LayerUnits.map { case (k, u) => (k, layer(k), u) }
  }

  /** The workload's throughput: envelopes per second on a drain, dashboard
    * calls per second otherwise.
    */
  def primary(p: Phase): Double =
    if (p.drains > 0) p.eventsPerS else p.callsInWindow / p.wallS

  /** Layer metrics every workload computes the same way. */
  def common(ctx: Ctx, p: Phase, m: Map[String, Long]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    val ops = math.max(1, p.ops).toDouble
    out("spark.jobs") = m("jobs") / ops
    out("spark.tasks") = m("tasks") / ops
    out("spark.shuffle_bytes") = m("shuffle_bytes") / ops
    out("spark.spill_bytes") = m("spill_bytes") / ops
    out("spark.executor_run_share") = Stats.ratio(m("run_ms"), p.wallS * 1000 * ctx.cores)
    val data = Streams.dataBatches(p.progress ++ p.bmwProgress)
    if (data.nonEmpty) {
      def phase(k: String) = Stats.median(data.map(b => Option(b.durationMs.get(k)).fold(0.0)(_.toDouble)))
      out("streaming.batches") = (p.progress.size + p.bmwProgress.size) / math.max(1.0, p.drains)
      out("streaming.batch_ms_p50") = phase("triggerExecution")
      Seq("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")
        .foreach(k => out(s"streaming.${k}_ms") = phase(k))
      out("streaming.jobs_per_batch") = Stats.ratio(m("stream_jobs"), p.progress.size + p.bmwProgress.size)
    }
    p.bmwProgress.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
      out("streaming.bmw_state_rows") = s.numRowsTotal.toDouble
      out("streaming.bmw_state_bytes") = s.memoryUsedBytes.toDouble
    }
    out("streaming.bmw_dups_dropped") = Streams.dupsDropped(p.bmwProgress) / math.max(1.0, p.drains)
    out("streaming.backlog_files_max") = p.backlogFilesMax
    if (p.commitLagMs.nonEmpty) {
      out("streaming.fresh_p50_ms") = Stats.median(p.commitLagMs)
      out("streaming.fresh_p95_ms") = Stats.pct(p.commitLagMs, 95)
    }
    if (p.lateMs.nonEmpty) out("loadgen.late_ms_p95") = Stats.pct(p.lateMs, 95)
    if (p.calls.nonEmpty) {
      val n = p.calls.size.toDouble
      p.calls.groupBy(_._1).foreach { case (f, cs) => out(s"queries.${f.name}.p50_ms") = Stats.median(cs.map(_._2)) }
      out("queries.plan_ms") = m("plan_ns") / 1e6 / n
      out("queries.exec_ms") = m("exec_ns") / 1e6 / n
      out("queries.jobs_per_call") = (m("jobs") - m("stream_jobs")) / n
      out("queries.tasks_per_call") = (m("tasks") - m("stream_tasks")) / n
      out("queries.files_read_per_call") = m("files_read") / n
      out("queries.rows_scanned_per_row_returned") =
        Stats.ratio(m("rows_scanned"), p.calls.map(_._3.toDouble).sum)
      out("run.query_p50_ms") = Stats.median(p.callMs)
      out("run.query_p95_ms") = Stats.pct(p.callMs, 95)
      out("run.queries_per_s") = p.callsInWindow / p.wallS
    }
    if (!p.eventsPerS.isNaN) out("run.ingest_events_per_s") = p.eventsPerS
    out.toMap
  }
}

object Setup {
  /** Set-up repetitions per run; `setup_s` reports their median. */
  val Reps = 3
  /** End of the generated history: 2024-03-01T00:00:00Z. */
  val NowS: Long = 1709251200L
  val Day = 86400L

  def delete(p: Path): Unit = graft.util.FsUtil.deleteRecursively(p.toFile)

  /** Parquet files under `dir` (recursively): count, total bytes, dates. */
  def parquetFiles(dir: Path): (Int, Long, Int) = {
    val files = Files.walk(dir).iterator.asScala.filter(f =>
      Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toVector
    val dates = files.flatMap(f => Option(f.getParent).map(_.getFileName.toString))
      .filter(_.startsWith("date=")).distinct.size
    (files.size, files.map(Files.size).sum, dates)
  }
}
