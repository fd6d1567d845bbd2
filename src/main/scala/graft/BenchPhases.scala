package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference, LongAdder}

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQuery

/** The bench's one metrics layer: per-rep phase times for composite
  * rows, and Spark's own counters for every row.
  *
  * Phases. Many bench rows are COMPOSITES: they eagerly build a
  * persisted index / stage streaming input / drain a stream inside the
  * query closure before returning the served DataFrame. The bench
  * harness times the whole closure + count, so a regression in a 13 s
  * composite was previously unattributable ("the gate got slower" —
  * round-7 verdict). Registrations wrap their eager sub-steps in
  * [[timed]]; [[graft.Bench]] emits the collected per-phase seconds as a
  * `"phases"` object next to `"queries"` in the JSON artifact, so
  * round-over-round movement pins to a specific phase (index build vs
  * input staging vs stream drain vs the residual serve/count).
  *
  * Semantics: within one repetition a phase may run several times (a
  * multi-slice stream stages+drains per slice) — [[timed]] ACCUMULATES, so
  * a phase value is that rep's total seconds in the phase. The harness
  * calls [[repStart]] before each rep and snapshots after, keeping the
  * phases of the rep whose TOTAL won the reported min — attribution and
  * total always come from the same run, so `total − Σ phases` is the
  * genuine residual (the lazy serve/count) — PROVIDED the sum excludes
  * the derived keys stream rows carry: `per_batch_s` (a mean),
  * `per_batch_max_s` (a max) and `pb_n` (a count), which are statistics
  * ABOUT the drain phase, not additional wall-clock. Recording is a
  * lock-free map update (~100 ns) — zero impact on the timed work — and
  * the Verify/driver gate path never reads it.
  *
  * Counters ([[repMetrics]], the `"metrics"` object). One read-only
  * `SparkListener` per SparkContext — registered by the first
  * [[repStart]], never per row or rep: listeners piling up on the shared
  * bus made a later row read 2.9× slower in round 15 (SCALING.md) —
  * counts jobs, stages, tasks, shuffle and spill bytes and summed task
  * executor run time. The bus is asynchronous, so a rep is bracketed by
  * FENCES: a one-task marker job whose `JobEnd` the listener must see
  * before the counters are read. The shared queue delivers in order,
  * so by then every event of the rep has been counted; the marker's own
  * job, stage and task are not. Fences run outside the timed region.
  * The same fences read Spark's JVM-wide codegen counters: classes
  * compiled (`CodegenMetrics.METRIC_COMPILATION_TIME`'s count) and the
  * nanoseconds spent compiling them (`CodeGenerator.compileTime`). Both
  * count cache misses only, so a rep that reuses generated code reads 0.
  */
object BenchPhases {

  private val current =
    new scala.collection.concurrent.TrieMap[(String, String), Double]()

  private def add(query: String, key: String, v: Double): Unit =
    current.updateWith((query, key)) { prev => Some(prev.getOrElse(0.0) + v) }

  /** Run `f`, adding its wall-clock seconds to (query, phase) for the
    * current repetition.
    */
  def timed[A](query: String, phase: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    add(query, phase, (System.nanoTime() - t0) / 1e9)
    a
  }

  /** The `durationMs` parts a marginal batch is broken into
    * (`batch_ms`); `triggerExecution` is the whole batch, the number
    * `per_batch_s` averages.
    */
  val BatchParts: Seq[String] = Seq("addBatch", "latestOffset", "getBatch",
    "queryPlanning", "walCommit", "commitOffsets", "triggerExecution")

  /** Drain a streaming query inside `phase` (default `drain`) AND record
    * the per-micro-batch MARGINAL cost: mean seconds of data batches 2..n
    * of the REP (the rep's first data batch excluded — it carries cold JVM
    * codegen, state-store creation and first-touch I/O; empty
    * bookkeeping batches excluded too). Wall-clock drain time at toy
    * scale is dominated by fixed overhead (round-8 verdict: 31% of the
    * bench), so `per_batch_s` is the number that actually predicts 100×
    * behavior — with "steady state" meaning the ROW'S OWN deployment
    * shape: for continuous gates (one stream, `maxFilesPerTrigger`) it
    * is the within-stream marginal batch; for restart-per-slice gates
    * (q_cagg_streamed, q_rate_stream, …, which resume a checkpointed
    * query per arrival — the AvailableNow maintenance-loop shape) each
    * counted batch deliberately INCLUDES checkpoint resume, because
    * that is what every production arrival pays in that loop.
    *
    * The same marginal batches give `batch_ms` (mean `durationMs` per
    * [[BatchParts]] entry, 0 where a batch does not report the part), so
    * `batch_ms.triggerExecution / 1000 == per_batch_s`; every data batch,
    * the first included, counts toward `data_batches`.
    *
    * `start` is by-name so stream construction counts as drain time, the
    * same envelope the inline `timed(...)(X.start(...).awaitTermination())`
    * call sites had. Rows that restart a query per input slice (or chain
    * two queries, each drained in its own phase) accumulate across the
    * drains; `recentProgress` retains the last 100 progress events, far
    * above any bench row's batch count.
    */
  def drainTimed(query: String, phase: String = "drain")(start: => StreamingQuery): Unit = {
    val sq = timed(query, phase) { val q = start; q.awaitTermination(); q }
    sq.recentProgress.toSeq
      .filter(p => p.numInputRows > 0 && p.durationMs.containsKey("triggerExecution"))
      .sortBy(_.batchId)
      .foreach { p =>
        add(query, DataBatches, 1.0)
        if (current.putIfAbsent((query, PbSeen), 1.0).isDefined) {
          val sec = p.durationMs.get("triggerExecution").toDouble / 1000.0
          add(query, PbSum, sec)
          add(query, PbCnt, 1.0)
          current.updateWith((query, PbMax)) { prev => Some(math.max(prev.getOrElse(0.0), sec)) }
          BatchParts.foreach { k =>
            add(query, PartMs + k, Option(p.durationMs.get(k)).fold(0.0)(_.toDouble))
          }
        }
      }
  }

  // hidden accumulators: never in the phase snapshot
  private val Hidden = "__"
  private val PbSeen = "__pb_seen"
  private val PbSum = "__pb_sum"
  private val PbCnt = "__pb_cnt"
  private val PbMax = "__pb_max"
  private val DataBatches = "__data_batches"
  private val PartMs = "__ms_"

  /** Reset accumulation and fence the counters — the harness calls this
    * before each rep.
    */
  def repStart(spark: SparkSession): Unit = {
    current.clear()
    baseline.set(Counters.fence(spark.sparkContext).orNull)
  }

  private def rep(query: String): Map[String, Double] =
    current.readOnlySnapshot().collect { case ((q, p), s) if q == query => p -> s }.toMap

  /** This rep's phases for one query (empty for non-composite rows).
    * The hidden per-batch accumulators fold into `per_batch_s` (MEAN
    * marginal batch seconds), `per_batch_max_s` (the WORST marginal
    * batch — one GC pause or state-store hiccup shows up here, not
    * smeared into the mean) plus `pb_n` (how many marginal batches the
    * mean covers — a count, not seconds).
    */
  def repSnapshot(query: String): Map[String, Double] = {
    val all = rep(query)
    val visible = all.filterNot(_._1.startsWith(Hidden))
    (all.get(PbSum), all.get(PbCnt)) match {
      case (Some(sum), Some(cnt)) if cnt > 0 =>
        visible ++ Seq("per_batch_s" -> sum / cnt, "pb_n" -> cnt,
          "per_batch_max_s" -> all.getOrElse(PbMax, 0.0))
      case _ => visible
    }
  }

  /** One row's Spark counters for a rep: `counters` holds `jobs`,
    * `stages`, `tasks`, `shuffle_read_bytes`, `shuffle_write_bytes`,
    * `spill_bytes` (disk), `executor_run_s` (summed task run time; read it
    * beside the row's wall time for the driver-bound share), `compiles`
    * and `compile_ms` (Janino compiles of generated classes, in any
    * thread of the JVM, and their milliseconds) and, for
    * stream rows, `data_batches` and `jobs_per_batch` (jobs of the row's
    * streaming queries over its data batches); `batchMs` is the mean
    * `durationMs` breakdown of the marginal batches (see [[drainTimed]]).
    */
  final case class RowMetrics(counters: Map[String, Double], batchMs: Map[String, Double])

  /** Close the rep with a fence and return its counters for `query`;
    * `None` when the fence timed out (the bus dropped or stalled events,
    * so the counts would be wrong) or [[repStart]] had no fence.
    */
  def repMetrics(spark: SparkSession, query: String): Option[RowMetrics] =
    for { start <- Option(baseline.get); end <- Counters.fence(spark.sparkContext) } yield {
      val d = end.zip(start).map { case (e, s) => (e - s).toDouble }
      val Array(jobs, streamJobs, stages, tasks, shRead, shWrite, spill, runMs,
        compiles, compileNs) = d
      val all = rep(query)
      val batches = all.getOrElse(DataBatches, 0.0)
      val cnt = all.getOrElse(PbCnt, 0.0)
      val stream =
        if (batches > 0) Map("data_batches" -> batches, "jobs_per_batch" -> streamJobs / batches)
        else Map.empty[String, Double]
      RowMetrics(
        Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
          "shuffle_read_bytes" -> shRead, "shuffle_write_bytes" -> shWrite,
          "spill_bytes" -> spill, "executor_run_s" -> runMs / 1000.0,
          "compiles" -> compiles, "compile_ms" -> compileNs / 1e6) ++ stream,
        if (cnt > 0) BatchParts.map(k => k -> all.getOrElse(PartMs + k, 0.0) / cnt).toMap
        else Map.empty)
    }

  private val baseline = new AtomicReference[Array[Long]]()

  /** The one listener. Counters only ever grow; a rep's metrics are the
    * difference of two fenced snapshots.
    */
  private object Counters extends SparkListener {
    private val jobs, streamJobs, stages, tasks, shRead, shWrite, spill, runMs = new LongAdder
    private val FenceKey = "graft.bench.fence"
    private val fenceJobs = new ConcurrentHashMap[Int, java.lang.Long]()
    private val fenceStages = ConcurrentHashMap.newKeySet[Int]()
    private val issued = new AtomicLong()
    private val seen = new AtomicLong()
    private val on = new AtomicReference[SparkContext]()
    private val FenceTimeoutMs = 60000L

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(FenceKey))) match {
        case Some(token) =>
          fenceJobs.put(e.jobId, token.toLong)
          e.stageIds.foreach(fenceStages.add)
        case None =>
          jobs.increment()
          if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null))
            streamJobs.increment()
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(fenceJobs.remove(e.jobId)).foreach { token =>
        seen.synchronized {
          seen.set(math.max(seen.get, token))
          seen.notifyAll()
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!fenceStages.contains(e.stageInfo.stageId)) stages.increment()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!fenceStages.contains(e.stageId)) {
        tasks.increment()
        Option(e.taskMetrics).foreach { m =>
          shRead.add(m.shuffleReadMetrics.totalBytesRead)
          shWrite.add(m.shuffleWriteMetrics.bytesWritten)
          spill.add(m.diskBytesSpilled)
          runMs.add(m.executorRunTime)
        }
      }

    /** Register the listener on `sc` if it is not there yet, run the
      * marker job and wait until the listener has seen it; the counter
      * snapshot, or `None` on timeout.
      */
    def fence(sc: SparkContext): Option[Array[Long]] = {
      if (on.get ne sc) synchronized {
        if (on.get ne sc) { sc.addSparkListener(this); on.set(sc) }
      }
      val token = issued.incrementAndGet()
      val prev = sc.getLocalProperty(FenceKey)
      sc.setLocalProperty(FenceKey, token.toString)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(FenceKey, prev)
      val deadline = System.currentTimeMillis() + FenceTimeoutMs
      seen.synchronized {
        while (seen.get < token && System.currentTimeMillis() < deadline)
          seen.wait(math.max(1L, deadline - System.currentTimeMillis()))
      }
      if (seen.get < token) None
      else Some(Array(jobs, streamJobs, stages, tasks, shRead, shWrite, spill, runMs).map(_.sum) ++
        Array(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime))
    }
  }
}
