package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]; NaN when empty. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val x = (s.length - 1) * p / 100.0
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (x - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
  /** `a / b`, or 0 when there is nothing to divide by. */
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

/** One timed layer call; `op` is shared by every span of one call or drain. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory spans around the benchmark's calls into each layer: name,
  * start, end, parent span and the id shared by every span of one call or
  * drain. Recording is off unless [[enabled]]; spans are written out once,
  * at the end of a traced run.
  */
final class Spans {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def newOp(): Long = ids.incrementAndGet()

  /** Run `f` inside a span; `op` starts a new operation, else the span
    * joins its parent's.
    */
  def apply[A](name: String, op: Long = 0)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.get.headOption
      val id = ids.incrementAndGet()
      val opId = if (op != 0) op else parent.fold(id)(_._2)
      stack.set((id, opId) :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent.fold(0L)(_._1), opId, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Vector[Span] = spans.asScala.toVector

  /** Per span name: (count, total ms, self ms), where a span's self time is
    * its duration less the part of it its children cover.
    */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val self = group.map { s =>
        val covered = kids.getOrElse(s.id, Vector.empty)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
            if (a >= end) (sum + (b - a), b)
            else if (b > end) (sum + (b - end), b)
            else (sum, end)
          }._1
        (s.endNs - s.startNs - covered) / 1e6
      }
      name -> (group.size, group.map(_.ms).sum, self.sum)
    }
  }

  def write(path: Path, extra: Map[String, Double]): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString(",\n"))
    sb.append("],\n\"self_times\":{")
    sb.append(selfTimes.toSeq.sortBy(_._1).map { case (n, (c, tot, self)) =>
      s""""$n":{"count":$c,"total_ms":$tot,"self_ms":$self}""" }.mkString(",\n"))
    sb.append("},\n\"metrics\":{")
    sb.append(extra.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
      .mkString(",\n"))
    sb.append("}}\n")
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(UTF_8))
  }
}

/** Spark's own counts, read through its public listener interfaces:
  * jobs, tasks, executor run time, shuffle and spill bytes (split into
  * streaming and other jobs), and, per finished batch query, planning and
  * execution time and what its file scans read.
  */
final class Meter(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs, streamJobs, tasks, streamTasks, runMs, shuffleBytes, spillBytes = new LongAdder
  val planNs, execNs, filesRead, datesRead, rowsScanned = new LongAdder
  /** Stages of streaming jobs, so their tasks can be told apart. */
  private val streamStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)) {
      streamJobs.increment()
      e.stageIds.foreach(streamStages.add)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    if (streamStages.contains(e.stageId)) streamTasks.increment()
    Option(e.taskMetrics).foreach { m =>
      runMs.add(m.executorRunTime)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (!qe.isInstanceOf[IncrementalExecution]) {
      planNs.add(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
      execNs.add(durationNs)
      Meter.scans(qe).foreach { s =>
        def metric(k: String) = s.metrics.get(k).fold(0L)(_.value)
        filesRead.add(metric("numFiles"))
        datesRead.add(metric("numPartitions"))
        rowsScanned.add(metric("numOutputRows"))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot: Map[String, Long] = Map("jobs" -> jobs.sum, "stream_jobs" -> streamJobs.sum,
    "tasks" -> tasks.sum, "stream_tasks" -> streamTasks.sum, "run_ms" -> runMs.sum, "shuffle_bytes" -> shuffleBytes.sum,
    "spill_bytes" -> spillBytes.sum, "plan_ns" -> planNs.sum,
    "exec_ns" -> execNs.sum, "files_read" -> filesRead.sum, "dates_read" -> datesRead.sum,
    "rows_scanned" -> rowsScanned.sum)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Meter extends AdaptiveSparkPlanHelper {
  def scans(qe: QueryExecution): Seq[FileSourceScanExec] =
    collect(qe.executedPlan) { case s: FileSourceScanExec => s }

  /** Counter deltas between two snapshots. */
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** Peak heap after garbage collection, read from the JVM's collection
  * notifications: the largest live set between [[reset]] and [[peakMb]].
  */
object Heap {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData

  private val peak = new AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = peak.set(0)
  /** Collect once so the window has at least one sample, then read. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(50)
    peak.get / (1024.0 * 1024.0)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
