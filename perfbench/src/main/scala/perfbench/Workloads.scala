package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ConditionsView
import graft.convert.{Bmw, Converters}
import graft.sources.ConditionsTable
import graft.streaming.IngestPipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import Setup.{Day, NowS}

/** The convert layer timed on its own: every envelope through
  * `Converters.convertEventEither` or `Bmw.convertMessage`, single-threaded,
  * best of three passes; the outcome counts are checked against the
  * generator's.
  */
object ConvertPass {
  def apply(ctx: Ctx, mqtt: Array[Envelope], bmw: Array[Envelope]): Map[String, Double] = {
    var records, filtered, dead = 0L
    val ns = (1 to 3).map { _ =>
      records = 0; filtered = 0; dead = 0
      ctx.spans("convert.pass") {
        val t0 = System.nanoTime()
        mqtt.foreach(e => Converters.convertEventEither(e.line) match {
          case Left(_)        => dead += 1
          case Right(None)    => filtered += 1
          case Right(Some(r)) => records += r.size
        })
        bmw.foreach(e => Bmw.convertMessage(e.line) match {
          case None    => dead += 1
          case Some(r) => records += r.size
        })
        System.nanoTime() - t0
      }
    }.min
    val mc = Counts.of(mqtt)
    val bc = Counts.of(bmw)
    // a duplicate poll converts like its original; dedup drops it later
    val want = mc.records + bc.records + bc.duplicates * 6
    ctx.tally(records == want && dead == mc.malformed && filtered == mc.filtered,
      s"convert: $records records, $filtered filtered, $dead dead letters; want $want, " +
        s"${mc.filtered}, ${mc.malformed}")
    val n = (mqtt.length + bmw.length).toDouble
    Map("convert.ns_per_event" -> ns / n, "convert.records_per_event" -> records / n,
      "convert.filtered_share" -> filtered / n, "convert.dead_letter_share" -> dead / n)
  }
}

/** `ingest_backlog`: a seeded backlog of envelopes drained again and again
  * by `startMqtt` and `startBmw` under `Trigger.AvailableNow`, each drain
  * into a fresh store; no query runs.
  */
final class IngestBacklog(val ctx: Ctx) extends Workload {
  private val root = ctx.dir("ingest")
  private val mqttDir = root.resolve("mqtt_in")
  private val bmwDir = root.resolve("bmw_in")
  private var mqtt: Array[Envelope] = _
  private var bmw: Array[Envelope] = _
  private var mqttFiles, bmwFiles = Vector.empty[Int]
  private var drains = 0
  private var lastOut: Option[Path] = None

  def setup(): Unit = {
    Setup.delete(root)
    lastOut = None
    val gen = new Gen(ctx.opts.seed)
    mqtt = gen.mqtt(IngestBacklog.MqttEnvelopes, NowS - IngestBacklog.Days * Day, NowS)
    bmw = gen.bmw(NowS - IngestBacklog.Days * Day, NowS, IngestBacklog.PollS)
    val staging = root.resolve("staging")
    mqttFiles = Gen.writeFiles(mqttDir, "mqtt", mqtt, 2000, staging)
    bmwFiles = Gen.writeFiles(bmwDir, "bmw", bmw, 500, staging)
  }

  /** The first drains in a JVM run cold: warm up here. */
  override def prepare(): Unit = {
    (1 to IngestBacklog.WarmDrains).foreach(_ => drain(new Phase))
    checkDrains()
  }

  /** One drain of the whole backlog into a fresh store; its output is
    * checked later, by [[checkDrains]].
    */
  private def drain(p: Phase): Unit = {
    drains += 1
    val out = root.resolve(s"drain-$drains")
    val spark = ctx.spark
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val qs = ctx.attempt(s"drain $drains") {
      ctx.spans("streaming.drain", ctx.spans.newOp()) {
        val qm = ctx.spans("streaming.startMqtt")(IngestPipeline.startMqtt(spark,
          mqttDir.toString, out.resolve("conditions").toString, out.resolve("ckpt_mqtt").toString))
        val qb = ctx.spans("streaming.startBmw")(IngestPipeline.startBmw(spark,
          bmwDir.toString, out.resolve("conditions_bmw").toString,
          out.resolve("monitor_bmw").toString, out.resolve("ckpt_bmw").toString))
        ctx.spans("streaming.await") { qm.awaitTermination(); qb.awaitTermination() }
        (qm, qb)
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    qs.foreach { case (qm, qb) =>
      p.drains += 1
      p.wallS += s
      p.eventsSamples += (mqtt.length + bmw.length) / s
      val pm = qm.recentProgress.toSeq
      val pb = qb.recentProgress.toSeq
      p.progress ++= pm
      p.bmwProgress ++= pb
      val lags = Seq(mqttFiles -> pm, bmwFiles -> pb).flatMap { case (files, ps) =>
        Streams.commitTimes(files, ps).map(_.fold(Double.NaN)(c => (c - startMs).toDouble))
      }
      p.commitLagMs ++= lags
      p.drainLagMs += (Stats.median(lags) -> Stats.pct(lags, 90))
      unchecked += (out -> pb)
    }
  }

  private val unchecked = mutable.ArrayBuffer.empty[(Path, Seq[StreamingQueryProgress])]

  /** Check every drain's output against the generator's counts; keep the
    * last drain's store for the sources metrics.
    */
  private def checkDrains(): Unit = {
    val mc = Counts.of(mqtt)
    val bc = Counts.of(bmw)
    unchecked.foreach { case (out, bmwProgress) =>
      def rows(d: String) = ctx.spark.read.parquet(out.resolve(d).toString).count()
      lazy val got = (rows("conditions"), rows("conditions_bmw"), rows("monitor_bmw"),
        Streams.dupsDropped(bmwProgress))
      ctx.check(s"drain committed (mqtt, bmw, monitor records, duplicates dropped) $got; " +
        s"want (${mc.records}, ${bc.records}, ${bc.records}, ${bc.duplicates})") {
        got == ((mc.records, bc.records, bc.records, bc.duplicates))
      }
      lastOut.foreach(Setup.delete)
      lastOut = Some(out)
    }
    unchecked.clear()
  }

  def measure(seconds: Int): Phase = {
    val p = new Phase
    val deadline = System.nanoTime() + seconds * 1000000000L
    var failed = false
    while (!failed && (p.drains == 0 || System.nanoTime() < deadline)) {
      val before = p.drains
      drain(p)
      failed = p.drains == before // a failed drain is counted; stop there
    }
    checkDrains()
    System.err.println(s"perfbench: drains of ${p.eventsSamples.map(r => f"${(mqtt.length + bmw.length) / r}%.2f").mkString(" ")} s")
    p.eventsPerS = Stats.median(p.eventsSamples)
    p.backlogFilesMax = mqttFiles.size + bmwFiles.size
    p
  }

  /** Latency: a file's wait from the drain's start to its batch's commit,
    * as the median over drains of each drain's median and 90th percentile.
    * `startMqtt` and `startBmw` take no `maxFilesPerTrigger`, so each
    * stream commits its whole backlog in one batch: every file's wait is
    * its stream's drain time. Both percentiles are thus drain wall times
    * (the MQTT stream's, which holds most files, and at most the later
    * stream's), not a spread of waits, and they move with the throughput.
    */
  def endToEnd(p: Phase): Seq[(String, Double, String)] = Seq(
    ("throughput_per_s", p.eventsPerS, "1/s"),
    ("latency_p50_ms", Stats.median(p.drainLagMs.map(_._1)), "ms"),
    ("latency_p90_ms", Stats.median(p.drainLagMs.map(_._2)), "ms"))

  def layers(p: Phase, m: Map[String, Long]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    out ++= ConvertPass(ctx, mqtt, bmw)
    lastOut.foreach { d =>
      val (files, bytes, dates) = Setup.parquetFiles(d.resolve("conditions"))
      val (bFiles, bBytes, bDates) = Setup.parquetFiles(d.resolve("conditions_bmw"))
      val records = Counts.of(mqtt).records + Counts.of(bmw).records
      out("sources.files_written") = files + bFiles
      out("sources.files_per_date") = Stats.ratio(files + bFiles, dates + bDates)
      out("sources.bytes_per_record") = Stats.ratio(bytes + bBytes, records)
    }
    // the single-core baseline: one untraced drain on local[1]
    val cores = ctx.cores
    ctx.spark.stop()
    ctx.startSession("local[1]")
    val one = new Phase
    ctx.spans.enabled = false
    drain(one)
    ctx.spans.enabled = true
    ctx.spark.stop()
    ctx.startSession(s"local[$cores]")
    checkDrains()
    if (one.eventsSamples.nonEmpty) {
      out("streaming.local1_events_per_s") = one.eventsSamples.head
      out("streaming.speedup_vs_local1") = Stats.ratio(p.eventsPerS, one.eventsSamples.head)
    }
    out.toMap
  }

  def finish(): Unit = {
    lazy val dead = ConditionsTable.deadLetters(ctx.spark,
      ctx.spark.read.textFile(mqttDir.toString)).count()
    ctx.check(s"dead letters $dead, want ${Counts.of(mqtt).malformed}") {
      dead == Counts.of(mqtt).malformed
    }
  }
}

object IngestBacklog {
  val MqttEnvelopes = 60000
  /** Event-time span of the backlog: one date partition per day. */
  val Days = 3
  /** The reference's BMW poll cadence, every 10 minutes
    * (`bmw_update/function.json:8`).
    */
  val PollS = 600
  /** The JIT keeps speeding drains up through the first few. */
  val WarmDrains = 4
}

/** The dashboard store: 32 days of generated history, written with
  * `ConditionsTable.write` from the envelopes the converters turn into
  * records.
  */
final class History(ctx: Ctx) {
  private val root = ctx.dir("history")
  val store: Path = root.resolve("conditions")
  var gen: Gen = _
  var mqtt: Array[Envelope] = _
  var bmw: Array[Envelope] = _
  var writeMs = 0.0

  def build(): Unit = {
    Setup.delete(root)
    gen = new Gen(ctx.opts.seed)
    mqtt = gen.mqtt(History.MqttEnvelopes, NowS - History.Days * Day, NowS)
    // the history holds what dedup kept: no duplicate polls; a poll every
    // 30 min (an assumption) keeps the store smaller than the reference's 10
    bmw = gen.bmw(NowS - History.Days * Day, NowS, 1800, duplicateShare = 0)
    val staging = root.resolve("staging")
    Gen.writeFiles(root.resolve("mqtt_in"), "mqtt", mqtt, 5000, staging)
    Gen.writeFiles(root.resolve("bmw_in"), "bmw", bmw, 5000, staging)
    val spark = ctx.spark
    val t0 = System.nanoTime()
    import spark.implicits._
    val records = ConditionsTable.normalize(spark, spark.read.textFile(root.resolve("mqtt_in").toString))
      .union(spark.read.textFile(root.resolve("bmw_in").toString)
        .flatMap(Bmw.convertMessage(_).getOrElse(Vector.empty)))
    ConditionsTable.write(ConditionsTable.toStorage(records), store.toString)
    writeMs = (System.nanoTime() - t0) / 1e6
    val want = Counts.of(mqtt).records + Counts.of(bmw).records
    lazy val got = view.df.count()
    ctx.check(s"history store holds $got records, want $want")(got == want)
  }

  def view: ConditionsView = ConditionsView.fromParquet(ctx.spark, store.toString)

  def sources: Map[String, Double] = {
    val (files, bytes, dates) = Setup.parquetFiles(store)
    Map("sources.store_write_ms" -> writeMs, "sources.files_written" -> files.toDouble,
      "sources.files_per_date" -> Stats.ratio(files, dates),
      "sources.bytes_per_record" -> Stats.ratio(bytes, Counts.of(mqtt).records + Counts.of(bmw).records))
  }

  def dates: Int = Setup.parquetFiles(store)._3
}

object History {
  val Days = 32
  val MqttEnvelopes = 35000
}

/** Closed-loop dashboard clients: each issues its next call when the last
  * returns, until the deadline. A call that ends after the deadline counts
  * toward [[Phase.callsInWindow]] with the share of it that ran before.
  */
object Clients {
  def run(ctx: Ctx, p: Phase, decks: Seq[Dashboard.Deck], view: () => ConditionsView,
          seconds: Int): Seq[(Call, Array[Row])] = {
    val checked = new ConcurrentLinkedQueue[(Call, Array[Row])]
    val done = new ConcurrentLinkedQueue[(Fn, Double, Int)]
    val inWindow = new java.util.concurrent.atomic.DoubleAdder
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    val threads = decks.map { deck =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          val c = deck.next()
          val t0 = System.nanoTime()
          val rows = ctx.attempt(s"${c.fn.name}($c)") {
            ctx.spans("call", ctx.spans.newOp()) {
              val v = ctx.spans("sources.read")(view())
              Dashboard.run(ctx.spark, v, c, ctx.spans)
            }
          }
          val t1 = System.nanoTime()
          rows.foreach { r =>
            done.add((c.fn, (t1 - t0) / 1e6, r.length))
            inWindow.add((math.min(t1, deadline) - t0).toDouble / math.max(1L, t1 - t0))
            if (c.check) checked.add((c, r))
          }
        }
      }, "dashboard-client")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    p.calls ++= done.asScala
    p.callsInWindow = inWindow.sum
    p.wallS = seconds
    checked.asScala.toSeq
  }

  /** Run the first call of each of the nine functions the deck deals, untimed. */
  def warm(ctx: Ctx, deck: Dashboard.Deck, view: () => ConditionsView): Unit = {
    var seen = Set.empty[Fn]
    while (seen.size < Fn.all.size) {
      val c = deck.next()
      if (!seen(c.fn)) {
        seen += c.fn
        ctx.attempt(s"warm-up ${c.fn.name}")(Dashboard.run(ctx.spark, view(), c, ctx.spans))
      }
    }
  }

  def verify(ctx: Ctx, checked: Seq[(Call, Array[Row])], truth: Truth): Unit =
    checked.foreach { case (c, rows) =>
      ctx.tally(Dashboard.verify(c, rows, truth), s"result of $c differs from the truth")
    }
}

/** `dashboard`: two closed-loop clients issue the nine calls in equal
  * shares against the history store; convert and streaming sit idle.
  */
final class DashboardLoad(val ctx: Ctx) extends Workload {
  private val history = new History(ctx)
  private var view: ConditionsView = _
  private var phases = 0

  private def deck(client: Int, checkEvery: Int) = new Dashboard.Deck(
    ctx.opts.seed * 1000 + phases * 10 + client, history.gen.vins, () => NowS, 6 * 3600, checkEvery)

  def setup(): Unit = {
    history.build()
    view = history.view
  }

  override def prepare(): Unit = Clients.warm(ctx, deck(9, 1), () => view)

  def measure(seconds: Int): Phase = {
    phases += 1
    val p = new Phase
    val checked = Clients.run(ctx, p, (0 until DashboardLoad.ClientCount).map(deck(_, 4)), () => view, seconds)
    Clients.verify(ctx, checked, history.gen.truth)
    p
  }

  def endToEnd(p: Phase): Seq[(String, Double, String)] = Seq(
    ("throughput_per_s", p.callsInWindow / p.wallS, "1/s"),
    ("latency_p50_ms", Stats.median(p.callMs), "ms"),
    ("latency_p90_ms", Stats.pct(p.callMs, 90), "ms"))

  def layers(p: Phase, m: Map[String, Long]): Map[String, Double] =
    ConvertPass(ctx, history.mqtt, history.bmw) ++ history.sources +
      ("queries.dates_read_share" -> Stats.ratio(m("dates_read"), p.calls.size.toDouble * history.dates))

  def finish(): Unit = ()
}

object DashboardLoad {
  /** Concurrent dashboard users: an unverified assumption. */
  val ClientCount = 2
}

/** `live`: an open-loop generator lands envelope files at a fixed rate
  * into a `startMqtt` stream with a processing-time trigger, while one
  * closed-loop client runs the dashboard mix over the history plus the
  * growing live store.
  */
final class LiveLoad(val ctx: Ctx) extends Workload {
  import LiveLoad._
  private val history = new History(ctx)
  private val root = ctx.dir("live")
  private val in = root.resolve("in")
  private val out = root.resolve("conditions")
  private var gen: Gen = _
  private var query: StreamingQuery = _
  @volatile private var landedFiles = 0
  @volatile private var landedRows = 0L
  @volatile private var landed = Counts.zero
  private var historyView: ConditionsView = _
  private var phases = 0

  private def simNowS: Long = NowS + landedFiles * SimSecondsPerFile
  private def view(): ConditionsView =
    new ConditionsView(historyView.df.unionByName(ConditionsTable.read(ctx.spark, out.toString)))
  private def deck(client: Int, nowS: () => Long, checkEvery: Int) = new Dashboard.Deck(
    ctx.opts.seed * 1000 + phases * 10 + client, history.gen.vins, nowS, 0, checkEvery)

  def setup(): Unit = {
    history.build()
    historyView = history.view
  }

  /** The next `n` live files, each [[SimSecondsPerFile]] of event time. */
  private def files(n: Int): Vector[Array[Envelope]] = Vector.tabulate(n) { k =>
    val fromS = NowS + (landedFiles + k) * SimSecondsPerFile
    gen.mqtt(EventsPerS * IntervalMs / 1000, fromS, fromS + SimSecondsPerFile)
  }

  private def land(es: Array[Envelope]): Unit = {
    Gen.land(in, root.resolve("staging"), f"live-$landedFiles%06d.jsonl", es)
    landedFiles += 1
    landedRows += es.length
    landed = landed + Counts.of(es)
  }

  override def prepare(): Unit = {
    Setup.delete(root)
    Files.createDirectories(in)
    Files.createDirectories(root.resolve("staging"))
    gen = new Gen(ctx.opts.seed + 1)
    query = IngestPipeline.startMqtt(ctx.spark, in.toString, out.toString,
      root.resolve("ckpt").toString, Trigger.ProcessingTime(TriggerMs))
    files(1000 / IntervalMs).foreach(land)
    ctx.tally(Streams.awaitRows(query, landedRows, 120000), "live warm-up files never committed")
    Clients.warm(ctx, deck(8, () => simNowS, Int.MaxValue), () => view())
  }

  def measure(seconds: Int): Phase = {
    phases += 1
    val p = new Phase
    val batch = files(seconds * 1000 / IntervalMs)
    // the last batch that read rows: an idle progress event carries the id
    // of the batch still to come, so it cannot mark where this phase begins
    val firstBatchId = Streams.dataBatches(query.recentProgress).lastOption.fold(-1L)(_.batchId)
    val dueMs = mutable.ArrayBuffer.empty[Long]
    val landedMs = mutable.ArrayBuffer.empty[Long]
    // files are due on a fixed 100 ms grid (offset 50 ms) of the wall
    // clock, so their phase against the trigger's is the same every run
    val start = (System.currentTimeMillis() / IntervalMs + 2) * IntervalMs + IntervalMs / 2
    val loadgen = new Thread(() => {
      batch.indices.foreach { k =>
        val due = start + k * IntervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        land(batch(k))
        dueMs += due
        landedMs += System.currentTimeMillis()
      }
    }, "loadgen")
    loadgen.start()
    Clients.run(ctx, p, (0 until ClientCount).map(deck(_, () => simNowS, Int.MaxValue)), () => view(), seconds)
    loadgen.join()
    System.err.println(f"perfbench: ${p.calls.size} calls, p50 ${Stats.median(p.callMs)}%.0f ms, " +
      f"p95 ${Stats.pct(p.callMs, 95)}%.0f ms")
    ctx.tally(Streams.awaitRows(query, landedRows, 120000),
      s"live stream committed fewer than $landedRows rows")
    val progress = query.recentProgress.toSeq.filter(_.batchId > firstBatchId)
    p.progress ++= progress
    // every earlier row was committed before this phase began
    val commits = Streams.commitTimes(batch.map(_.length), progress)
    commits.zip(dueMs).foreach { case (c, due) =>
      ctx.tally(c.isDefined, "a live file was never committed")
      c.foreach(ms => p.commitLagMs += (ms - due).toDouble)
    }
    p.lateMs ++= landedMs.zip(dueMs).map { case (l, d) => (l - d).toDouble }
    p.backlogFilesMax = landedMs.indices.map { k =>
      k + 1 - commits.count(_.exists(_ <= landedMs(k)))
    }.maxOption.getOrElse(0)
    p
  }

  def endToEnd(p: Phase): Seq[(String, Double, String)] = Seq(
    ("throughput_per_s", p.callsInWindow / p.wallS, "1/s"),
    ("latency_p50_ms", Stats.median(p.commitLagMs), "ms"),
    ("latency_p90_ms", Stats.pct(p.commitLagMs, 90), "ms"))

  def layers(p: Phase, m: Map[String, Long]): Map[String, Double] = {
    val (files, bytes, dates) = Setup.parquetFiles(out)
    ConvertPass(ctx, history.mqtt, history.bmw) ++ history.sources ++ Map(
      "queries.dates_read_share" ->
        Stats.ratio(m("dates_read"), p.calls.size.toDouble * (history.dates + dates)),
      "sources.files_written" -> files.toDouble,
      "sources.files_per_date" -> Stats.ratio(files, dates),
      "sources.bytes_per_record" -> Stats.ratio(bytes, landed.records))
  }

  def finish(): Unit = {
    query.stop()
    lazy val got = (ctx.spark.read.parquet(out.toString).count(),
      ConditionsTable.deadLetters(ctx.spark, ctx.spark.read.textFile(in.toString)).count())
    ctx.check(s"live store (records, dead letters) $got; want (${landed.records}, ${landed.malformed})") {
      got == ((landed.records, landed.malformed))
    }
    // history-only ranges over the same union view the client read
    val d = deck(7, () => NowS - 3600, 1)
    val checks = Iterator.continually(d.next()).filter(_.check).take(8).toSeq
    Clients.verify(ctx, checks.flatMap(c =>
      ctx.attempt(s"check ${c.fn.name}")(Dashboard.run(ctx.spark, view(), c, ctx.spans)).map(c -> _)),
      history.gen.truth)
  }

  override def close(): Unit = Option(query).filter(_.isActive).foreach(_.stop())
}

object LiveLoad {
  /** The offered ingest rate, envelopes per second. Fixed, never derived:
    * about a fifth of `ingest_backlog`'s throughput (25k envelopes/s on a
    * 4-core machine) when the benchmark was set.
    */
  val EventsPerS = 5000
  val ClientCount = 1
  val IntervalMs = 100
  val TriggerMs = 1000L
  val SimSecondsPerFile = 10L
}
