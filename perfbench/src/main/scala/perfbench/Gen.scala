package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import scala.collection.mutable
import scala.util.Random

/** What the pipeline should make of one generated envelope. */
sealed trait Fate
object Fate {
  /** Converts to `Envelope.records` atomic records. */
  case object Records extends Fate
  /** Valid, but an uninteresting topic: dropped, not a dead letter. */
  case object Filtered extends Fate
  /** Unparseable or invalid: a dead letter. */
  case object Malformed extends Fate
  /** A repeated BMW poll (same vin and lastUpdatedAt): dropped by dedup. */
  case object Duplicate extends Fate
}

final case class Envelope(line: String, fate: Fate, records: Int)

/** What a set of envelopes should yield, counted by the generator. */
final case class Counts(envelopes: Long, records: Long, filtered: Long,
                        malformed: Long, duplicates: Long) {
  def +(o: Counts): Counts = Counts(envelopes + o.envelopes, records + o.records,
    filtered + o.filtered, malformed + o.malformed, duplicates + o.duplicates)
}

object Counts {
  val zero: Counts = Counts(0, 0, 0, 0, 0)
  def of(es: Iterable[Envelope]): Counts = es.foldLeft(zero) { (c, e) =>
    c + Counts(1, e.records, if (e.fate == Fate.Filtered) 1 else 0,
      if (e.fate == Fate.Malformed) 1 else 0, if (e.fate == Fate.Duplicate) 1 else 0)
  }
}

/** Ground truth for the dashboard checks: every record a generated
  * envelope should become, as (subject, metric) → (µs timestamp, number),
  * with NaN standing for a non-numeric value.
  */
final class Truth {
  private final class Series {
    val ts = new mutable.ArrayBuilder.ofLong
    val v = new mutable.ArrayBuilder.ofDouble
    var sorted: (Array[Long], Array[Double]) = _
  }
  private val series = mutable.HashMap.empty[(String, String), Series]

  def add(subject: String, of: String, tsUs: Long, value: Double): Unit = {
    val s = series.getOrElseUpdate((subject, of), new Series)
    s.ts += tsUs
    s.v += value
    s.sorted = null
  }

  private def points(s: Series): (Array[Long], Array[Double]) = {
    if (s.sorted == null) {
      val ts = s.ts.result()
      val v = s.v.result()
      val order = ts.indices.sortBy(ts(_)).toArray
      s.sorted = (order.map(ts), order.map(v))
    }
    s.sorted
  }

  /** `getUniqueMeasurementSubjects`: subjects with a record of `of` in
    * [startS, endS], sorted.
    */
  def subjects(of: String, startS: Long, endS: Long): Vector[String] =
    series.iterator.collect { case ((subject, o), s) if o == of &&
      points(s)._1.exists(t => t >= startS * 1000000L && t <= endS * 1000000L) => subject }
      .toVector.sorted

  /** `getAggregatedDataByInterval`: (bucket start s, average) per non-empty
    * bucket, with the bucket arithmetic of TimescaleDB's `time_bucket`.
    */
  def buckets(subject: String, of: String, startS: Long, endS: Long,
              widthS: Long): Vector[(Long, Double)] =
    series.get((subject, of)).fold(Vector.empty[(Long, Double)]) { s =>
      val (ts, v) = points(s)
      val sums = mutable.TreeMap.empty[Long, (Double, Long)]
      for (i <- ts.indices if ts(i) >= startS * 1000000L && ts(i) <= endS * 1000000L) {
        val b = math.floor((ts(i) / 1000000.0 - Truth.BucketOriginS) / widthS).toLong *
          widthS + Truth.BucketOriginS
        val (sum, n) = sums.getOrElse(b, (0.0, 0L))
        sums(b) = (sum + v(i), n + 1)
      }
      sums.iterator.map { case (b, (sum, n)) => (b, sum / n) }.toVector
    }
}

object Truth {
  /** TimescaleDB's default bucket origin, 2000-01-03T00:00:00Z. */
  val BucketOriginS: Long = 946857600L
}

/** Seeded generator of the reference's envelope shapes (FIXTURES.md §2–6):
  * glow electricity and gas meters, emon, homie (with heartbeats that the
  * topic filter drops), a planted share of malformed envelopes, and BMW
  * vehicle polls with planted duplicates. Every envelope carries the fate
  * and record count the converters should give it, and every record lands
  * in [[truth]]. The same seed gives the same envelopes.
  */
final class Gen(seed: Long) {
  private val rnd = new Random(seed)
  val truth = new Truth

  val vins: Vector[String] = Vector.tabulate(Gen.Vehicles) { _ =>
    "WBY" + Iterator.continually(rnd.nextInt(36)).take(14)
      .map(i => Character.forDigit(i, 36).toUpper).mkString
  }

  private def r(x: Double, digits: Int): Double = {
    val k = math.pow(10, digits)
    math.rint(x * k) / k
  }
  private def quote(s: String): String = "\"" + s + "\""
  private def escaped(json: String): String = quote(json.replace("\"", "\\\""))
  private def isoSeconds(s: Long): String = Instant.ofEpochSecond(s).toString
  /** Epoch seconds with a quarter-second fraction: exact in µs. */
  private def epochQ(s: Long, q: Int): Double = s + q * 0.25
  private def record(subject: String, of: String, tsUs: Long, v: Double): Unit =
    truth.add(subject, of, tsUs, v)

  private def mqtt(topic: String, payload: String, ts: Double, retain: Int = 0): String =
    s"""{"topic":${quote(topic)},"payload":$payload,"qos":0,"retain":$retain,"timestamp":$ts}"""

  private def glowElec(t: Long): Envelope = {
    val hours = (t - Gen.EpochS) / 3600.0
    val cum = r(5000 + hours * 0.4, 3)
    val day = r((hours % 24) * 0.4, 3)
    val week = r((hours % 168) * 0.4, 3)
    val month = r((hours % 720) * 0.4, 3)
    val rate = r(0.30 + 0.01 * rnd.nextInt(10), 4)
    val standing = 0.4458
    val power = r(0.2 + 0.8 * math.abs(math.sin(hours / 3)) + rnd.nextDouble() * 0.1, 3)
    val inner = s"""{"electricitymeter":{"timestamp":${quote(isoSeconds(t))},"energy":{"export":{"cumulative":0.0,"units":"kWh"},"import":{"cumulative":$cum,"day":$day,"week":$week,"month":$month,"units":"kWh","mpan":"1013000046890","supplier":"SSE","price":{"unitrate":$rate,"standingcharge":$standing}}},"power":{"value":$power,"units":"kW"}}}"""
    val us = t * 1000000L
    Seq("import_cumulative" -> cum, "import_day" -> day, "import_week" -> week,
      "import_month" -> month, "import_unitrate" -> rate,
      "import_standingcharge" -> standing, "power_value" -> power)
      .foreach { case (of, v) => record("electricitymeter", of, us, v) }
    Envelope(mqtt("glow/BCDDC2C4ABD0/SENSOR/electricitymeter", escaped(inner), t.toDouble),
      Fate.Records, 7)
  }

  private def glowGas(t: Long): Envelope = {
    val hours = (t - Gen.EpochS) / 3600.0
    val cum = r(9000 + hours * 1.1, 3)
    val day = r((hours % 24) * 1.1, 3)
    val week = r((hours % 168) * 1.1, 3)
    val month = r((hours % 720) * 1.1, 3)
    val rate = 0.1028
    val standing = r(0.27 + 0.001 * rnd.nextInt(5), 4)
    val vol = r(800 + hours * 0.1, 3)
    val inner = s"""{"gasmeter":{"timestamp":${quote(isoSeconds(t))},"energy":{"export":{"cumulative":0.0,"units":"kWh"},"import":{"cumulative":$cum,"day":$day,"week":$week,"month":$month,"units":"kWh","mprn":"7418262301","supplier":"SSE","price":{"unitrate":$rate,"standingcharge":$standing},"cumulativevol":$vol,"cumulativevolunits":"m3","dayweekmonthvolunits":"m3"}}}}"""
    val us = t * 1000000L
    Seq("import_cumulative" -> cum, "import_day" -> day, "import_week" -> week,
      "import_month" -> month, "import_unitrate" -> rate,
      "import_standingcharge" -> standing, "import_cumulativevol" -> vol)
      .foreach { case (of, v) => record("gasmeter", of, us, v) }
    Envelope(mqtt("glow/BCDDC2C4ABD0/SENSOR/gasmeter", escaped(inner), t.toDouble),
      Fate.Records, 7)
  }

  private def emon(t: Long, q: Int): Envelope = {
    val time = epochQ(t, q)
    val fields = Seq(
      "MSG" -> (t / 10 % 100000).toDouble,
      "Vrms" -> r(230 + rnd.nextGaussian() * 2, 2)) ++
      (1 to 6).map(i => s"P$i" -> rnd.nextInt(if (i == 1) 3000 else 200).toDouble) ++
      (1 to 6).map(i => s"E$i" -> ((t - Gen.EpochS) / (60 * i) + 1000 * i).toDouble) ++
      Seq("pulse" -> rnd.nextInt(3).toDouble, "missed" -> 0.0,
        "missedprc" -> r(rnd.nextDouble(), 2))
    def num(v: Double) = if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
    val inner = fields.map { case (k, v) => s"${quote(k)}:${num(v)}" }
      .mkString("{", ",", s""","time":$time}""")
    val us = Math.round(time * 1e6)
    fields.foreach { case (of, v) => record("emonTx4", of, us, v) }
    Envelope(mqtt("emon/emonTx4", escaped(inner), time), Fate.Records, fields.size)
  }

  private def homie(t: Long, q: Int, room: String, prop: String): Envelope = {
    val time = epochQ(t, q)
    val us = Math.round(time * 1e6)
    val (payload, v) = prop match {
      case "measure-temperature" =>
        val x = r(19 + 2 * math.sin(2 * math.Pi * (t % 86400) / 86400.0 + room.length) +
          rnd.nextGaussian() * 0.3, 2)
        (x.toString, x)
      case "heating-setpoint" | "thermostat-setpoint" =>
        val x = (17 + rnd.nextInt(5)).toDouble
        (x.toString, x)
      case "state" => (Gen.States(rnd.nextInt(Gen.States.size)), Double.NaN)
      case "mode"  => (Gen.Modes(rnd.nextInt(Gen.Modes.size)), Double.NaN)
    }
    record(room, prop, us, v)
    Envelope(mqtt(s"homie/hubitat/$room/$prop", quote(payload), time, retain = 1),
      Fate.Records, 1)
  }

  private def filtered(t: Long, kind: Int): Envelope = {
    val line = kind match {
      case 0 => mqtt(s"homie/hubitat/${Gen.Rooms(rnd.nextInt(Gen.Rooms.size))}/$$implementation/heartbeat",
        quote(""), t.toDouble)
      case 1 => mqtt("glow/BCDDC2C4ABD0/STATE",
        escaped(s"""{"software":"v1.8.12","timestamp":${quote(isoSeconds(t))},"han":{"rssi":-74,"lqi":108}}"""),
        t.toDouble)
      case _ => mqtt("emon/emonTx3", escaped(s"""{"MSG":1,"Vrms":229.1,"time":$t}"""), t.toDouble)
    }
    Envelope(line, Fate.Filtered, 0)
  }

  private def malformed(t: Long, kind: Int): Envelope = {
    val line = kind match {
      case 0 => // truncated in transit
        val full = mqtt("homie/hubitat/kitchen/measure-temperature", quote("20.5"), t.toDouble)
        full.substring(0, full.length / 2)
      case 1 => mqtt("zigbee/0x00158d0001a2b3c4/temperature", quote("21.0"), t.toDouble)
      case 2 => mqtt("glow/BCDDC2C4ABD0/SENSOR/electricitymeter",
        escaped("""{"electricitymeter":{"energy":{"import":{"cumulative":1.0}},"power":{"value":0.1}}}"""),
        t.toDouble)
      case 3 => mqtt(s"homie/hubitat/${Gen.Rooms(rnd.nextInt(Gen.Rooms.size))}/measure-temperature",
        quote("warm"), t.toDouble)
      case 4 => s"""{"payload":"21.0","qos":0,"retain":0,"timestamp":$t}"""
      case _ => s"""{"topic":"homie/hubitat/hub/mode","payload":"Home","qos":0,"retain":1}"""
    }
    Envelope(line, Fate.Malformed, 0)
  }

  /** `n` MQTT-side envelopes with increasing event times over
    * [fromS, toS), in the exact shares of [[Gen.Mix]], shuffled.
    */
  def mqtt(n: Int, fromS: Long, toS: Long): Array[Envelope] = {
    val kinds = Gen.deck(n, rnd)
    val span = (toS - fromS).toDouble
    Array.tabulate(n) { i =>
      val t = fromS + (i * span / n).toLong
      val q = rnd.nextInt(4)
      kinds(i) match {
        case Gen.GlowElec  => glowElec(t)
        case Gen.GlowGas   => glowGas(t)
        case Gen.Emon      => emon(t, q)
        case Gen.Temp      => homie(t, q, Gen.room(rnd), "measure-temperature")
        case Gen.Heating   => homie(t, q, Gen.room(rnd), "heating-setpoint")
        case Gen.Setpoint  => homie(t, q, Gen.room(rnd), "thermostat-setpoint")
        case Gen.State     => homie(t, q, Gen.room(rnd), "state")
        case Gen.Mode      => homie(t, q, "hub", "mode")
        case Gen.Heartbeat => filtered(t, 0)
        case Gen.OtherTopic => filtered(t, 1 + rnd.nextInt(2))
        case _             => malformed(t, rnd.nextInt(6))
      }
    }
  }

  /** BMW polls of every vehicle every `pollS` seconds over [fromS, toS),
    * ordered by poll time. A poll whose vehicle state has not changed
    * (a `duplicateShare` of them) repeats the previous message verbatim: a
    * planted duplicate.
    */
  def bmw(fromS: Long, toS: Long, pollS: Long,
          duplicateShare: Double = Gen.BmwDuplicateShare): Array[Envelope] = {
    val out = Array.newBuilder[(Long, Envelope)]
    vins.zipWithIndex.foreach { case (vin, vi) =>
      var last: String = null
      var lastUpdated = fromS - pollS
      var mileage = 10000 + rnd.nextInt(50000)
      var t = fromS + vi * 7L
      while (t < toS) {
        if (last != null && rnd.nextDouble() < duplicateShare)
          out += (t -> Envelope(last, Fate.Duplicate, 0))
        else {
          lastUpdated = math.max(lastUpdated + 1, t - rnd.nextInt((pollS / 2).toInt))
          mileage += rnd.nextInt(40)
          val level = rnd.nextInt(101)
          val range = level * 3 + rnd.nextInt(10)
          val connected = rnd.nextInt(2)
          val status = Gen.Charging(rnd.nextInt(Gen.Charging.size))
          val lat = r(51.4 + rnd.nextDouble() * 0.2, 5)
          val lon = r(-0.3 + rnd.nextDouble() * 0.4, 5)
          val stamp = isoSeconds(lastUpdated).stripSuffix("Z") + ".0000000Z"
          last = s"""{"vin":${quote(vin)},"state":{"lastUpdatedAt":${quote(stamp)},"currentMileage":$mileage,"location":{"coordinates":{"latitude":$lat,"longitude":$lon},"heading":${rnd.nextInt(360)}},"electricChargingState":{"chargingLevelPercent":$level,"range":$range,"isChargerConnected":$connected,"chargingStatus":${quote(status)}},"doorsState":{"combinedSecurityState":"SECURED","leftFront":"CLOSED","rightFront":"CLOSED"},"tireState":{"frontLeft":{"status":{"currentPressure":${230 + rnd.nextInt(20)}}}}},"attributes":{"brand":"BMW_I","driveTrain":"ELECTRIC"}}"""
          val us = lastUpdated * 1000000L
          Seq("chargingLevelPercent" -> level.toDouble, "range" -> range.toDouble,
            "isChargerConnected" -> Double.NaN, "chargingStatus" -> Double.NaN,
            "currentMileage" -> mileage.toDouble, "coordinates" -> Double.NaN)
            .foreach { case (of, v) => record(vin, of, us, v) }
          out += (t -> Envelope(last, Fate.Records, 6))
        }
        t += pollS
      }
    }
    out.result().sortBy(_._1).map(_._2)
  }
}

object Gen {
  /** 2024-01-01T00:00:00Z: the origin of the generated meter counters. */
  val EpochS: Long = 1704067200L
  /** Fleet size and repeat share: unverified assumptions. The reference
    * fixes only the poll cadence, every 10 minutes
    * (`bmw_update/function.json:8`, BASELINE.md).
    */
  val Vehicles = 6
  val BmwDuplicateShare = 0.2

  val Rooms: Vector[String] = Vector("kitchen", "lounge", "hall", "landing", "study",
    "bedroom1", "bedroom2", "bedroom3", "bathroom", "ensuite", "utility", "dining",
    "conservatory", "office", "snug", "loft")
  val States: Vector[String] = Vector("heating", "idle", "idle", "off")
  val Modes: Vector[String] = Vector("Home", "Away", "Night")
  val Charging: Vector[String] = Vector("CHARGING", "NOT_CHARGING", "COMPLETE", "INVALID")

  private def room(rnd: Random): String = Rooms(rnd.nextInt(Rooms.size))

  // envelope kinds and their exact shares of an MQTT-side mix; the shares
  // are unverified assumptions: the reference publishes no traffic figures
  val GlowElec = 0; val GlowGas = 1; val Emon = 2; val Temp = 3; val Heating = 4
  val Setpoint = 5; val State = 6; val Mode = 7; val Heartbeat = 8; val OtherTopic = 9
  val Junk = 10
  val Mix: Vector[(Int, Double)] = Vector(GlowElec -> 0.10, GlowGas -> 0.04,
    Emon -> 0.10, Temp -> 0.30, Heating -> 0.05, Setpoint -> 0.03, State -> 0.08,
    Mode -> 0.02, Heartbeat -> 0.15, OtherTopic -> 0.06, Junk -> 0.07)

  /** `n` kinds in exactly the [[Mix]] shares (remainder to the first kind),
    * in seeded order.
    */
  def deck(n: Int, rnd: Random): Array[Int] = {
    val sized = Mix.map { case (k, w) => k -> (n * w).toInt }
    val kinds = sized.flatMap { case (k, c) => Seq.fill(c)(k) }
    rnd.shuffle(Seq.fill(n - kinds.size)(GlowElec) ++ kinds).toArray
  }

  /** Write `es` as JSON-lines files of `perFile` envelopes under `dir`,
    * each staged and then renamed in, so a streaming reader never sees a
    * partial file. Returns the files' line counts in order.
    */
  def writeFiles(dir: Path, prefix: String, es: Array[Envelope], perFile: Int,
                 staging: Path): Vector[Int] = {
    Files.createDirectories(dir)
    Files.createDirectories(staging)
    es.grouped(perFile).zipWithIndex.map { case (chunk, i) =>
      land(dir, staging, f"$prefix-$i%05d.jsonl", chunk)
      chunk.length
    }.toVector
  }

  /** Stage one file and rename it into `dir`. */
  def land(dir: Path, staging: Path, name: String, es: Array[Envelope]): Unit = {
    val tmp = staging.resolve(name)
    Files.write(tmp, es.iterator.map(_.line).mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}
