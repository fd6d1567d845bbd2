package perfbench

import scala.util.Random

import graft.ConditionsView
import org.apache.spark.sql.{Row, SparkSession}

/** The nine `db/` functions a dashboard calls, by their short names. */
sealed abstract class Fn(val name: String, val numeric: Boolean)
object Fn {
  case object Aggregated extends Fn("aggregated", true)
  case object ByInterval extends Fn("by_interval", true)
  case object ByDay extends Fn("by_day", true)
  case object Mode extends Fn("mode", false)
  case object Asap extends Fn("asap", true)
  case object TimeWeight extends Fn("time_weight", true)
  case object Subjects extends Fn("subjects", true)
  case object Changepoints extends Fn("changepoints", false)
  case object Intervals extends Fn("intervals", false)
  val all: Vector[Fn] =
    Vector(Aggregated, ByInterval, ByDay, Mode, Asap, TimeWeight, Subjects, Changepoints, Intervals)
}

/** One dashboard call: a function, a panel (subject and metric), a range,
  * and whether its result is checked against the generator's truth.
  */
final case class Call(fn: Fn, subject: String, of: String, startS: Long, endS: Long,
                      check: Boolean) {
  def spanS: Long = endS - startS
  def intervalS: Long = spanS / 120
}

object Dashboard {
  /** Spans of one deck of calls: 1 h, 6 h, 24 h, 7 d and 30 d in fixed
    * shares weighted toward short spans (7:5:3:2:1), one per call. The
    * weights, like the panel ranks and client counts, are unverified
    * assumptions: the reference publishes no query load.
    */
  val DeckSpans: Vector[Long] = Vector(3600L -> 7, 21600L -> 5, 86400L -> 3,
    7 * 86400L -> 2, 30 * 86400L -> 1).flatMap { case (s, n) => Vector.fill(n)(s) }

  /** Panels in order of popularity, most popular first. */
  def numericPanels(vins: Vector[String]): Vector[(String, String)] = Vector(
    "electricitymeter" -> "power_value", "lounge" -> "measure-temperature",
    "emonTx4" -> "P1", "electricitymeter" -> "import_cumulative",
    vins(0) -> "chargingLevelPercent", "kitchen" -> "measure-temperature",
    "gasmeter" -> "import_cumulative", "emonTx4" -> "Vrms",
    vins(1) -> "range", "bedroom1" -> "measure-temperature",
    "lounge" -> "heating-setpoint", "electricitymeter" -> "import_day") ++
    Gen.Rooms.drop(2).map(_ -> "measure-temperature") ++
    vins.drop(2).map(_ -> "currentMileage")

  def stringPanels(vins: Vector[String]): Vector[(String, String)] = Vector(
    "hub" -> "mode", "lounge" -> "state", vins(0) -> "chargingStatus",
    "kitchen" -> "state") ++ Gen.Rooms.drop(2).map(_ -> "state") ++
    vins.drop(1).map(_ -> "chargingStatus")

  val SubjectMetrics: Vector[String] = Vector("measure-temperature", "state",
    "chargingLevelPercent", "heating-setpoint", "range", "thermostat-setpoint")

  /** How often each panel rank appears in one deck's calls of a kind: a
    * few popular panels take most calls, and the last slot walks the long
    * tail from deck to deck.
    */
  private val NumericRanks = Vector(0, 0, 0, 1, 1, 2, 3, 4, 5)
  private val StringRanks = Vector(0, 0, 1, 2, 3)
  private val SubjectRanks = Vector(0)

  /** A closed-loop client's seeded call sequence, dealt from decks of 18
    * calls: each of the nine functions twice, with the spans of
    * [[DeckSpans]] and the panel ranks above. Deck `k` pairs them by
    * rotations of `k`, so every deck holds the same calls whatever the seed,
    * and successive decks pair functions, spans and panels differently;
    * the seed shuffles the order of each deck and the range ends. Ranges end
    * up to `lagS` before `nowS()`; every `checkEvery`-th checkable call is
    * marked for checking.
    */
  final class Deck(seed: Long, vins: Vector[String], nowS: () => Long, lagS: Int,
                   checkEvery: Int) {
    private val rnd = new Random(seed)
    private val numeric = numericPanels(vins)
    private val strings = stringPanels(vins)
    private val fns = Fn.all ++ Fn.all
    private var decks = 0
    private var deck = List.empty[(Fn, Long, (String, String))]
    private var checkable = 0

    /** The `i`-th of `n` calls of a kind in deck `k`, drawn from `panels`. */
    private def panel[A](panels: Vector[A], ranks: Vector[Int], i: Int, n: Int, k: Int): A = {
      val slot = (i + k) % n
      panels(if (slot < ranks.size) ranks(slot) else ranks.size + k % (panels.size - ranks.size))
    }

    private def dealt(k: Int): List[(Fn, Long, (String, String))] = {
      val kinds = fns.map(f => if (f == Fn.Subjects) 0 else if (f.numeric) 1 else 2)
      fns.indices.map { j =>
        val i = kinds.take(j).count(_ == kinds(j))
        val n = kinds.count(_ == kinds(j))
        val p = kinds(j) match {
          case 0 => ("", panel(SubjectMetrics, SubjectRanks, i, n, k))
          case 1 => panel(numeric, NumericRanks, i, n, k)
          case _ => panel(strings, StringRanks, i, n, k)
        }
        (fns(j), DeckSpans((j + 5 * k) % DeckSpans.size), p)
      }.toList
    }

    def next(): Call = {
      if (deck.isEmpty) {
        deck = rnd.shuffle(dealt(decks))
        decks += 1
      }
      val (fn, span, (subject, of)) = deck.head
      deck = deck.tail
      val endS = nowS() - rnd.nextInt(lagS + 1) / 60 * 60
      val check = (fn == Fn.ByInterval || fn == Fn.Subjects) && {
        checkable += 1
        checkable % checkEvery == 0
      }
      Call(fn, subject, of, endS - span, endS, check)
    }
  }

  /** Build the call's DataFrame through [[ConditionsView]] (eager parts of
    * a function run here), then collect it.
    */
  def run(spark: SparkSession, view: ConditionsView, c: Call, spans: Spans): Array[Row] = {
    val df = spans(s"queries.${c.fn.name}") {
      c.fn match {
        case Fn.Aggregated => view.getAggregatedData(c.subject, c.of, c.startS, c.endS, 360)
        case Fn.ByInterval =>
          view.getAggregatedDataByInterval(c.subject, c.of, c.startS, c.endS, c.intervalS)
        case Fn.ByDay => view.getAggregatedDataByDay(c.subject, c.of, c.startS, c.endS)
        case Fn.Mode =>
          view.getMostFrequentValueByTimeInterval(c.subject, c.of, c.startS, c.endS)
        case Fn.Asap => view.getSampledData(spark, c.subject, c.of, c.startS, c.endS, 200)
        case Fn.TimeWeight =>
          view.getSampledDataWithTimeWeight(c.subject, c.of, c.startS, c.endS,
            if (c.spanS % 7200 == 0) "linear" else "locf", 100)
        case Fn.Subjects => view.getUniqueMeasurementSubjects(c.startS, c.endS, c.of)
        case Fn.Changepoints => view.filterUnchangedRows(c.subject, c.of, c.startS, c.endS)
        case Fn.Intervals =>
          view.formatTimeIntervals(c.subject, c.of, c.startS, c.endS, c.endS)
      }
    }
    spans("queries.collect")(df.collect())
  }

  /** Does a checked call's result equal the generator's truth? */
  def verify(c: Call, rows: Array[Row], truth: Truth): Boolean = c.fn match {
    case Fn.Subjects =>
      rows.map(_.getString(0)).toVector == truth.subjects(c.of, c.startS, c.endS)
    case Fn.ByInterval =>
      val want = truth.buckets(c.subject, c.of, c.startS, c.endS, c.intervalS)
      rows.length == want.length && rows.zip(want).forall { case (r, (b, avg)) =>
        r.getLong(0) == b && !r.isNullAt(1) &&
          math.abs(r.getDouble(1) - avg) <= 1e-9 * math.max(1.0, math.abs(avg))
      }
    case _ => true
  }
}
