package graft.convert

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.{PayloadType, TimeseriesRecord, Timestamps}
import org.scalatest.funsuite.AnyFunSuite

import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._

/** Differential test against the reference's golden conversion corpus
  * (`test_utils/test_data.json`, copied verbatim to test resources).
  * Converter output must match the `expected` records field-for-field.
  *
  * Correlation ids are injected deterministically as
  * `strftime(enqueued_time, "%Y-%m-%dT%H:%M:%S.%f")-sequence_number`, the
  * exact legacy form the corpus was recorded with
  * (`shared_code/helpers.py:104-109`, commented-out original).
  */
class GoldenCorpusSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val corpus: JsonNode = mapper.readTree(
    getClass.getResourceAsStream("/golden_test_data.json"))

  private val CidFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  private def legacyCorrelationId(props: JsonNode): String = {
    val enq = Timestamps.parseToLocal(props.get("enqueued_time").asText)
    s"${CidFmt.format(enq)}-${props.get("sequence_number").asLong}"
  }

  private def assertMatches(name: String, got: TimeseriesRecord, exp: JsonNode): Unit = {
    assert(Timestamps.format(got.timestamp) == exp.get("timestamp").asText, s"$name: timestamp")
    assert(got.measurement_subject == exp.get("measurement_subject").asText, s"$name: subject")
    assert(got.measurement_publisher == exp.get("measurement_publisher").asText, s"$name: publisher")
    assert(got.measurement_of == exp.get("measurement_of").asText, s"$name: of")
    assert(got.measurement_data_type == exp.get("measurement_data_type").asText, s"$name: type")
    assert(got.correlation_id.contains(exp.get("correlation_id").asText), s"$name: cid")
    val v = exp.get("measurement_value")
    PayloadType.fromTag(got.measurement_data_type) match {
      case PayloadType.Number =>
        assert(got.measurement_number.contains(v.asDouble), s"$name: number value")
      case PayloadType.Str =>
        assert(got.measurement_string.contains(v.asText), s"$name: string value")
      case PayloadType.Bool =>
        assert(got.measurement_bool.contains(v.asBoolean), s"$name: bool value")
      case PayloadType.Geography =>
        assert(got.measurement_location.contains(v.elements.asScala.map(_.asDouble).toVector),
          s"$name: geo value")
    }
  }

  for (name <- corpus.fieldNames.asScala.toVector) {
    val c = corpus.get(name)
    if (c.get("type").asText == "EventHubEvent") {
      test(s"golden corpus: $name") {
        val props = c.get("properties")
        val cid = legacyCorrelationId(props)
        val got = Converters.convertEvent(props.get("body").asText, Some(cid))
        val expNode = c.get("expected")
        if (expNode == null || expNode.isNull) {
          assert(got.isEmpty, s"$name: expected event to be filtered, got $got")
        } else {
          // expected is a string-encoded JSON array of atomic records
          var exp = mapper.readTree(expNode.asText).elements.asScala.toVector
          // the corpus predates emon.py:48's ignore_keys=["time"]; the
          // reference's current behavior (and ours) excludes the `time` leaf
          if (name == "emontx4_json")
            exp = exp.filterNot(_.get("measurement_of").asText == "time")
          val recs = got.getOrElse(fail(s"$name: expected records, event was dropped"))
          assert(recs.size == exp.size,
            s"$name: got ${recs.map(_.measurement_of)}, expected ${exp.map(_.get("measurement_of").asText)}")
          recs.zip(exp).foreach { case (g, e) => assertMatches(name, g, e) }
        }
      }
    }
  }

  test("malformed event → dropped") {
    assert(Converters.convertEvent("not json").isEmpty)
    assert(Converters.convertEvent("""{"no":"topic"}""").isEmpty)
    assert(Converters.convertEvent("""{"topic":"unknownpub/x","payload":"{}"}""").isEmpty)
  }

  test("glow payload missing the subject key → controlled failure, not an NPE") {
    // reference glow.py:16 KeyErrors on payload[subject]["timestamp"] before
    // its (unreachable) `return []` guard — message goes down the error path
    val event =
      """{"topic":"glow/x/SENSOR/electricitymeter","payload":"{\"othermeter\": {}}"}"""
    val either = Converters.convertEventEither(event)
    assert(either.isLeft)
    assert(!either.swap.toOption.get.isInstanceOf[NullPointerException])
    assert(either.swap.toOption.get.getMessage.contains("electricitymeter"))
    assert(Converters.convertEvent(event).isEmpty) // dropped, pipeline survives
  }

  test("glow with energy but no energy.import → dead letter (KeyError parity), not silent filter") {
    // glow.py:32 indexes payload[subject]["energy"]["import"] — a missing
    // 'import' KeyErrors down the error path; flatten(null) returning
    // empty would hide the malformed meter message from monitoring
    val gasEvent =
      """{"topic":"glow/x/SENSOR/gasmeter","payload":"{\"gasmeter\": {\"timestamp\": \"2022-12-26T14:02:28Z\", \"energy\": {}}}"}"""
    val e1 = Converters.convertEventEither(gasEvent)
    assert(e1.isLeft)
    assert(e1.swap.toOption.get.getMessage.contains("energy.import"))
    // electricitymeter additionally indexes [subject]["power"] (glow.py:45)
    val noPower =
      """{"topic":"glow/x/SENSOR/electricitymeter","payload":"{\"electricitymeter\": {\"timestamp\": \"2022-12-26T14:02:28Z\", \"energy\": {\"import\": {\"cumulative\": 1.0}}}}"}"""
    val e2 = Converters.convertEventEither(noPower)
    assert(e2.isLeft)
    assert(e2.swap.toOption.get.getMessage.contains("power"))
  }

  test("trailing-slash topic: empty last segment is filtered (Python split parity)") {
    // Python topic.split('/')[-1] on "glow/electricitymeter/" is "" →
    // not in the allowlist → filtered; Java's default split drops the
    // empty tail and would wrongly convert
    assert(Converters.topicOfInterest("glow/electricitymeter/",
      Set("electricitymeter", "gasmeter")).isEmpty)
  }

  test("homie trailing-slash topic: empty last segment filtered, not shifted (Python split parity)") {
    // Python "homie/hubitat/hub/mode/".split('/') keeps the trailing "" →
    // measurement_of is "" → not of interest → filtered; Java's default
    // split drops the empty tail and would wrongly convert as of="mode"
    val evt =
      """{"topic": "homie/hubitat/hub/mode/", "payload": "Home", "timestamp": 1672174513.6086972}"""
    assert(Converters.convertEventEither(evt) == Right(None))
  }

  test("glow scalar energy.import: truthy scalar dead-letters, falsy yields no records (Python iteration parity)") {
    // create_record_recursive iterates `for key in payload`: a truthy
    // scalar raises (TypeError → error path), a falsy one returns the
    // records unchanged (`if not payload`). flatten()'s non-object
    // short-circuit alone would silently classify BOTH as validly filtered.
    val truthy =
      """{"topic":"glow/x/SENSOR/gasmeter","payload":"{\"gasmeter\": {\"timestamp\": \"2022-12-26T14:02:28Z\", \"energy\": {\"import\": 5}}}"}"""
    val e1 = Converters.convertEventEither(truthy)
    assert(e1.isLeft)
    assert(e1.swap.toOption.get.getMessage.contains("not an object"))
    val falsy =
      """{"topic":"glow/x/SENSOR/gasmeter","payload":"{\"gasmeter\": {\"timestamp\": \"2022-12-26T14:02:28Z\", \"energy\": {\"import\": 0}}}"}"""
    assert(Converters.convertEventEither(falsy) == Right(None))
    // same guard on electricitymeter's power branch
    val scalarPower =
      """{"topic":"glow/x/SENSOR/electricitymeter","payload":"{\"electricitymeter\": {\"timestamp\": \"2022-12-26T14:02:28Z\", \"energy\": {\"import\": {\"cumulative\": 1.0}}, \"power\": 3}}"}"""
    assert(Converters.convertEventEither(scalarPower).isLeft)
  }

  test("v1 array envelope: array of envelopes converts to concatenated records") {
    val homieEvt =
      """{"topic": "homie/hubitat/hub/mode", "payload": "Home", "timestamp": 1672174513.6086972}"""
    val filtered =
      """{"topic": "homie/hubitat/$implementation/heartbeat", "payload": "1747,none", "timestamp": "2022-12-26T13:44:54.724"}"""
    // two valid envelopes → both converted, order preserved
    val two = Converters.convertEvent(s"[$homieEvt,$homieEvt]")
    assert(two.exists(_.size == 2))
    assert(two.get.forall(_.measurement_of == "mode"))
    // a filtered element contributes nothing but doesn't dead-letter
    val mixed = Converters.convertEvent(s"[$homieEvt,$filtered]")
    assert(mixed.exists(_.size == 1))
    // all elements filtered → event filtered (None), not an error
    assert(Converters.convertEventEither(s"[$filtered]") == Right(None))
    assert(Converters.convertEventEither("[]") == Right(None))
    // a malformed element dead-letters the whole (atomic) event
    assert(Converters.convertEventEither(s"""[$homieEvt,{"no":"topic"}]""").isLeft)
  }

  test("bmw golden messages: 3 messages, 2 unique keys, 6 records each") {
    val msgs = mapper.readTree(getClass.getResourceAsStream("/bmw_topic_messages.json"))
      .elements.asScala.toVector
    val polls = msgs.map(m => Bmw.parsePoll(m.toString).toTry.get)
    val keys = polls.map(p => (p.vin, p.lastUpdatedAt))
    assert(keys.distinct.size == 2)
    val recs = polls.head.records
    assert(recs.size == 6)
    val byOf = recs.map(r => r.measurement_of -> r).toMap
    assert(byOf("chargingLevelPercent").measurement_number.contains(67.0))
    assert(byOf("range").measurement_number.contains(214.0))
    assert(byOf("isChargerConnected").measurement_bool.contains(false)) // bool(0)
    assert(byOf("chargingStatus").measurement_string.contains("INVALID"))
    assert(byOf("currentMileage").measurement_number.contains(2085.0))
    assert(byOf("coordinates").measurement_location.exists(ll =>
      math.abs(ll(0) - 12.34567890123456) < 1e-12 && math.abs(ll(1) - 34.56789012345678) < 1e-12))
    assert(recs.forall(_.correlation_id.contains("2023-10-27T21:55:00.0000000Z")))
    // timestamp rounded to the µs; raw string kept as cid
    assert(recs.forall(r => Timestamps.format(r.timestamp) == "2023-10-27T21:55:00.000000Z"))
  }

  test("bmw poll stamped with a colon-less offset converts at its instant") {
    val msg = mapper.readTree(getClass.getResourceAsStream("/bmw_topic_messages.json"))
      .get(0).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    msg.get("state").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("lastUpdatedAt", "2023-10-27T19:55:00.1234567-0100")
    val recs = Bmw.convertMessage(msg.toString)
      .getOrElse(fail("a -0100 poll must convert, not drop"))
    assert(recs.size == 6)
    assert(recs.forall(_.timestamp == java.time.Instant.parse("2023-10-27T20:55:00.123457Z")))
    assert(recs.forall(_.correlation_id.contains("2023-10-27T19:55:00.1234567-0100")))
  }
}
