package graft.convert

import com.fasterxml.jackson.databind.ObjectMapper
import graft.model.PayloadType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

class JsonFlattenSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def tree(s: String) = mapper.readTree(s)
  private val T = java.time.Instant.EPOCH

  test("type inference: string/bool/number/geography, bool before number") {
    assert(JsonFlatten.recordType(tree("\"x\"")) == PayloadType.Str)
    assert(JsonFlatten.recordType(tree("true")) == PayloadType.Bool)
    assert(JsonFlatten.recordType(tree("1")) == PayloadType.Number)
    assert(JsonFlatten.recordType(tree("1.5")) == PayloadType.Number)
    assert(JsonFlatten.recordType(tree("[51.5, -0.1]")) == PayloadType.Geography)
  }

  test("type inference: invalid lists and objects throw") {
    intercept[IllegalArgumentException](JsonFlatten.recordType(tree("[1, 2, 3]")))
    intercept[IllegalArgumentException](JsonFlatten.recordType(tree("[1, \"a\"]")))
    intercept[IllegalArgumentException](JsonFlatten.recordType(tree("[]")))
    intercept[IllegalArgumentException](JsonFlatten.recordType(tree("null")))
    intercept[IllegalArgumentException](JsonFlatten.recordType(tree("{}")))
  }

  test("deep nesting: prefix NOT extended on recursion, ignore-keys prune subtrees") {
    val payload = tree(
      """{"a": 1, "skip": {"b": 2}, "nested": {"c": 3, "deeper": {"d": "x"}}}""")
    val recs = JsonFlatten.flatten(payload, T, Some("C"), "pub", "subj",
      ignoreKeys = Set("skip"), prefix = Some("pre"))
    assert(recs.map(_.measurement_of) == Vector("pre_a", "pre_c", "pre_d"))
    assert(recs(0).measurement_number.contains(1.0))
    assert(recs(2).measurement_string.contains("x"))
  }

  test("empty / null payloads yield no records") {
    assert(JsonFlatten.flatten(tree("{}"), T, None, "p", "s").isEmpty)
    assert(JsonFlatten.flatten(null, T, None, "p", "s").isEmpty)
  }

  test("property: leaf count invariant — records == scalar leaves not under ignored keys") {
    val leafGen = Gen.oneOf(Gen.chooseNum(-1e6, 1e6).map(_.toString),
      Gen.alphaStr.map("\"" + _ + "\""), Gen.oneOf("true", "false"))
    def objGen(depth: Int): Gen[String] =
      Gen.chooseNum(0, 4).flatMap { n =>
        Gen.listOfN(n, for {
          k <- Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
          v <- if (depth <= 0) leafGen else Gen.frequency(3 -> leafGen, 1 -> objGen(depth - 1))
        } yield s""""$k": $v""").map(_.distinctBy(_.takeWhile(_ != ':')).mkString("{", ",", "}"))
      }
    def countLeaves(n: com.fasterxml.jackson.databind.JsonNode): Int = {
      import scala.jdk.CollectionConverters._
      n.fields.asScala.map { e =>
        if (e.getValue.isObject) countLeaves(e.getValue) else 1
      }.sum
    }
    val prop = Prop.forAll(objGen(3)) { json =>
      val node = tree(json)
      JsonFlatten.flatten(node, T, None, "p", "s").size == countLeaves(node)
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop).passed)
  }
}
