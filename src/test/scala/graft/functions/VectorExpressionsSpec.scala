package graft.functions

import graft.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class VectorExpressionsSpec extends AnyFunSuite {

  // Suites share one forked JVM: getOrCreate() may return a session built
  // by another suite, where builder-time extensions never applied. Register
  // on whatever session we get (GraftExtensions itself is builder wiring
  // over the same function builders).
  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.GraftFunctions.register(s)
    s
  }

  test("graft_cosine / graft_dot registered via SparkSessionExtensions, codegen path") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f), Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))
    ).toDF("id", "a", "b")
    df.createOrReplaceTempView("vecs")

    val rows = spark.sql(
      "SELECT id, graft_dot(a, b) AS d, graft_cosine(a, b) AS c FROM vecs ORDER BY id")
      .collect()
    assert(rows(0).getDouble(1) == 1.0 && math.abs(rows(0).getDouble(2) - 1.0) < 1e-12)
    assert(rows(1).getDouble(1) == 0.0 && rows(1).getDouble(2) == 0.0)
    assert(rows(2).getDouble(1) == 32.0) // 4 + 10 + 18
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(rows(2).getDouble(2) - expected) < 1e-12)

    // the expression must run inside whole-stage codegen (that's its point);
    // LocalTableScan is evaluated eagerly, so assert on a real file scan
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb_scan")
    val plan = spark.sql("SELECT graft_dot(embedding, embedding) FROM emb_scan")
      .queryExecution.executedPlan.toString
    // "*(n)" marks a WholeStageCodegen stage in the string form
    assert(plan.contains("*(1) Project [vectordot"), plan)
  }

  test("every GraftFunctions.expressions name resolves to its expression class") {
    // register and the builder-time extension iterate the same table, so
    // one session given register covers both paths
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Literal
    val names = graft.GraftFunctions.expressions.map(_._1)
    assert(names.distinct == names, names)
    val reg = spark.sessionState.functionRegistry
    graft.GraftFunctions.expressions.foreach { case (name, cls, _) =>
      val built = reg.lookupFunction(FunctionIdentifier(name), Seq(Literal(1), Literal(2)))
      assert(built.getClass == cls, s"$name built ${built.getClass}")
    }
  }

  test("type checking rejects non-float arrays") {
    import spark.implicits._
    Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b").createOrReplaceTempView("dvecs")
    val err = intercept[Exception](spark.sql("SELECT graft_dot(a, b) FROM dvecs").collect())
    assert(err.getMessage.contains("array<float>"))
  }

  test("graft_flatten_json: LATERAL VIEW over a nested payload") {
    import spark.implicits._
    Seq((1L, """{"a": 1, "nest": {"b": "x", "deep": {"c": true}}, "geo": [51.5, -0.1]}"""),
        (2L, "not json"))
      .toDF("id", "payload").createOrReplaceTempView("payloads")
    val rows = spark.sql(
      """SELECT id, measurement_of, measurement_data_type,
        |       measurement_number, measurement_string, measurement_bool, measurement_location
        |FROM payloads LATERAL VIEW graft_flatten_json(payload) t
        |ORDER BY id, measurement_of""".stripMargin).collect()
    assert(rows.length == 4) // malformed row contributes nothing
    val byOf = rows.map(r => r.getString(1) -> r).toMap
    assert(byOf("a").getString(2) == "number" && byOf("a").getDouble(3) == 1.0)
    assert(byOf("b").getString(4) == "x")
    assert(byOf("c").getBoolean(5))
    assert(byOf("geo").getSeq[Double](6) == Seq(51.5, -0.1))
  }

  test("matches the brute-force oracle value on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.createOrReplaceTempView("embeddings")
    val viaSql = spark.sql(
      """SELECT b.vec_id, ROUND(graft_cosine(a.embedding, b.embedding), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id = 0
        |ORDER BY cos DESC, vec_id ASC LIMIT 5""".stripMargin).collect()
    val viaKernel = graft.operators.Ann.topK(emb, 0, 5).collect()
    assert(viaSql.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      viaKernel.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }
}
