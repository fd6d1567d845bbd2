package graft.functions.expressions

import graft.queries.TimeseriesQueries.param
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Divide, EqualTo, Expression,
  GreaterThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** A [[BoundParam]] survives the optimizer as itself, evaluates alike in
  * interpreted and generated code, keeps the generated source independent
  * of its value, and still reaches parquet as a pushed filter.
  */
class BoundParamSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Values no other query in this JVM has written into generated code. */
  private val fresh = new AtomicLong(System.nanoTime() % 1000000000L + 7919L)

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** 400 rows of (long `n`, double `x`, timestamp `ts`), `ts` one second apart. */
  private def rows: DataFrame =
    spark.range(400).select(col("id").as("n"), (col("id") * 0.5).as("x"),
      timestamp_seconds(col("id") + 1704240000L).as("ts"))

  private def params(e: Expression): Seq[BoundParam] = e.collect { case p: BoundParam => p }

  test("the optimized plan keeps each param in a comparison, a division and an implicit cast") {
    val (a, b, c) = (fresh.incrementAndGet(), fresh.incrementAndGet(), fresh.incrementAndGet())
    val q = rows
      .filter(col("n") >= param(a % 100, LongType))
      .select((col("x") / param(b.toDouble, DoubleType)).as("ratio"),
        (col("x") + param(c, LongType)).as("shifted"))
    val plan = q.queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions)
    val comparisons = exprs.flatMap(_.collect { case g: GreaterThanOrEqual => g })
    assert(comparisons.exists(g => params(g).map(_.value) == Seq(a % 100)), plan)
    val divisions = exprs.flatMap(_.collect { case d: Divide => d })
    assert(divisions.exists(d => params(d).map(_.value) == Seq(b.toDouble)), plan)
    // `x + param` adds a double to a long: the param sits under the cast
    val casts = exprs.flatMap(_.collect { case ct: Cast => ct })
    assert(casts.exists(_.child == BoundParam(c, LongType)), plan)
    // no plain literal of those values: nothing was folded
    val literals = exprs.flatMap(_.collect { case l: Literal if !l.isInstanceOf[BoundParam] => l.value })
    Seq(a % 100, b.toDouble, c, c.toDouble).foreach(v => assert(!literals.contains(v), plan))
    val got = q.collect()
    assert(got.length == 400 - (a % 100))
    assert(got.head == Row((a % 100) * 0.5 / b.toDouble, (a % 100) * 0.5 + c))
  }

  test("interpreted and generated evaluation agree for long, double and timestamp params") {
    def both(e: Expression): (Any, Any) = {
      val interpreted = e.eval(InternalRow.empty)
      val generated = GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty)
      (interpreted, generated.get(0, e.dataType))
    }
    val cases: Seq[(Any, DataType, Any)] = Seq(
      (123456789012L, LongType, 5L), (2.75, DoubleType, 0.25),
      (1704240000000000L, TimestampType, 1000000L))
    cases.foreach { case (v, t, d) =>
      val p = BoundParam(v, t)
      val (i, g) = both(if (t == TimestampType) Cast(p, LongType) else p)
      assert(i == g, s"$t: interpreted $i, generated $g")
      val (ia, ga) = both(Add(if (t == TimestampType) Cast(p, LongType) else p, Literal(d)))
      assert(ia == ga, s"$t sum: interpreted $ia, generated $ga")
      // two params of equal value compare by value, not by boxed reference
      val (ie, ge) = both(EqualTo(BoundParam(v, t), BoundParam(v, t)))
      assert(ie == true && ge == true, s"$t equality: interpreted $ie, generated $ge")
    }
    val (n, gn) = both(BoundParam(null, LongType))
    assert(n == null && gn == null)
    // and a whole-stage-codegen query equals its interpreted run
    val q = () => rows
      .filter(col("ts") >= param(1704240100000000L, TimestampType))
      .select(col("n") * param(3L, LongType), col("x") / param(0.5, DoubleType))
      .collect().toSeq
    val codegen = q()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try q() finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(codegen.size == 300 && codegen == interpreted)
  }

  test("two queries that differ only in a param value compile once; with literals, twice") {
    def run(bound: Long => org.apache.spark.sql.Column): Long = {
      val q = rows.filter(col("n") >= bound(fresh.incrementAndGet() % 50))
        .select(col("n") * 7, col("x"))
      val before = compiles()
      q.collect()
      compiles() - before
    }
    run(v => param(v, LongType))
    assert(run(v => param(v, LongType)) == 0L)
    assert(run(v => lit(v)) >= 1L)
    assert(run(v => lit(v)) >= 1L)
  }

  test("a timestamp param reaches parquet PushedFilters") {
    val dir = java.nio.file.Files.createTempDirectory("bound_param").toString
    rows.write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("ts") >= param(1704240300000000L, TimestampType))
    val plan = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThanOrEqual(ts,"), plan)
    assert(q.count() == 100L)
  }
}
