package graft

import graft.functions.expressions.{FlattenJson, VectorCosine, VectorDot}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's native expressions as SQL functions, so
  * `spark.sql("SELECT graft_cosine(a.embedding, b.embedding) …")` works
  * alongside the Scala API. `register` applies them to a session that
  * already exists (e.g. a shared test session or a notebook);
  * [[GraftExtensions]] applies the same table at builder time.
  * `register` is idempotent: it skips a name the session's registry
  * already holds, so calling it before every SQL statement costs a
  * lookup, not a re-registration.
  */
object GraftFunctions {
  /** Name, expression class and builder of every native SQL function. */
  val expressions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[VectorDot], e => VectorDot(e(0), e(1))),
    ("graft_cosine", classOf[VectorCosine], e => VectorCosine(e(0), e(1))),
    ("graft_flatten_json", classOf[FlattenJson], e => FlattenJson(e.head)))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    expressions.foreach { case (name, _, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    }
    // the nine dashboard queries as SQL table functions (reads the
    // session's `conditions` relation — see SqlTableFunctions)
    SqlTableFunctions.register(spark)
  }
}

/** Session extension registering [[GraftFunctions.expressions]] and the
  * SQL table functions. Wire up with either
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.expressions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    // dashboard query surface: SELECT * FROM graft_aggregated_data(...)
    SqlTableFunctions.injections.foreach(ext.injectTableFunction)
  }
}
