package graft

import graft.contract._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: one [[graft.contract.Q]] (Spark body + DuckDB oracle)
  * per implemented operator from SURVEY.md §2, defined in its family
  * module under `graft.contract`; `queries` and `oracleSql` are two views
  * of the same sequence.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg")(spark, "/root/testdata/sf0.001")

  lazy val families: Seq[Seq[Q]] = Seq(ConditionsContract.all, TpchContract.all,
    DedupContract.all, EmbedContract.all, TextContract.all, CrawlContract.all,
    LinkContract.all, WarcContract.all, CurationContract.all)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Q.byName(families.flatten)(_.run)

  lazy val oracleSql: Map[String, String] = Q.byName(families.flatten)(_.oracle)
}
