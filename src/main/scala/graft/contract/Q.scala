package graft.contract

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: the Spark body run on an SF dir and the
  * DuckDB SQL it must hash-match.
  *
  * Conventions shared by the Spark bodies and their oracles:
  *  - output timestamps are BIGINT epoch seconds (`time_s`) or micros
  *    (`*_us`) — engine-portable, no parquet timestamp-unit skew;
  *  - every floating-point aggregate is rounded to 6 dp on BOTH sides
  *    (aggregation order differs between engines in the last few bits);
  *  - column aliases match the oracle exactly (driver hashes by sorted
  *    column name).
  */
final case class Q(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

object Q {
  /** `field` of every query keyed by name. Names must be distinct: a map
    * built from two equal keys silently keeps the last.
    */
  def byName[V](qs: Seq[Q])(field: Q => V): Map[String, V] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate contract query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> field(q)).toMap
  }
}
