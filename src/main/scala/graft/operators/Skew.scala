package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew controls for hot-key joins.
  *
  * AQE's skew-join split (`spark.sql.adaptive.skewJoin`) handles sort-merge
  * skew at runtime; explicit salting is still the tool when one side must
  * be replicated deterministically — e.g. an inverted-index join whose hot
  * keys are known to follow a Zipf tail (the stop-shingle problem in
  * [[Dedup.jaccardPairs]] pairs with this: cut the ultra-hot keys by
  * document frequency, salt the merely-hot remainder).
  */
object Skew {

  /** Equi-join `big ⋈ small` on `key` with the big side salted into
    * `saltFactor` sub-keys and the small side replicated once per salt —
    * a hot key's rows spread over `saltFactor` tasks instead of one.
    *
    * The salt is a deterministic hash of the big side's whole row (stable
    * across task retries, unlike `rand()`), so results are reproducible.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltFactor: Int = 16, joinType: String = "inner"): DataFrame = {
    require(saltFactor > 0)
    // right/full outer would emit each unmatched small-side row once per
    // salt replica — only join types that never emit unmatched small rows
    // are sound under the replicate-small strategy
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti", "cross")
      .contains(joinType.toLowerCase(java.util.Locale.ROOT).replace("_", "")),
      s"saltedJoin does not support joinType=$joinType (small side is replicated)")
    val bigCols = big.columns.map(col)
    val salted = big.withColumn("__salt",
      pmod(xxhash64(struct(bigCols.toIndexedSeq: _*)), lit(saltFactor)).cast("int"))
    val replicated = small
      .withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
