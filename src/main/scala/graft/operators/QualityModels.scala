package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-based corpus curation: a trained quality classifier and
  * importance-resampling weights — the two standard "pick data that looks
  * like the target" tools in LLM-pretraining pipelines (the fastText
  * quality classifier of GPT-3/CCNet lineage, and DSIR's hashed-n-gram
  * importance weights, Xie et al. 2023, arXiv:2302.03169).
  *
  * Both are deliberately linear models over token statistics: training IS
  * a pair of hash aggregations, scoring IS a join against a (small)
  * weight table plus a per-doc sum — every step partial-aggregatable,
  * nothing model-shaped ever sits on the driver. That linearity is also
  * what makes them oracle-checkable: the exact log-likelihood arithmetic
  * replays in SQL.
  *
  * Scale shape at 100 TB:
  *  - training touches each token once (explode → hash agg keyed on
  *    token); the model is |vocab| rows, orders of magnitude smaller than
  *    the corpus, and joins back as a hash join (AQE will broadcast it
  *    when it fits);
  *  - scoring is explode → join(model) → per-doc sum: two shuffles total,
  *    both keyed and combinable, no windows, no driver collect;
  *  - DSIR's hashed buckets cap the model at `Sampling.BucketCount` rows
  *    REGARDLESS of corpus vocabulary — the point of hashing features is
  *    that a 100 TB web crawl with billions of distinct tokens still
  *    trains a fixed-size model.
  */
object QualityModels {

  import Sampling.BucketCount

  private def tokens = split(col("text"), " ")

  /** Naive-Bayes quality classifier (the fastText-shaped linear scorer).
    *
    * Trained on `train` with `isPos` as the label (e.g. "looks like the
    * curated reference corpus"), scores `eval` docs with the add-one
    * smoothed log-likelihood ratio
    *
    *   score(d) = ln((dPos+1)/(dNeg+1))
    *            + Σ_t [ ln((cPos(t)+1)/(nPos+V)) − ln((cNeg(t)+1)/(nNeg+V)) ]
    *
    * where cPos/cNeg are train token counts, nPos/nNeg train token
    * totals, V the train vocabulary size and dPos/dNeg train doc counts.
    * Out-of-vocabulary tokens fall through the left join as c = 0 — the
    * same smoothed term, no special case. `pred` = score > 0 (after the
    * cross-engine 4-dp round, so the boundary decision is identical in
    * the oracle).
    *
    * Reference-lineage note: the reference pipeline
    * (mnbf9rca/eventhub-to-timescale) has no ML scoring — this is part of
    * the training-data-pipeline surface built on top of the same engine.
    */
  def nbQualityScores(train: DataFrame, eval: DataFrame,
                      isPos: org.apache.spark.sql.Column): DataFrame = {
    val tr = train.select(isPos.cast("boolean").as("pos"), tokens.as("w"))
    val tok = tr.select(col("pos"), explode(col("w")).as("t"))
    // per-token class counts: ONE hash agg keyed on token
    val cnt = tok.groupBy("t").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("cp"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("cn"))
    // class totals + vocab size: 1 row, broadcast onto the scorer
    val tot = cnt.agg(sum("cp").as("np"), sum("cn").as("nn"),
      count(lit(1)).as("v"))
    val docTot = tr.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("dp"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("dn"))
    val ev = eval.select(col("doc_id"), explode(tokens).as("t"))
    val contrib = ev.join(cnt, Seq("t"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        (log((coalesce(col("cp"), lit(0L)) + 1).cast("double") / (col("np") + col("v"))) -
         log((coalesce(col("cn"), lit(0L)) + 1).cast("double") / (col("nn") + col("v")))).as("w"))
    val sums = contrib.groupBy("doc_id").agg(sum("w").as("sw"))
    eval.select("doc_id").join(sums, Seq("doc_id"), "left")
      .crossJoin(broadcast(docTot))
      .select(col("doc_id"),
        round(log((col("dp") + 1).cast("double") / (col("dn") + 1)) +
          coalesce(col("sw"), lit(0.0)), 4).as("score"))
      .withColumn("pred", col("score") > 0)
      .orderBy("doc_id")
  }

  /** Persist a trained NB model as a catalog table: one (token, w) row
    * per train-vocabulary token, with the two scalars that complete the
    * scorer — `graft.prior` (the log doc-count ratio) and `graft.w0`
    * (the OOV fall-through weight ln((nNeg+V)/(nPos+V))) — riding the
    * table properties (the [[Ann.writeIvfIndex]] metadata idiom;
    * `Double.toString` round-trips exactly). The stored weights are the
    * SAME doubles [[nbQualityScores]] computes, so serving from the
    * table is bit-identical to training-time scoring.
    *
    * This is the "train once, gate forever" serving shape: the model
    * table is vocab-sized, the nightly/streaming scorer joins it without
    * ever seeing the training corpus again.
    */
  def writeNbModel(train: DataFrame, isPos: org.apache.spark.sql.Column,
                   tableName: String): Unit = {
    val spark = train.sparkSession
    val tr = train.select(isPos.cast("boolean").as("pos"), tokens.as("w"))
    val tok = tr.select(col("pos"), explode(col("w")).as("t"))
    val cnt = tok.groupBy("t").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("cp"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("cn"))
    val weights = cnt
      .crossJoin(broadcast(cnt.agg(sum("cp").as("np"), sum("cn").as("nn"),
        count(lit(1)).as("v"))))
      .select(col("t"),
        (log((col("cp") + 1).cast("double") / (col("np") + col("v"))) -
         log((col("cn") + 1).cast("double") / (col("nn") + col("v")))).as("w"))
    // clears both the catalog entry and any orphan warehouse directory a
    // previous session left behind (LOCATION_ALREADY_EXISTS otherwise)
    graft.util.IndexTable.drop(spark, tableName)
    weights.write.format("parquet").mode("overwrite").saveAsTable(tableName)
    // the scalars go through the SAME Catalyst log as the per-token
    // weights (a driver-side math.log can differ from the expression
    // engine's in the last ulp); Double.toString round-trips exactly
    val Array(sc) = cnt.agg(sum("cp").as("np"), sum("cn").as("nn"),
        count(lit(1)).as("v"))
      .crossJoin(broadcast(tr.agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("dp"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("dn"))))
      .select(
        log((col("dp") + 1).cast("double") / (col("dn") + 1)).as("prior"),
        (log(lit(1.0) / (col("np") + col("v"))) -
         log(lit(1.0) / (col("nn") + col("v")))).as("w0"))
      .collect()
    graft.util.IndexTable.setProps(spark, tableName,
      "graft.prior" -> sc.getDouble(0), "graft.w0" -> sc.getDouble(1))
  }

  /** Score docs against a persisted [[writeNbModel]] table: explode →
    * left join the (vocab-sized) weight table → per-doc sum, OOV tokens
    * taking the stored `graft.w0`. Computes exactly [[nbQualityScores]]'s
    * numbers for any eval frame — the model table and two scalars are
    * sufficient statistics. Per-batch cost ∝ batch tokens; model size
    * never re-derived.
    */
  def scoreAgainstModel(docs: DataFrame, tableName: String): DataFrame = {
    val spark = docs.sparkSession
    def prop(key: String): Double =
      graft.util.IndexTable.prop(spark, tableName, key, "writeNbModel").toDouble
    val (prior, w0) = (prop("graft.prior"), prop("graft.w0"))
    val contrib = docs.select(col("doc_id"), explode(tokens).as("t"))
      .join(spark.table(tableName), Seq("t"), "left")
      .select(col("doc_id"), coalesce(col("w"), lit(w0)).as("w"))
    docs.select("doc_id")
      .join(contrib.groupBy("doc_id").agg(sum("w").as("sw")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(lit(prior) + coalesce(col("sw"), lit(0.0)), 4).as("score"))
      .withColumn("pred", col("score") > 0)
      .orderBy("doc_id")
  }

  /** DSIR importance weights: hashed-unigram log-likelihood ratio of a
    * TARGET distribution vs the RAW corpus distribution
    * (arXiv:2302.03169 §2 — features hashed into a fixed bucket space,
    * importance weight = Σ per-feature log ratios).
    *
    * Buckets are [[Sampling.bucket]]'s salted md5 (salt `"dsir"`), so the
    * feature space is `BucketCount` wide and the bucket of a token is
    * bit-for-bit reproducible in any engine with md5. Both distributions
    * are add-one smoothed over the full bucket space; a doc's weight is
    * the sum of its tokens' (with multiplicity) bucket log-ratios,
    * rounded to 4 dp.
    *
    * `topN` selects the highest-weight docs (the "resample toward the
    * target" step) deterministically: (weight DESC, doc_id ASC) —
    * planned as TakeOrderedAndProject, no global sort.
    *
    * Scale: the per-(doc, bucket) count agg BEFORE the weight join keeps
    * the join input at Σ distinct-buckets-per-doc rows (≤ min(tokens,
    * BucketCount) per doc), and the weight table is BucketCount rows —
    * broadcast. Token streams never leave their partition un-aggregated.
    */
  def dsirWeights(raw: DataFrame, isTarget: org.apache.spark.sql.Column,
                  topN: Int): DataFrame = {
    val tok = raw.select(col("doc_id"), isTarget.cast("boolean").as("tgt"),
        explode(tokens).as("t"))
      .select(col("doc_id"), col("tgt"), Sampling.bucket(col("t"), "dsir").as("b"))
    // bucket histograms for both distributions in ONE pass (target ⊆ raw)
    val hist = tok.groupBy("b").agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tot = hist.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val lam = hist.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("ct") + 1).cast("double") / (col("nt") + BucketCount)) -
         log((col("cr") + 1).cast("double") / (col("nr") + BucketCount))).as("lam"))
    // per-(doc, bucket) multiplicity first: the weight join then touches
    // distinct buckets per doc, not raw tokens
    val byDoc = tok.groupBy("doc_id", "b").agg(count(lit(1)).as("m"))
    byDoc.join(lam, Seq("b"))
      .groupBy("doc_id").agg(round(sum(col("m") * col("lam")), 4).as("weight"))
      .orderBy(col("weight").desc, col("doc_id").asc)
      .limit(topN)
  }
}
