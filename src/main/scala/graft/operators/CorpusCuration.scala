package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation — the composition the individual
  * operators exist for:
  *
  *  1. exact dedup: keep the min-doc_id representative per content hash;
  *  2. near-dup removal: from the Jaccard similarity join, drop the
  *     larger-id side of every pair ≥ threshold (chains collapse to their
  *     minimal element in one pass because every non-minimal member pairs
  *     with something smaller);
  *  3. quality floor + language filter.
  *
  * `nearDupPairs` is pluggable; the DEFAULT is the scale path,
  * [[Dedup.minhashPairs]] (banded LSH candidates + exact Jaccard
  * verification) — candidate-generation cost instead of the exact
  * inverted-index join's Σdf² blowup on hot shingles. The DuckDB oracle
  * computes the exact join, so the contract hash-match doubles as an
  * EMPIRICAL recall check for this corpus and seed set — not a proof:
  * per-pair recall at j=0.8 (bands=16, rows=4) is ~0.9998, so a
  * near-threshold pair can in principle be missed at larger scale
  * factors. Measured (r9) at sf0.1 across 3 permutation seeds × bands
  * {16, 32}: 0 misses in 1,536 pair-draws (SCALING.md "MinHash-LSH
  * recall" table, with the bands-escalation policy). Inject
  * [[Dedup.jaccardPairs]] to force the exact tier when recall 1 is
  * required.
  */
object CorpusCuration {

  def curate(docs: DataFrame,
             jaccardThreshold: Double = 0.8,
             minQuality: Double = 0.3,
             langs: Set[String] = Set("en"),
             nearDupPairs: Option[DataFrame] = None): DataFrame = {
    val exactKeep = Dedup.exact(docs) // (doc_id) min-id per content hash
    val pairs = nearDupPairs.getOrElse(Dedup.minhashPairs(docs, 3, threshold = jaccardThreshold))
    val nearDrop = pairs.select(col("doc_b").as("doc_id")).distinct()
    // quality + language from one text-stats pass (the per-doc tokenize is
    // the dominant cost; TextAnalysis.scores shares it)
    val scores = TextAnalysis.scores(docs)
    exactKeep
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .join(scores, "doc_id")
      .filter(col("quality") >= minQuality && col("lang_pred").isin(langs.toSeq: _*))
      .select(col("doc_id"), col("quality"), col("lang_pred"))
      .orderBy("doc_id")
  }

  /** The full TRAINING-RUN EXPORT — every stage a real pretraining data
    * job runs, composed end to end from the operators above:
    *
    *  1. [[curate]]: exact dedup → near-dup removal → quality/language
    *     floor;
    *  2. benchmark decontamination
    *     ([[Decontamination.contaminatedBloom]] — broadcast bloom +
    *     exact confirmation, no false negatives), PLUS an explicit
    *     by-id exclusion of the benchmark itself (n-grams alone miss a
    *     bench doc shorter than `decontaminationN` tokens);
    *  3. deterministic split assignment ([[Sampling.assignSplits]]),
    *     keeping `keepSplit`;
    *  4. deterministic epoch shuffle ([[Sampling.epochShuffle]]) —
    *     the epoch's read order, reproducible on any cluster.
    *
    * Returns (doc_id, shard, global_pos). Every stage is itself
    * oracle-gated; the composition query (q_training_export) replays
    * all four in one SQL statement, so the end-to-end path — not just
    * the parts — carries an exact contract. Scale shape inherits from
    * the stages: no all-pairs work (LSH candidates), no
    * corpus-proportional broadcast (bloom), no global sort (sharded
    * shuffle), no unbounded driver state.
    */
  def trainingExport(docs: DataFrame, benchmark: DataFrame,
                     seed: Long, epoch: Long, numShards: Int,
                     jaccardThreshold: Double = 0.8,
                     minQuality: Double = 0.3,
                     langs: Set[String] = Set("en"),
                     decontaminationN: Int = 5,
                     splits: Seq[(String, Double)] =
                       Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05),
                     keepSplit: String = "train"): DataFrame = {
    require(splits.exists(_._1 == keepSplit), s"keepSplit '$keepSplit' not among the splits")
    // `kept` appears twice in the exported plan (the bloom side and the
    // anti-join side); a persist of the survivor-id set was tried in r15
    // and MEASURED SLOWER (+1 s at sf0.1) — exchange/subquery reuse
    // already deduplicates the shared subtree, so the cache was pure
    // overhead. Left lazy deliberately.
    val curated = curate(docs, jaccardThreshold, minQuality, langs).select("doc_id")
    val kept = docs.join(curated, "doc_id")
    val dirty = Decontamination.contaminatedBloom(kept, benchmark, decontaminationN)
      .select("doc_id")
    // benchmark docs are excluded BY ID as well as by n-gram: when the
    // benchmark shares the corpus id space (bench ⊆ docs — the common
    // "hold out a slice" setup), a bench doc shorter than
    // decontaminationN tokens produces no n-grams, so n-gram
    // decontamination alone would export an eval document verbatim; for
    // an external benchmark with a disjoint id space the anti-join
    // matches nothing and is free
    val excluded = dirty.union(benchmark.select("doc_id"))
    val clean = kept.join(excluded, Seq("doc_id"), "left_anti")
    val train = Sampling.assignSplits(clean, splits).filter(col("split") === keepSplit)
    // persist before the shuffle: epochShuffle reads its input twice
    // (shard counts + the windowed pass), and this input is the full
    // curate→decontaminate→split composition — without the cache a
    // 100 TB export would execute its most expensive stages twice
    // (callers running many exports in one session can clearCache after)
    val cached = train.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Sampling.epochShuffle(cached, seed, epoch, numShards)
      .select(col("doc_id"), col("shard"), col("global_pos"))
  }

  /** Per-doc blocked-token accounting — the C4 "bad words" rule (drop
    * any page containing a listed token; C4 §2.1's first filter) with
    * the fraction generalization CCNet-style pipelines use. Tokens are
    * the whitespace tokens of the lowercased text compared EXACTLY
    * against the list (token match, not substring — "class" must not
    * trip a three-letter entry). The list rides into the plan as a
    * broadcast-joined frame aggregated map-side: explode(tokens) ⋈
    * words is one broadcast hash semi per token with a count rollup —
    * shuffled bytes ∝ docs, never tokens. Returns every doc with
    * `n_tokens`, `n_blocked`, and `blocked_frac` (6-dp rounded, the
    * cross-engine float discipline).
    */
  def blockedTokenStats(docs: DataFrame, words: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val toks = docs.select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("tok"))
    // distinct AFTER lowering: a list carrying duplicates (or case
    // variants that collide under lower()) would otherwise fan the
    // left join out, inflating n_tokens AND n_blocked — membership is
    // the semantics, not occurrence count
    val w = broadcast(words.select(lower(col("word")).as("tok")).distinct()
      .withColumn("_hit", lit(1L)))
    toks.join(w, Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_blocked"))
      .withColumn("blocked_frac",
        round(col("n_blocked").cast("double") / col("n_tokens"), 6))
  }

  /** Per-host crawl triage — the domain-level signal RefinedWeb-style
    * pipelines filter and prioritize by: for every canonical host,
    * page volume, canonical-duplicate rate (pages that collapse under
    * URL canonicalization — mirror/session noise), and soft-error rate
    * ([[TextExtraction.isSoftErrorPage]] over the extracted text). A
    * host that is mostly duplicates or error shells is a crawl-budget
    * leak regardless of any per-page quality score. One hash
    * aggregation on host; `countDistinct` is exact per host (the
    * distinct set lives inside the host's partition after the
    * shuffle), rates 6-dp rounded per the cross-engine float
    * discipline.
    */
  def domainReport(pages: DataFrame, urlCol: String = "url",
                   textCol: String = "text",
                   minChars: Int = 20): DataFrame =
    pages.select(
        UrlOps.canonicalHost(col(urlCol)).as("host"),
        UrlOps.canonicalizeUrl(col(urlCol)).as("_canon"),
        TextExtraction.isSoftErrorPage(col(textCol), minChars)
          .cast("long").as("_soft"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_pages"),
        countDistinct(col("_canon")).as("n_distinct"),
        sum(col("_soft")).as("n_soft"))
      .withColumn("dup_rate", round(
        (col("n_pages") - col("n_distinct")).cast("double") / col("n_pages"), 6))
      .withColumn("soft_rate",
        round(col("n_soft").cast("double") / col("n_pages"), 6))

  /** Drop documents whose blocked-token fraction exceeds `maxFrac`
    * (0.0 = the strict C4 rule: one hit removes the page). A broadcast
    * anti on the offending keys — the corpus frame itself is never
    * shuffled, mirroring [[UrlOps.filterBlockedDomains]]'s shape.
    */
  def filterBlockedTokens(docs: DataFrame, words: DataFrame,
                          maxFrac: Double = 0.0): DataFrame = {
    val offending = blockedTokenStats(docs, words)
      .filter(col("blocked_frac") > maxFrac)
      .select("doc_id")
    docs.join(offending, Seq("doc_id"), "left_anti")
  }
}
