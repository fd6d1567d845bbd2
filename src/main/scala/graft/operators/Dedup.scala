package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.{IndexBuckets, IndexTable}

/** Document deduplication for large-scale training-data pipelines.
  *
  * Four tiers, cheapest to richest:
  *  1. exact — hash-groupBy on content ([[exact]]);
  *  2. exact n-gram Jaccard similarity join via a shingle inverted index
  *     ([[jaccardPairs]]) — the oracle baseline, O(Σ shingle-bucket²);
  *  3. MinHash + banded LSH with exact verification ([[minhashPairs]]) —
  *     the 100 TB path: candidate generation touches only documents that
  *     collide in ≥1 of `bands` buckets;
  *  4. SimHash 64-bit fingerprints + segment-banded Hamming pairs
  *     ([[simhashPairs]]).
  *
  * Scale notes:
  *  - the shingle join skews on stop-shingles; [[jaccardPairs]] drops
  *    shingles above a document-frequency cutoff (standard practice —
  *    a shingle occurring in >maxDf docs carries ~no similarity signal
  *    but costs df² join rows);
  *  - MinHash signatures are 64 per-column `min()` aggregates — map-side
  *    partial aggregation, one narrow shuffle, no exploded
  *    (doc × perm) row blowup.
  */
object Dedup {

  /** Compiled shingle kernel (tokens = single-space splits, matching
    * DuckDB `string_split(t, ' ')` + list comprehension for oracle parity).
    * A `transform(sequence, concat_ws(slice))` expression computes the same
    * thing but evaluates interpreted (higher-order functions are
    * CodegenFallback) — measured minutes vs seconds on the sf0.1 corpus.
    */
  private def shingleSet(text: String, n: Int): Array[String] = {
    val w = text.split(" ", -1)
    if (w.length < n) Array.empty[String]
    else w.sliding(n).map(_.mkString(" ")).toArray.distinct
  }

  /** Exploded distinct shingles: one row per (doc_id, shingle), with the
    * doc's shingle-set size `nsh` carried along.
    *
    * Deliberately a typed `flatMap`, not `explode(udf(...))`: `explode`
    * implies a `size(...) > 0` filter that Catalyst pushes *below* the
    * repartition Exchange — the whole corpus then shingles (twice: filter +
    * project) inside the single pre-shuffle task of a one-file table, and
    * the optimizer freely duplicates the UDF across every consumer. The
    * opaque flatMap runs exactly once, after the shuffle, on all cores.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull) // null text = no shingles, not an NPE
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val sh = shingleSet(text, n)
        sh.map(s => (id, s, sh.length))
      }
      .toDF("doc_id", "s", "nsh")
  }

  /** Exact dedup: one representative (min doc_id) per distinct content
    * hash. Hash-groupBy — at scale the shuffle key is the 128-bit md5, not
    * the document body.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
      .orderBy("doc_id")

  /** Normalized-exact dedup — the "fuzzy-exact" tier between byte-exact
    * [[exact]] and MinHash: lowercase, replace every non-alphanumeric
    * rune with a space, collapse runs of spaces, trim, then keep the min
    * doc_id per normalized form. Catches the case/punctuation/spacing
    * re-crawl variants byte-exact dedup misses without paying shingle
    * sketches (the normalization C4's exact pass runs before hashing).
    * Same cost shape as [[exact]]: one codegen'd projection + one hash
    * agg; deterministic, so the oracle replays the normalization
    * character-for-character.
    */
  def exactNormalized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        md5(trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), " +", " "))).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
      .orderBy("doc_id")

  /** C4-style exact line-level deduplication (Raffel et al. 2020 §2.2
    * deduplicate three-sentence spans; Penedo et al. 2023 RefinedWeb does
    * it per line): every line that occurs more than once CORPUS-WIDE is
    * kept only at its first occurrence — ordered by (doc_id, line index)
    * — and each document is reassembled from its surviving lines.
    * Documents whose every line was claimed elsewhere disappear (the C4
    * empty-doc drop).
    *
    * Shape: line explode (narrow) → one hash agg for the global
    * first-occurrence key → hash join back → per-doc rebuild. The rebuild
    * sorts WITHIN each document's collected lines (task memory ∝ one
    * document, same bound as every per-doc kernel here); nothing sorts
    * globally. At 100 TB the only heavy step is the first-occurrence agg,
    * whose shuffle is one (line, key) pair per line — a production
    * variant would shuffle a 128-bit line hash instead of the line text;
    * this exact tier keeps the string so the oracle can replay
    * byte-for-byte.
    *
    * Line index is packed with doc_id into one BIGINT key (`doc_id·10⁵ +
    * idx`) so "first occurrence" is a plain `min`; callers guarantee
    * < 10⁵ lines per document (enforced).
    */
  /** Largest |doc_id| whose `doc_id·10⁵ + idx` packing cannot wrap a
    * BIGINT: ids beyond it (e.g. raw 64-bit hash ids) would overflow
    * SILENTLY (non-ANSI wrap) and "first occurrence" would resolve to
    * the wrong copy — guarded with the same raise_error pattern as the
    * line-count bound.
    */
  private val MaxPackableDocId: Long = (Long.MaxValue - 99999L) / 100000L

  private def packedLineKey(fn: String): org.apache.spark.sql.Column =
    when(col("idx") >= 100000,
      raise_error(lit(s"$fn: document with ≥1e5 lines")))
      .when(abs(col("doc_id")) > MaxPackableDocId,
        raise_error(lit(s"$fn: |doc_id| exceeds the packed line-key range " +
          s"(±$MaxPackableDocId) — re-key hash-derived ids first")))
      .otherwise(col("doc_id") * 100000L + col("idx"))

  def lineDedup(docs: DataFrame): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
    val keyed = lines.withColumn("key", packedLineKey("lineDedup"))
    // first-occurrence via a min window over the line's occurrences — ONE
    // pass over the exploded lines (a groupBy+self-join formulation
    // recomputes the whole explode lineage twice, plan-verified); each
    // window group is one line's occurrence list, never a whole stratum
    keyed
      .withColumn("fk", min("key").over(
        org.apache.spark.sql.expressions.Window.partitionBy("line")))
      .filter(col("key") === col("fk"))
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line")), "\n").as("text"))
      .orderBy("doc_id")
  }

  /** Remove REPEATED LINES WITHIN each document, keeping the first
    * occurrence in its original position (the intra-document sibling of
    * [[lineDedup]] — RefinedWeb, Penedo et al. 2023 §3.2, deduplicates
    * within a page before any corpus-wide pass; boilerplate menus and
    * footers repeat inside one crawl record long before they repeat
    * across records). Documents never compare to each other, so unlike
    * [[lineDedup]] this is MAP-ONLY: no explode, no shuffle, no window —
    * one codegen'd projection whose higher-order filter keeps line i iff
    * `array_position` (first index) of its text is i. Per-row cost is
    * O(lines²) string compares bounded by ONE document (the same
    * task-memory bound as every per-doc kernel here); at 100 TB it
    * pipelines inside whatever scan precedes it and shifts no data at
    * all. Line identity is exact bytes — normalization, if wanted,
    * belongs upstream ([[exactNormalized]]'s recipe).
    */
  def lineDedupWithinDoc(docs: DataFrame): DataFrame =
    docs.withColumn("ls", split(col("text"), "\n"))
      .select(col("doc_id"),
        expr("array_join(filter(ls, (x, i) -> array_position(ls, x) = i + 1), '\\n')")
          .as("text"))
      .orderBy("doc_id")

  /** Persist a line-claim index for [[lineDedupAgainstIndex]]: one row
    * per distinct line of `indexDocs` (the fourth index family next to
    * MinHash buckets, SimHash band segments and IVF lists — here the
    * "sketch" is the line itself, so probes are exact with no verify
    * step). Bucketed on `line` so the per-batch claim join is
    * co-partitioned — a batch probe shuffles only the batch side.
    */
  def writeLineIndex(indexDocs: DataFrame, tableName: String,
                     buckets: Int = IndexBuckets.Auto): Unit =
    IndexTable.write(indexDocs
      .select(posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
      .select("line").distinct(), tableName, "line", buckets)

  /** Append NEW lines to a [[writeLineIndex]] table (daily-batch index
    * maintenance — accepted crawl lines claim their text for tomorrow's
    * batches). Caller passes the novel lines (one `line` column);
    * bucketing is re-validated from the catalog like
    * [[appendToSignatureIndex]].
    */
  def appendToLineIndex(newLines: DataFrame, tableName: String): Unit =
    IndexTable.append(newLines.select("line").distinct(), tableName, "line", "writeLineIndex")

  /** [[lineDedup]] for a NEW batch against a persisted [[writeLineIndex]]
    * corpus: a batch line survives iff it is NOT claimed by the index AND
    * it is the batch's own first (doc_id, idx) occurrence; documents
    * reassemble from surviving lines, fully-claimed documents disappear.
    * Per-batch cost: the batch's explode + one co-partitioned anti-join
    * against the bucketed index + the batch-internal first-occurrence
    * agg — independent of corpus history size.
    */
  def lineDedupAgainstIndex(newDocs: DataFrame, tableName: String): DataFrame = {
    val spark = newDocs.sparkSession
    val index = spark.table(tableName)
    val lines = newDocs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
    // same single-pass window shape as [[lineDedup]] — the anti-join +
    // explode lineage runs once, not once per side of a self-join
    lines.withColumn("key", packedLineKey("lineDedupAgainstIndex"))
      .join(index, Seq("line"), "left_anti")
      .withColumn("fk", min("key").over(
        org.apache.spark.sql.expressions.Window.partitionBy("line")))
      .filter(col("key") === col("fk"))
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line")), "\n").as("text"))
      .orderBy("doc_id")
  }

  /** The STREAM-SAFE flavor of [[lineDedupAgainstIndex]]: claims come
    * ONLY from the index, and in-doc repeats collapse to their first
    * in-doc occurrence — no cross-document interaction within the batch,
    * so the result is identical under ANY micro-batch partitioning of
    * the same input (the property the streaming gate's oracle needs;
    * same contract family as the index-only MinHash/SimHash gates, whose
    * in-stream duplicate window is documented there).
    */
  def stripClaimedLines(newDocs: DataFrame, tableName: String): DataFrame = {
    val spark = newDocs.sparkSession
    val index = spark.table(tableName)
    newDocs.select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
      .join(index, Seq("line"), "left_anti")
      .groupBy("doc_id", "line").agg(min("idx").as("idx"))
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line")), "\n").as("text"))
      .orderBy("doc_id")
  }

  /** Source-pair near-duplicate matrix: how many near-dup pairs connect
    * each (source, source) combination — the provenance diagnostic behind
    * "which feeds are mirroring each other" (cross-source mass) and
    * "which feed re-posts itself" (diagonal mass). Pairs come from any
    * tier; sources are ordered lexically per pair so the matrix is a
    * deterministic upper triangle (+ diagonal). Two hash joins on doc id
    * + one agg, all ∝ |pairs|.
    */
  def sourcePairMatrix(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Exact n-gram Jaccard similarity join: inverted-index (shingle) self
    * join → per-pair intersection count → jaccard = |∩| / (|A|+|B|−|∩|).
    * `maxDf` prunes stop-shingle skew (None = exact, used for the
    * oracle). The bounded tier's jaccard is DELIBERATELY a LOWER BOUND
    * of the true one: the intersection count excludes pruned hot
    * shingles while na/nb stay the full set sizes, so dropping a shared
    * shingle can only lower the score — the ≥threshold output is a
    * SUBSET of the exact tier's (no false positives, possible misses on
    * pairs whose similarity rides on hot shingles; the hot-shingle
    * cliff is measured in SCALING.md). A pruned-universe jaccard
    * (recomputing na/nb after the prune) would NOT have this property —
    * it can exceed the true jaccard and admit false pairs.
    */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                   maxDf: Option[Int] = None): DataFrame = {
    val exploded0 = shingles(docs, n)
    val exploded = maxDf match {
      case Some(df) =>
        val hot = exploded0.groupBy("s").count().filter(col("count") > df).select("s")
        exploded0.join(broadcast(hot), Seq("s"), "left_anti")
      case None => exploded0
    }
    val a = exploded.select(col("doc_id").as("doc_a"), col("nsh").as("na"), col("s"))
    val b = exploded.select(col("doc_id").as("doc_b"), col("nsh").as("nb"), col("s"))
    a.join(b, a("s") === b("s") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"), first("na").as("na"), first("nb").as("nb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------------------- MinHash

  val MinhashPrime: Long = 2147483647L // 2^31 - 1; products stay in Long

  /** Seeded universal-hash coefficients (deterministic across runs).
    * Non-default seeds exist for RECALL MEASUREMENT (ScaleProbe's
    * `recall` mode re-draws the permutation family to estimate banding
    * recall empirically); every pipeline path keeps the default so
    * persisted indexes and oracles stay reproducible.
    */
  private def coeffs(numPerm: Int, seed: Long = 42L): (Array[Long], Array[Long]) = {
    val rng = new scala.util.Random(seed)
    val a = Array.fill(numPerm)(1L + rng.nextInt((MinhashPrime - 1).toInt))
    val b = Array.fill(numPerm)(rng.nextInt(MinhashPrime.toInt).toLong)
    (a, b)
  }

  private def signaturesFromExploded(ex: DataFrame, numPerm: Int,
                                     seed: Long = 42L): DataFrame = {
    val spark = ex.sparkSession
    import spark.implicits._
    val (a, b) = coeffs(numPerm, seed)
    val agg = new graft.functions.Sketches.MinHashAgg(numPerm, a, b, MinhashPrime)
    ex.select(col("doc_id"), pmod(xxhash64(col("s")), lit(MinhashPrime)).as("x"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("sig"))
      .toDF("doc_id", "sig")
  }

  /** (doc_id, band, bh) band hashes of a signatures frame. */
  private def bandHashes(sigs: DataFrame, bands: Int, numPerm: Int): DataFrame = {
    require(numPerm % bands == 0,
      s"numPerm ($numPerm) must be divisible by bands ($bands)")
    val rows = numPerm / bands
    sigs.select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), j -> xxhash64(concat_ws(',', slice(sig, j*$rows+1, $rows)), j))")))
      .toDF("doc_id", "band", "bh")
  }

  /** LSH candidate pairs: docs sharing any band bucket (bands × rowsPerBand
    * = signature length).
    *
    * Bucket-grouped rather than self-joined: a self-join would evaluate the
    * `sigs` plan twice (each full MinHash pass over the corpus); grouping
    * computes it once and emits in-bucket pairs from the (small) collected
    * doc lists. Hot buckets are quadratic either way — that is inherent to
    * LSH — but the common case is 1-element buckets, dropped by the size
    * filter before any pair work.
    */
  def minhashCandidates(sigs: DataFrame, bands: Int = 16,
                        numPerm: Int = 64): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    bandHashes(sigs, bands, numPerm)
      .groupBy("band", "bh")
      .agg(collect_list("doc_id").as("bucket"))
      .filter(size(col("bucket")) > 1)
      .select(col("bucket")).as[Seq[Long]]
      .flatMap { bucket =>
        val sorted = bucket.sorted
        for {
          i <- sorted.indices.iterator
          j <- (i + 1) until sorted.length
        } yield (sorted(i), sorted(j))
      }
      .toDF("doc_a", "doc_b").distinct()
  }

  /** MinHash-LSH near-dup pairs with exact Jaccard verification: candidates
    * from band collisions, verified against the true shingle sets (so
    * precision is exact; per-pair recall is the LSH probability
    * 1-(1-t^rows)^bands — ~0.9998 at t=0.8 with the defaults, high but not
    * 1). Verification joins the (small) candidate set back to the exploded
    * shingles — intersection counts come from a candidate-bounded join,
    * never an all-pairs one.
    *
    * `materialize = true` (default) caches the shingle pass and eagerly
    * `localCheckpoint`s the (small, output-proportional) pair set so the
    * corpus-proportional shingle cache is released immediately instead of
    * leaking for the session. Caveats: the full job runs at
    * DataFrame-construction time, and locally checkpointed partitions are
    * NOT recomputable after executor loss. `materialize = false` returns a
    * fully lazy, fully recomputable plan with no hidden cached state — the
    * shingle pass is re-evaluated per consumer (~3×) — the right mode on a
    * real cluster where executor loss is routine (checkpoint the result to
    * a table yourself if reuse matters).
    */
  def minhashPairs(docs: DataFrame, n: Int = 3, numPerm: Int = 64,
                   bands: Int = 16, threshold: Double = 0.8,
                   materialize: Boolean = true, seed: Long = 42L): DataFrame = {
    // one shingle pass feeds signatures AND both verification joins; at a
    // real 100 TB scale this would be a checkpointed table instead of an
    // in-memory persist (Spark evicts LRU, so this degrades, not breaks)
    val ex0 = shingles(docs, n)
    val ex =
      if (materialize) ex0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else ex0
    val cands = minhashCandidates(signaturesFromExploded(ex, numPerm, seed), bands, numPerm)
    val a = ex.select(col("doc_id").as("doc_a"), col("s"), col("nsh").as("na"))
    val b = ex.select(col("doc_id").as("doc_b"), col("s"), col("nsh").as("nb"))
    val raw = verifyPairs(cands, a, b, "doc_a", "doc_b", threshold)
    val pairs =
      if (materialize) {
        // eager cut: checkpoint blocks themselves are freed by the
        // ContextCleaner once the result is unreferenced
        val p = raw.localCheckpoint(true)
        ex.unpersist(false)
        p
      } else raw
    pairs.orderBy("doc_a", "doc_b")
  }

  /** Exact-Jaccard verification of candidate pairs: joins the (small,
    * broadcast) candidate set to both sides' exploded shingles; join rows
    * = shingles in A∩B per pair. `a`/`b` must carry (keyA|keyB, s, na|nb).
    */
  private def verifyPairs(cands: DataFrame, a: DataFrame, b: DataFrame,
                          keyA: String, keyB: String, threshold: Double): DataFrame =
    broadcast(cands)
      .join(a, keyA)
      .join(b, Seq(keyB, "s"))
      .groupBy(keyA, keyB)
      .agg(count(lit(1)).as("inter"), first("na").as("na"), first("nb").as("nb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col(keyA), col(keyB), round(col("jaccard"), 6).as("jaccard"))

  /** Incremental near-dup check — the production shape of dedup at scale:
    * a NEW batch (today's crawl) is checked against an existing INDEX
    * (the accumulated corpus) without ever forming index×index pairs.
    * Returns (doc_new, doc_index, jaccard) for pairs ≥ `threshold`.
    *
    * Scale shape: both sides' band hashes join on (band, bucket) — the
    * index side of that join is what you'd persist as the signature
    * index table (bucketed on the band hash for a co-located join);
    * candidate count is bounded by real band collisions, which for a
    * small daily batch is ~|new| × collision rate, never |index|².
    * Verification joins only candidate pairs back to both sides'
    * shingles, exactly like [[minhashPairs]] — including its
    * `materialize` contract (each side's shingle pass feeds signatures
    * AND verification; see [[minhashPairs]] for the caveats).
    */
  def minhashPairsIncremental(newDocs: DataFrame, indexDocs: DataFrame,
                              n: Int = 3, numPerm: Int = 64, bands: Int = 16,
                              threshold: Double = 0.8,
                              materialize: Boolean = true): DataFrame = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val exNew0 = shingles(newDocs, n)
    val exIdx0 = shingles(indexDocs, n)
    val exNew = if (materialize) exNew0.persist(level) else exNew0
    val exIdx = if (materialize) exIdx0.persist(level) else exIdx0
    val bandsNew = bandHashes(signaturesFromExploded(exNew, numPerm), bands, numPerm)
      .select(col("band"), col("bh"), col("doc_id").as("doc_new"))
    val bandsIdx = bandHashes(signaturesFromExploded(exIdx, numPerm), bands, numPerm)
      .select(col("band"), col("bh"), col("doc_id").as("doc_index"))
    val cands = bandsNew.join(bandsIdx, Seq("band", "bh"))
      .select("doc_new", "doc_index").distinct()
    val a = exNew.select(col("doc_id").as("doc_new"), col("s"), col("nsh").as("na"))
    val b = exIdx.select(col("doc_id").as("doc_index"), col("s"), col("nsh").as("nb"))
    val raw = verifyPairs(cands, a, b, "doc_new", "doc_index", threshold)
    val pairs =
      if (materialize) {
        val p = raw.localCheckpoint(true)
        exNew.unpersist(false)
        exIdx.unpersist(false)
        p
      } else raw
    pairs.orderBy("doc_new", "doc_index")
  }

  /** Persist the index side of incremental dedup ONCE: (doc_index, band,
    * bh) band hashes as a table bucketed+sorted on `bh`. The candidate
    * join matches on `bh` ALONE — the band index is hashed into `bh` as
    * the xxhash64 seed, so same-band collisions match exactly and
    * cross-band 64-bit hash collisions only add stray candidates that
    * exact verification discards — which makes the bucket spec EQUAL to
    * the join key, the condition Spark requires to read the index
    * co-partitioned instead of shuffling it every batch. At 100 TB the
    * signature index is ~(bands × 24 B) per document — a small fraction
    * of the corpus — and is appended as the corpus grows. The `band`
    * column is retained for parameter validation and debugging.
    */
  def writeSignatureIndex(indexDocs: DataFrame, tableName: String,
                          buckets: Int = IndexBuckets.Auto,
                          n: Int = 3, numPerm: Int = 64,
                          bands: Int = 16): Unit =
    // sketch parameters ride the table metadata so per-batch validation
    // is a catalog lookup, not an index scan
    IndexTable.write(bandRows(indexDocs, n, numPerm, bands), tableName, "bh", buckets,
      "graft.n" -> n, "graft.numPerm" -> numPerm, "graft.bands" -> bands)

  /** A corpus's signature-index rows: (doc_index, band, bh). */
  private def bandRows(docs: DataFrame, n: Int, numPerm: Int, bands: Int): DataFrame =
    bandHashes(signaturesFromExploded(shingles(docs, n), numPerm), bands, numPerm)
      .select(col("doc_id").as("doc_index"), col("band"), col("bh"))

  /** Append a NEW batch's band hashes to a persisted
    * [[writeSignatureIndex]] table — the daily-batch maintenance path
    * the index's design assumes (accepted crawl docs enter the index so
    * tomorrow's batch dedups against them). Sketch parameters are read
    * from the table's OWN properties, so a drift between writer and
    * appender is impossible by construction; the bucket count too comes
    * from the table properties and the write goes through `bucketBy` +
    * append `saveAsTable` (which re-validates the catalog spec — probed
    * empirically: a mismatch throws AnalysisException), keeping every
    * new file hash-bucketed on `bh` — a
    * plain `insertInto` would silently write unbucketed files and a
    * co-partitioned reader would then MISS collisions. Per-batch cost is
    * the batch's sketch pass + a bucketed write, independent of index
    * size. Callers own doc_id uniqueness across appends.
    */
  def appendToSignatureIndex(newDocs: DataFrame, tableName: String): Unit = {
    def prop(key: String): Int =
      IndexTable.prop(newDocs.sparkSession, tableName, key, "writeSignatureIndex").toInt
    val (n, numPerm, bands) = (prop("graft.n"), prop("graft.numPerm"), prop("graft.bands"))
    IndexTable.append(bandRows(newDocs, n, numPerm, bands), tableName, "bh", "writeSignatureIndex")
  }

  /** Table-name entry point: validates n/numPerm/bands against the
    * [[writeSignatureIndex]] table properties (a catalog lookup — no
    * index scan) and runs the per-batch check.
    */
  def minhashPairsAgainstIndex(newDocs: DataFrame, indexTable: String,
                               indexDocs: DataFrame, n: Int, numPerm: Int,
                               bands: Int, threshold: Double): DataFrame = {
    val spark = newDocs.sparkSession
    for ((key, expected) <- Seq("graft.n" -> n, "graft.numPerm" -> numPerm,
        "graft.bands" -> bands)) {
      // absent property = index not written by writeSignatureIndex; fail
      // loudly rather than silently skip validation (a parameter mismatch
      // silently ADMITS near-dups — the exact hazard validation exists for;
      // the DataFrame overload with validateBands = true serves indexes
      // whose parameters are pinned elsewhere)
      val v = IndexTable.prop(spark, indexTable, key, "writeSignatureIndex")
      require(v == expected.toString,
        s"signature index $indexTable was written with $key=$v, caller expects $expected")
    }
    minhashPairsAgainstIndex(newDocs, spark.table(indexTable), indexDocs,
      n, numPerm, bands, threshold, materialize = true, validateBands = false)
  }

  /** Convenience overload with the standard defaults. */
  def minhashPairsAgainstIndex(newDocs: DataFrame, indexTable: String,
                               indexDocs: DataFrame): DataFrame =
    minhashPairsAgainstIndex(newDocs, indexTable, indexDocs, 3, 64, 16, 0.8)

  /** Incremental near-dup check against a PERSISTED signature index
    * ([[writeSignatureIndex]]): the index's signatures are never
    * recomputed, and verification re-shingles only the index documents
    * that actually collided (a semi-join prunes the corpus store before
    * the shingle flatMap) — per-batch cost is proportional to the new
    * batch plus its collisions, not to the index.
    *
    * `n`/`numPerm`/`bands` MUST match the values the index was written
    * with — a mismatch makes band hashes incomparable and near-dups are
    * silently admitted. Prefer the table-name overload, which validates
    * ALL THREE parameters from the table properties with a catalog
    * lookup; this DataFrame entry point's `validateBands = true` instead
    * runs a max() aggregation over the index (index-proportional — pass
    * false on the hot path once parameters are pinned elsewhere), and it
    * can only catch a bands mismatch.
    *
    * With `materialize = true` the candidate set is eagerly
    * checkpointed: `cands` feeds BOTH the verification broadcast and the
    * corpus-store semi-join, and without the cut the whole candidate
    * subplan (index scan + new-batch signatures) would execute twice.
    */
  def minhashPairsAgainstIndex(newDocs: DataFrame, indexBands: DataFrame,
                               indexDocs: DataFrame,
                               n: Int = 3, numPerm: Int = 64, bands: Int = 16,
                               threshold: Double = 0.8,
                               materialize: Boolean = true,
                               validateBands: Boolean = true): DataFrame = {
    if (validateBands) {
      val row = indexBands.agg(max("band")).head()
      // null max = empty index: nothing to validate, and every join below
      // correctly yields the empty pair set
      if (!row.isNullAt(0)) {
        val maxBand = row.getInt(0)
        require(maxBand == bands - 1,
          s"signature index has bands=${maxBand + 1}, caller expects $bands — " +
            "rewrite the index or pass the matching parameters")
      }
    }
    val exNew0 = shingles(newDocs, n)
    val exNew =
      if (materialize) exNew0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else exNew0
    val bandsNew = bandHashes(signaturesFromExploded(exNew, numPerm), bands, numPerm)
      .select(col("bh"), col("doc_id").as("doc_new"))
    // join on bh alone: the band index is folded into bh as the hash seed
    // (see writeSignatureIndex), and a bh-only key equals the bucket spec
    // so the bucketed index reads co-partitioned
    val cands0 = bandsNew.join(indexBands.select("bh", "doc_index"), "bh")
      .select("doc_new", "doc_index").distinct()
    val cands = if (materialize) cands0.localCheckpoint(true) else cands0
    val candIdxDocs = indexDocs.join(
      cands.select(col("doc_index").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
    val a = exNew.select(col("doc_id").as("doc_new"), col("s"), col("nsh").as("na"))
    val b = shingles(candIdxDocs, n)
      .select(col("doc_id").as("doc_index"), col("s"), col("nsh").as("nb"))
    val raw = verifyPairs(cands, a, b, "doc_new", "doc_index", threshold)
    val pairs =
      if (materialize) {
        val p = raw.localCheckpoint(true)
        exNew.unpersist(false)
        p
      } else raw
    pairs.orderBy("doc_new", "doc_index")
  }

  // ------------------------------------------------------------- SimHash

  /** First 64 bits of md5(token) as a signed big-endian Long. md5 rather
    * than xxhash64 because DuckDB ships md5 but not xxhash64 — the oracle
    * can reproduce the hash bit-for-bit from the hex digits. Compiled UDF
    * (the per-token loop is the hot path at corpus scale).
    */
  // per-thread digest reuse: getInstance per token is a JCA provider lookup
  // + allocation inside the hot loop; digest() resets the instance
  @transient private lazy val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private val md5Hash64 = udf { (t: String) =>
    val d = md5Local.get.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** 64-bit SimHash per doc: sign of the per-bit sum of token hashes
    * (token multiplicity counts), via the single-buffer
    * [[graft.functions.Sketches.SimHashAgg]] (64 `sum()` columns fell out
    * of codegen — see Sketches). Emitted as a signed Long. Token hash =
    * [[md5Hash64]] so the DuckDB oracle can replay the exact bits.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), md5Hash64(col("t")).as("h"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.Sketches.SimHashAgg.toColumn.name("simhash"))
      .toDF("doc_id", "simhash")
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxHamming, candidates
    * via segment banding with `maxHamming + 1` segments — by pigeonhole a
    * pair within the distance budget must agree on at least one whole
    * segment, so candidate generation is EXACT for any `maxHamming ≤ 31`
    * (each segment needs ≥ 2 bits).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    sigPairs(simhash(docs), maxHamming)

  /** Near-dup pairs over ANY 64-bit signature frame (doc_id, simhash) by
    * Hamming distance ≤ maxHamming — the banding engine behind
    * [[simhashPairs]], shared by other 64-bit perceptual sketches
    * (e.g. [[Multimodal.mediaNearDupPairs]]'s aHash). Exact by the
    * pigeonhole argument for maxHamming ≤ 31.
    */
  def sigPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31, "maxHamming must be in [0, 31]")
    val spark = sigs.sparkSession
    import spark.implicits._
    // Bucket-grouped rather than self-joined (same shape as
    // minhashCandidates): a self-join would evaluate the sigs plan — the
    // full token explode + md5 + 64-vote aggregation over the corpus —
    // once per join side; grouping sketches once and emits in-bucket pairs
    // from the (small) collected (id, sig) lists. Singleton buckets, the
    // common case, are dropped before any pair work.
    sigCandidates(sigs, maxHamming)
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** The distinct in-bucket pairs BEFORE the Hamming cut — the
    * candidate volume the verification step actually pays per
    * threshold ([[sigPairs]] = this + the cut). Exposed for the
    * ScaleProbe cost table; spurious bucket collisions (pairs beyond
    * the threshold that happened to share a segment) are only visible
    * here.
    */
  private[graft] def sigCandidates(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    simhashBanded(sigs, maxHamming)
      .groupBy("band", "seg")
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("bucket"))
      .filter(size(col("bucket")) > 1)
      .select(col("bucket")).as[Seq[(Long, Long)]]
      .flatMap { bucket =>
        val sorted = bucket.sortBy(_._1)
        for {
          i <- sorted.indices.iterator
          j <- (i + 1) until sorted.length
        } yield (sorted(i)._1, sorted(j)._1, sorted(i)._2, sorted(j)._2)
      }
      .toDF("doc_a", "doc_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
  }

  /** (doc_id, sig, band, seg) pigeonhole banding of a simhash frame:
    * `maxHamming + 1` segments; segment j covers bits
    * [j*segBits, (j+1)*segBits), the last segment absorbing the remainder
    * bits. Shared by the self- and incremental pair generators.
    */
  private def simhashBanded(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val nSeg = maxHamming + 1
    val segBits = 64 / nSeg
    val segExprs = (0 until nSeg).map { j =>
      val width = if (j == nSeg - 1) 64 - j * segBits else segBits
      val mask = if (width >= 64) -1L else (1L << width) - 1
      s"(shiftright(simhash, ${j * segBits}) & $mask)"
    }.mkString(", ")
    sigs.select(col("doc_id"), col("simhash"),
      posexplode(expr(s"array($segExprs)")))
      .toDF("doc_id", "sig", "band", "seg")
  }

  /** Incremental SimHash near-dups — the daily-crawl shape for the
    * SimHash tier, mirroring [[minhashPairsIncremental]]: a NEW batch is
    * banded against the INDEX side's (doc_id, band, seg) banding and only
    * new×index candidates are ever formed (no index×index pairs). The
    * index banding is exactly what a persisted SimHash index table would
    * store (bucket on `seg` with `band` folded in, like
    * [[writeSignatureIndex]]); here both sides are computed from their
    * documents. Returns (doc_new, doc_index, hamming) with
    * hamming ≤ `maxHamming` — exact by the pigeonhole argument, same as
    * [[simhashPairs]].
    */
  def simhashPairsIncremental(newDocs: DataFrame, indexDocs: DataFrame,
                              maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31, "maxHamming must be in [0, 31]")
    val bandsNew = simhashBanded(simhash(newDocs), maxHamming)
      .select(col("band"), col("seg"), col("doc_id").as("doc_new"), col("sig").as("sig_new"))
    val bandsIdx = simhashBanded(simhash(indexDocs), maxHamming)
      .select(col("band"), col("seg"), col("doc_id").as("doc_index"), col("sig").as("sig_index"))
    bandsNew.join(bandsIdx, Seq("band", "seg"))
      .select("doc_new", "doc_index", "sig_new", "sig_index").distinct()
      .withColumn("hamming", bit_count(col("sig_new").bitwiseXOR(col("sig_index"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_new", "doc_index", "hamming")
      .orderBy("doc_new", "doc_index")
  }

  /** Persist the SimHash index side ONCE, mirroring [[writeSignatureIndex]]:
    * (doc_index, sig_index, band, sk) where `sk = xxhash64(band, seg)`
    * folds the segment index into a single join column. As with the
    * minhash `bh`, a cross-(band, seg) 64-bit hash collision only adds a
    * stray candidate that exact verification discards — and the
    * verification here is just `bit_count(xor)` on the STORED signatures,
    * so folding makes the bucket spec EQUAL to the join key and the
    * bucketed table reads co-partitioned every batch, never re-shuffled.
    *
    * Unlike the minhash index (which must re-shingle collided index docs
    * to verify Jaccard), the SimHash index is fully self-contained: the
    * signature IS the verification evidence, so per-batch cost is the new
    * batch's sketch pass plus the bucket join — zero index-side
    * recomputation. At 100 TB the index is (maxHamming+1) × 32 B rows per
    * document, appended as the corpus grows.
    */
  def writeSimhashIndex(indexDocs: DataFrame, tableName: String,
                        buckets: Int = IndexBuckets.Auto,
                        maxHamming: Int = 3): Unit =
    writeSigIndex(simhash(indexDocs), tableName, buckets, maxHamming)

  /** [[writeSimhashIndex]] generalized to ANY 64-bit signature frame
    * (doc_id, simhash) — text SimHash, media aHash
    * ([[Multimodal.aHashSigs]]), or any future perceptual sketch: the
    * banding geometry, bucket layout, and verification story depend only
    * on the signature being 64 bits, not on what produced it.
    */
  def writeSigIndex(sigs: DataFrame, tableName: String,
                    buckets: Int = IndexBuckets.Auto,
                    maxHamming: Int = 3): Unit = {
    require(maxHamming >= 0 && maxHamming <= 31, "maxHamming must be in [0, 31]")
    IndexTable.write(bandedSigs(sigs, maxHamming), tableName, "sk", buckets,
      "graft.maxHamming" -> maxHamming)
  }

  /** A signature frame's index rows: (doc_index, sig_index, band, sk). */
  private def bandedSigs(sigs: DataFrame, maxHamming: Int): DataFrame =
    simhashBanded(sigs, maxHamming)
      .select(col("doc_id").as("doc_index"), col("sig").as("sig_index"),
        col("band"), xxhash64(col("band"), col("seg")).as("sk"))

  /** Append a NEW batch's banded signatures to a persisted
    * [[writeSimhashIndex]] table — same maintenance contract as
    * [[appendToSignatureIndex]]: maxHamming comes from the table's own
    * properties (no writer/appender drift), and the bucketed append
    * keeps new files hash-bucketed on `sk` so probes stay
    * co-partitioned and lossless.
    */
  def appendToSimhashIndex(newDocs: DataFrame, tableName: String): Unit =
    appendToSigIndex(simhash(newDocs), tableName)

  /** [[appendToSimhashIndex]]'s signature-frame form — see
    * [[writeSigIndex]].
    */
  def appendToSigIndex(newSigs: DataFrame, tableName: String): Unit = {
    val maxHamming =
      IndexTable.prop(newSigs.sparkSession, tableName, "graft.maxHamming", "writeSigIndex").toInt
    IndexTable.append(bandedSigs(newSigs, maxHamming), tableName, "sk", "writeSigIndex")
  }

  /** Corpus-level overlap triage — the k-min-value Jaccard estimator
    * over two corpora's SHINGLE SETS: before paying doc-level dedup for
    * a new crawl, one cheap pass answers "how much of this is a
    * re-crawl of what we already hold". For each of `numPerm` salted
    * md5 draws both corpora reduce to the global MIN hashed shingle;
    * J ≈ fraction of draws whose minima agree (the bottom-1-per-perm
    * MinHash argument). Cost: one distinct-shingle shuffle per corpus +
    * a numPerm-group partial-min agg — the corpora never pair, and the
    * numPerm× fan-out happens AFTER distinct, so repeated shingles hash
    * once. Hashing is deterministic md5 (15 hex chars → 60-bit BIGINT),
    * so the oracle replays every min bit-exactly.
    *
    * Output one row: (num_perm, n_agree, jaccard_est). Accuracy is the
    * standard ±O(1/√numPerm); [[corpusOverlapExact]] is the contract
    * tier.
    */
  def corpusOverlap(a: DataFrame, b: DataFrame, n: Int = 3,
                    numPerm: Int = 32): DataFrame = {
    require(numPerm >= 1, "numPerm must be >= 1")
    overlapFromMins(permMins(a, n, numPerm, "min_a"),
      permMins(b, n, numPerm, "min_b"))
  }

  /** Per-perm global minimum hashed shingle of a corpus — the k-min-value
    * sketch state: `numPerm` rows of (p, min hash).
    */
  private def permMins(df: DataFrame, n: Int, numPerm: Int,
                       out: String): DataFrame =
    shingles(df, n).select(col("s")).distinct()
      .select(col("s"), explode(sequence(lit(0), lit(numPerm - 1))).as("p"))
      .select(col("p"),
        conv(substring(md5(concat(col("p").cast("string"), lit(":"), col("s"))), 1, 15), 16, 10)
          .cast("long").as(out))
      .groupBy("p").agg(min(out).as(out))

  private def overlapFromMins(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, "p")
      .agg(count(lit(1)).as("num_perm"),
        // sum over the empty join is NULL — coalesce so an empty side
        // can never surface as n_agree = NULL
        coalesce(sum(when(col("min_a") === col("min_b"), 1L).otherwise(0L)),
          lit(0L)).as("n_agree"))
      .select(col("num_perm"), col("n_agree"),
        // num_perm = 0 means one corpus produced NO shingles (empty, or
        // every doc shorter than n tokens) — the estimate is UNDEFINED,
        // and a silent NULL (or a fake 0.0) would read as "no overlap"
        // to triage callers; fail loudly instead
        when(col("num_perm") === 0,
          raise_error(lit("corpus overlap undefined: one side produced no " +
            "shingles (empty corpus, or every doc shorter than n tokens)")))
          .otherwise(round(col("n_agree").cast("double") / col("num_perm"), 6))
          .as("jaccard_est"))

  /** Persist a corpus's k-min-value sketch — `numPerm` ROWS, total —
    * so later crawls answer "how much of this is already in the base
    * corpus" WITHOUT rescanning the base: sketch a 100 TB corpus once,
    * probe forever at the cost of sketching only the new side. The
    * sketch parameters ride the table properties (the
    * [[writeSignatureIndex]] contract) so a probe with mismatched n or
    * numPerm is impossible by construction.
    */
  def writeOverlapSketch(corpus: DataFrame, tableName: String, n: Int = 3,
                         numPerm: Int = 32): Unit = {
    val spark = corpus.sparkSession
    IndexTable.drop(spark, tableName)
    permMins(corpus, n, numPerm, "min_a")
      .write.format("parquet").mode("overwrite").saveAsTable(tableName)
    IndexTable.setProps(spark, tableName, "graft.n" -> n, "graft.numPerm" -> numPerm)
  }

  /** One sketch parameter of a [[writeOverlapSketch]] table. */
  private def sketchProp(spark: org.apache.spark.sql.SparkSession, tableName: String,
                         key: String): Int =
    IndexTable.prop(spark, tableName, key, "writeOverlapSketch").toInt

  /** Fold a NEW batch of documents into a [[writeOverlapSketch]] table:
    * per-perm min is trivially mergeable (min(min(A), min(B)) =
    * min(A∪B)), so the sketch of the growing corpus is maintained
    * incrementally — batch-proportional cost, and the merge state is
    * the `numPerm`-row sketch itself (collected: bounded at numPerm
    * rows BY CONSTRUCTION, never corpus-proportional). After any
    * sequence of merges the table equals [[writeOverlapSketch]] over
    * the union (spec-pinned), so probes against it keep the
    * [[corpusOverlap]] contract.
    */
  def mergeIntoOverlapSketch(newDocs: DataFrame, tableName: String): Unit = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val (n, numPerm) =
      (sketchProp(spark, tableName, "graft.n"), sketchProp(spark, tableName, "graft.numPerm"))
    val stored = spark.table(tableName).as[(Int, Long)].collect().toMap
    val batch = permMins(newDocs, n, numPerm, "min_a")
      .as[(Int, Long)].collect().toMap
    val merged = (stored.keySet ++ batch.keySet).toSeq.sorted.map { p =>
      (p, math.min(stored.getOrElse(p, Long.MaxValue),
        batch.getOrElse(p, Long.MaxValue)))
    }
    // truncate+insert into the EXISTING table instead of drop+recreate:
    // the table identity and its graft.* properties survive, so the
    // per-micro-batch catalog ceremony (drop, create, ALTER) collapses
    // to one insert — the stored rows were already collected above, so
    // the read is complete before the overwrite begins
    merged.toDF("p", "min_a").coalesce(1)
      .write.mode("overwrite").insertInto(tableName)
  }

  /** [[corpusOverlap]] of a NEW corpus against a [[writeOverlapSketch]]
    * table: the base side is `numPerm` stored rows (never rescanned),
    * the new side one distinct-shingle pass — identical result to
    * [[corpusOverlap]] over the same corpora by construction (stored
    * minima ARE the computed minima; the gate row shares the oracle).
    */
  def corpusOverlapAgainstSketch(newCorpus: DataFrame,
                                 tableName: String): DataFrame = {
    val spark = newCorpus.sparkSession
    overlapFromMins(spark.table(tableName), permMins(newCorpus,
      sketchProp(spark, tableName, "graft.n"), sketchProp(spark, tableName, "graft.numPerm"),
      "min_b"))
  }

  /** The exact tier of [[corpusOverlap]]: |A∩B| / |A∪B| over the two
    * distinct shingle sets via one full outer join on the shingle —
    * shuffles both shingle sets once (cost ∝ corpus text, the reason
    * the sketch tier exists for triage at scale).
    */
  def corpusOverlapExact(a: DataFrame, b: DataFrame, n: Int = 3): DataFrame = {
    val sa = shingles(a, n).select("s").distinct().withColumn("ina", lit(1L))
    val sb = shingles(b, n).select("s").distinct().withColumn("inb", lit(1L))
    sa.join(sb, Seq("s"), "full")
      .agg(sum(coalesce(col("ina"), lit(0L))).as("n_a"),
        sum(coalesce(col("inb"), lit(0L))).as("n_b"),
        sum(when(col("ina").isNotNull && col("inb").isNotNull, 1L)
          .otherwise(0L)).as("n_inter"))
      .select(col("n_a"), col("n_b"), col("n_inter"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard"))
  }

  /** Compact an append-maintained bucketed index table: every
    * [[appendToSignatureIndex]]/[[appendToSigIndex]]/[[appendToLineIndex]]
    * batch adds one file per bucket, so after D daily appends a probe
    * opens D files per matching bucket — the classic small-file creep of
    * any append-only store. [[graft.util.IndexTable.rewrite]] copies the
    * table through a tmp table in one bucketed pass per phase, keeps every
    * `graft.*` property, and re-derives the bucket count from the table's
    * current size through [[graft.util.IndexBuckets]] (the count latched
    * at the seed write was sized for the seed, not for the table as it
    * has grown); `graft.buckets` records the new count, so later appends
    * and probes stay co-partitioned with the rewritten files. The rewrite
    * keeps the catalog's bucket spec, so the bucket column is the one the
    * index was written with. Content and probe results are unchanged by
    * construction — every probe joins on the full bucket key
    * (spec-pinned); run it on the maintenance cadence, cost = two
    * index-sized bucketed writes.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, tableName: String): Unit = {
    IndexTable.prop(spark, tableName, "graft.buckets", "an index writer")
    IndexTable.rewrite(spark, tableName, s"${tableName}_compact_tmp")()
  }

  /** Incremental SimHash near-dups against a PERSISTED index
    * ([[writeSimhashIndex]]): the index side's signatures are never
    * recomputed — the new batch is sketched, banded with the same
    * `sk` folding, hash-joined to the bucketed table (co-partitioned
    * read, no index shuffle), and verified by Hamming distance on the
    * stored signatures. `maxHamming` MUST match the index's write-time
    * value — the banding geometry differs otherwise and near-dups are
    * silently admitted — so it is validated against the table properties
    * with a catalog lookup; an index without the property fails loudly.
    * Returns (doc_new, doc_index, hamming), exact by the same pigeonhole
    * argument as [[simhashPairs]].
    */
  def simhashPairsAgainstIndex(newDocs: DataFrame, indexTable: String,
                               maxHamming: Int = 3): DataFrame =
    sigPairsAgainstIndex(simhash(newDocs), indexTable, maxHamming)

  /** [[simhashPairsAgainstIndex]]'s signature-frame form — see
    * [[writeSigIndex]]. Returns (doc_new, doc_index, hamming).
    */
  def sigPairsAgainstIndex(newSigs: DataFrame, indexTable: String,
                           maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31, "maxHamming must be in [0, 31]")
    val spark = newSigs.sparkSession
    val v = IndexTable.prop(spark, indexTable, "graft.maxHamming", "writeSigIndex")
    require(v == maxHamming.toString,
      s"signature index $indexTable was written with maxHamming=$v, caller expects $maxHamming")
    val bandsNew = simhashBanded(newSigs, maxHamming)
      .select(xxhash64(col("band"), col("seg")).as("sk"),
        col("doc_id").as("doc_new"), col("sig").as("sig_new"))
    bandsNew.join(spark.table(indexTable).select("sk", "doc_index", "sig_index"), "sk")
      .select("doc_new", "doc_index", "sig_new", "sig_index").distinct()
      .withColumn("hamming", bit_count(col("sig_new").bitwiseXOR(col("sig_index"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_new", "doc_index", "hamming")
      .orderBy("doc_new", "doc_index")
  }
}
