package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines: hash-bucketed
  * train/validation/test splits and per-stratum downsampling.
  *
  * Everything here is a pure projection/filter on a content-independent
  * hash of the document key — no RNG, no `rand()`:
  *  - assignments are reproducible across runs, engines, partitionings
  *    and cluster sizes (a `rand()`-based split silently reshuffles when
  *    the partitioning changes — useless for 100 TB incremental reruns);
  *  - adding documents never moves an existing document between splits
  *    (each doc's bucket depends only on its own key);
  *  - the split is a narrow map stage: no shuffle, fully pushdown-friendly,
  *    and the same expression works as a partition-pruning predicate when
  *    the split is materialized as a partition column.
  *
  * Bucket = first 8 hex digits of md5(salt:key) as an integer, mod 10^4 —
  * i.e. a uniform draw from [0, 10000) with ~2^-19 modulo bias,
  * reproducible bit-for-bit in any engine with md5 (the DuckDB oracle
  * replays it via a hex-digit Horner reduce).
  */
object Sampling {

  val BucketCount: Int = 10000

  /** Deterministic bucket in [0, BucketCount) from a key column.
    * `salt` namespaces independent sampling decisions (split vs
    * downsample) so they are uncorrelated despite sharing the key.
    */
  def bucket(key: Column, salt: String): Column =
    (conv(substring(md5(concat(lit(salt + ":"), key.cast("string"))), 1, 8), 16, 10)
      .cast("long") % BucketCount).cast("int")

  /** Assign each row a named split by cumulative weight over the hash
    * bucket. `splits` are (name, weight) pairs; weights must sum to ≤ 1
    * (any remainder falls into the last split — callers normally pass
    * weights summing to exactly 1).
    */
  def assignSplits(docs: DataFrame,
                   splits: Seq[(String, Double)] = Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05),
                   key: String = "doc_id",
                   salt: String = "split"): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 >= 0), "split weights must be non-negative")
    require(splits.map(_._2).sum <= 1.0 + 1e-9, "split weights must sum to <= 1")
    val b = bucket(col(key), salt)
    // CASE WHEN bucket < c1 THEN s1 WHEN bucket < c2 THEN s2 ... ELSE last
    val cums = splits.scanLeft(0.0)(_ + _._2).tail.map(c => math.round(c * BucketCount))
    val caseExpr = splits.init.zip(cums.init).foldRight(lit(splits.last._1)) {
      case (((name, _), cum), elseCol) => when(b < cum, name).otherwise(elseCol)
    }
    docs.withColumn("split", caseExpr)
  }

  /** Leakage-safe split: the split UNIT is the near-duplicate CLUSTER,
    * not the document — near-copies of one document can never straddle
    * train and test (the classic eval-contamination hole a doc_id-keyed
    * split leaves open: a paraphrase of a test doc lands in train and the
    * benchmark silently leaks). Clusters come from any [[graft.operators
    * .Dedup]] pair tier via connected components; singletons key on their
    * own id, so for pair-free corpora this degrades to [[assignSplits]]
    * exactly (component = doc_id).
    *
    * Scale shape: the component map is ∝ duplicated docs (broadcast by
    * AQE when small) and the split assignment stays a map-side md5 — the
    * only added cost over the plain split is the pair tier itself.
    */
  def assignSplitsByCluster(docs: DataFrame, pairs: DataFrame,
                            splits: Seq[(String, Double)] =
                              Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05),
                            salt: String = "split"): DataFrame = {
    val comp = graft.operators.Clustering.assignComponents(docs, pairs)
    assignSplits(docs.join(comp, Seq("doc_id")), splits,
      key = "component", salt = salt)
  }

  /** Per-stratum deterministic downsample: keep a row iff its hash bucket
    * falls below the stratum's rate. Strata with no configured rate use
    * `defaultRate`. The filter is a narrow stage; at scale the rates map
    * rides the closure (broadcast-sized by construction — it's one entry
    * per stratum, not per row).
    *
    * Thresholds are `math.round(rate * BucketCount)` computed ONCE on the
    * driver (same rule as [[assignSplits]]) — a per-row `rate * 10000`
    * cast would truncate, so e.g. 0.57 (= 5699.999… in double) would
    * silently drop bucket 5699 and disagree with any independent replay
    * that rounds.
    */
  def stratifiedSample(docs: DataFrame,
                       stratum: String,
                       rates: Map[String, Double],
                       defaultRate: Double = 0.0,
                       key: String = "doc_id",
                       salt: String = "strat"): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    val b = bucket(col(key), salt)
    def threshold(r: Double): Int = math.round(r * BucketCount).toInt
    val thresholdCol = rates.toSeq.sortBy(_._1).foldRight(lit(threshold(defaultRate))) {
      case ((s, r), elseCol) => when(col(stratum) === s, threshold(r)).otherwise(elseCol)
    }
    docs.filter(b < thresholdCol)
  }

  /** Downsample to a target source MIXTURE (the data-mixing step before
    * training): given target proportions over strata, find the largest
    * output size achievable by pure downsampling — λ = min over targeted
    * strata of count_s / target_s — and keep rate_s = λ·target_s/count_s
    * of each stratum (≤ 1 by construction; the binding stratum keeps
    * everything). Strata without a target are dropped. Selection is the
    * deterministic hash bucket of [[stratifiedSample]], so reruns and
    * incremental appends keep their decisions.
    *
    * The per-stratum counts are ONE distributed aggregation collected as
    * |strata| rows (bounded — strata are domains, not documents); rate
    * arithmetic happens driver-side in a fixed op order (c/t min, then
    * λ·t/c) so an independent SQL replay reproduces the thresholds
    * bit-for-bit. Realized proportions quantize to the 1/[[BucketCount]]
    * grid per stratum — exact-count mixing (takeSample semantics) would
    * need a per-stratum rank, a shuffle this deliberately avoids.
    */
  /** Temperature-based domain re-sampling: target proportions ∝ countᵅ
    * (α = 1 keeps the natural distribution, α → 0 flattens toward
    * uniform) — the standard multilingual/multi-domain rebalancing rule
    * (mBERT/XLM-R exponential smoothing; DoReMi's baseline). Pure
    * downsampling via [[mixtureSample]]'s λ normalization: the most
    * over-represented stratum (relative to its countᵅ share) is kept
    * whole and everything else downsampled proportionally, with the same
    * deterministic md5 buckets.
    *
    * FP note: countᵅ uses `pow`, which IEEE does not require correctly
    * rounded — the integer bucket thresholds absorb any last-ulp
    * engine skew except exactly ON a .5·10⁻⁴ boundary (the same accepted
    * risk class as the ln-based LM scores).
    */
  def temperatureSample(docs: DataFrame, alpha: Double,
                        stratum: String = "source", key: String = "doc_id",
                        salt: String = "temp"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val counts = docs.groupBy(stratum).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "corpus has no strata")
    val targets = counts.map { case (s, c) => s -> math.pow(c.toDouble, alpha) }
    mixtureSample(docs, targets, stratum, key, salt)
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006):
    * each row draws a deterministic md5 uniform u ∈ (0, 1] and the k
    * LARGEST keys ln(u)/w win — provably the same distribution as
    * sequential weighted draws without replacement, but embarrassingly
    * parallel: one map + a TakeOrdered(k), no sequential pass, no
    * per-stratum state. The pipeline use: quality- or length-weighted
    * corpus subsetting where plain Bernoulli sampling over- or
    * under-shoots small strata.
    *
    * Determinism contract (the repo-wide convention): u comes from a
    * salted md5 of the key and ties break on the id, so any engine
    * replays the exact selection. Selection runs on the RAW (unrounded)
    * key: rounding before the top-k collapses the near-0 winning keys of
    * a large corpus (w ~ 10²–10⁴ ⇒ winners within ≪10⁻⁶ of 0) into tie
    * classes broken by ascending id — "lowest doc_ids win", no longer
    * the Efraimidis–Spirakis distribution. Only the REPORTED es_key is
    * quantized (6 dp), where the grid is ~10¹¹ ulps wide and absorbs any
    * cross-engine ln() last-ulp skew; the raw keys of distinct docs
    * collide with probability ~2⁻⁵², so unrounded selection is itself
    * engine-portable. Rows with non-positive weight are excluded (they
    * can never win a draw).
    */
  def weightedSample(docs: DataFrame, weightCol: String, k: Int,
                     key: String = "doc_id",
                     salt: String = "wsample"): DataFrame =
    topKRaw(docs, weightCol, k, key, salt)
      .select(col(key), col(weightCol), round(col("__es_raw"), 6).as("es_key"))

  /** Salted md5 uniform u ∈ (0, 1] plus the raw double key ln(u)/w. */
  private def withRawKey(docs: DataFrame, weightCol: String, key: String,
                         salt: String): DataFrame =
    docs.filter(col(weightCol) > 0)
      .withColumn("u",
        (conv(substring(md5(concat(lit(salt + ":"), col(key).cast("string"))), 1, 15), 16, 10)
          .cast("double") + 1.0) / math.pow(2.0, 60))
      .withColumn("__es_raw", log(col("u")) / col(weightCol))

  /** k largest raw keys (ties on id) with the `__es_raw` column kept —
    * the selection kernel shared by the batch face and the persisted
    * stream state (which must store the raw key: a state holding rounded
    * keys would re-introduce the tie-class collapse at every merge).
    */
  private[operators] def topKRaw(docs: DataFrame, weightCol: String, k: Int,
                                 key: String, salt: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    withRawKey(docs, weightCol, key, salt)
      .orderBy(col("__es_raw").desc, col(key).asc)
      .limit(k)
  }

  /** [[weightedSample]] PER STRATUM: the k largest Efraimidis–Spirakis
    * keys within each stratum — "the best-k weighted draw per domain",
    * one window rank over stratum-partitioned groups instead of a
    * global TakeOrdered (each window group is one stratum, never the
    * corpus). Same determinism contract as [[weightedSample]].
    */
  def weightedSamplePerStratum(docs: DataFrame, weightCol: String, k: Int,
                               stratum: String = "source",
                               key: String = "doc_id",
                               salt: String = "wsample"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(col("__es_raw").desc, col(key).asc)
    withRawKey(docs, weightCol, key, salt)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(key), col(stratum), col(weightCol),
        round(col("__es_raw"), 6).as("es_key"))
      .orderBy(col(stratum), col("es_key").desc, col(key))
  }

  /** Seed the persisted state of a STREAMING weighted sample: an empty
    * k-row table whose parameters (weight column, k, salt) ride the
    * table properties, so batch merges can never drift from the seed
    * configuration. State is ≤ k rows FOREVER — top-k of a union is the
    * top-k of the per-part top-ks (the Efraimidis–Spirakis keys make
    * "weighted sample of everything seen so far" a mergeable summary).
    */
  def writeWeightedSampleState(docs: DataFrame, tableName: String,
                               weightCol: String, k: Int,
                               key: String = "doc_id",
                               salt: String = "wsample"): Unit = {
    val spark = docs.sparkSession
    // fail at SEED time, not merge time: the driver-side merge reads the
    // id as Long, so a non-long key would otherwise surface batches later
    // as a ClassCastException inside a foreachBatch
    require(docs.schema(key).dataType == org.apache.spark.sql.types.LongType,
      s"weighted-sample state requires a LongType key column, got " +
        s"'$key': ${docs.schema(key).dataType.simpleString}")
    graft.util.IndexTable.drop(spark, tableName)
    // state carries only (id, raw key): the sample's identity — weights
    // are re-joinable from source, and a weight-typed column would make
    // the state schema depend on the weight column's type. The es_key is
    // stored UNROUNDED: merges select on it, and a quantized state key
    // re-collapses winners into tie classes (see weightedSample).
    topKRaw(docs, weightCol, k, key, salt)
      .select(col(key), col("__es_raw").as("es_key"))
      .write.format("parquet").mode("overwrite").saveAsTable(tableName)
    graft.util.IndexTable.setProps(spark, tableName, "graft.weightCol" -> weightCol,
      "graft.k" -> k, "graft.salt" -> salt, "graft.key" -> key)
  }

  /** Fold a new batch into a [[writeWeightedSampleState]] table: batch
    * top-k ∪ stored top-k → top-k, overwrite. Driver merge state ≤ 2k
    * rows BY CONSTRUCTION; after any micro-batching the table equals the
    * one-shot [[weightedSample]] over everything merged (keys are a pure
    * function of (salt, id, weight) — spec-pinned).
    */
  def mergeIntoWeightedSample(newDocs: DataFrame, tableName: String): Unit = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val props = graft.util.IndexTable.props(spark, tableName)
    def prop(key: String): String =
      graft.util.IndexTable.prop(spark, tableName, key, "writeWeightedSampleState")
    val (weightCol, k, salt) = (prop("graft.weightCol"), prop("graft.k").toInt,
      prop("graft.salt"))
    // graft.key arrived WITH the raw-key state format: a table lacking it
    // was seeded before the fix and stores 6 dp ROUNDED keys — merging raw
    // batch keys into those cannot dedup a re-presented doc (same id,
    // different key value ⇒ distinct keeps both ⇒ duplicate id in the
    // ≤k-row sample). Refuse instead of silently corrupting the sample.
    val key = props.getOrElse("graft.key", throw new IllegalArgumentException(
      s"weighted-sample state $tableName predates the raw-key format " +
        "(no graft.key property; its es_key values are quantized) — " +
        "re-seed it with writeWeightedSampleState before merging"))
    // the BATCH can diverge from the seed's schema (a re-staged parquet
    // source can narrow doc_id to int) — the getLong below would then
    // throw ClassCastException mid-stream, so check here, per batch
    require(newDocs.schema(key).dataType == org.apache.spark.sql.types.LongType,
      s"weighted-sample merge requires a LongType key column, got " +
        s"'$key': ${newDocs.schema(key).dataType.simpleString}")
    val merged = topKRaw(newDocs, weightCol, k, key, salt)
      .select(col(key), col("__es_raw"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))) ++
      spark.table(tableName).select(col(key), col("es_key"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val topK = merged.distinct.sortBy { case (id, esKey) => (-esKey, id) }.take(k)
    // truncate+insert into the EXISTING table instead of drop+recreate:
    // identity and graft.* properties survive, so the per-micro-batch
    // catalog ceremony (drop, create, ALTER) collapses to one insert —
    // both sides of the merge were collected above, so the read is
    // complete before the overwrite begins
    topK.toSeq.toDF(key, "es_key").coalesce(1)
      .write.mode("overwrite").insertInto(tableName)
  }

  def mixtureSample(docs: DataFrame, targets: Map[String, Double],
                    stratum: String = "source", key: String = "doc_id",
                    salt: String = "mix"): DataFrame = {
    require(targets.nonEmpty, "need at least one target proportion")
    require(targets.values.forall(_ > 0), "target proportions must be positive")
    val counts = docs.groupBy(stratum).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = targets.filter { case (s, _) => counts.getOrElse(s, 0L) > 0L }
    require(present.nonEmpty, s"no targeted stratum present in the data: ${targets.keys}")
    val lambda = present.map { case (s, t) => counts(s).toDouble / t }.min
    val rates = present.map { case (s, t) => s -> lambda * t / counts(s) }
    stratifiedSample(docs, stratum, rates, defaultRate = 0.0, key, salt)
  }

  /** Deterministic global shuffle for TRAINING-DATA ORDERING: assign
    * every row a shard and a global position that together define the
    * epoch's read order — shard files read in shard order, rows within a
    * shard in `skey` order. The permutation is a pure function of
    * (seed, epoch, key):
    *  - reproducible across runs, engines, partitionings and cluster
    *    sizes (no `rand()`, no zipWithIndex partition dependence), so a
    *    crashed epoch resumes at the exact row it stopped;
    *  - different epochs give decorrelated permutations from the same
    *    seed (the epoch is inside the hash preimage) — the standard
    *    "reshuffle every epoch" contract without materializing anything
    *    per epoch;
    *  - `skey` is md5("shuf:seed:epoch:" || key), shard = first 8 hex
    *    digits mod `numShards` — the same engine-portable construction
    *    as [[bucket]], replayed bit-for-bit by the DuckDB oracle.
    *
    * Scale shape: one hash shuffle on `shard` + a per-shard sort (each
    * shard ≈ n/numShards rows — size numShards to the executor sort
    * budget, typically thousands at 100 TB, NOT single digits), then a
    * broadcast join against the numShards-row cumulative-count table
    * (the only driver state; same two-phase prefix-sum idiom as
    * [[graft.operators.Packing]]). No global sort, no single-partition
    * window. Writing `partitionBy("shard")` sorted by `skey` gives
    * deterministic, individually-sorted epoch files a data loader can
    * stream in order.
    *
    * The input is read TWICE (the shard-count aggregation and the
    * windowed pass) — deliberate: at 100 TB, two scans of a parquet
    * source are cheaper than pinning the corpus in cache, and the count
    * pass is a cheap column-pruned aggregate (only `key` is read).
    * Callers shuffling an already-cached frame pay nothing extra.
    */
  def epochShuffle(docs: DataFrame, seed: Long, epoch: Long, numShards: Int,
                   key: String = "doc_id"): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val prefix = s"shuf:$seed:$epoch:"
    val base = docs
      .withColumn("skey", md5(concat(lit(prefix), col(key).cast("string"))))
      .withColumn("shard",
        (conv(substring(col("skey"), 1, 8), 16, 10).cast("long") % numShards).cast("int"))
    // per-shard ordinal: the window partitions on shard, so state per
    // task is one counter — no global sort anywhere
    val w = Window.partitionBy("shard").orderBy(col("skey"), col(key))
    val withPos = base.withColumn("__sp", row_number().over(w).cast("long") - 1)
    // shard base offsets: numShards rows cross the driver, nothing else
    val counts = base.groupBy("shard").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val bases = counts.map { case (s, c) => val b = acc; acc += c; (s, b) }
    val baseDf = bases.toSeq.toDF("shard", "__base")
    withPos.join(broadcast(baseDf), Seq("shard"))
      .withColumn("global_pos", col("__base") + col("__sp"))
      .drop("__sp", "__base")
  }

  /** Export integrity manifest: per-shard document/token counts, the
    * global-position extent, and an order-insensitive 60-bit content
    * checksum (XOR of salted-md5 doc keys) — what a training run records
    * next to its shards so a re-export, a partial copy, or a silently
    * dropped file is detectable by comparing two manifest rows instead
    * of re-reading shard data. XOR makes the checksum partitioning- and
    * order-independent; 15 md5 hex digits keep the key inside a BIGINT
    * in both engines. One join (doc token counts) + one hash agg.
    */
  def shardManifest(exported: DataFrame, docs: DataFrame): DataFrame = {
    val h = conv(substring(md5(concat(lit("manifest:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    exported.join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ntok")), Seq("doc_id"))
      .select(col("shard"), col("global_pos"), h.as("h"), col("ntok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
        min("global_pos").as("first_pos"), max("global_pos").as("last_pos"),
        expr("bit_xor(h)").as("checksum"))
      .orderBy("shard")
  }

  /** Keep the top-k rows per stratum under the given ordering — the
    * "best k documents per domain" selection step of corpus curation.
    *
    * Callers must make the ordering total (tie-break on a unique key)
    * or the selection is nondeterministic at the k boundary.
    *
    * Scale shape: one hash shuffle on the stratum plus a per-partition
    * sort — no global sort, no collect; rank state is O(1) per stratum
    * within each partition. A stratum far hotter than the rest (one
    * domain = half the corpus) skews its partition; pre-aggregate with
    * [[Skew.saltedJoin]]-style salting or raise parallelism if a single
    * stratum exceeds an executor's sort budget.
    */
  def topKPerStratum(df: DataFrame, stratum: String, k: Int, order: Column*): DataFrame = {
    require(k > 0, "k must be positive")
    require(order.nonEmpty, "need at least one ordering column")
    df.withColumn("__rn", row_number().over(Window.partitionBy(stratum).orderBy(order: _*)))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Cap each stratum at `cap` documents (RefinedWeb-style per-domain
    * caps: no domain may dominate the corpus) — selecting EXACTLY the
    * `cap` rows with the smallest (hash bucket, key), i.e. the same set
    * `topKPerStratum(stratum, cap, bucket, key)` picks, WITHOUT that
    * method's stratum-wide window sort (its documented hot-stratum skew).
    *
    * Two phases, both bounded:
    *  1. bucket histogram per stratum (hash agg → ≤ strata × 10⁴ rows),
    *     cumulative counts via a window over ≤ 10⁴ HISTOGRAM rows per
    *     stratum (never over documents), giving each (stratum, bucket) a
    *     quota: full below the cutoff bucket, `cap − cum_before` AT it,
    *     zero above;
    *  2. rows join their (stratum, bucket) quota (hash join; the
    *     histogram side is small). Full-quota buckets pass with no
    *     ranking at all; only the ONE boundary bucket per stratum ranks
    *     its rows — a group of ~|stratum|/10⁴ documents, four orders of
    *     magnitude smaller than the stratum-wide sort.
    *
    * Selection is hash-deterministic (reruns, repartitions and appends
    * agree on which docs a full domain keeps), and an independent SQL
    * replay is just `row_number() OVER (PARTITION BY stratum ORDER BY
    * bucket, key) ≤ cap`.
    */
  def capPerStratum(docs: DataFrame, cap: Long, stratum: String = "source",
                    key: String = "doc_id", salt: String = "cap"): DataFrame = {
    require(cap > 0, "cap must be positive")
    val withB = docs.withColumn("__b", bucket(col(key), salt))
    val hist = withB.groupBy(col(stratum), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(stratum).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val quota = hist
      .withColumn("__cum", coalesce(sum("__c").over(wCum), lit(0L)))
      .withColumn("__q", greatest(lit(0L), least(col("__c"), lit(cap) - col("__cum"))))
      .select(col(stratum), col("__b"), col("__c"), col("__q"))
    val wInBucket = Window.partitionBy(col(stratum), col("__b")).orderBy(col(key))
    withB.join(quota, Seq(stratum, "__b"))
      .filter(col("__q") > 0)
      // the rank window partitions by (stratum, BUCKET) — each sort group
      // is one bucket's occupancy (~|stratum|/10⁴), and for full-quota
      // buckets the rn ≤ q filter is vacuously true
      .withColumn("__rn", row_number().over(wInBucket))
      .filter(col("__rn") <= col("__q"))
      .drop("__b", "__c", "__q", "__rn")
  }

  /** [[capPerStratum]] with a PER-STRATUM quota frame (stratum, quota)
    * instead of one global cap — the selection engine behind
    * [[unimaxSample]]. Same two bounded phases; the quota frame (≤ #strata
    * rows) is broadcast onto the histogram. A stratum absent from
    * `quotas`, or with quota ≤ 0, is dropped entirely; a quota above the
    * stratum's size keeps the whole stratum.
    */
  def capPerStratumQuotas(docs: DataFrame, quotas: DataFrame,
                          stratum: String = "lang", key: String = "doc_id",
                          salt: String = "cap"): DataFrame = {
    val withB = docs.withColumn("__b", bucket(col(key), salt))
    val hist = withB.groupBy(col(stratum), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .join(broadcast(quotas.select(col(stratum), col("quota").as("__cap"))),
        Seq(stratum))
    val wCum = Window.partitionBy(stratum).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val quota = hist
      .withColumn("__cum", coalesce(sum("__c").over(wCum), lit(0L)))
      .withColumn("__q", greatest(lit(0L), least(col("__c"), col("__cap") - col("__cum"))))
      .select(col(stratum), col("__b"), col("__q"))
    val wInBucket = Window.partitionBy(col(stratum), col("__b")).orderBy(col(key))
    withB.join(quota, Seq(stratum, "__b"))
      .filter(col("__q") > 0)
      .withColumn("__rn", row_number().over(wInBucket))
      .filter(col("__rn") <= col("__q"))
      .drop("__b", "__q", "__rn")
  }

  /** UniMax sampling (Chung et al. 2023, arXiv:2304.09151): allocate a
    * total `budget` of documents across strata (languages) such that no
    * stratum contributes more than `epochs` passes over its data, and the
    * remaining budget spreads UNIFORMLY over the unconstrained strata —
    * the closed-form water-filling:
    *
    *   sort strata by cap_l = ⌊count_l · epochs⌋ ascending;
    *   k* = max k with cap_k·(L−k+1) + Σ_{j<k} cap_j ≤ budget
    *        (the LHS is monotone in k, so "fully fund every stratum whose
    *        cap fits under the current water level");
    *   quota_l = cap_l for the k* funded strata,
    *             (budget − Σ_{j≤k*} cap_j) div (L−k*) for the rest.
    *
    * The whole allocation runs as window algebra over the STRATA frame
    * (≤ #languages rows — the single-task window is bounded by
    * construction, never over documents), then [[capPerStratumQuotas]]
    * picks each stratum's quota deterministically. Integer `div` floors
    * the uniform share; the ≤ L−1 remainder docs are intentionally left
    * unspent (documented, engine-exact).
    */
  def unimaxSample(docs: DataFrame, budget: Long, epochs: Double = 1.0,
                   stratum: String = "lang", key: String = "doc_id",
                   salt: String = "unimax"): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(epochs > 0, "epochs must be positive")
    val caps = docs.groupBy(stratum).agg(count(lit(1)).as("__n"))
      .withColumn("__cap", floor(col("__n") * epochs).cast("long"))
    val wOrd = Window.orderBy(col("__cap").asc, col(stratum).asc)
    val ranked = caps
      .withColumn("__k", row_number().over(wOrd))
      .withColumn("__s", coalesce(
        sum("__cap").over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val lTot = caps.agg(count(lit(1)).as("__L"))
    val g = ranked.crossJoin(broadcast(lTot))
      .withColumn("__full",
        col("__cap") * (col("__L") - col("__k") + 1) + col("__s") <= budget)
    val kStar = g.agg(
      coalesce(max(when(col("__full"), col("__k"))), lit(0L)).as("__kstar"),
      coalesce(sum(when(col("__full"), col("__cap"))), lit(0L)).as("__sk"),
      max(col("__L")).as("__nl"))
    val quotas = g.crossJoin(broadcast(kStar))
      .withColumn("quota",
        when(col("__k") <= col("__kstar"), col("__cap"))
          .otherwise(expr("(" + budget + "L - __sk) div greatest(__nl - __kstar, 1L)")))
      .select(col(stratum), col("quota"))
    capPerStratumQuotas(docs, quotas, stratum, key, salt)
  }
}
