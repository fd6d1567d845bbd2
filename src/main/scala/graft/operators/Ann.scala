package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.IndexTable

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two tiers:
  *  - brute-force cosine ([[topK]], [[neardupPairs]]) — the exact baseline
  *    and the oracle;
  *  - random-hyperplane LSH bucketing ([[lshNeardupPairs]]) — the scale
  *    path: cosine-similar vectors share sign patterns, so candidate
  *    generation is a bucket join instead of an O(n²) cross join;
  *    candidates are verified with the exact cosine, so precision is 1.
  *
  * Kernel choice: the dot/norm kernels are compiled Scala UDFs over
  * primitive arrays, NOT `zip_with`+`aggregate` — Spark's higher-order
  * array functions evaluate interpreted (CodegenFallback, per-element
  * boxing), which measured ~100× slower in the all-pairs join. The UDFs
  * fold left-to-right in double, bit-identical to DuckDB's
  * `list_sum(list_transform(...))` oracle.
  *
  * Scale notes: norms are computed once per row (not per pair); the pair
  * generator repartitions the streamed side so the nested-loop join
  * parallelizes across all cores instead of one task.
  */
object Ann {

  private def dotD(a: Seq[Float], b: Seq[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Primitive-array overload — no per-element boxing in the block kernel. */
  private def dotA(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private val dotUdf = udf((a: Seq[Float], b: Seq[Float]) => dotD(a, b))
  private val normUdf = udf((a: Seq[Float]) => math.sqrt(dotD(a, a)))

  /** Embeddings with a precomputed L2 norm column. Zero-norm vectors are
    * DROPPED: a zero vector has no direction, so its cosine is 0/0 = NaN —
    * and Spark's ordering ranks NaN ABOVE every real double, so an
    * unfiltered zero-norm corpus row would silently rank FIRST in every
    * top-k. Dropping here makes the contract uniform across the id,
    * external-vector, and persisted-index paths (the external overloads
    * already `require` a non-zero query); the packed pair kernels exclude
    * them anyway (`NaN >= threshold` is false). A zero-norm queryId
    * therefore resolves as absent → empty result.
    */
  def withNorm(embeddings: DataFrame): DataFrame =
    embeddings.withColumn("nrm", normUdf(col("embedding")))
      .filter(col("nrm") > 0.0)

  /** Brute-force top-k by cosine against the embedding of `queryId`.
    * The 1-row query side is broadcast; the scan stays a single pass.
    */
  def topK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), col("nrm").as("qn"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dotUdf(col("embedding"), col("qe")) / (col("nrm") * col("qn")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Brute-force top-k against an EXTERNAL query vector — the serving
    * path (the id overload only answers "most similar to a corpus
    * member"). Same single-pass scan + TakeOrderedAndProject shape.
    */
  def topK(embeddings: DataFrame, queryVec: Array[Float], k: Int): DataFrame = {
    var qn = 0.0
    var i = 0
    while (i < queryVec.length) { qn += queryVec(i).toDouble * queryVec(i); i += 1 }
    val norm = math.sqrt(qn)
    require(norm > 0, "query vector must be non-zero")
    withNorm(embeddings)
      .select(col("vec_id"),
        round(dotUdf(col("embedding"), typedlit(queryVec.toSeq)) / (col("nrm") * norm), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Deterministic ±1 Johnson-Lindenstrauss projection matrix: sign(j, i)
    * = parity of the first hex digit of md5("jl:seed:j:i") — an Achlioptas
    * (2001) database-friendly random projection whose "randomness" is a
    * salted hash, so any engine with md5 reproduces the exact matrix (the
    * [[graft.operators.Sampling.bucket]] philosophy applied to linear
    * algebra). Scaling by 1/√outDim keeps expected norms.
    */
  private[operators] def jlSigns(seed: Long, outDim: Int, inDim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim, inDim) { (j, i) =>
      md.reset()
      val d = md.digest(s"jl:$seed:$j:$i".getBytes("UTF-8"))
      val firstHexDigit = (d(0) >> 4) & 0xf
      if (firstHexDigit % 2 == 1) 1.0 else -1.0
    }
  }

  /** Project embeddings to `outDim` dimensions with the deterministic JL
    * matrix — the classic "make the ANN scan cheap" move: a 64→16
    * projection cuts probe arithmetic and scan bytes 4× while
    * approximately preserving cosine geometry (JL lemma), and because the
    * matrix is hash-derived it needs no stored model and no training.
    * Map-only; the (outDim × inDim) matrix broadcasts as a closure
    * constant. Output: (vec_id, embedding float[outDim]) — a drop-in
    * corpus for every tier in this file (brute force, IVF, SQ8).
    */
  def jlProject(embeddings: DataFrame, outDim: Int, seed: Long = 7L): DataFrame = {
    require(outDim > 0, "outDim must be positive")
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val signsByDim = new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()
    val projUdf = udf((emb: Seq[Float]) => {
      val s = signsByDim.computeIfAbsent(emb.length, d => jlSigns(seed, outDim, d))
      val out = new Array[Float](outDim)
      var j = 0
      while (j < outDim) {
        var acc = 0.0
        var i = 0
        val row = s(j)
        val n = math.min(emb.length, row.length)
        while (i < n) { acc += emb(i).toDouble * row(i); i += 1 }
        out(j) = (acc * scale).toFloat
        j += 1
      }
      out.toSeq
    })
    embeddings.select(col("vec_id"), projUdf(col("embedding")).as("embedding"))
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    * diversified top-k: greedily picks `kOut` results from the brute-force
    * top-`kCand` cosine candidates, each step maximizing
    *
    *   mmr(c) = λ·cos(q, c) − (1−λ)·max_{s ∈ selected} cos(c, s)
    *
    * — relevance minus redundancy, the standard rerank between an ANN
    * index and the user when near-duplicate hits would waste result slots.
    *
    * Determinism contract (what the SQL oracle replays): the candidate
    * pool is exactly [[topK]]'s selection (round-6 cos DESC, vec_id ASC,
    * query row excluded), each step's mmr is rounded to 6 dp before the
    * argmax, ties break on vec_id ASC, and the redundancy coefficient is
    * computed as `1.0 - λ` in double (NOT a separate literal — 1.0−0.7
    * and 0.3 differ in the last ulp).
    *
    * Scale shape: the distributed part is the candidate scan (one pass +
    * TakeOrderedAndProject, same as [[topK]]); the greedy loop runs on the
    * driver over the kCand-bounded pool — O(kOut·kCand) dot products on
    * ≤ a few dozen rows, the ASAP-style bounded collect. At 100 TB the
    * candidate generation is what scales (swap in the IVF tier); the
    * rerank cost is independent of corpus size by construction.
    */
  def mmrTopK(embeddings: DataFrame, queryId: Long, kCand: Int, kOut: Int,
              lambda: Double = 0.7): DataFrame = {
    require(kOut <= kCand, "kOut must be <= kCand")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), col("nrm").as("qn"))
    val cand = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        (dotUdf(col("embedding"), col("qe")) / (col("nrm") * col("qn"))).as("rawcos"))
      .withColumn("cos", round(col("rawcos"), 6))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(kCand)
      .select("vec_id", "embedding", "nrm", "rawcos")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2),
        r.getDouble(3)))
    val mu = 1.0 - lambda
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // (id, emb, nrm, mmr-at-selection) of picked results, in pick order
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Float], Double, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(cand: _*)
    while (selected.length < kOut && remaining.nonEmpty) {
      var bestIdx = -1
      var bestMmr = Double.NegativeInfinity
      var bestId = Long.MaxValue
      var i = 0
      while (i < remaining.length) {
        val (id, emb, nrm, rawcos) = remaining(i)
        var maxSim = Double.NegativeInfinity
        selected.foreach { case (_, semb, snrm, _) =>
          val sim = dotA(emb, semb) / (nrm * snrm)
          if (sim > maxSim) maxSim = sim
        }
        val mmr = round6(
          if (selected.isEmpty) lambda * rawcos
          else lambda * rawcos - mu * maxSim)
        if (mmr > bestMmr || (mmr == bestMmr && id < bestId)) {
          bestMmr = mmr; bestId = id; bestIdx = i
        }
        i += 1
      }
      val (id, emb, nrm, _) = remaining(bestIdx)
      selected += ((id, emb, nrm, bestMmr))
      remaining.remove(bestIdx)
    }
    selected.zipWithIndex
      .map { case ((id, _, _, mmr), r) => (r + 1L, id, mmr) }.toSeq
      .toDF("rank", "vec_id", "mmr")
  }

  /** Embedding-store QA report (the data-card face for the vector side):
    * per label — row count, zero-norm count (vectors the ANN family
    * DROPS, see [[withNorm]]), dimension min/max (a ragged store breaks
    * every kernel), and the 6-dp mean L2 norm. One map + one hash agg.
    * The mean is a double average (summation-order sensitive in the last
    * bits), rounded at 6 dp where the reordering noise (~1e-15 relative)
    * sits ten orders of magnitude below the rounding granularity — the
    * lmScore/statsDerive precedent.
    */
  def embeddingReport(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), normUdf(col("embedding")).as("nrm"),
        size(col("embedding")).as("dim"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        min("dim").as("min_dim"), max("dim").as("max_dim"),
        round(avg("nrm"), 6).as("mean_norm"))
      .orderBy("label")

  /** k-center coreset selection (Gonzalez 1985 farthest-point traversal):
    * greedily pick k vectors so every corpus vector is close to some
    * pick — the classic 2-approximation to the k-center cover, used for
    * diversity-preserving data selection (coresets for training-data
    * subsampling: the picks span the embedding space instead of
    * oversampling dense regions). Distance = 1 − cosine, rounded to 6 dp
    * per (point, center) so the argmax boundary is engine-identical;
    * ties break on min vec_id; the traversal starts at the min-id vector
    * (the standard arbitrary-start convention, made deterministic).
    *
    * Scale shape: the corpus NEVER visits the driver — driver state is k
    * center vectors. Each round is one map (update the running min
    * distance with the newest center, broadcast as a literal) + one
    * TakeOrdered(1); `localCheckpoint` cuts the k-deep lineage so round
    * r doesn't recompute rounds 1..r−1. Total cost k scans — the
    * textbook trade of farthest-point traversal, linear in n for fixed k.
    *
    * Output: (rank, vec_id, dist) in pick order; `dist` is the point's
    * min distance to the PRIOR picks at selection time (rank 1 = NULL) —
    * the running covering-radius estimate, non-increasing in rank.
    */
  def kCenters(embeddings: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e0 = withNorm(embeddings).select("vec_id", "embedding", "nrm")
    val first = e0.orderBy(col("vec_id").asc).limit(1).collect()
    require(first.nonEmpty, "embeddings is empty")
    var picks = List.empty[(Long, Long, Option[Double])]
    picks ::= ((1L, first(0).getLong(0), Option.empty[Double]))
    var centerEmb = first(0).getSeq[Float](1).toArray
    var centerNrm = first(0).getDouble(2)
    var cur = e0.filter(col("vec_id") =!= first(0).getLong(0))
      .withColumn("mind", lit(Double.MaxValue))
    var r = 2
    var exhausted = false
    // only ONE round's checkpoint lives in executor storage at a time:
    // the prior round's blocks are released as soon as the next round's
    // eager checkpoint has materialized (without this, k corpus-sized
    // copies accumulate for the session's lifetime)
    var prevCheckpoint: Option[DataFrame] = None
    while (r <= k && !exhausted) {
      val d = round(lit(1.0) -
        dotUdf(col("embedding"), lit(centerEmb)) / (col("nrm") * centerNrm), 6)
      cur = cur.withColumn("mind", least(col("mind"), d)).localCheckpoint(true)
      prevCheckpoint.foreach(_.unpersist())
      prevCheckpoint = Some(cur)
      val next = cur.orderBy(col("mind").desc, col("vec_id").asc).limit(1).collect()
      if (next.isEmpty) exhausted = true
      else {
        val row = next(0)
        picks ::= ((r.toLong, row.getLong(0), Some(row.getDouble(3))))
        centerEmb = row.getSeq[Float](1).toArray
        centerNrm = row.getDouble(2)
        cur = cur.filter(col("vec_id") =!= row.getLong(0))
        r += 1
      }
    }
    // the picks are collected driver values — the last round's blocks
    // are no longer needed either
    prevCheckpoint.foreach(_.unpersist())
    picks.reverse.toDF("rank", "vec_id", "dist").orderBy("rank")
  }

  /** Mean-pool member embeddings to group embeddings — the chunk→doc
    * pooling step of a RAG/doc-embedding pipeline ([[graft.operators.Rag]]
    * embeds chunks; serving often wants one vector per document). The
    * element-wise mean runs as posexplode → (group, pos) hash agg →
    * per-group reassembly (collected entries per group = dim, bounded);
    * output values round to 6 dp (the repo FP-parity convention). The
    * pooled frame drops straight back into the ANN family under the
    * group id.
    */
  def meanPoolEmbeddings(vectors: DataFrame, groupCol: String,
                         vecCol: String = "embedding"): DataFrame =
    vectors.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(groupCol, "pos")
      .agg(round(avg(col("v")), 6).as("v"))
      .groupBy(groupCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        s => s.getField("v")).as(vecCol))

  /** Exact near-duplicate pairs: all (a<b) with cosine ≥ threshold.
    * O(n²) arithmetic — the correctness oracle; use [[lshNeardupPairs]] at
    * scale when the threshold sits in LSH's effective regime (cos ≥ ~0.8).
    *
    * Implemented as a *distributed block kernel*: vectors are grouped into
    * `numBlocks` id-hash blocks packed as primitive arrays, the O(B²) block
    * pairs are joined (each a fixed-width row carrying two packed blocks),
    * and every task runs tight `while` loops over one block pair. No driver
    * `collect()` (the corpus never visits the driver), no n²-row shuffle —
    * shuffle volume is each vector replicated ~B times. B defaults to
    * ≈√(2·parallelism) so every core gets a block pair; at real scale pick
    * `numBlocks` so a block (n/B vectors) fits a task's memory.
    *
    * Per-pair UDFs over array columns were 100× slower (UnsafeArrayData→Seq
    * conversion per pair); FP op order matches the DuckDB oracle exactly
    * (left-to-right dot in double, then `/(na*nb)` — multiplication is
    * commutative per IEEE, so cross-block orientation doesn't matter).
    */
  /** (blk, ids, vecs, nrms) — vectors id-hash-grouped into `b` blocks
    * packed as primitive arrays, norms precomputed. The block kernels'
    * shared input shape.
    */
  private def packBlocks(embeddings: DataFrame, b: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .groupByKey { case (id, _) => (((id % b) + b) % b).toInt }
      .mapGroups { (blk, it) =>
        val arr = it.toArray.sortBy(_._1)
        (blk, arr.map(_._1), arr.map(_._2), arr.map(t => math.sqrt(dotA(t._2, t._2))))
      }
      .toDF("blk", "ids", "vecs", "nrms")
  }

  def neardupPairs(embeddings: DataFrame, threshold: Double, numBlocks: Int = 0): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    val B = if (numBlocks > 0) numBlocks else math.max(2, math.ceil(math.sqrt(2.0 * par)).toInt)
    val packed = packBlocks(embeddings, B)
    val pairsIdx = (for { a <- 0 until B; b <- a until B } yield (a, b))
      .toDF("blk_a", "blk_b")
    pairsIdx
      .join(packed.select(col("blk").as("blk_a"), col("ids").as("ids_a"),
        col("vecs").as("vecs_a"), col("nrms").as("nrms_a")), "blk_a")
      .join(packed.select(col("blk").as("blk_b"), col("ids").as("ids_b"),
        col("vecs").as("vecs_b"), col("nrms").as("nrms_b")), "blk_b")
      .repartition(B * (B + 1) / 2, col("blk_a"), col("blk_b"))
      .select("blk_a", "blk_b", "ids_a", "vecs_a", "nrms_a", "ids_b", "vecs_b", "nrms_b")
      .as[(Int, Int, Array[Long], Array[Array[Float]], Array[Double],
           Array[Long], Array[Array[Float]], Array[Double])]
      .flatMap { case (ba, bb, idsA, vecsA, nrmsA, idsB, vecsB, nrmsB) =>
        val out = Vector.newBuilder[(Long, Long, Double)]
        if (ba == bb) {
          var i = 0
          while (i < idsA.length) {
            var j = i + 1
            while (j < idsA.length) {
              val cos = dotA(vecsA(i), vecsA(j)) / (nrmsA(i) * nrmsA(j))
              if (cos >= threshold) out += ((idsA(i), idsA(j), cos))
              j += 1
            }
            i += 1
          }
        } else {
          var i = 0
          while (i < idsA.length) {
            var j = 0
            while (j < idsB.length) {
              val cos = dotA(vecsA(i), vecsB(j)) / (nrmsA(i) * nrmsB(j))
              if (cos >= threshold) {
                if (idsA(i) < idsB(j)) out += ((idsA(i), idsB(j), cos))
                else out += ((idsB(j), idsA(i), cos))
              }
              j += 1
            }
            i += 1
          }
        }
        out.result()
      }
      .toDF("id_a", "id_b", "cos")
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .orderBy("id_a", "id_b")
  }

  /** Incremental exact near-dup — the daily-crawl shape for the embedding
    * tier: a NEW batch of vectors is compared against an existing INDEX
    * without ever forming index×index pairs. The kernel is the same
    * packed-block design as [[neardupPairs]] but joins a Bn×Bi RECTANGLE
    * of (new-block, index-block) pairs instead of the O(B²) upper triangle
    * of the union — per-batch arithmetic is |new|·|index| dot products,
    * proportional to the batch, never |new ∪ index|². Returns
    * (id_new, id_index, cos ≥ threshold); sides are oriented, no
    * de-duplication of (a, b) vs (b, a) is needed.
    */
  def neardupPairsIncremental(newVecs: DataFrame, indexVecs: DataFrame,
                              threshold: Double, numBlocks: Int = 0): DataFrame = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    // Bn×Bi rectangle cells ≈ parallelism; at real scale size Bi so an
    // index block fits a task's memory and let Bn grow with the batch
    val B = if (numBlocks > 0) numBlocks else math.max(1, math.ceil(math.sqrt(par.toDouble)).toInt)
    val packedN = packBlocks(newVecs, B)
      .toDF("blk_n", "ids_n", "vecs_n", "nrms_n")
    val packedI = packBlocks(indexVecs, B)
      .toDF("blk_i", "ids_i", "vecs_i", "nrms_i")
    val cells = (for { a <- 0 until B; b <- 0 until B } yield (a, b))
      .toDF("blk_n", "blk_i")
    cells
      .join(packedN, "blk_n")
      .join(packedI, "blk_i")
      .repartition(B * B, col("blk_n"), col("blk_i"))
      .select("ids_n", "vecs_n", "nrms_n", "ids_i", "vecs_i", "nrms_i")
      .as[(Array[Long], Array[Array[Float]], Array[Double],
           Array[Long], Array[Array[Float]], Array[Double])]
      .flatMap { case (idsN, vecsN, nrmsN, idsI, vecsI, nrmsI) =>
        val out = Vector.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < idsN.length) {
          var j = 0
          while (j < idsI.length) {
            val cos = dotA(vecsN(i), vecsI(j)) / (nrmsN(i) * nrmsI(j))
            if (cos >= threshold) out += ((idsN(i), idsI(j), cos))
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("id_new", "id_index", "cos")
      .select(col("id_new"), col("id_index"), round(col("cos"), 6).as("cos"))
      .orderBy("id_new", "id_index")
  }

  // --------------------------------------------------------------- IVF

  /** Seeded Lloyd's k-means over a driver-side sample — centroid training
    * for the IVF index. The sample is bounded (`sampleSize`), so training
    * cost is independent of corpus size; assignment is the distributed
    * part.
    */
  private[operators] def trainCentroids(sample: Array[Array[Float]], nlist: Int,
                                        iters: Int = 10, seed: Long = 77L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    val dim = sample.head.length
    var centroids = rng.shuffle(sample.toVector).take(nlist)
      .map(_.map(_.toDouble)).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Int](nlist)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    centroids
  }

  private[operators] def nearestCentroid(v: Array[Float], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0
      val ct = centroids(c)
      var i = 0
      val n = math.min(v.length, ct.length)
      while (i < n) { val x = v(i) - ct(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** IVF-style top-k: vectors are partitioned by nearest centroid
    * (inverted lists); a query scans only the `nProbe` lists nearest to it
    * instead of the whole corpus — the classic recall/cost dial. Exact
    * cosine inside the probed lists, so results are a subset of the
    * brute-force ranking.
    */
  /** Bounded uniform training sample, deterministic and partition-spanning:
    * order by a hash of the key and take the first `sampleSize`. Unlike
    * `limit(n)` (the first partition's first rows — a biased slice that
    * degenerates to one shard's distribution at scale), the hash order is
    * independent of physical layout; and unlike `sample(fraction)` it needs
    * no prior `count()`. Executes as per-partition top-k + driver merge
    * (TakeOrderedAndProject), no full sort shuffle.
    */
  private[operators] def uniformSample(embeddings: DataFrame, sampleSize: Int): Array[(Long, Array[Float])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")))
      .limit(sampleSize)
      .as[(Long, Array[Float])]
      .collect()
  }

  def ivfTopK(embeddings: DataFrame, queryId: Long, k: Int,
              nlist: Int = 16, nProbe: Int = 4, sampleSize: Int = 2000): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    def emptyResult = Seq.empty[(Long, Double)].toDF("vec_id", "cos")
    val sample = uniformSample(embeddings, sampleSize).map(_._2)
    if (sample.isEmpty) return emptyResult
    val centroids = trainCentroids(sample, math.min(nlist, sample.length))
    val bc = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf((v: Seq[Float]) => nearestCentroid(v.toArray, bc.value))
    val listed = withNorm(embeddings).withColumn("ivf_list", assignUdf(col("embedding")))

    // absent query id → empty result, matching the brute-force tier
    val q = listed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), col("nrm").as("qn"))
      .as[(Array[Float], Double)].collect().headOption
      .getOrElse(return emptyResult)
    val probeLists = centroids.indices
      .sortBy { c =>
        var d = 0.0
        var i = 0
        while (i < q._1.length) { val x = q._1(i) - centroids(c)(i); d += x * x; i += 1 }
        d
      }
      .take(nProbe)
    listed.filter(col("ivf_list").isin(probeLists: _*))
      .select(col("vec_id"),
        round(dotUdf(col("embedding"), typedlit(q._1.toSeq)) / (col("nrm") * q._2), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Persist the IVF index ONCE — the production shape of [[ivfTopK]],
    * which retrains k-means and re-assigns every list on every call. A
    * real corpus serves many queries per index build, so train + assign
    * are paid at write time:
    *
    *  - `table`: (vec_id, embedding, nrm, ivf_list), PARTITIONED on
    *    `ivf_list` — a probe reads only its `nProbe` list directories
    *    (partition pruning), never the whole corpus;
    *  - `table_centroids`: the nlist trained centroids (tiny — collected
    *    per query to rank probe lists, never joined at scale);
    *  - `graft.nlist` rides the table properties so per-query validation
    *    is a catalog lookup.
    *
    * Mirrors [[graft.operators.Dedup.writeSignatureIndex]]; at 100 TB the
    * index adds one double (the norm) and one int (the list) per vector
    * and is rebuilt only when drift degrades the centroids.
    */
  def writeIvfIndex(embeddings: DataFrame, tableName: String,
                    nlist: Int = 16, sampleSize: Int = 2000): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    IndexTable.drop(spark, tableName)
    IndexTable.drop(spark, s"${tableName}_centroids")
    val sample = uniformSample(embeddings, sampleSize).map(_._2)
    require(sample.nonEmpty, s"cannot build IVF index $tableName over an empty corpus")
    val effNlist = math.min(nlist, sample.length)
    val centroids = trainCentroids(sample, effNlist)
    val bc = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf((v: Seq[Float]) => nearestCentroid(v.toArray, bc.value))
    // write-time assignment quality rides the metadata as the drift
    // reference: ivfDrift compares the live mean against this value to
    // decide when appends have degraded the centroids enough to rebuild.
    // It is computed as an OBSERVED metric of the write job itself
    // (CollectMetrics on the rows flowing into the writer) — the
    // previous shape re-scanned the freshly written table, a second
    // full corpus pass per build that the bench's build-phase split
    // exposed as half the q_embed_neardup_idx row.
    val distUdf = udf { (v: Seq[Float], list: Int) =>
      val c = bc.value(list)
      var d = 0.0
      var i = 0
      while (i < c.length) { val x = v(i) - c(i); d += x * x; i += 1 }
      math.sqrt(d)
    }
    val obs = new org.apache.spark.sql.Observation()
    withNorm(embeddings).withColumn("ivf_list", assignUdf(col("embedding")))
      .withColumn("dist", distUdf(col("embedding"), col("ivf_list")))
      .observe(obs, avg(col("dist")).as("mean_dist"))
      .select("vec_id", "embedding", "nrm", "ivf_list")
      // cluster by list before the partitioned write: one task per list =
      // one file per list directory, instead of (tasks × lists) shards
      .repartition(col("ivf_list"))
      .write.format("parquet").partitionBy("ivf_list")
      .mode("overwrite").saveAsTable(tableName)
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("ivf_list", "centroid")
      .write.format("parquet").mode("overwrite").saveAsTable(s"${tableName}_centroids")
    val refDist = obs.get("mean_dist") match {
      case d: java.lang.Double => d.doubleValue()
      case _ => 0.0 // empty corpus is rejected above; defensive only
    }
    // nlist vs nlistRequested: graft.nlist is the EFFECTIVE list count
    // (shrunk when the corpus was smaller than the request) and is what
    // probes validate against; nlistRequested preserves the caller's
    // intent so a drift rebuild over a now-larger corpus can train the
    // full requested count instead of pinning the seed-time shrinkage
    IndexTable.setProps(spark, tableName, "graft.nlist" -> effNlist,
      "graft.nlistRequested" -> nlist, "graft.meanDist" -> refDist)
  }

  /** Append NEW vectors to a persisted [[writeIvfIndex]] table WITHOUT
    * retraining: each vector is assigned against the STORED centroids
    * (broadcast — nlist rows) and partition-appended, so only the touched
    * `ivf_list` directories gain files and existing rows are never
    * rewritten. The centroids table and `graft.*` properties are left
    * untouched — the index's probe semantics (and its drift reference)
    * stay pinned to the original training. Callers own vec_id uniqueness
    * across appends, as with any append-only store.
    *
    * This is the daily-crawl maintenance path: per-batch cost is
    * |batch| assignments + a partitioned write, independent of index
    * size. When [[ivfDrift]] shows the stored centroids no longer fit
    * the corpus, rebuild with [[writeIvfIndex]].
    */
  def appendToIvfIndex(newVecs: DataFrame, tableName: String): Unit = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    IndexTable.prop(spark, tableName, "graft.nlist", "writeIvfIndex")
    val centroids = spark.table(s"${tableName}_centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    val bc = spark.sparkContext.broadcast(centroids)
    // dimension guard INSIDE the assign UDF — every row, not a sampled
    // first-row check: nearestCentroid truncates to min(dims), so a
    // wrong-dimension batch would otherwise be silently assigned to
    // near-arbitrary lists, degrading probe recall with no error (at
    // odds with the fail-loudly property checks everywhere else here)
    val assignUdf = udf { (v: Seq[Float]) =>
      require(v.length == bc.value.head.length,
        s"batch embedding dimension ${v.length} != index dimension ${bc.value.head.length}")
      nearestCentroid(v.toArray, bc.value)
    }
    withNorm(newVecs).withColumn("ivf_list", assignUdf(col("embedding")))
      .select("vec_id", "embedding", "nrm", "ivf_list")
      .repartition(col("ivf_list"))
      // insertInto resolves the partitioning from the table metadata
      // (partition column last in the select), appending files into the
      // per-list directories
      .write.mode("append").insertInto(tableName)
  }

  /** Mean L2 distance of every indexed vector to its ASSIGNED centroid —
    * the scalar k-means objective the index was trained to minimize.
    * One scan + broadcast lookup; a maintenance metric, not a query-path
    * cost.
    */
  private def meanAssignedDist(spark: org.apache.spark.sql.SparkSession,
                               tableName: String): Double = {
    import spark.implicits._
    val centroids = spark.table(s"${tableName}_centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    val bc = spark.sparkContext.broadcast(centroids)
    val distUdf = udf { (v: Seq[Float], list: Int) =>
      val c = bc.value(list)
      var d = 0.0
      var i = 0
      while (i < c.length) { val x = v(i) - c(i); d += x * x; i += 1 }
      math.sqrt(d)
    }
    val row = spark.table(tableName)
      .agg(avg(distUdf(col("embedding"), col("ivf_list")))).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** Incremental near-dup against a PERSISTED IVF index — the embedding
    * face of the persisted-index story ([[graft.operators.Dedup.writeSignatureIndex]],
    * [[graft.operators.Dedup.writeSimhashIndex]]): the index side's
    * norms are STORED (never recomputed per batch) and the scan is
    * pruned to the `nProbe` nearest lists of each new vector, read
    * co-located from the `ivf_list` partitioning. Each index vector
    * lives in exactly one list and a new vector probes each list at most
    * once, so pairs are emitted exactly once — no dedup pass.
    *
    *  - `nProbe = nlist` scans every list: EXACT, ≡
    *    [[neardupPairsIncremental]] (the contract tier);
    *  - `nProbe < nlist` is the scale path: per-batch cost ∝
    *    |batch| · (corpus fraction in probed lists), with the usual IVF
    *    recall caveat — a cross-list near-dup pair is missed, so pick
    *    nProbe by the drift/recall budget, not the contract.
    *
    * Returns (id_new, id_index, cos ≥ threshold), oriented sides.
    */
  def neardupAgainstIvfIndex(newVecs: DataFrame, tableName: String,
                             threshold: Double, nProbe: Int): DataFrame = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    val nlist = IndexTable.prop(spark, tableName, "graft.nlist", "writeIvfIndex").toInt
    require(nProbe >= 1 && nProbe <= nlist, s"nProbe must be in [1, $nlist]")
    val centroids = spark.table(s"${tableName}_centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    val bc = spark.sparkContext.broadcast(centroids)
    val probeUdf = udf { (v: Seq[Float]) =>
      val va = v.toArray
      // same per-row guard as appendToIvfIndex: a wrong-dimension batch
      // would otherwise probe near-arbitrary lists (prefix distances)
      // and emit prefix cosines over full stored norms — silently wrong
      require(va.length == bc.value.head.length,
        s"batch embedding dimension ${va.length} != index dimension ${bc.value.head.length}")
      bc.value.indices.sortBy { c =>
        val cv = bc.value(c)
        var d = 0.0
        var i = 0
        while (i < va.length) { val x = va(i) - cv(i); d += x * x; i += 1 }
        d
      }.take(nProbe)
    }
    val newListed = withNorm(newVecs)
      .select(col("vec_id").as("id_new"), col("embedding").as("emb_new"),
        col("nrm").as("nrm_new"), explode(probeUdf(col("embedding"))).as("probe"))
    // Packed per-list rectangle kernel, not a row join: a per-pair UDF
    // cosine pays boxed-array conversion per PAIR (measured ~20× the
    // packed kernel on the same arithmetic); packing pays it per ROW.
    // BOTH sides pack into B hash blocks per list so a packed row stays
    // task-sized at any batch or list size. A new vector probing list L
    // lands in exactly one (L, blkN) row and an index vector of L in one
    // (L, blkI) row; the join on L crosses the blkN × blkI cells, so
    // every pair is formed exactly once.
    val B = math.max(1, math.ceil(math.sqrt(spark.sparkContext.defaultParallelism.toDouble)).toInt)
    // The packed batch is CACHED (lazy, lineage-recoverable — not a
    // checkpoint): the probed-list collect just below materializes it,
    // and the kernel join re-reads it from cache, so the centroid
    // assignment UDF runs exactly ONCE per batch (SinglePassSpec pins
    // this). MEMORY_ONLY on purpose: the daily-batch maintenance loop
    // this API exists for calls it once per batch, and a
    // MEMORY_AND_DISK cache would accumulate one disk-backed packed
    // batch per call for the session lifetime — memory-only blocks are
    // LRU-EVICTED under pressure instead (recomputed from lineage,
    // still correct), so the cross-call footprint is bounded by the
    // storage pool, not the session age.
    val newPacked = newListed
      .as[(Long, Array[Float], Double, Int)]
      .groupByKey(r => (r._4, (((r._1 % B) + B) % B).toInt))
      .mapGroups { (key: (Int, Int), it: Iterator[(Long, Array[Float], Double, Int)]) =>
        val arr = it.toArray.sortBy(_._1)
        (key._1, arr.map(_._1), arr.map(_._2), arr.map(_._3))
      }
      .toDF("probe", "ids_n", "vecs_n", "nrms_n")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // collected distinct probe ids (≤ nlist, driver-bounded) turn the
    // list restriction into a STATIC partition filter on the index scan;
    // this action fills the cache the kernel join reads
    val probed = newPacked.select("probe").distinct().as[Int].collect().toSeq
    val idxPacked = spark.table(tableName)
      .filter(col("ivf_list").isin(probed: _*))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("ivf_list"))
      .as[(Long, Array[Float], Double, Int)]
      .groupByKey(r => (r._4, (((r._1 % B) + B) % B).toInt))
      .mapGroups { (key: (Int, Int), it: Iterator[(Long, Array[Float], Double, Int)]) =>
        val arr = it.toArray.sortBy(_._1)
        (key._1, arr.map(_._1), arr.map(_._2), arr.map(_._3))
      }
      .toDF("ivf_list", "ids_i", "vecs_i", "nrms_i")
    val result = newPacked.join(idxPacked, col("probe") === col("ivf_list"))
      .select("ids_n", "vecs_n", "nrms_n", "ids_i", "vecs_i", "nrms_i")
      .as[(Array[Long], Array[Array[Float]], Array[Double],
           Array[Long], Array[Array[Float]], Array[Double])]
      .flatMap { case (idsN, vecsN, nrmsN, idsI, vecsI, nrmsI) =>
        val out = Vector.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < idsN.length) {
          var j = 0
          while (j < idsI.length) {
            val cos = dotA(vecsN(i), vecsI(j)) / (nrmsN(i) * nrmsI(j))
            if (cos >= threshold) out += ((idsN(i), idsI(j), cos))
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("id_new", "id_index", "cos")
      .select(col("id_new"), col("id_index"), round(col("cos"), 6).as("cos"))
      .orderBy("id_new", "id_index")
    result
  }

  /** Centroid-drift metric for a persisted IVF index: (reference, current,
    * ratio) where `reference` is the write-time mean assigned distance
    * (stored in the table properties by [[writeIvfIndex]]) and `current`
    * is the same statistic over the table NOW — appends assigned to
    * stale centroids push it up. ratio ≈ 1 means the centroids still fit
    * the corpus; a sustained ratio above ~1.2–1.5 (workload-dependent)
    * is the documented "rebuild when drift degrades" trigger.
    */
  def ivfDrift(spark: org.apache.spark.sql.SparkSession,
               tableName: String): (Double, Double, Double) = {
    val ref = IndexTable.prop(spark, tableName, "graft.meanDist", "writeIvfIndex").toDouble
    // serves both index families: an SQ8 table stores codes, so the live
    // statistic decodes per row (reference was written the same way)
    val cur =
      if (IndexTable.props(spark, tableName).get("graft.sq8").contains("true"))
        meanAssignedDistSq8(spark, tableName)
      else meanAssignedDist(spark, tableName)
    // ref = 0 means the write-time assignment was PERFECT (e.g. a seed
    // corpus with ≤ nlist distinct patterns) — any later nonzero live
    // mean is then infinite relative drift, not "no drift": returning 1.0
    // here would mask rot forever and the maintain policies would never
    // rebuild such an index
    val ratio =
      if (ref > 0) cur / ref
      else if (cur > 0) Double.PositiveInfinity
      else 1.0
    (ref, cur, ratio)
  }

  /** The maintenance POLICY the drift metric exists for: append the
    * batch, read [[ivfDrift]], and REBUILD the index from its own full
    * contents when the ratio exceeds `driftThreshold` (default 1.3 — the
    * middle of the documented ~1.2–1.5 trigger band; tune per workload).
    * Returns (driftRatioAfterAppend, rebuilt).
    *
    * Cost model (SCALING.md): an append costs ∝ |batch|; a rebuild costs
    * ∝ |index| (retrain + reassign + rewrite). The threshold turns the
    * unbounded "appends slowly rot the centroids" failure mode into a
    * bounded amortized cost — rebuilds trigger at a drift level, not a
    * cadence, so a stationary corpus never pays one.
    *
    * The rebuild is a [[graft.util.IndexTable.rewrite]]: the replacement
    * (rows, centroids, `graft.*` properties) is written under
    * `*_rebuild_tmp` while the live index stays intact, so a failed build
    * leaves it untouched, and is then copied over the live name from the
    * tmp tables' files.
    * Rebuilding retrains on the FULL current corpus (same `sampleSize`
    * bound) at the originally REQUESTED nlist, so afterwards drift = 1
    * by construction and probe results equal a from-scratch index.
    */
  def maintainIvfIndex(newVecs: DataFrame, tableName: String,
                       driftThreshold: Double = 1.3,
                       sampleSize: Int = 2000): (Double, Boolean) = {
    require(driftThreshold > 0, "driftThreshold must be positive")
    val spark = newVecs.sparkSession
    appendToIvfIndex(newVecs, tableName)
    val (_, _, ratio) = ivfDrift(spark, tableName)
    if (ratio > driftThreshold) {
      IndexTable.rewrite(spark, tableName, s"${tableName}_rebuild_tmp", Seq("_centroids")) { tmp =>
        writeIvfIndex(spark.table(tableName).select(col("vec_id"), col("embedding")),
          tmp, requestedNlist(spark, tableName), sampleSize)
      }
      (ratio, true)
    } else (ratio, false)
  }

  /** The list count a drift rebuild trains: the caller's request, not the
    * seed-time shrinkage; pre-`nlistRequested` tables fall back to the
    * effective count.
    */
  private def requestedNlist(spark: org.apache.spark.sql.SparkSession,
                             tableName: String): Int =
    IndexTable.props(spark, tableName).getOrElse("graft.nlistRequested",
      IndexTable.prop(spark, tableName, "graft.nlist", "writeIvfIndex")).toInt

  /** Top-k against a persisted [[writeIvfIndex]] table — never retrains:
    * centroids come from the side table (nlist rows, a bounded collect),
    * the query vector from the index itself, and the probe scan reads
    * only the `nProbe` nearest list partitions. At nProbe = nlist this is
    * exactly brute force, so it shares [[ivfTopK]]'s (and the brute
    * tier's) results; fails loudly if `graft.nlist` is absent (an index
    * not written by [[writeIvfIndex]] has no validated parameters).
    */
  def ivfTopKAgainstIndex(spark: org.apache.spark.sql.SparkSession, tableName: String,
                          queryId: Long, k: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    val centroids = validatedCentroids(spark, tableName, nProbe)
    def emptyResult = Seq.empty[(Long, Double)].toDF("vec_id", "cos")
    val q = spark.table(tableName).filter(col("vec_id") === queryId)
      .select(col("embedding"), col("nrm"))
      .as[(Array[Float], Double)].collect().headOption
      .getOrElse(return emptyResult)
    ivfProbe(spark, tableName, centroids, q._1, q._2, k, nProbe)
  }

  /** [[ivfTopKAgainstIndex]] for an EXTERNAL query vector — the serving
    * path; the id overload only answers "most similar to an indexed
    * vector". Identical probe-list pruning and partition-pruned scan.
    */
  def ivfTopKAgainstIndex(spark: org.apache.spark.sql.SparkSession, tableName: String,
                          queryVec: Array[Float], k: Int, nProbe: Int): DataFrame = {
    val centroids = validatedCentroids(spark, tableName, nProbe)
    var qn = 0.0
    var i = 0
    while (i < queryVec.length) { qn += queryVec(i).toDouble * queryVec(i); i += 1 }
    val norm = math.sqrt(qn)
    require(norm > 0, "query vector must be non-zero")
    ivfProbe(spark, tableName, centroids, queryVec, norm, k, nProbe)
  }

  /** Shared [[ivfTopKAgainstIndex]] plumbing: property-validated centroid
    * load (catalog lookup + nlist-row side-table collect).
    */
  private def validatedCentroids(spark: org.apache.spark.sql.SparkSession,
                                 tableName: String, nProbe: Int): Array[Array[Double]] = {
    import spark.implicits._
    val nlist = IndexTable.prop(spark, tableName, "graft.nlist", "writeIvfIndex").toInt
    require(nProbe >= 1 && nProbe <= nlist, s"nProbe must be in [1, $nlist]")
    spark.table(s"${tableName}_centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
  }

  private def ivfProbe(spark: org.apache.spark.sql.SparkSession, tableName: String,
                       centroids: Array[Array[Double]], qVec: Array[Float],
                       qNorm: Double, k: Int, nProbe: Int): DataFrame = {
    // a wrong-dimension query would silently rank lists by prefix
    // distance and score by prefix dot product — fail loudly instead
    require(qVec.length == centroids.head.length,
      s"query dimension ${qVec.length} != index dimension ${centroids.head.length}")
    val probeLists = centroids.indices
      .sortBy { c =>
        var d = 0.0
        var i = 0
        while (i < qVec.length) { val x = qVec(i) - centroids(c)(i); d += x * x; i += 1 }
        d
      }
      .take(nProbe)
    spark.table(tableName).filter(col("ivf_list").isin(probeLists: _*))
      .select(col("vec_id"),
        round(dotUdf(col("embedding"), typedlit(qVec.toSeq)) / (col("nrm") * qNorm), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  // ------------------------------------- int8 scalar quantization (SQ8)

  /** Per-vector int8 quantization: q_i = floor((x_i − mn)/(mx − mn)·255
    * + 0.5) with the vector's own [mn, mx] range. Constant vectors (mx =
    * mn) quantize to all-zeros and decode to mn.
    */
  private def sq8Quant(v: Seq[Float]): (Array[Byte], Float, Float) = {
    val n = v.length
    var mn = Float.PositiveInfinity
    var mx = Float.NegativeInfinity
    var i = 0
    while (i < n) { val x = v(i); if (x < mn) mn = x; if (x > mx) mx = x; i += 1 }
    val code = new Array[Byte](n)
    if (mx > mn) {
      val mnD = mn.toDouble
      val span = mx.toDouble - mnD
      i = 0
      while (i < n) {
        code(i) = math.floor((v(i).toDouble - mnD) / span * 255.0 + 0.5).toInt.toByte
        i += 1
      }
    }
    (code, mn, mx)
  }

  /** Decode to double: x'_i = mn + (q_i/255)·(mx − mn). Op order matches
    * the DuckDB oracle replay exactly.
    */
  private def sq8Dequant(code: Array[Byte], mn: Float, mx: Float): Array[Double] = {
    val n = code.length
    val out = new Array[Double](n)
    val mnD = mn.toDouble
    val span = mx.toDouble - mnD
    var i = 0
    if (span > 0)
      while (i < n) { out(i) = mnD + (code(i) & 0xff).toDouble / 255.0 * span; i += 1 }
    else
      while (i < n) { out(i) = mnD; i += 1 }
    out
  }

  private val sq8QuantUdf = udf { (v: Seq[Float]) => sq8Quant(v) }
  private val sq8DequantUdf =
    udf { (c: Array[Byte], mn: Float, mx: Float) => sq8Dequant(c, mn, mx).toSeq }
  private def dotDD(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
  private val dotDDUdf = udf((a: Seq[Double], b: Seq[Double]) => dotDD(a, b))
  private val normDDUdf = udf((a: Seq[Double]) => math.sqrt(dotDD(a, a)))

  /** SQ8-compressed embedding store: (vec_id, code BINARY, mn, mx) —
    * d bytes + 2 floats per vector vs 4d bytes raw, a ~3.9× memory/IO
    * reduction at d=128. This is the column you'd persist for a corpus
    * whose raw vectors don't fit the cluster's scan budget; max absolute
    * decode error is (mx − mn)/510 per element.
    */
  def quantizeSq8(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), sq8QuantUdf(col("embedding")).as("r"))
      .select(col("vec_id"), col("r._1").as("code"),
        col("r._2").as("mn"), col("r._3").as("mx"))

  /** The SQ8 store decoded back to double vectors with serving norms —
    * the shared scan of both [[topKSq8]] overloads. Zero-norm decoded
    * vectors (all-zero constants) are dropped, mirroring [[withNorm]]'s
    * contract.
    */
  private def sq8Decoded(embeddings: DataFrame): DataFrame =
    quantizeSq8(embeddings)
      .withColumn("dq", sq8DequantUdf(col("code"), col("mn"), col("mx")))
      .withColumn("nrm", normDDUdf(col("dq")))
      .filter(col("nrm") > 0.0)
      .select("vec_id", "dq", "nrm")

  /** Brute-force top-k over the SQ8-DECODED vectors (symmetric distance:
    * both sides, query included, go through the code path — exactly what
    * a store serving from codes computes). Self-cosine stays exactly 1;
    * neighbor ranking shifts only within the quantization error. Scale
    * shape is [[topK]]'s: broadcast 1-row query, single corpus pass, but
    * the scan reads the ~4× smaller code column.
    */
  def topKSq8(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val deq = sq8Decoded(embeddings)
    val q = deq.filter(col("vec_id") === queryId)
      .select(col("dq").as("qe"), col("nrm").as("qn"))
    deq.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dotDDUdf(col("dq"), col("qe")) / (col("nrm") * col("qn")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** [[topKSq8]] for an EXTERNAL query vector — the serving path, matching
    * the float tiers' external overloads. SYMMETRIC distance is preserved:
    * the external query is quantized with its own [mn, mx] and decoded
    * before scoring, exactly as if it had been stored — so an external
    * query that equals a corpus vector returns the id overload's answer
    * bit-for-bit.
    */
  def topKSq8(embeddings: DataFrame, queryVec: Array[Float], k: Int): DataFrame = {
    val (code, mn, mx) = sq8Quant(queryVec.toSeq)
    val qDq = sq8Dequant(code, mn, mx)
    var qn = 0.0
    var i = 0
    while (i < qDq.length) { qn += qDq(i) * qDq(i); i += 1 }
    val norm = math.sqrt(qn)
    require(norm > 0, "query vector must be non-zero after SQ8 decode")
    sq8Decoded(embeddings)
      .select(col("vec_id"),
        round(dotDDUdf(col("dq"), typedlit(qDq.toSeq)) / (col("nrm") * norm), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  // --------------------------------------------- IVF-SQ8 composed index

  /** Persist an IVF index whose lists store SQ8 CODES instead of raw
    * float vectors — FAISS's IVF-SQ production shape. Schema per row:
    * (vec_id, code BINARY d bytes, mn, mx, nrm) partitioned on
    * `ivf_list`; vs the float index's 4d-byte embedding column the probe
    * scan reads ~3.9× fewer payload bytes at d=128 (SCALING.md row).
    *
    * Training, assignment and partitioning are [[writeIvfIndex]]'s: the
    * centroids are trained on RAW vectors and each vector is assigned by
    * its raw embedding (quantization never moves a vector across lists);
    * `nrm` is the DECODED vector's norm, because serving scores decoded
    * vectors (symmetric distance, like [[topKSq8]]).
    */
  def writeIvfSq8Index(embeddings: DataFrame, tableName: String,
                       nlist: Int = 16, sampleSize: Int = 2000): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    IndexTable.drop(spark, tableName)
    IndexTable.drop(spark, s"${tableName}_centroids")
    val sample = uniformSample(embeddings, sampleSize).map(_._2)
    require(sample.nonEmpty, s"cannot build IVF-SQ8 index $tableName over an empty corpus")
    val effNlist = math.min(nlist, sample.length)
    val centroids = trainCentroids(sample, effNlist)
    val bc = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf((v: Seq[Float]) => nearestCentroid(v.toArray, bc.value))
    // write-time assignment quality (over DECODED vectors — all the table
    // stores) rides the metadata as the drift reference, computed as an
    // observed metric of the write job itself (single corpus pass, as in
    // [[writeIvfIndex]])
    val distUdf = udf { (code: Array[Byte], mn: Float, mx: Float, list: Int) =>
      val v = sq8Dequant(code, mn, mx)
      val c = bc.value(list)
      var d = 0.0
      var i = 0
      val n = math.min(v.length, c.length)
      while (i < n) { val x = v(i) - c(i); d += x * x; i += 1 }
      math.sqrt(d)
    }
    val obs = new org.apache.spark.sql.Observation()
    embeddings
      .select(col("vec_id"), sq8QuantUdf(col("embedding")).as("r"),
        assignUdf(col("embedding")).as("ivf_list"))
      .select(col("vec_id"), col("r._1").as("code"),
        col("r._2").as("mn"), col("r._3").as("mx"),
        normDDUdf(sq8DequantUdf(col("r._1"), col("r._2"), col("r._3"))).as("nrm"),
        col("ivf_list"))
      .filter(col("nrm") > 0.0)
      .withColumn("dist", distUdf(col("code"), col("mn"), col("mx"), col("ivf_list")))
      .observe(obs, avg(col("dist")).as("mean_dist"))
      .select("vec_id", "code", "mn", "mx", "nrm", "ivf_list")
      .repartition(col("ivf_list"))
      .write.format("parquet").partitionBy("ivf_list")
      .mode("overwrite").saveAsTable(tableName)
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("ivf_list", "centroid")
      .write.format("parquet").mode("overwrite").saveAsTable(s"${tableName}_centroids")
    val refDist = obs.get("mean_dist") match {
      case d: java.lang.Double => d.doubleValue()
      case _ => 0.0 // empty corpus is rejected above; defensive only
    }
    IndexTable.setProps(spark, tableName, "graft.nlist" -> effNlist,
      "graft.nlistRequested" -> nlist, "graft.sq8" -> true, "graft.meanDist" -> refDist)
  }

  /** [[meanAssignedDist]] for an SQ8 table: the stored codes decode
    * per row before the centroid distance (the decoded vector is within
    * (mx−mn)/510 per element of the raw one, so the statistic tracks the
    * same k-means objective).
    */
  private def meanAssignedDistSq8(spark: org.apache.spark.sql.SparkSession,
                                  tableName: String): Double = {
    import spark.implicits._
    val centroids = spark.table(s"${tableName}_centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    val bc = spark.sparkContext.broadcast(centroids)
    val distUdf = udf { (code: Array[Byte], mn: Float, mx: Float, list: Int) =>
      val v = sq8Dequant(code, mn, mx)
      val c = bc.value(list)
      var d = 0.0
      var i = 0
      val n = math.min(v.length, c.length)
      while (i < n) { val x = v(i) - c(i); d += x * x; i += 1 }
      math.sqrt(d)
    }
    val row = spark.table(tableName)
      .agg(avg(distUdf(col("code"), col("mn"), col("mx"), col("ivf_list")))).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** Append NEW vectors to a persisted [[writeIvfSq8Index]] table WITHOUT
    * retraining — [[appendToIvfIndex]] for the composed index: assign by
    * the raw embedding against the STORED centroids (the same rule the
    * write used, so quantization never moves a vector across lists),
    * quantize, and partition-append. Same contracts: per-batch cost ∝
    * |batch|, centroids and properties untouched, per-row dimension
    * guard, zero-norm rows dropped.
    */
  def appendToIvfSq8Index(newVecs: DataFrame, tableName: String): Unit = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    IndexTable.prop(spark, tableName, "graft.sq8", "writeIvfSq8Index")
    val centroids = spark.table(s"${tableName}_centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    val bc = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf { (v: Seq[Float]) =>
      require(v.length == bc.value.head.length,
        s"batch embedding dimension ${v.length} != index dimension ${bc.value.head.length}")
      nearestCentroid(v.toArray, bc.value)
    }
    newVecs
      .select(col("vec_id"), sq8QuantUdf(col("embedding")).as("r"),
        assignUdf(col("embedding")).as("ivf_list"))
      .select(col("vec_id"), col("r._1").as("code"),
        col("r._2").as("mn"), col("r._3").as("mx"),
        normDDUdf(sq8DequantUdf(col("r._1"), col("r._2"), col("r._3"))).as("nrm"),
        col("ivf_list"))
      .filter(col("nrm") > 0.0)
      .repartition(col("ivf_list"))
      .write.mode("append").insertInto(tableName)
  }

  /** [[maintainIvfIndex]] for the composed SQ8 index: append, read
    * [[ivfDrift]] (which detects the SQ8 table and measures over decoded
    * vectors), rebuild past `driftThreshold`. The rebuild NEVER
    * requantizes: the stored (code, mn, mx, nrm) rows are rewritten
    * VERBATIM — codes are byte-identical by construction — and only the
    * centroids and list assignments retrain, over the decoded vectors.
    * (A dequantize → float → requantize round-trip would corrupt codes
    * for small-span high-magnitude vectors whose quantization step is
    * below the float ulp at that magnitude; decode-to-float is used
    * solely for centroid training/assignment, where a borderline list
    * choice is a clustering decision, not stored-value corruption.)
    */
  def maintainIvfSq8Index(newVecs: DataFrame, tableName: String,
                          driftThreshold: Double = 1.3,
                          sampleSize: Int = 2000): (Double, Boolean) = {
    require(driftThreshold > 0, "driftThreshold must be positive")
    val spark = newVecs.sparkSession
    import spark.implicits._
    appendToIvfSq8Index(newVecs, tableName)
    val (_, _, ratio) = ivfDrift(spark, tableName)
    if (ratio > driftThreshold) {
      val nlist = requestedNlist(spark, tableName)
      // The rebuild RETRAINS centroids but keeps the stored CODES
      // byte-identical (re-quantizing through writeIvfSq8Index would add
      // a second quantization error), so it writes rows inline — under a
      // TMP table name while the live index stays intact, the
      // maintainIvfIndex rewrite: a failed build leaves the index
      // untouched.
      IndexTable.rewrite(spark, tableName, s"${tableName}_rebuild_tmp", Seq("_centroids")) { tmp =>
        val corpus = spark.table(tableName)
          .select(col("vec_id"), col("code"), col("mn"), col("mx"), col("nrm"))
        // train fresh centroids on the decoded corpus
        val sampleF = uniformSample(
          corpus.select(col("vec_id"),
            sq8DequantUdf(col("code"), col("mn"), col("mx")).as("dq"))
            .select(col("vec_id"),
              expr("transform(dq, x -> CAST(x AS FLOAT))").as("embedding")),
          sampleSize).map(_._2)
        require(sampleF.nonEmpty, s"cannot rebuild IVF-SQ8 index $tableName: empty corpus")
        val effNlist = math.min(nlist, sampleF.length)
        val centroids = trainCentroids(sampleF, effNlist)
        val bc = spark.sparkContext.broadcast(centroids)
        val assignUdf = udf { (code: Array[Byte], mn: Float, mx: Float) =>
          nearestCentroid(sq8Dequant(code, mn, mx).map(_.toFloat), bc.value)
        }
        // drift reference observed on the write pass (see writeIvfSq8Index)
        val distUdf = udf { (code: Array[Byte], mn: Float, mx: Float, list: Int) =>
          val v = sq8Dequant(code, mn, mx)
          val c = bc.value(list)
          var d = 0.0
          var i = 0
          val n = math.min(v.length, c.length)
          while (i < n) { val x = v(i) - c(i); d += x * x; i += 1 }
          math.sqrt(d)
        }
        val obs = new org.apache.spark.sql.Observation()
        corpus
          .withColumn("ivf_list", assignUdf(col("code"), col("mn"), col("mx")))
          .withColumn("dist", distUdf(col("code"), col("mn"), col("mx"), col("ivf_list")))
          .observe(obs, avg(col("dist")).as("mean_dist"))
          .select("vec_id", "code", "mn", "mx", "nrm", "ivf_list")
          .repartition(col("ivf_list"))
          .write.format("parquet").partitionBy("ivf_list")
          .mode("overwrite").saveAsTable(tmp)
        centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("ivf_list", "centroid")
          .write.format("parquet").mode("overwrite").saveAsTable(s"${tmp}_centroids")
        val refDist = obs.get("mean_dist") match {
          case d: java.lang.Double => d.doubleValue()
          case _ => 0.0
        }
        // ONE property update on the not-yet-live table: the previous
        // two-ALTER shape left a window where graft.sq8 was set but
        // graft.meanDist absent, and a concurrent ivfDrift call threw
        IndexTable.setProps(spark, tmp, "graft.nlist" -> effNlist,
          "graft.nlistRequested" -> nlist, "graft.sq8" -> true, "graft.meanDist" -> refDist)
      }
      (ratio, true)
    } else (ratio, false)
  }

  /** Top-k against a persisted [[writeIvfSq8Index]] table: partition-
    * pruned probe scan over the code column with DECODE INSIDE THE
    * SCORING KERNEL — the decoded vector is never materialized as a
    * column, each element is dequantized and multiplied in one pass
    * (same FP op order as [[sq8Dequant]] + the dot fold, so at
    * nProbe = nlist this is bit-identical to [[topKSq8]] and shares its
    * oracle). The query comes from the index (codes), keeping the
    * distance symmetric.
    */
  def ivfTopKSq8AgainstIndex(spark: org.apache.spark.sql.SparkSession, tableName: String,
                             queryId: Long, k: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    val centroids = validatedSq8Centroids(spark, tableName, nProbe)
    def emptyResult = Seq.empty[(Long, Double)].toDF("vec_id", "cos")
    val q = spark.table(tableName).filter(col("vec_id") === queryId)
      .select(col("code"), col("mn"), col("mx"), col("nrm"))
      .as[(Array[Byte], Float, Float, Double)].collect().headOption
      .getOrElse(return emptyResult)
    val qDq = sq8Dequant(q._1, q._2, q._3)
    ivfSq8Probe(spark, tableName, centroids, qDq, q._4, k, nProbe)
  }

  /** [[ivfTopKSq8AgainstIndex]] for an EXTERNAL query vector — the
    * serving path; the query is quantized + decoded (symmetric) before
    * probing, as in the external [[topKSq8]] overload.
    */
  def ivfTopKSq8AgainstIndex(spark: org.apache.spark.sql.SparkSession, tableName: String,
                             queryVec: Array[Float], k: Int, nProbe: Int): DataFrame = {
    val centroids = validatedSq8Centroids(spark, tableName, nProbe)
    val (code, mn, mx) = sq8Quant(queryVec.toSeq)
    val qDq = sq8Dequant(code, mn, mx)
    var qn = 0.0
    var i = 0
    while (i < qDq.length) { qn += qDq(i) * qDq(i); i += 1 }
    val norm = math.sqrt(qn)
    require(norm > 0, "query vector must be non-zero after SQ8 decode")
    ivfSq8Probe(spark, tableName, centroids, qDq, norm, k, nProbe)
  }

  private def validatedSq8Centroids(spark: org.apache.spark.sql.SparkSession,
                                    tableName: String, nProbe: Int): Array[Array[Double]] = {
    IndexTable.prop(spark, tableName, "graft.sq8", "writeIvfSq8Index")
    val nlist = IndexTable.prop(spark, tableName, "graft.nlist", "writeIvfSq8Index").toInt
    require(nProbe >= 1 && nProbe <= nlist, s"nProbe must be in [1, $nlist]")
    import spark.implicits._
    spark.table(s"${tableName}_centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
  }

  private def ivfSq8Probe(spark: org.apache.spark.sql.SparkSession, tableName: String,
                          centroids: Array[Array[Double]], qDq: Array[Double],
                          qNorm: Double, k: Int, nProbe: Int): DataFrame = {
    val probeLists = centroids.indices
      .sortBy { c =>
        var d = 0.0
        var i = 0
        val n = math.min(qDq.length, centroids(c).length)
        while (i < n) { val x = qDq(i) - centroids(c)(i); d += x * x; i += 1 }
        d
      }
      .take(nProbe)
    val bcQ = spark.sparkContext.broadcast(qDq)
    // decode-in-kernel dot: mn + (code/255)·span per element, multiplied
    // and accumulated in one pass — the exact expression sq8Dequant uses,
    // in the same order, so the composed path shares topKSq8's oracle
    val scoreUdf = udf { (code: Array[Byte], mn: Float, mx: Float) =>
      val q = bcQ.value
      val n = math.min(code.length, q.length)
      val mnD = mn.toDouble
      val span = mx.toDouble - mnD
      var s = 0.0
      var i = 0
      if (span > 0)
        while (i < n) { s += (mnD + (code(i) & 0xff).toDouble / 255.0 * span) * q(i); i += 1 }
      else
        while (i < n) { s += mnD * q(i); i += 1 }
      s
    }
    spark.table(tableName).filter(col("ivf_list").isin(probeLists: _*))
      .select(col("vec_id"),
        round(scoreUdf(col("code"), col("mn"), col("mx")) / (col("nrm") * qNorm), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Incremental near-dup against a persisted [[writeIvfSq8Index]] table —
    * the SQ8 face of [[neardupAgainstIvfIndex]], completing the composed
    * index's serving symmetry (the float index serves topK AND near-dup;
    * so does the SQ8 index). Distance is SYMMETRIC: the new batch is
    * quantized with per-vector [mn, mx] and DECODED before scoring,
    * exactly as if it had been stored, so a batch vector that equals an
    * indexed vector scores cosine 1 regardless of quantization.
    *
    * Scale shape is the float path's: probe lists assigned once per new
    * vector (decoded-vector distance to the stored centroids, matching
    * [[ivfSq8Probe]]), static partition pruning on the probed lists, and
    * a B×B-blocked rectangle kernel. Stored codes decode ONCE PER ROW
    * during packing (never per pair); the kernel itself is a pure
    * primitive double dot. The probe scan reads the ~3.9× smaller code
    * column — the same byte savings SCALING.md measures for topK probes.
    *
    *  - `nProbe = nlist`: EXACT over the decoded vectors (the oracle
    *    replays quantize → decode → cosine in SQL);
    *  - `nProbe < nlist`: the recall/cost dial, as everywhere.
    *
    * Returns (id_new, id_index, cos ≥ threshold), oriented sides.
    */
  def neardupAgainstIvfSq8Index(newVecs: DataFrame, tableName: String,
                                threshold: Double, nProbe: Int): DataFrame = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    val centroids = validatedSq8Centroids(spark, tableName, nProbe)
    val bc = spark.sparkContext.broadcast(centroids)
    // one UDF call per new vector: quantize + decode (symmetric), norm,
    // and the nProbe nearest stored centroids of the DECODED vector
    val prepUdf = udf { (v: Seq[Float]) =>
      // same per-row dimension guard as the float probe path: a
      // wrong-dimension batch must fail loudly, not probe prefix lists
      require(v.length == bc.value.head.length,
        s"batch embedding dimension ${v.length} != index dimension ${bc.value.head.length}")
      val (code, mn, mx) = sq8Quant(v)
      val dq = sq8Dequant(code, mn, mx)
      var s = 0.0
      var i = 0
      while (i < dq.length) { s += dq(i) * dq(i); i += 1 }
      val probes = bc.value.indices.sortBy { c =>
        val cv = bc.value(c)
        var d = 0.0
        var j = 0
        val n = math.min(dq.length, cv.length)
        while (j < n) { val x = dq(j) - cv(j); d += x * x; j += 1 }
        d
      }.take(nProbe)
      (dq.toSeq, math.sqrt(s), probes)
    }
    val newListed = newVecs
      .select(col("vec_id").as("id_new"), prepUdf(col("embedding")).as("r"))
      .select(col("id_new"), col("r._1").as("dq_new"), col("r._2").as("nrm_new"),
        explode(col("r._3")).as("probe"))
      .filter(col("nrm_new") > 0.0)
    val B = math.max(1, math.ceil(math.sqrt(spark.sparkContext.defaultParallelism.toDouble)).toInt)
    // cached packed batch = single-pass prep (same contract as the float
    // path: the probed-list collect materializes it, the kernel join
    // re-reads it from cache); MEMORY_ONLY for the same bounded-
    // cross-call-footprint reason as neardupAgainstIvfIndex
    val newPacked = newListed
      .as[(Long, Array[Double], Double, Int)]
      .groupByKey(r => (r._4, (((r._1 % B) + B) % B).toInt))
      .mapGroups { (key: (Int, Int), it: Iterator[(Long, Array[Double], Double, Int)]) =>
        val arr = it.toArray.sortBy(_._1)
        (key._1, arr.map(_._1), arr.map(_._2), arr.map(_._3))
      }
      .toDF("probe", "ids_n", "vecs_n", "nrms_n")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val probed = newPacked.select("probe").distinct().as[Int].collect().toSeq
    val idxPacked = spark.table(tableName)
      .filter(col("ivf_list").isin(probed: _*))
      .select(col("vec_id"), col("code"), col("mn"), col("mx"), col("nrm"), col("ivf_list"))
      .as[(Long, Array[Byte], Float, Float, Double, Int)]
      .groupByKey(r => (r._6, (((r._1 % B) + B) % B).toInt))
      .mapGroups { (key: (Int, Int), it: Iterator[(Long, Array[Byte], Float, Float, Double, Int)]) =>
        // decode once per stored row here, at pack time
        val arr = it.toArray.sortBy(_._1)
        (key._1, arr.map(_._1), arr.map(r => sq8Dequant(r._2, r._3, r._4)), arr.map(_._5))
      }
      .toDF("ivf_list", "ids_i", "vecs_i", "nrms_i")
    val result = newPacked.join(idxPacked, col("probe") === col("ivf_list"))
      .select("ids_n", "vecs_n", "nrms_n", "ids_i", "vecs_i", "nrms_i")
      .as[(Array[Long], Array[Array[Double]], Array[Double],
           Array[Long], Array[Array[Double]], Array[Double])]
      .flatMap { case (idsN, vecsN, nrmsN, idsI, vecsI, nrmsI) =>
        val out = Vector.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < idsN.length) {
          var j = 0
          while (j < idsI.length) {
            val cos = dotDD(vecsN(i), vecsI(j)) / (nrmsN(i) * nrmsI(j))
            if (cos >= threshold) out += ((idsN(i), idsI(j), cos))
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("id_new", "id_index", "cos")
      .select(col("id_new"), col("id_index"), round(col("cos"), 6).as("cos"))
      .orderBy("id_new", "id_index")
    result
  }

  /** Deterministic random hyperplanes: `tables` independent sign-sketches
    * of `bits` hyperplanes each (seeded).
    */
  private def hyperplanes(dim: Int, bits: Int, tables: Int): Array[Array[Array[Double]]] = {
    val rng = new scala.util.Random(4242)
    Array.fill(tables, bits, dim)(rng.nextGaussian())
  }

  /** LSH near-dup pairs: candidates collide in ≥1 of `tables` sign-sketch
    * buckets, then exact-cosine verified. Recall ≈ 1-(1-(1-θ/π)^bits)^tables.
    * `dim` defaults to the actual embedding dimension (a mismatched fixed
    * value would silently sketch a prefix and lose recall).
    */
  def lshNeardupPairs(embeddings: DataFrame, threshold: Double,
                      dim: Int = -1, bits: Int = 12, tables: Int = 6): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val actualDim =
      if (dim > 0) dim
      else embeddings.select(size(col("embedding"))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
    if (actualDim == 0)
      return Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "cos")
    val hp = hyperplanes(actualDim, bits, tables)
    val sketchUdf = udf { (v: Seq[Float]) =>
      hp.map { planes =>
        var bucket = 0L
        var j = 0
        while (j < planes.length) {
          var s = 0.0
          val p = planes(j)
          var i = 0
          val n = math.min(v.length, p.length)
          while (i < n) { s += v(i).toDouble * p(i); i += 1 }
          if (s >= 0) bucket |= (1L << j)
          j += 1
        }
        bucket
      }.toSeq
    }
    // candidate generation carries ONLY ids, and is bucket-GROUPED rather
    // than self-joined: a self-join evaluates the sketch-UDF corpus pass
    // twice (once per side); grouping sketches once and emits in-bucket
    // pairs from the (small) collected id lists — singleton buckets (the
    // common case) are dropped before any pair work. Hot buckets are
    // quadratic either way; that is inherent to LSH. Full embedding
    // vectors are re-attached afterwards, once per verified candidate (a
    // formulation that distinct()ed rows carrying both float arrays paid a
    // vector-width × candidate-count shuffle for no benefit).
    val cand = embeddings
      // single-file tables scan as ONE partition; the sketch UDF
      // (tables×bits×dim flops per row) is the hot stage, so spread it
      // across all cores before it runs
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), posexplode(sketchUdf(col("embedding"))))
      .toDF("vec_id", "table", "bucket")
      .groupBy("table", "bucket")
      .agg(collect_list("vec_id").as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids")).as[Seq[Long]]
      .flatMap { bucket =>
        val sorted = bucket.sorted
        for {
          i <- sorted.indices.iterator
          j <- (i + 1) until sorted.length
        } yield (sorted(i), sorted(j))
      }
      .toDF("id_a", "id_b").distinct()
    val e = withNorm(embeddings)
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb")), "id_b")
      .withColumn("cos", dotUdf(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .orderBy("id_a", "id_b")
  }
}
