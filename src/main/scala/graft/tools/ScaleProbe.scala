package graft.tools

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup scale-path probe: grows the documents corpus M× and times the
  * exact inverted-index Jaccard join against the MinHash-LSH tier on the
  * same workload, printing one JSON line per (M, tier).
  *
  * Corpus construction: M copies of the base corpus under offset
  * doc_ids — copy 0 verbatim (so pairs against the unmodified corpus
  * survive, which the incremental probe depends on), and in every other
  * copy each 7th token (per-copy phase c % 7) replaced with a
  * copy-specific tag, so:
  *  - within-copy near-dup pairs keep their Jaccard (both sides perturbed
  *    identically) → true pairs grow linearly in M;
  *  - cross-copy variants of the same doc fall to j ≈ 0.4 (well under
  *    the 0.8 threshold) → no quadratic growth in TRUE pairs;
  *  - unperturbed shingles stay shared across copies, so shingle document
  *    frequency grows ~linearly in M — which is exactly what makes the
  *    exact join's per-shingle df² bucket cost grow quadratically while
  *    LSH candidate generation stays ~linear. This mirrors the hot-shingle
  *    (common-phrase) growth of a real corpus at scale.
  *
  * Usage: runMain graft.tools.ScaleProbe <sfDir> <M1,M2,...>
  */
object ScaleProbe {

  private def grow(docs: DataFrame, m: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select("doc_id", "text").as[(Long, String)]
    (0 until m).map { c =>
      base.map { case (id, text) =>
        // copy 0 is the unperturbed original corpus; copies 1.. are
        // perturbed so they are not near-dups of it (or of each other)
        val toks = text.split(" ", -1)
        if (c != 0) {
          var i = c % 7
          while (i < toks.length) { toks(i) = s"c$c"; i += 7 }
        }
        (c * 10000000L + id, toks.mkString(" "))
      }.toDF("doc_id", "text")
    }.reduce(_ unionByName _)
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Locale-independent fixed-dp formatting for the probe JSON lines
    * (an f"%.2f" interpolation uses the default locale — comma decimals
    * would emit invalid JSON).
    */
  private def fmt(d: Double, dp: Int = 2): String = graft.util.JsonNum.fixed(d, dp)

  /** Deterministic unit-free gaussian vectors keyed by id (no accidental
    * near-dups at d=128), plus an exact duplicate of every 50th vector
    * under an offset id — the planted ground truth for the LSH tier.
    */
  private def syntheticEmbeddings(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val base = spark.range(n).map { id =>
      val r = new java.util.Random(id)
      (id, Array.fill(128)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val planted = base.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000000L).as("vec_id"), col("embedding"))
    base.unionByName(planted)
  }

  private def embedProbe(spark: SparkSession, ns: Seq[Int]): Unit = {
    import graft.operators.Ann
    for (n <- ns) {
      val corpus = syntheticEmbeddings(spark, n.toLong).localCheckpoint(true)
      val (exactPairs, tExact) = time(Ann.neardupPairs(corpus, 0.45).count())
      spark.catalog.clearCache(); System.gc()
      val (lshPairs, tLsh) = time(Ann.lshNeardupPairs(corpus, 0.8).count())
      spark.catalog.clearCache(); System.gc()
      val planted = (n + 49) / 50 // ids 0, 50, … < n
      println(s"""{"n":$n,"planted":$planted,"exact45_pairs":$exactPairs,"exact45_sec":${fmt(tExact, 2)},"lsh80_pairs":$lshPairs,"lsh80_sec":${fmt(tLsh, 2)}}""")
    }
  }

  /** Novelty probe: corpus grown M×. The claim under test is LINEARITY —
    * the two-agg decomposition (per-shingle min, per-winner count) has no
    * df²-shaped term, unlike the jaccard join the same shingle pass
    * feeds, and the hot-shingle (grown df) rows collapse in map-side
    * partials. `seen_frac` (share of docs with novelty < 1) rises with M
    * as copies claim each other's shingles — the semantic check that the
    * first-occurrence rule bites.
    */
  private def noveltyProbe(spark: SparkSession, docs: DataFrame, ms: Seq[Int]): Unit = {
    import graft.operators.TextAnalysis
    for (m <- ms) {
      val corpus = grow(docs, m).localCheckpoint(true)
      val (res, t) = time {
        val out = TextAnalysis.ngramNovelty(corpus).localCheckpoint(true)
        (out.count(), out.filter(col("novelty") < 1.0).count())
      }
      println(s"""{"m":$m,"docs":${res._1},"seen_docs":${res._2},"novelty_sec":${fmt(t)}}""")
      spark.catalog.clearCache(); System.gc()
    }
  }

  /** k-center probe: time vs corpus size n at fixed k (claim: linear —
    * each round is one scan + TakeOrdered) and vs k at fixed n (claim:
    * linear in k — rounds are constant-cost thanks to the running-min
    * carry; without it round r would recompute r−1 distance passes).
    */
  private def kcenterProbe(spark: SparkSession, ns: Seq[Int]): Unit = {
    import graft.operators.Ann
    for (n <- ns) {
      val corpus = syntheticEmbeddings(spark, n.toLong).localCheckpoint(true)
      val (_, t8) = time(Ann.kCenters(corpus, 8).count())
      spark.catalog.clearCache(); System.gc()
      val (_, t16) = time(Ann.kCenters(corpus, 16).count())
      println(s"""{"n":$n,"k8_sec":${fmt(t8, 2)},"k16_sec":${fmt(t16, 2)}}""")
      spark.catalog.clearCache(); System.gc()
    }
  }

  /** Heavy-hitters probe: corpus grown M×, the Misra-Gries candidate
    * tier vs a full-vocabulary exact group-count. The claim under test is
    * BOUNDED INTERMEDIATE STATE: the exact path's hash agg holds the
    * whole vocabulary (grown by the per-copy `c$c` tags — ∝ M), while the
    * MG candidate set stays ≤ partitions × k whatever the corpus, and
    * the confirm pass aggregates only candidate occurrences. Wall times
    * at these sizes mostly show both are cheap; the candidate-count
    * column is the scale argument.
    */
  private def hhProbe(spark: SparkSession, docs: DataFrame, ms: Seq[Int]): Unit = {
    import graft.operators.TextAnalysis
    for (m <- ms) {
      val corpus = grow(docs, m).localCheckpoint(true)
      val toks = corpus.select(explode(split(col("text"), " ")).as("t"))
      val ((vocab, exactTop), tExact) = time {
        val counts = toks.groupBy("t").count().localCheckpoint(true)
        (counts.count(), counts.orderBy(col("count").desc).limit(10).count())
      }
      spark.catalog.clearCache(); System.gc()
      val (hh, tHh) = time(
        TextAnalysis.heavyHitters(corpus, k = 30, minFreq = 0.0335).count())
      println(s"""{"m":$m,"vocab":$vocab,"exact_top10":$exactTop,"hh_rows":$hh,"exact_sec":${fmt(tExact, 2)},"hh_sec":${fmt(tHh, 2)}}""")
      spark.catalog.clearCache(); System.gc()
    }
  }

  /** End-to-end training-data pipeline probe: the composed path a real
    * corpus takes — curate (exact dedup → MinHash-LSH near-dup removal →
    * quality/language filter) → decontaminate (Bloom tier vs the
    * held-out slice) → split assignment → context-window chunking →
    * sequence packing → materialized packed sequences — per corpus
    * growth factor M, with per-stage wall time and row counts. This is
    * the throughput number for "run the whole pipeline", not a
    * per-operator microbench.
    */
  private def pipelineProbe(spark: SparkSession, docs: DataFrame, ms: Seq[Int]): Unit = {
    import graft.operators.{CorpusCuration, Decontamination, Packing, Sampling}
    for (m <- ms) {
      val corpus0 = grow(docs, m).localCheckpoint(true)
      val n0 = corpus0.count()
      val bench = corpus0.filter(col("doc_id") % 97 === 0)
      val t0 = System.nanoTime()
      // curate returns the surviving (doc_id, quality, lang_pred); the
      // pipeline re-attaches text by id for the downstream stages
      val curated = corpus0.join(
          CorpusCuration.curate(corpus0).select("doc_id"), Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      val nCur = curated.count()
      val t1 = System.nanoTime()
      val contaminated = Decontamination.contaminatedBloom(curated, bench, n = 5)
      val clean = curated.join(contaminated.select("doc_id")
          .except(bench.select("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val nClean = clean.count()
      val t2 = System.nanoTime()
      val withSplit = Sampling.assignSplits(clean).localCheckpoint(true)
      val nTrain = withSplit.filter(col("split") === "train").count()
      val t3 = System.nanoTime()
      val chunks = Packing.chunkDocuments(
        withSplit.filter(col("split") === "train").select("doc_id", "text"),
        maxTokens = 64, overlap = 8)
        .select(col("chunk_text").as("text"),
          (col("doc_id") * 10000 + col("chunk_id")).as("doc_id"))
        .localCheckpoint(true)
      val nChunks = chunks.count()
      val t4 = System.nanoTime()
      val packed = Packing.materializeSequences(chunks, budget = 2048)
      val nSeqs = packed.count()
      val t5 = System.nanoTime()
      def sec(a: Long, b: Long) = fmt((b - a) / 1e9)
      println(s"""{"m":$m,"docs":$n0,"curated":$nCur,"decontaminated":$nClean,"train":$nTrain,"chunks":$nChunks,"sequences":$nSeqs,"curate_sec":${sec(t0, t1)},"decontam_sec":${sec(t1, t2)},"split_sec":${sec(t2, t3)},"chunk_sec":${sec(t3, t4)},"pack_sec":${sec(t4, t5)},"total_sec":${sec(t0, t5)}}""")
      spark.catalog.clearCache(); System.gc()
    }
  }

  /** Decontamination-tier probe: fixed corpus, benchmark side grown M× —
    * the regime where the exact broadcast set outgrows the driver/executor
    * wire budget. Reports wall time of both tiers (results asserted
    * equal) plus the actual bytes each ships: Σ string bytes of the
    * distinct benchmark n-grams (exact tier) vs the Bloom filter's bit
    * array (bloom tier, fpp 0.01).
    */
  private def bloomProbe(spark: SparkSession, docs: DataFrame, ms: Seq[Int]): Unit = {
    import graft.operators.{Decontamination, Dedup}
    val corpus = docs.filter(col("doc_id") % 7 =!= 0).localCheckpoint(true)
    val benchBase = docs.filter(col("doc_id") % 7 === 0)
    for (m <- ms) {
      val bench = grow(benchBase, m).localCheckpoint(true)
      val benchShingles = Dedup.shingles(bench, 5).select("s").distinct()
        .localCheckpoint(true)
      val nSh = benchShingles.count()
      val strBytes = benchShingles
        .agg(sum(length(col("s")))).head().getLong(0)
      val bloomBytes = benchShingles.stat.bloomFilter("s", math.max(nSh, 1), 0.01)
        .bitSize() / 8
      val (exactRows, tExact) = time(
        Decontamination.contaminated(corpus, bench, n = 5).count())
      spark.catalog.clearCache(); System.gc()
      val (bloomRows, tBloom) = time(
        Decontamination.contaminatedBloom(corpus, bench, n = 5).count())
      spark.catalog.clearCache(); System.gc()
      require(exactRows == bloomRows, s"m=$m exact=$exactRows bloom=$bloomRows")
      println(s"""{"m":$m,"bench_ngrams":$nSh,"exact_broadcast_bytes":$strBytes,"bloom_bytes":$bloomBytes,"rows":$exactRows,"exact_sec":${fmt(tExact, 2)},"bloom_sec":${fmt(tBloom, 2)}}""")
    }
  }

  /** SimHash incremental probe — a FIXED new batch (the base corpus's
    * odd doc_ids) against an index grown M×. Compares recompute-both-
    * sides [[Dedup.simhashPairsIncremental]] (index re-sketched per
    * batch: token explode + md5 + 64-vote aggregation over the WHOLE
    * index) with the persisted-index path ([[Dedup.writeSimhashIndex]]
    * once per M, then [[Dedup.simhashPairsAgainstIndex]] as the
    * per-batch cost — signatures read back, never recomputed).
    */
  private def simhashIncrProbe(spark: SparkSession, docs: DataFrame, ms: Seq[Int]): Unit = {
    val newBatch = docs.filter(col("doc_id") % 2 === 1).localCheckpoint(true)
    for (m <- ms) {
      val index = grow(docs.filter(col("doc_id") % 2 === 0), m).localCheckpoint(true)
      val idxDocs = index.count()
      val (directPairs, tDirect) = time(Dedup.simhashPairsIncremental(newBatch, index).count())
      spark.catalog.clearCache(); System.gc()
      val (_, tBuild) = time(Dedup.writeSimhashIndex(index, "simhash_index_probe"))
      val (idxPairs, tBatch) = time(
        Dedup.simhashPairsAgainstIndex(newBatch, "simhash_index_probe").count())
      spark.sql("DROP TABLE IF EXISTS simhash_index_probe")
      spark.catalog.clearCache(); System.gc()
      require(directPairs == idxPairs, s"m=$m direct=$directPairs indexed=$idxPairs")
      println(s"""{"m":$m,"index_docs":$idxDocs,"pairs":$directPairs,"recompute_sec":${fmt(tDirect, 2)},"index_build_sec":${fmt(tBuild)},"indexed_batch_sec":${fmt(tBatch, 2)}}""")
    }
  }

  /** 12-token lines joined by newline — the gate's plantedLines shape,
    * so the line probes exercise a real multi-line corpus (the raw
    * documents have no newlines).
    */
  private def linesify(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs.withColumn("text", array_join(transform(
      sequence(lit(0), floor((size(toks) - 1) / 12).cast("int")),
      i => array_join(slice(toks, i * lit(12) + 1, lit(12)), " ")), "\n"))
  }

  /** Line-claim index growth probe: the index grows ×m (perturbed copies
    * → genuinely new distinct lines), the probe batch stays FIXED. The
    * claim is ~flat probe cost: the anti-join is co-partitioned on the
    * bucketed `line` key, so only the batch side shuffles and the index
    * side streams its matching buckets — per-batch cost independent of
    * corpus history.
    */
  private def lineIndexProbe(spark: SparkSession, docs: DataFrame, ms: Seq[Int]): Unit = {
    val newBatch = linesify(docs.filter(col("doc_id") % 2 === 1))
      .select("doc_id", "text").localCheckpoint(true)
    for (m <- ms) {
      val index = linesify(grow(docs.filter(col("doc_id") % 2 === 0), m))
        .localCheckpoint(true)
      val idxDocs = index.count()
      val (_, tBuild) = time(Dedup.writeLineIndex(index, "line_index_probe"))
      val (survivors, tBatch) = time(
        Dedup.lineDedupAgainstIndex(newBatch, "line_index_probe").count())
      spark.sql("DROP TABLE IF EXISTS line_index_probe")
      spark.catalog.clearCache(); System.gc()
      println(s"""{"m":$m,"index_docs":$idxDocs,"survivors":$survivors,"index_build_sec":${fmt(tBuild)},"indexed_batch_sec":${fmt(tBatch, 2)}}""")
    }
  }

  /** URL-frontier index growth probe: frontier (claimed canonical URLs)
    * grown ×m, fixed candidate batch — probe cost is one co-partitioned
    * anti-join of the batch against the bucketed claims table, so it
    * must stay ~flat as the frontier grows (the batch side shuffles,
    * the frontier side is a pruned bucket read).
    */
  private def urlIndexProbe(spark: SparkSession, docs: DataFrame, ms: Seq[Int]): Unit = {
    import graft.operators.UrlOps
    def urlify(d: DataFrame): DataFrame = d.select(col("doc_id"),
      concat(lit("https://h"), (col("doc_id") % 100000).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string"),
        lit("?utm_source=probe&x=1")).as("url"))
    val batch = urlify(docs.filter(col("doc_id") % 2 === 1))
      .localCheckpoint(true)
    for (m <- ms) {
      val frontier = urlify(grow(docs.filter(col("doc_id") % 2 === 0), m))
        .localCheckpoint(true)
      val nClaims = frontier.count()
      val (_, tBuild) = time(UrlOps.writeUrlIndex(frontier, "url", "url_index_probe"))
      val (survivors, tProbe) = time(
        UrlOps.stripSeenUrls(batch, "url", "url_index_probe").count())
      spark.sql("DROP TABLE IF EXISTS url_index_probe")
      spark.catalog.clearCache(); System.gc()
      println(s"""{"m":$m,"frontier_urls":$nClaims,"survivors":$survivors,"index_build_sec":${fmt(tBuild)},"probe_sec":${fmt(tProbe, 2)}}""")
    }
  }

  /** Media signature index growth probe: same shape for the aHash
    * band-segment index — catalog ×m, fixed new drop; probe cost =
    * the drop's sketch pass + a co-partitioned 16-byte bucket join,
    * which must stay ~flat as the catalog grows.
    */
  private def mediaIndexProbe(spark: SparkSession, docs: DataFrame, ms: Seq[Int]): Unit = {
    import graft.operators.Multimodal
    val newDrop = Multimodal.fromDocuments(
        docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text", "n_chars"))
      .localCheckpoint(true)
    for (m <- ms) {
      val catalog = Multimodal.fromDocuments(
          grow(docs.filter(col("doc_id") % 2 === 0), m)
            .withColumn("n_chars", length(col("text"))))
        .localCheckpoint(true)
      val idxAssets = catalog.count()
      val (_, tBuild) = time(Multimodal.writeMediaIndex(catalog, "media_index_probe"))
      val (pairs, tBatch) = time(
        Multimodal.mediaNearDupAgainstIndex(newDrop, "media_index_probe").count())
      spark.sql("DROP TABLE IF EXISTS media_index_probe")
      spark.catalog.clearCache(); System.gc()
      println(s"""{"m":$m,"index_assets":$idxAssets,"pairs":$pairs,"index_build_sec":${fmt(tBuild)},"indexed_batch_sec":${fmt(tBatch, 2)}}""")
    }
  }

  /** IVF maintenance probe: per corpus size n, the cost of FULL index
    * rebuild over the union ([[Ann.writeIvfIndex]]: retrain + assign all
    * + rewrite all) vs APPENDING a 10% batch against the stored centroids
    * ([[Ann.appendToIvfIndex]]: assign batch + partition-append), plus
    * the [[Ann.ivfDrift]] scan that decides when rebuild is due.
    */
  private def ivfAppendProbe(spark: SparkSession, ns: Seq[Int]): Unit = {
    import graft.operators.Ann
    for (n <- ns) {
      val corpus = syntheticEmbeddings(spark, n.toLong).localCheckpoint(true)
      val base = corpus.filter(col("vec_id") % 10 =!= 0).localCheckpoint(true)
      val batch = corpus.filter(col("vec_id") % 10 === 0).localCheckpoint(true)
      val (_, tRebuild) = time(Ann.writeIvfIndex(corpus, "ivf_probe_full", nlist = 64))
      spark.catalog.clearCache(); System.gc()
      Ann.writeIvfIndex(base, "ivf_probe_app", nlist = 64)
      spark.catalog.clearCache(); System.gc()
      val (_, tAppend) = time(Ann.appendToIvfIndex(batch, "ivf_probe_app"))
      val ((_, _, drift), tDrift) = time(Ann.ivfDrift(spark, "ivf_probe_app"))
      for (t <- Seq("ivf_probe_full", "ivf_probe_app")) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_centroids")
      }
      spark.catalog.clearCache(); System.gc()
      println(s"""{"n":${corpus.count()},"batch":${batch.count()},"rebuild_sec":${fmt(tRebuild, 2)},"append_sec":${fmt(tAppend, 2)},"drift_sec":${fmt(tDrift, 2)},"drift_ratio":${fmt(drift, 4)}}""")
    }
  }

  /** IVF-SQ8 vs float IVF: stored bytes and probe latency at equal
    * nlist/nProbe over the same corpus — the scan-bytes-reduction row.
    */
  private def sq8Probe(spark: SparkSession, ns: Seq[Int]): Unit = {
    import graft.operators.Ann
    def tableBytes(name: String): Long = {
      val loc = new java.io.File(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(name)).location)
      def du(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
      du(loc)
    }
    for (n <- ns) {
      val corpus = syntheticEmbeddings(spark, n.toLong).localCheckpoint(true)
      Ann.writeIvfIndex(corpus, "sq8p_float", nlist = 64)
      Ann.writeIvfSq8Index(corpus, "sq8p_codes", nlist = 64)
      val (bF, bQ) = (tableBytes("sq8p_float"), tableBytes("sq8p_codes"))
      spark.catalog.clearCache(); System.gc()
      // 8 query probes each (different query ids), nProbe = 8 of 64
      val (_, tF) = time((1 to 8).foreach(q =>
        Ann.ivfTopKAgainstIndex(spark, "sq8p_float", queryId = q * 7L, k = 10, nProbe = 8).count()))
      spark.catalog.clearCache(); System.gc()
      val (_, tQ) = time((1 to 8).foreach(q =>
        Ann.ivfTopKSq8AgainstIndex(spark, "sq8p_codes", queryId = q * 7L, k = 10, nProbe = 8).count()))
      for (t <- Seq("sq8p_float", "sq8p_codes")) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_centroids")
      }
      spark.catalog.clearCache(); System.gc()
      println(s"""{"n":${corpus.count()},"float_bytes":$bF,"sq8_bytes":$bQ,"bytes_ratio":${fmt(bF.toDouble / bQ, 2)},"float_probe8_sec":${fmt(tF, 2)},"sq8_probe8_sec":${fmt(tQ, 2)}}""")
    }
  }

  /** Hot-subject Hampel sweep: ONE subject emits n events with
    * n-cardinality values inside a single day bucket — the exact tier's
    * percentile state grows with the distinct count while the approx
    * tier's summary stays O(accuracy); wall time is the visible proxy.
    */
  private def hampelProbe(spark: SparkSession, ns: Seq[Int]): Unit = {
    import graft.queries.TimeseriesQueries
    import spark.implicits._
    val t0 = 1704240000L
    for (n <- ns) {
      val cond = spark.range(n.toLong).select(
          timestamp_seconds(lit(t0) + (col("id") % 86400L)).as("timestamp"),
          lit("hot").as("measurement_subject"),
          lit("m").as("measurement_of"),
          (col("id").cast("double") / 100.0).as("measurement_number"))
        .localCheckpoint(true)
      val (nEx, tEx) = time(TimeseriesQueries.hampelOutliers(
        cond, "m", t0, t0 + 86400, widthS = 86400).count())
      spark.catalog.clearCache(); System.gc()
      val (nAp, tAp) = time(TimeseriesQueries.hampelOutliersApprox(
        cond, "m", t0, t0 + 86400, widthS = 86400).count())
      spark.catalog.clearCache(); System.gc()
      println(s"""{"n":$n,"exact_flags":$nEx,"exact_sec":${fmt(tEx, 2)},"approx_flags":$nAp,"approx_sec":${fmt(tAp, 2)}}""")
    }
  }

  /** maintainIvfIndex policy probe: in-distribution batches append
    * cheaply below the drift threshold; a shifted batch crosses it and
    * pays one rebuild that resets drift to 1 — the amortized-maintenance
    * row (append cost vs rebuild trigger cadence).
    */
  private def maintainProbe(spark: SparkSession, ns: Seq[Int]): Unit = {
    import graft.operators.Ann
    import spark.implicits._
    for (n <- ns) {
      val nL = n.toLong
      Ann.writeIvfIndex(syntheticEmbeddings(spark, nL).localCheckpoint(true),
        "mntp_idx", nlist = 64)
      val b = math.max(1L, nL / 10)
      val batches = (1 to 3).map { i =>
        // fresh ids beyond the base (and the planted offset block), same
        // distribution — deterministic per-id gaussians
        spark.range(200000000L + i * b, 200000000L + (i + 1) * b).map { id =>
          val r = new java.util.Random(id)
          (id, Array.fill(128)(r.nextGaussian().toFloat))
        }.toDF("vec_id", "embedding").localCheckpoint(true)
      }
      val inDist = batches.map { batch =>
        val (res, t) = time(Ann.maintainIvfIndex(batch, "mntp_idx", driftThreshold = 1.3))
        (fmt(res._1, 3), res._2, fmt(t))
      }
      val shifted = spark.range(300000000L, 300000000L + b).map { id =>
        val r = new java.util.Random(id)
        (id, Array.fill(128)(50f + r.nextGaussian().toFloat))
      }.toDF("vec_id", "embedding").localCheckpoint(true)
      val ((driftS, rebuiltS), tShift) = time(
        Ann.maintainIvfIndex(shifted, "mntp_idx", driftThreshold = 1.3))
      val (_, _, after) = Ann.ivfDrift(spark, "mntp_idx")
      spark.sql("DROP TABLE IF EXISTS mntp_idx")
      spark.sql("DROP TABLE IF EXISTS mntp_idx_centroids")
      spark.catalog.clearCache(); System.gc()
      println(s"""{"n":$n,"batch":$b,"in_dist":${inDist.map(t => s"""["${t._1}",${t._2},"${t._3}"]""").mkString("[", ",", "]")},"shifted_drift":${fmt(driftS, 3)},"shifted_rebuilt":$rebuiltS,"shifted_sec":${fmt(tShift, 2)},"drift_after":${fmt(after, 3)}}""")
    }
  }

  /** Incremental-dedup probe: a FIXED new batch (the base corpus's odd
    * doc_ids) against an index grown M× (perturbed copies of the even
    * ids). Compares recompute-everything [[Dedup.minhashPairsIncremental]]
    * with the persisted-signature-index path
    * ([[Dedup.writeSignatureIndex]] once per M, then
    * [[Dedup.minhashPairsAgainstIndex]] as the per-batch cost).
    */
  private def incrProbe(spark: SparkSession, docs: DataFrame, ms: Seq[Int]): Unit = {
    val newBatch = docs.filter(col("doc_id") % 2 === 1).localCheckpoint(true)
    for (m <- ms) {
      val index = grow(docs.filter(col("doc_id") % 2 === 0), m).localCheckpoint(true)
      val idxDocs = index.count()
      val (directPairs, tDirect) = time(Dedup.minhashPairsIncremental(newBatch, index).count())
      spark.catalog.clearCache(); System.gc()
      val (_, tBuild) = time(Dedup.writeSignatureIndex(index, "sig_index_probe"))
      val (idxPairs, tBatch) = time(
        Dedup.minhashPairsAgainstIndex(newBatch, "sig_index_probe", index).count())
      spark.sql("DROP TABLE IF EXISTS sig_index_probe")
      spark.catalog.clearCache(); System.gc()
      println(s"""{"m":$m,"index_docs":$idxDocs,"recompute_pairs":$directPairs,"recompute_sec":${fmt(tDirect, 2)},"index_build_sec":${fmt(tBuild)},"indexed_pairs":$idxPairs,"indexed_batch_sec":${fmt(tBatch, 2)}}""")
    }
  }

  /** Hot-shingle (stop-shingle) probe: appends one shared boilerplate
    * phrase to EVERY doc — its shingles then have df = corpus size, the
    * Zipf-head regime of a real web corpus — and times the exact Jaccard
    * join with `maxDf = None` (every hot shingle contributes df² join
    * rows → quadratic cliff) against `maxDf = Some(10)` (hot shingles
    * dropped before the pair join → cost tracks the true near-dup
    * structure). The measured gap is the scale argument for running the
    * contract's bounded config at 100 TB.
    */
  /** SemDeDup probe: all-pairs exact near-dup vs the cluster-bounded
    * SemDeDup pipeline on the same planted-duplicate corpus, nlist scaled
    * with n (targeting ~500-vector clusters). All-pairs arithmetic grows
    * ∝ n²; SemDeDup's pairwise term grows ∝ Σ|cluster|² ≈ n · 500, i.e.
    * linearly once n ≫ cluster size — the crossover this probe measures.
    * Both tiers must find the planted duplicates (recall check printed).
    */
  private def semdedupProbe(spark: SparkSession, ns: Seq[Int]): Unit = {
    import graft.operators.{Ann, SemDedup}
    for (n <- ns) {
      val corpus = syntheticEmbeddings(spark, n.toLong).localCheckpoint(true)
      val total = corpus.count()
      val planted = total - n // duplicates planted by syntheticEmbeddings
      val (allPairs, tAll) = time(Ann.neardupPairs(corpus, threshold = 0.9).count())
      spark.catalog.clearCache(); System.gc()
      val nlist = math.max(4, (total / 500).toInt)
      val (cents, tTrain) = time {
        val c = SemDedup.trainedCentroids(corpus, nlist).localCheckpoint(true)
        c.count(); c
      }
      val (dropped, tSem) = time(
        SemDedup.semDedup(corpus, cents, threshold = 0.9)
          .filter(!col("keep")).count())
      spark.catalog.clearCache(); System.gc()
      println(s"""{"n":$total,"planted":$planted,"nlist":$nlist,"allpairs":$allPairs,"allpairs_sec":${fmt(tAll, 2)},"train_sec":${fmt(tTrain, 2)},"semdedup_dropped":$dropped,"semdedup_sec":${fmt(tSem, 2)}}""")
    }
  }

  /** Duplicated-span probe: corpus grown M×, timing the exact rolling-
    * window span detection. Window rows grow ∝ total chars (the
    * documented L× amplification is per-byte, not per-doc²); the probe
    * pins that the wall-clock grows ~linearly in M, i.e. the pipeline has
    * no hidden quadratic stage (the window group-by is hash-partitioned,
    * the island merge per-document).
    */
  private def spansProbe(spark: SparkSession, docs: DataFrame, ms: Seq[Int]): Unit = {
    import graft.operators.SpanDedup
    for (m <- ms) {
      val corpus = grow(docs, m).localCheckpoint(true)
      val n = corpus.count()
      val chars = corpus.agg(sum(length(col("text")))).head().getLong(0)
      val (spans, t) = time(SpanDedup.duplicatedSpans(corpus, 20).count())
      spark.catalog.clearCache(); System.gc()
      println(s"""{"m":$m,"docs":$n,"chars":$chars,"spans":$spans,"sec":${fmt(t)}}""")
    }
  }

  private def hotShingleProbe(spark: SparkSession, docs: DataFrame, ns: Seq[Int]): Unit = {
    import spark.implicits._
    val base = docs.count().toInt
    for (n <- ns) {
      val copies = (n + base - 1) / base
      val corpus = grow(docs, copies)
        .orderBy("doc_id").limit(n)
        .select(col("doc_id"),
          concat(col("text"), lit(" shared boilerplate navigation footer copyright notice"))
            .as("text"))
        .localCheckpoint(true)
      val (unboundedPairs, tUnbounded) = time(Dedup.jaccardPairs(corpus, 3, 0.8).count())
      spark.catalog.clearCache(); System.gc()
      val (boundedPairs, tBounded) = time(
        Dedup.jaccardPairs(corpus, 3, 0.8, maxDf = Some(10)).count())
      spark.catalog.clearCache(); System.gc()
      println(s"""{"n":$n,"unbounded_pairs":$unboundedPairs,"unbounded_sec":${fmt(tUnbounded, 2)},"bounded_pairs":$boundedPairs,"bounded_sec":${fmt(tBounded, 2)}}""")
    }
  }

  /** Interval-join probe: n points vs n/10 intervals (no equality key) —
    * the naive `BETWEEN` plan is a BroadcastNestedLoopJoin doing
    * n·(n/10) compares; [[graft.queries.IntervalJoin.pointInInterval]]
    * bins both sides and equi-joins. Interval spans are drawn around the
    * bin width so replication stays small. Both plans must return the
    * same match count.
    */
  private def intervalProbe(spark: SparkSession, ns: Seq[Int]): Unit = {
    import graft.queries.IntervalJoin
    import spark.implicits._
    val w = 1000L
    for (n <- ns) {
      val points = spark.range(n.toLong)
        .select((xxhash64(col("id")) % (n * 100L)).as("ts"))
        .filter(col("ts") >= 0).localCheckpoint(true)
      val intervals = spark.range(n / 10L)
        .select((xxhash64(col("id"), lit(1)) % (n * 100L)).as("s"),
          (pmod(xxhash64(col("id"), lit(2)), lit(3 * w)) + 1).as("len"))
        .filter(col("s") >= 0)
        .select(col("s"), (col("s") + col("len")).as("e"))
        .localCheckpoint(true)
      val (naiveMatches, tNaive) = time(
        points.join(intervals, col("ts") >= col("s") && col("ts") < col("e")).count())
      spark.catalog.clearCache(); System.gc()
      val (binnedMatches, tBinned) = time(
        IntervalJoin.pointInInterval(points, intervals, "ts", "s", "e", w).count())
      spark.catalog.clearCache(); System.gc()
      require(naiveMatches == binnedMatches,
        s"match mismatch: naive=$naiveMatches binned=$binnedMatches")
      println(s"""{"n_points":$n,"n_intervals":${n / 10},"matches":$naiveMatches,"naive_sec":${fmt(tNaive, 2)},"binned_sec":${fmt(tBinned, 2)}}""")
    }
  }

  /** Connected-components probe: path graphs (worst-case diameter = n)
    * of growing size through [[graft.operators.Clustering.connectedComponents]].
    * Naive min-label propagation needs one round PER HOP (n rounds); the
    * star-contraction loop must stay in O(log² n) rounds — visible as
    * near-flat wall-clock growth per decade. Each run asserts the graph
    * collapsed to ONE component labeled by the min id.
    */
  private def ccProbe(spark: SparkSession, ns: Seq[Int]): Unit = {
    import graft.operators.Clustering
    import spark.implicits._
    for (n <- ns) {
      val edges = spark.range(1, n.toLong)
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
        .localCheckpoint(true)
      val (labels, t) = time {
        val cc = Clustering.connectedComponents(edges)
        (cc.count(), cc.agg(max("component")).head().getLong(0))
      }
      require(labels == ((n.toLong, 1L)), s"n=$n got $labels")
      println(s"""{"path_nodes":$n,"cc_sec":${fmt(t)}}""")
    }
  }

  /** Incremental-clustering probe: a path graph with every 10th edge
    * held out — yesterday's assignment covers the resulting segments,
    * today's batch is the held-out connector edges. Compares
    * [[graft.operators.Clustering.updateComponents]] (stars ∪ new edges)
    * against a full recompute over all edges; both must produce the
    * single min-labeled component.
    */
  private def ccIncrProbe(spark: SparkSession, ns: Seq[Int]): Unit = {
    import graft.operators.Clustering
    import spark.implicits._
    for (n <- ns) {
      val all = spark.range(1, n.toLong)
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
        .localCheckpoint(true)
      val oldE = all.filter(col("doc_a") % 10 =!= 0).localCheckpoint(true)
      val newE = all.filter(col("doc_a") % 10 === 0).localCheckpoint(true)
      val assign = Clustering.connectedComponents(oldE).localCheckpoint(true)
      val (fullRes, tFull) = time {
        val cc = Clustering.connectedComponents(all)
        (cc.count(), cc.agg(max("component")).head().getLong(0))
      }
      spark.catalog.clearCache(); System.gc()
      val (incrRes, tIncr) = time {
        val cc = Clustering.updateComponents(assign, newE)
        (cc.count(), cc.agg(max("component")).head().getLong(0))
      }
      require(fullRes == incrRes && fullRes == ((n.toLong, 1L)),
        s"n=$n full=$fullRes incr=$incrRes")
      println(s"""{"path_nodes":$n,"full_sec":${fmt(tFull, 2)},"incr_sec":${fmt(tIncr, 2)}}""")
    }
  }


  /** Epoch-shuffle scaling: wall time vs corpus size and shard count.
    * The operator is one hash shuffle + per-shard sort + a broadcast
    * join on the shard-base table, so time should grow ~linearly in n
    * and be insensitive to numShards (more, smaller sorts).
    * `max(global_pos)` forces the full permutation and doubles as a
    * permutation check (must be n-1).
    */
  private def shuffleProbe(spark: SparkSession, ns: Seq[Int]): Unit = {
    import graft.operators.Sampling
    for (n <- ns) {
      val rows = spark.range(n.toLong)
        .select(col("id").as("doc_id"), md5(col("id").cast("string")).as("text"))
        .localCheckpoint(true)
      for (shards <- Seq(64, 1024)) {
        spark.catalog.clearCache(); System.gc()
        val (maxPos, t) = time(
          Sampling.epochShuffle(rows, seed = 7, epoch = 1, numShards = shards)
            .agg(max("global_pos")).head().getLong(0))
        require(maxPos == n - 1, s"not a permutation: maxPos=$maxPos n=$n")
        println(f"[shuffle] n=$n%9d shards=$shards%5d  $t%7.2f s")
      }
      spark.catalog.clearCache()
    }
  }


  /** End-to-end trainingExport throughput: the single-call composition
    * (curate → decontaminate → split → epoch shuffle) over a grown
    * corpus, timed as ONE lazy plan (no stage checkpoints — what a real
    * export pays). max(global_pos)+1 = exported docs.
    */
  private def exportProbe(spark: SparkSession, docs: DataFrame, ms: Seq[Int]): Unit = {
    import graft.operators.CorpusCuration
    for (m <- ms) {
      val corpus0 = grow(docs, m).localCheckpoint(true)
      val n0 = corpus0.count()
      val bench = corpus0.filter(col("doc_id") % 97 === 0)
      val (exported, t) = time(
        CorpusCuration.trainingExport(corpus0, bench,
            seed = 7, epoch = 1, numShards = 64)
          .agg(max("global_pos")).head().getLong(0) + 1)
      println(f"[export] docs=$n0%8d  exported=$exported%8d  $t%7.2f s  ${n0 / t}%9.0f docs/s")
      spark.catalog.clearCache(); System.gc()
    }
  }

  /** Empirical MinHash-LSH recall vs the exact tier: the exact pair set
    * from [[Dedup.jaccardPairs]] at j ≥ 0.8, then each (seed, bands)
    * configuration's banded survivors — recall = |LSH ∩ exact|/|exact|.
    * Precision is 1.0 by construction (candidates verify with the same
    * exact Jaccard; `false_pos` is printed to confirm). numPerm = 64
    * throughout: bands=16 ⇒ r=4 (theory 1-(1-j⁴)^16 ≈ 0.9998 at j=0.8),
    * bands=32 ⇒ r=2 (≈ 1-10⁻¹⁴) — the escalation knob is "halve rows
    * per band" when measured recall dips below target. Seeds re-draw the
    * permutation family so the measurement isn't one family's luck.
    */
  private def recallProbe(spark: SparkSession, docs: DataFrame,
                          bandsList: Seq[Int]): Unit = {
    val exact = Dedup.jaccardPairs(docs, 3, 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache(); System.gc()
    for (bands <- bandsList; seed <- Seq(42L, 1042L, 90210L)) {
      val (got, t) = time(
        Dedup.minhashPairs(docs, 3, 64, bands, 0.8, seed = seed)
          .select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
      val hit = got.intersect(exact).size
      val falsePos = got.diff(exact).size
      val recall = if (exact.isEmpty) 1.0 else hit.toDouble / exact.size
      println(s"""{"bands":$bands,"rows_per_band":${64 / bands},"seed":$seed,"exact_pairs":${exact.size},"lsh_pairs":${got.size},"hit":$hit,"false_pos":$falsePos,"recall":${fmt(recall, 6)},"sec":${fmt(t)}}""")
      spark.catalog.clearCache(); System.gc()
    }
  }

  /** Empirical SimHash banding recall vs brute force: segment banding
    * with `maxHamming + 1` segments is EXACT by pigeonhole (a pair
    * within the Hamming budget must agree on one whole segment), so
    * unlike MinHash-LSH the expected recall is 1.0 — this probe
    * CONFIRMS the exactness claim empirically across thresholds and
    * re-drawn hash families (the token hash is salted per seed, which
    * re-draws every signature the way reseeding the permutation family
    * does for MinHash), and measures the side the parameter actually
    * trades: candidate volume per threshold (more segments ⇒ shorter
    * segments ⇒ more spurious bucket collisions to verify). The brute
    * tier is a driver-side n²/2 bitCount sweep over the collected
    * signatures — fine at probe scale, the quadratic tier the banding
    * exists to avoid.
    */
  private def simhashRecallProbe(spark: SparkSession, docs: DataFrame,
                                 thresholds: Seq[Int]): Unit = {
    for (seed <- Seq("", "s1042_", "s90210_")) {
      // salting every token re-draws the md5 signature family without
      // touching Dedup's oracle-pinned default hashing
      val salted = if (seed.isEmpty) docs
        else docs.withColumn("text", concat_ws(" ",
          expr(s"transform(split(text, ' '), t -> concat('$seed', t))")))
      val sigs = Dedup.simhash(salted.select("doc_id", "text")).localCheckpoint(true)
      val arr = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
      for (t <- thresholds) {
        val exact = scala.collection.mutable.Set[(Long, Long)]()
        var i = 0
        while (i < arr.length) {
          var j = i + 1
          while (j < arr.length) {
            if (java.lang.Long.bitCount(arr(i)._2 ^ arr(j)._2) <= t) {
              exact.add(if (arr(i)._1 < arr(j)._1) (arr(i)._1, arr(j)._1)
                else (arr(j)._1, arr(i)._1))
              ()
            }
            j += 1
          }
          i += 1
        }
        val nSeg = t + 1
        // candidate volume = distinct in-bucket pairs BEFORE the Hamming
        // cut (sigCandidates) — sigPairs output is post-verification, so
        // counting it would make false_pos 0 by construction and hide
        // the verify-join cost the threshold actually trades
        val (cand, candSec) = time(Dedup.sigCandidates(sigs, t).count())
        val (got, sec) = time(
          Dedup.sigPairs(sigs, t).select("doc_a", "doc_b").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet)
        val hit = got.intersect(exact).size
        val recall = if (exact.isEmpty) 1.0 else hit.toDouble / exact.size
        println(s"""{"max_hamming":$t,"segments":$nSeg,"seg_bits":${64 / nSeg},"seed":"${if (seed.isEmpty) "default" else seed}","exact_pairs":${exact.size},"candidates":$cand,"spurious":${cand - got.size},"verified_pairs":${got.size},"hit":$hit,"missed":${exact.size - hit},"recall":${fmt(recall, 6)},"cand_sec":${fmt(candSec)},"sec":${fmt(sec)}}""")
        spark.catalog.clearCache(); System.gc()
      }
    }
  }

  /** Overlap-sketch maintenance M-sweep: the sketch is numPerm rows
    * FOREVER, so folding a FIXED batch in (and probing against it) must
    * stay ~flat as the already-sketched corpus grows M× — only the
    * initial sketch build is corpus-proportional.
    */
  private def overlapMaintProbe(spark: SparkSession, docs: DataFrame,
                                ms: Seq[Int]): Unit = {
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text").localCheckpoint(true)
    for (m <- ms) {
      val corpus = grow(docs.filter(col("doc_id") % 2 === 0), m).localCheckpoint(true)
      val n = corpus.count()
      val (_, tBuild) = time(
        Dedup.writeOverlapSketch(corpus, "ovlp_probe", n = 3, numPerm = 32))
      val (_, tMerge) = time(Dedup.mergeIntoOverlapSketch(batch, "ovlp_probe"))
      val (est, tProbe) = time(
        Dedup.corpusOverlapAgainstSketch(batch, "ovlp_probe")
          .head().getDouble(2))
      spark.sql("DROP TABLE IF EXISTS ovlp_probe")
      println(s"""{"m":$m,"corpus":$n,"build_sec":${fmt(tBuild)},"merge_sec":${fmt(tMerge)},"probe_sec":${fmt(tProbe)},"jaccard_est":${fmt(est, 4)}}""")
      spark.catalog.clearCache(); System.gc()
    }
  }

  /** Weighted-sample stream maintenance M-sweep: state ≤ k rows by
    * construction, so merging a FIXED batch must be flat however much
    * history the state has already absorbed (M× the base corpus).
    */
  private def wsampleProbe(spark: SparkSession, docs: DataFrame,
                           ms: Seq[Int]): Unit = {
    import graft.operators.Sampling
    // batch ids sit at 9e11, far above grow()'s copy id space
    // (c·10⁷ + id — 9e8 would collide with copy c = 90), so the
    // "fixed disjoint batch" premise holds for any sweep size
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 900000000000L).as("doc_id"), col("n_chars"))
      .localCheckpoint(true)
    for (m <- ms) {
      val hist = grow(docs, m)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "n_chars").localCheckpoint(true)
      val n = hist.count()
      val (_, tSeed) = time {
        Sampling.writeWeightedSampleState(hist.limit(0), "wsp_probe", "n_chars", k = 1000)
        Sampling.mergeIntoWeightedSample(hist, "wsp_probe")
      }
      val (_, tMerge) = time(Sampling.mergeIntoWeightedSample(batch, "wsp_probe"))
      val stateRows = spark.table("wsp_probe").count()
      spark.sql("DROP TABLE IF EXISTS wsp_probe")
      println(s"""{"m":$m,"history":$n,"seed_sec":${fmt(tSeed)},"merge_sec":${fmt(tMerge)},"state_rows":$stateRows}""")
      spark.catalog.clearCache(); System.gc()
    }
  }

  /** Realtime-cagg serve vs raw-history age: serving a FIXED recent
    * window from a stale rollup + raw tail must stay ~flat as the store
    * accumulates M days of history — the rollup scan prunes to the
    * window's buckets and the tail scan prunes to the stale dates.
    */
  private def caggTailProbe(spark: SparkSession, ms: Seq[Int]): Unit = {
    import graft.sources.{ConditionsTable, ContinuousAggregate}
    import spark.implicits._
    val t0 = 1704240000L // 2024-01-03T00:00:00Z
    for (days <- ms) {
      val tmp = java.nio.file.Files.createTempDirectory("cagg_probe").toString
      val rows = spark.range(days.toLong * 24L * 60L).map { i =>
        (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(t0 + i * 60L)),
          "s1", "m", Option((i % 97).toDouble), Option.empty[String])
      }.toDF("timestamp", "measurement_subject", "measurement_of",
        "measurement_number", "measurement_string")
      ConditionsTable.write(rows.withColumn("date", ConditionsTable.dateKey), s"$tmp/store")
      val endS = t0 + days.toLong * 86400L
      val staleFrom = endS - 86400L // rollup covers all but the last day
      ContinuousAggregate.create(
        spark.read.parquet(s"$tmp/store")
          .filter(col("timestamp") < timestamp_seconds(lit(staleFrom))),
        s"$tmp/agg", widthS = 3600)
      spark.catalog.clearCache(); System.gc()
      val raw = spark.read.parquet(s"$tmp/store")
      val (served, tServe) = time(
        ContinuousAggregate.queryRealtime(spark, s"$tmp/agg", raw, "s1", "m",
          endS - 43200L, endS, widthS = 3600, storedWidthS = 3600).count())
      println(s"""{"days":$days,"rows":${days.toLong * 24 * 60},"serve_sec":${fmt(tServe)},"served_buckets":$served}""")
      graft.util.FsUtil.deleteRecursively(new java.io.File(tmp))
      spark.catalog.clearCache(); System.gc()
    }
  }

  /** Signature-index compaction M-sweep: compaction is one
    * co-partitioned pass over the index — cost ~linear in index size
    * (flat per row), and append-created fragmentation collapses to one
    * file per bucket regardless of how many appends produced it.
    */
  private def compactProbe(spark: SparkSession, docs: DataFrame,
                           ms: Seq[Int]): Unit = {
    for (m <- ms) {
      val corpus = grow(docs, m).localCheckpoint(true)
      Dedup.writeSignatureIndex(corpus.filter(col("doc_id") % 4 === 0), "cmp_probe")
      (1 to 3).foreach(i =>
        Dedup.appendToSignatureIndex(corpus.filter(col("doc_id") % 4 === i), "cmp_probe"))
      val rowsBefore = spark.table("cmp_probe").count()
      val (_, tCompact) = time(Dedup.compactIndex(spark, "cmp_probe"))
      val rowsAfter = spark.table("cmp_probe").count()
      spark.sql("DROP TABLE IF EXISTS cmp_probe")
      println(s"""{"m":$m,"index_rows":$rowsBefore,"compact_sec":${fmt(tCompact)},"rows_preserved":${rowsBefore == rowsAfter}}""")
      spark.catalog.clearCache(); System.gc()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ms = args.lift(1).getOrElse("1,4,8").split(",").map(_.trim.toInt)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.lift(2).contains("embed")) {
      embedProbe(spark, ms)
      spark.stop()
      return
    }
    if (args.lift(2).contains("hh")) {
      hhProbe(spark, spark.read.parquet(s"$sfDir/documents.parquet"), ms)
      spark.stop()
      return
    }
    if (args.lift(2).contains("novelty")) {
      noveltyProbe(spark, spark.read.parquet(s"$sfDir/documents.parquet"), ms)
      spark.stop()
      return
    }
    if (args.lift(2).contains("kcenter")) {
      kcenterProbe(spark, ms) // ms are vector counts here
      spark.stop()
      return
    }
    if (args.lift(2).contains("ivfappend")) {
      ivfAppendProbe(spark, ms) // ms are vector counts here
      spark.stop()
      return
    }
    if (args.lift(2).contains("sq8")) {
      sq8Probe(spark, ms) // ms are vector counts here
      spark.stop()
      return
    }
    if (args.lift(2).contains("hampel")) {
      hampelProbe(spark, ms) // ms are event counts here
      spark.stop()
      return
    }
    if (args.lift(2).contains("maintain")) {
      maintainProbe(spark, ms) // ms are base vector counts here
      spark.stop()
      return
    }
    if (args.lift(2).contains("interval")) {
      intervalProbe(spark, ms) // ms are point counts here
      spark.stop()
      return
    }
    if (args.lift(2).contains("shuffle")) {
      shuffleProbe(spark, ms) // ms are row counts here
      spark.stop()
      return
    }
    if (args.lift(2).contains("cc")) {
      ccProbe(spark, ms) // ms are path-graph node counts here
      spark.stop()
      return
    }
    if (args.lift(2).contains("ccincr")) {
      ccIncrProbe(spark, ms) // ms are path-graph node counts here
      spark.stop()
      return
    }
    if (args.lift(2).contains("semdedup")) {
      semdedupProbe(spark, ms) // ms are vector counts here
      spark.stop()
      return
    }
    if (args.lift(2).contains("caggtail")) {
      caggTailProbe(spark, ms) // ms are history lengths in days here
      spark.stop()
      return
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    if (args.lift(2).contains("recall")) {
      recallProbe(spark, docs, ms) // ms are band counts here (numPerm=64)
      spark.stop()
      return
    }
    if (args.lift(2).contains("shrecall")) {
      simhashRecallProbe(spark, docs, ms) // ms are Hamming thresholds here
      spark.stop()
      return
    }
    if (args.lift(2).contains("overlapmaint")) {
      overlapMaintProbe(spark, docs, ms) // ms are corpus growth factors here
      spark.stop()
      return
    }
    if (args.lift(2).contains("wsample")) {
      wsampleProbe(spark, docs, ms) // ms are history growth factors here
      spark.stop()
      return
    }
    if (args.lift(2).contains("compact")) {
      compactProbe(spark, docs, ms) // ms are index growth factors here
      spark.stop()
      return
    }
    if (args.lift(2).contains("incr")) {
      incrProbe(spark, docs, ms)
      spark.stop()
      return
    }
    if (args.lift(2).contains("bloom")) {
      bloomProbe(spark, docs, ms) // ms are benchmark growth factors here
      spark.stop()
      return
    }
    if (args.lift(2).contains("simhashincr")) {
      simhashIncrProbe(spark, docs, ms) // ms are index growth factors here
      spark.stop()
      return
    }
    if (args.lift(2).contains("lineidx")) {
      lineIndexProbe(spark, docs, ms) // ms are index growth factors here
      spark.stop()
      return
    }
    if (args.lift(2).contains("urlidx")) {
      urlIndexProbe(spark, docs, ms) // ms are frontier growth factors here
      spark.stop()
      return
    }
    if (args.lift(2).contains("mediaidx")) {
      mediaIndexProbe(spark, docs, ms) // ms are index growth factors here
      spark.stop()
      return
    }
    if (args.lift(2).contains("export")) {
      exportProbe(spark, docs, ms) // ms are corpus growth factors here
      spark.stop()
      return
    }
    if (args.lift(2).contains("pipeline")) {
      pipelineProbe(spark, docs, ms) // ms are corpus growth factors here
      spark.stop()
      return
    }
    if (args.lift(2).contains("hotshingle")) {
      hotShingleProbe(spark, docs, ms) // ms are absolute doc counts here
      spark.stop()
      return
    }
    if (args.lift(2).contains("spans")) {
      spansProbe(spark, docs, ms) // ms are corpus growth factors here
      spark.stop()
      return
    }
    for (m <- ms) {
      val corpus = grow(docs, m).localCheckpoint(true) // isolate corpus build cost
      val n = corpus.count()
      val (exactPairs, tExact) = time(Dedup.jaccardPairs(corpus, 3, 0.8).count())
      spark.catalog.clearCache(); System.gc()
      val (lshPairs, tLsh) = time(Dedup.minhashPairs(corpus, threshold = 0.8).count())
      spark.catalog.clearCache(); System.gc()
      println(s"""{"m":$m,"docs":$n,"exact_pairs":$exactPairs,"exact_sec":${fmt(tExact, 2)},"lsh_pairs":$lshPairs,"lsh_sec":${fmt(tLsh, 2)}}""")
    }
    spark.stop()
  }
}
