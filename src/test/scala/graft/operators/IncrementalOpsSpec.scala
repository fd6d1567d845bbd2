package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-4 additions: incremental SimHash, incremental
  * embedding near-dup, the bounded Jaccard contract, and the persisted
  * IVF index.
  */
class IncrementalOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  // --------------------------------------------------- Incremental SimHash

  test("incremental simhash equals the cross-slice of the full pair join") {
    val newB = docs.filter(col("doc_id") % 2 === 1)
    val idx = docs.filter(col("doc_id") % 2 === 0)
    val inc = Dedup.simhashPairsIncremental(newB, idx).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val full = Dedup.simhashPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    val expected = full.collect {
      case ((a, b), h) if a % 2 == 1 && b % 2 == 0 => ((a, b), h)
      case ((a, b), h) if a % 2 == 0 && b % 2 == 1 => ((b, a), h)
    }.toMap
    assert(expected.nonEmpty, "test data should contain cross-parity simhash near-dups")
    assert(inc == expected,
      s"missed=${expected.keySet -- inc.keySet} extra=${inc.keySet -- expected.keySet}")
  }

  test("incremental simhash with an empty new batch returns nothing") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.simhashPairsIncremental(empty, docs).count() == 0)
  }

  // ----------------------------------------- Incremental embedding near-dup

  test("incremental embed near-dup equals the cross-slice of the block kernel") {
    val newV = emb.filter(col("vec_id") % 2 === 1)
    val idxV = emb.filter(col("vec_id") % 2 === 0)
    val inc = Ann.neardupPairsIncremental(newV, idxV, threshold = 0.45).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val full = Ann.neardupPairs(emb, threshold = 0.45).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val expected = full.collect {
      case ((a, b), c) if a % 2 == 1 && b % 2 == 0 => ((a, b), c)
      case ((a, b), c) if a % 2 == 0 && b % 2 == 1 => ((b, a), c)
    }.toMap
    assert(expected.nonEmpty, "test data should contain cross-parity embedding pairs")
    assert(inc == expected,
      s"missed=${expected.keySet -- inc.keySet} extra=${inc.keySet -- expected.keySet}")
  }

  test("incremental embed near-dup: empty new batch yields no pairs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Ann.neardupPairsIncremental(empty, emb, threshold = 0.0).count() == 0)
  }

  // ------------------------------------------------------- Bounded Jaccard

  test("bounded jaccard equals exact when hot shingles touch no qualifying pair") {
    import spark.implicits._
    // 30 unrelated docs all carrying a shared boilerplate phrase (its
    // shingles reach df ≈ 30 — hot), plus one exact-dup pair WITHOUT the
    // phrase. Unrelated docs share ONLY the hot shingles (jaccard « 0.8),
    // so pruning them changes no output pair — the premise under which
    // maxDf is lossless.
    val boiler = "standard corpus boilerplate footer text appended everywhere"
    val uniq = (0L until 30L).map(i =>
      (i, s"unique alpha$i beta$i gamma$i delta$i epsilon$i zeta$i $boiler"))
    val dup = Seq(
      (100L, "the duplicated payload body with its own distinct words entirely"),
      (101L, "the duplicated payload body with its own distinct words entirely"))
    val d = (uniq ++ dup).toDF("doc_id", "text")
    // the cutoff is genuinely active: hot shingles exist above maxDf = 5
    val hotCount = Dedup.shingles(d, 3).groupBy("s").count()
      .filter(col("count") > 5).count()
    assert(hotCount > 0, "constructed corpus must contain hot shingles")
    val exact = Dedup.jaccardPairs(d, 3, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val bounded = Dedup.jaccardPairs(d, 3, 0.8, maxDf = Some(5)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(exact == Seq((100L, 101L, 1.0)))
    assert(bounded == exact)
  }

  test("bounded jaccard output is a subset of exact (computed value is a lower bound)") {
    // On the real corpus the synthetic duplicates DO share the hottest
    // shingles, so pruning shrinks their intersection counts: pair keys
    // can only drop out, never appear.
    val exact = Dedup.jaccardPairs(docs, 3, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bounded = Dedup.jaccardPairs(docs, 3, 0.8, maxDf = Some(10)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(bounded.subsetOf(exact), s"extra=${bounded -- exact}")
  }

  // --------------------------------------------------- Persisted IVF index

  test("persisted IVF index: probe-from-index equals retrain-per-call, pruned and full") {
    Ann.writeIvfIndex(emb, "ivf_spec_idx", nlist = 8)
    try {
      // pruned probe: identical to the retraining path (same seeded
      // k-means over the same deterministic sample)
      val viaIdx = Ann.ivfTopKAgainstIndex(spark, "ivf_spec_idx", queryId = 3, k = 10, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val direct = Ann.ivfTopK(emb, queryId = 3, k = 10, nlist = 8, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaIdx == direct)
      // full probe == brute force
      val full = Ann.ivfTopKAgainstIndex(spark, "ivf_spec_idx", queryId = 3, k = 10, nProbe = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val brute = Ann.topK(emb, queryId = 3, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(full == brute)
      // absent query id → empty, matching ivfTopK
      assert(Ann.ivfTopKAgainstIndex(spark, "ivf_spec_idx", queryId = -5, k = 10, nProbe = 4).count() == 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_spec_idx")
      spark.sql("DROP TABLE IF EXISTS ivf_spec_idx_centroids")
    }
  }

  test("IVF append: assign-against-stored-centroids, probe equals rebuild, no retrain") {
    import spark.implicits._
    val base = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    Ann.writeIvfIndex(base, "ivf_app_idx", nlist = 8)
    try {
      val centroidsBefore = spark.table("ivf_app_idx_centroids")
        .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
      val baseCount = spark.table("ivf_app_idx").count()
      Ann.appendToIvfIndex(batch, "ivf_app_idx")
      // append is additive: all rows present, none rewritten away
      assert(spark.table("ivf_app_idx").count() == baseCount + batch.count())
      // no retrain: centroids and properties byte-identical
      val centroidsAfter = spark.table("ivf_app_idx_centroids")
        .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
      assert(centroidsAfter == centroidsBefore)
      // appended rows sit in the list their vector is nearest to under
      // the STORED centroids (the probe's pruning invariant)
      val cents = centroidsBefore.map(_._2.toArray).toArray
      spark.table("ivf_app_idx").filter(col("vec_id") % 2 === 1)
        .select("embedding", "ivf_list").as[(Array[Float], Int)]
        .collect().foreach { case (v, list) =>
          assert(list == Ann.nearestCentroid(v, cents))
        }
      // full probe over the appended index == brute force over the union
      // (append+probe ≡ rebuild+probe: at nProbe = nlist both are exact)
      val appended = Ann.ivfTopKAgainstIndex(spark, "ivf_app_idx", queryId = 3, k = 10, nProbe = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val brute = Ann.topK(emb, queryId = 3, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(appended == brute)
      // append+probe ≡ rebuild+probe: an index REBUILT from the union
      // (retrained centroids) probed at nProbe = nlist returns the same
      // ranking — both paths are exact at full probe, and the assignment
      // invariant above is the per-row witness that pruned probes see
      // appended vectors in the right lists
      Ann.writeIvfIndex(emb, "ivf_reb_idx", nlist = 8)
      val rebuilt = Ann.ivfTopKAgainstIndex(spark, "ivf_reb_idx", queryId = 3, k = 10, nProbe = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rebuilt == appended)
      spark.sql("DROP TABLE IF EXISTS ivf_reb_idx")
      spark.sql("DROP TABLE IF EXISTS ivf_reb_idx_centroids")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_app_idx")
      spark.sql("DROP TABLE IF EXISTS ivf_app_idx_centroids")
    }
  }

  test("IVF drift: in-distribution appends hold ratio ~1, a shifted batch raises it") {
    import spark.implicits._
    val base = emb.filter(col("vec_id") % 2 === 0)
    Ann.writeIvfIndex(base, "ivf_drift_idx", nlist = 8)
    try {
      val (ref0, cur0, r0) = Ann.ivfDrift(spark, "ivf_drift_idx")
      assert(ref0 > 0 && math.abs(cur0 - ref0) < 1e-9 && math.abs(r0 - 1.0) < 1e-9)
      // in-distribution append: the odd half of the same corpus
      Ann.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1), "ivf_drift_idx")
      val (_, _, rIn) = Ann.ivfDrift(spark, "ivf_drift_idx")
      assert(rIn < 1.2, s"in-distribution drift ratio $rIn")
      // shifted batch: vectors far outside the training distribution
      val dim = emb.select("embedding").as[Array[Float]].head().length
      val shifted = (0 until 64).map { i =>
        (100000L + i, Array.tabulate(dim)(j => 50f + (i + j) % 7))
      }.toDF("vec_id", "embedding")
      Ann.appendToIvfIndex(shifted, "ivf_drift_idx")
      val (_, curS, rS) = Ann.ivfDrift(spark, "ivf_drift_idx")
      assert(rS > rIn && rS > 1.2, s"shifted drift ratio $rS (cur=$curS)")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_drift_idx")
      spark.sql("DROP TABLE IF EXISTS ivf_drift_idx_centroids")
    }
  }

  test("near-dup against the IVF index: exact at full probe, pruned scan, subset when pruned") {
    val newB = emb.filter(col("vec_id") % 2 === 1)
    val idx = emb.filter(col("vec_id") % 2 === 0)
    Ann.writeIvfIndex(idx, "ivf_nd_idx", nlist = 8)
    try {
      def pairsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // nProbe = nlist scans every list — identical to the rectangle kernel
      val full = pairsOf(Ann.neardupAgainstIvfIndex(newB, "ivf_nd_idx", 0.45, nProbe = 8))
      val direct = pairsOf(Ann.neardupPairsIncremental(newB, idx, 0.45))
      assert(full.nonEmpty && full == direct,
        s"missed=${direct -- full} extra=${full -- direct}")
      // pruned probing only loses pairs, never invents them
      val pruned = pairsOf(Ann.neardupAgainstIvfIndex(newB, "ivf_nd_idx", 0.45, nProbe = 1))
      assert(pruned.subsetOf(full))
      // the list restriction must reach the scan as a partition filter
      val plan = Ann.neardupAgainstIvfIndex(newB, "ivf_nd_idx", 0.45, nProbe = 2)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("PartitionFilters:") && plan.contains("ivf_list"), plan)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_nd_idx")
      spark.sql("DROP TABLE IF EXISTS ivf_nd_idx_centroids")
    }
  }

  test("external-vector serving path equals the by-id path for an indexed vector") {
    import spark.implicits._
    val qVec = emb.filter(col("vec_id") === 3L)
      .select("embedding").as[Array[Float]].head()
    // brute tier
    val byId = Ann.topK(emb, queryId = 3L, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val byVec = Ann.topK(emb, qVec, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(byVec == byId && byVec.head == ((3L, 1.0)))
    // IVF-index tier
    Ann.writeIvfIndex(emb, "ivf_ext_idx", nlist = 8)
    try {
      val idxById = Ann.ivfTopKAgainstIndex(spark, "ivf_ext_idx", queryId = 3L, k = 10, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val idxByVec = Ann.ivfTopKAgainstIndex(spark, "ivf_ext_idx", qVec, k = 10, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(idxByVec == idxById)
      // a genuinely external (unindexed) vector works and is exact at
      // full probe: equals the brute force against the same vector
      val ext = qVec.map(v => v + 0.25f)
      val full = Ann.ivfTopKAgainstIndex(spark, "ivf_ext_idx", ext, k = 10, nProbe = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val brute = Ann.topK(emb, ext, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(full == brute)
      intercept[IllegalArgumentException] {
        Ann.topK(emb, Array.fill(qVec.length)(0f), k = 5)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_ext_idx")
      spark.sql("DROP TABLE IF EXISTS ivf_ext_idx_centroids")
    }
  }

  test("persisted IVF index: probe scan prunes list partitions") {
    Ann.writeIvfIndex(emb, "ivf_prune_idx", nlist = 8)
    try {
      val p = Ann.ivfTopKAgainstIndex(spark, "ivf_prune_idx", queryId = 3, k = 10, nProbe = 2)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // the nProbe IN-filter must land on the partition column, not a
      // post-scan filter over the whole corpus
      assert(p.contains("PartitionFilters:") && p.contains("ivf_list"), p)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_prune_idx")
      spark.sql("DROP TABLE IF EXISTS ivf_prune_idx_centroids")
    }
  }

  // ------------------------------------------------------ Sequence packing

  test("packing: matches the sequential prefix-sum reference, any partitioning") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val d = (0L until 500L).map(i => (i, Seq.fill(1 + rng.nextInt(40))("w").mkString(" ")))
      .toDF("doc_id", "text")
    def collectPack(df: org.apache.spark.sql.DataFrame) =
      Packing.assignSequences(df, budget = 100).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = collectPack(d)
    // in-memory sequential reference: exclusive running sum / budget
    var acc = 0L
    val expected = got.map(_._1).sorted.map { id =>
      val n = d.filter(col("doc_id") === id).head.getString(1).split(" ").length.toLong
      val seq = acc / 100
      acc += n
      (id, n, seq)
    }
    assert(got == expected)
    // partitioning must not change assignments (global order, not layout)
    assert(collectPack(d.repartition(13)) == got)
    // every sequence's token span starts inside its budget window
    val bySeq = got.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(bySeq.nonEmpty && got.map(_._3).max >= 1, "test corpus should span multiple sequences")
  }

  test("packing: empty corpus and single huge doc are handled") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Packing.assignSequences(empty, 100).count() == 0)
    val one = Seq((7L, Seq.fill(500)("w").mkString(" "))).toDF("doc_id", "text")
    val Array(r) = Packing.assignSequences(one, 100).collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((7L, 500L, 0L)))
  }

  test("materializeSequences: token totals conserved, in-sequence order by doc_id") {
    import spark.implicits._
    val d = Seq((3L, "c c"), (1L, "a a a"), (2L, "b"), (4L, "d d d d")).toDF("doc_id", "text")
    // budget 4, corpus order 1(3),2(1),3(2),4(4): prefixes 0,3,4,6 → seqs 0,0,1,1
    val got = Packing.materializeSequences(d, budget = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq((0L, 2L, 4L, "a a a b"), (1L, 2L, 6L, "c c d d d d")))
    val real = Packing.materializeSequences(docs, budget = 2048)
    val totalTokens = TextAnalysis.tokenCount(docs).agg(sum("n_tokens")).head.getLong(0)
    assert(real.agg(sum("seq_tokens")).head.getLong(0) == totalTokens)
  }

  test("chunkDocuments: overlapped windows cover every token, boundary arithmetic exact") {
    import spark.implicits._
    val d = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "solo"))
      .toDF("doc_id", "text")
    // maxTokens=4, overlap=1 → stride 3; n=10 → 3 chunks: [1..4] [4..7] [7..10]
    val got = Packing.chunkDocuments(d, maxTokens = 4, overlap = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 4L, "t7 t8 t9 t10"),
      (2L, 0L, 1L, "solo")))
    // every token of every doc appears in some chunk (coverage), and no
    // chunk exceeds the window
    val real = Packing.chunkDocuments(docs, maxTokens = 64, overlap = 8)
    assert(real.filter(col("n_tokens") > 64 || col("n_tokens") < 1).count() == 0)
    val covered = real.groupBy("doc_id")
      .agg(max(col("chunk_id") * 56 + col("n_tokens")).as("last"))
    val lens = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    assert(covered.join(lens, "doc_id").filter(col("last") =!= col("n")).count() == 0)
  }

  test("fimExamples: reassembly invariant, middle-third geometry, partition independence") {
    import spark.implicits._
    val out = Packing.fimExamples(docs, minTokens = 12, fimRate = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4)))
    assert(out.nonEmpty)
    val lens = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, n, pre, mid, suf) =>
      // prefix + middle + suffix tokens reassemble the document exactly
      val joined = Seq(pre, mid, suf).filter(_.nonEmpty).mkString(" ")
      assert(joined == lens(id), s"doc $id does not reassemble")
      val nPre = pre.split(" ", -1).length
      val nMid = mid.split(" ", -1).count(_.nonEmpty)
      // span starts in the middle third and is at most a third long
      assert(nPre >= n / 3 && nPre <= 2 * (n / 3) + 1, s"doc $id prefix $nPre of $n")
      assert(nMid >= 1 && nMid <= n / 3, s"doc $id middle $nMid of $n")
    }
    // selection rate: ~half the eligible docs at the default rate
    val eligible = docs.filter(size(split(col("text"), " ")) >= 12).count()
    val selected = Packing.fimExamples(docs).count()
    assert(selected > eligible / 3 && selected < 2 * eligible / 3,
      s"$selected of $eligible at rate 0.5")
    // deterministic under repartition
    val a = Packing.fimExamples(docs.repartition(7)).collect().map(_.toSeq).toSeq
    val b = Packing.fimExamples(docs.coalesce(1)).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("IVF index without graft.nlist property fails loudly") {
    import spark.implicits._
    emb.limit(5).write.mode("overwrite").saveAsTable("ivf_bogus_idx")
    try {
      val e = intercept[IllegalArgumentException] {
        Ann.ivfTopKAgainstIndex(spark, "ivf_bogus_idx", queryId = 0, k = 5, nProbe = 1)
      }
      assert(e.getMessage.contains("graft.nlist"))
    } finally spark.sql("DROP TABLE IF EXISTS ivf_bogus_idx")
  }

  test("signature index without graft.* properties fails loudly (table-name overload)") {
    val idx = docs.filter(col("doc_id") % 2 === 0)
    // a band table written manually, without writeSignatureIndex's props
    graft.operators.Dedup.writeSignatureIndex(idx, "sig_noprops", buckets = 2)
    spark.sql("ALTER TABLE sig_noprops UNSET TBLPROPERTIES ('graft.n')")
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.minhashPairsAgainstIndex(docs, "sig_noprops", idx)
      }
      assert(e.getMessage.contains("graft.n"))
    } finally spark.sql("DROP TABLE IF EXISTS sig_noprops")
  }

  // ------------------------------------------------------ Line-claim index

  test("line index: claims strip, batch firsts win, appends extend the claims") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha\nbeta"), (2L, "gamma\ndelta")).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "alpha\nnova"),    // alpha claimed by index → only nova
      (12L, "nova\nmu"),       // nova first-claimed by 11 → only mu
      (13L, "beta\ngamma"))    // both claimed → disappears
      .toDF("doc_id", "text")
    Dedup.writeLineIndex(corpus, "line_idx_spec")
    try {
      val out = Dedup.lineDedupAgainstIndex(batch, "line_idx_spec")
        .collect().map(r => r.getLong(0) -> r.getString(1))
      assert(out.toSeq == Seq(11L -> "nova", 12L -> "mu"))
      // stream-safe flavor: index-only claims, in-doc collapse only —
      // cross-doc nova survives in BOTH docs, and the result is the
      // same however the batch is partitioned
      val strip = Dedup.stripClaimedLines(batch, "line_idx_spec")
        .collect().map(r => r.getLong(0) -> r.getString(1))
      assert(strip.toSeq == Seq(11L -> "nova", 12L -> "nova\nmu"))
      val strip8 = Dedup.stripClaimedLines(batch.repartition(8), "line_idx_spec")
        .collect().map(r => r.getLong(0) -> r.getString(1))
      assert(strip8.toSeq == strip.toSeq)
      // append the accepted lines: tomorrow's identical batch is claimed
      Dedup.appendToLineIndex(Seq("nova", "mu").toDF("line"), "line_idx_spec")
      assert(Dedup.lineDedupAgainstIndex(batch, "line_idx_spec").count() == 0)
    } finally graft.util.IndexTable.drop(spark, "line_idx_spec")
  }
}
