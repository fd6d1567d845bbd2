package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-3 curation operators: sampling, decontamination,
  * redaction, vocabulary.
  */
class CurationOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  // ------------------------------------------------------------- Sampling

  test("assignSplits: every doc gets exactly one split, proportions near weights") {
    val assigned = Sampling.assignSplits(docs)
    assert(assigned.count() == docs.count())
    val bydist = assigned.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(bydist.keySet.subsetOf(Set("train", "validation", "test")))
    // 50 docs: expect ~45/2.5/2.5; tolerate binomial noise
    assert(bydist("train") / n > 0.7, s"train share off: $bydist")
    assert((bydist.getOrElse("validation", 0L) + bydist.getOrElse("test", 0L)) / n < 0.3)
  }

  test("assignSplits is deterministic and partition-independent") {
    val a = Sampling.assignSplits(docs)
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Sampling.assignSplits(docs.repartition(13))
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b)
  }

  test("assignSplits: adding docs never moves an existing doc (incremental stability)") {
    import spark.implicits._
    val base = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val grown = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = Sampling.assignSplits(base).select("doc_id", "split")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val b = Sampling.assignSplits(grown).select("doc_id", "split")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(a.forall { case (id, s) => b(id) == s })
  }

  test("mixtureSample: binding stratum kept whole, others hit bucket-exact thresholds") {
    import spark.implicits._
    import TestBuckets.jvmBucket
    // a:100 docs, b:50 docs, targets 50/50 → λ = min(100/0.5, 50/0.5) =
    // 100 → rate_a = 0.5, rate_b = 1.0 (binding stratum keeps everything)
    val d = ((0L until 100L).map(i => (i, s"t $i", "a")) ++
             (100L until 150L).map(i => (i, s"t $i", "b")))
      .toDF("doc_id", "text", "source")
    val kept = Sampling.mixtureSample(d, Map("a" -> 0.5, "b" -> 0.5))
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = ((0L until 100L).filter(i => jvmBucket(i.toString, "mix") < 5000)
        .map(i => (i, "a")) ++
      (100L until 150L).map(i => (i, "b"))).toSet
    assert(kept == expected)
    // untargeted strata are dropped entirely
    val d2 = d.union(Seq((200L, "x", "c")).toDF("doc_id", "text", "source"))
    assert(Sampling.mixtureSample(d2, Map("a" -> 0.5, "b" -> 0.5))
      .filter(col("source") === "c").count() == 0)
  }

  test("temperatureSample: α=1 is the identity mixture; α=0.5 flattens toward uniform") {
    import spark.implicits._
    import TestBuckets.jvmBucket
    // a:400, b:100 → α=0.5 targets ∝ 20/10 → λ = min(400/20, 100/10) = 10
    // → rate_a = 0.5 (downsampled 2×), rate_b = 1.0 (kept whole)
    val d = ((0L until 400L).map(i => (i, s"t $i", "a")) ++
             (400L until 500L).map(i => (i, s"t $i", "b")))
      .toDF("doc_id", "text", "source")
    val kept = Sampling.temperatureSample(d, alpha = 0.5)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = ((0L until 400L).filter(i => jvmBucket(i.toString, "temp") < 5000)
        .map(i => (i, "a")) ++
      (400L until 500L).map(i => (i, "b"))).toSet
    assert(kept == expected)
    // α = 1: targets ∝ counts → every rate 1, nothing dropped
    assert(Sampling.temperatureSample(d, alpha = 1.0).count() == 500)
    intercept[IllegalArgumentException] {
      Sampling.temperatureSample(d, alpha = 0.0)
    }
  }

  test("stratifiedSample: per-stratum rates respected, salt decorrelates from split") {
    import spark.implicits._
    val d = (0L until 2000L).map(i => (i, s"t $i", if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "source")
    val kept = Sampling.stratifiedSample(d, "source", Map("a" -> 0.5), defaultRate = 0.1)
    val counts = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("a") - 500L) < 100, s"stratum a: $counts")
    assert(math.abs(counts("b") - 100L) < 50, s"stratum b: $counts")
    // rate 0 drops everything; rate 1 keeps everything
    assert(Sampling.stratifiedSample(d, "source", Map.empty, defaultRate = 0.0).count() == 0)
    assert(Sampling.stratifiedSample(d, "source", Map.empty, defaultRate = 1.0).count() == 2000)
  }

  test("bucket: matches the documented md5 construction") {
    import spark.implicits._
    val got = Seq(Tuple1(42L)).toDF("k")
      .select(Sampling.bucket(col("k"), "s").as("b")).head().getInt(0)
    assert(got == TestBuckets.jvmBucket("42", "s"))
  }

  test("stratifiedSample thresholds round, not truncate (0.57 keeps bucket 5699)") {
    import spark.implicits._
    // find keys hashing to buckets 5699 and 5700 under the strat salt
    val k5699 = (0L to 200000L).find(k => TestBuckets.jvmBucket(k.toString, "strat") == 5699).get
    val k5700 = (0L to 200000L).find(k => TestBuckets.jvmBucket(k.toString, "strat") == 5700).get
    val d = Seq((k5699, "t", "a"), (k5700, "t", "a")).toDF("doc_id", "text", "source")
    val kept = Sampling.stratifiedSample(d, "source", Map("a" -> 0.57))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // round(0.57 * 10000) = 5700: bucket 5699 in, bucket 5700 out
    assert(kept == Set(k5699))
  }

  test("topKPerStratum: exact per-stratum selection with deterministic boundary") {
    import spark.implicits._
    val d = Seq(
      (1L, "a", 0.9), (2L, "a", 0.8), (3L, "a", 0.8), (4L, "a", 0.1),
      (5L, "b", 0.5)
    ).toDF("doc_id", "source", "quality")
    val kept = Sampling.topKPerStratum(d, "source", 2,
        col("quality").desc, col("doc_id").asc)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // stratum a: 0.9 → doc 1; tie at 0.8 broken by doc_id → doc 2 (not 3)
    assert(kept == Set(1L, 2L, 5L))
  }

  test("topKPerStratum keeps all rows when k >= stratum size") {
    import spark.implicits._
    val d = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("doc_id", "source", "v")
    assert(Sampling.topKPerStratum(d, "source", 10, col("v").desc).count() == 2)
  }

  // ------------------------------------------------------- Decontamination

  test("decontamination flags only docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val bench = Seq((900L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words alpha beta gamma delta epsilon more tail"), // shares 5-grams
      (2L, "totally unrelated content about spark shuffles and joins"),
      (3L, "beta gamma delta epsilon zeta suffix")                   // shares 5-gram
    ).toDF("doc_id", "text")
    val out = Decontamination.contaminated(corpus, bench, n = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet == Set(1L, 3L))
    assert(out(1L) == 1L) // "alpha beta gamma delta epsilon"
    assert(out(3L) == 1L) // "beta gamma delta epsilon zeta"
  }

  test("bloom decontamination tier computes exactly the exact-join rows") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val exact = Decontamination.contaminated(corpus, bench, n = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // no false negatives from the bloom pre-filter, false positives
    // removed by the exact confirmation — equality, not approximation,
    // at both a loose and a tight fpp
    for (fpp <- Seq(0.05, 0.001)) {
      val bloom = Decontamination.contaminatedBloom(corpus, bench, n = 5, fpp = fpp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.nonEmpty && bloom == exact,
        s"fpp=$fpp missed=${exact -- bloom} extra=${bloom -- exact}")
    }
    intercept[IllegalArgumentException] {
      Decontamination.contaminatedBloom(corpus, bench, n = 5, fpp = 1.5)
    }
  }

  test("bloom decontamination: empty benchmark flags nothing (no NPE from sizing)") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val emptyBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Decontamination.contaminatedBloom(corpus, emptyBench, n = 5).count() == 0)
  }

  test("null text yields no shingles rather than an NPE") {
    import spark.implicits._
    val d = Seq((1L, "a b c d e"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val sh = Dedup.shingles(d, 3)
    assert(sh.select("doc_id").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("decontamination: short docs (< n tokens) produce no shingles, no rows") {
    import spark.implicits._
    val bench = Seq((1L, "a b")).toDF("doc_id", "text")
    val corpus = Seq((2L, "a b")).toDF("doc_id", "text")
    assert(Decontamination.contaminated(corpus, bench, n = 5).count() == 0)
  }

  // ------------------------------------------------------------ Redaction

  test("redaction scrubs emails, phones, IPs; n_pii equals replacements performed") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail a.b-c_d@sub.example.org then 415-555-0123 and 10.0.0.255 done"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.io and z@w.co")
    ).toDF("doc_id", "text")
    val out = Redaction.redact(d).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    assert(out(1L)._1 == 3L)
    assert(out(1L)._2 == "mail <EMAIL> then <PHONE> and <IP> done")
    assert(out(2L) == ((0L, "no pii here at all")))
    assert(out(3L)._1 == 2L)
    assert(out(3L)._2 == "two mails <EMAIL> and <EMAIL>")
  }

  test("n_pii counts actual replacements: a phone inside an email local part counts once") {
    import spark.implicits._
    // the email rule consumes the whole token first; the phone rule then
    // sees only "<EMAIL>" — counting on the original would report 2
    val d = Seq((1L, "mail 415-555-0123@x.com end")).toDF("doc_id", "text")
    val Array(r) = Redaction.redact(d).collect()
    assert(r.getLong(1) == 1L)
    assert(r.getString(2) == "mail <EMAIL> end")
  }

  test("redaction leaves non-PII digit runs and bare domains alone") {
    import spark.implicits._
    val d = Seq((1L, "version 1.2.3 of 2024 build 123456789 at example.com")).toDF("doc_id", "text")
    val Array(r) = Redaction.redact(d).collect()
    assert(r.getLong(1) == 0L)
    assert(r.getString(2) == "version 1.2.3 of 2024 build 123456789 at example.com")
  }

  // --------------------------------------------------- Incremental dedup

  test("incremental minhash equals the cross-slice of the full exact join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val newB = docs.filter(col("doc_id") % 2 === 1)
    val idx = docs.filter(col("doc_id") % 2 === 0)
    val inc = Dedup.minhashPairsIncremental(newB, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: exact all-pairs join, restricted to (odd, even)
    val full = Dedup.jaccardPairs(docs, 3, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = full.collect {
      case (a, b) if a % 2 == 1 && b % 2 == 0 => (a, b)
      case (a, b) if a % 2 == 0 && b % 2 == 1 => (b, a)
    }.toSet
    assert(expected.nonEmpty, "test data should contain cross-parity near-dups")
    assert(inc == expected, s"missed=${expected -- inc} extra=${inc -- expected}")
  }

  test("persisted signature index: same pairs, index side co-located (no shuffle)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val newB = docs.filter(col("doc_id") % 2 === 1)
    val idx = docs.filter(col("doc_id") % 2 === 0)
    Dedup.writeSignatureIndex(idx, "sig_index", buckets = 4)
    try {
      val indexBands = spark.table("sig_index")
      // table-name entry point: parameters validated from table metadata
      val viaIndex = Dedup.minhashPairsAgainstIndex(newB, "sig_index", idx)
      // a parameter mismatch must fail loudly via the catalog properties
      intercept[IllegalArgumentException] {
        Dedup.minhashPairsAgainstIndex(newB, "sig_index", idx, 3, 64, 32, 0.8)
      }
      // identical pairs to the recompute-everything variant
      val direct = Dedup.minhashPairsIncremental(newB, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val indexed = viaIndex.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(direct.nonEmpty && indexed == direct,
        s"missed=${direct -- indexed} extra=${indexed -- direct}")
      // the candidate join must exploit the bucketed index layout even
      // when the batch side is too big to broadcast (the lazy variant
      // keeps the full plan inspectable; materialize=true cuts it at the
      // checkpoint). Spark marks an unexploited bucket layout
      // "Bucketed: false (...)", so asserting true under disabled
      // broadcast checks real co-partitioning, not just table metadata.
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val candPlan = Dedup.minhashPairsAgainstIndex(newB, indexBands, idx,
            materialize = false)
          .queryExecution.executedPlan.toString
        assert(candPlan.contains("Bucketed: true"), candPlan)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    } finally spark.sql("DROP TABLE IF EXISTS sig_index")
  }

  test("corpusOverlap: identical corpora estimate 1.0, disjoint corpora 0.0; exact tier agrees") {
    import spark.implicits._
    val a = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    val b = Seq((3L, "nu xi omicron pi rho sigma"),
      (4L, "tau upsilon phi chi psi omega")).toDF("doc_id", "text")
    val same = Dedup.corpusOverlap(a, a, n = 3, numPerm = 16).head()
    assert(same.getLong(1) == 16 && same.getDouble(2) == 1.0)
    val disj = Dedup.corpusOverlap(a, b, n = 3, numPerm = 16).head()
    assert(disj.getLong(1) == 0 && disj.getDouble(2) == 0.0)
    val exSame = Dedup.corpusOverlapExact(a, a).head()
    assert(exSame.getDouble(3) == 1.0)
    val exDisj = Dedup.corpusOverlapExact(a, b).head()
    assert(exDisj.getLong(2) == 0 && exDisj.getDouble(3) == 0.0)
  }

  test("corpusOverlap with a shingle-free side fails loudly, never NULL-as-zero") {
    import spark.implicits._
    val a = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    // every doc shorter than n tokens ⇒ no shingles ⇒ estimate undefined;
    // a silent NULL (or fake 0.0) would read as "no overlap" to triage
    val short = Seq((9L, "one two")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.corpusOverlap(a, short, n = 3, numPerm = 16).collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(rootMessages(e).exists(_.contains("corpus overlap undefined")),
      s"unexpected failure: ${rootMessages(e)}")
  }

  test("overlap sketch: incremental merges equal the one-shot sketch of the union") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    try {
      // one-shot sketch of the evens
      Dedup.writeOverlapSketch(evens, "ovl_oneshot", n = 3, numPerm = 16)
      // the same corpus merged in as three arbitrary slices
      Dedup.writeOverlapSketch(evens.filter(lit(false)), "ovl_inc", n = 3, numPerm = 16)
      Seq(0, 1, 2).foreach { k =>
        Dedup.mergeIntoOverlapSketch(evens.filter(col("doc_id") % 3 === k), "ovl_inc")
      }
      val oneShot = spark.table("ovl_oneshot").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      val inc = spark.table("ovl_inc").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(oneShot == inc, s"one-shot $oneShot vs incremental $inc")
      // and the probe against either equals the direct two-corpus estimate
      val direct = Dedup.corpusOverlap(evens, odds, n = 3, numPerm = 16).head()
      val viaSketch = Dedup.corpusOverlapAgainstSketch(odds, "ovl_inc").head()
      assert(direct.getDouble(2) == viaSketch.getDouble(2))
      // a sketch without properties fails loudly
      spark.table("ovl_inc").write.mode("overwrite").saveAsTable("ovl_noprops")
      intercept[IllegalArgumentException] {
        Dedup.mergeIntoOverlapSketch(odds, "ovl_noprops")
      }
    } finally {
      Seq("ovl_oneshot", "ovl_inc", "ovl_noprops").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("compactIndex: fewer files, identical content and probe results, properties preserved") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = docs.filter(col("doc_id") % 3 === 0)
    val probe = docs.filter(col("doc_id") % 3 === 2)
    val union = base.unionByName(docs.filter(col("doc_id") % 3 === 1))
    Dedup.writeSignatureIndex(base, "sig_cmp_idx", buckets = 4)
    try {
      // two appends -> three files per touched bucket
      Dedup.appendToSignatureIndex(docs.filter(col("doc_id") % 3 === 1), "sig_cmp_idx")
      Dedup.appendToSignatureIndex(docs.filter(lit(false)), "sig_cmp_idx")
      val before = Dedup.minhashPairsAgainstIndex(probe, "sig_cmp_idx", union)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val filesBefore = spark.table("sig_cmp_idx").inputFiles.length
      val rowsBefore = spark.table("sig_cmp_idx").count()
      Dedup.compactIndex(spark, "sig_cmp_idx")
      val filesAfter = spark.table("sig_cmp_idx").inputFiles.length
      assert(filesAfter < filesBefore,
        s"compaction must reduce files: $filesBefore -> $filesAfter")
      assert(spark.table("sig_cmp_idx").count() == rowsBefore)
      // probes unchanged, properties survived (another append still works)
      val after = Dedup.minhashPairsAgainstIndex(probe, "sig_cmp_idx", union)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == before)
      Dedup.appendToSignatureIndex(docs.filter(lit(false)), "sig_cmp_idx")
      // a table without graft.buckets fails loudly
      spark.table("sig_cmp_idx").write.mode("overwrite").saveAsTable("sig_cmp_noprops")
      intercept[IllegalArgumentException] {
        Dedup.compactIndex(spark, "sig_cmp_noprops")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS sig_cmp_idx")
      spark.sql("DROP TABLE IF EXISTS sig_cmp_noprops")
    }
  }

  test("compactIndex re-derives the bucket count of a table seeded small and grown") {
    import graft.util.IndexBuckets
    def bucketsOf(table: String): (Int, Int) = {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val spec = spark.sessionState.catalog.getTableMetadata(ident).bucketSpec
      val prop = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
        .collectFirst { case r if r.getString(0) == "graft.buckets" => r.getString(1).toInt }
      (spec.map(_.numBuckets).getOrElse(-1), prop.getOrElse(-1))
    }
    // the seed is read from its own small file, so the size estimate the
    // seed write derives from is that of five documents
    val seedDir = java.nio.file.Files.createTempDirectory("cmp_seed").toString + "/docs"
    docs.filter(col("doc_id") % 10 === 0).coalesce(1).write.parquet(seedDir)
    val probe = docs.filter(col("doc_id") % 10 === 5)
    spark.conf.set(IndexBuckets.TargetBytesKey, "4KB")
    try {
      Dedup.writeSignatureIndex(spark.read.parquet(seedDir), "sig_grow_idx")
      val (seedBuckets, seedProp) = bucketsOf("sig_grow_idx")
      assert(seedBuckets == seedProp)
      Seq(1, 2, 3, 4, 6, 7, 8, 9).foreach(k =>
        Dedup.appendToSignatureIndex(docs.filter(col("doc_id") % 10 === k), "sig_grow_idx"))
      // appends reuse the latched seed count
      assert(bucketsOf("sig_grow_idx") == ((seedBuckets, seedProp)))
      val union = docs.filter(col("doc_id") % 10 =!= 5)
      val before = Dedup.minhashPairsAgainstIndex(probe, "sig_grow_idx", union)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rowsBefore = spark.table("sig_grow_idx").count()
      Dedup.compactIndex(spark, "sig_grow_idx")
      val (grown, grownProp) = bucketsOf("sig_grow_idx")
      assert(grown > seedBuckets, s"compaction kept $seedBuckets buckets, derived $grown")
      assert(grownProp == grown, "graft.buckets must record the re-derived count")
      assert(spark.table("sig_grow_idx").count() == rowsBefore)
      val after = Dedup.minhashPairsAgainstIndex(probe, "sig_grow_idx", union)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == before)
      // the next append writes into the re-derived bucketing
      Dedup.appendToSignatureIndex(docs.filter(lit(false)), "sig_grow_idx")
      assert(bucketsOf("sig_grow_idx") == ((grown, grown)))
    } finally {
      spark.conf.unset(IndexBuckets.TargetBytesKey)
      spark.sql("DROP TABLE IF EXISTS sig_grow_idx")
    }
  }

  test("compactIndex resolves db-qualified tables through the catalog") {
    // the data path must come from the catalog, not be reconstructed as
    // <warehouse>/<name> — a db-qualified index lives under <db>.db/<tbl>
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = docs.filter(col("doc_id") % 3 === 0)
    val probe = docs.filter(col("doc_id") % 3 === 2)
    val union = base.unionByName(docs.filter(col("doc_id") % 3 === 1))
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_cmp_db")
    Dedup.writeSignatureIndex(base, "graft_cmp_db.sig_idx", buckets = 4)
    try {
      Dedup.appendToSignatureIndex(docs.filter(col("doc_id") % 3 === 1),
        "graft_cmp_db.sig_idx")
      val before = Dedup.minhashPairsAgainstIndex(probe, "graft_cmp_db.sig_idx", union)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val filesBefore = spark.table("graft_cmp_db.sig_idx").inputFiles.length
      val rowsBefore = spark.table("graft_cmp_db.sig_idx").count()
      Dedup.compactIndex(spark, "graft_cmp_db.sig_idx")
      assert(spark.table("graft_cmp_db.sig_idx").inputFiles.length < filesBefore)
      assert(spark.table("graft_cmp_db.sig_idx").count() == rowsBefore)
      val after = Dedup.minhashPairsAgainstIndex(probe, "graft_cmp_db.sig_idx", union)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == before)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_cmp_db.sig_idx")
      spark.sql("DROP DATABASE IF EXISTS graft_cmp_db CASCADE")
    }
  }

  test("signature index append: probe after append equals from-scratch index over the union") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = docs.filter(col("doc_id") % 3 === 0)
    val added = docs.filter(col("doc_id") % 3 === 1)
    val probe = docs.filter(col("doc_id") % 3 === 2)
    val union = base.unionByName(added)
    Dedup.writeSignatureIndex(base, "sig_app_idx", buckets = 4)
    try {
      Dedup.appendToSignatureIndex(added, "sig_app_idx")
      val appended = Dedup.minhashPairsAgainstIndex(probe, "sig_app_idx", union)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Dedup.writeSignatureIndex(union, "sig_app_ref", buckets = 4)
      val scratch = Dedup.minhashPairsAgainstIndex(probe, "sig_app_ref", union)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(appended.nonEmpty && appended == scratch,
        s"missed=${scratch -- appended} extra=${appended -- scratch}")
      // the appended files must keep the bucket layout readable as bucketed
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = Dedup.minhashPairsAgainstIndex(probe, spark.table("sig_app_idx"),
            union, materialize = false)
          .queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"), plan)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      // appending to a table not written by writeSignatureIndex (no
      // parameter properties) fails loudly
      spark.table("sig_app_idx").write.mode("overwrite").saveAsTable("sig_app_noprops")
      intercept[IllegalArgumentException] {
        Dedup.appendToSignatureIndex(added, "sig_app_noprops")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS sig_app_idx")
      spark.sql("DROP TABLE IF EXISTS sig_app_ref")
      spark.sql("DROP TABLE IF EXISTS sig_app_noprops")
    }
  }

  test("simhash index append: probe after append equals from-scratch index over the union") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = docs.filter(col("doc_id") % 3 === 0)
    val added = docs.filter(col("doc_id") % 3 === 1)
    val probe = docs.filter(col("doc_id") % 3 === 2)
    Dedup.writeSimhashIndex(base, "sim_app_idx", buckets = 4)
    try {
      Dedup.appendToSimhashIndex(added, "sim_app_idx")
      val appended = Dedup.simhashPairsAgainstIndex(probe, "sim_app_idx")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val direct = Dedup.simhashPairsIncremental(probe, base.unionByName(added))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(appended == direct, s"missed=${direct -- appended} extra=${appended -- direct}")
    } finally spark.sql("DROP TABLE IF EXISTS sim_app_idx")
  }

  test("persisted simhash index: same pairs as recompute, co-located, validated") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val newB = docs.filter(col("doc_id") % 2 === 1)
    val idx = docs.filter(col("doc_id") % 2 === 0)
    Dedup.writeSimhashIndex(idx, "simhash_index", buckets = 4)
    try {
      val direct = Dedup.simhashPairsIncremental(newB, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val indexed = Dedup.simhashPairsAgainstIndex(newB, "simhash_index").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(indexed == direct, s"missed=${direct -- indexed} extra=${indexed -- direct}")
      // a maxHamming mismatch must fail loudly via the catalog properties
      intercept[IllegalArgumentException] {
        Dedup.simhashPairsAgainstIndex(newB, "simhash_index", maxHamming = 7)
      }
      // the probe must read the bucketed index co-partitioned (join key
      // sk equals the bucket spec); assert under disabled broadcast so
      // "Bucketed: true" reflects real co-partitioning
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = Dedup.simhashPairsAgainstIndex(newB, "simhash_index")
          .queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"), plan)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      // a table not written by writeSimhashIndex (no property) fails loudly
      spark.table("simhash_index").write.mode("overwrite").saveAsTable("simhash_noprops")
      intercept[IllegalArgumentException] {
        Dedup.simhashPairsAgainstIndex(newB, "simhash_noprops")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS simhash_index")
      spark.sql("DROP TABLE IF EXISTS simhash_noprops")
    }
  }

  test("incremental minhash with an empty new batch returns nothing") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minhashPairsIncremental(empty, docs).count() == 0)
  }

  test("an empty signature index yields no pairs (no NPE from validation)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Dedup.writeSignatureIndex(empty, "sig_index_empty", buckets = 2)
    try {
      assert(Dedup.minhashPairsAgainstIndex(
        docs, spark.table("sig_index_empty"), empty).count() == 0)
    } finally spark.sql("DROP TABLE IF EXISTS sig_index_empty")
  }

  // -------------------------------------------------------- Length stats

  test("lengthStats: exact interpolated percentiles per stratum") {
    import spark.implicits._
    // stratum a: lengths 1,2,3,4 tokens → p25 = 1.75, p50 = 2.5, p90 = 3.7
    val d = Seq(
      (1L, "w", "a"), (2L, "w w", "a"), (3L, "w w w", "a"), (4L, "w w w w", "a"),
      (5L, "w w", "b")
    ).toDF("doc_id", "text", "source")
    val rows = TextAnalysis.lengthStats(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(rows("a") == ((4L, 2.5, 1.75, 2.5, 3.7)))
    assert(rows("b") == ((1L, 2.0, 2.0, 2.0, 2.0)))
  }

  test("lengthStatsApprox: rank-ceil(p*n) group elements in the exact regime") {
    import spark.implicits._
    // stratum a: lengths 1..10 → rank ceil(2.5)=3, ceil(5)=5, ceil(9)=9
    val d = (1 to 10).map(i => (i.toLong, Seq.fill(i)("w").mkString(" "), "a"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.lengthStatsApprox(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(r("a") == ((10L, 5.5, 3L, 5L, 9L)))
    // and each approx quantile sits within one rank of the exact
    // interpolated value on the same data (the documented error contract
    // in the exact regime)
    val exact = TextAnalysis.lengthStats(d).collect().head
    assert(math.abs(r("a")._3 - exact.getDouble(3)) <= 1.0)
    assert(math.abs(r("a")._4 - exact.getDouble(4)) <= 1.0)
    assert(math.abs(r("a")._5 - exact.getDouble(5)) <= 1.0)
  }

  // -------------------------------------------------------- Sessionization

  test("sessionize: gap threshold splits sessions; ties share a session") {
    import spark.implicits._
    import org.apache.spark.sql.functions.timestamp_seconds
    val rows = Seq(
      ("u1", 1000L), ("u1", 1100L), ("u1", 1100L), // session 1 (tie included)
      ("u1", 5000L), ("u1", 5000L),                // gap 3900 > 3600 → session 2:
                                                   // a TIE GROUP at the boundary —
                                                   // both rows must land in session 2
                                                   // whichever carries the open flag
      ("u2", 1000L)                                // other subject: own session 1
    ).toDF("measurement_subject", "s")
      .select(col("measurement_subject"), timestamp_seconds(col("s")).as("timestamp"))
      .withColumn("measurement_of", lit("click"))
    val out = graft.queries.TimeseriesQueries
      .sessionize(rows, "click", 0L, 10000L, gapS = 3600)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("u1", 1L, 1000000000L, 1100000000L, 3L),
      ("u1", 2L, 5000000000L, 5000000000L, 2L),
      ("u2", 1L, 1000000000L, 1000000000L, 1L)))
  }

  // ----------------------------------------------------------- Vocabulary

  test("vocabulary: exact tf/df with deterministic tie-break") {
    import spark.implicits._
    val d = Seq((1L, "b a a"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val rows = TextAnalysis.vocabulary(d, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // tf: a=3, b=2, c=1; df: a=2, b=2, c=1
    assert(rows.toSeq == Seq(("a", 3L, 2L), ("b", 2L, 2L), ("c", 1L, 1L)))
  }

  test("vocabulary: top-k cut respects tf desc then token asc") {
    import spark.implicits._
    val d = Seq((1L, "z y x w")).toDF("doc_id", "text") // all tf=1
    val rows = TextAnalysis.vocabulary(d, k = 2).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("w", "x"))
  }

  test("vocabCoverage: exact per-doc OOV counts; full-vocab docs count zero") {
    import spark.implicits._
    val d = Seq((1L, "a b qq"), (2L, "a a"), (3L, "zz yy")).toDF("doc_id", "text")
    val vocab = Seq("a", "b").toDF("token")
    val rows = TextAnalysis.vocabCoverage(d, vocab).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 3L, 1L), (2L, 2L, 0L), (3L, 2L, 2L)))
  }
  // ----------------------------------------------------------- BM25

  test("bm25TopK matches an independent driver-side Okapi reference") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val query = "spark window merge vector"
    val k1 = 1.25; val b = 0.75
    // brute-force reference computed entirely on the driver
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val n = corpus.length
    val avgdl = corpus.map(_._2.length.toLong).sum.toDouble / n
    val qTerms = query.split(" ").distinct
    val dfm = qTerms.map(t => t -> corpus.count(_._2.contains(t)).toLong).toMap
    val expected = corpus.map { case (id, toks) =>
      val score = qTerms.map { t =>
        val tf = toks.count(_ == t)
        if (tf == 0) 0.0
        else {
          val idf = math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5))
          idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * toks.length / avgdl))
        }
      }.sum
      id -> BigDecimal(score).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.filter(_._2 > 0).sortBy { case (id, sc) => (-sc, id) }.take(15)
    val got = TextAnalysis.bm25TopK(docs, query, k = 15)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(got == expected.toSeq)
    assert(got.nonEmpty)
  }
  test("trainingExport: stage consistency and permutation validity") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val out = CorpusCuration.trainingExport(docs, bench,
        seed = 42, epoch = 1, numShards = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.nonEmpty)
    // positions are exactly 0..n-1
    assert(out.map(_._3).sorted.toSeq == (0L until out.length).toSeq)
    // every exported doc survived curation and decontamination
    val curated = CorpusCuration.curate(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dirty = Decontamination.contaminated(docs, bench, n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    out.foreach { case (id, shard, _) =>
      assert(curated.contains(id), s"$id not in curated set")
      assert(!dirty.contains(id), s"$id is contaminated")
      assert(shard >= 0 && shard < 5)
    }
    // no benchmark id is ever exported
    val benchIds = bench.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.map(_._1).toSet.intersect(benchIds).isEmpty)
  }

  test("trainingExport excludes a SHORT benchmark doc that produces no n-grams") {
    import spark.implicits._
    // a 4-token doc makes zero 5-grams, so n-gram decontamination alone
    // cannot flag it — the by-id exclusion must. The text is chosen to
    // SURVIVE curation (all-stopword => lang 'en', quality ≈ 0.71,
    // unique content), so only the id anti-join stands between it and
    // the export
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "source")
      .unionByName(Seq((9100000L, "the and of to", "src0")).toDF("doc_id", "text", "source"))
    val bench = docs.filter(col("doc_id") % 7 === 0) // 9100000 = 7 * 1300000
    assert(bench.filter(col("doc_id") === 9100000L).count() == 1)
    // precondition: the planted doc really does survive curation
    assert(CorpusCuration.curate(docs).filter(col("doc_id") === 9100000L).count() == 1,
      "fixture must survive curation or the test is vacuous")
    val exported = CorpusCuration.trainingExport(docs, bench,
        seed = 42, epoch = 1, numShards = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!exported.contains(9100000L), "short benchmark doc leaked into the export")
  }
  test("bm25TopKBatch with one query equals the single-query path") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val query = "spark window merge vector"
    val single = TextAnalysis.bm25TopK(docs, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = TextAnalysis.bm25TopKBatch(docs,
        Seq((7L, query)).toDF("query_id", "query"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(batch.map(t => (t._2, t._3)) == single)
    assert(batch.forall(_._1 == 7L))
  }
  test("new-operator edges: empty shuffle input, no-match bm25, absent-term idf") {
    import spark.implicits._
    // epochShuffle of an empty frame is an empty frame (no crash on the
    // empty shard-count collect)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Sampling.epochShuffle(empty, 1, 1, 4).count() == 0)
    // bm25 with a query matching nothing returns no rows (not an error)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(TextAnalysis.bm25TopK(docs, "zzzunseen qqqabsent", k = 5).count() == 0)
    // batch variant: a no-match query contributes nothing, others rank
    val batch = TextAnalysis.bm25TopKBatch(docs,
        Seq((1L, "zzzunseen"), (2L, "spark")).toDF("query_id", "query"), k = 5)
      .select("query_id").collect().map(_.getLong(0)).toSet
    assert(batch == Set(2L))
  }

  test("isSoftErrorPage: stop phrases and near-empty shells flag; real content passes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val got = Seq(
      (1L, "a perfectly ordinary article about gardening and soil"),
      (2L, "Oops! Error 404 - Page Not Found"),
      (3L, "THIS DOMAIN MAY BE FOR SALE - inquire within"),
      (4L, "short"),
      (5L, "discussing the 404 not founders club here")) // \b: 'founders' must NOT substring-match 'found'
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextExtraction.isSoftErrorPage(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true, 5L -> false), got)
  }

  test("domainReport: per-host volume, canonical-dup rate, soft-error rate") {
    import spark.implicits._
    val pages = Seq(
      (1L, "https://a.com/x", "long enough genuine content right here"),
      (2L, "https://a.com/x?utm_source=s", "long enough genuine content right here"), // canonical dup
      (3L, "https://a.com/y", "404 not found"),
      (4L, "https://b.com/z", "another perfectly genuine content body"))
      .toDF("doc_id", "url", "text")
    val got = CorpusCuration.domainReport(pages)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got == Map(
      "a.com" -> ((3L, 2L, 1L, 0.333333, 0.333333)),
      "b.com" -> ((1L, 1L, 0L, 0.0, 0.0))), got)
  }

  test("scriptProfile: range counts, letter total, dominance with earlier-range tie priority") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain ascii text"),
      (2L, "x Привет мир"),            // cyrillic outnumbers the one latin char
      (3L, "안녕 hello 你好你好你好"),    // han 6 > latin 5 > hangul 2
      (4L, "")).toDF("doc_id", "text") // all-zero row falls to latin
    val got = TextAnalysis.scriptProfile(docs)
      .select("doc_id", "n_latin", "n_cyrillic", "n_cjk", "n_hangul",
        "n_letters", "dominant_script")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getString(6)))).toMap
    assert(got(1L) == ((14L, 0L, 0L, 0L, 14L, "latin")), got(1L))
    assert(got(2L) == ((1L, 9L, 0L, 0L, 10L, "cyrillic")), got(2L))
    assert(got(3L) == ((5L, 0L, 6L, 2L, 13L, "cjk")), got(3L))
    assert(got(4L) == ((0L, 0L, 0L, 0L, 0L, "latin")), got(4L))
  }

  test("blockedTokenStats: exact token match (not substring), case-folded both sides, repeats counted") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a clean classy document"),       // 'class' must NOT trip on 'classy'
      (2L, "one BAD token here"),            // case-folded hit
      (3L, "bad bad words bad")).toDF("doc_id", "text")
    val words = Seq("bad", "CLASS").toDF("word")
    val got = CorpusCuration.blockedTokenStats(docs, words)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> ((4L, 0L)), 2L -> ((4L, 1L)), 3L -> ((4L, 3L))), got)
  }

  test("filterBlockedTokens: strict C4 rule at maxFrac=0, fraction rule keeps low-density docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "totally clean text"),
      (2L, "one bad token in a fairly long document body here"),
      (3L, "bad bad bad")).toDF("doc_id", "text")
    val words = Seq("bad").toDF("word")
    val strict = CorpusCuration.filterBlockedTokens(docs, words)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strict == Set(1L), strict)
    val frac = CorpusCuration.filterBlockedTokens(docs, words, maxFrac = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(frac == Set(1L, 2L), frac) // 1/10 passes, 3/3 does not
  }
}
