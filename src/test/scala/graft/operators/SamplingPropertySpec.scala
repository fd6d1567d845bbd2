package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the sampling bucket contract and the redaction
  * rules. The bucket's documented construction (first 8 hex digits of
  * md5("salt:key"), mod 10^4) is replicated in plain JVM code here and
  * checked against the Spark expression over a generated key set — the
  * invariants (range, determinism, salt independence, split totality)
  * then run property-style on the JVM replica at ScalaCheck volume.
  */
class SamplingPropertySpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import TestBuckets.jvmBucket

  test("spark bucket == jvm replica over 1000 generated keys, several salts") {
    import spark.implicits._
    val keys = (Gen.listOfN(1000, Gen.long).sample.get :+ 0L :+ -1L :+ Long.MaxValue :+ Long.MinValue).distinct
    for (salt <- Seq("split", "strat", "x")) {
      val got = keys.toDF("k")
        .select(col("k"), Sampling.bucket(col("k"), salt).as("b"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      keys.foreach { k =>
        assert(got(k) == jvmBucket(k.toString, salt), s"key=$k salt=$salt")
      }
    }
  }

  test("bucket range and determinism (property)") {
    val p = Prop.forAll(Gen.long, Gen.alphaStr) { (k, salt) =>
      val b = jvmBucket(k.toString, salt)
      b >= 0 && b < Sampling.BucketCount && b == jvmBucket(k.toString, salt)
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p).passed)
  }

  test("salts are independent: split and strat buckets disagree on ~all keys") {
    val keys = Gen.listOfN(2000, Gen.long).sample.get.distinct
    val agree = keys.count(k => jvmBucket(k.toString, "split") == jvmBucket(k.toString, "strat"))
    // expected agreement = n / 10000 ≈ 0.2; anything near n would mean correlation
    assert(agree < keys.length / 100, s"buckets correlated: $agree/${keys.length}")
  }

  test("split totality: any weight vector assigns every bucket exactly one split") {
    val weightsGen = for {
      n <- Gen.choose(1, 5)
      ws <- Gen.listOfN(n, Gen.choose(1, 100))
    } yield {
      val total = ws.sum.toDouble
      ws.zipWithIndex.map { case (w, i) => s"s$i" -> w / total }
    }
    val p = Prop.forAll(weightsGen) { splits =>
      // replicate assignSplits' cumulative CASE on the JVM bucket
      val cums = splits.scanLeft(0.0)(_ + _._2).tail.map(c => math.round(c * Sampling.BucketCount))
      (0 until Sampling.BucketCount).forall { b =>
        val name = splits.init.zip(cums.init).collectFirst {
          case ((s, _), cum) if b < cum => s
        }.getOrElse(splits.last._1)
        splits.exists(_._1 == name)
      }
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p).passed)
  }

  test("sessionize matches an in-memory reference on random event sets (property)") {
    import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
    import spark.implicits._
    val gapS = 100L
    val eventsGen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        subj <- Gen.oneOf("a", "b", "c")
        ts <- Gen.choose(0L, 2000L)
      } yield (subj, ts))
    } yield rows
    def reference(rows: List[(String, Long)]): Set[(String, Long, Long, Long)] =
      rows.groupBy(_._1).flatMap { case (subj, rs) =>
        val ts = rs.map(_._2).sorted
        val sessions = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
          if (t - acc.head.head > gapS) List(t) :: acc
          else (t :: acc.head) :: acc.tail
        }
        sessions.map(s => (subj, s.min * 1000000L, s.max * 1000000L, s.length.toLong))
      }.toSet
    val p = Prop.forAll(eventsGen) { rows =>
      val df = rows.toDF("measurement_subject", "s")
        .select(col("measurement_subject"), timestamp_seconds(col("s")).as("timestamp"))
        .withColumn("measurement_of", lit("click"))
      val got = graft.queries.TimeseriesQueries
        .sessionize(df, "click", 0L, 3000L, gapS)
        .collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      got == reference(rows)
    }
    // fewer cases than pure-JVM properties: each case runs a Spark job
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p).passed)
  }

  test("redaction rules are idempotent and terminal on generated PII text (property)") {
    val emailGen = for {
      u <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
      d <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    } yield s"$u@$d.com"
    val phoneGen = for {
      a <- Gen.choose(100, 999); b <- Gen.choose(100, 999); c <- Gen.choose(1000, 9999)
      sep <- Gen.oneOf("-", ".", " ")
    } yield s"$a$sep$b$sep$c"
    val ipGen = Gen.listOfN(4, Gen.choose(0, 255)).map(_.mkString("."))
    val fillerGen = Gen.listOf(Gen.oneOf(Gen.alphaStr, Gen.const("example.com"),
      Gen.const("1.2"), Gen.const("2024"))).map(_.mkString(" "))
    val textGen = for {
      f1 <- fillerGen; f2 <- fillerGen
      pii <- Gen.oneOf(emailGen, phoneGen, ipGen)
    } yield s"$f1 $pii $f2"

    def applyRules(t: String): String =
      Redaction.DefaultRules.foldLeft(t) { case (s, (_, pat, repl)) => s.replaceAll(pat, repl) }
    def countRules(t: String): Int =
      Redaction.DefaultRules.map { case (_, pat, _) =>
        pat.r.findAllIn(t).length }.sum

    val p = Prop.forAll(textGen) { t =>
      val once = applyRules(t)
      val twice = applyRules(once)
      countRules(t) >= 1 &&      // the planted PII is found
      once == twice &&           // idempotent: replacements are not re-matchable
      countRules(once) == 0      // terminal: nothing left to redact
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p).passed)
  }
  test("capPerStratum == topKPerStratum over (bucket, key); caps bind exactly") {
    import spark.implicits._
    // three strata with sizes straddling the cap: 40, 7 (under), 12
    val rows = ((0 until 40).map(i => (i.toLong, "big")) ++
      (100 until 107).map(i => (i.toLong, "small")) ++
      (200 until 212).map(i => (i.toLong, "mid")))
    val d = rows.toDF("doc_id", "source").repartition(5)
    val capped = Sampling.capPerStratum(d, cap = 10)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // exact counts: min(cap, |stratum|)
    val bySource = capped.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySource == Map("big" -> 10, "small" -> 7, "mid" -> 10))
    // equivalence with the stratum-wide window selection
    val viaWindow = Sampling.topKPerStratum(
        d.withColumn("__b", Sampling.bucket(col("doc_id"), "cap")),
        "source", 10, col("__b"), col("doc_id"))
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(capped.toSeq == viaWindow.toSeq)
    // partition-count independence
    val capped1 = Sampling.capPerStratum(d.repartition(1), cap = 10)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(capped1.toSeq == capped.toSeq)
  }

  test("epochShuffle is a partition-independent permutation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, (Int, Long)] =
      Sampling.epochShuffle(df, seed = 7, epoch = 3, numShards = 5)
        .select("doc_id", "shard", "global_pos")
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val a = run(docs)
    val n = a.size
    // global_pos is exactly 0..n-1 (a permutation, no gaps/dups)
    assert(a.values.map(_._2).toSeq.sorted == (0L until n).toSeq)
    // every shard in range
    assert(a.values.forall { case (s, _) => s >= 0 && s < 5 })
    // identical under a different input partitioning
    assert(run(docs.repartition(13)) == a)
    // identical on a second run (no rand() anywhere)
    assert(run(docs) == a)
  }

  test("different epochs give decorrelated orders from one seed") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pos(epoch: Long): Map[Long, Long] =
      Sampling.epochShuffle(docs, seed = 7, epoch = epoch, numShards = 5)
        .select("doc_id", "global_pos")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e0 = pos(0); val e1 = pos(1)
    val same = e0.keys.count(k => e0(k) == e1(k))
    // expected fixed points of a random permutation ~= 1; near-n means
    // the epoch failed to enter the hash preimage
    assert(same < e0.size / 10, s"epochs correlated: $same/${e0.size} fixed points")
  }

  test("shardManifest: checksum detects a dropped doc; stable under repartition") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exported = Sampling.epochShuffle(docs, seed = 7, epoch = 3, numShards = 5)
      .select("doc_id", "shard", "global_pos").localCheckpoint(true)
    def manifest(e: org.apache.spark.sql.DataFrame) =
      Sampling.shardManifest(e, docs).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(5)))).toMap
    val full = manifest(exported)
    assert(full.keySet == (0 to 4).toSet)
    // drop one document from one shard: that shard's count AND checksum
    // change, the others are untouched
    val someDoc = exported.limit(1).collect()(0)
    val (dropId, dropShard) = (someDoc.getLong(0), someDoc.getInt(1))
    val damaged = manifest(exported.filter(col("doc_id") =!= dropId))
    assert(damaged(dropShard)._1 == full(dropShard)._1 - 1)
    assert(damaged(dropShard)._3 != full(dropShard)._3,
      "checksum must change when a doc is dropped")
    (0 to 4).filter(_ != dropShard).foreach(s => assert(damaged(s) == full(s)))
    // order/partitioning independent
    assert(manifest(exported.repartition(11)) == full)
  }

  test("weighted-sample state: micro-batched merges equal the one-shot draw; fail-loudly without props") {
    import spark.implicits._
    val docs = (1L to 60L).map(i => (i, (i % 7 + 1).toDouble)).toDF("doc_id", "w")
    try {
      Sampling.writeWeightedSampleState(docs.filter(lit(false)), "ws_state", "w", k = 10)
      Seq(0, 1, 2).foreach { s =>
        Sampling.mergeIntoWeightedSample(docs.filter(col("doc_id") % 3 === s), "ws_state")
      }
      // the state stores the RAW key; quantize at read like the serve path
      val streamed = spark.table("ws_state")
        .select(col("doc_id"), round(col("es_key"), 6).as("es_key")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      val oneShot = Sampling.weightedSample(docs, "w", k = 10)
        .select("doc_id", "es_key").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(streamed == oneShot, s"streamed $streamed vs one-shot $oneShot")
      spark.table("ws_state").write.mode("overwrite").saveAsTable("ws_noprops")
      intercept[IllegalArgumentException] {
        Sampling.mergeIntoWeightedSample(docs, "ws_noprops")
      }
      // a BATCH whose key column drifted from the seed's LongType (e.g.
      // a re-staged source narrowing doc_id to int) must fail the guard
      // per batch, not a ClassCastException inside the driver merge
      val intKeyed = docs.withColumn("doc_id", col("doc_id").cast("int"))
      val ex = intercept[IllegalArgumentException] {
        Sampling.mergeIntoWeightedSample(intKeyed, "ws_state")
      }
      assert(ex.getMessage.contains("LongType"), ex.getMessage)
    } finally {
      Seq("ws_state", "ws_noprops").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("weighted-sample state seeded with a quoted salt merges like the one-shot draw") {
    import spark.implicits._
    val docs = (1L to 60L).map(i => (i, (i % 7 + 1).toDouble)).toDF("doc_id", "w")
    try {
      Sampling.writeWeightedSampleState(docs.filter(lit(false)), "ws_quoted", "w", k = 10,
        salt = "o'brien")
      Sampling.mergeIntoWeightedSample(docs, "ws_quoted")
      val merged = spark.table("ws_quoted")
        .select(col("doc_id"), round(col("es_key"), 6).as("es_key")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      val oneShot = Sampling.weightedSample(docs, "w", k = 10, salt = "o'brien")
        .select("doc_id", "es_key").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(merged == oneShot, s"merged $merged vs one-shot $oneShot")
    } finally spark.sql("DROP TABLE IF EXISTS ws_quoted")
  }

  test("weightedSample: dominant weight always wins, non-positive weights excluded, partitioning-invariant") {
    import spark.implicits._
    val docs = ((1L to 50L).map(i => (i, 1.0)) :+ (99L, 1e9) :+ (100L, 0.0) :+ (101L, -3.0))
      .toDF("doc_id", "w")
    val picked = Sampling.weightedSample(docs, "w", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // ln(u)/1e9 ≈ 0 dominates every unit-weight key (ln(u) ≤ ~-1e-18 is
    // impossible to overcome at w=1): the heavy doc is always in the top-10
    assert(picked.contains(99L), s"dominant-weight doc missing from $picked")
    assert(!picked.contains(100L) && !picked.contains(101L),
      "non-positive weights can never be drawn")
    assert(picked.size == 10)
    // selection is a pure function of (salt, key, weight) — partitioning
    // cannot change it
    val repart = Sampling.weightedSample(docs.repartition(7), "w", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(repart == picked)
    // a different salt draws a different unit-weight subset (but the
    // dominant doc still wins)
    val other = Sampling.weightedSample(docs, "w", k = 10, salt = "other")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(other.contains(99L) && other != picked)
  }

  test("weightedSample draws proportionally to weight (frequency property over 300 salts)") {
    import spark.implicits._
    // two-point weight distribution: doc ids 1..30 at weight 2, 31..90 at
    // weight 1 — total weight 60+60, so a single draw (k=1) should pick a
    // heavy doc ~half the time. 300 independent deterministic draws
    // (distinct salts = independent md5 families); the pre-fix rounded-key
    // selection degenerates to "lowest id wins" and fails this hard
    // (heavy docs are ids 1..30, so it would pick heavy ~100% of salts).
    // ONE Spark job for all 300 draws (not 300 sequential actions — that
    // cost tens of seconds of pure job-scheduling overhead): each trial
    // becomes a STRATUM of weightedSamplePerStratum with a composite
    // trial-scoped key string, so every (trial, doc) gets an independent
    // md5 draw and the per-stratum k=1 winner IS that trial's single
    // weighted draw. The per-stratum face shares topKRaw/withRawKey with
    // weightedSample (asserted by the kernel-sharing test below), so the
    // distribution contract exercised is the same.
    val docs = ((1L to 30L).map(i => (i, 2.0)) ++ (31L to 90L).map(i => (i, 1.0)))
      .toDF("doc_id", "w")
    val trials = (1 to 300).map(s => s"prop$s").toDF("trial")
    val crossed = docs.crossJoin(trials)
      .withColumn("tkey", concat_ws(":", col("trial"), col("doc_id")))
    val winners = Sampling.weightedSamplePerStratum(
        crossed, "w", k = 1, stratum = "trial", key = "tkey")
      .select("tkey", "w").collect()
    assert(winners.length == 300)
    val wins = winners.map(_.getString(0).split(":")(1).toLong).toSeq
    val heavy = winners.count(_.getDouble(1) == 2.0)
    // Binomial(300, 0.5): mean 150, sd ~8.7 — ±4 sd = [115, 185]. The
    // draw is deterministic (fixed salts), so this never flakes; it
    // documents the distribution contract and catches any future
    // quantize-before-select regression (which lands at 300/300).
    assert(heavy >= 115 && heavy <= 185,
      s"heavy-weight docs won $heavy/300 single draws; expected ~150")
    // distinct salts decorrelate: the winning doc is not constant
    assert(wins.distinct.size > 30, s"only ${wins.distinct.size} distinct winners")
  }

  test("weightedSample distribution: chi-square fit at 10^4 draws (class and per-doc)") {
    import spark.implicits._
    // Quantitative upgrade of the frequency property above (r9 verdict
    // #7): Efraimidis–Spirakis single draws pick doc i with probability
    // EXACTLY w_i/Σw, so 10^4 independent deterministic draws (distinct
    // salts = independent md5 families, one Spark job via the stratum
    // trick) must fit that distribution under chi-square. Three weight
    // classes, ids 1..10 at w=4, 11..20 at w=2, 21..30 at w=1 ⇒ class
    // win probabilities 4/7, 2/7, 1/7.
    val docs = ((1L to 10L).map(i => (i, 4.0)) ++ (11L to 20L).map(i => (i, 2.0)) ++
      (21L to 30L).map(i => (i, 1.0))).toDF("doc_id", "w")
    val n = 10000
    val trials = (1 to n).map(s => s"x2s$s").toDF("trial")
    val crossed = docs.crossJoin(trials)
      .withColumn("tkey", concat_ws(":", col("trial"), col("doc_id")))
    val winners = Sampling.weightedSamplePerStratum(
        crossed, "w", k = 1, stratum = "trial", key = "tkey")
      .select("tkey").collect()
      .map(_.getString(0).split(":")(1).toLong)
    assert(winners.length == n)
    val byDoc = winners.groupBy(identity).view.mapValues(_.length.toDouble).toMap
    def chi2(cells: Seq[(Double, Double)]): Double =
      cells.map { case (obs, exp) => (obs - exp) * (obs - exp) / exp }.sum
    // class-level fit: df=2, p>0.01 ⇔ chi2 < 9.21. A regression to
    // tie-class collapse ("lowest ids win") puts all 10^4 wins in the
    // heavy class (chi2 ≈ 7500) and fails by orders of magnitude; the
    // draw is deterministic (fixed salts), so the test never flakes.
    val classObs = Seq(
      (1L to 10L).map(d => byDoc.getOrElse(d, 0.0)).sum -> n * 4.0 / 7,
      (11L to 20L).map(d => byDoc.getOrElse(d, 0.0)).sum -> n * 2.0 / 7,
      (21L to 30L).map(d => byDoc.getOrElse(d, 0.0)).sum -> n * 1.0 / 7)
    val classChi2 = chi2(classObs)
    assert(classChi2 < 9.21,
      s"class-level chi-square $classChi2 exceeds the df=2, p=0.01 bound (9.21): $classObs")
    // per-doc fit inside the same draws: df=29, p>0.01 ⇔ chi2 < 49.59 —
    // catches within-class skew (e.g. a key construction that correlates
    // adjacent ids) that the 3-cell test can't see
    val perDoc = (1L to 30L).map { d =>
      val w = if (d <= 10) 4.0 else if (d <= 20) 2.0 else 1.0
      byDoc.getOrElse(d, 0.0) -> n * w / 70.0
    }
    val docChi2 = chi2(perDoc)
    assert(docChi2 < 49.59,
      s"per-doc chi-square $docChi2 exceeds the df=29, p=0.01 bound (49.59)")
  }

  test("weightedSample selects on the raw key: large uniform weights don't degenerate to lowest ids") {
    import spark.implicits._
    // w = 10^7 for every doc ⇒ every ln(u)/w lands within 4·10⁻⁶ of 0, so
    // a selection on the 6 dp ROUNDED key collapses into one tie class
    // broken by ascending doc_id — "the 10 lowest ids win". The fixed
    // selection orders on the raw key, i.e. a uniform md5 draw here.
    val docs = (1L to 200L).map(i => (i, 1e7)).toDF("doc_id", "w")
    val picked = Sampling.weightedSample(docs, "w", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(picked != (1L to 10L).toSet,
      s"selection degenerated to the lowest doc_ids: $picked")
    // per-stratum face shares the kernel — same non-degeneracy contract
    val strat = Sampling.weightedSamplePerStratum(
        docs.withColumn("source", lit("a")), "w", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strat == picked, "stratified face must share the global kernel's draw")
  }
}
