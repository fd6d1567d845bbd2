package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class QualityModelsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def toyCorpus = {
    import spark.implicits._
    // pos dialect: {good clean fine}, neg dialect: {spam junk noise},
    // "the" is shared so both classes carry it
    Seq(
      (0L, "good clean fine the", true),
      (1L, "good good clean the", true),
      (2L, "fine clean good the", true),
      (3L, "spam junk noise the", false),
      (4L, "junk junk spam the", false),
      (5L, "noise spam junk the", false)
    ).toDF("doc_id", "text", "pos")
  }

  test("NB classifier separates the two planted dialects on held-out docs") {
    import spark.implicits._
    val train = toyCorpus
    val eval = Seq(
      (10L, "good clean good fine"),   // pure pos dialect
      (11L, "junk noise spam junk"),   // pure neg dialect
      (12L, "good spam")               // mixed: one token each side
    ).toDF("doc_id", "text")
    val out = QualityModels.nbQualityScores(train, eval, col("pos"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(out(10L)._1 > 0 && out(10L)._2, s"pos dialect should score > 0: $out")
    assert(out(11L)._1 < 0 && !out(11L)._2, s"neg dialect should score < 0: $out")
    // mixed doc: symmetric token evidence cancels, prior = ln(4/4) = 0
    assert(math.abs(out(12L)._1) < 0.5, s"mixed doc should sit near 0: $out")
  }

  test("NB: hand-computed score for a single-token held-out doc") {
    import spark.implicits._
    val train = toyCorpus
    val eval = Seq((20L, "good")).toDF("doc_id", "text")
    // train: cp(good)=4, cn(good)=0; np=12, nn=12, V=7; dp=dn=3
    val expected = BigDecimal(
      math.log(5.0 / 19) - math.log(1.0 / 19))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = QualityModels.nbQualityScores(train, eval, col("pos"))
      .collect().head.getDouble(1)
    assert(got == expected, s"got $got expected $expected")
  }

  test("NB: OOV-only doc gets exactly the smoothed-zero score") {
    import spark.implicits._
    val train = toyCorpus
    val eval = Seq((30L, "zzz qqq")).toDF("doc_id", "text")
    // each OOV token contributes ln(1/19) - ln(1/19) = 0; prior = 0
    val got = QualityModels.nbQualityScores(train, eval, col("pos"))
      .collect().head.getDouble(1)
    assert(got == 0.0, s"OOV-only doc should score prior-only 0: $got")
  }

  test("persisted model scores bit-identically to direct training-time scoring") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val eval = docs.filter(col("doc_id") % 5 === 0)
    val direct = QualityModels.nbQualityScores(train, eval, col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    QualityModels.writeNbModel(train, col("lang") === "en", "nb_spec_model")
    val served = QualityModels.scoreAgainstModel(eval, "nb_spec_model")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    assert(served == direct, "model table + scalars must be sufficient statistics")
  }

  test("scoreAgainstModel refuses a table not written by writeNbModel") {
    import spark.implicits._
    graft.util.IndexTable.drop(spark, "nb_spec_bogus")
    Seq(("x", 0.5)).toDF("t", "w").write.mode("overwrite")
      .saveAsTable("nb_spec_bogus")
    val e = intercept[IllegalArgumentException] {
      QualityModels.scoreAgainstModel(
        Seq((1L, "x")).toDF("doc_id", "text"), "nb_spec_bogus")
    }
    assert(e.getMessage.contains("graft.prior"))
  }

  test("DSIR ranks target-dialect docs above off-target docs") {
    import spark.implicits._
    // target = docs speaking {alpha beta}; raw corpus adds {gamma delta}
    val docs = Seq(
      (0L, "alpha beta alpha beta", true),
      (1L, "beta alpha beta alpha", true),
      (2L, "gamma delta gamma delta", false),
      (3L, "delta gamma delta gamma", false),
      (4L, "alpha beta gamma delta", false) // half-target candidate
    ).toDF("doc_id", "text", "tgt")
    val w = QualityModels.dsirWeights(docs, col("tgt"), topN = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w(0L) > w(4L) && w(1L) > w(4L),
      s"pure target dialect must outweigh the mixed doc: $w")
    assert(w(4L) > w(2L) && w(4L) > w(3L),
      s"mixed doc must outweigh pure off-target docs: $w")
  }

  test("DSIR topN selection is deterministic and ordered (weight desc, id asc)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = QualityModels.dsirWeights(docs, col("lang") === "en", topN = 20).collect()
    val b = QualityModels.dsirWeights(docs.repartition(7), col("lang") === "en",
      topN = 20).collect()
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq,
      "selection must be partitioning-independent")
    val pairs = a.map(r => (r.getDouble(1), r.getLong(0)))
    assert(pairs.sliding(2).forall { case Array((w1, i1), (w2, i2)) =>
      w1 > w2 || (w1 == w2 && i1 < i2) },
      s"output must be (weight desc, id asc) ordered: ${pairs.toSeq}")
  }

  test("approx_percentile exact path picks the rank-ceil(p*n) element (the ccnet-approx determinism pin)") {
    import spark.implicits._
    // DuckDB quantile_disc selects the 1-based rank ceil(p*n) element
    // (probed directly); the q_ccnet_approx oracle is only sound if
    // Spark's exact path (n <= accuracy) picks the same element at
    // p = 1/3 and 2/3, not just the 0.5 the Hampel tier validated
    for (n <- 2 to 10) {
      val df = (1 to n).map(_.toDouble).toDF("x")
      val Seq(t1, t2, med) = df.selectExpr(
        s"approx_percentile(x, array(${1.0 / 3}D, ${2.0 / 3}D, 0.5D), 10000) AS t")
        .head().getSeq[Double](0).toSeq
      assert(t1 == math.ceil(n / 3.0).toInt.toDouble, s"n=$n p=1/3: got $t1")
      assert(t2 == math.ceil(n * (2.0 / 3)).toInt.toDouble, s"n=$n p=2/3: got $t2")
      assert(med == math.ceil(n * 0.5).toInt.toDouble, s"n=$n p=1/2: got $med")
    }
  }

  test("ccnetBucketsApprox: thresholds reproduce near-thirds and agree with exact on clear splits") {
    import spark.implicits._
    val ref = Seq((100L, "the cat sat on the mat the cat sat"))
      .toDF("doc_id", "text")
    // six docs engineered to six DISTINCT nll values (pure-OOV docs all
    // tie at ln(V), so each doc mixes known/unknown bigrams differently)
    val corpus = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the cat sat", "en"),
      (3L, "the cat box on", "en"),
      (4L, "the wobble the zap", "en"),
      (5L, "the blorp fnord xyzzy", "en"),
      (6L, "zig zag zog quux", "en")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.ccnetBucketsApprox(corpus, ref)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getString(3)))
    assert(out.map(_._2).distinct.length == 6,
      s"corpus must yield distinct nll values: ${out.toSeq}")
    // threshold assignment is monotone in nll
    val order = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    val sorted = out.sortBy(r => (r._2, r._1))
    assert(sorted.map(r => order(r._3)).sliding(2).forall(p => p.head <= p.last),
      s"buckets must be monotone in nll: ${sorted.toSeq}")
    // distinct values + n divisible by 3 → exact thirds (t1 = rank 2,
    // t2 = rank 4 elements)
    assert(out.count(_._3 == "head") == 2 && out.count(_._3 == "middle") == 2 &&
      out.count(_._3 == "tail") == 2, s"expected 2/2/2: ${out.toSeq}")
    assert(sorted.head._3 == "head" && sorted.last._3 == "tail")
  }

  test("ccnetBucketsApprox: threshold ties all land on the lower bucket (documented contract)") {
    import spark.implicits._
    val ref = Seq((100L, "the cat sat on the mat the cat sat"))
      .toDF("doc_id", "text")
    // docs 4-6 are pure-OOV → identical nll = the t2 element → all middle
    val corpus = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the cat sat", "en"),
      (3L, "the cat box on", "en"),
      (4L, "zig zag zog quux", "en"),
      (5L, "blorp fnord xyzzy grue", "en"),
      (6L, "wibble wobble wubble zap", "en")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.ccnetBucketsApprox(corpus, ref)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(Seq(4L, 5L, 6L).forall(out(_) == "middle"),
      s"tied boundary docs must land on the lower bucket: $out")
    assert(out.values.count(_ == "tail") == 0)
  }

  test("ccnetBuckets: per-language thirds, head holds the lowest-nll docs") {
    import spark.implicits._
    // ref defines the LM; corpus docs range from pure-ref bigrams (low
    // nll) to pure-OOV gibberish (high nll); a second language checks
    // the per-lang partition
    val ref = Seq((100L, "the cat sat on the mat the cat sat"))
      .toDF("doc_id", "text").withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    val corpus = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the cat sat", "en"),
      (3L, "the cat box on", "en"),
      (4L, "zig zag zog quux", "en"),
      (5L, "blorp fnord xyzzy grue", "en"),
      (6L, "wibble wobble wubble zap", "en"),
      (7L, "mixed the cat gibberish here", "en"),
      (11L, "der hund und die katze", "de"),
      (12L, "die katze und der hund", "de")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.ccnetBuckets(corpus, ref)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    val en = out.filter(_._2 == "en")
    assert(en.count(_._4 == "head") == 3 && en.count(_._4 == "middle") == 2 &&
      en.count(_._4 == "tail") == 2, s"ntile(3) of 7 must split 3/2/2: ${en.toSeq}")
    // bucket assignment must be monotone in (nll, doc_id)
    val order = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    val sortedEn = en.sortBy(r => (r._3, r._1))
    assert(sortedEn.map(r => order(r._4)).sliding(2).forall(p => p.head <= p.last),
      s"buckets must be monotone in nll order: ${sortedEn.toSeq}")
    // the pure-ref doc is in head; pure-gibberish docs are not
    assert(en.find(_._1 == 1L).get._4 == "head")
    assert(Set("middle", "tail").contains(en.find(_._1 == 5L).get._4))
    val de = out.filter(_._2 == "de")
    assert(de.count(_._4 == "head") == 1 && de.count(_._4 == "middle") == 1,
      s"ntile(3) of 2 must split 1/1/0: ${de.toSeq}")
  }
}
