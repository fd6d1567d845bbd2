package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class IncrementalVocabSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("build + append serves exactly the full-corpus vocabulary") {
    try {
      TextAnalysis.writeVocabIndex(docs.filter(col("doc_id") % 3 === 0), "vocab_spec_idx")
      TextAnalysis.appendToVocabIndex(docs.filter(col("doc_id") % 3 === 1), "vocab_spec_idx")
      TextAnalysis.appendToVocabIndex(docs.filter(col("doc_id") % 3 === 2), "vocab_spec_idx")
      val served = TextAnalysis.vocabFromIndex(spark, "vocab_spec_idx", k = 50)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val direct = TextAnalysis.vocabulary(docs, k = 50)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(served == direct, "three-slice merge must equal one-shot computation")
    } finally graft.util.IndexTable.drop(spark, "vocab_spec_idx")
  }

  test("compaction folds append partials without changing served results") {
    try {
      TextAnalysis.writeVocabIndex(docs.filter(col("doc_id") % 2 === 0), "vocab_cpt_idx")
      TextAnalysis.appendToVocabIndex(docs.filter(col("doc_id") % 2 === 1), "vocab_cpt_idx")
      val before = TextAnalysis.vocabFromIndex(spark, "vocab_cpt_idx", 50)
        .collect().map(_.toSeq).toSeq
      val rowsBefore = spark.table("vocab_cpt_idx").count()
      TextAnalysis.compactVocabIndex(spark, "vocab_cpt_idx")
      val after = TextAnalysis.vocabFromIndex(spark, "vocab_cpt_idx", 50)
        .collect().map(_.toSeq).toSeq
      assert(after == before, "compaction must be invisible to readers")
      val rowsAfter = spark.table("vocab_cpt_idx").count()
      assert(rowsAfter < rowsBefore,
        s"compaction must fold duplicate token partials: $rowsBefore -> $rowsAfter")
    } finally graft.util.IndexTable.drop(spark, "vocab_cpt_idx")
  }

  test("hashEmbed vectors are unit-norm, deterministic, and ANN-compatible") {
    import spark.implicits._
    val emb = TextAnalysis.hashEmbed(docs, dim = 32)
    val norms = emb.as[(Long, Seq[Float])].collect().map { case (_, v) =>
      math.sqrt(v.map(x => x.toDouble * x).sum)
    }
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-6 || n == 0.0),
      s"non-unit norms: ${norms.filter(n => math.abs(n - 1.0) >= 1e-6 && n != 0).take(3).toSeq}")
    val again = TextAnalysis.hashEmbed(docs.repartition(7), dim = 32)
      .as[(Long, Seq[Float])].collect().toMap
    val first = emb.as[(Long, Seq[Float])].collect().toMap
    assert(first == again, "hash embedding must be partitioning-independent")
    // ANN-compat: a duplicated text maps to an identical vector, so the
    // embedding-cosine near-dup machinery finds text near-dups for free
    val dupPair = Ann.topK(
      emb.withColumnRenamed("doc_id", "vec_id"),
      queryId = first.keys.min, k = 2).collect()
    assert(dupPair.length == 2)
  }

  test("hashEmbed: identical texts get identical vectors; disjoint texts are orthogonal-ish") {
    import spark.implicits._
    val d = Seq((0L, "alpha beta gamma"), (1L, "alpha beta gamma"),
      (2L, "delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val vs = TextAnalysis.hashEmbed(d, dim = 32).as[(Long, Seq[Float])]
      .collect().toMap
    assert(vs(0L) == vs(1L))
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    assert(cos(vs(0L), vs(1L)) > 0.999999)
    assert(math.abs(cos(vs(0L), vs(2L))) < 0.8,
      "token-disjoint docs should not be near-identical under hashing")
  }
}
