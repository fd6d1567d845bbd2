package graft.util

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Pins the size-derived index-bucket policy (r16 optimization):
  * buckets = ceil(estimated bytes / target) floored at 1 and clamped
  * to `spark.sql.sources.bucketing.maxBuckets`, target
  * defaulting to 128MB with `graft.index.targetBucketBytes` override,
  * `graft.index.buckets` forced verbatim, explicit writer parameters
  * untouched — and the resolved count rides the table properties so
  * appends stay co-bucketed with the seed write.
  */
class IndexBucketsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("explicit counts pass through; Auto derives >= 1 from the plan estimate") {
    import spark.implicits._
    val df = Seq(1L, 2L, 3L).toDF("v")
    assert(IndexBuckets.resolve(df, 7) == 7)
    // a 3-row local frame is far under one 128MB target -> 1 bucket
    assert(IndexBuckets.resolve(df, IndexBuckets.Auto) == 1)
    intercept[IllegalArgumentException](IndexBuckets.resolve(df, -2))
  }

  test("derivation scales with the frame size against the byte target") {
    import spark.implicits._
    // a parquet-backed frame so the estimate comes from real file bytes
    val dir = Files.createTempDirectory("ib_scale").toString + "/data"
    (1L to 5000L).toDF("v").coalesce(1).write.parquet(dir)
    val onDisk = spark.read.parquet(dir)
    spark.conf.set(IndexBuckets.TargetBytesKey, "1024")
    try {
      val n = IndexBuckets.resolve(onDisk, IndexBuckets.Auto)
      // ~40KB of parquet at a 1KB target: the exact estimate is Spark's,
      // but it must be well above 1 and monotone in the target
      assert(n > 1, s"expected >1 bucket at a 1KB target, got $n")
      spark.conf.set(IndexBuckets.TargetBytesKey, "128MB")
      assert(IndexBuckets.resolve(onDisk, IndexBuckets.Auto) == 1)
    } finally spark.conf.unset(IndexBuckets.TargetBytesKey)
  }

  test("a derived count clamps to spark.sql.sources.bucketing.maxBuckets and writes") {
    import spark.implicits._
    // a 1-byte target derives one bucket per estimated byte, far above 50
    val df = (1L to 1000L).toDF("v")
    spark.conf.set("spark.sql.sources.bucketing.maxBuckets", "50")
    spark.conf.set(IndexBuckets.TargetBytesKey, "1")
    try {
      val n = IndexBuckets.resolve(df, IndexBuckets.Auto)
      assert(n == 50)
      df.write.format("parquet").bucketBy(n, "v").mode("overwrite").saveAsTable("ib_clamp")
      assert(spark.table("ib_clamp").count() == 1000L)
      spark.sql("DROP TABLE ib_clamp")
    } finally {
      spark.conf.unset(IndexBuckets.TargetBytesKey)
      spark.conf.unset("spark.sql.sources.bucketing.maxBuckets")
    }
  }

  test("forced override wins verbatim and is validated naming the key") {
    import spark.implicits._
    val df = Seq(1L).toDF("v")
    try {
      spark.conf.set(IndexBuckets.ForcedKey, "9")
      assert(IndexBuckets.resolve(df, IndexBuckets.Auto) == 9)
      // explicit parameter still beats the conf (tests pin geometry)
      assert(IndexBuckets.resolve(df, 4) == 4)
      spark.conf.set(IndexBuckets.ForcedKey, "many")
      val e = intercept[IllegalArgumentException](
        IndexBuckets.resolve(df, IndexBuckets.Auto))
      assert(e.getMessage.contains(IndexBuckets.ForcedKey))
      spark.conf.set(IndexBuckets.ForcedKey, "0")
      val e2 = intercept[IllegalArgumentException](
        IndexBuckets.resolve(df, IndexBuckets.Auto))
      assert(e2.getMessage.contains(IndexBuckets.ForcedKey))
    } finally spark.conf.unset(IndexBuckets.ForcedKey)
  }

  test("a default write records the derived count and appends reuse it") {
    import spark.implicits._
    val docs = Seq((1L, "alpha\nbeta"), (2L, "beta\ngamma"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeLineIndex(docs, "ib_line_idx")
    val props = spark.sql("SHOW TBLPROPERTIES ib_line_idx").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.buckets") == "1")
    // the append path reads the recorded count (no drift with the seed)
    graft.operators.Dedup.appendToLineIndex(
      Seq("delta").toDF("line"), "ib_line_idx")
    val lines = spark.table("ib_line_idx").as[String].collect().toSet
    assert(lines == Set("alpha", "beta", "gamma", "delta"))
    spark.sql("DROP TABLE ib_line_idx")
  }
}
