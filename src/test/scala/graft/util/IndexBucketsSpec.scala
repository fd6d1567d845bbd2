package graft.util

import graft.operators.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Pins the size-derived index-bucket policy (r16 optimization):
  * buckets = ceil(estimated bytes / target) floored at 1 and clamped
  * to `spark.sql.sources.bucketing.maxBuckets`, target
  * defaulting to 128MB with `graft.index.targetBucketBytes` override,
  * `graft.index.buckets` forced verbatim, explicit writer parameters
  * untouched — and the resolved count rides the table properties so
  * appends stay co-bucketed with the seed write. At two corpus volumes
  * the derived count grows with the data, and a co-partitioned probe
  * reads the index one task per bucket with no index-side exchange.
  */
class IndexBucketsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

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

  /** The task count of every stage that scans `table` while `body` runs.
    * Listener events arrive asynchronously on one queue, so a tagged
    * marker job run after `body` flushes the ones before it.
    */
  private def indexScanStageTasks(table: String)(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val scanScope = s"Scan parquet spark_catalog.default.$table"
    val fenceKey = "graft.spec.fence"
    val tasks = new ConcurrentLinkedQueue[Int]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.scope.exists(_.name == scanScope)))
          tasks.add(e.stageInfo.numTasks)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(fenceKey) != null)) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(fenceKey, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(fenceKey, null)
      assert(fenced.await(60, TimeUnit.SECONDS), "the fence never reached the listener")
    } finally sc.removeSparkListener(listener)
    tasks.asScala.toSeq
  }

  test("a signature index derives more buckets at 10x the documents; its probe scans one task per bucket, no index-side Exchange") {
    // sf0.001 and sf0.1 documents: 500 and 5,000 rows
    val volumes = Seq("sf0.001", "sf0.1")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(IndexBuckets.TargetBytesKey, "4KB")
    // a broadcast would hide the co-partitioned join this pins
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val buckets = volumes.map { sf =>
        val table = s"ib_sig_${sf.replace(".", "_")}"
        val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        Dedup.writeSignatureIndex(docs, table)
        val n = IndexTable.prop(spark, table, "graft.buckets", "writeSignatureIndex").toInt
        def isIndex(p: SparkPlan) = p match {
          case s: FileSourceScanExec => s.tableIdentifier.exists(_.table == table)
          case _ => false
        }
        // a tenth of the corpus as the new batch: each batch doc is its own near-dup
        val probe = Dedup.minhashPairsAgainstIndex(docs.filter(col("doc_id") % 10 === 0),
          spark.table(table), docs, materialize = false, validateBands = false)
        var pairs = 0L
        val stageTasks = indexScanStageTasks(table) { pairs = probe.collect().length.toLong }
        assert(pairs > 0, sf)
        assert(stageTasks.nonEmpty && stageTasks.forall(_ == n),
          s"$sf: stages scanning $table ran $stageTasks tasks, graft.buckets = $n")
        val plan = probe.queryExecution.executedPlan
        val scans = collect(plan) { case s: FileSourceScanExec if isIndex(s) => s }
        assert(scans.nonEmpty && scans.forall(_.bucketedScan), s"$sf\n$plan")
        // a stage boundary is an Exchange or (once AQE ran) a query stage
        val indexSides = collect(plan) { case j: SortMergeJoinExec => j.children }.flatten
          .filter(_.find(isIndex).isDefined)
        assert(indexSides.size == scans.size, s"$sf: an index scan feeds no join directly\n$plan")
        indexSides.foreach(side => assert(side.find {
          case _: Exchange | _: QueryStageExec => true
          case _ => false
        }.isEmpty, s"$sf: Exchange on the index side\n$side"))
        IndexTable.drop(spark, table)
        n
      }
      info(s"derived graft.buckets at ${volumes.mkString(", ")}: ${buckets.mkString(", ")}")
      assert(buckets.head > 1 && buckets(1) > buckets.head,
        s"derived buckets at ${volumes.mkString(", ")}: ${buckets.mkString(", ")}")
    } finally {
      spark.conf.unset(IndexBuckets.TargetBytesKey)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }
}
