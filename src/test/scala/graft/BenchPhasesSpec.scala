package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Pins the bench-side per-micro-batch marginal accounting: a drained
  * stream must publish `per_batch_s` = mean trigger seconds of data
  * batches AFTER the first (the first carries stream-init/state-store
  * open/codegen — fixed overhead that says nothing about steady state)
  * and `pb_n` = how many batches that mean covers, with the hidden
  * accumulator keys never leaking into the snapshot.
  */
class BenchPhasesSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("drainTimed: 3 one-file batches -> drain phase, per_batch_s over batches 2..n, no hidden keys") {
    import spark.implicits._
    val in = Files.createTempDirectory("bp_in").toString
    val out = Files.createTempDirectory("bp_out").toString
    val cp = Files.createTempDirectory("bp_cp").toString
    // three single-row files; maxFilesPerTrigger=1 => three data batches
    (1 to 3).foreach(i =>
      Seq(i.toLong).toDF("v").coalesce(1).write.mode("append").parquet(in))
    BenchPhases.repStart(spark)
    BenchPhases.drainTimed("spec_row") {
      spark.readStream.schema(spark.read.parquet(in).schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val snap = BenchPhases.repSnapshot("spec_row")
    assert(snap.contains("drain") && snap("drain") > 0)
    assert(snap.contains("per_batch_s"), s"missing per_batch_s in $snap")
    assert(snap("pb_n") == 2.0, s"3 data batches must yield 2 marginal: $snap")
    assert(snap("per_batch_s") > 0 && snap("per_batch_s") < snap("drain"),
      s"marginal mean must be positive and below total drain: $snap")
    assert(snap.contains("per_batch_max_s") &&
      snap("per_batch_max_s") >= snap("per_batch_s"),
      s"worst marginal batch must be >= the mean: $snap")
    assert(!snap.keys.exists(_.startsWith("__")),
      s"hidden accumulator keys leaked: ${snap.keys}")
    // all three rows actually drained
    assert(spark.read.parquet(out).count() == 3)
    // a second drain on the SAME row in the same rep accumulates without
    // re-skipping (the skip is per-rep, not per-stream): one more batch
    Seq(4L).toDF("v").coalesce(1).write.mode("append").parquet(in)
    BenchPhases.drainTimed("spec_row") {
      spark.readStream.schema(spark.read.parquet(in).schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val snap2 = BenchPhases.repSnapshot("spec_row")
    assert(snap2("pb_n") == 3.0, s"restarted stream's batch must accumulate: $snap2")
    // repStart clears everything including the first-batch skip
    BenchPhases.repStart(spark)
    assert(BenchPhases.repSnapshot("spec_row").isEmpty)
  }
}
