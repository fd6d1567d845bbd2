package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class BenchSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("an always-throwing query produces no timing number (None, not fast-fail time)") {
    val t = Bench.timeQuery(spark, "boom",
      (_, _) => throw new RuntimeException("injected"), "unused", reps = 2)
    assert(t.best.isEmpty)
    assert(t.rows == -1L)
    assert(t.phases.isEmpty)
    assert(t.metrics.isEmpty)
  }

  test("a succeeding query reports min-of-reps and its row count") {
    import spark.implicits._
    val t = Bench.timeQuery(spark, "ok",
      (s, _) => { import s.implicits._; Seq(1, 2, 3).toDF("x") }, "unused", reps = 2)
    assert(t.best.exists(_ > 0.0))
    assert(t.rows == 3L)
  }

  test("phase breakdown comes from the rep that won the min and sums per rep") {
    val t = Bench.timeQuery(spark, "phased",
      (s, _) => {
        import s.implicits._
        // two timed calls per rep must ACCUMULATE, not min
        BenchPhases.timed("phased", "build")(Thread.sleep(5))
        BenchPhases.timed("phased", "build")(Thread.sleep(5))
        Seq(1).toDF("x")
      }, "unused", reps = 2)
    assert(t.best.nonEmpty)
    assert(t.phases.keySet == Set("build"))
    assert(t.phases("build") >= 0.010, s"two 5ms sleeps must sum: ${t.phases("build")}")
    assert(t.phases("build") < t.best.get)
  }

  test("metrics are per row: three extra jobs read exactly 3 more jobs and 6 more tasks") {
    def row(extra: Int): BenchPhases.RowMetrics =
      Bench.timeQuery(spark, s"extra_$extra", (s, _) => {
        (1 to extra).foreach(_ => s.sparkContext.parallelize(1 to 4, 2).count())
        s.range(4).toDF()
      }, "unused", reps = 2).metrics.getOrElse(fail(s"extra_$extra carried no metrics"))
    val base = row(0)
    val more = row(3)
    assert(more.counters("jobs") - base.counters("jobs") == 3.0, s"$base vs $more")
    assert(more.counters("tasks") - base.counters("tasks") == 6.0, s"$base vs $more")
    assert(more.counters("stages") - base.counters("stages") == 3.0, s"$base vs $more")
    assert(base.batchMs.isEmpty && !base.counters.contains("jobs_per_batch"))
    Seq("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
      "spill_bytes", "executor_run_s").foreach(k => assert(base.counters.contains(k), k))
  }

  test("a drained stream row breaks per_batch_s into batch_ms and counts jobs per batch") {
    val t = Bench.timeQuery(spark, "stream_row", (s, _) => {
      import s.implicits._
      val in = Files.createTempDirectory("bs_in").toString
      val out = Files.createTempDirectory("bs_out").toString
      val cp = Files.createTempDirectory("bs_cp").toString
      // three single-row files; maxFilesPerTrigger=1 => three data batches
      (1 to 3).foreach(i =>
        Seq(i.toLong).toDF("v").coalesce(1).write.mode("append").parquet(in))
      BenchPhases.drainTimed("stream_row") {
        s.readStream.schema(s.read.parquet(in).schema)
          .option("maxFilesPerTrigger", 1).parquet(in)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow())
          .start()
      }
      s.read.parquet(out)
    }, "unused", reps = 2)
    assert(t.rows == 3L)
    val m = t.metrics.getOrElse(fail("a timed stream row must carry metrics"))
    assert(m.batchMs.keySet == BenchPhases.BatchParts.toSet, s"batch_ms keys: ${m.batchMs}")
    assert(m.counters("data_batches") == 3.0, s"$m")
    assert(m.counters("jobs_per_batch") > 0, s"$m")
    assert(math.abs(m.batchMs("triggerExecution") / 1000 - t.phases("per_batch_s")) < 1e-9,
      s"batch_ms.triggerExecution must break down per_batch_s: $m vs ${t.phases}")
  }
  test("every contract query has an oracle and vice versa (driver-gate sync)") {
    val qs = graft.SparkEntry.queries.keySet
    val os = graft.SparkEntry.oracleSql.keySet
    assert((qs -- os).isEmpty, s"queries without an oracle: ${(qs -- os).toSeq.sorted}")
    assert((os -- qs).isEmpty, s"oracles without a query: ${(os -- qs).toSeq.sorted}")
  }
}
