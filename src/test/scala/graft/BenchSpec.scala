package graft

import graft.queries.TimeseriesQueries.param
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType
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
      "spill_bytes", "executor_run_s", "compiles", "compile_ms")
      .foreach(k => assert(base.counters.contains(k), k))
  }

  test("compiles: a never-seen literal compiles on every rep, a param on none once warm") {
    // every rep filters on a value no query in this JVM has used yet
    val fresh = new AtomicLong(System.nanoTime() % 1000000000L + 104729L)
    def row(name: String, bound: Long => Column): BenchPhases.RowMetrics = {
      val q = (s: SparkSession) =>
        s.range(500).filter(col("id") >= bound(fresh.incrementAndGet() % 400)).select(col("id") * 3)
      q(spark).count() // the first use of the shape compiles either way
      Bench.timeQuery(spark, name, (s, _) => q(s), "unused", reps = 2)
        .metrics.getOrElse(fail(s"$name carried no metrics"))
    }
    val literal = row("literal_row", v => lit(v))
    val bound = row("param_row", v => param(v, LongType))
    assert(literal.counters("compiles") >= 1.0, s"$literal")
    assert(literal.counters("compile_ms") > 0.0, s"$literal")
    assert(bound.counters("compiles") == 0.0, s"$bound")
    assert(bound.counters("compile_ms") == 0.0, s"$bound")
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
    assert(qs.size == 309, s"${qs.size} contract queries")
    graft.SparkEntry.families.zipWithIndex.foreach { case (f, i) =>
      assert(f.nonEmpty, s"family $i of SparkEntry.families is empty")
    }
    // a SQL face with a method twin serves that twin's oracle string
    val faceTwins = Seq(
      "q_sql_agg" -> "q_agg", "q_sql_intervals" -> "q_intervals",
      "q_sql_counter_agg" -> "q_counter_agg", "q_sql_cagg_realtime" -> "q_cagg_realtime",
      "q_sql_corpus_overlap" -> "q_corpus_overlap", "q_sql_exact_norm" -> "q_dedup_exact_norm",
      "q_sql_line_dedup_intra" -> "q_line_dedup_intra",
      "q_sql_weighted_sample" -> "q_weighted_sample",
      "q_sql_counter_rollup" -> "q_counter_rollup", "q_sql_histogram" -> "q_histogram",
      "q_sql_state" -> "q_state", "q_sql_gaps" -> "q_gaps", "q_sql_hampel" -> "q_outliers",
      "q_sql_gopher" -> "q_gopher", "q_sql_ann_topk" -> "q_ann_topk",
      "q_sql_curate_v2" -> "q_curate_v2", "q_sql_quality" -> "q_quality_classifier",
      "q_sql_mmr" -> "q_ann_mmr", "q_sql_shuffle" -> "q_epoch_shuffle",
      "q_sql_export" -> "q_training_export", "q_sql_ivf_topk" -> "q_ann_ivf_indexed",
      "q_sql_html_text" -> "q_html_text", "q_sql_html_main" -> "q_html_main",
      "q_sql_url_canon" -> "q_url_canon", "q_sql_url_dedup" -> "q_url_dedup",
      "q_sql_url_robots" -> "q_url_robots", "q_sql_crawl_plan" -> "q_crawl_plan",
      "q_sql_crawl_plan_status" -> "q_crawl_plan_status",
      "q_sql_robots_parse" -> "q_robots_parse", "q_sql_crawl_delays" -> "q_robots_delay",
      "q_sql_meta_robots" -> "q_html_noindex", "q_sql_text_normalize" -> "q_text_normalize",
      "q_sql_url_blocklist" -> "q_url_blocklist",
      "q_sql_url_blocklist_psl" -> "q_url_blocklist_psl",
      "q_sql_crawl_curate" -> "q_crawl_curate", "q_sql_link_edges" -> "q_link_extract",
      "q_sql_link_pagerank" -> "q_link_pagerank", "q_sql_link_hits" -> "q_link_hits",
      "q_sql_url_report" -> "q_link_url_report", "q_sql_link_hits_host" -> "q_link_hits_host",
      "q_sql_warc_revisits" -> "q_warc_revisit_resolve",
      "q_sql_anchor_labels" -> "q_link_anchor_labels")
    val oracle = graft.SparkEntry.oracleSql
    faceTwins.foreach { case (face, twin) =>
      assert(oracle(face) == oracle(twin), s"$face does not serve $twin's oracle")
    }
    // the faces without a method twin: every other q_sql_* row is listed above
    val untwinned = Set("q_sql_robots_status", "q_sql_delays_status", "q_sql_sitemap_frontier")
    assert(qs.filter(_.startsWith("q_sql_")) == faceTwins.map(_._1).toSet ++ untwinned)
    val dup = graft.contract.Q("q_x", (s, _) => s.emptyDataFrame, "SELECT 1")
    val err = intercept[IllegalArgumentException](
      graft.contract.Q.byName(Seq(dup, dup.copy(oracle = "SELECT 2")))(_.oracle))
    assert(err.getMessage.contains("q_x"), err.getMessage)
  }
}
