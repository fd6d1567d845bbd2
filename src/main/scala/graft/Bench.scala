package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (stdout). Per-query progress goes to stderr. The
  * full artifact (SPARK_GRAFT_BENCH_OUT, default `bench_out.json`) keys
  * every row's `queries` seconds, composite `phases` and Spark `metrics`
  * (see [[BenchPhases]]); SPARK_GRAFT_BENCH_FILTER (a name regex)
  * selects rows, and SPARK_GRAFT_PLAN_OUT=<dir> also writes each row's
  * formatted plan to `<dir>/<row>.txt`.
  *
  * Noise hygiene (one query must not poison the next):
  *  - `spark.catalog.clearCache()` + a GC barrier before every timed run,
  *    so spill files, cached blocks and heap pressure from a previous query
  *    can't inflate its successors;
  *  - each query runs twice and reports the min — the first run absorbs
  *    JIT/codegen compilation and shuffle-file warm-up, the min is the
  *    reproducible number.
  */
object Bench {

  private def gcBarrier(): Unit = {
    System.gc()
    System.runFinalization()
    System.gc()
  }

  /** One row's result: best (min) wall-clock over the successful reps
    * (`None` when EVERY rep failed — an all-failed query must never
    * publish a timing number, its fast-fail latency would read
    * downstream as a fast success; the JSON emits `null` for it
    * instead), the last row count, and the phases, Spark counters
    * (BenchPhases) and formatted plan of the rep that achieved the min —
    * so a composite's attribution always matches its reported total.
    */
  private[graft] final case class RowTiming(best: Option[Double], rows: Long,
                                            phases: Map[String, Double],
                                            metrics: Option[BenchPhases.RowMetrics],
                                            plan: Option[String])

  /** Times one query over `reps` reps; with `explain` the winning rep's
    * returned frame is rendered in `FormattedMode` right after its rep
    * (outside the timed region and after its counters are read), before
    * the next rep's cache clear can change what it scans.
    */
  private[graft] def timeQuery(spark: SparkSession, name: String,
                               fn: (SparkSession, String) => DataFrame,
                               sfDir: String, reps: Int, explain: Boolean = false): RowTiming = {
    var won = RowTiming(None, -1L, Map.empty, None, None)
    var rows = -1L
    var rep = 0
    while (rep < reps) {
      spark.catalog.clearCache()
      gcBarrier()
      BenchPhases.repStart(spark)
      val t0 = System.nanoTime()
      var df: DataFrame = null
      val ok =
        try { df = fn(spark, sfDir); rows = df.count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // a failed rep's fast-fail time must not win the min — only
      // successful reps compete
      if (ok && won.best.forall(elapsed < _)) {
        val phases = BenchPhases.repSnapshot(name)
        val metrics = BenchPhases.repMetrics(spark, name)
        // building the frame's RDD runs its adaptive stages, so the plan
        // shows AQE's final choices and the WholeStageCodegen stages
        val plan = if (!explain) None else
          try { df.queryExecution.toRdd; Some(df.queryExecution.explainString(FormattedMode)) }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name plan FAILED: ${e.getMessage}"); None }
        won = RowTiming(Some(elapsed), rows, phases, metrics, plan)
      }
      rep += 1
    }
    won.copy(rows = rows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // optional name filter (regex) for local iteration on one query's
    // timing; the driver sets no filter and benches everything
    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    // optional plan dump: <dir>/<row>.txt, the formatted plan of each
    // row's winning-rep frame (pair with the filter; before and after
    // runs go to two dirs)
    val planOut = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    planOut.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm-up: JIT + codegen + shuffle service on the tiny SF, untimed
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // interleave each SQL face right after its method-path twin instead
    // of running all q_sql_* rows as a trailing block: the twins share
    // the literal logical plan, so adjacent slots see the same JVM and
    // codegen history and in-suite twin divergence stops needing an
    // isolated-rerun adjudication every round (r8/r9: q_sql_* rows
    // inherited ~200 rows of suite history and moved >2x by position
    // alone). '!' sorts before '_' and every alphanumeric, so
    // "q_agg!sql" lands directly after "q_agg", before "q_agg_day".
    def benchOrder(name: String): String =
      if (name.startsWith("q_sql_")) "q_" + name.stripPrefix("q_sql_") + "!sql"
      else name
    val results = SparkEntry.queries.toSeq.sortBy(p => benchOrder(p._1))
      .filter { case (name, _) => nameFilter.forall(_.findFirstIn(name).isDefined) }
      .map { case (name, fn) =>
      val t = timeQuery(spark, name, fn, sfDir, reps, explain = planOut.isDefined)
      t.best match {
        case Some(b) =>
          val phStr = if (t.phases.isEmpty) ""
            else t.phases.toSeq.sortBy(_._1)
              .map { case (p, s) => f"$p=$s%.2f" }.mkString("  [", " ", "]")
          System.err.println(f"[bench] $name%-24s $b%8.2f s  (${t.rows} rows)$phStr")
        case None    => System.err.println(f"[bench] $name%-24s   FAILED (no timing)")
      }
      for (dir <- planOut; txt <- t.plan)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, s"$name.txt"), txt)
      (name, t)
    }
    def num(d: Double): String = graft.util.JsonNum.minimal3(d)
    // env-derived paths must be escaped — a quote or backslash in
    // SPARK_GRAFT_BENCH_OUT / the sf dir would otherwise break the JSON
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val qs = results.map { case (k, t) => "\"" + k + "\":" + t.best.fold("null")(_.toString) }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2.best).sum
    def obj(kv: Iterable[(String, String)]): String =
      kv.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    def nums(m: Map[String, Double]): Iterable[(String, String)] =
      m.map { case (k, v) => k -> num(v) }
    // per-phase seconds for composite rows, from the SAME rep as the
    // reported min (see BenchPhases) — makes a composite's
    // round-over-round movement attributable to build/stage/drain
    // instead of just "got slower". Streaming rows additionally carry
    // `per_batch_s` (mean MARGINAL micro-batch seconds, first data batch
    // excluded) and `pb_n` (how many batches that mean covers) — the
    // steady-state number that predicts 100× behavior, since toy-scale
    // drain wall time is mostly fixed micro-batch overhead.
    val ph = results.collect { case (q, t) if t.phases.nonEmpty =>
      "\"" + q + "\":" + obj(nums(t.phases))
    }.mkString("{", ",", "}")
    // Spark's counters for the same winning rep (BenchPhases.RowMetrics):
    // whole counts print as integers, stream rows nest their `batch_ms`
    def count(d: Double): String =
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else num(d)
    val mx = (for ((q, t) <- results; m <- t.metrics) yield {
      val batchMs = if (m.batchMs.isEmpty) Nil else Seq("batch_ms" -> obj(nums(m.batchMs)))
      "\"" + q + "\":" + obj(m.counters.map { case (k, v) => k -> count(v) } ++ batchMs)
    }).mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"phases":$ph,"metrics":$mx,"sf":${jstr(sfDir)}}"""
    // the full JSON goes to a file — the driver's stdout capture keeps only
    // the LAST ~2000 bytes, so an 8 KB line can never parse from stdout
    // (round-8 BENCH artifact had "parsed": null for exactly this reason)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), full + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    // stdout gets ONE COMPACT line (< ~1.7 KB) that survives tail-only
    // capture: total + the headline queries (a fixed representative set
    // plus this run's most expensive rows), with a pointer to the full
    // per-query/per-phase artifact
    val headliners = Seq("q_agg", "q_agg_interval", "q_sampled_asap",
      "q_timeweight_linear", "q_mode", "q_intervals", "q_changepoints",
      "q_ingest_wire", "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
      "q_ann_ivf", "q_ann_topk", "q_training_export", "q_bpe_encode",
      "q_quality", "q_lang_id", "q_dedup_stream", "q_embed_neardup_stream")
    val timed = results.flatMap { case (q, t) => t.best.map(q -> _) }.toMap
    val topCost = timed.toSeq.sortBy(-_._2).take(8).map(_._1)
    val headline = (headliners ++ topCost).distinct.filter(timed.contains)
    val hq = headline.sorted.map(q => "\"" + q + "\":" + num(timed(q)))
      .mkString("{", ",", "}")
    val failed = results.count(_._2.best.isEmpty)
    val compact = s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""queries":$hq,"n_queries":${results.size},"n_failed":$failed,""" +
      s""""detail":${jstr(outFile)},"sf":${jstr(sfDir)}}"""
    println(compact)
    spark.stop()
  }
}
