package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inner-plan evidence for the r16 bucket-derivation and url_report
  * fusion changes. The bench rows' RETURNED frames are checkpoint- or
  * sink-truncated, so `plans/r16/<q>_{before,after}.txt` cannot show
  * the structures the round actually changed; this probe dumps them
  * directly, and both "before" shapes are still constructible at HEAD
  * (an explicit `buckets = 64` reproduces the old pinned layout; the
  * standalone extractLinksWithRel/extractAnchors pipelines ARE what
  * the old urlReport composed), so one binary emits an honest A/B.
  *
  * Writes, under SPARK_GRAFT_PLAN_OUT (default plans/r16):
  *  - idx_probe_join_{before,after}.txt — formatted plan of a
  *    rank-table join against the bucketed edge index at 64 vs derived
  *    buckets (scan node shows `Bucketed: true` + SelectedBucketsCount;
  *    file counts and `graft.buckets` prop printed in a header);
  *  - urlreport_scan_{before,after}.txt — before: the TWO page-scan
  *    pipelines the old urlReport composed; after: the ONE fused-kernel
  *    scan frame the new urlReport persists.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… sbt "runMain graft.tools.IndexLayoutProbe"
  * Diagnostic only; not referenced by any query row.
  */
object IndexLayoutProbe {

  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "plans/r16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def write(name: String, text: String): Unit = {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, name), text)
      System.err.println(s"[idxlayout] wrote $name")
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // synthetic page frame — same column shape the link queries feed
    val pages = docs.select(
      concat(lit("http://h"), (col("doc_id") % 40).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string")).as("url"),
      // plant real anchors (documents text carries none) so the edge
      // index holds rows and the file-count evidence is non-trivial
      concat(lit("<a href=\"/d/"), (col("doc_id") % 97).cast("string"),
        lit("\" rel=\"nofollow\">x</a> <a href='http://h"),
        (col("doc_id") % 11).cast("string"),
        lit(".org/q'>y link</a>"), col("text")).as("html"))
    val edges = graft.operators.LinkGraph.extractLinks(pages, "url", "html")

    // ---- bucketed edge index at the historical pinned count vs derived
    for ((label, buckets) <- Seq(
        "before" -> 64, "after" -> graft.util.IndexBuckets.Auto)) {
      graft.operators.LinkGraph.writeEdgeIndex(edges, "ilp_edge_idx", buckets)
      val props = graft.util.IndexTable.props(spark, "ilp_edge_idx")
      val loc = spark.sql("DESCRIBE TABLE EXTENDED ilp_edge_idx").collect()
        .find(_.getString(0) == "Location").map(_.getString(1)).getOrElse("?")
      val nFiles = {
        def walk(f: java.io.File): Int = {
          val fs = f.listFiles()
          if (fs == null) 0
          else fs.map(c => if (c.isDirectory) walk(c)
            else if (c.getName.endsWith(".parquet")) 1 else 0).sum
        }
        walk(new java.io.File(new java.net.URI(loc)))
      }
      // the pagerank-iteration join shape: rank table joined to the
      // bucketed edge scan on src — the index side must read
      // co-partitioned (no Exchange above its scan)
      val idx = spark.table("ilp_edge_idx")
      val ranks = idx.select(col("src").as("url")).distinct()
        .withColumn("rank", lit(1000000L))
      val joined = idx.join(ranks.withColumnRenamed("url", "src"), Seq("src"))
        .groupBy("dst").agg(sum("rank").as("contrib"))
      write(s"idx_probe_join_$label.txt",
        s"-- graft.buckets = ${props.getOrElse("graft.buckets", "?")}, " +
          s"data files = $nFiles\n" + fmt(joined))
    }

    // ---- url_report page-scan composition: two pipelines vs one fused
    val rel = graft.operators.LinkGraph.extractLinksWithRel(pages, "url", "html")
    val anc = graft.operators.LinkGraph.extractAnchors(pages, "url", "html")
    write("urlreport_scan_before.txt",
      "-- the OLD urlReport composed these TWO page-scan pipelines\n" +
        "-- (each reads + decompresses the page frame independently)\n\n" +
        "---- extractLinksWithRel ----\n" + fmt(rel) +
        "\n---- extractAnchors ----\n" + fmt(anc))
    val fused = graft.operators.LinkGraph.fusedRelAnchors(pages, "url", "html")
    write("urlreport_scan_after.txt",
      "-- the NEW urlReport persists this ONE fused-kernel scan; the rel\n" +
        "-- and anchor branches read the persisted tuples, not the pages\n\n" +
        fmt(fused))

    // ---- codegen audit of the matcher-kernel UDFs (r15 watch item):
    // execute the extraction and dump the FINAL plan, where
    // WholeStageCodegen spans are visible — the ScalaUDF must appear as
    // a plain invoke inside a codegen stage, not fence it
    val ext = graft.operators.LinkGraph.extractLinks(pages, "url", "html")
    ext.write.format("noop").mode("overwrite").save()
    write("kernel_codegen_audit.txt",
      "-- executed (final) plan of extractLinks over planted pages;\n" +
        "-- '*(n)' prefixes mark WholeStageCodegen stages\n\n" +
        ext.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
