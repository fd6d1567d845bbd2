package graft.streaming

import java.nio.file.Files

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming near-dup gate vs the batch incremental tier: the streamed
  * result must equal the batch anti-join, regardless of micro-batch
  * boundaries (maxFilesPerTrigger=1 forces several).
  */
class DedupStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streamed gate == batch anti-join across micro-batch boundaries") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idxDocs = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    Dedup.writeSignatureIndex(idxDocs, "dedup_stream_spec_index")
    try {
      val tmp = Files.createTempDirectory("ds").toString
      val (in, out, cp) = (s"$tmp/in", s"$tmp/out", s"$tmp/cp")
      newDocs.repartition(4).write.parquet(in)
      DedupStream.start(spark, in, "dedup_stream_spec_index", idxDocs, out, cp,
        maxFilesPerTrigger = Some(1)).awaitTermination()
      val streamed = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val batchDups = Dedup.minhashPairsAgainstIndex(
          newDocs, "dedup_stream_spec_index", idxDocs)
        .select("doc_new").collect().map(_.getLong(0)).toSet
      val expected = newDocs.select("doc_id").collect().map(_.getLong(0)).toSet -- batchDups
      assert(streamed == expected)
      assert(batchDups.nonEmpty, "fixture should contain at least one cross-slice near-dup")
    } finally spark.sql("DROP TABLE IF EXISTS dedup_stream_spec_index")
  }
  test("simhash streamed gate == batch anti-join across micro-batch boundaries") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idxDocs = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    Dedup.writeSimhashIndex(idxDocs, "sh_stream_spec_index")
    try {
      val tmp = Files.createTempDirectory("shs").toString
      val (in, out, cp) = (s"$tmp/in", s"$tmp/out", s"$tmp/cp")
      newDocs.repartition(4).write.parquet(in)
      DedupStream.startSimhash(spark, in, "sh_stream_spec_index", out, cp,
        maxFilesPerTrigger = Some(1)).awaitTermination()
      val streamed = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val batchDups = Dedup.simhashPairsAgainstIndex(newDocs, "sh_stream_spec_index")
        .select("doc_new").collect().map(_.getLong(0)).toSet
      val expected = newDocs.select("doc_id").collect().map(_.getLong(0)).toSet -- batchDups
      assert(streamed == expected)
      assert(batchDups.nonEmpty, "fixture should contain at least one cross-slice simhash pair")
    } finally spark.sql("DROP TABLE IF EXISTS sh_stream_spec_index")
  }
  test("decontamination streamed gate == batch contaminated() anti-join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val corpus = docs.filter(col("doc_id") % 7 =!= 0).select("doc_id", "text")
    val tmp = Files.createTempDirectory("dcs").toString
    val (in, out, cp) = (s"$tmp/in", s"$tmp/out", s"$tmp/cp")
    corpus.repartition(4).write.parquet(in)
    DecontaminationStream.start(spark, in, bench, out, cp,
      n = 5, maxFilesPerTrigger = Some(1)).awaitTermination()
    val streamed = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dirty = graft.operators.Decontamination.contaminated(corpus, bench, n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = corpus.select("doc_id").collect().map(_.getLong(0)).toSet -- dirty
    assert(streamed == expected)
    assert(dirty.nonEmpty, "fixture should contain at least one contaminated doc")
  }
  test("simhash appendAccepted gates an in-stream duplicate (order-independent)") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idxDocs = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    // an exact in-stream copy of one odd doc under a fresh id: identical
    // text => identical simhash => hamming 0 pair with its original
    val copy = newDocs.filter(col("doc_id") === 1L)
      .select((col("doc_id") + 999000L).as("doc_id"), col("text"))
    assert(copy.count() == 1)
    Dedup.writeSimhashIndex(idxDocs, "sh_app_spec_index")
    try {
      val tmp = Files.createTempDirectory("sha").toString
      val (in, out, cp) = (s"$tmp/in", s"$tmp/out", s"$tmp/cp")
      newDocs.repartition(2).write.parquet(in)
      copy.coalesce(1).write.mode("append").parquet(in)
      DedupStream.startSimhash(spark, in, "sh_app_spec_index", out, cp,
        maxFilesPerTrigger = Some(1), appendAccepted = true).awaitTermination()
      val survivors = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val pair = Set(1L, 999001L)
      // doc 1 itself may be near-dup'd against the even index; the
      // invariant is that the PAIR never both survives
      assert(survivors.intersect(pair).size <= 1,
        s"in-stream duplicate pair both survived: ${survivors.intersect(pair)}")
      // accepted docs were appended (signatures stored for every survivor)
      val indexed = spark.table("sh_app_spec_index")
        .select("doc_index").distinct().collect().map(_.getLong(0)).toSet
      assert(survivors.subsetOf(indexed))
    } finally spark.sql("DROP TABLE IF EXISTS sh_app_spec_index")
  }

  test("url frontier gate == batch NOT-IN across micro-batch boundaries; appendAccepted claims in-stream") {
    import spark.implicits._
    import graft.operators.UrlOps
    // frontier = two already-crawled canonicals; candidates include
    // surface variants of a seen URL, a novel URL, and TWO in-stream
    // rows sharing one novel canonical
    val seen = Seq((100L, "https://example.com/a"), (101L, "https://other.org/x?p=1"))
      .toDF("doc_id", "url")
    val candidates = Seq(
      (1L, "https://WWW.example.com:443/a/"),      // seen via canonicalization
      (2L, "https://example.com/a?utm_source=s"),  // seen via tracking strip
      (3L, "https://example.com/b"),               // novel
      (4L, "https://fresh.net/y?b=2&a=1"),         // novel (shared canonical)
      (5L, "https://fresh.net/y?a=1&b=2"))         // same canonical as 4
      .toDF("doc_id", "url")
    UrlOps.writeUrlIndex(seen, "url", "url_gate_spec_index", buckets = 4)
    try {
      // index-only mode: survivors = batch NOT-IN, so 4 AND 5 both pass
      val tmp = Files.createTempDirectory("ug").toString
      candidates.repartition(3).write.parquet(s"$tmp/in")
      DedupStream.startUrls(spark, s"$tmp/in", "url_gate_spec_index",
        s"$tmp/out", s"$tmp/cp", maxFilesPerTrigger = Some(1))
        .awaitTermination()
      val survivors = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$tmp/out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(survivors == Set(3L, 4L, 5L), s"index-only survivors: $survivors")
      // appendAccepted mode: the shared-canonical pair cannot BOTH pass
      // (whichever batch lands first claims fresh.net/y?a=1&b=2).
      // Doc 5 staged as its own file => its own micro-batch: in-batch
      // co-arrival is the documented index-only window, not under test
      val tmp2 = Files.createTempDirectory("ug2").toString
      candidates.filter(col("doc_id") =!= 5L).repartition(2).write.parquet(s"$tmp2/in")
      candidates.filter(col("doc_id") === 5L).coalesce(1)
        .write.mode("append").parquet(s"$tmp2/in")
      DedupStream.startUrls(spark, s"$tmp2/in", "url_gate_spec_index",
        s"$tmp2/out", s"$tmp2/cp", maxFilesPerTrigger = Some(1),
        appendAccepted = true).awaitTermination()
      val s2 = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$tmp2/out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(s2.contains(3L), s"novel doc must survive: $s2")
      assert(s2.intersect(Set(4L, 5L)).size == 1,
        s"in-stream canonical pair must be claimed once: $s2")
      // and the claims landed in the index
      val claimed = spark.table("url_gate_spec_index")
        .select("canon_url").as[String].collect().toSet
      assert(claimed.contains("https://example.com/b"), claimed)
      assert(claimed.contains("https://fresh.net/y?a=1&b=2"), claimed)
    } finally spark.sql("DROP TABLE IF EXISTS url_gate_spec_index")
  }

  test("TTL frontier gate: stale claims expire per the row's own clock, fresh ones hold") {
    import spark.implicits._
    import graft.operators.UrlOps
    // claims at t=100 and t=900; candidates carry their own crawl clock
    val seen = Seq(
      ("https://old.com/a", 100L),
      ("https://new.com/b", 900L)).toDF("url", "ts")
    UrlOps.writeUrlIndex(seen, "url", "url_ttl_spec_index", buckets = 4,
      claimedAtCol = Some("ts"))
    try {
      val candidates = Seq(
        (1L, "https://old.com/a", 1000L),  // claim 100 < 1000-500: expired -> re-admit
        (2L, "https://new.com/b", 1000L),  // claim 900 >= 500: still held -> drop
        (3L, "https://new.com/b", 1500L),  // same URL, later clock: 900 < 1000 -> re-admit
        (4L, "https://fresh.io/c", 10L))   // never claimed -> pass
        .toDF("doc_id", "url", "crawl_ts")
      val tmp = Files.createTempDirectory("ut").toString
      candidates.repartition(3).write.parquet(s"$tmp/in")
      DedupStream.startUrlsTtl(spark, s"$tmp/in", "url_ttl_spec_index",
        s"$tmp/out", s"$tmp/cp", asOfCol = "crawl_ts", ttl = 500L,
        maxFilesPerTrigger = Some(1)).awaitTermination()
      val survivors = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$tmp/out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(survivors == Set(1L, 3L, 4L), s"ttl survivors: $survivors")
      // batch-side probe agrees with the gate (same operator)
      val batch = UrlOps.stripSeenUrlsTtl(candidates, "url",
        "url_ttl_spec_index", "crawl_ts", 500L)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batch == survivors, s"batch $batch != gate $survivors")
    } finally spark.sql("DROP TABLE IF EXISTS url_ttl_spec_index")
  }

  test("compliance gate: robots-enforce + noindex + frontier probe per batch == one batch chain") {
    import spark.implicits._
    import graft.operators.{TextExtraction, UrlOps}
    val seen = Seq((100L, "https://site.com/claimed")).toDF("doc_id", "url")
    UrlOps.writeUrlIndex(seen, "url", "compliance_gate_index", buckets = 4)
    try {
      val rules = Seq(("site.com", "/private", false))
        .toDF("host", "pattern", "allow")
      val pages = Seq(
        (1L, "https://site.com/ok", "<html><body>fine</body></html>"),
        (2L, "https://site.com/private/x", "<html>robots-blocked</html>"),
        (3L, "https://site.com/hidden",
          """<html><meta name="robots" content="noindex"></html>"""),
        (4L, "https://site.com/claimed?utm_source=s", "<html>seen</html>"),
        (5L, "https://site.com/new", "<html>novel</html>"))
        .toDF("doc_id", "url", "html")
      val tmp = Files.createTempDirectory("cg").toString
      pages.repartition(3).write.parquet(s"$tmp/in")
      DedupStream.startCompliance(spark, s"$tmp/in", "compliance_gate_index",
        s"$tmp/out", s"$tmp/cp", rules, maxFilesPerTrigger = Some(1))
        .awaitTermination()
      val survivors = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$tmp/out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(survivors == Set(1L, 5L), s"gate survivors: $survivors")
      // gate == the batch chain run in one shot (partition independence)
      val batch = UrlOps.stripSeenUrls(
        TextExtraction.filterNoindexed(
          UrlOps.filterDisallowed(pages, "url", "doc_id", rules), "html"),
        "url", "compliance_gate_index")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batch == survivors, s"batch $batch != gate $survivors")
    } finally spark.sql("DROP TABLE IF EXISTS compliance_gate_index")
  }
}
