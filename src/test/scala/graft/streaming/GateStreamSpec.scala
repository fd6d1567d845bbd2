package graft.streaming

import java.nio.file.Files

import graft.operators.{Ann, Dedup, Multimodal, UrlOps}
import graft.sources.WarcIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Crash-and-replay for every guarded gate ([[GateStream.commitOnce]]):
  * drain one file per micro-batch, wipe the checkpoint — so every batch
  * re-runs after its sink write AND its index fold, the window where an
  * unguarded sink duplicates or empties a batch — drain again, and the
  * committed output must be the same row multiset.
  */
class GateStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def odd(df: DataFrame, key: String) = df.filter(col(key) % 2 === 1)
  private def even(df: DataFrame, key: String) = df.filter(col(key) % 2 === 0)

  /** One guarded gate: `stage` builds its index table and writes its
    * input files into the given dir; `start(in, out, cp)` starts the
    * gate; `keys` identify an output row; `check` vets the first drain.
    */
  private case class Gate(label: String, table: String, keys: Seq[String],
                          stage: String => Unit,
                          start: (String, String, String) => StreamingQuery,
                          check: Seq[String] => Unit = _ => ())

  private val gates = Seq(
    Gate("DedupStream.start", "gate_replay_minhash", Seq("doc_id"),
      in => {
        Dedup.writeSignatureIndex(even(docs, "doc_id"), "gate_replay_minhash")
        odd(docs, "doc_id").select("doc_id", "text").repartition(3).write.parquet(in)
      },
      (in, out, cp) => DedupStream.start(spark, in, "gate_replay_minhash",
        even(docs, "doc_id"), out, cp, maxFilesPerTrigger = Some(1))),
    Gate("startSimhash(appendAccepted)", "gate_replay_simhash", Seq("doc_id"),
      in => {
        Dedup.writeSimhashIndex(even(docs, "doc_id"), "gate_replay_simhash")
        odd(docs, "doc_id").select("doc_id", "text").repartition(3).write.parquet(in)
      },
      (in, out, cp) => DedupStream.startSimhash(spark, in, "gate_replay_simhash",
        out, cp, maxFilesPerTrigger = Some(1), appendAccepted = true)),
    Gate("startMedia(appendAccepted)", "gate_replay_media", Seq("id"),
      in => {
        val media = Multimodal.fromDocuments(docs.select("doc_id", "text", "n_chars"))
        Multimodal.writeMediaIndex(even(media, "id"), "gate_replay_media")
        odd(media, "id").select("id", "content").repartition(3).write.parquet(in)
      },
      (in, out, cp) => DedupStream.startMedia(spark, in, "gate_replay_media",
        out, cp, maxFilesPerTrigger = Some(1), appendAccepted = true)),
    Gate("startLines(appendAccepted)", "gate_replay_lines", Seq("doc_id", "text"),
      in => {
        Dedup.writeLineIndex(even(docs, "doc_id"), "gate_replay_lines")
        odd(docs, "doc_id").select("doc_id", "text").repartition(3).write.parquet(in)
      },
      (in, out, cp) => DedupStream.startLines(spark, in, "gate_replay_lines",
        out, cp, maxFilesPerTrigger = Some(1), appendAccepted = true)),
    Gate("startUrls(appendAccepted)", "gate_replay_urls", Seq("doc_id", "canon_url"),
      in => {
        import spark.implicits._
        UrlOps.writeUrlIndex(Seq((100L, "https://example.com/a")).toDF("doc_id", "url"),
          "url", "gate_replay_urls", buckets = 4)
        Seq((1L, "https://WWW.example.com:443/a/"), (2L, "https://example.com/b"),
            (3L, "https://fresh.net/y?b=2&a=1"), (4L, "https://fresh.net/y?a=1&b=2"),
            (5L, "https://other.org/z"))
          .toDF("doc_id", "url").repartition(3).write.parquet(in)
      },
      (in, out, cp) => DedupStream.startUrls(spark, in, "gate_replay_urls",
        out, cp, maxFilesPerTrigger = Some(1), appendAccepted = true)),
    // parsed-WARC-shaped rows; ids 2 and 4 share a digest but land in
    // DIFFERENT single-file batches, so the fold admits exactly one
    Gate("startDigest(appendAccepted)", "gate_replay_digest", Seq("record_id"),
      in => {
        import spark.implicits._
        val rows = Seq(
          ("https://a.com/1", "id:1", "response", "md5:aaa", "<p>1</p>"),
          ("https://a.com/2", "id:2", "response", "md5:bbb", "<p>2</p>"),
          ("https://a.com/3", "id:3", "response", "", "<p>3</p>"),
          ("https://a.com/4", "id:4", "response", "md5:bbb", "<p>4</p>"))
          .toDF("url", "record_id", "warc_type", "payload_digest", "html")
        WarcIngest.writeDigestIndex(rows.filter(col("record_id") === "id:1"),
          "gate_replay_digest")
        new java.io.File(in).mkdirs()
        Seq("id:2", "id:3", "id:4").zipWithIndex.foreach { case (id, i) =>
          val stage = s"$in-stage/f$i"
          rows.filter(col("record_id") === id).coalesce(1).write.parquet(stage)
          new java.io.File(stage).listFiles.filter(_.getName.endsWith(".parquet"))
            .foreach(f => Files.move(f.toPath, java.nio.file.Paths.get(s"$in/part-$i.parquet")))
        }
      },
      (in, out, cp) => DedupStream.startDigest(spark, in, "gate_replay_digest",
        out, cp, maxFilesPerTrigger = Some(1), appendAccepted = true),
      // one of the md5:bbb pair + the digest-less id:3; id:1 is seeded
      first => assert(first.length == 2 && first.contains("id:3"), first)),
    Gate("AnnStream.start(appendAccepted)", "gate_replay_ivf", Seq("vec_id"),
      in => {
        val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        Ann.writeIvfIndex(even(emb, "vec_id"), "gate_replay_ivf", nlist = 8)
        odd(emb, "vec_id").select("vec_id", "embedding").repartition(3).write.parquet(in)
      },
      (in, out, cp) => AnnStream.start(spark, in, "gate_replay_ivf", out, cp,
        threshold = 0.45, nProbe = 8, maxFilesPerTrigger = Some(1),
        appendAccepted = true)))

  gates.foreach { g =>
    test(s"crash replay keeps committed output: ${g.label}") {
      val tmp = Files.createTempDirectory("gate_replay").toString
      val (in, out, cp) = (s"$tmp/in", s"$tmp/out", s"$tmp/cp")
      def drain(): (Seq[String], Int) = {
        val q = g.start(in, out, cp)
        q.awaitTermination()
        val rows = spark.read.option("recursiveFileLookup", "true").parquet(out)
          .select(g.keys.map(col(_).cast("string")): _*)
          .collect().map(_.mkString("|")).sorted.toSeq
        // batches RUN, not rows read: a guarded replay never reads its
        // batch, so its progress reports zero input rows
        (rows, q.recentProgress.map(_.batchId).distinct.length)
      }
      try {
        g.stage(in)
        val (first, firstBatches) = drain()
        assert(first.nonEmpty && firstBatches >= 2, (first, firstBatches))
        g.check(first)
        graft.util.FsUtil.deleteRecursively(new java.io.File(cp))
        val (second, secondBatches) = drain()
        assert(secondBatches == firstBatches, "every batch must replay")
        assert(second == first, s"replay changed committed output: $first -> $second")
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS ${g.table}")
        graft.util.FsUtil.deleteRecursively(new java.io.File(tmp))
      }
    }
  }
}
