package graft.streaming

import graft.sources.ContinuousAggregate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream-maintained rollup: a LATE batch (older than already-refreshed
  * dates) must fold in correctly — refresh recomputes every date ≥ the
  * batch's min date from the full store, so serving afterward equals a
  * from-scratch build whatever the arrival order.
  */
class CaggStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val T0 = 1704240000L // 2024-01-03T00:00:00Z

  private def rmTree(f: java.io.File): Unit = graft.util.FsUtil.deleteRecursively(f)

  private def rows(data: Seq[(Long, Double)]) = {
    import spark.implicits._
    data.map { case (off, v) =>
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(T0 + off)),
        "s1", "m", Option(v), Option.empty[String]) }
      .toDF("timestamp", "measurement_subject", "measurement_of",
        "measurement_number", "measurement_string")
  }

  test("out-of-order day arrival: serve equals the from-scratch build") {
    val day = 86400L
    val d0 = (0 until 10).map(i => (i * 3600L, i * 1.5))
    val d1 = (0 until 10).map(i => (day + i * 3600L, 100.0 + i))
    val d2 = (0 until 10).map(i => (2 * day + i * 3600L, 50.0 - i))
    val tmp = java.nio.file.Files.createTempDirectory("cagg_stream").toString
    try {
      def run(): Unit =
        CaggStream.start(spark, s"$tmp/in", s"$tmp/store", s"$tmp/agg",
          s"$tmp/cp", widthS = 3600).awaitTermination()
      // day 0, then day 2, then the LATE day 1 — the final refresh must
      // recompute days 1 AND 2 (its min date is day 1)
      Seq(d0, d2, d1).foreach { slice =>
        rows(slice).coalesce(1).write.mode("append").parquet(s"$tmp/in"); run()
      }
      val served = ContinuousAggregate.query(spark, s"$tmp/agg", "s1", "m",
          T0, T0 + 3 * day, widthS = 86400)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      ContinuousAggregate.create(rows(d0 ++ d1 ++ d2), s"$tmp/agg2", widthS = 3600)
      val direct = ContinuousAggregate.query(spark, s"$tmp/agg2", "s1", "m",
          T0, T0 + 3 * day, widthS = 86400)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served == direct, s"served $served vs direct $direct")
      assert(served.length == 3)
      // the raw store must be date-partitioned so refresh prunes to the
      // touched dates instead of scanning the store's full history
      val storeDirs = new java.io.File(s"$tmp/store").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(storeDirs == Set("date=2024-01-03", "date=2024-01-04", "date=2024-01-05"),
        s"raw store not date-partitioned: $storeDirs")
    } finally rmTree(new java.io.File(tmp))
  }

  test("a batch spanning 3 days appends one parquet file per date") {
    val day = 86400L
    val tmp = java.nio.file.Files.createTempDirectory("cagg_files").toString
    try {
      // 4 input files, each holding rows of all 3 days
      rows((0 until 60).map(i => ((i % 3) * day + i * 60L, i.toDouble)))
        .repartition(4).write.parquet(s"$tmp/in")
      CaggStream.start(spark, s"$tmp/in", s"$tmp/store", s"$tmp/agg",
        s"$tmp/cp", widthS = 3600).awaitTermination()
      val files = new java.io.File(s"$tmp/store").listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
      assert(files == Map("date=2024-01-03" -> 1, "date=2024-01-04" -> 1, "date=2024-01-05" -> 1),
        s"files per date: $files")
      assert(spark.read.parquet(s"$tmp/store").count() == 60)
    } finally rmTree(new java.io.File(tmp))
  }

  test("legacy flat raw store migrates on resume: no mixed layout, history preserved") {
    // a store written by the pre-partitioning layout (flat parquet files
    // at the root) must not break the next batch — Spark's partition
    // discovery rejects a root mixing data files with date= dirs. start()
    // migrates the flat files under their date partitions once, then the
    // stream appends normally; serving sees old + new history.
    val day = 86400L
    val legacy = (0 until 10).map(i => (i * 3600L, i * 2.0))
    val fresh = (0 until 10).map(i => (day + i * 3600L, 30.0 + i))
    val tmp = java.nio.file.Files.createTempDirectory("cagg_legacy").toString
    try {
      // the legacy layout: flat write, no date column, no partitioning
      rows(legacy).coalesce(1).write.parquet(s"$tmp/store")
      rows(fresh).coalesce(1).write.mode("append").parquet(s"$tmp/in")
      CaggStream.start(spark, s"$tmp/in", s"$tmp/store", s"$tmp/agg",
        s"$tmp/cp", widthS = 3600).awaitTermination()
      val storeDirs = new java.io.File(s"$tmp/store").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(storeDirs == Set("date=2024-01-03", "date=2024-01-04"),
        s"store not fully partitioned after migration: $storeDirs")
      assert(!new java.io.File(s"$tmp/store").listFiles()
        .exists(f => f.isFile && f.getName.endsWith(".parquet")),
        "legacy flat files must be removed after migration")
      // all 20 rows (migrated + streamed) survive with their dates
      val store = spark.read.parquet(s"$tmp/store")
      assert(store.count() == 20)
      // the refresh after migration only covered the batch's dates; the
      // legacy day is served once any refresh reaches it — force one by
      // streaming a second batch touching day 0
      rows(Seq((1L, 0.0))).coalesce(1).write.mode("append").parquet(s"$tmp/in")
      CaggStream.start(spark, s"$tmp/in", s"$tmp/store", s"$tmp/agg",
        s"$tmp/cp", widthS = 3600).awaitTermination()
      val served = ContinuousAggregate.query(spark, s"$tmp/agg", "s1", "m",
          T0, T0 + 2 * day, widthS = 86400)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served.length == 2, s"both days must serve after migration: $served")
    } finally rmTree(new java.io.File(tmp))
  }

  test("migration crash-resume: quarantine without marker re-appends once; with marker is dropped") {
    val tmp = java.nio.file.Files.createTempDirectory("cagg_crash").toString
    def intoQuarantine(src: String): Unit = {
      val qdir = new java.io.File(s"$tmp/store/.legacy_migration"); qdir.mkdirs()
      val part = new java.io.File(src).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(qdir, part.getName).toPath)
      ()
    }
    try {
      // crash AFTER rename, BEFORE append: legacy rows sit quarantined,
      // no marker — next start() must finish the migration exactly once
      rows(Seq((0L, 1.0), (3600L, 2.0))).coalesce(1).write.parquet(s"$tmp/q1")
      intoQuarantine(s"$tmp/q1")
      rows(Seq((86400L, 5.0))).coalesce(1).write.mode("append").parquet(s"$tmp/in")
      CaggStream.start(spark, s"$tmp/in", s"$tmp/store", s"$tmp/agg",
        s"$tmp/cp", widthS = 3600).awaitTermination()
      assert(spark.read.parquet(s"$tmp/store").count() == 3,
        "2 quarantined + 1 streamed rows expected")
      assert(!new java.io.File(s"$tmp/store/.legacy_migration").exists(),
        "quarantine must be cleaned up after completed migration")
      // crash AFTER marker, BEFORE cleanup: the quarantine's rows are
      // already in the store — next start() must DROP them, not re-append
      rows(Seq((0L, 1.0), (3600L, 2.0))).coalesce(1).write.parquet(s"$tmp/q2")
      intoQuarantine(s"$tmp/q2")
      assert(new java.io.File(s"$tmp/store/.legacy_migration/_MIGRATED").createNewFile())
      rows(Seq((90000L, 6.0))).coalesce(1).write.mode("append").parquet(s"$tmp/in")
      CaggStream.start(spark, s"$tmp/in", s"$tmp/store", s"$tmp/agg",
        s"$tmp/cp", widthS = 3600).awaitTermination()
      assert(spark.read.parquet(s"$tmp/store").count() == 4,
        "only the new streamed row may be added; marked quarantine must not re-append")
      assert(!new java.io.File(s"$tmp/store/.legacy_migration").exists())
    } finally rmTree(new java.io.File(tmp))
  }

  test("crash between staging and completion marker: resume moves staged rows in exactly once") {
    // the window the old append-then-mark protocol left open: a crash
    // after the data landed but before _MIGRATED re-appended the whole
    // quarantine on resume — permanent duplicates. The staged protocol
    // closes it: _STAGED freezes the staged file set, move-in is
    // idempotent renames, so BOTH interrupted states below resume to the
    // same row count.
    val legacyRows = Seq((0L, 1.0), (3600L, 2.0))
    def plantInterrupted(tmp: String): Unit = {
      // legacy file already quarantined (step 1 done)
      rows(legacyRows).coalesce(1).write.parquet(s"$tmp/q")
      val qdir = new java.io.File(s"$tmp/store/.legacy_migration"); qdir.mkdirs()
      val part = new java.io.File(s"$tmp/q").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(qdir, part.getName).toPath)
      // staging complete and frozen (step 2 done)
      rows(legacyRows).withColumn("date", to_date(col("timestamp")))
        .coalesce(1).write.mode("overwrite").partitionBy("date")
        .parquet(s"$tmp/store/.legacy_migration/.staged")
      assert(new java.io.File(qdir, "_STAGED").createNewFile())
    }
    // state A: crashed BEFORE any move-in
    val tmpA = java.nio.file.Files.createTempDirectory("cagg_staged_a").toString
    try {
      plantInterrupted(tmpA)
      rows(Seq((86400L, 5.0))).coalesce(1).write.mode("append").parquet(s"$tmpA/in")
      CaggStream.start(spark, s"$tmpA/in", s"$tmpA/store", s"$tmpA/agg",
        s"$tmpA/cp", widthS = 3600).awaitTermination()
      assert(spark.read.parquet(s"$tmpA/store").count() == 3,
        "2 staged + 1 streamed rows expected — no duplicates, no losses")
      assert(!new java.io.File(s"$tmpA/store/.legacy_migration").exists())
      // the migration's own refresh must serve the migrated (historical)
      // date — the streamed batch's dates-≥-min refresh never reaches it
      val served = ContinuousAggregate.query(spark, s"$tmpA/agg", "s1", "m",
          T0, T0 + 7200, widthS = 3600)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served == Seq((T0, 1.0), (T0 + 3600, 2.0)), s"migrated date must serve: $served")
    } finally rmTree(new java.io.File(tmpA))
    // state B: crashed AFTER the move-in completed (marker still absent)
    val tmpB = java.nio.file.Files.createTempDirectory("cagg_staged_b").toString
    try {
      plantInterrupted(tmpB)
      val sd = new java.io.File(s"$tmpB/store/.legacy_migration/.staged/date=2024-01-03")
      val stagedFile = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      assert(new java.io.File(s"$tmpB/store/date=2024-01-03").mkdirs())
      java.nio.file.Files.move(stagedFile.toPath,
        new java.io.File(s"$tmpB/store/date=2024-01-03/migrated-${stagedFile.getName}").toPath)
      rows(Seq((86400L, 5.0))).coalesce(1).write.mode("append").parquet(s"$tmpB/in")
      CaggStream.start(spark, s"$tmpB/in", s"$tmpB/store", s"$tmpB/agg",
        s"$tmpB/cp", widthS = 3600).awaitTermination()
      assert(spark.read.parquet(s"$tmpB/store").count() == 3,
        "already-moved staged rows must not re-append on resume")
      assert(!new java.io.File(s"$tmpB/store/.legacy_migration").exists())
    } finally rmTree(new java.io.File(tmpB))
  }

  test("staged crash + NEW legacy flat file at the root: resume migrates both, no wedge") {
    // the round-10 review scenario: a migration crashed after staging,
    // then the rolled-back legacy writer appended ANOTHER flat file at
    // the store root. completeMigration's refresh reads the migrated
    // date dirs DIRECTLY (basePath), never the store root — a root read
    // over the mixed flat+date= layout SILENTLY DROPS the flat rows on
    // this Spark version (measured; other versions throw), either of
    // which is wrong here. Both migration waves must land and serve.
    val tmp = java.nio.file.Files.createTempDirectory("cagg_wedge").toString
    try {
      // quarantined + staged + frozen (steps 1-2 done, crash before 3)
      rows(Seq((0L, 1.0), (3600L, 2.0))).coalesce(1).write.parquet(s"$tmp/q")
      val qdir = new java.io.File(s"$tmp/store/.legacy_migration"); qdir.mkdirs()
      val part = new java.io.File(s"$tmp/q").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(qdir, part.getName).toPath)
      rows(Seq((0L, 1.0), (3600L, 2.0)))
        .withColumn("date", to_date(col("timestamp")))
        .coalesce(1).write.mode("overwrite").partitionBy("date")
        .parquet(s"$tmp/store/.legacy_migration/.staged")
      assert(new java.io.File(qdir, "_STAGED").createNewFile())
      // the straggler: a NEW flat file at the root (different hour)
      rows(Seq((7200L, 9.0))).coalesce(1).write.parquet(s"$tmp/q2")
      val straggler = new java.io.File(s"$tmp/q2").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(straggler.toPath,
        new java.io.File(s"$tmp/store/straggler-${straggler.getName}").toPath)
      rows(Seq((86400L, 5.0))).coalesce(1).write.mode("append").parquet(s"$tmp/in")
      CaggStream.start(spark, s"$tmp/in", s"$tmp/store", s"$tmp/agg",
        s"$tmp/cp", widthS = 3600).awaitTermination()
      assert(spark.read.parquet(s"$tmp/store").count() == 4,
        "2 staged + 1 straggler + 1 streamed rows expected")
      assert(!new java.io.File(s"$tmp/store/.legacy_migration").exists())
      // all three migrated hours serve (staged pair + straggler)
      val served = ContinuousAggregate.query(spark, s"$tmp/agg", "s1", "m",
          T0, T0 + 10800, widthS = 3600)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served == Seq((T0, 1.0), (T0 + 3600, 2.0), (T0 + 7200, 9.0)),
        s"both migration waves must serve: $served")
    } finally rmTree(new java.io.File(tmp))
  }

  test("stale marker + newly-appended flat files: migration re-runs instead of honoring the marker") {
    // a rolled-back legacy writer can append flat root files AFTER a
    // completed migration whose quarantine cleanup was interrupted (the
    // _MIGRATED marker still on disk) — the marker must not short-circuit
    // past the new files, or the store keeps the mixed layout this
    // migration exists to prevent
    val tmp = java.nio.file.Files.createTempDirectory("cagg_stale").toString
    try {
      rows(Seq((0L, 1.0), (3600L, 2.0))).coalesce(1).write.parquet(s"$tmp/store")
      rows(Seq((86400L, 5.0))).coalesce(1).write.mode("append").parquet(s"$tmp/in")
      CaggStream.start(spark, s"$tmp/in", s"$tmp/store", s"$tmp/agg",
        s"$tmp/cp", widthS = 3600).awaitTermination()
      assert(spark.read.parquet(s"$tmp/store").count() == 3)
      // interrupted cleanup leaves the marker; the rolled-back writer
      // then appends a flat (unpartitioned) root file
      assert(new java.io.File(s"$tmp/store/.legacy_migration").mkdirs())
      assert(new java.io.File(s"$tmp/store/.legacy_migration/_MIGRATED").createNewFile())
      rows(Seq((172800L, 7.0))).coalesce(1).write.mode("append").parquet(s"$tmp/store")
      assert(new java.io.File(s"$tmp/store").listFiles()
        .exists(f => f.isFile && f.getName.endsWith(".parquet")),
        "setup must leave a flat root file")
      // the streamed row lands a day AFTER the re-migrated one, so the
      // batch's dates-≥-min refresh cannot reach the migrated date — only
      // the migration's own step-4 refresh can serve it
      rows(Seq((259200L, 8.0))).coalesce(1).write.mode("append").parquet(s"$tmp/in")
      CaggStream.start(spark, s"$tmp/in", s"$tmp/store", s"$tmp/agg",
        s"$tmp/cp", widthS = 3600).awaitTermination()
      assert(spark.read.parquet(s"$tmp/store").count() == 5,
        "3 migrated + 1 re-migrated flat + 1 streamed rows expected")
      assert(!new java.io.File(s"$tmp/store").listFiles()
        .exists(f => f.isFile && f.getName.endsWith(".parquet")),
        "the post-marker flat file must be migrated into the date= layout")
      assert(!new java.io.File(s"$tmp/store/.legacy_migration").exists())
      val served = ContinuousAggregate.query(spark, s"$tmp/agg", "s1", "m",
          T0 + 172800, T0 + 176400, widthS = 3600)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served == Seq((T0 + 172800, 7.0)),
        s"migration must refresh the rollup for the re-migrated date: $served")
    } finally rmTree(new java.io.File(tmp))
  }

  test("migration aborts PRE-marker when the quarantine can't be set up; retry completes") {
    // the failure contract for a refused filesystem move: throw BEFORE
    // the _MIGRATED marker so nothing records a migration that didn't
    // happen, and leave the store untouched for the next start() to
    // retry. Forced here via the mkdirs guard (a plain FILE squatting on
    // the quarantine path) — the rename guard shares the same contract
    // but POSIX rename() overwrites, so it can't be forced determinis-
    // tically on the local FS.
    val tmp = java.nio.file.Files.createTempDirectory("cagg_abort").toString
    try {
      rows(Seq((0L, 1.0), (3600L, 2.0))).coalesce(1).write.parquet(s"$tmp/store")
      assert(new java.io.File(s"$tmp/store/.legacy_migration").createNewFile())
      rows(Seq((86400L, 5.0))).coalesce(1).write.mode("append").parquet(s"$tmp/in")
      // the local FS mkdirs THROWS FileAlreadyExistsException on a
      // file-squatted path; an FS that instead returns false hits the
      // migration's own IllegalStateException guard — both abort
      // pre-marker, which is the contract under test
      val ex = intercept[Exception] {
        CaggStream.start(spark, s"$tmp/in", s"$tmp/store", s"$tmp/agg",
          s"$tmp/cp", widthS = 3600)
      }
      assert(ex.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException]
          || ex.isInstanceOf[IllegalStateException],
        s"unexpected abort exception: $ex")
      // aborted pre-marker: flat files still at root, nothing half-moved
      assert(new java.io.File(s"$tmp/store").listFiles()
        .exists(f => f.isFile && f.getName.endsWith(".parquet")),
        "abort must leave the legacy flat files in place for retry")
      assert(!new java.io.File(s"$tmp/store/.legacy_migration/_MIGRATED").exists())
      // clear the obstruction: the retry migrates and streams normally
      assert(new java.io.File(s"$tmp/store/.legacy_migration").delete())
      CaggStream.start(spark, s"$tmp/in", s"$tmp/store", s"$tmp/agg",
        s"$tmp/cp", widthS = 3600).awaitTermination()
      assert(spark.read.parquet(s"$tmp/store").count() == 3)
      assert(!new java.io.File(s"$tmp/store").listFiles()
        .exists(f => f.isFile && f.getName.endsWith(".parquet")))
    } finally rmTree(new java.io.File(tmp))
  }
}
