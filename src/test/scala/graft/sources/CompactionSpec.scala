package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Small-file compaction: content-identical rewrite, only fragmented
  * dates touched, incremental bound respected.
  */
class CompactionSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def parquetsIn(dir: java.io.File): Array[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  private def fragmentedStore(): String = {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_compact_spec").toString
    // two dates: day 0 fragmented (12 files), day 1 tidy (1 file)
    val rows = (0 until 600).map { i =>
      val day = if (i < 480) 0 else 1
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          1704240000L + day * 86400L + i * 7L)),
        s"s${i % 5}", "m", Option(i.toDouble), Option.empty[String])
    }.toDF("timestamp", "measurement_subject", "measurement_of",
      "measurement_number", "measurement_string")
      .withColumn("date", to_date(col("timestamp")))
    rows.filter(col("date") === "2024-01-03").repartition(12)
      .write.partitionBy("date").mode("append").parquet(path)
    rows.filter(col("date") === "2024-01-04").coalesce(1)
      .write.partitionBy("date").mode("append").parquet(path)
    path
  }

  test("compaction rewrites fragmented dates only, content-identical") {
    val path = fragmentedStore()
    val before = spark.read.parquet(path).orderBy("timestamp", "measurement_number")
      .collect().map(_.toSeq)
    val tidyFiles = parquetsIn(new java.io.File(path, "date=2024-01-04"))
      .map(f => (f.getName, f.length)).toSeq
    val n = ConditionsTable.compact(spark, path, maxFilesPerDate = 8)
    assert(n == 1) // only the fragmented date
    assert(parquetsIn(new java.io.File(path, "date=2024-01-03")).length == 1)
    // untouched date keeps its files byte-identical (same name + size)
    assert(parquetsIn(new java.io.File(path, "date=2024-01-04"))
      .map(f => (f.getName, f.length)).toSeq == tidyFiles)
    val after = spark.read.parquet(path).orderBy("timestamp", "measurement_number")
      .collect().map(_.toSeq)
    assert(after.toSeq == before.toSeq)
  }

  test("maxDates bounds an incremental compaction run") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_compact_inc").toString
    val rows = (0 until 300).map { i =>
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          1704240000L + (i % 3) * 86400L + i * 3L)),
        "s1", "m", Option(i.toDouble), Option.empty[String])
    }.toDF("timestamp", "measurement_subject", "measurement_of",
      "measurement_number", "measurement_string")
      .withColumn("date", to_date(col("timestamp")))
    rows.repartition(10).write.mode("overwrite").partitionBy("date").parquet(path)
    assert(ConditionsTable.compact(spark, path, maxFilesPerDate = 2, maxDates = 1) == 1)
    assert(ConditionsTable.compact(spark, path, maxFilesPerDate = 2) == 2) // the rest
    assert(ConditionsTable.compact(spark, path, maxFilesPerDate = 2) == 0) // idempotent
  }

  test("a crashed swap (marker present) is finished on the next run — no loss, no double count") {
    val path = fragmentedStore()
    val before = spark.read.parquet(path).orderBy("timestamp", "measurement_number")
      .collect().map(_.toSeq)
    val root = new java.io.File(path)
    val d = new java.io.File(root, "date=2024-01-03")
    val old = parquetsIn(d)
    // replay compact() up to the COMMIT marker, then "crash" mid-delete:
    // the staged rewrite is complete, half the condemned files are gone
    val staged = new java.io.File(root, ".compact_date=2024-01-03")
    spark.read.parquet(old.map(_.getAbsolutePath).toSeq: _*)
      .coalesce(1)
      .sortWithinPartitions("measurement_of", "measurement_subject", "timestamp")
      .write.mode("overwrite").parquet(staged.getAbsolutePath)
    java.nio.file.Files.write(
      new java.io.File(root, ".compact_date=2024-01-03.COMMIT").toPath,
      old.map(_.getName).sorted.mkString("\n").getBytes("UTF-8"))
    old.take(old.length / 2).foreach(f => assert(f.delete()))
    ConditionsTable.compact(spark, path, maxFilesPerDate = 8)
    val after = spark.read.parquet(path).orderBy("timestamp", "measurement_number")
      .collect().map(_.toSeq)
    assert(after.toSeq == before.toSeq) // every row exactly once
    assert(parquetsIn(d).length == 1)
    assert(!new java.io.File(root, ".compact_date=2024-01-03.COMMIT").exists())
    assert(!staged.exists())
  }

  test("compaction and retention work on a store given as a file:// URI") {
    val path = fragmentedStore()
    val uri = new java.io.File(path).toURI.toString
    assert(uri.startsWith("file:/"), uri)
    val before = spark.read.parquet(path).orderBy("timestamp", "measurement_number")
      .collect().map(_.toSeq)
    assert(ConditionsTable.compact(spark, uri, maxFilesPerDate = 8) == 1)
    assert(parquetsIn(new java.io.File(path, "date=2024-01-03")).length == 1)
    assert(spark.read.parquet(path).orderBy("timestamp", "measurement_number")
      .collect().map(_.toSeq).toSeq == before.toSeq)
    assert(ConditionsTable.dropPartitionsOlderThan(spark, uri, "2024-01-04") ==
      Seq("date=2024-01-03"))
    assert(new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("date="))
      .toSeq == Seq("date=2024-01-04"))
  }

  test("a crashed swap whose marker has a checksum sidecar finishes and leaves no sidecar") {
    import org.apache.hadoop.fs.Path
    val path = fragmentedStore()
    val before = spark.read.parquet(path).orderBy("timestamp", "measurement_number")
      .collect().map(_.toSeq)
    val root = new java.io.File(path)
    val old = parquetsIn(new java.io.File(root, "date=2024-01-03"))
    spark.read.parquet(old.map(_.getAbsolutePath).toSeq: _*).coalesce(1)
      .write.mode("overwrite").parquet(new java.io.File(root, ".compact_date=2024-01-03").getPath)
    // the local Hadoop filesystem writes `..compact_date=2024-01-03.COMMIT.crc` beside it
    val marker = new Path(new java.io.File(root, ".compact_date=2024-01-03.COMMIT").toURI)
    val out = marker.getFileSystem(spark.sparkContext.hadoopConfiguration).create(marker)
    try out.write(old.map(_.getName).sorted.mkString("\n").getBytes("UTF-8")) finally out.close()
    assert(new java.io.File(root, "..compact_date=2024-01-03.COMMIT.crc").exists())
    ConditionsTable.compact(spark, path, maxFilesPerDate = 8)
    assert(spark.read.parquet(path).orderBy("timestamp", "measurement_number")
      .collect().map(_.toSeq).toSeq == before.toSeq)
    assert(!root.listFiles().exists(_.getName.contains(".compact_")),
      root.listFiles().map(_.getName).mkString(", "))
  }

  test("retention checks each delete: a refused one throws naming it, the cutoff date is kept") {
    val path = fragmentedStore()
    spark.read.parquet(path).filter(col("date") === "2024-01-04")
      .withColumn("timestamp", col("timestamp") + expr("INTERVAL 1 DAY")).drop("date")
      .withColumn("date", ConditionsTable.dateKey).coalesce(1)
      .write.mode("append").partitionBy("date").parquet(path)
    def dates = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("date=")).sorted.toSeq
    assert(dates == Seq("date=2024-01-03", "date=2024-01-04", "date=2024-01-05"))
    spark.sparkContext.hadoopConfiguration.set("fs.refusedel.impl", classOf[RefusingDeleteFs].getName)
    val ex = intercept[IllegalStateException](ConditionsTable.dropPartitionsOlderThan(spark,
      "refusedel://" + new java.io.File(path).toURI.getPath, "2024-01-05"))
    assert(ex.getMessage.contains("date=2024-01-04"), ex.getMessage)
    assert(dates == Seq("date=2024-01-04", "date=2024-01-05"))
    // a retry deletes what is left older than the cutoff, and only that
    assert(ConditionsTable.dropPartitionsOlderThan(spark, path, "2024-01-05") ==
      Seq("date=2024-01-04"))
    assert(dates == Seq("date=2024-01-05"))
  }

  test("retention refuses a cutoff that is not a calendar date before deleting anything") {
    val path = fragmentedStore()
    def dates = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("date=")).sorted.toSeq
    val all = Seq("date=2024-01-03", "date=2024-01-04")
    assert(dates == all)
    // both sort above every 2024-01 partition as strings
    for (cutoff <- Seq("2024-13-01", "2024-02-30")) {
      val ex = intercept[IllegalArgumentException](
        ConditionsTable.dropPartitionsOlderThan(spark, path, cutoff))
      assert(ex.getMessage.contains(cutoff), ex.getMessage)
      assert(dates == all, s"cutoff $cutoff")
    }
  }

  test("file-sink-managed stores (_spark_metadata) refuse compaction and retention") {
    // a Structured Streaming file sink pins its exact file set in the
    // metadata log; mutating files underneath it breaks log-based reads
    val path = fragmentedStore()
    assert(new java.io.File(path, "_spark_metadata").mkdir())
    val ex = intercept[IllegalArgumentException](ConditionsTable.compact(spark, path))
    assert(ex.getMessage.contains("_spark_metadata"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException](
      ConditionsTable.dropPartitionsOlderThan(spark, path, "2024-01-04"))
    assert(ex2.getMessage.contains("_spark_metadata"), ex2.getMessage)
  }
}

/** The local filesystem under the `refusedel` scheme, refusing to delete
  * any path named `date=2024-01-04` — a delete failure a root process
  * cannot force through file permissions.
  */
class RefusingDeleteFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refusedel:///")
  override def getScheme: String = "refusedel"
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    p.getName != "date=2024-01-04" && super.delete(p, recursive)
}
