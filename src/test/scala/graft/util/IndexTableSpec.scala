package graft.util

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The index-table contract beyond what the family specs pin: property
  * values that SQL would have to quote, the missing-property message, an
  * append that must not write, and the rewrite's row and property
  * guarantees.
  */
class IndexTableSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def bucketCount(table: String): Option[Int] =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec.map(_.numBuckets)

  private def graftProps(table: String): Map[String, String] =
    IndexTable.props(spark, table).filter { case (k, _) => k.startsWith("graft.") }

  test("properties round-trip values with quotes, as SQL reads them too") {
    import spark.implicits._
    try {
      IndexTable.write(Seq(1L, 2L, 3L).toDF("v"), "it_quoted", "v", 2,
        "graft.salt" -> "o'brien", "graft.col" -> "a\"b", "graft.n" -> 3)
      val expected = Map("graft.salt" -> "o'brien", "graft.col" -> "a\"b",
        "graft.n" -> "3", "graft.buckets" -> "2")
      assert(graftProps("it_quoted") == expected)
      val shown = spark.sql("SHOW TBLPROPERTIES it_quoted").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shown.filter { case (k, _) => k.startsWith("graft.") } == expected)
      assert(bucketCount("it_quoted").contains(2))
      IndexTable.setProps(spark, "it_quoted", "graft.salt" -> "it's")
      assert(graftProps("it_quoted") == expected + ("graft.salt" -> "it's"))
    } finally IndexTable.drop(spark, "it_quoted")
  }

  test("a missing property fails naming the table, the key and the writer") {
    import spark.implicits._
    try {
      IndexTable.write(Seq(1L).toDF("v"), "it_missing", "v", 1)
      val e = intercept[IllegalArgumentException](
        IndexTable.prop(spark, "it_missing", "graft.bands", "writeSomeIndex"))
      Seq("it_missing", "graft.bands", "writeSomeIndex").foreach(word =>
        assert(e.getMessage.contains(word), e.getMessage))
    } finally IndexTable.drop(spark, "it_missing")
  }

  test("append to a table without graft.buckets fails before writing") {
    import spark.implicits._
    try {
      IndexTable.drop(spark, "it_plain")
      Seq(1L, 2L, 3L).toDF("v").write.format("parquet").saveAsTable("it_plain")
      val filesBefore = spark.table("it_plain").inputFiles.toSet
      val e = intercept[IllegalArgumentException](
        IndexTable.append(Seq(4L, 5L).toDF("v"), "it_plain", "v", "writeSomeIndex"))
      assert(e.getMessage.contains("graft.buckets"), e.getMessage)
      spark.catalog.refreshTable("it_plain")
      assert(spark.table("it_plain").inputFiles.toSet == filesBefore)
      assert(spark.table("it_plain").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    } finally IndexTable.drop(spark, "it_plain")
  }

  test("rewrite keeps the rows and every graft.* property and records the re-derived count") {
    import spark.implicits._
    val rows = (1L to 3000L).map(i => (i % 97, s"row $i"))
    try {
      IndexTable.write(rows.take(1000).toDF("k", "s"), "it_grown", "k", 1,
        "graft.n" -> 3, "graft.salt" -> "o'brien")
      rows.drop(1000).grouped(500).foreach(part =>
        IndexTable.append(part.toDF("k", "s"), "it_grown", "k", "writeGrown"))
      val before = graftProps("it_grown")
      assert(before("graft.buckets") == "1")
      spark.conf.set(IndexBuckets.TargetBytesKey, "4KB")
      val derived = IndexBuckets.resolve(IndexTable.files(spark, "it_grown"), IndexBuckets.Auto)
      assert(derived > 1, s"the grown table must derive more than one bucket, got $derived")
      IndexTable.rewrite(spark, "it_grown", "it_grown_tmp")()
      assert(graftProps("it_grown") == before + ("graft.buckets" -> derived.toString))
      assert(bucketCount("it_grown").contains(derived))
      assert(spark.table("it_grown").as[(Long, String)].collect().sorted.toSeq == rows.sorted)
      assert(!spark.catalog.tableExists("it_grown_tmp"))
    } finally {
      spark.conf.unset(IndexBuckets.TargetBytesKey)
      IndexTable.drop(spark, "it_grown")
    }
  }
}
