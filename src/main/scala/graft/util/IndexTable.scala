package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.functions.col

/** The catalog contract of the persisted index tables (MinHash band
  * hashes, SimHash/aHash segments, line claims, URL claims, WARC digests,
  * link edges, IVF lists, overlap sketches, model and sample state): the
  * one place that drops, writes, appends, reads and rewrites an index
  * table's catalog entry.
  *
  * An index's parameters ride its table properties under `graft.*` —
  * sketch geometry (`graft.n`, `graft.bands`, `graft.maxHamming`, …) so
  * a probe validates against the writer's values with a catalog lookup,
  * and `graft.buckets`, the bucket count [[IndexBuckets]] resolved at the
  * seed write, so every append stays co-bucketed with the files already
  * there. Properties are read from and recorded in the session catalog's
  * table metadata directly: no value passes through the SQL parser, so a
  * quote in a value is stored as written.
  */
object IndexTable {

  private def ident(spark: SparkSession, table: String) =
    spark.sessionState.sqlParser.parseTableIdentifier(table)

  private def metadata(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(ident(spark, table))

  /** Drop a managed table AND its warehouse directory. `DROP TABLE` alone
    * is not enough across sessions: a fresh in-memory catalog doesn't know
    * the table, but the previous session's directory survives on disk and
    * `saveAsTable` then fails with LOCATION_ALREADY_EXISTS. Index writers
    * call this first so an index rebuild works from any session.
    */
  def drop(spark: SparkSession, table: String): Unit = {
    // resolve the on-disk location from the CATALOG (db-qualified names,
    // non-default current databases and relocated tables all break a
    // <warehouse>/<name> reconstruction); for a stale directory with no
    // catalog entry, the catalog's own default path is the right guess.
    // External tables are dropped catalog-only — their data isn't ours.
    val id = ident(spark, table)
    val catalog = spark.sessionState.catalog
    val loc =
      if (!catalog.tableExists(id))
        Some(new org.apache.hadoop.fs.Path(catalog.defaultTablePath(id)))
      else {
        val meta = catalog.getTableMetadata(id)
        if (meta.tableType == CatalogTableType.MANAGED)
          Some(new org.apache.hadoop.fs.Path(meta.location))
        else None
      }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    loc.foreach { p =>
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Every property of `table`, from the session catalog's metadata. */
  def props(spark: SparkSession, table: String): Map[String, String] =
    metadata(spark, table).properties

  /** One property of `table`; a missing key fails naming the table, the
    * key and the `writer` that records it.
    */
  def prop(spark: SparkSession, table: String, key: String, writer: String): String =
    props(spark, table).getOrElse(key, throw new IllegalArgumentException(
      s"$table carries no $key property — not written by $writer"))

  /** Record `props` on `table` (values by `toString`), keeping its other
    * properties, and drop the session's cached relation of it.
    */
  def setProps(spark: SparkSession, table: String, props: (String, Any)*): Unit = {
    val catalog = spark.sessionState.catalog
    val id = ident(spark, table)
    val meta = catalog.getTableRawMetadata(id)
    catalog.alterTable(meta.copy(
      properties = meta.properties ++ props.map { case (k, v) => k -> v.toString }))
    catalog.invalidateCachedTable(id)
  }

  /** Persist `frame` as index `table`: drop the old table and its
    * directory, resolve `buckets` ([[IndexBuckets.resolve]]: a positive
    * count verbatim, [[IndexBuckets.Auto]] derived from the frame's size),
    * write bucketed and sorted on `key`, and record `graft.buckets` with
    * `props`.
    */
  def write(frame: DataFrame, table: String, key: String, buckets: Int,
            props: (String, Any)*): Unit = {
    val spark = frame.sparkSession
    drop(spark, table)
    val b = IndexBuckets.resolve(frame, buckets)
    frame.write.format("parquet")
      .bucketBy(b, key).sortBy(key)
      .mode("overwrite").saveAsTable(table)
    setProps(spark, table, props :+ ("graft.buckets" -> b): _*)
  }

  /** Append `frame` to a [[write]] table at its recorded `graft.buckets`
    * (a table without one fails before anything is written). The bucketed
    * append `saveAsTable` re-validates the catalog's bucket spec — a
    * mismatch throws — so every new file is hash-bucketed on `key`; a
    * plain `insertInto` would write unbucketed files that a co-partitioned
    * probe silently misses. The table is then refreshed: a reader that
    * already scanned it (the previous micro-batch of a streaming
    * append→probe loop) would otherwise keep the pre-append file listing.
    */
  def append(frame: DataFrame, table: String, key: String, writer: String): Unit = {
    val spark = frame.sparkSession
    val buckets = prop(spark, table, "graft.buckets", writer).toInt
    frame.write.format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .mode("append").saveAsTable(table)
    spark.catalog.refreshTable(table)
  }

  /** `table`'s rows read as PLAIN parquet files from its catalog
    * location. A bucketed-table scan advertises HashPartitioning on the
    * bucket key, so the optimizer drops a repartition above it as
    * redundant, and when the bucketed scan is disabled as not beneficial
    * the writer inherits one partition per file: a compaction would emit
    * as many files as it read. A plain file scan claims no partitioning,
    * and its size estimate is the files' bytes on disk.
    */
  def files(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(metadata(spark, table).location.toString)

  /** Rewrite index `table` (and its side tables, `table + suffix` for
    * each of `sides`) through `tmp`, crash-safely, in two phases.
    *
    * Phase 1, `build(tmp)`, writes the replacement — rows, `graft.*`
    * properties and each `tmp + suffix` — while the live index stays
    * intact, so a failed build changes nothing. By default it copies the
    * live table at a bucket count re-derived from its current size (the
    * count latched at the seed write was sized for the seed, not for the
    * table as it has grown): a compaction.
    *
    * Phase 2 drops the live tables and rebuilds them FROM the tmp
    * tables' parquet files, in the tmp table's layout (bucket spec or
    * partition columns), with every `graft.*` property of it, then drops
    * the tmp tables. It is disk-backed, so an executor lost mid-copy is a
    * task retry; a snapshot in executor memory (`localCheckpoint`) is not
    * recomputable once the live table is dropped. The crash window is
    * phase 2 after the drop, when the tmp tables still hold the full
    * content (recovery: re-run the copy by hand). An `ALTER TABLE RENAME`
    * swap would save the second write, but does not reliably carry
    * partitioned managed-table data in the in-memory catalog.
    */
  def rewrite(spark: SparkSession, table: String, tmp: String, sides: Seq[String] = Nil)(
      build: String => Unit = copy(spark, table, _,
        Some(IndexBuckets.resolve(files(spark, table), IndexBuckets.Auto)))): Unit = {
    val tmps = tmp +: sides.map(tmp + _)
    tmps.foreach(drop(spark, _))
    build(tmp)
    (table +: sides.map(table + _)).foreach(drop(spark, _))
    copy(spark, tmp, table)
    sides.foreach(s => copy(spark, tmp + s, table + s))
    tmps.foreach(drop(spark, _))
  }

  /** `from`'s files written to `to` in `from`'s layout — bucketed at
    * `buckets` (default: its own count) or partitioned, each bucket or
    * partition value written by one task, so one file each — and its
    * `graft.*` properties, `graft.buckets` recording the count written.
    */
  private def copy(spark: SparkSession, from: String, to: String,
                   buckets: Option[Int] = None): Unit = {
    val meta = metadata(spark, from)
    val rows = files(spark, from)
    val parts = meta.partitionColumnNames
    val bucketed = meta.bucketSpec.map(spec => spec -> buckets.getOrElse(spec.numBuckets))
    val writer = bucketed match {
      case Some((spec, n)) =>
        val keys = spec.bucketColumnNames
        val w = rows.repartition(n, keys.map(col): _*).write
          .bucketBy(n, keys.head, keys.tail: _*)
        spec.sortColumnNames match {
          case Seq() => w
          case sort => w.sortBy(sort.head, sort.tail: _*)
        }
      case None if parts.nonEmpty =>
        rows.repartition(parts.map(col): _*).write.partitionBy(parts: _*)
      case None => rows.write
    }
    writer.format("parquet").mode("overwrite").saveAsTable(to)
    setProps(spark, to, (meta.properties.filter { case (k, _) => k.startsWith("graft.") } ++
      bucketed.map { case (_, n) => "graft.buckets" -> n.toString }).toSeq: _*)
  }
}
