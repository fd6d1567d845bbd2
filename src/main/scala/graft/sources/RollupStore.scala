package graft.sources

import graft.queries.TimeseriesQueries
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The rollup-store contract: the only code that writes, reads and checks
  * a continuous-aggregate store's recorded parameters. Every rollup kind
  * ([[ContinuousAggregate]]'s avg, distinct and stats stores,
  * [[PercentileSketch]]) creates, refreshes and serves through it and
  * keeps only its partials builder and its serve aggregation.
  *
  * A store is date-partitioned parquet of partial rows keyed by
  * `bucket_s` on the one bucket grid below (the analogue of a Timescale
  * cagg's fixed `time_bucket`), plus one sidecar per creation parameter,
  * each holding one decimal long (underscore-prefixed, so Spark's file
  * listing skips them). A mismatched parameter gives plausible-looking,
  * wrong numbers, so every refresh and serve checks its values against
  * the recorded ones:
  *  - `_graft_width`, the stored bucket width: a serve width that is not
  *    a multiple of it assigns whole stored buckets to the wrong serve
  *    bucket, a refresh at another width corrupts the store, and the
  *    serves' date pruning needs it;
  *  - `_graft_scale` (avg, stats, percentile): partials hold
  *    `Σ round(value·scale)`, so another scale mixes magnitudes or
  *    divides by the wrong constant;
  *  - `_graft_subbits` (percentile): another value reconstructs wrong
  *    cell edges;
  *  - `_graft_grid`, the origin the stored buckets sit on (see
  *    [[OriginS]]).
  * A value a store does not record (written before its sidecar existed)
  * is not checked; the grid's absence has its own rule ([[requireGrid]]).
  */
private[sources] object RollupStore {

  /** The one bucket grid of the whole rollup family. Stored buckets AND
    * serve-time re-bucketing anchor at
    * [[graft.queries.TimeseriesQueries.BucketOriginS]] (2000-01-03, the
    * TimescaleDB `time_bucket` origin that makes weeks start Monday) —
    * the SAME grid the B-functions bucket raw rows on. The grids
    * coincide with plain epoch flooring for any width that divides the
    * origin (hour, day — all the oracle-gated widths), but a weekly
    * serve on an epoch-0 grid would split weeks on Thursday while
    * `aggregatedDataByInterval(604800)` splits them on Monday; a rollup
    * claiming to serve the B2 shape must share B2's grid at EVERY width.
    */
  val OriginS: Long = TimeseriesQueries.BucketOriginS

  /** `time_bucket(widthS, timestamp)` on the origin grid (µs-exact). */
  def bucketOfTimestamp(widthS: Long): Column = {
    val wUs = widthS * 1000000L
    val oUs = OriginS * 1000000L
    expr(s"(((unix_micros(timestamp) - ${oUs}L) - " +
      s"pmod(unix_micros(timestamp) - ${oUs}L, ${wUs}L)) div ${wUs}L) " +
      s"* ${widthS}L + ${OriginS}L")
  }

  /** The coarser serve bucket of a stored `bucket_s`, same grid. */
  def serveBucketOf(widthS: Long): Column =
    expr(s"(((bucket_s - ${OriginS}L) - pmod(bucket_s - ${OriginS}L, ${widthS}L)) " +
      s"div ${widthS}L) * ${widthS}L + ${OriginS}L")

  /** A store's creation parameters: the stored bucket width, and `scale`
    * and `subBits` for the kinds that have them. A serve passes its serve
    * width (a real-time serve, the stored width) and the values it reads
    * the partials with.
    */
  final case class Params(widthS: Long, scale: Option[Int] = None,
                          subBits: Option[Int] = None)

  private val WidthFile = "_graft_width"
  private val ScaleFile = "_graft_scale"
  private val SubBitsFile = "_graft_subbits"
  val GridFile = "_graft_grid"

  /** The values a store recorded, each sidecar read once; `None` where
    * the store has no such sidecar.
    */
  final case class Recorded(path: String, widthS: Option[Long],
                            scale: Option[Long], subBits: Option[Long],
                            grid: Option[Long])

  def recorded(spark: SparkSession, path: String): Recorded = {
    def read(name: String): Option[Long] = {
      val p = new Path(path, name)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = try Some(fs.open(p)) catch { case _: java.io.FileNotFoundException => None }
      in.map { s =>
        val src = scala.io.Source.fromInputStream(s, "UTF-8")
        try src.mkString.trim.toLong finally { src.close(); s.close() }
      }
    }
    Recorded(path, read(WidthFile), read(ScaleFile), read(SubBitsFile), read(GridFile))
  }

  /** Write one sidecar, replacing any previous value. */
  def writeSidecar(spark: SparkSession, path: String, name: String,
                   value: Long): Unit = {
    val p = new Path(path, name)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(value.toString.getBytes("UTF-8")) finally out.close()
  }

  private def record(spark: SparkSession, path: String, p: Params): Unit = {
    writeSidecar(spark, path, WidthFile, p.widthS)
    p.scale.foreach(s => writeSidecar(spark, path, ScaleFile, s.toLong))
    p.subBits.foreach(b => writeSidecar(spark, path, SubBitsFile, b.toLong))
    writeSidecar(spark, path, GridFile, OriginS)
  }

  private def requirePositive(p: Params): Unit =
    require(p.widthS > 0 && p.scale.forall(_ > 0),
      s"widthS and scale must be positive, got widthS ${p.widthS}, " +
        s"scale ${p.scale.getOrElse("-")}")

  /** `scale` and `subBits`, where the caller has them, equal the
    * recorded values.
    */
  private def requireMatching(r: Recorded, p: Params, what: String): Unit = {
    def check(name: String, file: String, given: Option[Int], stored: Option[Long]): Unit =
      for (g <- given; s0 <- stored) require(g == s0,
        s"$what $name $g does not match the store's $name $s0 " +
          s"(recorded in ${r.path}/$file)")
    check("scale", ScaleFile, p.scale, r.scale)
    check("subBits", SubBitsFile, p.subBits, r.subBits)
  }

  /** Validate the store's bucket grid for a refresh or serve at `widthS`
    * (the STORED width where known — the grid question is about the
    * buckets already on disk). The grid moved from epoch-floored to
    * origin-anchored when [[OriginS]] was introduced, and the width and
    * scale sidecars cannot see that difference: a store that records a
    * width but no grid passes only at widths where the two grids
    * coincide (widthS | OriginS), and one that records neither is
    * pre-sidecar entirely and keeps its legacy skip.
    */
  private def requireGrid(r: Recorded, widthS: Long, what: String): Unit =
    r.grid match {
      case Some(g0) => require(g0 == OriginS,
        s"$what grid origin $OriginS does not match the store's grid $g0 " +
          s"(recorded in ${r.path}/$GridFile) — mixed-grid rollups serve " +
          "buckets from two different alignments")
      case None => require(r.widthS.isEmpty || OriginS % widthS == 0,
        s"store at ${r.path} predates the grid sidecar and width $widthS " +
          s"does not divide the bucket origin $OriginS — epoch-floored " +
          "and origin-anchored grids differ at this width, so a " +
          s"$what could mix bucket alignments; rebuild the store with " +
          "create()")
    }

  /** Full build: write `build(conditions)` date-partitioned, replacing
    * the store, then record `p`.
    */
  def create(conditions: DataFrame, path: String, p: Params)
            (build: DataFrame => DataFrame): Unit = {
    requirePositive(p)
    writeByDate(build(conditions), path)
    record(conditions.sparkSession, path, p)
  }

  /** Incremental refresh: check `p` against what the store recorded,
    * rebuild ONLY dates ≥ `sinceDate` (ISO `yyyy-MM-dd`) and overwrite
    * exactly those date partitions (dynamic partition overwrite — the
    * analogue of refreshing a chunk range, cost ∝ the refreshed days),
    * then record `p`: a store maintained only by refreshes (e.g.
    * `CaggStream`'s) gets its sidecars on its first refresh.
    */
  def refresh(conditions: DataFrame, path: String, p: Params, sinceDate: String)
             (build: DataFrame => DataFrame): Unit = {
    require(sinceDate.matches("""\d{4}-\d{2}-\d{2}"""),
      s"sinceDate must be yyyy-MM-dd, got $sinceDate")
    requirePositive(p)
    val spark = conditions.sparkSession
    val r = recorded(spark, path)
    r.widthS.foreach(w0 => require(w0 == p.widthS,
      s"refresh width ${p.widthS} does not match the store's width $w0 " +
        s"(recorded in $path/$WidthFile)"))
    requireMatching(r, p, "refresh")
    requireGrid(r, p.widthS, "refresh")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try writeByDate(build(conditions.filter(ConditionsTable.dateKey >= lit(sinceDate))), path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    record(spark, path, p)
  }

  private def writeByDate(rows: DataFrame, path: String): Unit =
    rows.repartition(col("date"))
      .write.mode("overwrite").partitionBy("date").parquet(path)

  /** The stored partials in the kind's `schema`: a store with no data
    * files (created over an empty slice) reads as an empty frame.
    */
  private def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** The stored rows whose buckets lie in [startS, endS), date-pruned:
    * rows of bucket b carry timestamps in [b, b + storedWidth), so they
    * live only in dates [date(startS), date(endS + storedWidth)]. Spark
    * cannot infer this from the `bucket_s` filter, so without it every
    * serve lists and scans ALL date partitions — cost linear in store
    * age. Pruned only when the stored width is known: a guessed slack
    * could prune a straddling bucket's rows.
    */
  private def slice(roll: DataFrame, startS: Long, endS: Long,
                    storedWidthS: Option[Long]): DataFrame =
    storedWidthS.fold(roll)(w0 =>
        roll.filter(ConditionsTable.datesCovering(startS, endS + w0)))
      .filter(col("bucket_s") >= startS && col("bucket_s") < endS)

  /** The stored partials a serve at `p.widthS` reads: buckets in
    * [startS, endS), date-pruned. Checks that the serve width is a
    * positive multiple of the stored width, that `p`'s other values
    * match the recorded ones, and the grid.
    *
    * Containment is HALF-OPEN and both bounds should align to the STORED
    * bucket width: the rollup filters at bucket granularity, and aligned
    * half-open bounds make the bucket filter equal the row-level filter
    * (a closed upper bound would admit the raw rows between `endS` and
    * the end of its bucket).
    */
  def serve(spark: SparkSession, path: String, schema: StructType,
            startS: Long, endS: Long, p: Params): DataFrame = {
    require(p.widthS > 0, s"serve width ${p.widthS} must be positive")
    val r = recorded(spark, path)
    r.widthS.foreach(w0 => require(p.widthS % w0 == 0,
      s"serve width ${p.widthS} is not a multiple of the stored width $w0 " +
        s"(recorded in $path/$WidthFile)"))
    requireMatching(r, p, "serve")
    requireGrid(r, r.widthS.getOrElse(p.widthS), "serve")
    slice(read(spark, path, schema), startS, endS, r.widthS)
  }

  /** REAL-TIME split (TimescaleDB real-time aggregate semantics):
    * materialized buckets below the watermark UNION the raw tail past it.
    * A plain serve loses every row newer than the last refresh; Timescale
    * caggs keep live rows visible by defaulting to
    * `materialized_only = false`.
    *
    * The watermark is the end of the last materialized bucket (global,
    * like Timescale's per-cagg watermark), `startS` on an empty store.
    * `stored` maps the series' stored rows below it, and `tail` the raw
    * rows of the series in [max(watermark, startS), endS) with their
    * `bucket_s` at the stored width, to frames with one shape; the kind
    * serves their union. Both sides' buckets lie in [startS, endS), so a
    * serve bucket straddling the watermark merges exactly.
    *
    * `p` holds the stored width (a parameter: an empty store cannot tell
    * it) and the scale the tail is built at. The stored width must divide
    * `serveWidthS` and equal the recorded one, or date pruning and the
    * watermark would silently drop stored buckets.
    *
    * Lag caveat (Timescale's too): a row that arrives IN an already
    * materialized bucket is not visible until the next refresh folds it
    * in — the watermark splits by time, not by arrival.
    */
  def realtime(spark: SparkSession, path: String, schema: StructType,
               raw: DataFrame, of: String, subject: Option[String],
               startS: Long, endS: Long, serveWidthS: Long, p: Params)
              (stored: DataFrame => DataFrame,
               tail: DataFrame => DataFrame): DataFrame = {
    val storedWidthS = p.widthS
    require(storedWidthS > 0 && serveWidthS % storedWidthS == 0,
      s"serve width $serveWidthS is not a multiple of the stored width $storedWidthS")
    val r = recorded(spark, path)
    requireMatching(r, p, "serve")
    r.widthS.foreach(w0 => require(w0 == storedWidthS,
      s"caller-supplied storedWidthS $storedWidthS does not match the " +
        s"store's width $w0 (recorded in $path/$WidthFile) — date " +
        "pruning and the watermark would silently drop stored buckets"))
    requireGrid(r, storedWidthS, "realtime serve")
    val roll = read(spark, path, schema)
    val watermarkS = watermarkOf(roll, storedWidthS, startS)
    val below = slice(roll, startS, endS, Some(storedWidthS))
      .filter(TimeseriesQueries.series(of, subject) && col("bucket_s") < watermarkS)
    val rawTail = TimeseriesQueries.scan(raw, of, math.max(watermarkS, startS), endS, subject)
      .filter(col("timestamp") < timestamp_seconds(lit(endS)))
      .withColumn("bucket_s", bucketOfTimestamp(storedWidthS))
      .filter(col("bucket_s") >= startS && col("bucket_s") < endS)
    stored(below).unionByName(tail(rawTail))
  }

  /** End of the last materialized bucket, derived in two
    * partition-pruned steps: max `date` partition, then max `bucket_s`
    * inside that one partition — never a full rollup scan. `startS` when
    * the store is empty.
    */
  private def watermarkOf(roll: DataFrame, storedWidthS: Long, startS: Long): Long = {
    val maxDate = roll.select(max(col("date"))).head()
    if (maxDate.isNullAt(0)) startS
    else roll.filter(col("date") === maxDate.getDate(0))
      .agg(max(col("bucket_s"))).head().getLong(0) + storedWidthS
  }
}
