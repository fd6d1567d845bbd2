package graft.streaming

import graft.sources.{ConditionsTable, ContinuousAggregate}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming-driven continuous-aggregate maintenance — the production
  * loop a live conditions store runs: each micro-batch appends to the
  * raw date-partitioned store, then refreshes the materialized rollup
  * for every date the batch touched (the TimescaleDB refresh-policy
  * shape, triggered by data arrival instead of a timer). The SEVENTH
  * external-state family to gate streams: the state is the rollup table
  * itself.
  *
  * Refresh recomputes dates ≥ the batch's min date from the FULL store,
  * so late rows inside a batch fold in correctly and a replayed batch is
  * idempotent for the rollup (the raw append is unguarded and stays
  * at-least-once — an idempotent keyed sink upgrades it).
  * Per-batch cost ∝ the days the batch touches, never the store's age.
  */
object CaggStream {

  /** One-time migration of a LEGACY flat raw store (written before the
    * store became date-partitioned) into the `date=` layout. Measured on
    * this Spark version (4.1, local probe): partition discovery over a
    * directory mixing root-level parquet files with `date=`
    * subdirectories does NOT fail — it SILENTLY DROPS the root-level
    * files' rows (the partitioned side wins). Without this migration a
    * resumed pre-partitioning store wouldn't crash; every read would
    * quietly exclude the legacy history — the worse failure mode.
    *
    * Crash-safe protocol (single writer — [[start]]'s foreachBatch is
    * the only store writer by contract); every step is idempotent, so a
    * crash anywhere resumes on the next start() with no duplicates:
    *  1. rename every root-level data file into a `.legacy_migration/`
    *    quarantine dir (per-file rename; a crash mid-way leaves a mix
    *    that the next start() finishes moving — reads never see root
    *    files and quarantine files double-counted, because neither side
    *    is under `date=` yet);
    *  2. STAGE: rewrite the quarantined rows with
    *    [[ConditionsTable.write]] into `.legacy_migration/.staged/`, one
    *    file per date (a crash mid-write leaves a partial staged dir
    *    that the next run's overwrite replaces — the store is
    *    untouched), then write a `_STAGED` marker that FREEZES the
    *    staged file set;
    *  3. MOVE-IN: rename each staged file under its store `date=`
    *    partition (as `migrated-<name>`). `_STAGED` makes this
    *    idempotent: a destination that already exists IS the same file
    *    from an interrupted previous run (staging never re-runs once the
    *    marker exists), so it's skipped — the window the old
    *    append-then-mark shape had between job commit and marker, where
    *    a crash re-appended the whole quarantine, no longer exists;
    *  4. refresh the rollup for the migrated dates (historical rows —
    *    no future batch's dates-≥-min refresh may ever reach them). Runs
    *    BEFORE the completion marker, so a crash re-runs the idempotent
    *    refresh instead of leaving the rollup permanently stale;
    *  5. write `_MIGRATED`, delete the quarantine. A stale `_MIGRATED`
    *    left by an interrupted cleanup is cleaned on the next start(),
    *    and NEW root files appearing after it re-run the migration from
    *    step 1 (the stale quarantine never mixes with them — it is
    *    removed first or the run aborts).
    * Remaining exposure: a legacy writer appending DURING this run,
    * after the root listing — that straggler is silently invisible to
    * reads (the mixed-layout drop above) until the next start()
    * migrates it; nothing is lost, serves of its dates are stale until
    * then. The migration refresh itself never reads the store root
    * (date dirs addressed directly via basePath), so a straggler can
    * never contaminate or wedge the refresh.
    */
  private def migrateLegacyFlatStore(spark: SparkSession, storePath: String,
                                     aggPath: String, widthS: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val quarantine = new org.apache.hadoop.fs.Path(root, ".legacy_migration")
    // finish (or clean up) any in-flight migration FIRST, so a surviving
    // quarantine can never mix already-migrated files with new ones
    completeMigration(spark, fs, root, quarantine, storePath, aggPath, widthS)
    val rootFiles = fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (rootFiles.isEmpty) return
    if (fs.exists(quarantine))
      throw new IllegalStateException(
        s"cagg store migration: cannot clear stale quarantine $quarantine; " +
          "store left as-is for retry")
    if (!fs.mkdirs(quarantine))
      throw new IllegalStateException(
        s"cagg store migration: cannot create quarantine $quarantine")
    // A false return (dest exists, FS refused the move) must ABORT the
    // migration: proceeding would leave a root-level file behind while
    // the rest migrates — exactly the mixed root-files + date= layout
    // this migration exists to prevent. The throw leaves the store
    // pre-marker, so the next start() retries.
    rootFiles.foreach { s =>
      val dest = new org.apache.hadoop.fs.Path(quarantine, s.getPath.getName)
      if (!fs.rename(s.getPath, dest))
        throw new IllegalStateException(
          s"cagg store migration: rename ${s.getPath} -> $dest failed; store left pre-marker for retry")
    }
    completeMigration(spark, fs, root, quarantine, storePath, aggPath, widthS)
  }

  /** Steps 2-5 of the migration protocol (see [[migrateLegacyFlatStore]]),
    * resumable from any crash point: stage (unless `_STAGED` already
    * froze a staged set), move staged files in (skipping ones an
    * interrupted run already moved), refresh the rollup for the migrated
    * dates, mark `_MIGRATED`, drop the quarantine.
    */
  private def completeMigration(spark: SparkSession,
                                fs: org.apache.hadoop.fs.FileSystem,
                                root: org.apache.hadoop.fs.Path,
                                quarantine: org.apache.hadoop.fs.Path,
                                storePath: String, aggPath: String,
                                widthS: Long): Unit = {
    import org.apache.hadoop.fs.Path
    if (!fs.exists(quarantine)) return
    if (!fs.getFileStatus(quarantine).isDirectory)
      throw new IllegalStateException(
        s"cagg store migration: $quarantine exists but is not a directory; " +
          "remove the obstruction and retry")
    val migratedMarker = new Path(quarantine, "_MIGRATED")
    if (fs.exists(migratedMarker)) {
      // completed migration whose cleanup didn't finish — just clean up.
      // A failed delete is harmless here: retried next start(), and the
      // caller aborts if new root files need the quarantine gone.
      fs.delete(quarantine, true)
      return
    }
    val stagedDir = new Path(quarantine, ".staged")
    val stagedMarker = new Path(quarantine, "_STAGED")
    val pending = fs.listStatus(quarantine)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (!fs.exists(stagedMarker)) {
      if (pending.isEmpty) { fs.delete(quarantine, true); return }
      ConditionsTable.write(spark.read.parquet(pending.map(_.getPath.toString).toSeq: _*)
        .withColumn("date", ConditionsTable.dateKey), stagedDir.toString)
      fs.create(stagedMarker, true).close()
    } else if (!fs.exists(stagedDir) && pending.nonEmpty)
      throw new IllegalStateException(
        s"cagg store migration: $stagedMarker present but $stagedDir is " +
          "missing while quarantined files remain — refusing to guess; " +
          "remove the marker to re-stage from the quarantine")
    val dateDirs =
      if (!fs.exists(stagedDir)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(stagedDir)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
    dateDirs.foreach { dd =>
      val destDir = new Path(root, dd.getPath.getName)
      if (!fs.exists(destDir) && !fs.mkdirs(destDir))
        throw new IllegalStateException(
          s"cagg store migration: cannot create $destDir")
      fs.listStatus(dd.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .foreach { f =>
          val dest = new Path(destDir, s"migrated-${f.getPath.getName}")
          if (fs.exists(dest)) {
            // _STAGED froze the staged set, so this IS the same file an
            // interrupted previous run already moved — drop the source
            if (!fs.delete(f.getPath, false))
              throw new IllegalStateException(
                s"cagg store migration: cannot drop already-moved ${f.getPath}")
          } else if (!fs.rename(f.getPath, dest))
            throw new IllegalStateException(
              s"cagg store migration: rename ${f.getPath} -> $dest failed; " +
                "store left pre-marker for retry")
        }
    }
    // migrated dates come from the staged LAYOUT (listing, no job), and
    // the refresh reads ONLY those date directories — addressed directly
    // (basePath keeps the partition column), never via the store root:
    // a rolled-back legacy writer may have appended NEW flat files at
    // the root while we were down, and a root read here would fail on
    // the mixed layout BEFORE the caller ever reaches the code that
    // quarantines them — wedging every subsequent start() at this line.
    // Cost ∝ migrated days either way.
    val dates = dateDirs.map(_.getPath.getName.stripPrefix("date=")).sorted
    if (dates.nonEmpty) {
      val migratedDirs = dateDirs
        .map(dd => new Path(root, dd.getPath.getName).toString)
      ContinuousAggregate.refresh(
        spark.read.option("basePath", storePath)
          .parquet(migratedDirs.toIndexedSeq: _*)
          .filter(col("date").isin(dates.toIndexedSeq: _*)),
        aggPath, widthS, dates.min)
    }
    fs.create(migratedMarker, true).close()
    fs.delete(quarantine, true)
    ()
  }

  def start(spark: SparkSession, inputDir: String, storePath: String,
            aggPath: String, checkpointDir: String, widthS: Long,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    migrateLegacyFlatStore(spark, storePath, aggPath, widthS)
    GateStream.startBatches(spark, inputDir, checkpointDir, trigger, maxFilesPerTrigger) {
      (batch, _) =>
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the raw store is DATE-PARTITIONED like the rollup, so the
          // refresh below reads only the touched date directories
          // (partition pruning on the filter) — per-batch cost ∝ the
          // days the batch touches, never the store's age
          ConditionsTable.append(b.withColumn("date", ConditionsTable.dateKey), storePath)
          val minDate = b.agg(min(ConditionsTable.dateKey)).head()
          if (!minDate.isNullAt(0)) {
            val md = minDate.getDate(0).toString
            ContinuousAggregate.refresh(
              spark.read.parquet(storePath).filter(col("date") >= lit(md)),
              aggPath, widthS, md)
          }
        } finally { b.unpersist(); () }
    }
  }
}
