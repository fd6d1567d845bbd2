package graft.util

import org.apache.spark.sql.SparkSession

/** Size-derived shuffle parallelism for STREAMING queries.
  *
  * Batch queries already size their post-shuffle partitions adaptively
  * (AQE coalescing against `spark.sql.adaptive.advisoryPartitionSizeInBytes`).
  * A streaming query only partly can: Spark 4.1.2 plans a STATELESS
  * micro-batch adaptively (the MQTT sink's plan is an `AdaptiveSparkPlan`
  * whose `AQEShuffleRead` coalesces the date shuffle), but it turns AQE
  * off for a query holding a stateful operator (the BMW dedup, every
  * windowed gate), and that operator's partition count is latched into
  * the checkpoint from `spark.sql.shuffle.partitions` at FIRST query start.
  * Leaving that at a constant (the session's core count) is therefore a
  * constant tuned for one deployment: at toy input volumes every
  * micro-batch pays ~32 state-store instances + 32-task shuffles + a
  * 32-file sink commit for kilobytes of data (measured: the
  * q_agg_interval_stream drain shape at sf0.1 runs 7.0–12.3 s at 32
  * partitions vs 3.0–4.0 s at 1–8, identical results), while a
  * planet-scale stream would want far MORE than the core count.
  *
  * [[withSizedShufflePartitions]] derives the stream's shuffle-partition
  * count from the INPUT SIZE it is about to process — the same
  * bytes-per-partition policy AQE applies to batch shuffles, reusing
  * AQE's own advisory size so the two stay aligned — and scopes a
  * `spark.sql.shuffle.partitions` set/restore around the stream start.
  * The scoped set is safe because StreamExecution clones the session
  * SYNCHRONOUSLY in its constructor, so the derived value is latched
  * into the stream before the restore runs (see the method doc for why
  * a cloned session per start was measured worse and abandoned).
  *
  * An EMPTY input directory carries no sizing signal: the session's
  * provisioned setting is left untouched rather than latching 1 into
  * the checkpoint forever (Spark pins the stateful-operator partition
  * count from the conf at FIRST query start — a long-lived stream
  * started before its data arrives must keep the operator-provisioned
  * width). Deployments whose first-start volume is not representative
  * of steady state should pin `graft.stream.shufflePartitions` from the
  * EXPECTED steady-state volume — see SCALING.md's provisioning rule.
  *
  * Overrides, for deployments whose steady-state batch volume is not
  * proportional to the input directory at start time:
  *  - `graft.stream.shufflePartitions` — explicit partition count, used
  *    verbatim;
  *  - `graft.stream.targetPartitionBytes` — bytes per partition for the
  *    derivation (default: AQE's advisory size, itself 64 MB by default).
  *
  * Result-safety: every operator in this engine is partition-count
  * independent by construction (exact integer/rounded arithmetic,
  * oracle-replayed under any partitioning), so this changes cost only.
  */
object StreamParallelism {

  val ForcedKey = "graft.stream.shufflePartitions"
  val TargetBytesKey = "graft.stream.targetPartitionBytes"
  private val AdvisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** Total bytes under `path` (0 when absent). One recursive listing —
    * the same work the stream source's first listing does anyway.
    */
  def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** The validated `graft.stream.shufflePartitions` override, if set.
    * Validated HERE (parse + positive, message naming the key — the
    * same discipline as the TargetBytesKey require) so a typo'd value
    * fails at stream start with a readable error instead of a bare
    * NumberFormatException or an opaque downstream failure from a
    * non-positive `spark.sql.shuffle.partitions`.
    */
  private[util] def forcedPartitions(spark: SparkSession): Option[Int] =
    spark.conf.getOption(ForcedKey).map { forced =>
      val n =
        try forced.trim.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$ForcedKey must be a positive integer, got '$forced'") }
      require(n > 0, s"$ForcedKey must be positive, got $n")
      n
    }

  /** ceil(bytes / targetPartitionBytes), floored at 1 — more partitions
    * than the session constant when the data calls for it, fewer when it
    * doesn't. No core-count term on purpose: a partition above the
    * target size is worth a task wherever it runs, and a partition far
    * below it is pure per-partition overhead on any cluster.
    */
  def sizedPartitions(spark: SparkSession, bytes: Long): Int =
    forcedPartitions(spark) match {
      case Some(forced) => forced
      case None =>
        val target = spark.conf.getOption(TargetBytesKey)
          .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
          .getOrElse(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get(AdvisoryKey, "64MB")))
        require(target > 0, s"$TargetBytesKey must be positive, got $target")
        val n = (bytes + target - 1) / target
        math.max(1L, math.min(n, Int.MaxValue.toLong)).toInt
    }

  /** Run `start` (a stream start) with the session's
    * `spark.sql.shuffle.partitions` scoped to the size-derived count
    * for `inputPath`, restoring the previous value afterwards.
    *
    * Why a scoped set instead of a cloned session: StreamExecution
    * clones the session SYNCHRONOUSLY in its constructor (verified
    * against the 4.1.2 bytecode — `sparkSessionForStream` is a final
    * constructor field), so the derived value is captured by the time
    * `start` returns and the restore cannot race the stream. A fresh
    * `newSession()` per start was measured to degrade the whole suite
    * progressively: every session registers an execution-listener on
    * the shared bus and builds its own function registry, so hundreds
    * of drain restarts taxed every LATER job (bench rows after the
    * stream families drifted +30-200% in a full run; scoped-set runs
    * don't). Callers starting streams CONCURRENTLY from one session
    * should instead pin `graft.stream.shufflePartitions` per session.
    */
  def withSizedShufflePartitions[T](spark: SparkSession,
                                    inputPath: String)(start: => T): T = {
    // an EMPTY dir carries no sizing signal — keep the session's
    // provisioned setting rather than latching 1 into a fresh
    // checkpoint forever (the object doc's start-before-data rule);
    // a forced override still applies verbatim
    val n = forcedPartitions(spark).orElse {
      val bytes = dirBytes(spark, inputPath)
      if (bytes == 0L) None else Some(sizedPartitions(spark, bytes))
    }
    n match {
      case None => start
      case Some(parts) =>
        val key = "spark.sql.shuffle.partitions"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, parts.toString)
        try start
        finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
    }
  }
}
