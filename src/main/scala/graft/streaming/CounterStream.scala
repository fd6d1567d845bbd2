package graft.streaming

import graft.queries.TimeseriesQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming counter-to-rate: the per-pair reset-aware delta stream
  * ([[graft.queries.TimeseriesQueries.counterToRate]]) over a LIVE
  * conditions stream, one `flatMapGroupsWithState` per subject.
  *
  * State is exactly one (last_t_us, last_c) pair per subject — the
  * minimal carry that lets each micro-batch emit its pair deltas,
  * including the bridge pair that spans the batch boundary. Per-batch
  * cost ∝ batch size; state size ∝ #subjects, independent of stream age.
  *
  * Ordering contract: rows are sorted (t, c) WITHIN each micro-batch
  * (task memory ∝ one subject's batch slice), and batches must be
  * non-overlapping and time-ascending per subject — the Event Hub
  * ingestion contract ([[IngestPipeline]] preserves partition order per
  * device). A reading older than the carried state would pair against
  * the wrong predecessor; at-least-once replays of a whole batch
  * re-emit the same rows (idempotent under a keyed sink, the
  * [[DedupStream]] caveat).
  *
  * Emitted rows match `counterToRate` column-for-column, so the batch
  * oracle gates the stream: feeding the range in ordered slices must
  * reproduce the batch output exactly.
  */
object CounterStream {

  def deltas(conditions: DataFrame, of: String, scale: Int = 100): DataFrame = {
    require(scale > 0, "scale must be positive")
    val spark = conditions.sparkSession
    import spark.implicits._
    conditions.filter(
        TimeseriesQueries.series(of) && col("measurement_number").isNotNull)
      .select(col("measurement_subject"),
        unix_micros(col("timestamp")).as("t_us"),
        round(col("measurement_number") * scale, 0).cast("long").as("c"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (subject: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[(Long, Long)]) =>
          val sorted = rows.map { case (_, t, c) => (t, c) }.toArray.sortInPlace()
          var prev = state.getOption
          val out = sorted.iterator.flatMap { case (t, c) =>
            val pair = prev.map { case (pt, pc) =>
              (pt, t, subject,
                if (c < pc) 0L else c - pc, // reset: rate restarts at 0
                t - pt, c < pc)
            }
            prev = Some((t, c))
            pair
          }.toVector
          prev.foreach(state.update)
          out.iterator
      }
      .toDF("t_start_us", "t_end_us", "measurement_subject",
        "dv_scaled", "dt_us", "reset")
  }
}
