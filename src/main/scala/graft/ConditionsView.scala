package graft

import graft.functions.{Asap, TimeWeight}
import graft.queries.TimeseriesQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's query surface, name for name — a user of the nine
  * `db/` SQL functions calls the same operations here against a conditions
  * DataFrame (parquet table, JDBC source, or any conforming view).
  *
  * Parameter shapes follow the stored procedures (subject, metric, epoch
  * range, resolution); the plpgsql-side derived-parameter logic lives in
  * [[TimeseriesQueries]] exactly as the reference keeps it in the
  * procedures (SURVEY §3.3).
  */
final class ConditionsView(val df: DataFrame) {

  def getAggregatedData(subject: String, of: String, startS: Long, endS: Long,
                        maxResultSize: Int): DataFrame =
    TimeseriesQueries.aggregatedData(df, subject, of, startS, endS, maxResultSize)

  def getAggregatedDataByInterval(subject: String, of: String, startS: Long,
                                  endS: Long, intervalS: Long): DataFrame =
    TimeseriesQueries.aggregatedDataByInterval(df, subject, of, startS, endS, intervalS)

  def getAggregatedDataByDay(subject: String, of: String,
                             startS: Long, endS: Long): DataFrame =
    TimeseriesQueries.aggregatedDataByDay(df, subject, of, startS, endS)

  def getMostFrequentValueByTimeInterval(subject: String, of: String,
                                         startS: Long, endS: Long): DataFrame =
    TimeseriesQueries.mostFrequentValueByInterval(df, subject, of, startS, endS)

  def getSampledData(spark: SparkSession, subject: String, of: String,
                     startS: Long, endS: Long, resolution: Int): DataFrame =
    Asap.sampledData(spark, df, subject, of, startS, endS, resolution)

  def getSampledDataWithTimeWeight(subject: String, of: String, startS: Long,
                                   endS: Long, method: String,
                                   resolution: Int): DataFrame =
    TimeWeight.sampledDataWithTimeWeight(df, subject, of, startS, endS,
      TimeWeight.method(method), resolution)

  def getUniqueMeasurementSubjects(startS: Long, endS: Long, of: String): DataFrame =
    TimeseriesQueries.uniqueMeasurementSubjects(df, of, startS, endS)

  def filterUnchangedRows(subject: String, of: String,
                          startS: Long, endS: Long): DataFrame =
    TimeseriesQueries.filterUnchangedRows(df, subject, of, startS, endS)

  def formatTimeIntervals(subject: String, of: String, startS: Long, endS: Long,
                          clockS: Long): DataFrame =
    TimeseriesQueries.formatTimeIntervals(df, subject, of, startS, endS, clockS)
}

object ConditionsView {
  /** Open the date-partitioned parquet conditions store. */
  def fromParquet(spark: SparkSession, path: String): ConditionsView =
    new ConditionsView(graft.sources.ConditionsTable.read(spark, path))
}
