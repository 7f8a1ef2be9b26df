package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1 — table readers over the shared parquet testdata (SURVEY.md §2a).
  *
  * Normalization happens once at ingest (the reference's equivalent is the
  * per-row ISO-string coercion at model.py:80-82): nanosecond parquet
  * timestamps — which Spark 4 refuses to read as TimestampType — are read
  * as Long via `spark.sql.legacy.parquet.nanosAsLong` and truncated to
  * microsecond timestamps with integer `div` (never double division: an
  * epoch-nanos value exceeds 2^53 and would lose precision through a
  * DoubleType round-trip).
  */
object Ingest {

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Runtime SQLConf: applies to NANOS-typed columns only; micro/milli
    // tables are unaffected.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (acc, f) =>
      // The events table's `ts` arrives as nanos-as-long; DuckDB truncates
      // ns→us on epoch_us(), so `div 1000` keeps hash parity.
      if (f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
        acc.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // Parquet writers disagree on isAdjustedToUTC; our convention is
      // naive-UTC (SURVEY.md §1c), so NTZ columns become UTC instants
      // (lossless under the UTC session timezone).
      else if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        acc.withColumn(f.name, col(f.name).cast("timestamp"))
      else acc
    }
  }
}
