package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every loader is a plain parquet scan so Catalyst can push filters and
  * prune columns into the scan. At cluster scale the same API reads a
  * directory of many files; nothing here assumes a single file.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** The events table's `ts` column has shipped in two physical
    * encodings across driver testdata generations: TIMESTAMP(NANOS)
    * (which Spark's vectorized reader rejects unless read as a plain
    * long via `nanosAsLong`) and TIMESTAMP(MICROS) (a normal Spark
    * TimestampType). We normalize BOTH to `ts_ns`, epoch nanoseconds as
    * a long, and keep event time in exact integer arithmetic
    * end-to-end; queries materialize calendar timestamps only at
    * lossless boundaries (e.g. hour starts). The micros→nanos widening
    * is exact (×1000), so the canonical micros axis downstream
    * (`ts_ns div 1000`) is identical for both encodings.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case TimestampType | TimestampNTZType =>
        // NTZ (isAdjustedToUTC=false) carries a naive wall-clock; the
        // cast to TimestampType interprets it in the session timezone,
        // which all graft sessions pin to UTC — the same convention
        // DuckDB's epoch_us applies to a naive TIMESTAMP. Micros→nanos
        // is an exact ×1000 widening.
        raw.withColumn(
            "ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
          .withColumnRenamed("ts", "ts_ns")
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other (expected " +
            "timestamp micros/nanos or nanos-as-long)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** The one session factory: tests and the Verify, Bench and PlanDump
  * mains all build their local session here, so every entry point runs
  * with the same settings. Adaptive execution is on by Spark's default.
  */
object GraftSession {
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
