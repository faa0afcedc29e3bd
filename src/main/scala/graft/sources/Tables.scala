package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders over the driver testdata layout
  * (`/root/testdata/sf{N}/<table>.parquet`, TESTDATA.md).
  *
  * These are thin: the point is that every query reads through here so
  * scan-level concerns (the ns-timestamp quirk, column pruning) are
  * handled once. Every loader plans through [[ParquetRead]]: the schema
  * comes from one footer read on the driver, so loading a table runs no
  * Spark job; the first job is the query's own.
  */
object Tables {

  /** `<dir>/<name>.parquet`, planned without a Spark job ([[ParquetRead]]). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetRead(spark, s"$dir/$name.parquet")

  /** Date-ish columns have shipped as DATE, TIMESTAMP and TIMESTAMP_NTZ
    * across driver rounds. Canonicalize to TimestampType: the session
    * timezone is pinned UTC (GraftSession), so the cast is
    * wall-clock-preserving for every encoding and agrees with DuckDB's
    * naive reading of the same parquet.
    */
  private def normTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn(c, col(c).cast("timestamp"))
    }

  def lineitem(s: SparkSession, d: String): DataFrame =
    normTs(table(s, d, "lineitem"), "l_shipdate")
  def orders(s: SparkSession, d: String): DataFrame =
    normTs(table(s, d, "orders"), "o_orderdate")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.parquet` has shipped with three `ts` encodings across
    * driver rounds: INT64 TIMESTAMP(NANOS) (readable only as a long under
    * `spark.sql.legacy.parquet.nanosAsLong`), TIMESTAMP_NTZ
    * (`isAdjustedToUTC=false` micros), and plain TIMESTAMP. Normalize all
    * three to the canonical downstream shape — `ts` as TimestampType and
    * `ts_ns` as epoch-nano longs — so every query sees one schema. The
    * session timezone is pinned UTC (GraftSession), so the NTZ cast
    * preserves the wall clock and all three encodings agree with the
    * DuckDB oracle's naive-timestamp reading. Nanos truncate to micros
    * with integral division (a double-precision divide would lose
    * sub-ms bits at 2024-era epoch-nano magnitudes).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }
  }

  /** The reference-domain message stream, synthesized from `events`
    * (column mapping per FIXTURES.md §2: event_id→msgId, user_id→username,
    * ts→sentTime epoch-millis, props→stanza, event_type→peer hint).
    */
  def messages(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      concat(lit("m"), col("event_id")).as("msgId"),
      concat(lit("user"), col("user_id")).as("username"),
      concat(col("event_type"), lit("@chat.example")).as("jid"),
      col("props").as("stanza"),
      expr("ts_ns div 1000000").as("sentTime")
    )
}
