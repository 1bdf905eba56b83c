package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet fixtures
  * (see TESTDATA.md). One method per table; every query module goes
  * through here so that scan-level options (pushdown, schema) stay
  * uniform.
  *
  * At 100 TB these reads become distributed parquet scans; nothing here
  * materializes on the driver. Filters/projections applied by callers
  * are pushed into the scan by Catalyst.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def load(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame = load("region")
  def nation: DataFrame = load("nation")
  def customer: DataFrame = load("customer")
  def supplier: DataFrame = load("supplier")
  def part: DataFrame = load("part")
  def orders: DataFrame = load("orders")
  def lineitem: DataFrame = load("lineitem")

  /** `events.ts` has shipped as either parquet TIMESTAMP(NANOS) — which
    * Spark's vectorized reader surfaces as long under the legacy
    * nanosAsLong conf — or plain TIMESTAMP(MICROS). Branch on the loaded
    * type so the public schema (ts: timestamp, micros) is identical for
    * both fixture layouts; nanos are truncated to micros, the same
    * truncation DuckDB applies.
    */
  def events: DataFrame = {
    // the one place this is set: events is the only nanosecond parquet,
    // so the session factory leaves it off (guarded, so shared conf is
    // not re-written on every call)
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→LTZ branch below is identity ONLY in a UTC session; an
    // ad-hoc session in another zone would silently shift every
    // ts-derived result. Enforce here, mirroring the nanosAsLong guard.
    if (!spark.conf.getOption("spark.sql.session.timeZone").contains("UTC"))
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load("events")
    val df = raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // timestamp[us] without tz reads as TIMESTAMP_NTZ; downstream
      // queries (unix_micros, bigint casts, windows) expect TIMESTAMP.
      // All engine sessions run UTC, so the NTZ→LTZ cast is identity on
      // the stored micros — the same naive reading DuckDB applies.
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already TIMESTAMP
    }
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
  def documents: DataFrame = load("documents")
  def embeddings: DataFrame = load("embeddings")
}
