package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All graft queries take `(SparkSession, sfDir)` and read parquet from the
  * given scale-factor directory; filters/projections above these scans are
  * pushed into the parquet reader by Catalyst (verify with
  * `.explain("formatted")` → `PushedFilters` / `ReadSchema`).
  */
object Tables {
  import org.apache.spark.sql.functions._

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet's `ts` encoding has varied across driver testdata
    * generations: INT64 TIMESTAMP(NANOS) (reads as LongType nanos under
    * spark.sql.legacy.parquet.nanosAsLong=true, which GraftSession sets)
    * and, since the round-9 regeneration, plain
    * timestamp[us] with isAdjustedToUTC=false (reads as TIMESTAMP_NTZ).
    * Normalize BOTH to a session-TZ TimestampType column (sessions run
    * UTC, so the NTZ cast relabels the same wall-clock micros DuckDB's
    * naive TIMESTAMP oracle sees) so queries are encoding-agnostic. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        // integer DIV, not `/`: nanos ~1.7e18 exceed double's 53-bit
        // mantissa, so float division rounds the last microsecond while
        // DuckDB (and any exact reader) floors it.
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        // CONTRACT: the NTZ->LTZ cast relabels wall-clock micros in the
        // SESSION time zone, so this branch is only instant-correct in a
        // UTC session — which every graft entrypoint pins (GraftSession,
        // which builds them all, sets spark.sql.session.timeZone=UTC).
        // A non-UTC ad-hoc session
        // would shift these instants by its zone offset; the nanos
        // branch above has no such dependence (timestamp_micros is
        // absolute).
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = normalizeTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
