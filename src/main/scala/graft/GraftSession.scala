package graft

import org.apache.spark.sql.SparkSession

/** The graft engine's one SparkSession factory.
  *
  * Every graft session — Verify, Bench, the tools/ mains and the shared
  * test session — is built here, so they all run the same engine
  * configuration:
  *  - ANSI off: the reference's semantics rely on null-on-bad-cast;
  *  - nanosAsLong: tolerated events.parquet generations carrying INT64
  *    TIMESTAMP(NANOS); harmless on the current timestamp[us] encoding
  *    (Tables.normalizeTs handles both);
  *  - partition-type inference off: silver partition values are strings;
  *  - UTC, AQE on (incl. skew-join handling), shuffle partitions sized to
  *    the executor count rather than the 200 default;
  *  - `spark.sql.extensions=graft.GraftExtensions`: the graft SQL
  *    functions and the RangeJoin rule exist from session build on, and
  *    graft code relies on that instead of registering them per query.
  *
  * 100 TB notes baked in as defaults rather than comments: AQE coalesces
  * small post-shuffle partitions and splits skewed ones
  * (spark.sql.adaptive.* are on by default in Spark 4); file splits stay
  * at 128m (maxPartitionBytes) which holds at any table size; broadcast
  * threshold stays at 10m — every graft dim fits, and AQE upgrades
  * shuffle joins to broadcast at runtime when stats allow.
  */
object GraftSession {
  /** Local core count of the CLI mains: `SPARK_GRAFT_CPUS`, else 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Every conf [[builder]] sets. */
  def conf(appName: String, cores: Int): Map[String, String] = Map(
    "spark.app.name" -> appName,
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false")

  def builder(appName: String = "graft",
              cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder().config(conf(appName, cores))

  /** Object-store wiring (reference: pyspark_init.py:24-42 and
    * silver_etl_script.py:93-104 set the same four s3a confs): endpoint,
    * path-style access (MinIO/on-prem stores need it), and the committer
    * that avoids rename-based output commits on stores where rename is a
    * copy. Credentials deliberately come from the ENVIRONMENT provider —
    * the reference embeds access keys in code; that part is not worth
    * reproducing. Pair with [[graft.store.PointerCommit]] for table
    * publishes (directory renames are not atomic on object stores). */
  def withS3A(b: SparkSession.Builder, endpoint: String,
              pathStyleAccess: Boolean = true): SparkSession.Builder =
    b.config("spark.hadoop.fs.s3a.endpoint", endpoint)
      .config("spark.hadoop.fs.s3a.path.style.access", pathStyleAccess.toString)
      .config("spark.hadoop.fs.s3a.aws.credentials.provider",
        "com.amazonaws.auth.EnvironmentVariableCredentialsProvider")

  /** Local session: local[cores] master, WARN logging. */
  def local(appName: String = "graft", cores: Int = cpus): SparkSession = {
    val s = builder(appName, cores).master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
