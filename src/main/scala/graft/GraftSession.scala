package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for the graft engine: every main and
  * the test session build through [[local]], the benchmark harness
  * through [[builder]]. It owns the confs they all need:
  *  - ANSI off: the reference's semantics rely on null-on-bad-cast;
  *  - nanosAsLong: tolerated events.parquet generations carrying INT64
  *    TIMESTAMP(NANOS); harmless on the current timestamp[us] encoding
  *    (Tables.normalizeTs handles both);
  *  - partition-type inference off: silver partition values are strings;
  *  - UTC, AQE on (incl. skew-join handling), shuffle partitions sized to
  *    the executor count rather than the 200 default.
  *
  * 100 TB notes baked in as defaults rather than comments: AQE coalesces
  * small post-shuffle partitions and splits skewed ones
  * (spark.sql.adaptive.* are on by default in Spark 4); file splits stay
  * at 128m (maxPartitionBytes) which holds at any table size; broadcast
  * threshold stays at 10m — every graft dim fits, and AQE upgrades
  * shuffle joins to broadcast at runtime when stats allow.
  */
object GraftSession {
  def builder(appName: String = "graft",
              cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")

  /** Object-store wiring (reference: pyspark_init.py:24-42 and
    * silver_etl_script.py:93-104 set the same four s3a confs): endpoint,
    * path-style access (MinIO/on-prem stores need it), and the committer
    * that avoids rename-based output commits on stores where rename is a
    * copy. Credentials deliberately come from the ENVIRONMENT provider —
    * the reference embeds access keys in code; that part is not worth
    * reproducing. Table publishes stay atomic there because they go
    * through [[graft.store.PointerCommit]], which renames no directory. */
  def withS3A(b: SparkSession.Builder, endpoint: String,
              pathStyleAccess: Boolean = true): SparkSession.Builder =
    b.config("spark.hadoop.fs.s3a.endpoint", endpoint)
      .config("spark.hadoop.fs.s3a.path.style.access", pathStyleAccess.toString)
      .config("spark.hadoop.fs.s3a.aws.credentials.provider",
        "com.amazonaws.auth.EnvironmentVariableCredentialsProvider")

  /** Local session: a local[cores] master, with `cores` from
    * SPARK_GRAFT_CPUS (32 when unset) unless the caller passes it. */
  def local(appName: String = "graft",
            cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession = {
    val s = builder(appName, cores).master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
