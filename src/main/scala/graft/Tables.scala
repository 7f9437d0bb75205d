package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated star schema
  * (see TESTDATA.md / FIXTURES.md §A).
  *
  * All readers go through `spark.read.parquet` so Catalyst gets full
  * predicate pushdown + column pruning into the scan — the reference
  * instead ships a SQL string to Postgres and prunes client-side
  * (reference main.py:467-488); here pruning reaches the file format.
  */
object Tables {
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** The events fixture stores `ts` as parquet TIMESTAMP(NANOS), which
    * Spark's vectorized reader rejects. We read nanos as long (see the
    * `nanosAsLong` conf set in GraftSession/Verify/Bench) and convert
    * via integer division to micros — a plain `/` would route through
    * double and lose precision above 2^53 ns. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Event-time epoch conversion, robust to the fixture's `ts` type.
    *
    * The driver's testdata has shipped `ts` as TIMESTAMP(NANOS)-as-long,
    * TIMESTAMP_LTZ, and (round 9) TIMESTAMP_NTZ (parquet timestamp[us]
    * with isAdjustedToUTC=false). Range filters and ORDER BY work on any
    * of them, but Spark refuses a direct NTZ→numeric cast, so every
    * epoch conversion funnels through here: with the session time zone
    * pinned to UTC the NTZ→LTZ cast is wall-clock identity, and the
    * resulting epoch seconds match DuckDB's `epoch_ms(ts) // 1000` on
    * the same parquet. Kept at the conversion sites (not folded into
    * `events()`) so ts-range predicates still push down to the scan in
    * the fixture's native type. */
  def tsLtz(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(org.apache.spark.sql.types.TimestampType)
  def epochSec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    tsLtz(c).cast("long")
  /** SQL-string form of [[epochSec]] for `expr(...)` sites. */
  val epochSecSql: String = "CAST(CAST(ts AS TIMESTAMP_LTZ) AS LONG)"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}

/** Session factory with the scale-oriented defaults used by tests and
  * benchmarks: AQE on (runtime re-plan, skew-join handling), shuffle
  * partitions sized to local cores rather than the 200 default, UTC
  * session time zone for oracle parity.
  */
object GraftSession {
  /** Finished SQL executions Spark's status store keeps. */
  val RetainedExecutions = 50

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the status listeners run with the UI off too: by default the
      // store keeps 1000 executions (plan description + SQLPlanMetrics
      // each) and 1000 jobs and stages, which nothing here reads, so a
      // long-lived session's heap grew ~8 MB per admission batch.
      // Executions, stages and jobs are the caps that moved it.
      .config("spark.sql.ui.retainedExecutions", RetainedExecutions.toString)
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedJobs", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
