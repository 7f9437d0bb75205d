package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Extended engine surface beyond the reference's own operators:
  * multimodal binary columns, OLAP rollups, the general window-
  * function suite, as-of joins, and sessionization. Each is verified
  * against DuckDB — q32 deliberately checks our COMPOSED as-of join
  * against DuckDB's NATIVE `ASOF JOIN` operator.
  */
/** q39's formula text, spliced verbatim into BOTH the Spark plan and
  * the DuckDB oracle — one source of truth, so the two engines run
  * the exact same IEEE double operations on exact integer moments
  * (n, sx, sxx, sy, syy, sxy over integer cents). */
object StatsFormulas {
  /** value is exact 2-decimal data; value*100 is within 1e-10 of an
    * integer in both engines, so round() agrees (floor would not). */
  val cents = "CAST(round(value * 100) AS BIGINT)"
  val mean = "CAST(sx AS DOUBLE) / (100.0 * n)"
  val stddev =
    "CASE WHEN n > 1 THEN sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)) / 100.0 END"
  val corr =
    """CASE WHEN n > 1
      |      AND (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) > 0
      |      AND (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) > 0
      | THEN (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
      |      / (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
      |         * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n))
      | END""".stripMargin.replaceAll("\\s+", " ")
}

/** q42's split-assignment formulas — same text in both engines.
  * Knuth's multiplicative constant 2654435761 = floor(2^32/phi);
  * doc_id fits well under 2^22, so the product stays inside bigint in
  * BOTH engines (DuckDB throws on bigint overflow where Spark wraps —
  * the mod-early rule from the dialect notes). */
object SplitFormulas {
  val bucket = "CAST(((doc_id * 2654435761) % 4294967296) % 100 AS INT)"
  val assign =
    "CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END"
}

object Extended {

  // ---------------------------------------------------------------- q29

  /** Multimodal column conventions (SURVEY §7.1 M6): opaque binary
    * payload + typed metadata travelling together. The payload here is
    * the utf-8 text itself (the container has no image/audio codecs —
    * the *plumbing* is the deliverable: binary column, content hashes,
    * size metadata, lossless roundtrip). */
  def multimodal(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"), // BinaryType payload
        col("lang").as("meta_lang"),
        col("n_chars").as("meta_n_chars"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        sha2(col("payload"), 256).as("content_sha256"),
        col("meta_lang"),
        col("meta_n_chars"))

  val multimodalSql: String =
    """SELECT doc_id,
      |       strlen(text) AS n_bytes,
      |       md5(text) AS content_md5,
      |       sha256(text) AS content_sha256,
      |       lang AS meta_lang,
      |       n_chars AS meta_n_chars
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- q30

  /** OLAP rollup (SURVEY §2.7 notes these as absent-but-expected
    * engine surface): subtotals + grand total in one pass, with
    * grouping indicator flags. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))

  val rollupAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
      |       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
      |       count(*) AS n,
      |       round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  // ---------------------------------------------------------------- q36

  /** CUBE: all 2^k grouping combinations in one pass (rollup's q30
    * covers the hierarchy prefixes; cube completes the §2.7 grouping
    * surface). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))

  val cubeAggSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
      |       count(*) AS n,
      |       round(sum(o_totalprice), 2) AS sum_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  // ---------------------------------------------------------------- q46

  /** GROUPING SETS — the general form rollup/cube specialize: two
    * DISJOINT single-dimension total rows in one pass (not expressible
    * as either ROLLUP or CUBE prefix/powerset shapes). One shuffle;
    * Spark plans it as a single Expand + hash aggregate, same as q30/
    * q36. Grouping flags disambiguate which set a row belongs to. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))

  val groupingSetsAggSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
      |       count(*) AS n,
      |       round(sum(o_totalprice), 2) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin

  // ---------------------------------------------------------------- q31

  /** The general window-function suite over a fully deterministic
    * ordering (ts, event_id): ranking, offsets, running and sliding
    * frames (frames spelled out explicitly — the default RANGE frame
    * differs between engines on ties). */
  def windowSuite(spark: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byValue = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    val running = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sliding = byTs.rowsBetween(-2, Window.currentRow)
    Tables.events(spark, dir)
      .select(
        col("event_id"), col("user_id"),
        row_number().over(byTs).as("rn"),
        rank().over(byValue).as("value_rank"),
        round(lag(col("value"), 1).over(byTs), 2).as("prev_value"),
        lead(col("event_type"), 1).over(byTs).as("next_type"),
        round(sum(col("value")).over(running), 2).as("cum_value"),
        round(avg(col("value")).over(sliding), 4).as("moving_avg3"),
        ntile(4).over(byTs).as("quartile"))
  }

  val windowSuiteSql: String =
    """SELECT event_id, user_id,
      |       CAST(row_number() OVER w_ts AS INT) AS rn,
      |       CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS value_rank,
      |       round(lag(value, 1) OVER w_ts, 2) AS prev_value,
      |       lead(event_type, 1) OVER w_ts AS next_type,
      |       round(sum(value) OVER (w_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_value,
      |       round(avg(value) OVER (w_ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3,
      |       CAST(ntile(4) OVER w_ts AS INT) AS quartile
      |FROM events
      |WINDOW w_ts AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  // ---------------------------------------------------------------- q32

  /** As-of join — for every event, the latest order of the same
    * customer at or before the event timestamp. Spark has no native
    * as-of operator; the scale-correct composition is the tagged
    * UNION + last-ignoring-nulls running window: one shuffle on the
    * key, no per-row subqueries, no range self-join blowup. The
    * DuckDB oracle uses its NATIVE `ASOF LEFT JOIN`, so the
    * composition is checked against a first-class implementation.
    *
    * Orders are pre-deduped to one per (custkey, date) — max orderkey
    * — because as-of tie behavior among equal timestamps is undefined
    * in the native operator. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .select(
        col("o_custkey").as("key"), col("o_orderdate").as("ts"),
        lit(0).as("tag"), col("o_orderkey"),
        lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"))
    val ev = Tables.events(spark, dir)
      .select(
        col("user_id").as("key"), col("ts"),
        lit(1).as("tag"), lit(null).cast("long").as("o_orderkey"),
        col("event_id"), col("value"))
    // order rows sort before event rows at equal ts (tag 0 < 1), so
    // an order at exactly the event time IS visible to it (>= asof)
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.unionByName(ev)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("key").as("user_id"),
        col("asof_orderkey"), round(col("value"), 2).as("value"))
  }

  val asofJoinSql: String =
    """WITH ord AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey,
      |       round(e.value, 2) AS value
      |FROM events e
      |ASOF LEFT JOIN ord o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin

  // ---------------------------------------------------------------- q33

  /** Sessionization: a 30-minute inactivity gap starts a new session
    * (lag → gap flag → running sum = session id → per-session
    * aggregate). Two window passes + one aggregation, all on the same
    * user_id shuffle partitioning — Catalyst reuses the exchange.
    *
    * session_value is summed as exact integer cents (floor(value*100))
    * rather than round(sum(double)): a group-agg's summation order is
    * nondeterministic under hash aggregation, so a double sum landing
    * on a .xx5 rounding boundary hash-diverges between engines (and
    * between runs) — CORRECTNESS_r02 caught exactly that. floor() of
    * the same IEEE double is identical in both engines and integer
    * addition is order-independent. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val running = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("prev_ms", unix_millis(Tables.tsLtz(lag(col("ts"), 1).over(byTs))))
      .withColumn("new_session",
        when(col("prev_ms").isNull ||
          unix_millis(Tables.tsLtz(col("ts"))) - col("prev_ms") > 30L * 60 * 1000, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(running))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        // round, not floor: value*100 lands ~1e-10 off an integer
        // (12.31*100 = 1230.999…), and both engines round it to the
        // same exact cent; floor would be consistent but off by one
        sum(round(col("value") * 100).cast("long")).as("session_value_cents"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }

  // ---------------------------------------------------------------- q48

  /** Sessionization via Spark's NATIVE `session_window` operator —
    * q33 composes sessions from window primitives; this exercises the
    * first-class operator (the one that also runs under Structured
    * Streaming with merging session state) in batch form, against a
    * DuckDB gaps-and-islands oracle that reproduces the operator's
    * exact semantics: sessions MERGE while the gap is <= the 30-minute
    * duration — the end boundary is inclusive for merging (an event AT
    * prev_end = last + gap still extends the session; pinned
    * empirically in ExtendedOpsSpec after the half-open-looking
    * [start, last+gap) print format suggested otherwise) — so a new
    * session starts only when the gap is STRICTLY greater, the same
    * rule q33 composes. session_end = last event + gap. Value totals
    * in exact integer cents (q33's cross-engine rounding rule). One
    * shuffle on (user_id, session), map-side partials. */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("session_value_cents"))
      .select(col("user_id"),
        col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("n_events"), col("session_value_cents"))

  val sessionWindowAggSql: String =
    """WITH s AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |g AS (
      |  SELECT user_id, ts, value,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM s)
      |SELECT user_id,
      |       min(ts) AS session_start,
      |       max(ts) + INTERVAL 30 MINUTE AS session_end,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS session_value_cents
      |FROM g
      |GROUP BY user_id, sid""".stripMargin

  // ---------------------------------------------------------------- q34

  /** Exact quantiles (R-7 linear interpolation — the formula Spark's
    * `percentile` and DuckDB's `quantile_cont` share): per-group
    * p25/median/p90. Exact percentile sorts within groups — the
    * documented trade; the approximate scale path is
    * `approx_percentile` (not oracle-comparable across engines by
    * construction, so the exact form is the verified one). */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"))

  val quantilesSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       round(quantile_cont(l_quantity, 0.25), 4) AS p25,
      |       round(quantile_cont(l_quantity, 0.5), 4) AS median,
      |       round(quantile_cont(l_quantity, 0.9), 4) AS p90
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q38

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot (long → wide): per-cohort event-type counts. The value list
    * is passed EXPLICITLY — `pivot(col)` without values runs a
    * driver-side distinct job over the full input first, an extra
    * pass that is pure waste at 100 TB when the categories are known.
    * Empty cells are coalesced to 0 to match COUNT semantics. */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy((col("user_id") % 10).as("cohort"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .select(col("cohort") +:
        EventTypes.map(c => coalesce(col(c), lit(0L)).as(c)): _*)

  val pivotAggSql: String = {
    val legs = EventTypes.map(t =>
      s"count(CASE WHEN event_type = '$t' THEN 1 END) AS $t").mkString(",\n      |       ")
    s"""SELECT user_id % 10 AS cohort,
      |       $legs
      |FROM events
      |GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q39

  /** Statistical aggregates (mean / sample stddev / Pearson corr) with
    * bit-exact cross-engine output: the naive `stddev(value)` /
    * `corr(x, y)` aggregate sums doubles in nondeterministic order, so
    * its last-ulp output differs between engines and runs. Instead,
    * accumulate EXACT integer moments (cents are integral, so every
    * sum is an order-independent bigint) and derive the statistics
    * with IDENTICAL double-arithmetic formula text in both engines —
    * same IEEE ops on the same exact inputs ⇒ identical bits, no
    * rounding needed. StatsMomentsSpec pins the results to Spark's
    * native stddev_samp/corr within 1e-9. */
  def statsMoments(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.events(spark, dir)
      .withColumn("xc", expr(StatsFormulas.cents))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("xc")).as("sx"),
        sum(col("xc") * col("xc")).as("sxx"),
        sum(col("user_id")).as("sy"),
        sum(col("user_id") * col("user_id")).as("syy"),
        sum(col("xc") * col("user_id")).as("sxy"))
    agg.selectExpr(
      "event_type", "n",
      s"${StatsFormulas.mean} AS mean_value",
      s"${StatsFormulas.stddev} AS stddev_value",
      s"${StatsFormulas.corr} AS corr_value_user")
  }

  val statsMomentsSql: String =
    s"""WITH m AS (
      |  SELECT event_type,
      |         count(*) AS n,
      |         CAST(sum(xc) AS BIGINT) AS sx,
      |         CAST(sum(xc * xc) AS BIGINT) AS sxx,
      |         CAST(sum(user_id) AS BIGINT) AS sy,
      |         CAST(sum(user_id * user_id) AS BIGINT) AS syy,
      |         CAST(sum(xc * user_id) AS BIGINT) AS sxy
      |  FROM (SELECT event_type, user_id, ${StatsFormulas.cents} AS xc FROM events)
      |  GROUP BY event_type)
      |SELECT event_type, n,
      |       ${StatsFormulas.mean} AS mean_value,
      |       ${StatsFormulas.stddev} AS stddev_value,
      |       ${StatsFormulas.corr} AS corr_value_user
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- q40

  /** posexplode fan-out with positions: the ordinal variant of the P1
    * row multiplier (q16 covers plain explode). Empty tokens are
    * filtered on BOTH sides after position assignment, so positions
    * reflect the original split. */
  def posExplodeWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(col("word") =!= "")

  val posExplodeWordsSql: String =
    """SELECT * FROM (
      |  SELECT doc_id,
      |         CAST(generate_subscripts(words, 1) - 1 AS INT) AS pos,
      |         unnest(words) AS word
      |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents))
      |WHERE word <> ''""".stripMargin

  // ---------------------------------------------------------------- q42

  /** Deterministic train/val/test split — the assignment every
    * training-data pipeline needs, done WITHOUT sampling RNG state:
    * bucket = Knuth-multiplicative-hash(doc_id) mod 100, thresholds
    * 80/90. Pure bigint arithmetic makes it reproducible across runs,
    * engines, partitionings, and cluster sizes (a `rand(seed)`-based
    * split changes with partitioning — useless as a stable contract).
    * The same formula text runs in Spark and the DuckDB oracle. */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", expr(SplitFormulas.bucket))
      .withColumn("split", expr(SplitFormulas.assign))
      .select(col("doc_id"), col("bucket"), col("split"))

  val datasetSplitSql: String =
    s"""SELECT doc_id,
      |       ${SplitFormulas.bucket} AS bucket,
      |       ${SplitFormulas.assign.replace("bucket", s"(${SplitFormulas.bucket})")} AS split
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- q41

  /** Sketch summary — the SCALE path for q34's exact percentiles and
    * any distinct-count: HLL++ (approx_count_distinct) and t-digest-
    * style approx_percentile are single-pass with mergeable partial
    * state and bounded memory, where exact forms sort or shuffle all
    * distinct values. Sketch outputs are engine-specific by
    * construction, so this query has NO DuckDB oracle (driver records
    * the weaker rows-only check); SketchSpec asserts accuracy against
    * the exact answers instead. */
  def sketchSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        expr("approx_percentile(value, 0.5, 10000)").as("p50"),
        expr("approx_percentile(value, 0.9, 10000)").as("p90"))

  // ---------------------------------------------------------------- q37

  /** Point-in-interval join through the CUSTOM physical operator
    * (graft.plans.IntervalJoinExec — logical node + strategy + exec
    * registered at runtime): purchase events open a 2-hour window; all
    * other events of the same user falling inside any window attach to
    * it. The oracle is the plain SQL range join, so the custom exec is
    * verified against the declarative semantics it replaces. */
  def intervalJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val iv = ev.filter(col("event_type") === "purchase")
      .select(
        col("user_id").as("iv_user"), col("event_id").as("iv_id"),
        col("ts").as("iv_start"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("iv_end"))
    val pt = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    graft.plans.IntervalJoins
      .intervalJoin(pt, iv, "user_id", "iv_user", "ts", "iv_start", "iv_end")
      .select(col("event_id"), col("user_id"), col("event_type"), col("iv_id"))
  }

  val intervalJoinQuerySql: String =
    """WITH iv AS (
      |  SELECT user_id AS iv_user, event_id AS iv_id, ts AS iv_start,
      |         ts + INTERVAL 2 HOUR AS iv_end
      |  FROM events WHERE event_type = 'purchase'),
      |pt AS (
      |  SELECT user_id, event_id, ts, event_type
      |  FROM events WHERE event_type <> 'purchase')
      |SELECT p.event_id, p.user_id, p.event_type, iv.iv_id
      |FROM pt p JOIN iv
      |  ON p.user_id = iv.iv_user
      | AND p.ts >= iv.iv_start AND p.ts < iv.iv_end""".stripMargin

  val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT *,
      |         CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 30 * 60 * 1000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM (SELECT *, epoch_ms(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS prev_ms
      |        FROM events)),
      |sess AS (
      |  -- CAST: DuckDB window sum(int) yields HUGEINT, which pandas/
      |  -- arrow surface as float64 (1.0 vs Spark's bigint 1) — the
      |  -- actual q33 hash-mismatch in CORRECTNESS_r02.
      |  SELECT *, CAST(sum(new_session) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS session_value_cents,
      |       min(ts) AS session_start, max(ts) AS session_end
      |FROM sess
      |GROUP BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- q59

  /** Ordered-sequence (funnel) analytics — the event family's last
    * missing query shape (MATCH_RECOGNIZE-lite): per user, the
    * earliest strict view → click → purchase chain. Greedy-earliest is
    * the standard funnel semantics and, for a 3-step chain, maximizes
    * completion (an earlier anchor can only admit more later steps).
    *
    * Shape for 100 TB: three cascaded conditional window minima over
    * the SAME `user_id` partitioning — each step's threshold is the
    * previous step's per-partition constant, so the chain is plain
    * column arithmetic between windows. ONE exchange total: the
    * windows share the partitioning and the final per-user aggregate
    * reuses it (PlanAuditSpec asserts the count). No self-joins, no
    * per-user collect. NULL propagation does the step gating: a user
    * with no qualifying click has t_click = NULL, so `ts > NULL` is
    * never true and t_purchase stays NULL — on both engines. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ts") > col("t_view"), col("ts"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ts") > col("t_click"), col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("t_view")).as("t_view"), min(col("t_click")).as("t_click"),
        min(col("t_purchase")).as("t_purchase"))
      .filter(col("t_view").isNotNull)
      .withColumn("reached",
        lit(1) + when(col("t_click").isNotNull, 1).otherwise(0)
          + when(col("t_purchase").isNotNull, 1).otherwise(0))
  }

  val funnelSql: String =
    """WITH w1 AS (
      |  SELECT user_id, ts, event_type,
      |         min(CASE WHEN event_type = 'view' THEN ts END)
      |           OVER (PARTITION BY user_id) AS t_view
      |  FROM events),
      |w2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
      |              OVER (PARTITION BY user_id) AS t_click
      |  FROM w1),
      |w3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
      |              OVER (PARTITION BY user_id) AS t_purchase
      |  FROM w2),
      |a AS (
      |  SELECT user_id, min(t_view) AS t_view, min(t_click) AS t_click,
      |         min(t_purchase) AS t_purchase
      |  FROM w3 GROUP BY user_id)
      |SELECT user_id, t_view, t_click, t_purchase,
      |       CAST(1 + (CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)
      |              + (CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS reached
      |FROM a WHERE t_view IS NOT NULL""".stripMargin

  // ---------------------------------------------------------------- q63

  /** Trailing-window width for the event features (seconds). */
  private val TrailSecs = 604799L // 7 days inclusive

  /** q63: trailing TIME-range window features over the event stream —
    * the per-entity rolling aggregates a feature-store backfill
    * computes (activity count / spend / peak over the last 7 days AS
    * OF each event). A RANGE frame on integral epoch seconds, not a
    * ROWS frame: the window is defined by time, so same-second events
    * are frame peers — identical semantics on both engines, and the
    * feature value is a pure function of the data, not of row order.
    *
    * `value` is aggregated as integer cents (floor(v·100 + 0.5)): a
    * sliding double SUM depends on the engine's frame evaluation
    * order (running fold vs segment tree), integer cents are
    * associative and therefore bit-identical.
    *
    * Scale shape: ONE user_id shuffle; the frame is a bounded slide
    * over each user's timeline (no self-join — the naive form is an
    * interval self-join, O(events²) per user). */
  def eventFeatures(spark: SparkSession, dir: String): DataFrame = {
    val sec = Tables.epochSec(col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(sec)
      .rangeBetween(-TrailSecs, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("cents", floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("cents_7d", sum(col("cents")).over(w))
      .withColumn("peak_7d", max(col("cents")).over(w))
      .select(col("event_id"), col("user_id"), col("n_7d"), col("cents_7d"), col("peak_7d"))
  }

  val eventFeaturesSql: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id,
       |         epoch_ms(ts) // 1000 AS sec,
       |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM events)
       |SELECT event_id, user_id,
       |       count(*) OVER w AS n_7d,
       |       CAST(sum(cents) OVER w AS BIGINT) AS cents_7d,
       |       max(cents) OVER w AS peak_7d
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY sec
       |             RANGE BETWEEN $TrailSecs PRECEDING AND CURRENT ROW)""".stripMargin

  // ---------------------------------------------------------------- q65

  /** q65: retention cohort triangle — every user is assigned to the
    * epoch-week of their first event (the cohort), then each
    * (cohort, week-offset) cell counts DISTINCT users active that
    * week. The classic product-analytics decay table, all integer.
    *
    * Scale shape: first-seen is a user_id aggregate; the join back is
    * on the SAME key, so the aggregate's partitioning is reused (no
    * extra corpus shuffle); the distinct collapses (user, offset)
    * BEFORE the final cohort-cell aggregate, whose cardinality is
    * weeks², not events. No window over the global timeline. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"${Tables.epochSecSql} div 604800").as("wk"))
    val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_w"))
    ev.join(first, "user_id")
      .select(col("user_id"), col("cohort_w"), (col("wk") - col("cohort_w")).as("offset_w"))
      .distinct()
      .groupBy(col("cohort_w"), col("offset_w"))
      .agg(count(lit(1)).as("actives"))
  }

  val retentionSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) // 1000 // 604800 AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_w FROM e GROUP BY user_id),
      |a AS (
      |  SELECT DISTINCT e.user_id, f.cohort_w, e.wk - f.cohort_w AS offset_w
      |  FROM e JOIN f USING (user_id))
      |SELECT cohort_w, offset_w, count(*) AS actives
      |FROM a GROUP BY cohort_w, offset_w""".stripMargin

  // ---------------------------------------------------------------- q68

  /** Columns profiled by q68 (lineitem's numeric measures). */
  private val ProfileCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** q68: dataset profiling via UNPIVOT — the inverse reshape of q38's
    * pivot: `stack` melts the measure columns into (col_name, v) rows
    * in ONE scan (a Generate/Expand, not N self-unions), then a
    * per-column aggregate yields the profile a data-quality gate
    * checks before a run: row/non-null/zero counts and min/max.
    * min/max on doubles are exact comparisons (no arithmetic), so the
    * profile is hash-stable; there is deliberately no double SUM.
    *
    * Scale shape: one scan × k columns expansion, map-side partial
    * aggregation down to k rows — profiling cost is O(data), output
    * O(columns). */
  def unpivotProfile(spark: SparkSession, dir: String): DataFrame = {
    val legs = ProfileCols.map(c => s"'$c', $c").mkString(", ")
    Tables.lineitem(spark, dir)
      .select(expr(s"stack(${ProfileCols.length}, $legs) AS (col_name, v)"))
      .groupBy(col("col_name"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("v")).as("n_nonnull"),
        count(when(col("v") === 0.0, lit(1))).as("n_zero"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
  }

  val unpivotProfileSql: String = {
    val legs = ProfileCols.map(c =>
      s"SELECT '$c' AS col_name, $c AS v FROM lineitem").mkString("\n  UNION ALL ")
    s"""WITH u AS (
       |  $legs)
       |SELECT col_name, count(*) AS n_rows, count(v) AS n_nonnull,
       |       count(CASE WHEN v = 0 THEN 1 END) AS n_zero,
       |       min(v) AS min_v, max(v) AS max_v
       |FROM u GROUP BY col_name""".stripMargin
  }

  // ---------------------------------------------------------------- q69

  /** q69: CDC changelog apply — the batch form of "materialize the
    * current table from an op log" (a lakehouse MERGE). `events` is
    * read as a changelog on the user record: every event upserts the
    * user's value, `error` is a tombstone. The applied state is the
    * LATEST op per key, with tombstoned keys absent.
    *
    * Scale shape: ONE user_id shuffle; the rank-1 filter is planned as
    * WindowGroupLimit, so each map task keeps only its per-key latest
    * row before the exchange — the shuffle carries ~|keys| rows, not
    * the changelog. The tombstone filter must run AFTER rank-1 (a
    * delete hides the older upserts it superseded), which is why this
    * is not `latestPerKey` + a pushed-down predicate. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        Tables.epochSec(col("ts")).as("sec"), expr(StatsFormulas.cents).as("cents"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("event_type").as("last_op"),
        col("sec").as("last_sec"), col("cents").as("last_cents"))
  }

  val cdcApplySql: String =
    s"""WITH c AS (
       |  SELECT event_id, user_id, event_type,
       |         epoch_ms(ts) // 1000 AS sec,
       |         ${StatsFormulas.cents} AS cents
       |  FROM events),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |                               ORDER BY sec DESC, event_id DESC) AS rn
       |  FROM c)
       |SELECT user_id, event_type AS last_op, sec AS last_sec, cents AS last_cents
       |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  // ---------------------------------------------------------------- q70

  /** q70: SCD-2 dimension build — turn a change feed (purchase events
    * carrying a new value) into versioned rows with half-open validity
    * intervals: `valid_from_sec` = the change's time, `valid_to_sec` =
    * the NEXT change's time (null while current). The standard
    * warehouse "type-2 slowly changing dimension" derivation, done
    * with one `lead` window instead of a self-join.
    *
    * Scale shape: a pushed-down event_type filter prunes the scan,
    * then ONE user_id shuffle computes ver + lead in a single Window
    * operator (same partitioning, same ordering — one sort). */
  def scd2Build(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        Tables.epochSec(col("ts")).as("sec"), expr(StatsFormulas.cents).as("cents"))
      .withColumn("ver", row_number().over(w))
      .withColumn("valid_to_sec", lead(col("sec"), 1).over(w))
      .select(col("user_id"), col("ver"), col("sec").as("valid_from_sec"),
        col("valid_to_sec"), col("cents"),
        when(col("valid_to_sec").isNull, lit(1)).otherwise(lit(0)).as("is_current"))
  }

  val scd2BuildSql: String =
    s"""WITH p AS (
       |  SELECT user_id, event_id, epoch_ms(ts) // 1000 AS sec,
       |         ${StatsFormulas.cents} AS cents
       |  FROM events WHERE event_type = 'purchase')
       |SELECT user_id,
       |       CAST(row_number() OVER w AS INT) AS ver,
       |       sec AS valid_from_sec,
       |       lead(sec, 1) OVER w AS valid_to_sec,
       |       cents,
       |       CASE WHEN lead(sec, 1) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
       |FROM p
       |WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)""".stripMargin

  // ---------------------------------------------------------------- q71

  /** q71: time-series gap-fill + forward-fill — regularize each user's
    * event history onto a dense daily grid: `sequence(min_day,
    * max_day)` generates the missing days (a Generate over the
    * per-user span, not a calendar cross-join), a left join marks the
    * gaps, and `last(_, ignoreNulls)` forward-fills the most recent
    * observed daily total. The feature-store prerequisite for any
    * fixed-step model over irregular events.
    *
    * Scale shape: the grid derives from the daily AGGREGATE (already
    * |users|·|days| at most, never raw events); both join sides hash
    * on (user_id, day); the fill window re-partitions on user_id only.
    * Grid size is bounded by span — per-user, not global min/max — so
    * one ancient user cannot explode every user's range. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"${Tables.epochSecSql} div 86400").as("day"),
        expr(StatsFormulas.cents).as("cents"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("day_cents"))
    val grid = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled_cents", last(col("day_cents"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("day_cents"), lit(0L)).as("day_cents"),
        col("filled_cents"),
        when(col("n_events").isNull, lit(1)).otherwise(lit(0)).as("is_gap"))
  }

  val gapFillSql: String =
    s"""WITH daily AS (
       |  SELECT user_id, epoch_ms(ts) // 1000 // 86400 AS day,
       |         count(*) AS n_events,
       |         CAST(sum(${StatsFormulas.cents}) AS BIGINT) AS day_cents
       |  FROM events GROUP BY 1, 2),
       |grid AS (
       |  SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
       |  FROM daily GROUP BY user_id)
       |SELECT g.user_id, g.day,
       |       coalesce(d.n_events, 0) AS n_events,
       |       coalesce(d.day_cents, 0) AS day_cents,
       |       last_value(d.day_cents IGNORE NULLS)
       |         OVER (PARTITION BY g.user_id ORDER BY g.day
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents,
       |       CASE WHEN d.n_events IS NULL THEN 1 ELSE 0 END AS is_gap
       |FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day""".stripMargin

  // ---------------------------------------------------------------- q73

  /** q73: behavioral transition profile — the first-order Markov
    * matrix over each user's event sequence: `lead` pairs consecutive
    * event types per user, the pair counts aggregate globally, and the
    * row-conditional probability is integer ppm (`div` by the
    * from-state window total — exact on both engines, no float
    * normalization). The session-model / anomaly-baseline primitive.
    *
    * Scale shape: one user_id shuffle for the lead, a map-side-combined
    * pair aggregate (|types|² rows), and a window over that tiny
    * aggregate — the matrix normalization never touches event rows. */
  def transitionProfile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        Tables.epochSec(col("ts")).as("sec"), col("event_type"))
      .withColumn("to_state", lead(col("event_type"), 1).over(w))
      .filter(col("to_state").isNotNull)
      .groupBy(col("event_type").as("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("from_state"))))
      .withColumn("p_ppm", expr("(1000000 * n) div tot"))
      .drop("tot")
  }

  val transitionProfileSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ms(ts) // 1000 AS sec, event_type
      |  FROM events),
      |p AS (
      |  SELECT event_type AS from_state,
      |         lead(event_type, 1) OVER (PARTITION BY user_id
      |                                   ORDER BY sec, event_id) AS to_state
      |  FROM e),
      |c AS (
      |  SELECT from_state, to_state, count(*) AS n
      |  FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2)
      |SELECT from_state, to_state, n,
      |       CAST((1000000 * n) // sum(n) OVER (PARTITION BY from_state) AS BIGINT) AS p_ppm
      |FROM c""".stripMargin

  // ---------------------------------------------------------------- q74

  /** q74: exact z-score outlier detection — flag events beyond 3
    * sigma of their event_type, computed ENTIRELY in integer/decimal
    * arithmetic: z² > 9 ⇔ (n·x − Σx)² > 9·(n·Σx² − (Σx)²), both sides
    * exact integers, so there is no float mean/stddev whose rounding
    * could flip a boundary row between engines. Spark carries the
    * products in DECIMAL(38,0), the oracle in HUGEINT (the q54
    * precedent); the magnitudes are bounded well inside both (≤ ~1e23
    * at 1e9 rows × 1e5 cents).
    *
    * Scale shape: the per-type stats are a 5-row aggregate broadcast
    * back onto the fact — the fact table never shuffles; detection is
    * a map-side predicate. */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), expr(StatsFormulas.cents).as("cents"))
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(expr("cents * cents")).as("ss"))
    ev.join(broadcast(stats), "event_type")
      .filter(expr(
        """(CAST(n AS DECIMAL(38,0)) * cents - s) * (CAST(n AS DECIMAL(38,0)) * cents - s)
          | > 9 * (CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s)""".stripMargin))
      .select(col("event_id"), col("event_type"), col("cents"), col("n"))
  }

  // ---------------------------------------------------------------- q77

  /** q77: point-in-time (temporal) join — price every non-purchase
    * event with the SCD-2 dimension version VALID AT ITS TIME: the
    * composition of q70's dimension build with q32's as-of machinery,
    * and the join every training-data pipeline needs to avoid feature
    * leakage (joining tomorrow's dimension onto today's fact).
    *
    * Versions opening in the same second collapse to the highest ver
    * first (one dim row per (key, sec) — DuckDB's ASOF would otherwise
    * pick among exact ties arbitrarily), then the union-tag trick:
    * dim rows sort BEFORE fact rows at equal sec (tag 0 < 1), so a
    * version opening exactly at the event's second is visible to it —
    * the `>=` as-of contract. Events before the first version drop
    * (inner as-of), mirrored by the null filter.
    *
    * Scale shape: both branches and the fill window share the SAME
    * user_id hash partitioning; no dim×fact range join, no per-event
    * probe — one sort-window pass over the union, the q32 pattern. */
  def temporalJoin(spark: SparkSession, dir: String): DataFrame = {
    val wDedup = Window.partitionBy(col("user_id"), col("valid_from_sec"))
      .orderBy(col("ver").desc)
    val dim = scd2Build(spark, dir)
      .withColumn("rn", row_number().over(wDedup)).filter(col("rn") === 1)
      .select(col("user_id").as("key"), col("valid_from_sec").as("sec"),
        lit(0).as("tag"), col("ver"), col("cents").as("price_cents"),
        lit(null).cast("long").as("event_id"))
    val fact = Tables.events(spark, dir)
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("key"), Tables.epochSec(col("ts")).as("sec"),
        lit(1).as("tag"), lit(null).cast("int").as("ver"),
        lit(null).cast("long").as("price_cents"), col("event_id"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("sec"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(fact)
      .withColumn("asof_ver", last(col("ver"), ignoreNulls = true).over(w))
      .withColumn("asof_price", last(col("price_cents"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1 && col("asof_ver").isNotNull)
      .select(col("event_id"), col("key").as("user_id"), col("sec"),
        col("asof_ver"), col("asof_price"))
  }

  val temporalJoinSql: String =
    s"""WITH p AS (
       |  SELECT user_id, event_id, epoch_ms(ts) // 1000 AS sec,
       |         ${StatsFormulas.cents} AS cents
       |  FROM events WHERE event_type = 'purchase'),
       |v AS (
       |  SELECT user_id, CAST(row_number() OVER w AS INT) AS ver,
       |         sec AS valid_from_sec, cents
       |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
       |d AS (
       |  SELECT * FROM v
       |  QUALIFY row_number() OVER (PARTITION BY user_id, valid_from_sec
       |                             ORDER BY ver DESC) = 1),
       |f AS (
       |  SELECT event_id, user_id, epoch_ms(ts) // 1000 AS sec
       |  FROM events WHERE event_type <> 'purchase')
       |SELECT f.event_id, f.user_id, f.sec, d.ver AS asof_ver, d.cents AS asof_price
       |FROM f ASOF JOIN d
       |  ON f.user_id = d.user_id AND f.sec >= d.valid_from_sec""".stripMargin

  /** q76's cutoff: 2024-01-15T00:00:00Z. */
  private val IncrCutoffSec = 1705276800L

  /** q76: incremental aggregate maintenance — the exactness proof
    * behind every "don't rescan history" pipeline: aggregate the BASE
    * partition (before the cutoff) and the DELTA partition separately,
    * then MERGE the partial states (sum of counts/sums, min of mins,
    * max of maxes). The oracle computes the same aggregate from the
    * full table in one pass — a cross-engine proof that the merge is
    * bit-exact, i.e. yesterday's materialized aggregate plus today's
    * delta IS the full recomputation. (count/sum/min/max are the
    * decomposable aggregates; this is also precisely what Spark's own
    * partial aggregation does between map and reduce.)
    *
    * Scale shape: both branches push their cutoff predicate into the
    * scan (in production the base branch is the stored aggregate, not
    * a scan); the merge aggregates a table of |users| partial rows,
    * never raw history. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    def partial(pred: org.apache.spark.sql.Column): DataFrame =
      Tables.events(spark, dir)
        .withColumn("sec", Tables.epochSec(col("ts")))
        .filter(pred)
        .withColumn("cents", expr(StatsFormulas.cents))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          min(col("sec")).as("mn"), max(col("sec")).as("mx"))
    partial(col("sec") < IncrCutoffSec)
      .unionByName(partial(col("sec") >= IncrCutoffSec))
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"), sum(col("s")).as("cents_sum"),
        min(col("mn")).as("first_sec"), max(col("mx")).as("last_sec"))
  }

  val incrementalAggSql: String =
    s"""SELECT user_id, count(*) AS n_events,
       |       CAST(sum(${StatsFormulas.cents}) AS BIGINT) AS cents_sum,
       |       min(epoch_ms(ts) // 1000) AS first_sec,
       |       max(epoch_ms(ts) // 1000) AS last_sec
       |FROM events GROUP BY user_id""".stripMargin

  /** q78: snapshot diff / reconciliation — classify every key across
    * two periods of the feed (the q76 cutoff): `added` (new in the
    * second period), `churned` (vanished), `changed` (present in both
    * with different activity), `stable`. The data-reconciliation gate
    * run between any two loads of the same table; per-class counts
    * plus before/after activity mass localize WHERE a feed drifted.
    *
    * Scale shape: two pushed-down-predicate scans aggregate per key;
    * the full-outer join runs on the SAME user_id hash partitioning
    * the aggregates produced (no extra corpus shuffle), and the class
    * rollup is a 4-row aggregate. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    def profile(pred: org.apache.spark.sql.Column, tag: String): DataFrame =
      Tables.events(spark, dir)
        .withColumn("sec", Tables.epochSec(col("ts")))
        .filter(pred)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as(s"n_$tag"))
    profile(col("sec") < IncrCutoffSec, "a")
      .join(profile(col("sec") >= IncrCutoffSec, "b"),
        Seq("user_id", "event_type"), "full_outer")
      .withColumn("class",
        when(col("n_a").isNull, lit("added"))
          .when(col("n_b").isNull, lit("churned"))
          .when(col("n_a") =!= col("n_b"), lit("changed"))
          .otherwise(lit("stable")))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n_keys"),
        coalesce(sum(col("n_a")), lit(0L)).as("events_before"),
        coalesce(sum(col("n_b")), lit(0L)).as("events_after"))
  }

  val snapshotDiffSql: String =
    s"""WITH a AS (
       |  SELECT user_id, event_type, count(*) AS n_a
       |  FROM events WHERE epoch_ms(ts) // 1000 < $IncrCutoffSec
       |  GROUP BY user_id, event_type),
       |b AS (
       |  SELECT user_id, event_type, count(*) AS n_b
       |  FROM events WHERE epoch_ms(ts) // 1000 >= $IncrCutoffSec
       |  GROUP BY user_id, event_type),
       |j AS (
       |  SELECT CASE WHEN a.n_a IS NULL THEN 'added'
       |              WHEN b.n_b IS NULL THEN 'churned'
       |              WHEN a.n_a <> b.n_b THEN 'changed'
       |              ELSE 'stable' END AS class,
       |         a.n_a, b.n_b
       |  FROM a FULL OUTER JOIN b USING (user_id, event_type))
       |SELECT class, count(*) AS n_keys,
       |       coalesce(CAST(sum(n_a) AS BIGINT), 0) AS events_before,
       |       coalesce(CAST(sum(n_b) AS BIGINT), 0) AS events_after
       |FROM j GROUP BY class""".stripMargin

  val outliersSql: String =
    s"""WITH c AS (
       |  SELECT event_id, event_type, ${StatsFormulas.cents} AS cents FROM events),
       |s AS (
       |  SELECT event_type, count(*) AS n,
       |         CAST(sum(cents) AS BIGINT) AS s,
       |         CAST(sum(cents * cents) AS BIGINT) AS ss
       |  FROM c GROUP BY event_type)
       |SELECT c.event_id, c.event_type, c.cents, s.n
       |FROM c JOIN s USING (event_type)
       |WHERE (CAST(n AS HUGEINT) * cents - s) * (CAST(n AS HUGEINT) * cents - s)
       |      > 9 * (CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)""".stripMargin

  // --------------------------------------------------------------- q101

  /** q101: PER-GROUP OLS TREND — closed-form least-squares slope and
    * fit quality of extended price (cents) against quantity, per part
    * brand: the grouped-regression dashboard op (price-per-unit drift,
    * length-vs-quality trends, any per-segment linear fit). One
    * aggregation pass computes the five sufficient statistics
    * (n, Σx, Σy, Σxy, Σx²,( Σy²)) with map-side combine — the model
    * is closed-form, so unlike iterative fits the whole operator is
    * ONE shuffle of |groups| rows.
    *
    * Integer-exact contract: x = quantity (integral in the fixture),
    * y = round(price·100) cents; the first moments (n, Σx, Σy) are
    * exact BIGINT sums, while the SECOND moments (Σxy, Σx², Σy²)
    * accumulate in DECIMAL(38,0) — per-brand Σy² alone passes 2⁶³
    * near sf1, and non-ANSI BIGINT sum would wrap silently where
    * DuckDB's HUGEINT accumulator does not (round-9 advisor). The
    * same widening carries the normal-equation combinations
    * (n·Σxy overflows BIGINT beyond ~sf1):
    *   num  = n·Σxy − Σx·Σy,  den = n·Σx² − Σx²,
    *   slope_ppm = (10⁶·num) div den,
    *   r2_ppm    = (slope_ppm · num) div (n·Σy² − Σy²)
    * — a DEFINED nested truncating-division chain (both engines
    * truncate toward zero, the q96 finding), so the fit hashes
    * cross-engine. The r2 nesting is deliberate: Spark's decimal
    * `div` returns BIGINT, so every division's QUOTIENT must be
    * long-sized — (num·num) div den ≈ 3e24 overflows, while
    * slope_ppm ≈ 1e11 and the final r2 quotient ≤ 10⁶ fit; the
    * decimal intermediates stay < 10³⁸. Groups with den = 0 or
    * deny = 0 (degenerate variance) are filtered explicitly. */
  def groupOls(spark: SparkSession, dir: String): DataFrame = {
    val j = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("x"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
      .join(Tables.part(spark, dir).select(col("p_partkey").as("l_partkey"),
        col("p_brand")), "l_partkey")
    j.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      .select(col("p_brand"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy").as("num"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx").as("den"),
        expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy").as("deny"))
      .filter(col("den") > 0 && col("deny") > 0)
      .withColumn("slope_ppm", expr("(1000000 * num) div den"))
      .select(col("p_brand"), col("n"), col("slope_ppm"),
        expr("CAST((CAST(slope_ppm AS DECIMAL(38,0)) * num) div deny AS BIGINT)")
          .as("r2_ppm"))
  }

  val groupOlsSql: String =
    """WITH j AS (
      |  SELECT p.p_brand, CAST(l_quantity AS BIGINT) AS x,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
      |s AS (
      |  SELECT p_brand, count(*) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS HUGEINT) AS sxy,
      |         CAST(sum(x * x) AS HUGEINT) AS sxx,
      |         CAST(sum(y * y) AS HUGEINT) AS syy
      |  FROM j GROUP BY p_brand),
      |c AS (
      |  SELECT p_brand, n,
      |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
      |         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
      |  FROM s)
      |SELECT p_brand, n,
      |       CAST((1000000 * num) // den AS BIGINT) AS slope_ppm,
      |       CAST((((1000000 * num) // den) * num) // deny AS BIGINT) AS r2_ppm
      |FROM c WHERE den > 0 AND deny > 0""".stripMargin

  // --------------------------------------------------------------- q100

  private val BasketMinSupport = 2
  private val BasketTopK = 50

  /** q100: BASKET LIFT — within-order part co-occurrence scored by
    * integer lift: lift(a,b) = P(a,b)/(P(a)·P(b)) over order baskets,
    * emitted as (pos, part_a, part_b, n_ab, lift_ppm) for the top-50
    * supported pairs. The association-rule complement to q81's PMI:
    * PMI scores ADJACENT token bigrams inside documents, lift scores
    * SET co-occurrence inside a transaction group — the shape every
    * co-occurrence recommender/feature miner runs (and, corpus-side,
    * doc-level tag/entity co-occurrence). lift_ppm =
    * (n_ab·N·10⁶) div (n_a·n_b) is all-BIGINT (counts ≤ 2²⁰ here;
    * at larger scale the numerator widens through DECIMAL(38,0) — the
    * q79/q90 precedent), so ranking hashes cross-engine.
    *
    * Scale shape: the pair generator is the classic basket self-join
    * — an equi-join on the ORDER key where each side is the order's
    * basket, so a group's output is C(basket,2), bounded by basket
    * size squared, NEVER corpus²; item and pair counts are map-side-
    * combined aggregates; the support filter prunes BEFORE the lift
    * join (the apriori downward-closure trick: an unsupported pair
    * never reaches the per-item join); the final top-k window runs on
    * the support-filtered pair table (3.4k rows at sf0.01), not the
    * pair stream. A mega-basket (one order with thousands of parts)
    * is the q18 hot-bucket shape — [[basketLiftOf]]'s `maxBasket` knob
    * drops it whole (the q18 broadcast left-anti guard on the basket
    * key), with [[megaBasketReport]] auditing the dropped mass before
    * a deployment engages the cap; OFF by default — the q100 oracle is
    * the uncapped semantics, and the fixture's baskets are ≤ 7 items. */
  def basketLift(spark: SparkSession, dir: String): DataFrame =
    basketLiftOf(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct())

  /** Frame-agnostic core of [[basketLift]]: `baskets0` carries
    * distinct (o = group key, p = item) rows. `maxBasket` (off by
    * default) excises baskets larger than the cap WHOLE — from pair
    * generation AND the item/total supports, so lift stays internally
    * consistent within the capped universe (a half-dropped basket
    * would deflate P(a,b) against intact P(a)·P(b)). The mega set is
    * tiny by construction (a handful of pathological group keys), so
    * it broadcasts into a left-anti probe and the basket table never
    * gains a shuffle — the q18/q56 hot-key guard, applied to the
    * transaction axis. Recall contract (the knob's honest price): all
    * C(n,2) pairs of a dropped basket vanish, so size the cap above
    * the expected legitimate basket and audit [[megaBasketReport]]
    * first. */
  def basketLiftOf(baskets0: DataFrame, maxBasket: Option[Int] = None): DataFrame = {
    val uncached = maxBasket.fold(baskets0) { m =>
      require(m >= 2, s"maxBasket must be >= 2, got $m")
      val mega = baskets0.groupBy(col("o"))
        .agg(count(lit(1)).as("basket_n"))
        .filter(col("basket_n") > m)
        .select(col("o"))
      baskets0.join(broadcast(mega), Seq("o"), "left_anti")
    }
    // materialization point (guide §5 reuse): the distinct basket table
    // rides the plan FOUR ways (both pair-join sides, item supports,
    // order total) and Catalyst re-executes the distinct exchange per
    // reference — probed at 1.0 s/build (c8, sf0.1), so the uncached
    // form paid ~4 corpus distincts per run
    val baskets = graft.CacheRegistry.getOrCache(baskets0.sparkSession,
      s"extended.baskets#${uncached.queryExecution.analyzed.semanticHash()}")(uncached)
    // shuffled-hash on the order key (guide §3.1; probed 0.86 s SMJ →
    // 0.57 s SHJ): basket sizes bound per-key fan-out and the pair
    // count is a hash aggregate — no sort order ever used
    val pairs = baskets.select(col("o"), col("p").as("pa")).hint("shuffle_hash")
      .join(baskets.select(col("o"), col("p").as("pb")), "o")
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= BasketMinSupport)
    val items = baskets.groupBy(col("p")).agg(count(lit(1)).as("n_i"))
    val total = baskets.select(col("o")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    pairs
      .join(items.select(col("p").as("pa"), col("n_i").as("n_a")), "pa")
      .join(items.select(col("p").as("pb"), col("n_i").as("n_b")), "pb")
      .crossJoin(broadcast(total))
      .withColumn("lift_ppm",
        expr("(n_ab * n_orders * 1000000) div (n_a * n_b)"))
      .withColumn("pos", row_number().over(Window.orderBy(
        col("lift_ppm").desc, col("pa"), col("pb"))))
      .filter(col("pos") <= BasketTopK)
      .select(col("pos"), col("pa").as("part_a"), col("pb").as("part_b"),
        col("n_ab"), col("lift_ppm"))
  }

  /** Dropped-mass audit for [[basketLiftOf]]'s cap — the q18
    * `hotBucketReport` pattern on the transaction axis: one row of
    * (n_baskets, n_mega_baskets, rows_dropped, pairs_dropped,
    * max_basket). `pairs_dropped` = Σ C(nᵢ,2) over the mega baskets —
    * the candidate-pair mass the cap removes, the number a deployment
    * compares against its expected legitimate co-occurrence before
    * engaging. */
  def megaBasketReport(baskets0: DataFrame, maxBasket: Int): DataFrame =
    baskets0.groupBy(col("o")).agg(count(lit(1)).as("basket_n"))
      .agg(
        count(lit(1)).as("n_baskets"),
        sum(when(col("basket_n") > maxBasket, 1L).otherwise(0L)).as("n_mega_baskets"),
        sum(when(col("basket_n") > maxBasket, col("basket_n")).otherwise(0L))
          .as("rows_dropped"),
        sum(when(col("basket_n") > maxBasket,
          expr("basket_n * (basket_n - 1) div 2")).otherwise(0L))
          .as("pairs_dropped"),
        max(col("basket_n")).as("max_basket"))

  val basketLiftSql: String =
    s"""WITH b AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pairs AS (
       |  SELECT a.p AS pa, b2.p AS pb, count(*) AS n_ab
       |  FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
       |  GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport),
       |items AS (SELECT p, count(*) AS n_i FROM b GROUP BY p),
       |tot AS (SELECT count(DISTINCT o) AS n_orders FROM b),
       |scored AS (
       |  SELECT pa, pb, n_ab,
       |         (n_ab * n_orders * 1000000) // (ia.n_i * ib.n_i) AS lift_ppm
       |  FROM pairs JOIN items ia ON ia.p = pa
       |             JOIN items ib ON ib.p = pb
       |             CROSS JOIN tot)
       |SELECT pos, pa AS part_a, pb AS part_b, n_ab, CAST(lift_ppm AS BIGINT) AS lift_ppm FROM (
       |  SELECT pa, pb, n_ab, lift_ppm,
       |         CAST(row_number() OVER (ORDER BY lift_ppm DESC, pa, pb) AS INT) AS pos
       |  FROM scored) WHERE pos <= $BasketTopK""".stripMargin

  // --------------------------------------------------------------- q112

  /** KMV sample size. The estimator's relative error concentrates
    * around 1/√(k−2) ≈ 13% at k=64 (Beyer et al., the published KMV
    * bound) — the fixture audit's err_ppm column shows where the
    * groups actually land. */
  private val KmvK = 64

  /** q112: K-MINIMUM-VALUES distinct-count sketch with an exact audit
    * — the ENGINE-PORTABLE mergeable distinct sketch. q41/q76 use
    * DataSketches HLL, whose serialized registers are
    * engine-specific (q41 is the suite's one oracle-exempt row for
    * exactly that reason); KMV is the alternative a cross-engine
    * deployment can replay bit-for-bit: hash every value with the
    * q42 Knuth multiplicative hash (odd multiplier mod 2³² — a
    * BIJECTION on the 32-bit domain, so distinct keys give distinct
    * hashes and the sketch is deterministic), keep the k smallest
    * hashes per group, estimate distinct = (k−1)·2³² div h₍ₖ₎. Per
    * group: exact distinct count, the k-th minimum hash, the
    * estimate, and |err| ppm — the audit a deployment runs before
    * trusting the sketch at a cardinality the exact count can no
    * longer afford.
    *
    * Mergeability (why this shape survives 100 TB): the k smallest
    * of a union is computable from the k smallest of each part, so
    * partial per-partition top-k heaps ARE partial sketches — the
    * plan below is distinct → per-group bottom-k window, where
    * WindowGroupLimit prunes each task to k rows before the single
    * per-group sort; the only corpus-sized stage is the distinct's
    * one shuffle on (group, value), which the exact audit column
    * needs anyway (a production sketch-only run drops it and keeps
    * a per-partition k-heap — state k·|groups| hashes, driver-free).
    *
    * Fixture: distinct order keys per lineitem return flag. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_orderkey")).distinct()
      .withColumn("h", expr("(l_orderkey * 2654435761) % 4294967296"))
    val exact = d.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_exact"))
    val kth = d
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("h"))))
      .filter(col("rk") === KmvK)
      .select(col("l_returnflag"), col("h").as("kth_hash"))
    exact.join(kth, "l_returnflag")
      .withColumn("est_distinct",
        expr(s"(${KmvK - 1}L * 4294967296) div kth_hash"))
      .withColumn("err_ppm",
        expr("(1000000 * abs(est_distinct - n_exact)) div n_exact"))
  }

  val kmvDistinctSql: String =
    s"""WITH d AS (
       |  SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem),
       |h AS (
       |  SELECT l_returnflag, (l_orderkey * 2654435761) % 4294967296 AS h FROM d),
       |exact AS (
       |  SELECT l_returnflag, count(*) AS n_exact FROM d GROUP BY 1),
       |kth AS (
       |  SELECT l_returnflag, h AS kth_hash FROM (
       |    SELECT l_returnflag, h,
       |           row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rk
       |    FROM h) WHERE rk = $KmvK)
       |SELECT l_returnflag, n_exact, kth_hash,
       |       (${KmvK - 1} * 4294967296) // kth_hash AS est_distinct,
       |       (1000000 * abs((${KmvK - 1} * 4294967296) // kth_hash - n_exact))
       |         // n_exact AS err_ppm
       |FROM exact JOIN kth USING (l_returnflag)""".stripMargin

  // --------------------------------------------------------------- q113

  /** Priority-sampling size (per group). */
  private val PriK = 32

  /** q113: PRIORITY SAMPLING with a Horvitz–Thompson audit — the
    * weighted bottom-k sketch (Duffield–Lund–Thorup) that answers
    * "estimate subset sums from a fixed-size weighted sample": each
    * item draws priority q = w div u (u deterministic-uniform from
    * the q42 Knuth hash, scaled to 2³²), a group keeps its k highest
    * priorities, and the (k+1)-th priority τ prices every kept item
    * as max(w, τ) — the published estimator whose subset-sum
    * expectation is exact. The query audits the estimator against
    * the true group total: per order priority class, n kept, the
    * threshold, Σmax(w,τ) vs Σw, err ppm. This is the sampling a
    * 100 TB event pipeline keeps per key when exact totals are only
    * affordable for the audit slice — and unlike uniform sampling
    * (q42/q51) it is weight-aware: a heavy order is near-certain to
    * be kept, so heavy-tailed totals do not explode the variance.
    *
    * Integer-exact: weights are price cents (the q33/q101 contract);
    * u_scaled = knuth(o_orderkey)+1 ∈ [1, 2³²]; q = (w·2³²) div
    * u_scaled ≥ w stays far inside BIGINT (w ≤ ~10⁸ cents);
    * ties in q break by order key. Deterministic on both engines.
    *
    * Scale shape: ONE shuffle on the group key; the top-(k+1) rank
    * is a WindowGroupLimit per-task heap prune; the exact total
    * rides the same aggregate the audit needs anyway (a production
    * sketch-only run keeps per-partition (k+1)-heaps — mergeable
    * exactly like q112's, state (k+1)·|groups|). */
  def prioritySample(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("grp"), col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("w"))
      .withColumn("pri",
        expr("(w * 4294967296) div (((o_orderkey * 2654435761) % 4294967296) + 1)"))
    val ranked = base.withColumn("rk", row_number().over(
      Window.partitionBy(col("grp")).orderBy(col("pri").desc, col("o_orderkey"))))
    val tau = ranked.filter(col("rk") === PriK + 1)
      .select(col("grp"), col("pri").as("tau"))
    val est = ranked.filter(col("rk") <= PriK)
      .join(tau, "grp")
      .groupBy(col("grp"))
      .agg(sum(greatest(col("w"), col("tau"))).as("est_total"),
        max(col("tau")).as("tau_out"))
    val exact = base.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_items"), sum(col("w")).as("exact_total"))
    exact.join(est, "grp")
      .select(col("grp").as("o_orderpriority"), col("n_items"),
        col("exact_total"), col("tau_out").as("tau"), col("est_total"),
        expr("(1000000 * abs(est_total - exact_total)) div exact_total").as("err_ppm"))
  }

  val prioritySampleSql: String =
    s"""WITH base AS (
       |  SELECT o_orderpriority AS grp, o_orderkey,
       |         CAST(round(o_totalprice * 100) AS BIGINT) AS w,
       |         (CAST(round(o_totalprice * 100) AS BIGINT) * 4294967296)
       |           // (((o_orderkey * 2654435761) % 4294967296) + 1) AS pri
       |  FROM orders),
       |ranked AS (
       |  SELECT grp, o_orderkey, w, pri,
       |         row_number() OVER (PARTITION BY grp
       |                            ORDER BY pri DESC, o_orderkey) AS rk
       |  FROM base),
       |tau AS (SELECT grp, pri AS tau FROM ranked WHERE rk = ${PriK + 1}),
       |est AS (
       |  SELECT grp, CAST(sum(greatest(w, tau)) AS BIGINT) AS est_total,
       |         CAST(max(tau) AS BIGINT) AS tau
       |  FROM ranked JOIN tau USING (grp) WHERE rk <= $PriK
       |  GROUP BY grp),
       |exact AS (
       |  SELECT grp, count(*) AS n_items, CAST(sum(w) AS BIGINT) AS exact_total
       |  FROM base GROUP BY grp)
       |SELECT grp AS o_orderpriority, n_items, exact_total, tau, est_total,
       |       (1000000 * abs(est_total - exact_total)) // exact_total AS err_ppm
       |FROM exact JOIN est USING (grp)""".stripMargin

  // --------------------------------------------------------------- q115

  /** Days reported per event type (the top deviations, anomalous or
    * not — the monitoring dashboard shows the worst days with their
    * verdicts, so a quiet stream still renders). */
  private val AnomTopDays = 3

  /** q115: INGEST-VOLUME ANOMALY DETECTION — the per-key time-series
    * drift monitor a 100 TB pipeline runs on its own intake before
    * trusting a day's data. Per (event_type, UTC day): event count;
    * per type: mean/variance sufficient statistics (n, Σc, Σc²); a
    * day is anomalous when its squared deviation exceeds λ²·σ² at
    * λ = 2 — evaluated WITHOUT sqrt or floats by cross-multiplying:
    *
    *   (n·c − S₁)² > λ² · (n·Σc² − S₁²)     [both sides ×n²]
    *
    * so the verdict is integer-exact and engine-portable (the q112
    * determinism contract). Output: the top-[[AnomTopDays]] deviation
    * days per type with n_events, mean×100, z²×100 and the verdict —
    * the triage list, not just a boolean stream. z2_x100 is literally
    * 100·z² (computed as 400·dev² div thr, the λ²=4 folded back out),
    * so the flag reads as `z2_x100 > 400` — two sigmas.
    *
    * Overflow posture (the q101 precedent, applied at the exact
    * intermediate that wraps): Σc² and both cross-multiplied sides
    * accumulate through DECIMAL(38,0) — at 100 TB a hot key's daily
    * count reaches ~10¹⁰, putting (n·c)² at ~10²⁵, past BIGINT but
    * 13 orders inside DECIMAL(38,0). The OUTPUT columns stay BIGINT
    * because they are bounded ratios, not raw squares: z²×100 ≤
    * 100·(n_days−1) for any sample (the standardized-moment bound),
    * and mean×100 ≤ 100·max daily count.
    *
    * Scale shape: one map-side-combined aggregate to (type, day)
    * counts — the only corpus-sized stage; the per-type stats
    * aggregate and the stats-to-days join operate on |types|·|days|
    * rows; the top-deviation rank is a WindowGroupLimit per-task
    * prune. No corpus row survives the first aggregate. */
  def volumeAnomaly(spark: SparkSession, dir: String): DataFrame =
    volumeAnomalyOf(Tables.events(spark, dir)
      .select(col("event_type"),
        expr(s"${Tables.epochSecSql} div 86400").as("day_no")))

  private def dailyOf(typed: DataFrame): DataFrame =
    typed.groupBy(col("event_type"), col("day_no"))
      .agg(count(lit(1)).as("n_events"))

  private def statsOf(daily: DataFrame): DataFrame =
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n_events")).as("s1"),
        sum((col("n_events") * col("n_events")).cast("decimal(38,0)")).as("s2"))

  /** The TRAINED per-type volume baseline (event_type, n_days, s1,
    * s2) — sufficient statistics only, so the artifact is mergeable
    * (two training windows combine by summing columns) and
    * model-sized (one row per event type). This is the static side
    * of [[graft.streaming.Incremental.volumeAnomalyStream]]: batch
    * q115 trains it, ManifestSink stores it (the stored-index
    * lifecycle every other served artifact follows), and the serving
    * stream probes it per window. */
  def volumeStatsOf(typed: DataFrame): DataFrame = statsOf(dailyOf(typed))

  /** Stored-artifact adapters for [[volumeStatsOf]] (the FpIndex
    * lifecycle): s2 is DECIMAL(38,0) for overflow headroom, which the
    * flat codec carries as its exact decimal string — the
    * decimal→string→decimal round-trip is lossless, so the stored
    * baseline serves bit-identically (StoredIndexSpec). The save is
    * [[FpIndex.saveOrRebuildFlat]] (a live table rebuilds in place);
    * `asOf` pins the load like [[FpIndex.loadFlat]]'s. */
  def saveVolumeStats(path: String, stats: DataFrame): Unit =
    FpIndex.saveOrRebuildFlat(stats.sparkSession, path,
      stats.withColumn("s2", col("s2").cast("string")))

  def loadVolumeStats(spark: SparkSession, path: String,
      asOf: Option[Int] = None): DataFrame =
    FpIndex.loadFlat(spark, path, asOf)
      .withColumn("s2", col("s2").cast("decimal(38,0)"))

  /** Merge per-window volume baselines by summing sufficient
    * statistics — two training windows' stored artifacts combine
    * into EXACTLY the whole-window baseline (the CMS cell-wise-merge
    * property on the anomaly family; disjoint day windows, so day
    * counts add). */
  def mergeVolumeStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("event_type"))
      .agg(sum(col("n_days")).as("n_days"),
        sum(col("s1")).as("s1"),
        sum(col("s2")).cast("decimal(38,0)").as("s2"))

  /** [[volumeAnomaly]] over an arbitrary (event_type, day_no) frame —
    * the planted-anomaly testability seam (ExtendedOpsSpec feeds a
    * synthetic spike and asserts the verdict flips). */
  def volumeAnomalyOf(typed: DataFrame): DataFrame = {
    val daily = dailyOf(typed)
    val stats = statsOf(daily)
    val scored = daily.join(stats, "event_type")
      .withColumn("dev",
        expr("CAST(n_days * n_events - s1 AS DECIMAL(38,0))"))
      .withColumn("dev2", col("dev") * col("dev"))
      .withColumn("thr",
        expr("4 * (CAST(n_days AS DECIMAL(38,0)) * s2 " +
          "- CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)))"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("dev2").desc, col("day_no").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnomTopDays)
      .select(col("event_type"), col("day_no"), col("n_events"),
        expr("(100 * s1) div n_days").as("mean_x100"),
        expr("CAST((400 * dev2) div greatest(thr, 1) AS BIGINT)").as("z2_x100"),
        expr("CAST(dev2 > thr AS INT)").as("is_anomaly"),
        col("rk"))
  }

  val volumeAnomalySql: String =
    s"""WITH daily AS (
       |  SELECT event_type, (epoch_ms(ts) // 1000) // 86400 AS day_no,
       |         count(*) AS n_events
       |  FROM events GROUP BY 1, 2),
       |stats AS (
       |  SELECT event_type, count(*) AS n_days,
       |         CAST(sum(n_events) AS BIGINT) AS s1,
       |         CAST(sum(n_events * n_events) AS BIGINT) AS s2
       |  FROM daily GROUP BY 1),
       |scored AS (
       |  SELECT d.event_type, d.day_no, d.n_events, s.n_days, s.s1,
       |         (s.n_days * d.n_events - s.s1)
       |           * (s.n_days * d.n_events - s.s1) AS dev2,
       |         4 * (s.n_days * s.s2 - s.s1 * s.s1) AS thr
       |  FROM daily d JOIN stats s USING (event_type)),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY event_type
       |                               ORDER BY dev2 DESC, day_no ASC) AS rk
       |  FROM scored)
       |SELECT event_type, day_no, n_events,
       |       (100 * s1) // n_days AS mean_x100,
       |       (400 * dev2) // greatest(thr, 1) AS z2_x100,
       |       CAST(dev2 > thr AS INT) AS is_anomaly,
       |       CAST(rk AS INT) AS rk
       |FROM ranked WHERE rk <= $AnomTopDays""".stripMargin

  // --------------------------------------------------------------- q122

  /** Candidate split points, as percent of the observed day range. */
  private val SplitPcts = Seq(50, 70, 90)

  /** q122: TEMPORAL-SPLIT LEAKAGE AUDIT — the time-axis complement of
    * q94's cluster-keyed split: q94 proves near-dup pairs cannot
    * straddle a random split; this measures what a TEMPORAL split
    * (train on the past, evaluate on the future — the standard
    * recommender/forecasting protocol) leaks at the USER level. For
    * each candidate boundary (at [[SplitPcts]] percent of the
    * observed day range): how many test-side users were already seen
    * in training (their eval events are personalization leakage /
    * not cold-start), and what fraction of test EVENTS belongs to
    * seen users. overlap=10⁶ says the eval measures returning-user
    * behavior only; overlap≈0 says the eval is all cold-start — the
    * boundary choice IS this tradeoff, and the audit prices it
    * before anyone trains. (The fixture's users are all long-lived,
    * so it reports total overlap at every boundary — the honest
    * answer there; ExtendedOpsSpec plants churned users to pin the
    * discriminating case.)
    *
    * Scale shape: ONE corpus pass to the (user, day) count table —
    * map-side combined, the only corpus-sized stage (the q115
    * contract); boundaries derive from a 1-row min/max aggregate
    * crossed with the |SplitPcts|-literal frame (broadcast); the
    * per-(boundary, user) reaggregation runs on |users|·|days|·|p|
    * bounded rows. Integer-exact throughout. */
  def timeSplitAudit(spark: SparkSession, dir: String): DataFrame =
    timeSplitAuditOf(Tables.events(spark, dir)
      .select(col("user_id"),
        expr(s"${Tables.epochSecSql} div 86400").as("day_no")))

  /** [[timeSplitAudit]] over an arbitrary (user_id, day_no) frame —
    * the planted-churn testability seam. */
  def timeSplitAuditOf(typed: DataFrame): DataFrame = {
    val spark = typed.sparkSession
    import spark.implicits._
    val ud = typed.groupBy(col("user_id"), col("day_no"))
      .agg(count(lit(1)).as("c"))
    val mm = ud.agg(min(col("day_no")).as("mn"), max(col("day_no")).as("mx"))
    val bounds = mm.crossJoin(SplitPcts.toDF("p"))
      .select(col("p"), expr("mn + ((mx - mn) * p) div 100").as("bday"))
    val perUser = ud.crossJoin(broadcast(bounds))
      .groupBy(col("p"), col("bday"), col("user_id"))
      .agg(
        sum(when(col("day_no") < col("bday"), col("c")).otherwise(0L)).as("c_train"),
        sum(when(col("day_no") >= col("bday"), col("c")).otherwise(0L)).as("c_test"))
    perUser.groupBy(col("p"), col("bday").as("boundary_day"))
      .agg(
        sum(when(col("c_train") > 0, 1L).otherwise(0L)).as("n_train_users"),
        sum(when(col("c_test") > 0, 1L).otherwise(0L)).as("n_test_users"),
        sum(when(col("c_train") > 0 && col("c_test") > 0, 1L).otherwise(0L))
          .as("n_overlap_users"),
        sum(col("c_test")).as("n_test_events"),
        sum(when(col("c_train") > 0, col("c_test")).otherwise(0L))
          .as("n_leaky_test_events"))
      .select(col("p"), col("boundary_day"),
        col("n_train_users"), col("n_test_users"), col("n_overlap_users"),
        expr("(1000000 * n_overlap_users) div n_test_users").as("user_overlap_ppm"),
        col("n_test_events"), col("n_leaky_test_events"),
        expr("(1000000 * n_leaky_test_events) div n_test_events").as("leaky_ppm"))
  }

  val timeSplitAuditSql: String =
    s"""WITH ud AS (
       |  SELECT user_id, (epoch_ms(ts) // 1000) // 86400 AS day_no, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |bounds AS (
       |  SELECT p, mn + ((mx - mn) * p) // 100 AS bday
       |  FROM (SELECT min(day_no) AS mn, max(day_no) AS mx FROM ud),
       |       (SELECT unnest([${SplitPcts.mkString(", ")}]) AS p)),
       |per_user AS (
       |  SELECT b.p, b.bday, u.user_id,
       |         sum(CASE WHEN u.day_no < b.bday THEN u.c ELSE 0 END) AS c_train,
       |         sum(CASE WHEN u.day_no >= b.bday THEN u.c ELSE 0 END) AS c_test
       |  FROM ud u CROSS JOIN bounds b
       |  GROUP BY 1, 2, 3)
       |SELECT p, bday AS boundary_day,
       |       CAST(sum(CASE WHEN c_train > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train_users,
       |       CAST(sum(CASE WHEN c_test > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_test_users,
       |       CAST(sum(CASE WHEN c_train > 0 AND c_test > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_overlap_users,
       |       CAST((1000000 * sum(CASE WHEN c_train > 0 AND c_test > 0 THEN 1 ELSE 0 END))
       |         // sum(CASE WHEN c_test > 0 THEN 1 ELSE 0 END) AS BIGINT) AS user_overlap_ppm,
       |       CAST(sum(c_test) AS BIGINT) AS n_test_events,
       |       CAST(sum(CASE WHEN c_train > 0 THEN c_test ELSE 0 END) AS BIGINT)
       |         AS n_leaky_test_events,
       |       CAST((1000000 * sum(CASE WHEN c_train > 0 THEN c_test ELSE 0 END))
       |         // sum(c_test) AS BIGINT) AS leaky_ppm
       |FROM per_user GROUP BY 1, 2""".stripMargin
}
