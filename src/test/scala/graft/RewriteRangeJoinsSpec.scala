package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftExtensions

/** The transparent-adoption path: a session built with GraftExtensions
  * rewrites declarative `l JOIN r ON k = k AND s <= pt < e` into the
  * custom interval-join operator during optimization — no API change —
  * while near-miss shapes keep Spark's stock join. */
class RewriteRangeJoinsSpec extends AnyFunSuite {
  lazy val plain: SparkSession = SparkTestSession.spark

  // one extensions-enabled session for the whole suite, sharing the
  // SparkContext; active/default are restored after each use
  private def withExtSession[A](f: SparkSession => A): A = {
    // the shared SparkContext comes from GraftSession, with its
    // session-wide defaults, even when this suite runs first
    plain
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try f(s)
    finally {
      SparkSession.setDefaultSession(plain)
      SparkSession.setActiveSession(plain)
    }
  }

  private def fixture(s: SparkSession): (DataFrame, DataFrame) = {
    import s.implicits._
    val pts = Seq((1L, 100L, 5L), (1L, 101L, 10L), (1L, 102L, 20L), (2L, 103L, 10L))
      .toDF("k", "pid", "pt")
    val ivs = Seq((1L, 200L, 5L, 10L), (1L, 201L, 10L, 15L), (1L, 202L, 0L, 100L),
      (2L, 203L, 11L, 12L)).toDF("ik", "iid", "s", "e")
    (pts, ivs)
  }

  private def expected = Set(
    (100L, 200L), (100L, 202L), (101L, 201L), (101L, 202L), (102L, 202L))

  test("declarative range join is rewritten to IntervalJoin and stays correct") {
    withExtSession { s =>
      val (pts, ivs) = fixture(s)
      val joined = pts.join(ivs,
        col("k") === col("ik") && col("pt") >= col("s") && col("pt") < col("e"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("IntervalJoin"), plan.take(800))
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"))
      val got = joined.select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
    }
  }

  test("mirrored join order (intervals on the left) rewrites with column order preserved") {
    withExtSession { s =>
      val (pts, ivs) = fixture(s)
      val joined = ivs.join(pts,
        col("k") === col("ik") && col("s") <= col("pt") && col("e") > col("pt"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("IntervalJoin"), plan.take(800))
      assert(joined.columns.toSeq === Seq("ik", "iid", "s", "e", "k", "pid", "pt"),
        "original output column order must survive the mirrored rewrite")
      val got = joined.select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
    }
  }

  test("near-miss shapes are left to Spark's stock planner") {
    withExtSession { s =>
      val (pts, ivs) = fixture(s)
      def planOf(df: DataFrame) = df.queryExecution.executedPlan.toString
      // closed upper bound: not the half-open contract
      val closed = pts.join(ivs,
        col("k") === col("ik") && col("pt") >= col("s") && col("pt") <= col("e"))
      assert(!planOf(closed).contains("IntervalJoin"))
      // extra cross-side conjunct
      val extra = pts.join(ivs,
        col("k") === col("ik") && col("pt") >= col("s") && col("pt") < col("e") &&
          col("pid") =!= col("iid"))
      assert(!planOf(extra).contains("IntervalJoin"))
      // expression (not bare attribute) in a bound
      val expr0 = pts.join(ivs,
        col("k") === col("ik") && col("pt") >= col("s") + lit(1L) && col("pt") < col("e"))
      assert(!planOf(expr0).contains("IntervalJoin"))
      // and all three still compute correct stock-join results
      assert(closed.count() >= expected.size)
      assert(extra.select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet === expected)
    }
  }

  test("rewritten result matches the stock plan on real data (events self-join)") {
    val sf = "/root/testdata/sf0.001"
    def build(s: SparkSession): DataFrame = {
      val ev = Tables.events(s, sf)
      val iv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("iv_user"), col("event_id").as("iv_id"),
          col("ts").as("iv_start"), (col("ts") + expr("INTERVAL 2 HOURS")).as("iv_end"))
      ev.filter(col("event_type") =!= "purchase")
        .join(iv, col("user_id") === col("iv_user") &&
          col("ts") >= col("iv_start") && col("ts") < col("iv_end"))
        .select("event_id", "iv_id")
    }
    val stock = build(plain).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withExtSession { s =>
      val df = build(s)
      assert(df.queryExecution.executedPlan.toString.contains("IntervalJoin"))
      val rewritten = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rewritten === stock)
    }
  }
}
