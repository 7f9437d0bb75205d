package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Session defaults that bound what a long-lived session keeps. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("the SQL status store keeps at most its cap of finished executions") {
    val cap = GraftSession.RetainedExecutions
    (0 until cap + 30).foreach(i => spark.range(1).selectExpr(s"id + $i").collect())
    val store = spark.sharedState.statusStore
    // the store trims asynchronously, after the executions end
    val deadline = System.nanoTime() + 20000000000L
    while (store.executionsCount() > cap && System.nanoTime() < deadline) Thread.sleep(100)
    assert(store.executionsCount() <= cap,
      s"${store.executionsCount()} executions retained, cap $cap")
  }
}
