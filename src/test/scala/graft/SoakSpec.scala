package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The soak harness's shared rules: one replication rule for every
  * fixture maker and replicated soak, one exactness gate, one entry
  * point. */
class SoakSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("replication: n× facts with disjoint offset keys, other columns and dimensions unchanged") {
    val out = Files.createTempDirectory("graft_soak_fixture").toString
    val keys = Map("lineitem" -> Seq("l_orderkey"), "orders" -> Seq("o_orderkey"),
      "events" -> Seq("event_id", "user_id"), "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    val stride = Map("l_orderkey" -> 1000000000L, "o_orderkey" -> 1000000000L,
      "event_id" -> 1000000000L, "user_id" -> 1000000L,
      "doc_id" -> 10000000L, "vec_id" -> 10000000L)
    Soak.writeFixture(spark, sf, out, 3, keys.keySet)
    keys.foreach { case (t, ks) =>
      val src = Tables.load(spark, sf, t)
      val got = Tables.load(spark, out, t)
      assert(got.count() == 3 * src.count(), t)
      // replica r is the source with each key shifted r strides and
      // every other column as it was
      val want = (0 until 3).map(r => ks.foldLeft(src)((d, k) =>
        d.withColumn(k, col(k) + lit(r * stride(k))))).reduce(_ unionAll _)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, t)
      ks.foreach { k =>
        assert(got.select(k).distinct().count() == 3 * src.select(k).distinct().count(),
          s"$t.$k replicas must not collide")
      }
    }
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      val src = Tables.load(spark, sf, t)
      val got = Tables.load(spark, out, t)
      assert(got.count() == src.count() && got.exceptAll(src).isEmpty, s"$t is copied at 1x")
    }
  }

  test("doc/vec strides stay 10^7 through the second decade; the 2^31 guard rejects before writing") {
    Seq(1, 10, 100, 214).foreach { m =>
      assert(Soak.strides(m)("doc_id") == 10000000L && Soak.strides(m)("vec_id") == 10000000L, m)
    }
    assert(Soak.strides(1000)("vec_id") == 2097152L)
    assert(Soak.replicate(spark.range(3).toDF("doc_id"), 10)
      .agg(max(col("doc_id"))).head().getLong(0) == 2 + 9 * 10000000L)
    val out = Files.createTempDirectory("graft_soak_guard").resolve("sf").toString
    val e = intercept[IllegalArgumentException](Soak.main(Array("make-sf10", out, "1100")))
    assert(e.getMessage.contains("past 2^31"))
    assert(!new java.io.File(out).exists(), "nothing may be written for a rejected mult")
  }

  test("sameRows is order-independent and fails with its message and both row counts") {
    val a = Seq(Row(1L, "x"), Row(2L, "y"))
    assert(Soak.sameRows(a.reverse, a, "gate") == 2)
    val e = intercept[IllegalArgumentException](Soak.sameRows(a.take(1), a, "q lost exactness"))
    assert(e.getMessage.contains("q lost exactness (1 vs 2 rows)"))
  }

  test("an unknown family is rejected with the list of families") {
    val e = intercept[IllegalArgumentException](Soak.main(Array("SoakEtl")))
    Seq("etl", "docs", "ann", "graph", "cluster", "delta", "shard",
      "make-sf1", "make-sf10", "proof-sf10").foreach(f => assert(e.getMessage.contains(f), f))
  }
}
