package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Clustering
import graft.pipeline.EmbedPipeline

/** The vector-side production funnel (q133's deployment twin): one
  * write action whose Observation-metric stage report must equal the
  * oracled q133 audit table stage by stage — the same production ≡
  * audit contract CorpusPipelineSpec pins for q123. */
class EmbedPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("run ≡ q133 stage-by-stage (counts AND exact inertia); the published " +
      "table IS the quota stage; masses nest monotonically") {
    CacheRegistry.releaseAll()
    val out = java.nio.file.Files.createTempDirectory("graft-embedout").toString
    val stages = EmbedPipeline.run(spark, sf, out)
    assert(stages.map(_.stage) == Seq("input", "semdedup", "diversity_quota"))
    // the Observation report ≡ the oracled q133 audit table
    CacheRegistry.releaseAll()
    val want = Clustering.embedCurationFunnel(spark, sf).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), BigInt(r.getString(3))))).toMap
    stages.foreach { s =>
      assert((s.nVecs, s.inertia) == want(s.stage),
        s"stage ${s.stage}: run=${(s.nVecs, s.inertia)} q133=${want(s.stage)}")
    }
    // short-circuit order: masses nest input ⊇ semdedup ⊇ quota
    assert(stages(0).nVecs >= stages(1).nVecs && stages(1).nVecs >= stages(2).nVecs,
      "vector counts nest")
    assert(stages(0).inertia >= stages(1).inertia &&
      stages(1).inertia >= stages(2).inertia, "inertia nests")
    assert(stages(2).nVecs <= Clustering.K.toLong * Clustering.SampleM, "quota bound")
    // the manifest-committed output holds exactly the quota-stage rows
    val pub = spark.read.format("graft.sources.ManifestSink")
      .option("path", out).load()
    assert(pub.count() == stages(2).nVecs, "published rows == quota stage")
    assert(pub.agg(max(col("rank"))).collect()(0).getInt(0) <= Clustering.SampleM,
      "per-cell rank bounded by the quota")
    // and its inertia re-sums to the reported stage mass — the report
    // describes the rows that actually shipped, not a parallel plan
    val pubInertia = BigInt(pub.agg(sum(col("dist").cast("decimal(38,0)")))
      .collect()(0).getDecimal(0).toBigInteger)
    assert(pubInertia == stages(2).inertia, "published inertia == reported")
  }

  test("run on a two-level model (the at-scale funnel): report ≡ recomputing the same " +
      "stages over the literal hierarchical assignment; published == quota stage") {
    CacheRegistry.releaseAll()
    val out = java.nio.file.Files.createTempDirectory("graft-embedhier").toString
    val k = Clustering.HierK
    val stages = EmbedPipeline.run(spark, sf, out, v => Clustering.trainHierarchicalFrames(v, k))
    assert(stages.map(_.stage) == Seq("input", "semdedup", "diversity_quota"))
    // expected masses from the LITERAL two-level path (the model's
    // own dispatch picks it at this k, and frames-training is spec-pinned
    // bit-exact to literal training) — an independent recomputation,
    // not the pipeline's own frames
    CacheRegistry.releaseAll()
    val v = Clustering.fixedPoint(spark, sf)
    val asg = Clustering.trainHierarchical(v, k).assign(v)
      .select(col("vec_id"), col("x"), col("cluster"), col("dist")).persist()
    def mass(df: org.apache.spark.sql.DataFrame): (Long, BigInt) = {
      val r = df.agg(count(lit(1)), coalesce(
        sum(col("dist").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger))
    }
    val kept = Clustering.semdedupPruneOf(
        asg.select(col("vec_id"), col("x"), col("cluster")))
      .filter(col("kept") === 1).select(col("vec_id"))
    val surv = asg.join(kept, "vec_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("dist").desc, col("vec_id"))
    val quota = surv.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Clustering.SampleM)
    val want = Map("input" -> mass(asg), "semdedup" -> mass(surv),
      "diversity_quota" -> mass(quota))
    stages.foreach { s =>
      assert((s.nVecs, s.inertia) == want(s.stage),
        s"stage ${s.stage}: run=${(s.nVecs, s.inertia)} expected=${want(s.stage)}")
    }
    val pub = spark.read.format("graft.sources.ManifestSink")
      .option("path", out).load()
    assert(pub.count() == stages(2).nVecs, "published rows == quota stage")
    asg.unpersist()
    CacheRegistry.releaseAll()
  }
}
