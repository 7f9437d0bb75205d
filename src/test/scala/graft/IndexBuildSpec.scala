package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Extended, Similarity, TextAnalysis}
import graft.pipeline.IndexBuild
import graft.streaming.Incremental

/** The ONE-SHOT deployment lifecycle (round-10 verdict ask #3): a
  * single nightly [[IndexBuild.buildAll]] persists every serving
  * artifact, and a FRESH session opens the root with
  * [[IndexBuild.loadAll]] and runs the full serving surface — curation
  * gate, retrieval probe, novelty gate, CMS estimate, volume baseline,
  * ANN serves — with results equal to in-session builds and ZERO
  * corpus-sized recompute (the served plans scan only the stored index
  * tables, never the corpus parquet).
  */
class IndexBuildSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def sortedRows(rows: Array[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq).toSeq.sortBy(_.mkString("\u0000"))

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft-oneshot").toString
    CacheRegistry.releaseAll()
    IndexBuild.buildAll(spark, sf, r)
    r
  }

  private def arrivalsOf(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (900001L, "the quick brown fox jumps over the lazy dog by the river"),
      (900002L, "an entirely novel arrival about orbital imaging platforms"),
      (900003L, "hi")).toDF("doc_id", "text")
  }

  test("one build job → a fresh session serves the full text surface row-equal " +
      "to in-session builds, scanning ONLY stored index tables (zero corpus recompute)", Slow) {
    val r = root
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // expected rows from IN-SESSION builds (the corpus-sized path)
    val wantGate = sortedRows(Incremental.curationGateStream(arrivalsOf(spark),
      Incremental.corpusKeySet(docs),
      Dedup.bandIndexOf(spark, sf), Dedup.shingleIndexOf(spark, sf)).collect())
    val probes = arrivalsOf(spark).select(col("doc_id").as("query_id"), col("text"))
    val wantRetr = sortedRows(Incremental.retrievalStream(
      probes, Incremental.postingTable(docs)).collect())
    val wantNov = sortedRows(Incremental.noveltyStream(
      arrivalsOf(spark), Incremental.corpusShingleSet(docs)).collect())
    val cmsProbe = TextAnalysis.vocabTopK(spark, sf).select(col("token"))
    val wantCms = sortedRows(TextAnalysis.cmsEstimateOf(
      TextAnalysis.cmsSketchOf(docs), cmsProbe).collect())
    val typed = Tables.events(spark, sf)
      .selectExpr("event_type", s"${Tables.epochSecSql} div 86400 AS day_no")
    val wantVol = sortedRows(Extended.volumeStatsOf(typed).collect())
    assert(wantGate.nonEmpty && wantRetr.nonEmpty && wantNov.nonEmpty && wantCms.nonEmpty)

    // the serving session: fresh state, stored artifacts only
    CacheRegistry.releaseAll()
    val serve = spark.newSession()
    val idx = IndexBuild.loadAll(serve, r)
    val gate = Incremental.curationGateStream(
      arrivalsOf(serve), idx.keys, idx.bands, idx.shingles)
    val retr = Incremental.retrievalStream(
      arrivalsOf(serve).select(col("doc_id").as("query_id"), col("text")), idx.postings)
    val nov = Incremental.noveltyStream(arrivalsOf(serve), idx.novelty)
    // row parity with the in-session surface
    assert(sortedRows(gate.collect()) == wantGate, "served gate verdicts")
    assert(sortedRows(retr.collect()) == wantRetr, "served retrieval scores")
    assert(sortedRows(nov.collect()) == wantNov, "served novelty scores")
    val gotCms = sortedRows(TextAnalysis.cmsEstimateOf(idx.cms,
      cmsProbe.as("p")).collect())
    assert(gotCms == wantCms, "served CMS estimates")
    assert(sortedRows(idx.volumeStats.collect()) == wantVol, "served volume baseline")
    // ZERO corpus-sized recompute: the serving plans read the stored
    // manifest tables and the in-memory arrivals — never the corpus
    // parquet (that scan belongs to the build job alone)
    Seq("gate" -> gate, "retrieval" -> retr, "novelty" -> nov).foreach {
      case (name, df) =>
        val plan = planOf(df)
        assert(!plan.contains("documents.parquet"),
          s"$name serve plan must not rescan the corpus:\n$plan")
        assert(!plan.contains("events.parquet"),
          s"$name serve plan must not rescan the events table")
    }
  }

  test("the same root serves the ANN tiers: q44/q82 from the one-shot build are " +
      "byte-identical to in-session training") {
    val r = root
    CacheRegistry.releaseAll()
    val wantIvf = sortedRows(Similarity.ivfTopK(spark, sf).collect())
    val wantPq = sortedRows(Similarity.pqAdcTopK(spark, sf).collect())
    CacheRegistry.releaseAll()
    val serve = spark.newSession()
    val idx = IndexBuild.loadAll(serve, r)
    assert(sortedRows(Similarity.ivfTopKServe(serve, sf, idx.annPath).collect()) == wantIvf,
      "served q44 from the one-shot root")
    assert(sortedRows(Similarity.pqAdcTopKServe(serve, sf, idx.annPath).collect()) == wantPq,
      "served q82 from the one-shot root")
    CacheRegistry.releaseAll()
  }

  test("the same root serves the cluster + PCA models: stored-model projection " +
      "is byte-identical to the in-session fit, with zero corpus recompute") {
    val r = root
    CacheRegistry.releaseAll()
    val m = graft.operators.Pca.fit(spark, sf)
    val wantProj = sortedRows(graft.operators.Pca.project(
      Tables.embeddings(spark, sf).filter(col("vec_id") % 25 === 0), m, 8).collect())
    CacheRegistry.releaseAll()
    val serve = spark.newSession()
    val idx = IndexBuild.loadAll(serve, r)
    val served = graft.operators.Pca.projectStored(serve, idx.pcaPath,
      Tables.embeddings(serve, sf).filter(col("vec_id") % 25 === 0),
      8, idx.pins.get(IndexBuild.PcaT))
    assert(sortedRows(served.collect()) == wantProj,
      "served PCA projection from the one-shot root")
    // map-only serve: the stored model rides the plan as literals; the
    // only scan is the arrival batch itself
    val plan = planOf(served)
    assert(!plan.contains("Exchange"), s"PCA serve must be map-only:\n$plan")
    CacheRegistry.releaseAll()
  }

  test("the same root serves the SEMANTIC gate: stored capped-corpus verdicts equal " +
      "the in-session build, with zero corpus recompute in the probe") {
    val r = root
    CacheRegistry.releaseAll()
    import graft.operators.Clustering
    val v = Clustering.fixedPoint(spark, sf)
    val cents = Clustering.CellModel.Flat(Clustering.trainCentroids(v))
    val arrivals = Tables.embeddings(spark, sf).filter(col("vec_id") % 25 === 0)
      .withColumn("vec_id", col("vec_id") + lit(900000000L))
    // in-session twin of the nightly build: the same corpus-relative
    // cap applied to the same assigned corpus, gated the same way
    val assigned = Clustering.assignedCorpus(v, cents)
    val (probe, capped) = Clustering.capAssignedCorpus(
      assigned, Clustering.buildCapOf(assigned.count(), cents.k))
    val want = sortedRows(graft.streaming.Incremental.semanticNearDupGate(
      arrivals, cents, probe, capped).collect())
    assert(want.nonEmpty, "replayed corpus vectors must produce verdicts")
    CacheRegistry.releaseAll()
    val serve = spark.newSession()
    val idx = IndexBuild.loadAll(serve, r)
    val storedCents = Clustering.loadCentroids(
      serve, idx.centroidsPath, idx.pins.get(IndexBuild.CentroidsT))
    val servedArrivals = Tables.embeddings(serve, sf).filter(col("vec_id") % 25 === 0)
      .withColumn("vec_id", col("vec_id") + lit(900000000L))
    val served = graft.streaming.Incremental.semanticNearDupGate(
      servedArrivals, storedCents, idx.assignedCorpus, idx.cappedCells)
    assert(sortedRows(served.collect()) == want, "served gate verdicts == in-session")
    // the MULTI-PROBE gate serves from the SAME stored artifacts: its
    // probe-1 (greedy) leg must reproduce the single-probe gate's
    // verdicts exactly — pairs and per-leg cap flags alike
    val served2 = graft.streaming.Incremental.semanticNearDupGate(
      servedArrivals, storedCents, idx.assignedCorpus, idx.cappedCells, 2)
    val leg1 = served2.collect().filter(_.getInt(1) == 1)
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3), r.getInt(4))).toSet
    val single = served.collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2), r.getInt(3))).toSet
    assert(leg1 == single,
      "multi-probe leg 1 from the stored root == single-probe gate verdicts")
    CacheRegistry.releaseAll()
  }

  test("the same root serves the TWO-LEVEL multi-probe gate: stored frame model + " +
      "hier-capped corpus reproduce the in-session verdicts in a fresh session") {
    val r = root
    CacheRegistry.releaseAll()
    import graft.operators.Clustering
    val v = Clustering.fixedPoint(spark, sf)
    val n = v.count()
    val hk = math.max(4, Clustering.kForCorpus(n))
    // in-session twin of the nightly hier leg (same deterministic
    // id-seeded training, same cap rule)
    val hm = Clustering.trainHierarchicalFrames(v, hk)
    val assigned = Clustering.assignedCorpus(v, hm)
    val (probe, capped) = Clustering.capAssignedCorpus(
      assigned, Clustering.buildCapOf(n, hm.k))
    val arrivals = Tables.embeddings(spark, sf).filter(col("vec_id") % 25 === 0)
      .withColumn("vec_id", col("vec_id") + lit(900000000L))
    val want = sortedRows(Incremental.semanticNearDupGate(
      arrivals, hm, probe, capped, 2).collect())
    assert(want.nonEmpty, "replayed corpus vectors must produce verdicts")
    CacheRegistry.releaseAll()
    val serve = spark.newSession()
    val idx = IndexBuild.loadAll(serve, r)
    val shm = Clustering.loadCentroids(
      serve, idx.hierModelPath, idx.pins.get(IndexBuild.HierModelT))
    val servedArrivals = Tables.embeddings(serve, sf).filter(col("vec_id") % 25 === 0)
      .withColumn("vec_id", col("vec_id") + lit(900000000L))
    val served = Incremental.semanticNearDupGate(
      servedArrivals, shm, idx.assignedHierCorpus, idx.cappedHierCells, 2)
    assert(sortedRows(served.collect()) == want,
      "served two-level multi-probe gate == in-session twin")
    CacheRegistry.releaseAll()
  }

  test("nightly re-run: buildAll over a live root cuts every table over " +
      "atomically; a session pinned at open is unaffected", Slow) {
    val r = root
    val pinnedSession = spark.newSession()
    val pinnedIdx = IndexBuild.loadAll(pinnedSession, r) // pinned by default
    val before = sortedRows(pinnedIdx.keys.collect())
    assert(before.nonEmpty)
    CacheRegistry.releaseAll()
    IndexBuild.buildAll(spark, sf, r) // the re-run (same corpus → same content)
    // pinned session: byte-stable across the rebuild
    assert(sortedRows(pinnedIdx.keys.collect()) == before,
      "pinned keys must not change under a concurrent rebuild")
    assert(sortedRows(IndexBuild.loadAll(pinnedSession, r, pinned = false)
      .keys.collect()) == before,
      "same corpus re-built → same served content")
    // and the re-run advanced every flat table's generation
    val v = graft.operators.FpIndex.tableVersion(s"$r/${IndexBuild.KeysT}")
    assert(v > pinnedIdx.pins(IndexBuild.KeysT), "rebuild must append a new generation")
  }

  // ------------------------------------------ side-by-side nightly build

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-build-$tag").toString

  private def version(root: String, t: String): Int =
    graft.operators.FpIndex.tableVersion(s"$root/$t")

  test("a failing build chain surfaces only after the other chains have " +
      "finished: their tables are committed and no commit thread is left alive") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import IndexBuild._
    CacheRegistry.releaseAll()
    val r = tmpRoot("fails")
    // a keys table no key set can be rebuilt into: the text chain fails
    // at its first commit, long before the vector chains are done
    graft.operators.FpIndex.saveFlat(s"$r/$KeysT", Seq("x").toDF("not_a_key"))
    val e = intercept[Exception](IndexBuild.buildAll(spark, sf, r))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("incompatible schema evolution")),
      s"the keys commit's failure must surface: $e")
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("indexbuild-commit"))
    assert(alive.isEmpty, s"commit threads left alive: $alive")
    val vectorTables = Seq(CentroidsT, AssignedT, CappedT, RadiiT, PcaT,
      HierModelT, AssignedHierT, CappedHierT, RadiiHierT)
    assert(vectorTables.forall(version(r, _) == 1),
      "both vector chains commit every table before the failure surfaces: " +
        vectorTables.map(t => t -> version(r, t)).mkString(", "))
    assert(Seq("quantizer", "codebook", "codes", "sq8_codes", "sq8_stats")
      .forall(t => version(r, s"$AnnT/$t") == 1), "the ANN tables commit")
    assert(version(r, KeysT) == 1, "the failed keys rebuild commits nothing")
    assert(Seq(TextMetaT, CmsT, BandsT, ShinglesT, NoveltyT, PostingsT, VolStatsT)
      .forall(version(r, _) == 0), "the text chain stops at its failed commit")
    CacheRegistry.releaseAll()
  }

  test("the two-level unit evaluates the fine-frame lineage once and assigns " +
      "the corpus once") {
    import graft.operators.Clustering
    CacheRegistry.releaseAll()
    // a filter nothing prunes, counting every corpus row it evaluates
    val seen = spark.sparkContext.longAccumulator("hier-corpus-rows")
    val tick = udf { (_: Long) => seen.add(1L); true }.asNondeterministic()
    val fixed = Clustering.fixedPoint(spark, sf).filter(tick(col("vec_id")))
    val n = fixed.count()
    def passes(body: => Unit): Long = {
      val s0 = seen.value
      body
      val rows = seen.value - s0
      assert(rows % n == 0, s"$rows row evaluations is not a whole number of passes over $n")
      rows / n
    }
    val hk = math.max(4, Clustering.kForCorpus(n))
    // the reference: training plus ONE full evaluation of the fine frame
    val reference = passes {
      Clustering.trainHierarchicalFrames(fixed, hk).fine
        .write.format("noop").mode("overwrite").save()
    }
    val unit = passes(IndexBuild.buildVectorUnit(spark, fixed, tmpRoot("hier"),
      IndexBuild.TwoLevelUnit, Some(n)))
    assert(unit == reference + 1,
      s"training + one fine-frame evaluation ($reference passes) + one corpus " +
        s"assignment, got $unit passes")
    CacheRegistry.releaseAll()
  }

  test("buildAll fires at most its job budget on the fixture") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    CacheRegistry.releaseAll()
    ModelRegistry.clear()
    val r = tmpRoot("budget")
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("budget-build", "buildAll")
      try IndexBuild.buildAll(spark, sf, r) finally sc.clearJobGroup()
      // a marker job: once its start is seen, every earlier one is too
      sc.setJobGroup("budget-after", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!starts.asScala.exists(_ == "budget-after") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    // every chain thread inherits the caller's job group
    val jobs = starts.asScala.count(_ == "budget-build")
    assert(jobs <= BuildJobBudget, s"buildAll fired $jobs jobs, over its budget of $BuildJobBudget")
    CacheRegistry.releaseAll()
  }

  /** buildAll's jobs on the sf0.001 fixture into a fresh root: 99 with
    * each shared input computed once (124 when text_meta re-derived
    * the key set, the flat unit assigned the corpus twice and the
    * two-level unit evaluated its fine frame three times). */
  private val BuildJobBudget = 105
}
