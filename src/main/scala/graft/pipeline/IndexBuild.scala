package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{GraftSession, Tables}
import graft.operators.{Clustering, Dedup, Extended, FpIndex, Pca, Similarity, TextAnalysis}
import graft.streaming.Incremental

/** ONE-SHOT NIGHTLY INDEX BUILD + STORED-ONLY SERVE (round-10 verdict
  * ask #3). Every stored serving artifact the library defines exists
  * per family ([[graft.operators.AnnIndex]], [[FpIndex]], the CMS /
  * volume-stats adapters) — but a deployment runs ONE build job per
  * corpus version and ONE kind of serving session. This object is
  * those two halves:
  *
  *  - [[buildAll]]: persist every serving artifact for a corpus dir
  *    under one index root, in one job. Corpus-sized work is the
  *    build's budget BY DESIGN — each artifact is one scan/aggregate
  *    over the fixture tables, the shingle pipeline is shared between
  *    the band and shingle tables through the operators' existing
  *    CacheRegistry materialization points, and nothing here collects
  *    beyond the model-sized ANN artifacts (quantizer ≈ √n, codebook).
  *    The text, flat-vector and hierarchical table families commit
  *    side by side, each shared input computed once (see [[buildAll]]).
  *    Re-runs rebuild IN PLACE through the generation-append path
  *    ([[FpIndex.rebuildFlat]]): atomic cutover, pinned readers
  *    unaffected, racing builds abort cleanly.
  *
  *  - [[loadAll]]: open the stored artifacts for a serving session,
  *    PINNED by default to each table's version at open
  *    ([[FpIndex.tableVersion]]) so a nightly rebuild landing
  *    mid-session can never change, empty, or mix what this session
  *    serves. Everything downstream — the curation gate, the
  *    retrieval probe, novelty scoring, CMS estimates, the volume-
  *    anomaly verdict — runs against these frames with ZERO
  *    corpus-sized recompute: the serving session never touches the
  *    corpus parquet (IndexBuildSpec asserts the served plans scan
  *    only index tables). The ANN tiers serve through their own
  *    loaders at [[ServingIndexes.annPath]] (`Similarity.ivfTopKServe`
  *    / `pqAdcTopKServe` / `ivfPqTopKServe`): the stored code table
  *    replaces the corpus scan; only declared-small query rows are
  *    re-derived.
  *
  * At 100 TB this split is the whole deployment story: the build job
  * pays the corpus passes once per corpus version on the batch tier;
  * every ingest batch and query session is O(delta)/O(|Q|·k) probes
  * into manifest-backed tables (the SoakDocs delta-isolation and
  * SoakAnn serve rows quantify both sides).
  */
object IndexBuild {

  /** Sub-table layout under the index root. */
  val KeysT = "keys"; val BandsT = "bands"; val ShinglesT = "shingles"
  val PostingsT = "postings"; val CmsT = "cms"; val NoveltyT = "novelty"
  val VolStatsT = "volstats"; val AnnT = "ann"; val CentroidsT = "centroids"
  val PcaT = "pca"; val AssignedT = "assigned"; val CappedT = "assigned_capped"
  val HierModelT = "hier_model"; val AssignedHierT = "assigned_hier"
  val CappedHierT = "assigned_hier_capped"; val RadiiT = "cell_radii"
  val RadiiHierT = "cell_radii_hier"
  /** 1-row build meta for the TEXT artifacts: (n_docs, n_keys) at the
    * nightly build — the staleness denominator
    * [[IndexDelta.textStaleness]] compares admitted growth against.
    * Written by the build only; admissions never touch it. */
  val TextMetaT = "text_meta"

  /** A VECTOR SERVING UNIT: the cell-model table and the three tables
    * derived from one corpus assignment under that model — the
    * hot-cell-capped probe corpus, the capped-cells side table and the
    * per-cell p95 radii — plus the rule that trains the model from the
    * corpus and its vector count. The nightly build, delta admission,
    * the staleness monitor and the refresh policy all take a unit, so
    * each verb exists once for both model forms. */
  final case class VectorUnit(model: String, assigned: String, capped: String,
      radii: String, train: (DataFrame, Long) => Clustering.CellModel)

  /** The FLAT unit: the q124-rule centroid model (k = [[Clustering.K]],
    * id-seeded). */
  val FlatUnit: VectorUnit = VectorUnit(CentroidsT, AssignedT, CappedT, RadiiT,
    (fixed, _) => Clustering.CellModel.Flat(Clustering.trainCentroids(fixed)))

  /** The TWO-LEVEL unit — the at-scale gate's stored side: the
    * two-level FRAME model at the kForCorpus operating point (floored
    * at 4 so kc >= 2 — the multi-probe gate needs a second coarse
    * cell). Training and save never carry the fine table as a literal
    * or driver collect (the r12-closed transport posture). */
  val TwoLevelUnit: VectorUnit = VectorUnit(HierModelT, AssignedHierT, CappedHierT,
    RadiiHierT,
    (fixed, n) => Clustering.trainHierarchicalFrames(fixed, math.max(4, Clustering.kForCorpus(n))))

  /** Persist every serving artifact for `dir` under `root` — the
    * nightly build job. Safe to re-run against a live index root:
    * each table cuts over atomically via the generation-append
    * rebuild.
    *
    * The tables fall into three families that never read one
    * another's tables, committed side by side as three chains through
    * [[SideBySide.commit]] (threads `indexbuild-commit-<i>`; every
    * chain finishes before the first failure, in chain order, is
    * rethrown):
    *
    *  - TEXT: keys → text_meta → cms → bands → shingles → novelty →
    *    postings → volstats. Bands and shingles share one shingle
    *    pipeline through Dedup's cache entries, so they stay in one
    *    chain.
    *  - FLAT VECTOR: the ANN ivf/pq/sq8 tables, then the flat unit
    *    ([[buildVectorUnit]] of [[FlatUnit]]: centroids, assigned,
    *    capped, radii), then PCA.
    *  - HIERARCHICAL: the two-level unit ([[buildVectorUnit]] of
    *    [[TwoLevelUnit]]: hier_model, assigned_hier,
    *    assigned_hier_capped, cell_radii_hier).
    *
    * Each shared input is computed once: the vector corpus is counted
    * once for both vector units; each unit assigns the corpus once and
    * derives its assigned, capped and radius tables from that one
    * assignment; the two-level model's fine frame is evaluated once;
    * text_meta's `n_keys` is the row count the keys commit recorded in
    * its manifest entries (no second key-set pass). */
  def buildAll(spark: SparkSession, dir: String, root: String): Unit = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val fixed = Clustering.fixedPoint(spark, dir)
    val nVecs = fixed.count() // the one corpus count both vector units size from
    SideBySide.commit("indexbuild-commit")(
      () => {
        // exact-dup key set, band index, shingle sets — the curation
        // gate's and delta-dedup's stored sides
        FpIndex.saveOrRebuildFlat(spark, s"$root/$KeysT", Incremental.corpusKeySet(docs))
        writeTextMeta(spark, root, docs.count(), FpIndex.lastCommitRows(s"$root/$KeysT"))
        // CMS sketch + novelty shingle set — the monitoring gates' stored sides
        FpIndex.saveOrRebuildFlat(spark, s"$root/$CmsT", TextAnalysis.cmsSketchOf(docs))
        FpIndex.saveOrRebuildFlat(spark, s"$root/$BandsT", Dedup.bandIndexOf(spark, dir))
        FpIndex.saveOrRebuildShingles(spark, s"$root/$ShinglesT", Dedup.shingleIndexOf(spark, dir))
        FpIndex.saveOrRebuildFlat(spark, s"$root/$NoveltyT", Incremental.corpusShingleSet(docs))
        // BM25 posting index — the retrieval probe's stored side
        FpIndex.saveOrRebuildFlat(spark, s"$root/$PostingsT", Incremental.postingTable(docs))
        // volume baseline — sufficient statistics, model-sized, mergeable
        val typed = Tables.events(spark, dir)
          .selectExpr("event_type", s"${Tables.epochSecSql} div 86400 AS day_no")
        Extended.saveVolumeStats(s"$root/$VolStatsT", Extended.volumeStatsOf(typed))
      },
      () => {
        // ANN artifacts: IVF quantizer + flat-PQ codebook/codes + the SQ8
        // codebook/codes (the q44/q82/q145 serving tiers; the composed
        // IVF+PQ tier builds its own root)
        Similarity.buildIvfIndex(spark, dir, s"$root/$AnnT")
        Similarity.buildPqIndex(spark, dir, s"$root/$AnnT")
        Similarity.buildSq8Index(spark, dir, s"$root/$AnnT")
        // k-means centroid model + the semantic gate's stored side — also
        // the REFRESH unit IndexDelta.refreshIfStale re-runs when the
        // staleness monitor trips between nightly builds
        buildVectorUnit(spark, fixed, root, FlatUnit, Some(nVecs))
        // PCA basis — the dim-reduction serve side (projected arrivals,
        // cheaper projected-IVF ANN); fit shares the q126 Gram pass's
        // cached dimStats
        Pca.saveModel(spark, s"$root/$PcaT", Pca.fit(spark, dir))
      },
      () => buildVectorUnit(spark, fixed, root, TwoLevelUnit, Some(nVecs)))
    // Finished queries keep their broadcast hash relations (one
    // Tungsten page each: 16 MB for a string key) in the block manager
    // until Spark's ContextCleaner learns from a collection that their
    // plans are gone. Chains run side by side leave those
    // plans in the old generation, which only a full collection scans,
    // so without one they stayed through the next admissions
    // (measured: up to 4.2k pending cleanup entries, 21 live page
    // tables and +85 MB at the next heap sample). One collection after
    // the last commit hands them to the cleaner, as Spark's periodic
    // cleaner collection would.
    System.gc()
  }

  /** Build one vector serving unit from the corpus `fixed` (vec_id, x)
    * under `root`: train its model, save it, assign the corpus ONCE and
    * derive the unit's other three tables from that one persisted
    * assignment — the probe corpus HOT-CELL-CAPPED at build time
    * (q134's corpus-relative 9n/8k cap, the videoFrameIndex hub-cap
    * precedent — members of over-cap cells never enter the probe
    * table, so a degenerate mega-cell costs an arrival ZERO probe
    * rows), the k-row capped-cells side table the gate flags verdicts
    * from, and the per-cell p95 staleness radii. Extracted from
    * [[buildAll]] so [[IndexDelta.refreshIfStale]] can retrain JUST
    * this unit when the staleness monitor trips mid-cycle; each table
    * cuts over atomically via the generation-append rebuild, and
    * readers pinned before it keep serving the old unit.
    *
    * A two-level model's fine frame is an unmaterialized lineage
    * (coarse assignment → window seeds → fine-Lloyd join and
    * aggregates), so it is persisted and evaluated once for the model
    * save and the assignment's model collect. `nVecsKnown` is the
    * corpus count when the caller has it ([[buildAll]] counts once for
    * both units). Returns the corpus vector count. */
  def buildVectorUnit(spark: SparkSession, fixed: DataFrame, root: String,
      unit: VectorUnit, nVecsKnown: Option[Long] = None): Long = {
    val nVecs = nVecsKnown.getOrElse(fixed.count())
    val model = unit.train(fixed, nVecs)
    val pinned = model match {
      case m: Clustering.CellModel.TwoLevel => Some(m.fine.persist(StorageLevel.MEMORY_AND_DISK))
      case _ => None
    }
    try {
      model.save(spark, s"$root/${unit.model}")
      val asg = model.assign(fixed)
        .select(col("vec_id"), col("x"), col("cluster"), col("dist"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val (probe, capped) = Clustering.capAssignedCorpus(
          asg.select(col("vec_id").as("corpus_id"), col("x"), col("cluster")),
          Clustering.buildCapOf(nVecs, model.k))
        Clustering.saveAssignedCorpus(spark, s"$root/${unit.assigned}", probe)
        Clustering.saveCappedCells(spark, s"$root/${unit.capped}", capped)
        // k rows from the FULL assignment in one window pass, so the
        // per-batch staleness monitor never re-scans the probe corpus
        // (q143's stored side)
        FpIndex.saveOrRebuildFlat(spark, s"$root/${unit.radii}",
          Clustering.cellRadiiOf(asg.select(col("cluster"), col("vec_id"), col("dist"))))
      } finally asg.unpersist(blocking = true)
    } finally pinned.foreach(_.unpersist(blocking = true))
    nVecs
  }

  /** Write the 1-row [[TextMetaT]] build stamp — counted over `docs`
    * (two tiny aggs). [[IndexDelta.refreshTextIfStale]] re-stamps it
    * after a selective text rebuild; [[buildAll]] takes `n_keys` from
    * its own keys commit instead. */
  def buildTextMeta(spark: SparkSession, docs: DataFrame, root: String): Unit =
    writeTextMeta(spark, root, docs.count(), Incremental.corpusKeySet(docs).count())

  private def writeTextMeta(spark: SparkSession, root: String,
      nDocs: Long, nKeys: Long): Unit = {
    import spark.implicits._
    FpIndex.saveOrRebuildFlat(spark, s"$root/$TextMetaT",
      Seq((nDocs, nKeys)).toDF("n_docs", "n_keys").repartition(1))
  }

  /** The loaded serving surface: every stored frame a session probes,
    * plus the ANN root for the vector-serve entry points. */
  final case class ServingIndexes(
      keys: DataFrame,
      bands: DataFrame,
      shingles: DataFrame,
      postings: DataFrame,
      cms: DataFrame,
      novelty: DataFrame,
      volumeStats: DataFrame,
      annPath: String,
      centroidsPath: String,
      pcaPath: String,
      assignedCorpus: DataFrame,
      cappedCells: DataFrame,
      hierModelPath: String,
      assignedHierCorpus: DataFrame,
      cappedHierCells: DataFrame,
      pins: Map[String, Int])

  /** Open the stored index root for a serving session. `pinned=true`
    * (the default) pins every table to its version at open — the
    * interleaved-reader contract under which a concurrent
    * [[buildAll]] re-run cannot perturb this session. */
  def loadAll(spark: SparkSession, root: String, pinned: Boolean = true): ServingIndexes = {
    def pinOf(p: String): Option[Int] =
      if (pinned) Some(FpIndex.tableVersion(p)) else None
    def path(t: String): String = s"$root/$t"
    val pins = Seq(KeysT, BandsT, ShinglesT, PostingsT, CmsT, NoveltyT, VolStatsT,
        CentroidsT, PcaT, AssignedT, CappedT, HierModelT, AssignedHierT,
        CappedHierT)
      .flatMap(t => pinOf(path(t)).map(t -> _)).toMap
    def flat(t: String): DataFrame = FpIndex.loadFlat(spark, path(t), pins.get(t))
    ServingIndexes(
      keys = flat(KeysT),
      bands = flat(BandsT),
      shingles = FpIndex.loadShingles(spark, path(ShinglesT), pins.get(ShinglesT)),
      postings = flat(PostingsT),
      // delta-appended partial sketches merge by sum on load (identity
      // when delta-free; see TextAnalysis.cmsLoadMerged)
      cms = TextAnalysis.cmsLoadMerged(spark, path(CmsT), pins.get(CmsT)),
      novelty = flat(NoveltyT),
      volumeStats = Extended.loadVolumeStats(spark, path(VolStatsT), pins.get(VolStatsT)),
      annPath = path(AnnT),
      centroidsPath = path(CentroidsT),
      pcaPath = path(PcaT),
      assignedCorpus = Clustering.loadAssignedCorpus(
        spark, path(AssignedT), pins.get(AssignedT)),
      cappedCells = Clustering.loadCappedCells(
        spark, path(CappedT), pins.get(CappedT)),
      hierModelPath = path(HierModelT),
      assignedHierCorpus = Clustering.loadAssignedCorpus(
        spark, path(AssignedHierT), pins.get(AssignedHierT)),
      cappedHierCells = Clustering.loadCappedCells(
        spark, path(CappedHierT), pins.get(CappedHierT)),
      pins = pins)
  }

  /** Build-once / serve-many timing harness (the PERF.md row): one
    * [[buildAll]] over `SPARK_GRAFT_SF_DIR`, then a fresh session
    * opens the stored root and runs the full serving surface — the
    * curation gate on a small arrival batch, the retrieval probe, the
    * novelty gate, a CMS estimate, the volume verdict, and the two
    * ANN serves. Prints one JSON line. */
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val root = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-indexroot").toString)
    val spark = GraftSession.local()
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val buildSec = timed(buildAll(spark, dir, root))
    // the serving session: fresh state, nothing trained or cached here
    val serve = spark.newSession()
    import serve.implicits._
    val idx = loadAll(serve, root)
    val arrivals = Seq(
      (900001L, "the quick brown fox jumps over the lazy dog by the river"),
      (900002L, "an entirely novel arrival about orbital imaging platforms"),
      (900003L, "hi")).toDF("doc_id", "text")
    val gateSec = timed(
      Incremental.curationGateStream(arrivals, idx.keys, idx.bands, idx.shingles)
        .write.format("noop").mode("overwrite").save())
    val probes = arrivals.select(col("doc_id").as("query_id"), col("text"))
    val retrSec = timed(
      Incremental.retrievalStream(probes, idx.postings)
        .write.format("noop").mode("overwrite").save())
    val novSec = timed(
      Incremental.noveltyStream(arrivals, idx.novelty)
        .write.format("noop").mode("overwrite").save())
    val annSec = timed {
      Similarity.ivfTopKServe(serve, dir, idx.annPath)
        .write.format("noop").mode("overwrite").save()
      Similarity.pqAdcTopKServe(serve, dir, idx.annPath)
        .write.format("noop").mode("overwrite").save()
    }
    val clusterSec = timed(
      Clustering.loadCentroids(serve, idx.centroidsPath, idx.pins.get(CentroidsT))
        .assign(Tables.embeddings(serve, dir).filter(col("vec_id") % 25 === 0)
          .select(col("vec_id"), Clustering.quantize(col("embedding")).as("x")))
        .select(col("vec_id"), col("cluster"), col("dist"))
        .write.format("noop").mode("overwrite").save())
    val pcaSec = timed(
      Pca.projectStored(serve, idx.pcaPath,
          Tables.embeddings(serve, dir).filter(col("vec_id") % 25 === 0),
          8, idx.pins.get(PcaT))
        .write.format("noop").mode("overwrite").save())
    def semGate(modelPath: String, pin: Option[Int], probe: DataFrame,
        capped: DataFrame, nprobe: Int): Double = timed {
      Incremental.semanticNearDupGate(
          Tables.embeddings(serve, dir).filter(col("vec_id") % 25 === 0)
            .withColumn("vec_id", col("vec_id") + lit(900000000L)),
          Clustering.loadCentroids(serve, modelPath, pin), probe, capped, nprobe)
        .write.format("noop").mode("overwrite").save()
    }
    val semGateSec = semGate(idx.centroidsPath, idx.pins.get(CentroidsT),
      idx.assignedCorpus, idx.cappedCells, 1)
    val semGate2Sec = semGate(idx.centroidsPath, idx.pins.get(CentroidsT),
      idx.assignedCorpus, idx.cappedCells, 2)
    val semGateHier2Sec = semGate(idx.hierModelPath, idx.pins.get(HierModelT),
      idx.assignedHierCorpus, idx.cappedHierCells, 2)
    // the round-14 ingest-batch half: admit a doc batch and a vector
    // batch into the stored root, then run the staleness monitor from
    // the stored k-row radius table — the full deployment loop
    // (build → serve → admit → monitor) in one capture
    val admitDocsSec = timed(
      IndexDelta.admitDocs(serve, root,
          arrivals.withColumn("doc_id", col("doc_id") + lit(1000L)))
        .write.format("noop").mode("overwrite").save())
    val freshVecs = Tables.embeddings(serve, dir)
      .filter(col("vec_id") % 25 === 7)
      .withColumn("vec_id", col("vec_id") + lit(910000000L))
    val admitVecSec = timed(
      IndexDelta.admitVectors(serve, root, freshVecs)
        .write.format("noop").mode("overwrite").save())
    val staleSec = timed(
      IndexDelta.storedStaleness(serve, root,
          Tables.embeddings(serve, dir).filter(col("vec_id") % 25 === 9))
        .write.format("noop").mode("overwrite").save())
    println(f"""{"build_sec": $buildSec%.3f, "serve_gate_sec": $gateSec%.3f, """ +
      f""""serve_retrieval_sec": $retrSec%.3f, "serve_novelty_sec": $novSec%.3f, """ +
      f""""serve_ann_sec": $annSec%.3f, "serve_cluster_sec": $clusterSec%.3f, """ +
      f""""serve_pca_sec": $pcaSec%.3f, "serve_semgate_sec": $semGateSec%.3f, """ +
      f""""serve_semgate2_sec": $semGate2Sec%.3f, """ +
      f""""serve_semgate_hier2_sec": $semGateHier2Sec%.3f, """ +
      f""""admit_docs_sec": $admitDocsSec%.3f, """ +
      f""""admit_vectors_sec": $admitVecSec%.3f, """ +
      f""""staleness_sec": $staleSec%.3f, """ +
      f""""sf": "$dir", "root": "$root"}""")
    spark.stop()
  }
}
