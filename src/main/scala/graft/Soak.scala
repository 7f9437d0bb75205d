package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoder, Row, SQLContext, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Clustering, Components, Dedup, ExactIndex, FpIndex, Similarity, TextAnalysis}
import graft.pipeline.{IndexBuild, IndexDelta, ShardExport}
import graft.sources.ManifestSink
import graft.streaming.Incremental

/** The soak-and-proof harness: scale soaks, decade fixture makers and
  * the sf10 exactness proofs behind one entry point,
  *
  *   `sbt "runMain graft.Soak <family> [args]"`
  *
  * | family       | was                 | args (defaults)                                   |
  * |--------------|---------------------|---------------------------------------------------|
  * | `etl`        | `SoakEtl`           | `[N=10]`, writes /tmp/graft_soak_etl              |
  * | `docs`       | `SoakDocs`          | `[N=10]`, writes /tmp/graft_soak_docs, /tmp/graft_soak_delta_* |
  * | `ann`        | `SoakAnn`           | none                                              |
  * | `graph`      | `SoakGraph`         | `[small=100000] [large=1000000]` nodes (and q105 videos) |
  * | `cluster`    | `SoakCluster`       | `[N=10]`, writes /tmp/graft_soak_cluster          |
  * | `delta`      | `SoakDelta`         | `[N=10]`                                          |
  * | `shard`      | `SoakShard`         | `[waves=8]`                                       |
  * | `make-sf1`   | `MakeSf1`           | `[out=/tmp/graft_sf1] [mult=10]`                  |
  * | `make-sf10`  | `MakeSf10`          | `[out=/tmp/graft_sf10] [mult=100]`                |
  * | `proof-sf10` | `ProofSf10`         | `[dir=/tmp/graft_sf10] [gates|timings|all|q1…] [CSV]` |
  *
  * Every family except `graph` and `proof-sf10` reads its source fixture
  * from `SPARK_GRAFT_SF_DIR` (default: the sf0.1 fixture). Three rules
  * are shared by all of them:
  *
  *   - one replication rule ([[strides]], [[replicate]]): fact tables
  *     grow by offsetting their primary keys per replica, every other
  *     column keeps its value, dimensions copy through at 1×;
  *   - one timing rule ([[timed]], [[warmThenTime]], [[growth]]): an
  *     unmeasured warm run, then the timed ones;
  *   - one exactness check ([[sameRows]]): sorted-row equality under a
  *     `require`, so a failed gate fails the run.
  */
object Soak {
  private type Op = (SparkSession, String) => DataFrame

  private val families: Seq[(String, Seq[String] => Unit)] = Seq(
    "etl" -> etl, "docs" -> docs, "ann" -> ann, "graph" -> graph,
    "cluster" -> cluster, "delta" -> delta, "shard" -> shard,
    "make-sf1" -> makeSf1, "make-sf10" -> makeSf10, "proof-sf10" -> proofSf10)

  def main(args: Array[String]): Unit = {
    val family = args.headOption.getOrElse("")
    val run = families.toMap.getOrElse(family, throw new IllegalArgumentException(
      s"unknown soak family '$family'; families: ${families.map(_._1).mkString(" ")}"))
    run(args.toSeq.drop(1))
  }

  /** Every line the harness prints goes through this one UTF-8 stream:
    * the JVM's default charset follows the locale (ASCII under POSIX on
    * OpenJDK 17), which printed "—" and "≡" as "?". The JVM-wide
    * `file.encoding` stays as it is — other code encodes bytes with the
    * default charset. */
  private val out = new java.io.PrintStream(
    new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
  private def println(line: Any): Unit = out.println(line)

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private def intArg(args: Seq[String], i: Int, default: Int): Int =
    args.lift(i).map(_.toInt).getOrElse(default)
  private def session(body: SparkSession => Unit): Unit = {
    val spark = GraftSession.local()
    try body(spark) finally spark.stop()
  }
  private def tmpRoot(tag: String): String = Files.createTempDirectory(tag).toString
  private def manifests(path: String): Int =
    ManifestSink.sortedManifests(new java.io.File(path)).size

  // ---------------------------------------------------------------- rules

  /** Offset stride per replicated key column at `mult` replicas.
    *
    * Order keys and event ids step by 10⁹ and users by 10⁶ (N× users at
    * the SAME per-user density, which is how an event corpus actually
    * grows); the lineitem↔orders key pair offsets by the same rule, so
    * order-line joins stay coherent. Foreign keys are not named, so
    * replicas keep joining the 1× dimensions (how a fact table grows
    * against slowly-changing dimensions).
    *
    * Document and vector ids step by 10⁷ through the second decade;
    * past it (mult = 1000, the sf100 third decade) the stride drops to
    * 2²¹ so the max id (999·2²¹ + 4999 ≈ 2.095·10⁹) stays inside the
    * derived templates' documented id domain (< 2³¹ — zipfTok/plantElem
    * reduce mod 2³¹, and the raw Knuth query-sample expressions need
    * id·2654435761 < 2⁶³). Base ids are < 5000, far under either
    * stride, so replicas never collide. */
  def strides(mult: Int): Map[String, Long] = {
    val idStep = if (mult * 10000000L + 5000L < (1L << 31)) 10000000L else 2097152L
    require(mult * idStep + 5000L < (1L << 31),
      s"mult=$mult would push ids past 2^31 even at the 2^21 stride")
    Map("l_orderkey" -> 1000000000L, "o_orderkey" -> 1000000000L,
      "event_id" -> 1000000000L, "user_id" -> 1000000L,
      "doc_id" -> idStep, "vec_id" -> idStep)
  }

  /** `df` `mult`× over, each [[strides]] column offset by replica. */
  def replicate(df: DataFrame, mult: Int): DataFrame = {
    val step = strides(mult)
    df.columns.filter(step.contains)
      .foldLeft(df.crossJoin(broadcast(df.sparkSession.range(mult).toDF("r")))) {
        (d, c) => d.withColumn(c, col(c) + col("r") * lit(step(c)))
      }.drop("r")
  }

  /** `body`'s value and its wall-clock seconds. */
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def once[T](release: Boolean)(body: => T): (T, Double) =
    if (release) CacheRegistry.withCaches(timed(body)) else timed(body)

  /** The timing rule: `body` once unmeasured (codegen + JIT, the
    * Bench.scala rule), then timed. With `release` the registries are
    * released after each run, so the timed run pays its own cache
    * builds. */
  private def warmThenTime[T](body: => T, release: Boolean = false): (T, Double) = {
    once(release)(body)
    once(release)(body)
  }

  /** A 1×/n× growth pair under the timing rule: `one` warms and is
    * timed, then `many` is timed. */
  private def growth[T](one: => T, many: => T,
      release: Boolean = false): ((T, Double), (T, Double)) = {
    val a = warmThenTime(one, release)
    (a, once(release)(many))
  }

  /** The exactness gate: `got` and `want` hold the same rows in any
    * order. Returns the row count. */
  def sameRows(got: Seq[Row], want: Seq[Row], what: String): Int = {
    def sorted(rs: Seq[Row]) = rs.map(_.toSeq).sortBy(_.mkString("\u0001"))
    require(sorted(got) == sorted(want), s"$what (${got.size} vs ${want.size} rows)")
    got.size
  }

  // ------------------------------------------------------- fixture makers

  /** Every fixture table under `out`: those in `replicated` `mult`× over
    * by [[replicate]], the rest copied through at 1×. Everything reads
    * the RAW parquet (no ts conversion), so the fixture carries the
    * physical types the source fixtures have — the Spark and DuckDB
    * readers face the same files.
    *
    * repartition(32): the sf0.1 sources are single small files, so a
    * replicated table written as-is lands in 1-2 parquet parts and a
    * 13 MB / 200k-row table scans as ONE input split — every
    * downstream map kernel (NearestCell over 10¹⁰ ops) would run in a
    * single task (found live: loadavg 1.0 on a 32-core box for 10+
    * minutes). 32 parts ≈ one split per core at that box's
    * parallelism. */
  def writeFixture(spark: SparkSession, src: String, out: String, mult: Int,
      replicated: Set[String]): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach { t =>
      val df = Tables.load(spark, src, t)
      (if (replicated(t)) replicate(df, mult).repartition(32) else df)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

  private def maker(args: Seq[String], out: String, mult: Int, tag: String,
      replicated: Set[String])(extra: (SparkSession, String) => Unit): Unit = {
    val dir = args.headOption.getOrElse(out)
    val n = intArg(args, 1, mult)
    strides(n) // the 2^31 guard rejects before anything is written
    session { spark =>
      writeFixture(spark, sfDir, dir, n, replicated)
      extra(spark, dir)
      println(s"""{"${tag}_dir": "$dir", "mult": $n, "src": "$sfDir"}""")
    }
  }

  /** sf1 fixture for the OVERFLOW-PROOF capture: several queries widen
    * intermediates to DECIMAL(38,0) (q54/q74/q101/q115/q118) or route
    * through log-space (q81/q90/q92) specifically for magnitudes BEYOND
    * sf0.1. This materializes a 10×-sf0.1 corpus (6M lineitem rows, 1M
    * events, 50k docs' token mass, 10× the per-group sums everywhere)
    * so those queries are hash-matched against DuckDB at the
    * magnitudes the widening exists for. The claim is SELF-CONSISTENT
    * (Spark vs DuckDB over the same files), so only magnitudes matter,
    * not a match to some other sf1 distribution. Then
    * `runMain graft.Verify /tmp/graft_sf1 <out> <subset>` and
    * `tools/check_oracle.py` (CORRECTNESS_SF1.md). */
  private def makeSf1(args: Seq[String]): Unit =
    maker(args, "/tmp/graft_sf1", 10, "sf1",
      Set("lineitem", "orders", "events", "documents", "embeddings"))((_, _) => ())

  /** sf10 fixture — the SECOND decade for the production retrieval
    * twins' "linear forever" claims: 100× the sf0.1 `documents` and
    * `embeddings` tables (500k docs, 200k vectors); every OTHER table is
    * copied at 1× — they exist only so the oracle harness's view
    * registration succeeds; no sf10-proven query reads them. */
  private def makeSf10(args: Seq[String]): Unit =
    maker(args, "/tmp/graft_sf10", 100, "sf10", Set("documents", "embeddings")) { (spark, out) =>
      // fixed-|Q| FIRST-CLASS query fixture: the base probe rule
      // (id % 25) scales |Q| with the corpus, making every full-|Q|
      // retrieval form quadratic by fixture construction past sf10; a
      // deployment serves a bounded query set. 32 ids by the
      // Knuth-scramble smallest rule proof-sf10 falls back to.
      spark.read.parquet(s"$out/embeddings.parquet")
        .filter(expr("vec_id % 25 = 0"))
        .select(col("vec_id").as("query_id"))
        .withColumn("hq", expr("(query_id * 2654435761) % 4294967296"))
        .orderBy(col("hq"), col("query_id")).limit(32).drop("hq")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/queries.parquet")
    }

  // ---------------------------------------------------------------- soaks

  /** Events-family ETL operators (q69–q77, q115) at 1× and N× users.
    * Near-linear growth (at fixed parallelism) is the pass criterion:
    * every operator here is one key-partitioned pass, so there is no
    * super-linear term to hide. */
  private def etl(args: Seq[String]): Unit = session { spark =>
    val n = intArg(args, 0, 10)
    val soakDir = "/tmp/graft_soak_etl"
    replicate(Tables.events(spark, sfDir), n)
      .write.mode("overwrite").parquet(s"$soakDir/events.parquet")
    import operators.Extended._
    val ops: Seq[(String, Op)] = Seq(
      "q69_cdc_apply" -> cdcApply _, "q70_scd2_build" -> scd2Build _,
      "q71_gap_fill" -> gapFill _, "q73_transition_profile" -> transitionProfile _,
      "q74_outliers" -> outliers _, "q76_incremental_agg" -> incrementalAgg _,
      "q77_temporal_join" -> temporalJoin _,
      // q115: one (type, day) count aggregate is the only corpus-
      // sized stage — the soak checks the corpus pass is the cost
      "q115_volume_anomaly" -> volumeAnomaly _)
    println(f"## ETL soak: $sfDir events x$n (users x$n, same per-user density)")
    ops.foreach { case (name, fn) =>
      val ((_, t1), (_, tn)) = growth(noop(fn(spark, sfDir)), noop(fn(spark, soakDir)))
      val (c1, cn) = (fn(spark, sfDir).count(), fn(spark, soakDir).count())
      println(f"$name%-24s 1x: $t1%6.2f s ($c1%9d rows)   ${n}x: $tn%6.2f s ($cn%10d rows)   growth ${tn / t1}%4.1fx")
    }
  }

  /** Documents-family operators at 1× and N× docs (same text
    * distribution: the bigram count table keeps its vocab²-bounded size
    * while every per-doc stage gets N× rows), plus the hot-bucket cap,
    * BPE, boilerplate, delta-probe and arrival-gate rows. */
  private def docs(args: Seq[String]): Unit = session { spark =>
    val n = intArg(args, 0, 10)
    val soakDir = "/tmp/graft_soak_docs"
    replicate(Tables.documents(spark, sfDir), n)
      .write.mode("overwrite").parquet(s"$soakDir/documents.parquet")
    def docsOf(dir: String) = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def growthRow(name: String, one: => Unit, many: => Unit): Unit = {
      val ((_, t1), (_, tn)) = growth(one, many)
      println(f"$name%-24s 1x: $t1%6.2f s   ${n}x: $tn%6.2f s   growth ${tn / t1}%4.1fx")
    }

    val ops: Seq[(String, Op)] = Seq(
      "q54_tfidf_topk" -> TextAnalysis.tfidfTopK _,
      "q66_source_divergence" -> TextAnalysis.sourceDivergence _,
      "q79_lm_score" -> TextAnalysis.lmScore _,
      // q83 is a linear pipeline (windows ∝ chars; the dup-hash set is
      // bounded by DISTINCT windows, which replication leaves fixed).
      // The PAIR operators (q18/q85, and q91 which clusters their
      // pairs) are deliberately absent: N× replication makes every
      // copy a near-dup of its N−1 siblings, so pair counts grow N²
      // by construction of the soak data, not of the algorithm —
      // the honest pair-scale evidence is the bucket-boundedness
      // PlanAudit/DedupSpec assert, not a replicated-corpus wall
      // clock.
      "q83_substring_dedup" -> Dedup.substringDedup _,
      // q89: per-source one-pass facets; q90: two corpus explodes
      // (count + score) around a fixed-size model grid (vocab and
      // classes don't grow under replication); q92: corpus-sized tf
      // build + fixed-size probe join. All should grow ~linearly.
      "q89_corpus_health" -> TextAnalysis.corpusHealth _,
      "q90_nb_classifier" -> TextAnalysis.nbClassify _,
      "q92_bm25_topk" -> TextAnalysis.bm25TopK _,
      // q114/q116/q119: replication leaves the DISTINCT shingle/
      // vocab tables fixed (copies add no new shingles), so the
      // soak isolates exactly what should grow — the one corpus
      // pass each op's scaladoc claims is its only corpus-sized
      // stage; sketch/cohort tails stay model-sized by construction
      "q114_kmv_overlap" -> Dedup.kmvOverlap _,
      "q116_novelty_curve" -> Dedup.noveltyCurve _,
      "q119_cohort_drift" -> TextAnalysis.cohortDrift _)
    println(f"## Documents soak: sf0.1 x$n (docs x$n, same text distribution)")
    ops.foreach { case (name, fn) =>
      growthRow(name, noop(fn(spark, sfDir)), noop(fn(spark, soakDir)))
    }

    // Hot-bucket-cap soak: the viral-boilerplate shape the cap exists
    // for — 1000 byte-identical copies make one O(n) bucket per band
    // and the uncapped candidate join goes n². Measured: candidate
    // volume and wall clock with the cap off vs on (cap 64).
    locally {
      import spark.implicits._
      val viral = (0 until 1000).map(i =>
        (90000000L + i, "all rights reserved unsubscribe from this newsletter " +
          "by clicking the link below terms and conditions apply")).toDF("doc_id", "text")
      val sh = Dedup.shingleTable(docsOf(sfDir).unionAll(viral))
        .persist(StorageLevel.MEMORY_AND_DISK)
      def candCount(maxBucket: Option[Int]): (Long, Double) = {
        val bands = Dedup.bandTable(sh)
        val b = maxBucket.fold(bands)(m => Dedup.dropHotBuckets(bands, m))
        timed(b.as("a").join(b.as("b"),
          col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id")).count())
      }
      val (cOff, tOff) = candCount(None)
      val (cOn, tOn) = candCount(Some(64))
      val rep = Dedup.hotBucketReport(Dedup.bandTable(sh), 64).head()
      println(f"q18_hot_bucket_cap       off: $tOff%6.2f s ($cOff%10d cand)   " +
        f"cap64: $tOn%6.2f s ($cOn%10d cand)   " +
        f"dropped ${rep.getAs[Long]("rows_dropped")} rows in " +
        f"${rep.getAs[Long]("n_hot_buckets")} buckets (max ${rep.getAs[Long]("max_bucket")})")
      sh.unpersist()
    }

    // BPE training soak: the corpus-sized work is ONE word-count
    // aggregate; the merge loop is vocab-bounded — n× corpus must cost
    // ~the aggregate's growth, not n× training.
    val (d1, dn) = (docsOf(sfDir), docsOf(soakDir))
    locally {
      def bpe(d: DataFrame) = TextAnalysis.trainBpe(d, nMerges = 50).size
      val ((m1, t1), (mn, tn)) = growth(bpe(d1), bpe(dn))
      println(f"q45_bpe_train            1x: $t1%6.2f s ($m1 merges)   " +
        f"${n}x: $tn%6.2f s ($mn merges)   growth ${tn / t1}%4.1fx")
    }

    // BPE ENCODE soak — the serving shape: train ONCE on the base
    // corpus, price the encode at 1x and nx under the same merges.
    // Replication adds no word TYPES, so the driver-encoded broadcast
    // side is scale-invariant and the growth isolates the one
    // (doc, word) aggregate the scaladoc claims is the corpus pass.
    val merges = TextAnalysis.trainBpe(d1, nMerges = 50)
    growthRow("bpe_encode_counts", noop(TextAnalysis.bpeTokenCountsOf(d1, merges)),
      noop(TextAnalysis.bpeTokenCountsOf(dn, merges)))

    // q106 boilerplate soak: replication multiplies every chunk's df
    // by n, so the df cut scales with n (3 → 3n) to keep the
    // boilerplate FRACTION — and with it the hot-set size and the
    // reassembly mass — comparable across scales; otherwise the n×
    // run degenerates (every chunk crosses the absolute cut and the
    // whole corpus is "boilerplate"). Released after every run: each
    // timing is one-shot, incl. the chunk cache build.
    locally {
      val ((_, t1), (_, tn)) = growth(noop(TextAnalysis.boilerplateStripOf(d1, 3)),
        noop(TextAnalysis.boilerplateStripOf(dn, 3 * n)), release = true)
      println(f"q106_boilerplate_strip   1x: $t1%6.2f s (df 3)   " +
        f"${n}x: $tn%6.2f s (df ${3 * n})   growth ${tn / t1}%4.1fx")
    }

    // q85 delta-isolation soak: grow the CORPUS n×, keep the delta
    // batch FIXED — the daily-ingest claim is that per-batch cost is
    // O(delta) once the band index is stored (warm run builds/caches
    // the index; the measured run is the probe + verify only).
    CacheRegistry.withCaches {
      val delta = d1.filter(expr("doc_id % 10 = 7"))
      val corpus = d1.filter(!expr("doc_id % 10 = 7"))
      val nDelta = delta.count()
      def probe(tag: String, mult: Int): Double = {
        val dir = s"/tmp/graft_soak_delta_$tag"
        // the doc_id stride is a multiple of 10, so the replicas keep
        // their non-delta membership and the delta set stays fixed
        replicate(corpus, mult).unionAll(delta)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        warmThenTime(noop(Dedup.deltaNearDup(spark, dir)))._2
      }
      val t1 = probe("1x", 1)
      val tn = probe(s"${n}x", n)
      println(f"q85_delta_probe          1x corpus: $t1%6.2f s   ${n}x corpus: $tn%6.2f s   " +
        f"growth ${tn / t1}%4.1fx   (delta fixed at $nDelta docs; index cached)")
    }

    // Streaming curation gate at ARRIVAL-RATE scale: the stored corpus
    // side (key/band/shingle indexes) is FIXED and built once — the
    // nightly job's output — and the arrival batch grows n×. The
    // gate's claim is that each arrival pays O(1) stored-index probes
    // (a key equi-probe + ≤6 band probes + Jaccard verify for
    // collisions), so batch cost should grow ≤ n× with the per-doc
    // marginal cost ~flat — the fixed job overhead amortizing is why
    // growth lands well UNDER n.
    CacheRegistry.withCaches {
      val keys = Incremental.corpusKeySet(d1).persist(StorageLevel.MEMORY_AND_DISK)
      val bands = Dedup.bandIndexOf(spark, sfDir) // CacheRegistry-shared
      val sh = Dedup.shingleIndexOf(spark, sfDir)
      // arrivals: ~1% of the corpus re-submitted under fresh ids — a
      // realistic near-dup-heavy ingest mix (every arrival collides
      // with its stored original, so the expensive verify stage runs)
      val arr1 = d1.filter(expr("doc_id % 11 = 3"))
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val arrN = replicate(arr1, n).persist(StorageLevel.MEMORY_AND_DISK)
      val (c1, cN) = (arr1.count(), arrN.count())
      def gate(arr: DataFrame) = noop(Incremental.curationGateStream(arr, keys, bands, sh))
      val ((_, t1), (_, tn)) = growth(gate(arr1), gate(arrN))
      println(f"gate_arrival_soak        1x: $t1%6.2f s ($c1%6d docs)   " +
        f"${n}x: $tn%6.2f s ($cN%6d docs)   growth ${tn / t1}%4.1fx   " +
        f"per-doc ${t1 / c1 * 1e6}%5.0f -> ${tn / cN * 1e6}%5.0f us")
      Seq(keys, arr1, arrN).foreach(_.unpersist())
    }
  }

  /** ANN ladder: the index tiers over the same corpus and query set,
    * timed end-to-end INCLUDING index build (assignment / training) —
    * the honest comparison, since the exact scan has no build cost to
    * amortize — then the stored-index lifecycle. */
  private def ann(args: Seq[String]): Unit = session { spark =>
    val dir = sfDir
    val qp = expr("vec_id % 25 = 0")
    val tiers: Seq[(String, () => DataFrame)] = Seq(
      "q21 exact cosine top-k" -> (() => Similarity.cosineTopK(spark, dir)),
      "q22 multi-probe LSH" -> (() => Similarity.annTopK(spark, dir)),
      "q44 IVF (coarse quantizer)" -> (() => Similarity.ivfTopK(spark, dir)),
      "PQ-ADC full scan" -> (() => Similarity.pqTopK(spark, dir)),
      "q145 SQ8 asymmetric scan" -> (() => Similarity.sq8TopK(spark, dir)),
      "IVF+PQ+exact rerank" -> (() => Similarity.ivfPqTopK(spark, dir)),
      "q149 IVF+SQ8+exact rerank" -> (() => Similarity.ivfSq8TopK(spark, dir)),
      // q155 vs its own unpruned twin: SAME derived clustered corpus,
      // same 8-dim arithmetic — the pair isolates what the
      // triangle-inequality cut buys (the q21 row above is 64-dim
      // fixture geometry, not comparable). The brute leg materializes
      // the derivation first: unfenced, projection collapse inlines
      // the 8-element hash chain per PAIR (the q82 lesson) and the
      // baseline would be measuring derivation, not scan
      "planted brute force (8-dim)" -> (() => Similarity.cosineTopKOf(
        CacheRegistry.getOrCache(spark, s"soak.planted:$dir")(
          Similarity.plantedVectors(spark, dir)), qp, 5)),
      "q155 exact pruned top-k" -> (() => Similarity.exactPrunedTopK(spark, dir)),
      "q156 exact pruned 2-level" -> (() => Similarity.exactPruned2Level(spark, dir)),
      // q157 end-to-end: √n train (3 Lloyd passes) + store + serve per
      // call — the whole lifecycle, not just the serve
      "q157 trained train+serve" -> (() => Similarity.exactPrunedTopKTrained(spark, dir)))
    println(s"## ANN ladder at $dir (end-to-end incl. index build, warm 2nd run)")
    tiers.foreach { case (name, fn) =>
      println(f"$name%-28s ${warmThenTime(noop(fn()))._2}%6.2f s")
    }
    // q156 bound-row accounting: how many per-cell bound rows the
    // two-level form evaluates per query vs the ncells q155 always
    // pays — the evidence that level 1 prunes the |Q|·ncells term
    locally {
      val v = Similarity.plantedVectors(spark, dir)
      val cents = Similarity.trainIvfQuantizer(v, expr("vec_id % 7 = 3"))
      val ncells = cents.size
      val acct = CacheRegistry.withCaches(ExactIndex.candidates(v, qp,
        ExactIndex.fit(v, cents, Some(Similarity.PlantGroupEvery)), 4, 5).collect())
      val mg = acct.map(_.getAs[Long]("n_groups_kept")).sum.toDouble / acct.length
      val mc = acct.map(_.getAs[Long]("n_cell_bounds")).sum.toDouble / acct.length
      // leader count the way ExactIndex.fit picks them: indices
      // i < ncells with i % 7 == 3, i.e. (ncells + 3) / 7 —
      // ceil(ncells/7) overcounts by one when ncells mod 7 is 1-3
      println(f"q156 bound rows/query: groups kept $mg%6.1f of ${(ncells + 3) / 7}%4d   " +
        f"cell bounds $mc%7.1f of $ncells%5d (q155 pays all $ncells%5d)")
    }

    // stored-index lifecycle: train+persist ONCE, then serve from the
    // manifest tables in a fresh session — the serve rows pay no
    // training scan and (q82) no corpus encode
    println(s"## Stored-index lifecycle (AnnIndex via ManifestSink)")
    val idx = tmpRoot("graft-ann-index")
    // released after the build: serve must not inherit the build's cache
    val (_, tBuild) = CacheRegistry.withCaches(timed {
      Similarity.buildIvfIndex(spark, dir, idx)
      Similarity.buildPqIndex(spark, dir, idx)
      Similarity.buildIvfPqIndex(spark, dir, s"$idx/composed")
      Similarity.buildSq8Index(spark, dir, idx)
      Similarity.buildIvfSq8Index(spark, dir, s"$idx/ivfsq8")
      val planted = Similarity.plantedVectors(spark, dir)
      ExactIndex.save(spark, s"$idx/exactpruned", ExactIndex.fit(planted,
        Similarity.trainIvfQuantizer(planted, expr("vec_id % 7 = 3"))))
    })
    println(f"build (train+persist q44+q82+sq8+composed+q155) ${tBuild}%6.2f s  → $idx")
    val serve = spark.newSession() // fresh session state: nothing trained
    def serveRow(name: String, fn: => DataFrame): Unit =
      println(f"$name%-28s ${CacheRegistry.withCaches(warmThenTime(noop(fn)))._2}%6.2f s")
    serveRow("q44 serve (stored quantizer)", Similarity.ivfTopKServe(serve, dir, idx))
    serveRow("q82 serve (stored code table)", Similarity.pqAdcTopKServe(serve, dir, idx))
    serveRow("IVF+PQ+rerank serve (composed)",
      Similarity.ivfPqTopKServe(serve, dir, s"$idx/composed"))
    serveRow("q145 serve (stored SQ8 codes)", Similarity.sq8TopKServe(serve, dir, idx))
    serveRow("q149 IVF+SQ8 serve (composed)",
      Similarity.ivfSq8TopKServe(serve, dir, s"$idx/ivfsq8"))
    serveRow("q155 exact-pruned serve",
      ExactIndex.topK(Similarity.plantedVectors(serve, dir), qp,
        ExactIndex.load(serve, s"$idx/exactpruned"), 4, 5,
        cacheKey = Some(s"similarity.plantCells:$dir")))
    // q157: the TRAINED √n quantizer's build and serve costs broken
    // out — what the production-sized quantizer's collect/bound work
    // costs at this sf, vs the id-filter contract's ncells ∝ n
    val (nlist, tb) = CacheRegistry.withCaches(timed {
      val planted = Similarity.plantedVectors(spark, dir)
      val cents = ExactIndex.train(planted)
      ExactIndex.save(spark, s"$idx/trained157", ExactIndex.fit(planted, cents))
      cents.size
    })
    println(f"q157 trained build (nlist=$nlist%4d = sqrt-n, 3 Lloyd passes) $tb%6.2f s")
    serveRow("q157 trained-quantizer serve",
      ExactIndex.topK(Similarity.plantedVectors(serve, dir), qp,
        ExactIndex.load(serve, s"$idx/trained157"), 4, 5))
  }

  /** Graph operators on synthetic hash-derived graphs at `small` and
    * `large` nodes (default 100k and 1M; the q105 frame vote takes the
    * same counts as videos) — honest scaling evidence for the iterative-join family,
    * since replicating the FIXTURE near-dup graph would only clone
    * disjoint components (embarrassing parallelism by construction).
    * The synthetic graph keeps avg degree fixed while nodes×10, the
    * shape a growing corpus' near-dup graph actually takes. */
  private def graph(args: Seq[String]): Unit = session { spark =>
    val sizes = Seq(intArg(args, 0, 100000).toLong, intArg(args, 1, 1000000).toLong)
    def graphOf(nodes: Long, avgDeg: Int): DataFrame =
      spark.range(nodes * avgDeg)
        .select((col("id") % nodes).as("s"),
          // Knuth-hash endpoint: deterministic, well-spread
          expr(s"(id * 2654435761) % $nodes").as("t"))
        .filter(col("s") =!= col("t"))
    println("## Graph soak: synthetic Knuth-hash graph, avg degree 8")
    val names = Seq("q95_link_rank", "q99_triangle_audit", "q102_hits", "q94_leakage_split")
    val Seq((n1, t1), (n2, t2)) = sizes.map { nodes =>
      val edges = graphOf(nodes, 8).persist(StorageLevel.MEMORY_AND_DISK)
      edges.count() // materialize the input outside the timings
      // q102 HITS: same iteration algebra as q95, directed form; q94
      // leakage split: CC contraction + split containment counts over
      // the same graph, docs = the node universe
      val docs = spark.range(nodes).select(col("id").as("doc_id"))
      val ts = Seq[() => DataFrame](() => Components.linkRankOf(spark, edges),
        () => Components.triangleAuditOf(edges), () => Components.hitsOf(spark, edges),
        () => Components.leakageSplitOf(docs, edges))
        .map(op => warmThenTime(noop(op()), release = true)._2)
      edges.unpersist()
      (nodes, ts)
    }
    names.indices.foreach { i =>
      println(f"${names(i)}%-24s ${n1 / 1000}k nodes: ${t1(i)}%6.2f s   " +
        f"${n2 / 1000}k nodes: ${t2(i)}%6.2f s   growth ${t2(i) / t1(i)}%4.1fx")
    }

    // q105 frame-vote soak: n unique videos × 60 synthetic frame
    // hashes, no overlap — replicating REAL videos would be dishonest
    // the same way the q18 pair soak would be (every replica pairs
    // with its n−1 siblings until the df-cap deletes them all), so
    // the scale probe measures the common case instead: the distinct
    // + df-count + capped equi-join pipeline over disjoint corpora,
    // where pair output is empty by construction and the cost is the
    // aggregate/join shape, not pair volume.
    val Seq((v1, f1), (v2, f2)) = sizes.map { nVids =>
      def frames = spark.range(nVids * 60)
        .select((col("id") % nVids).as("doc_id"), expr("xxhash64(id)").as("fh"))
      (nVids, warmThenTime(noop(Dedup.videoNearDupFrames(frames)), release = true)._2)
    }
    println(f"q105_frame_vote          ${v1 / 1000}k videos: $f1%6.2f s   " +
      f"${v2 / 1000}k videos: $f2%6.2f s   growth ${f2 / f1}%4.1fx")
  }

  /** Clustering family: the embedding corpus replicated ×n with fresh
    * ids. q124's train+assign and q126's Gram pass should grow ~linearly
    * (the only corpus-sized stages are map passes; the Lloyd update and
    * the (i,j) aggregate both reduce to model-sized frames). The
    * semantic ingest gate runs against a FIXED stored assigned corpus
    * with the ARRIVAL batch growing ×n (each arrival an exact
    * re-submission, the worst-case verify load): per-arrival cost must
    * stay ~flat — the O(|cell|)-probe claim.
    *
    * The q125 pair op is deliberately NOT soaked under replication:
    * every copy is an exact dup of its n−1 siblings, so pair output
    * grows n² by construction of the soak data (the docs family's
    * q18/q85 caveat); its honest scale evidence is the per-cell
    * boundedness the scaladoc + ClusteringSpec document. Each block
    * releases the registries when it ends. */
  private def cluster(args: Seq[String]): Unit = session { spark =>
    val n = intArg(args, 0, 10)
    val soakDir = "/tmp/graft_soak_cluster"
    replicate(Tables.embeddings(spark, sfDir), n)
      .write.mode("overwrite").parquet(s"$soakDir/embeddings.parquet")
    def secs(body: => Any): Double = timed(body)._2
    println(f"## Clustering soak: $sfDir x$n (vectors x$n, same distribution)")
    Seq[(String, Op)](
      "q124_kmeans_assign" -> Clustering.kmeansAssign _,
      "q126_gram_matrix" -> Clustering.gramMatrix _,
      "q129_cluster_profile" -> Clustering.clusterProfile _,
      // q125/q131/q133 (the pair-join family) stay OUT of the
      // replication soak — replicas are exact dups of their siblings,
      // growing pair output n² by construction; their scaling row is
      // the fresh-vector fixed-cell-size block below
      "q130_hier_assign" -> Clustering.hierAssign _,
      "q132_cluster_drift" -> Clustering.clusterDrift _
    ).foreach { case (name, fn) =>
      val ((_, t1), (_, tn)) =
        growth(noop(fn(spark, sfDir)), noop(fn(spark, soakDir)), release = true)
      println(f"$name%-24s 1x: $t1%6.2f s   ${n}x: $tn%6.2f s   growth ${tn / t1}%4.1fx")
    }

    // Semantic-gate arrival soak: stored corpus FIXED (the nightly
    // build's assigned-corpus table, cached), arrivals ×1 vs ×n —
    // every arrival re-submits a stored vector under a fresh id, so
    // each one pays the full cell probe + exact verify.
    CacheRegistry.withCaches {
      val v = Clustering.fixedPoint(spark, sfDir)
      val cents = Clustering.CellModel.Flat(Clustering.trainCentroids(v))
      val stored = Clustering.assignedCorpus(v, cents).persist()
      stored.count() // materialize the stored side outside the timings
      def arrivals(dir: String) = Tables.embeddings(spark, dir)
        .filter(col("vec_id") % 11 === 0)
        .withColumn("vec_id", col("vec_id") + lit(900000000L))
      def gate(dir: String) =
        noop(Incremental.semanticNearDupStream(arrivals(dir), cents, stored))
      val c1 = arrivals(sfDir).count(); val cn = arrivals(soakDir).count()
      val ((_, t1), (_, tn)) = growth(gate(sfDir), gate(soakDir))
      println(f"semantic_gate_arrivals   1x: $t1%6.2f s ($c1%6d vecs)   " +
        f"${n}x: $tn%6.2f s ($cn%7d vecs)   growth ${tn / t1}%4.1fx   " +
        f"per-vec ${1e6 * t1 / c1}%.0f -> ${1e6 * tn / cn}%.0f us")
      stored.unpersist()
    }

    // FRESH deterministic vectors for the non-replication blocks
    // (replicas are exact dups — n² pair output by construction).
    def fresh(m: Long) = spark.range(m).select(
      col("id").as("vec_id"),
      expr("transform(sequence(1, 64), d -> " +
        "CAST(pmod(hash(id * 64 + d), 1048576) - 524288 AS BIGINT))").as("x"))

    // Fixed-cell-size SemDeDup soak (q125's scale contract): FRESH
    // deterministic vectors, NOT replicas — replicating the corpus
    // plants exact duplicates, growing the pair OUTPUT n² by
    // construction, which is why the replicated soak above skips
    // q125. Here k scales with n (k = kForCorpus(n, cellSize)), so
    // the blocked pair join is Σ|cell|² ≈ n · cellSize: the wall
    // clock should grow ~linearly (~n×), not n²; and the join key
    // has k distinct values, so the exchange fans out with the
    // corpus instead of hot-spotting 8 partitions.
    CacheRegistry.withCaches {
      val cellSize = 250
      // Stage-separated: the verdict claim under test is that the
      // PAIR JOIN is linear at fixed cell size (Σ|cell|² ≈ n·cell);
      // the assignment stage has its own scaling story (flat Lloyd
      // O(n·k) vs two-level O(n·√k), both measured).
      def stages(m: Long): (Double, Double, Double) = {
        val v = fresh(m)
        val k = Clustering.kForCorpus(m, cellSize)
        val (asgFlat, tFlat) = timed {
          val a = Clustering.assignWith(v, Clustering.trainCentroids(v, k))
            .select(col("vec_id"), col("x"), col("cluster")).persist()
          a.count()
          a
        }
        val tHier = secs(noop(Clustering.assignHierarchical(v, Clustering.trainHierarchical(v, k))))
        val tPrune = secs(noop(Clustering.semdedupPruneOf(asgFlat)))
        asgFlat.unpersist()
        (tFlat, tHier, tPrune)
      }
      val n1 = 5000L; val nn = n1 * n
      val (((a1, h1, p1), _), ((an, hn, pn), _)) = growth(stages(n1), stages(nn))
      val k1 = Clustering.kForCorpus(n1, cellSize)
      val kn = Clustering.kForCorpus(nn, cellSize)
      println(f"semdedup_fixed_cell ($n1%d vecs k=$k1%d -> $nn%d vecs k=$kn%d):")
      println(f"  train_assign_flat      1x: $a1%6.2f s   ${n}x: $an%6.2f s   growth ${an / a1}%5.1fx  (O(n*k) = n^2/cell)")
      println(f"  train_assign_twolevel  1x: $h1%6.2f s   ${n}x: $hn%6.2f s   growth ${hn / h1}%5.1fx  (O(n*sqrt(k)))")
      println(f"  prune_pair_join        1x: $p1%6.2f s   ${n}x: $pn%6.2f s   growth ${pn / p1}%5.1fx  (O(n*cell) - the linear claim)")
    }

    // JOINED fine assignment at scale (the fine model as DATA). Fixed
    // k = 5000 — kc = kf = 71, a fine table of 5k rows that travels as
    // a frame, never a k·d task literal or driver collect. Corpus 50k
    // -> 500k FRESH vectors at the SAME k: train is O(n·√k) and
    // assignment O(n·(√k + kf)) candidate rows, so the PER-VECTOR cost
    // must stay ~flat — model transport, not compute, was the scale
    // ceiling this removes.
    val k5 = 5000
    CacheRegistry.withCaches {
      def run(m: Long): Unit = {
        val v = fresh(m)
        noop(Clustering.assignHierarchicalJoined(v, Clustering.trainHierarchicalFrames(v, k5)))
      }
      val n1 = 50000L; val nn = n1 * n
      val ((_, t1), (_, tn)) = growth(run(n1), run(nn))
      println(f"hier_joined_fixed_k      ${n1 / 1000}%dk vecs: $t1%6.2f s   ${nn / 1000}%dk vecs: $tn%6.2f s   " +
        f"growth ${tn / t1}%4.1fx   per-vec ${1e6 * t1 / n1}%.0f -> ${1e6 * tn / nn}%.0f us  (k=$k5 both)")
    }

    // Multi-probe (nprobe=2) priced against greedy on the SAME
    // trained frame model, assignment stage only: the joined probe
    // carries exactly 2x the candidate rows (2·kf per vector), so
    // the overhead must stay ~<=2x greedy and per-vector cost ~flat
    // at x10 corpus — what the q137 recall gain costs at scale.
    CacheRegistry.withCaches {
      def stage(m: Long): (Double, Double) = {
        val v = fresh(m)
        val hm = Clustering.trainHierarchicalFrames(v, k5)
        (secs(noop(Clustering.assignHierarchicalJoined(v, hm))),
          secs(noop(Clustering.multiProbeAssignJoined(v, hm))))
      }
      val n1 = 50000L; val nn = n1 * n
      val (((g1, p1), _), ((gn, pn), _)) = growth(stage(n1), stage(nn))
      println(f"multiprobe_joined        ${n1 / 1000}%dk: greedy $g1%5.2f s nprobe2 $p1%5.2f s   " +
        f"${nn / 1000}%dk: greedy $gn%6.2f s nprobe2 $pn%6.2f s   " +
        f"overhead ${p1 / g1}%4.2fx -> ${pn / gn}%4.2fx   per-vec ${1e6 * pn / nn}%.0f us (k=$k5)")
    }

    // nprobe FRONTIER (the q137 measurement generalized): miss rate
    // vs the exact flat argmin and wall clock at nprobe 1,2,4,8 over
    // 100k fresh vectors, k=64 (kc=8) — the tuning curve a deployment
    // reads to pick its probe depth.
    CacheRegistry.withCaches {
      val v = fresh(100000L).persist(); v.count()
      val m = Clustering.trainHierarchical(v, 64)
      val exact = Clustering.assignWith(v.select(col("vec_id"), col("x")), m.fines.flatten)
        .select(col("vec_id"), col("dist").as("tdist")).persist()
      exact.count()
      Seq(1, 2, 4, 8).foreach { np =>
        val asg = Clustering.multiProbeAssignN(v, m, np)
        val t = secs(noop(asg))
        val miss = asg.select(col("vec_id"), col("dist")).join(exact, "vec_id")
          .agg(sum(when(col("dist") > col("tdist"), 1L).otherwise(0L)), count(lit(1)))
          .collect()(0)
        println(f"nprobe_frontier  np=$np%d  miss ${1000000L * miss.getLong(0) / miss.getLong(1)}%6d ppm   assign $t%5.2f s")
      }
      exact.unpersist(); v.unpersist()
    }

    // Flat-vs-two-level wall-clock contrast at 500k x k=2000: the
    // 50k x 200 stage rows are overhead-dominated (PERF.md's note); at
    // this n·k the O(n·k) flat ladder is compute-bound again, so the
    // O(n·√k) separation is MEASURED wall clock, not asserted
    // asymptotics.
    val nBig = 50000L * n
    val k2 = Clustering.kForCorpus(nBig, 250)
    val vBig = fresh(nBig)
    val tFlat = secs(noop(Clustering.assignWith(vBig, Clustering.trainCentroids(vBig, k2))))
    val tHier = secs(noop(Clustering.assignHierarchicalJoined(vBig,
      Clustering.trainHierarchicalFrames(vBig, k2))))
    println(f"flat_vs_twolevel_${nBig / 1000}%dk  flat(k=$k2%d): $tFlat%7.2f s   " +
      f"twolevel_joined: $tHier%7.2f s   separation ${tFlat / tHier}%4.1fx")
  }

  /** Delta admission — the ingest-batch half of the deployment loop:
    * stored roots are built ONCE from the source corpus (the nightly
    * job's output), then [[graft.pipeline.IndexDelta]] admission
    * batches run at 1× and n× arrival sizes against identical fresh
    * roots. Claims under test:
    *
    *  - admission wall clock grows ≲ n× with per-item cost ~flat — the
    *    probe side is fixed and the appends are delta-sized (O(delta));
    *  - what batch 1 ADMITS, batch 2's gate sees: a re-submission of
    *    batch 1 rejects wholesale and appends nothing (the idempotent
    *    replay contract, timed — a replay batch costs gate-only);
    *  - the same shape on the vector side (fresh deterministic vectors,
    *    the cluster family's discipline — replicas would plant exact
    *    dups);
    *  - the exact-pruned tiers stay exact under sustained admission,
    *    and the streaming gates keep stable verdicts and flat cost. */
  private def delta(args: Seq[String]): Unit = session { spark =>
    import spark.implicits._
    val n = intArg(args, 0, 10)
    println(s"## Delta-admission soak at $sfDir (arrival batches x1 vs x$n; roots built once)")

    /** Admission at 1× and n× into identical fresh roots, warmed on a
      * throwaway root and released after every batch; prints the
      * growth row and returns the 1× root for the replay row. */
    def admitGrowth(row: String, unit: String, tag: String, root: () => String,
        b1: DataFrame, bn: DataFrame)(admitted: (String, DataFrame, String) => DataFrame): String = {
      val (rootA, rootB) = (root(), root())
      val (c1, cn) = (b1.count(), bn.count())
      CacheRegistry.withCaches(admitted(root(), b1, "w").count())
      val (a1, t1) = CacheRegistry.withCaches(timed(admitted(rootA, b1, s"${tag}1").count()))
      val (an, tn) = CacheRegistry.withCaches(timed(admitted(rootB, bn, s"${tag}n").count()))
      println(f"$row%-24s 1x: $t1%6.2f s ($c1%6d $unit, $a1%6d admitted)   " +
        f"${n}x: $tn%6.2f s ($cn%7d $unit, $an%7d admitted)   growth ${tn / t1}%4.1fx   " +
        f"per-${unit.init} ${1e6 * t1 / c1}%5.0f -> ${1e6 * tn / cn}%5.0f us")
      rootA
    }

    // ---------------- text side ----------------
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def buildDocRoot(): String = {
      val root = tmpRoot("graft-soak-delta-docs")
      FpIndex.saveFlat(s"$root/${IndexBuild.KeysT}", Incremental.corpusKeySet(docs))
      val sh = Dedup.shingleTable(docs)
      FpIndex.saveFlat(s"$root/${IndexBuild.BandsT}", Dedup.bandTable(sh))
      FpIndex.saveOrRebuildShingles(spark, s"$root/${IndexBuild.ShinglesT}", sh)
      FpIndex.saveFlat(s"$root/${IndexBuild.NoveltyT}", Incremental.corpusShingleSet(docs))
      root
    }
    // fresh arrivals: every word suffixed with the arrival id — new
    // shingles (admitted), quality-passing, distinct from each other
    def suffixed(df: DataFrame): DataFrame = df.select(col("doc_id"), expr(
      "array_join(transform(split(text, ' '), w -> concat(w, '_', doc_id)), ' ')").as("text"))
    def freshDocs(mult: Int): DataFrame = suffixed(replicate(
      docs.filter(col("doc_id") % 11 === 0).withColumn("doc_id", col("doc_id") + lit(900000000L)),
      mult))
    locally {
      val b1 = freshDocs(1).persist(); val bn = freshDocs(n).persist()
      def admitted(root: String, b: DataFrame, id: String) =
        IndexDelta.admitDocs(spark, root, b, id).filter(col("admitted"))
      val rootA = admitGrowth("admit_docs", "docs", "b", () => buildDocRoot(), b1, bn)(admitted)
      // replay of batch 1 against rootA: batch-1 admissions now stored
      val (rAdm, tr) = CacheRegistry.withCaches(timed(admitted(rootA, b1, "b1r").count()))
      println(f"admit_docs_replay        $tr%6.2f s (${b1.count()}%6d docs, $rAdm admitted — " +
        "batch-1 admissions gate their own replay)")
      require(rAdm == 0, "replay must admit nothing")
      Seq(b1, bn).foreach(_.unpersist())
    }

    // ---------------- vector side ----------------
    def buildVecRoot(): String = {
      val root = tmpRoot("graft-soak-delta-vecs")
      IndexBuild.buildVectorUnit(spark, Clustering.fixedPoint(spark, sfDir), root,
        IndexBuild.FlatUnit)
      root
    }
    def freshVecs(m: Long, offset: Long): DataFrame =
      spark.range(m).select(
        (col("id") + lit(offset)).as("vec_id"),
        expr("transform(sequence(1, 64), d -> " +
          "CAST((pmod(hash((id + " + offset + ") * 64 + d), 1048576) - 524288) " +
          "/ 1048576.0 AS FLOAT))").as("embedding"))
    locally {
      val m1 = 2000L
      val b1 = freshVecs(m1, 900000000L).persist()
      val bn = freshVecs(m1 * n, 900000000L).persist()
      val rootA = admitGrowth("admit_vectors", "vecs", "v", () => buildVecRoot(), b1, bn) {
        (root, b, id) => IndexDelta.admitVectors(spark, root, b, id).filter(col("admitted") === 1)
      }
      // the replay invariant is "nothing re-APPENDS": replays of appended
      // arrivals reject outright; replays of capped-cell arrivals (never
      // appended) re-FLAG admitted-but-capped, which is the documented
      // stable verdict — so count admissions headed for the probe table
      val (rAdm, tr) = CacheRegistry.withCaches(timed(
        IndexDelta.admitVectors(spark, rootA, b1, "v1r")
          .filter(col("admitted") === 1 && col("cell_capped") === 0).count()))
      println(f"admit_vectors_replay     $tr%6.2f s (${b1.count()}%6d vecs, $rAdm appendable)")
      require(rAdm == 0, "replayed vector batch must re-append nothing")
      Seq(b1, bn).foreach(_.unpersist())
    }

    // -------------- exact-pruned tiers under admission --------------
    // Arrivals carry EXTRA directional wobble (±120 on ±60 planted
    // offsets): most land OUTSIDE their cell's build-time radius (and
    // their group's composed radius), so the gate fails unless each
    // batch's radii delta-admit (the AnnIndexSpec plant, at soak scale).
    val qp = expr("vec_id % 25 = 0")
    def wobbled(idBase: Long, b: Int): DataFrame =
      Similarity.plantedVectorsOfIds(spark.range(100).select(
          (col("id") + lit(idBase) + lit(b.toLong) * lit(1000000L)).as("vec_id")))
        .select(col("vec_id"), expr(
          "transform(e, (x, j) -> x + CAST((vec_id * 7 + CAST(j AS BIGINT)) % 241 - 120 AS DOUBLE))")
          .as("e"))
        .withColumn("nrm", sqrt(graft.functions.VectorOps.dot(col("e"), col("e"))))
    /** The served top-k from the index at `path` must equal the
      * brute-force scan of `corpus` row for row; returns the seconds. */
    def gate(corpus: DataFrame, path: String, what: String): Double =
      CacheRegistry.withCaches(timed(sameRows(
        ExactIndex.topK(corpus, qp, ExactIndex.load(spark, path), 4, 5).collect().toSeq,
        Similarity.cosineTopKOf(corpus, qp, 5).collect().toSeq, what)))._2
    /** 20 batches of 100 wobbled arrivals admitted into `path`, gated
      * after EVERY batch; returns the grown corpus and the admit and
      * gate seconds. */
    def admitWobbled(base: DataFrame, path: String, idBase: Long,
        what: String): (DataFrame, Double, Double) = {
      var corpus = base
      var tAdmit = 0.0; var tGate = 0.0
      (1 to 20).foreach { b =>
        val arr = wobbled(idBase, b).persist()
        arr.count()
        tAdmit += timed(ExactIndex.admit(spark, path, arr).count())._2
        // materialize the grown corpus BEFORE dropping the previous
        // frame (persisting every generation stacked ~21 corpus copies
        // by the last batch — memory/spill pressure that grows with
        // sf); arr's rows live inside `next` after the count, so it
        // unpersists too
        val next = corpus.unionByName(arr).persist()
        next.count()
        if (corpus ne base) corpus.unpersist()
        arr.unpersist()
        corpus = next
        tGate += gate(corpus, path, s"$what at admission batch $b")
      }
      (corpus, tAdmit, tGate)
    }
    def plantedBase(): DataFrame = {
      val base = Similarity.plantedVectors(spark, sfDir).persist()
      base.count()
      base
    }
    def trainSave(corpus: DataFrame, path: String): Int = {
      val cents = ExactIndex.train(corpus)
      ExactIndex.save(spark, path, ExactIndex.fit(corpus, cents, Some(Similarity.PlantGroupEvery)))
      cents.size
    }

    // q155: the exactness HARD GATE under sustained growth — radii
    // max-merge across 20 delta commits, auto-compaction crosses its
    // knee (AutoCompactManifests = 16) mid-soak, and after EVERY batch
    // the served top-k equals the brute-force scan of the grown corpus.
    locally {
      val base = plantedBase()
      val path = s"${tmpRoot("graft-soak-delta-exact155")}/q155"
      ExactIndex.save(spark, path, ExactIndex.fit(base,
        Similarity.trainIvfQuantizer(base, expr("vec_id % 7 = 3"))))
      val (corpus, tAdmit, tGate) =
        admitWobbled(base, path, 900000000L, "exact tier lost exactness")
      val radiiManifests = manifests(s"$path/radii")
      require(radiiManifests < FpIndex.AutoCompactManifests,
        s"auto-compaction must bound the radii manifests, got $radiiManifests")
      println(f"exact155_admission       20 batches x100 wobbled arrivals  " +
        f"admit total $tAdmit%6.2f s  gate total $tGate%6.2f s  " +
        f"served == brute EVERY batch  radii-manifests $radiiManifests%2d")
      if (corpus ne base) corpus.unpersist()
      base.unpersist()
    }

    // TRAINED-quantizer TWO-LEVEL lifecycle (q157 × q156): TRAIN a √n
    // Lloyd quantizer → STORE the two-level artifacts (quantizer, cell
    // radii, cell→group table, group radii) → SERVE → 20 admission
    // batches (cell AND composed group radii delta-admitted;
    // auto-compaction crosses its knee on both radius tables) →
    // RE-TRAIN on the grown corpus in place (the refreshIfStale
    // precedent — atomic generation rebuild) → serve again, gated
    // after EVERY step.
    locally {
      val base = plantedBase()
      val path = s"${tmpRoot("graft-soak-delta-trained2l")}/q157"
      val what = "trained 2-level serve lost exactness"
      val (nlist, tTrain) = timed(trainSave(base, path))
      gate(base, path, s"$what at initial build")
      val (corpus, tAdmit, _) = admitWobbled(base, path, 910000000L, what)
      Seq("radii", "gradii").foreach { t =>
        val m = manifests(s"$path/$t")
        require(m < FpIndex.AutoCompactManifests,
          s"auto-compaction must bound the $t manifests, got $m")
      }
      // new √n quantizer, new generation under every artifact, pinned
      // readers unaffected
      val (nlist2, tRetrain) = timed(trainSave(corpus, path))
      gate(corpus, path, s"$what at post-retrain")
      println(f"trained2l_lifecycle      train $tTrain%6.2f s (nlist=$nlist%4d)  " +
        f"20 wobbled batches admit $tAdmit%6.2f s  " +
        f"retrain $tRetrain%6.2f s (nlist=$nlist2%4d)  served == brute EVERY step")
      if (corpus ne base) corpus.unpersist()
      base.unpersist()
    }

    // -------------- delta ACCUMULATION + compaction --------------
    // one root, many consecutive admitted batches: does per-batch admit
    // cost or serve latency grow with accumulated delta COMMITS (each
    // admission = one manifest commit + small files per table)?
    // FpIndex.compactIndex is the documented answer past the knee —
    // bin-packs the files and collapses the log to one checkpoint,
    // winner/delta stamps untouched (IndexDeltaSpec pins semantics).
    locally {
      val batches = 24
      val root = buildDocRoot()
      val base = docs.filter(col("doc_id") % 101 === 0)
      def batchOf(i: Int): DataFrame = suffixed(base.withColumn("doc_id",
        col("doc_id") + lit(800000000L) + lit(i.toLong) * lit(1000000L)))
      def admit(i: Int, id: String): Double = CacheRegistry.withCaches(
        timed(IndexDelta.admitDocs(spark, root, batchOf(i), id).count()))._2
      val probeArr = batchOf(999).limit(50).persist()
      probeArr.count()
      def serveProbe(): Double = timed(noop(Incremental.curationGateStream(probeArr,
        FpIndex.loadFlat(spark, s"$root/${IndexBuild.KeysT}"),
        FpIndex.loadFlat(spark, s"$root/${IndexBuild.BandsT}"),
        FpIndex.loadShingles(spark, s"$root/${IndexBuild.ShinglesT}"))))._2
      admit(0, "acc-w") // warm plans once
      val marks = Set(1, 8, 16, batches)
      val admitTimes = (1 to batches).map { i =>
        val t = admit(i, s"acc-$i")
        if (marks(i)) {
          val s = serveProbe()
          val m = manifests(s"$root/${IndexBuild.KeysT}")
          println(f"accumulate batch $i%2d      admit $t%6.2f s   serve $s%6.2f s   " +
            f"keys-manifests $m%3d")
        }
        t
      }
      val head5 = admitTimes.take(5).sum / 5
      val tail5 = admitTimes.takeRight(5).sum / 5
      println(f"accumulate admit flatness: first-5 avg $head5%6.2f s -> " +
        f"last-5 avg $tail5%6.2f s (${tail5 / head5}%4.2fx)")
      val servePre = serveProbe()
      val (_, tCompact) = timed(Seq(IndexBuild.KeysT, IndexBuild.BandsT,
        IndexBuild.ShinglesT, IndexBuild.NoveltyT)
        .foreach(t => FpIndex.compactIndex(spark, s"$root/$t")))
      val servePost = serveProbe()
      val mPost = manifests(s"$root/${IndexBuild.KeysT}")
      println(f"compactIndex             $tCompact%6.2f s   serve $servePre%6.2f -> " +
        f"$servePost%6.2f s   keys-manifests -> $mPost%3d")
      // post-compaction admission keeps working at the same cost shape
      println(f"admit after compaction   ${admit(batches + 1, "acc-post")}%6.2f s")
      probeArr.unpersist()
    }

    /** 20 micro-batches `batchOf(i)` through `admit(batch, id)` in a
      * foreachBatch sink over a MemoryStream, registries released after
      * every batch; returns each batch's verdict counts and seconds in
      * batch order. */
    def streamSoak[A: Encoder](cols: Seq[String], ckpt: String)(batchOf: Int => Seq[A])(
        admit: (DataFrame, Long) => Seq[Long]): Seq[(Seq[Long], Double)] = {
      implicit val ctx: SQLContext = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A]
      val stats = scala.collection.mutable.ArrayBuffer[(Long, (Seq[Long], Double))]()
      val q = input.toDF().toDF(cols: _*).writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val r = CacheRegistry.withCaches(timed(admit(batch, id)))
          stats.synchronized { stats += ((id, r)) }
          ()
        }
        .option("checkpointLocation", tmpRoot(ckpt))
        .start()
      try (0 until 20).foreach { i =>
        input.addData(batchOf(i))
        q.processAllAvailable()
      } finally q.stop()
      stats.sortBy(_._1).map(_._2).toSeq
    }
    /** Prints `summary(steady, last)` — mean seconds of batches 5-9 and
      * 15-19 — then the per-5-batch means. */
    def report(secs: Seq[Double])(summary: (Double, Double) => String): Unit = {
      // steady-state flatness: batches 0-4 are structurally cheaper
      // (batch 0 carries no replay/near-dup legs), so the honest
      // accumulation signal compares batches 5-9 vs 15-19
      println(summary(secs.slice(5, 10).sum / 5, secs.takeRight(5).sum / 5))
      secs.grouped(5).zipWithIndex.foreach { case (g, gi) =>
        println(f"  batches ${gi * 5}%2d-${gi * 5 + g.size - 1}%2d  avg ${g.sum / g.size}%5.2f s")
      }
    }

    // -------------- streaming admission soak --------------
    // 20 micro-batches of mixed clean/replay/near-dup arrivals through
    // the foreachBatch admission against ONE root: verdict stability
    // (every replay rejects, every near-dup of an admitted doc rejects,
    // every fresh doc admits) and flat per-batch cost as admissions
    // accumulate.
    locally {
      val root = buildDocRoot()
      // synthetic 30-word docs: quality-passing by construction, near-dup
      // variants (one appended word → jaccard 28/29) reliably above tau
      def freshOf(i: Int): Seq[(Long, String)] = (0 until 40).map { j =>
        val nid = 700000000L + i.toLong * 1000000L + j
        (nid, (1 to 30).map(k => s"w${nid}_$k").mkString(" "))
      }
      val rows = streamSoak[(Long, String)](Seq("doc_id", "text"), "graft_soak_admit_ckpt") { i =>
        val replays = if (i == 0) Seq.empty else freshOf(i - 1).take(20)
        val nearDups = if (i == 0) Seq.empty else freshOf(i - 1).drop(20).take(20)
          .map { case (id, t) => (id + 500000000L, t + " zzz") }
        freshOf(i) ++ replays ++ nearDups
      } { (batch, id) =>
        val v = IndexDelta.admitDocs(batch.sparkSession, root, batch, s"soak-$id")
          .groupBy(col("admitted")).count().collect()
          .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
        Seq(v.getOrElse(true, 0L), v.getOrElse(false, 0L))
      }
      val counts = rows.map(_._1)
      // batch 0: all 40 fresh admit. batches 1..19: 40 fresh admit, 20
      // replays + 20 near-dups reject — verdict stability as a hard gate
      require(counts.head == Seq(40L, 0L), s"batch 0 must admit all fresh docs: ${rows.head}")
      require(counts.tail.forall(_ == Seq(40L, 40L)),
        s"every later batch must admit 40 fresh and reject 40: ${rows.tail}")
      report(rows.map(_._2)) { (steady0, last5) =>
        f"stream_admit ${rows.size}%2d batches  admitted ${counts.map(_(0)).sum}%5d  " +
          f"rejected ${counts.map(_(1)).sum}%5d  per-batch steady 5-9 $steady0%5.2f s -> " +
          f"15-19 $last5%5.2f s (${last5 / steady0}%4.2fx)"
      }
    }

    // ------ IVF+SQ8 streaming VECTOR admission soak ------
    // 20 micro-batches of mixed fresh/replay/near-dup vector arrivals
    // through the foreachBatch gate probing the STORED composed tier
    // (quantizer + SQ8 codes — the q149 store), with admitted arrivals
    // delta-appended so batch N+1's gate sees batch N's admissions.
    // Hard verdict gate per batch + flat per-batch cost; the per-vec
    // cost prints in the same µs units as admit_vectors above for the
    // "per-arrival cost <= current gate" comparison. Because every
    // admission is one delta commit, this stage ALSO exercises the
    // auto-compaction trigger live (manifest count stays bounded below
    // FpIndex.AutoCompactManifests across 20 commits).
    locally {
      val annPath = tmpRoot("graft-soak-delta-ivfsq8")
      Similarity.buildIvfSq8Index(spark, sfDir, annPath)
      val tau = 0.05
      // splitmix64 finalizer, NOT a bare multiplicative hash: an LCG on
      // sequential inputs makes vec(id) − vec(id') ≈ constant·(1,…,1)
      // (the Weyl-orbit correlation), so ~6% of unrelated id pairs land
      // within any small tau and the soak's "fresh" vectors near-dup
      // each other by construction (observed: 192/200 false near-dups
      // by batch 4). Avalanche mixing makes dims independent.
      def mix(z0: Long): Long = {
        var z = z0 + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      def freshVec(id: Long): Array[Float] = Array.tabulate(64) { d =>
        (java.lang.Math.floorMod(mix(id * 64 + d), 1048576L) - 524288L) / 1048576.0f
      }
      def freshOf(i: Int): Seq[(Long, Array[Float])] = (0 until 100).map { j =>
        val id = 600000000L + i.toLong * 1000000L + j
        (id, freshVec(id))
      }
      val rows = streamSoak[(Long, Array[Float])](Seq("vec_id", "embedding"),
          "graft_soak_vecadmit_ckpt") { i =>
        val replays = if (i == 0) Seq.empty else freshOf(i - 1).take(50)
        val nearDups = if (i == 0) Seq.empty else freshOf(i - 1).drop(50)
          .map { case (id, vv) =>
            val a = vv.clone(); a(0) = a(0) + 0.001f
            (id + 400000000L, a)
          }
        freshOf(i) ++ replays ++ nearDups
      } { (batch, _) =>
        val b = batch.persist()
        // nprobe = 3: the soak's verdict gate is HARD (every planted
        // near-dup must reject), and the single-probe default carries
        // the documented cell-boundary miss (observed live: 1 of 950
        // planted near-dups landed in a cell adjacent to its stored
        // twin's and admitted). Multi-probe closes the boundary; the
        // nprobe=1 cost line below is the flat-gate parity number.
        val v = Similarity.ivfSq8Gate(b.sparkSession, annPath, b, tau, nprobe = 3).persist()
        val byStage = v.groupBy(col("admitted"), col("reject_stage")).count().collect()
          .map(r => (r.getBoolean(0), if (r.isNullAt(1)) "ok" else r.getString(1)) -> r.getLong(2))
          .toMap
        Similarity.admitIvfSq8Codes(b.sparkSession, annPath,
          b.join(v.filter(col("admitted")).select(col("vec_id")), Seq("vec_id")))
        v.unpersist(); b.unpersist()
        Seq((true, "ok"), (false, "replay"), (false, "near_dup")).map(byStage.getOrElse(_, 0L))
      }
      val counts = rows.map(_._1)
      require(counts.head == Seq(100L, 0L, 0L),
        s"batch 0 must admit all 100 fresh vectors: ${rows.head}")
      require(counts.tail.forall(_ == Seq(100L, 50L, 50L)),
        "every later batch must admit 100 fresh, replay-reject 50, " +
          s"near-dup-reject 50: ${rows.tail}")
      val codeManifests = manifests(s"$annPath/codes")
      require(codeManifests < FpIndex.AutoCompactManifests,
        s"auto-compaction must bound the code-table manifests, got $codeManifests")
      // per-batch cost at 200-vec micro-batches is OVERHEAD-bound
      // (plan + stored-artifact reads + append + release per batch —
      // same shape as stream_admit above), so the per-ARRIVAL
      // comparison against admit_vectors runs at its batch size:
      // one 2000-vector gate-only pass, cold (corp decode built) and
      // warm (the serving steady state)
      report(rows.map(_._2)) { (steady0, last5) =>
        f"stream_ivfsq8_gate ${rows.size}%2d batches  " +
          f"admitted ${counts.map(_(0)).sum}%5d  replay ${counts.map(_(1)).sum}%4d  " +
          f"near_dup ${counts.map(_(2)).sum}%4d  per-batch steady 5-9 $steady0%5.2f s " +
          f"-> 15-19 $last5%5.2f s (${last5 / steady0}%4.2fx)  " +
          f"codes-manifests $codeManifests%2d"
      }
      val bigDf = (0 until 2000)
        .map(j => (650000000L + j, freshVec(650000000L + j)))
        .toDF("vec_id", "embedding")
      def gateOnce(): Double = timed(noop(Similarity.ivfSq8Gate(spark, annPath, bigDf, tau)))._2
      val (cold, warm) = CacheRegistry.withCaches((gateOnce(), gateOnce()))
      println(f"ivfsq8_gate_2000 (nprobe=1)  cold $cold%5.2f s (${1e6 * cold / 2000}%5.0f us/vec)" +
        f"   warm $warm%5.2f s (${1e6 * warm / 2000}%5.0f us/vec)" +
        "   [admit_vectors 1x above is the flat-gate comparator]")
    }
  }

  /** Shard-export lifecycle — the delta family's shape for the
    * training-shard pipeline: ONE build (train the tokenizer on the base
    * corpus, store merges + tails, publish the base shards), then N
    * monotone-id admission waves under the FROZEN merges, then a
    * bounded takedown retraction — each step timed, and the lifecycle
    * HARD-GATED twice: after the waves the published table must equal
    * the one-shot export over everything admitted (the incremental ≡
    * one-shot contract at sf scale), and after the takedown it must
    * equal the q167 retracted-manifest oracle form. Every admission
    * wave additionally carries ShardExport's own observe-metric
    * conservation require. */
  private def shard(args: Seq[String]): Unit = session { spark =>
    val waves = intArg(args, 0, 8)
    val dir = sfDir
    val out = tmpRoot("graft-soak-shard-out")
    val idx = tmpRoot("graft-soak-shard-idx")
    println(s"## Shard-export lifecycle soak at $dir (build + $waves admission waves + takedown)")

    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text"))
    val idRow = docs.agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val (minId, maxId) = (idRow.getLong(0), idRow.getLong(1))
    val cut0 = minId + (maxId - minId) * 6 / 10
    val (built, tBuild) = timed(ShardExport.buildOf(docs.filter(col("doc_id") <= cut0), out, idx))
    println(f"shard_build            $tBuild%6.2f s  " +
      s"(docs=${built.head.docs}, tokens=${built.head.tokens})")

    val span = maxId - cut0
    for (w <- 1 to waves) {
      val lo = cut0 + span * (w - 1) / waves
      val hi = cut0 + span * w / waves
      val (st, tw) = timed(ShardExport.admit(spark, idx, out,
        docs.filter(col("doc_id") > lo && col("doc_id") <= hi)))
      println(f"shard_admit_wave_$w%-2d    $tw%6.2f s  " +
        s"(docs=${st.head.docs}, tokens=${st.head.tokens})")
    }

    def published(): Seq[Row] = spark.newSession()
      .read.format("graft.sources.ManifestSink").option("path", out).load()
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("bpe_tokens")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .collect().toSeq
    val merges = ShardExport.loadMerges(spark, idx)
    val (_, tGate1) = timed {
      val got = published()
      require(got.nonEmpty, "LIFECYCLE GATE FAILED: nothing published")
      sameRows(got, TextAnalysis.shardManifestOf(docs, merges).collect().toSeq,
        "LIFECYCLE GATE FAILED: published shard rows != one-shot rows")
    }
    println(f"gate_incremental_eq    $tGate1%6.2f s  (PASS: published == one-shot export)")

    // bounded takedown: every 997th doc id that exists
    val takedown = docs.filter(col("doc_id") % 997 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted
    val (removed, tRet) = timed(ShardExport.retract(spark, out, takedown))
    require(removed == takedown.size,
      s"retraction removed $removed of ${takedown.size} takedown docs")
    println(f"shard_retract_${takedown.size}%-6d  $tRet%6.2f s  (file-granular delete)")

    val (_, tGate2) = timed(sameRows(published(), TextAnalysis.retractedShardManifestOf(
        docs, col("doc_id").isin(takedown: _*), merges).collect().toSeq,
      "LIFECYCLE GATE FAILED: post-retraction table != the q167 oracle form"))
    println(f"gate_retraction_eq     $tGate2%6.2f s  (PASS: published == retracted manifest)")
  }

  // --------------------------------------------------------------- proofs

  /** The sf10 EXACTNESS gates that no full-|Q| oracle can afford: the
    * brute-force parent at sf10 is |Q|·n = 8000·200k = 1.6·10⁹
    * candidate rows through a per-query window — hours in DuckDB and
    * a ~10²-GB shuffle in Spark (measured: a full-|Q| parent attempt
    * sat at loadavg 1 for 10+ minutes before being killed). So the
    * gates check the ≡-to-parent property where the oracle itself is
    * the bottleneck, COMPOSED with the q153 lesson (bound the audit's
    * |Q|, push the sample into the query predicates): they run on the
    * 32-query deterministic sample (smallest Knuth-scrambled query ids
    * — the q153/q154/q159 rule). Per-query results are INDEPENDENT
    * (per-query windows over query-independent cell/group structures),
    * so sampled ≡ proves the pruning dropped nothing for those queries
    * at full sf10 corpus size; the full-|Q| property carries the
    * sf0.01/sf1 hash gates.
    *
    *   - q155 (id-filter cell pruning), q156 (two-level, via the stored
    *     serve — the parameterized seam), q157 (trained √n quantizer,
    *     stored lifecycle) must equal the sampled brute top-k
    *     row-for-row at 200k vectors;
    *   - the remaining production twins (q149/q152/q153/q154/q159) get
    *     second-decade TIMING rows here; their hash gates run in DuckDB
    *     from tools/run_sf10_proofs.sh where the oracle IS feasible
    *     (the sampled twins' oracles are |Q|-bounded by construction). */
  private def proofSf10(args: Seq[String]): Unit = session { spark =>
    val dir = args.headOption.getOrElse("/tmp/graft_sf10")
    val mode = args.lift(1).getOrElse("all")

    if (mode == "gates" || mode == "all") {
      val planted = Similarity.plantedVectors(spark, dir)
      // the 32-query bounded sample, pushed into the query predicates
      // as a driver-side literal (the q153 pattern). The sample is a
      // FIRST-CLASS fixture table (queries.parquet, written by
      // make-sf10 under the same Knuth-scramble smallest rule); older
      // fixture dirs fall back to deriving it — the two are
      // row-identical by construction.
      val qFix = new java.io.File(s"$dir/queries.parquet")
      val sampIds =
        if (qFix.exists)
          spark.read.parquet(qFix.toString)
            .orderBy(col("query_id")).collect().map(_.getLong(0)).toSeq
        else planted.filter(expr("vec_id % 25 = 0"))
          .select(col("vec_id"))
          .withColumn("hq", expr("(vec_id * 2654435761) % 4294967296"))
          .orderBy(col("hq"), col("vec_id")).limit(32)
          .collect().map(_.getLong(0)).toSeq
      println(s"query fixture: ${if (qFix.exists) "queries.parquet" else "derived"} " +
        s"(|Q|=${sampIds.size})")
      val sampPred = col("vec_id").isin(sampIds: _*)
      val (brute, tBrute) = CacheRegistry.withCaches(timed(
        Similarity.cosineTopKOf(planted, sampPred, 5).collect().toSeq))
      println(f"sf10 brute parent (32-query sample, 32*n)    $tBrute%8.2f s  ${brute.size}%6d rows")
      def gate(name: String, df: => DataFrame): Unit = {
        val (got, t) = CacheRegistry.withCaches(timed(df.collect().toSeq))
        sameRows(got, brute, s"$name lost exactness at sf10")
        println(f"$name%-44s $t%8.2f s  == parent (${got.size}%6d rows)")
      }
      // trained √n quantizer: the production path — build once, serve
      // the sampled queries from the stored artifacts; the SAME
      // trained quantizer then backs the two-level build, so both
      // lifecycle serves are gated in their production configuration
      val idx157 = tmpRoot("graft-sf10-157")
      val (cents, tBuild) = timed {
        val c = ExactIndex.train(planted)
        ExactIndex.save(spark, idx157, ExactIndex.fit(planted, c, cacheKey = Some("sf10.plantCells")))
        c
      }
      println(f"q157 trained build at sf10 (nlist=${cents.size}%4d)        $tBuild%8.2f s")
      gate("q157 trained serve (sampled queries)",
        ExactIndex.topK(planted, sampPred, ExactIndex.load(spark, idx157), 4, 5,
          cacheKey = Some("sf10.plantCells")))
      val idx156 = tmpRoot("graft-sf10-156")
      val (_, tBuild2) = timed(
        ExactIndex.save(spark, idx156, ExactIndex.fit(planted, cents,
          Some(Similarity.PlantGroupEvery), cacheKey = Some("sf10.plantCells"))))
      println(f"q156 two-level build at sf10 (trained cells)  $tBuild2%8.2f s")
      gate("q156 two-level serve (sampled queries)",
        ExactIndex.topK(planted, sampPred, ExactIndex.load(spark, idx156), 4, 5,
          cacheKey = Some("sf10.plantCells")))
      // the hybrid in the DEPLOYMENT shape (fixed |Q|): the fixture's
      // probe rule (every 25th doc) scales |Q| WITH the corpus, so the
      // full-|Q| q160 is quadratic by fixture construction — measured
      // at sf100: its posting-join sort spilled past the 79 GB free on
      // that box before ENOSPC killed it. A deployment serves a
      // bounded query set, so the third-decade hybrid row is the FULL
      // q160 composition — in-query train → store → trained
      // exact-pruned dense serve, df-pruned sparse leg, rrfFuse — run
      // through the PUBLIC full-form verb under the fixture's fixed
      // |Q| (the quadratic was the probe rule's |Q| ∝ n, not the
      // operator), gated against the same fixture legs with the dense
      // serve replaced by the brute-force scan: any pruned-away dense
      // neighbor flips a fused row, and the sparse leg and fusion code
      // are shared, so the gate isolates exactly the dense-pruning
      // claim.
      locally {
        val (fusedServe, tHyb) = CacheRegistry.withCaches(timed(
          Similarity.hybridTopKExactPrunedTrainedOf(spark, dir, sampIds).collect().toSeq))
        val docsZ = TextAnalysis.zipfDocsOf(Tables.documents(spark, dir).select(col("doc_id")))
        val probes = docsZ.filter(col("doc_id").isin(sampIds: _*))
          .select(col("doc_id").as("query_id"),
            explode(slice(split(col("text"), " "), 1, 8)).as("w"))
          .distinct()
        val sparse = TextAnalysis.bm25Of(docsZ, probes, excludeSelf = true,
            maxDfFrac = Some(TextAnalysis.ZipfMaxDfFrac))
          .select(col("query_id"), col("doc_id"), col("rank"))
        val denseBrute = Similarity.cosineTopKOf(planted, sampPred, 5)
          .select(col("q_id").as("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
        val rows = CacheRegistry.withCaches(sameRows(fusedServe,
          Similarity.rrfFuse(Seq(denseBrute, sparse)).collect().toSeq,
          "fixed-|Q| full-form hybrid lost dense exactness through fusion"))
        println(f"q160 fixed-|Q| FULL form (train+serve+fuse)   $tHyb%8.2f s  == brute-dense fusion ($rows%5d rows)")
      }
      // the id-filter oracle contract too (ncells = n/7 = 28.5k at
      // sf10): exactness holds at any density — the cost difference
      // against the √n rows above is the measured argument for q157.
      // Third decade and beyond: n/7 cells makes the assignment term
      // n²-shaped (2M rows × 286k cells at sf100 ≈ 450× the sf10 work
      // for the SAME answer the √n rows above already gated), so past
      // the guard the fixture-density form has priced itself out —
      // that is the measurement, and the skip line records it.
      val nCorpus = planted.count()
      if (nCorpus / 7 <= 40000) {
        gate("q155 id-filter pruning (sampled queries)",
          ExactIndex.topK(planted, sampPred, ExactIndex.fit(planted,
            Similarity.trainIvfQuantizer(planted, expr("vec_id % 7 = 3"))), 4, 5))
      } else {
        println(s"q155 id-filter pruning                  SKIPPED (ncells=n/7=${nCorpus / 7} " +
          "is the quadratic-shaped fixture density — exactness already gated via " +
          "the trained serves above; the skip IS the third-decade measurement)")
      }
    }

    if (mode == "timings" || mode == "all" || mode.startsWith("q1")) {
      // second-decade growth rows for the |Q|-bounded production twins
      // (hash gates for q154/q159 run in DuckDB — their oracles stay
      // feasible at sf10). COLD timings, single run: at this sf a
      // query is minutes, so the warm-then-time rule would double a
      // long capture for noise reduction nobody needs at this
      // magnitude; progress prints per query.
      // q160 rides here too: its dense-leg exactness at sf10 is the
      // q157 serve gate above (same stored-lifecycle path, same
      // triangle bound), its sparse leg and fusion tail are q152's —
      // the timing row against q152 is the measured argument that the
      // trained dense leg removes the fixture-IVF leg's superlinear
      // second-decade term.
      // arg 3 (CSV) overrides the timing list: the sf100 script passes
      // only the queries whose growth class survives the third decade
      // (q159 |Q|-bounded linear, q160 trained-√n dense + df-capped
      // sparse) — q149/q152/q153/q154 build fixture-contract tiers
      // (ncells ∝ n) whose assignment term is n²-shaped past sf10
      val all = args.lift(2).map(_.split(",").toSeq).getOrElse(
        Seq("q149_ivf_sq8", "q152_hybrid_rrf_pruned",
          "q153_recall_audit_sampled", "q154_agreement_sampled",
          "q159_hub_audit_sampled", "q160_hybrid_exact_trained"))
      val todo = if (mode.startsWith("q1")) all.filter(_.startsWith(mode)) else all
      todo.foreach { name =>
        println(s"[sf10] starting $name")
        val (_, t) = CacheRegistry.withCaches(timed(noop(SparkEntry.queries(name)(spark, dir))))
        println(f"$name%-44s $t%8.2f s  (cold)")
      }
    }
  }
}
