package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf10 fixture generator — the SECOND decade (r16 verdict ask #5).
  * The production retrieval twins' growth classes are proven at one
  * decade (sf0.1 → sf1, CORRECTNESS_SF1.md); their "linear forever"
  * claims get a second decade here: 100× the sf0.1 `documents` and
  * `embeddings` tables (500k docs, 200k vectors) under MakeSf1's
  * exact offset rule, with every OTHER table copied at 1× — they
  * exist only so the oracle harness's view registration succeeds; no
  * sf10-proven query reads them. Ids stay < 2³¹ (max ~10⁹), inside
  * every derived template's documented domain.
  *
  * Run: `sbt "runMain graft.MakeSf10 /tmp/graft_sf10 100"`. */
object MakeSf10 {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf10")
    val n = args.lift(1).map(_.toInt).getOrElse(100)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val reps = broadcast(spark.range(n).toDF("r"))
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    // repartition(32): the sf0.1 sources are single small files, so a
    // replicated table written as-is lands in 1-2 parquet parts and a
    // 13 MB / 200k-row table scans as ONE input split — every
    // downstream map kernel (NearestCell over 10¹⁰ ops) would run in
    // a single task (found live: loadavg 1.0 on a 32-core box for
    // 10+ minutes). 32 parts ≈ one split per core at this box's
    // parallelism.
    //
    // Offset rule: MakeSf1's 10⁷ stride through the second decade;
    // past it (mult = 1000, the sf100 third decade) the stride drops
    // to 2²¹ so the max id (999·2²¹ + 4999 ≈ 2.095·10⁹) stays inside
    // the derived templates' documented id domain (< 2³¹ — zipfTok/
    // plantElem reduce mod 2³¹, and the raw Knuth query-sample
    // expressions need id·2654435761 < 2⁶³). Base ids are < 5000, far
    // under either stride, so replicas never collide.
    val step = if (n * 10000000L + 5000L < (1L << 31)) 10000000L else 2097152L
    require(n * step + 5000L < (1L << 31),
      s"mult=$n would push ids past 2^31 even at the 2^21 stride")
    def rep(name: String, key: String): Unit =
      write(Tables.load(spark, src, name).crossJoin(reps)
        .withColumn(key, col(key) + col("r") * lit(step)).drop("r")
        .repartition(32), name)
    rep("documents", "doc_id")
    rep("embeddings", "vec_id")
    Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
      .foreach(t => write(Tables.load(spark, src, t), t))
    // fixed-|Q| FIRST-CLASS query fixture (r17 verdict #6): the base
    // probe rule (id % 25) scales |Q| with the corpus, making every
    // full-|Q| retrieval form quadratic by fixture construction past
    // sf10; a deployment serves a bounded query set. 32 ids by the
    // same Knuth-scramble smallest rule ProofSf10 derived ad hoc, so
    // existing decade gates are unchanged — the rule is now a table.
    write(spark.read.parquet(s"$out/embeddings.parquet")
      .filter(expr("vec_id % 25 = 0"))
      .select(col("vec_id").as("query_id"))
      .withColumn("hq", expr("(query_id * 2654435761) % 4294967296"))
      .orderBy(col("hq"), col("query_id")).limit(32).drop("hq")
      .coalesce(1), "queries")
    println(s"""{"sf10_dir": "$out", "mult": $n, "src": "$src"}""")
    spark.stop()
  }
}

/** The sf10 EXACTNESS gates that no full-|Q| oracle can afford: the
  * brute-force parent at sf10 is |Q|·n = 8000·200k = 1.6·10⁹
  * candidate rows through a per-query window — hours in DuckDB and
  * a ~10²-GB shuffle in Spark (measured: a full-|Q| parent attempt
  * sat at loadavg 1 for 10+ minutes before being killed). So, per the
  * r16 verdict's rule ("gate on the ≡-to-parent property where the
  * oracle itself is the bottleneck") COMPOSED with the q153 lesson
  * (bound the audit's |Q|, push the sample into the query
  * predicates): the gates run on the 32-query deterministic sample
  * (smallest Knuth-scrambled query ids — the q153/q154/q159 rule).
  * Per-query results are INDEPENDENT (per-query windows over
  * query-independent cell/group structures), so sampled ≡ proves the
  * pruning dropped nothing for those queries at full sf10 corpus
  * size; the full-|Q| property carries the sf0.01/sf1 hash gates.
  *
  *   - q155 (id-filter cell pruning), q156 (two-level, via the stored
  *     serve — the parameterized seam), q157 (trained √n quantizer,
  *     stored lifecycle) must equal the sampled brute top-k
  *     row-for-row at 200k vectors;
  *   - the remaining production twins (q149/q152/q153/q154/q159) get
  *     second-decade TIMING rows here; their hash gates run in DuckDB
  *     from tools/run_sf10_proofs.sh where the oracle IS feasible
  *     (the sampled twins' oracles are |Q|-bounded by construction).
  *
  * Run: `sbt "runMain graft.ProofSf10 /tmp/graft_sf10 [gates|timings|all]"`. */
object ProofSf10 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf10")
    val mode = args.lift(1).getOrElse("all")
    val spark = GraftSession.local()
    import operators.{ExactIndex, Similarity}

    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(""))
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    if (mode == "gates" || mode == "all") {
      val planted = Similarity.plantedVectors(spark, dir)
      // the 32-query bounded sample, pushed into the query predicates
      // as a driver-side literal (the q153 pattern). Since r18 the
      // sample is a FIRST-CLASS fixture table (queries.parquet,
      // written by MakeSf10 under the same Knuth-scramble smallest
      // rule); older fixture dirs fall back to deriving it — the two
      // are row-identical by construction.
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
      val (brute, tBrute) = timed(rows(
        Similarity.cosineTopKOf(planted, sampPred, 5)))
      println(f"sf10 brute parent (32-query sample, 32*n)    $tBrute%8.2f s  ${brute.size}%6d rows")
      CacheRegistry.releaseAll()
      def gate(name: String, df: => DataFrame): Unit = {
        val (got, t) = timed(rows(df))
        require(got == brute,
          s"$name lost exactness at sf10 (${got.size} vs ${brute.size} rows)")
        println(f"$name%-44s $t%8.2f s  == parent (${got.size}%6d rows)")
        CacheRegistry.releaseAll()
      }
      // trained √n quantizer: the production path — build once, serve
      // the sampled queries from the stored artifacts; the SAME
      // trained quantizer then backs the two-level build, so both
      // lifecycle serves are gated in their production configuration
      val idx157 = java.nio.file.Files.createTempDirectory("graft-sf10-157").toString
      var cents: Seq[(Long, Array[Double], Double)] = null
      val (_, tBuild) = timed {
        cents = ExactIndex.train(planted)
        ExactIndex.save(spark, idx157,
          ExactIndex.fit(planted, cents, cacheKey = Some("sf10.plantCells")))
      }
      println(f"q157 trained build at sf10 (nlist=${cents.size}%4d)        $tBuild%8.2f s")
      gate("q157 trained serve (sampled queries)",
        ExactIndex.topK(planted, sampPred, ExactIndex.load(spark, idx157), 4, 5,
          cacheKey = Some("sf10.plantCells")))
      val idx156 = java.nio.file.Files.createTempDirectory("graft-sf10-156").toString
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
      // this box before ENOSPC killed it. A deployment serves a
      // bounded query set, so the third-decade hybrid row is this one:
      // the 32-query sample on BOTH legs, dense served from the stored
      // trained index, sparse df-pruned, fused through the public
      // rrfFuse — and gated against the same fusion with the dense leg
      // replaced by the brute-force scan (any pruned-away dense
      // neighbor flips a fused row; the sparse leg and fusion code are
      // shared, so the gate isolates exactly the dense-pruning claim).
      locally {
        import operators.TextAnalysis
        // the FULL q160 composition — in-query train → store → trained
        // exact-pruned dense serve, df-pruned sparse leg, rrfFuse —
        // run through the PUBLIC full-form verb under the fixture's
        // fixed |Q| (r17 verdict #6: the full listed form, no longer
        // SKIP-adjudicated at the third decade; the quadratic was the
        // probe rule's |Q| ∝ n, not the operator)
        val (fusedServe, tHyb) = timed(rows(
          Similarity.hybridTopKExactPrunedTrainedOf(spark, dir, sampIds)))
        CacheRegistry.releaseAll()
        // reference: the same fixture legs with the dense serve
        // replaced by the brute-force scan (sparse leg and fusion code
        // shared, so the gate isolates exactly the dense-pruning claim)
        val docsZ = TextAnalysis.zipfDocsOf(
          Tables.documents(spark, dir).select(col("doc_id")))
        val probes = docsZ.filter(col("doc_id").isin(sampIds: _*))
          .select(col("doc_id").as("query_id"),
            explode(slice(split(col("text"), " "), 1, 8)).as("w"))
          .distinct()
        val sparse = TextAnalysis.bm25Of(docsZ, probes, excludeSelf = true,
            maxDfFrac = Some(TextAnalysis.ZipfMaxDfFrac))
          .select(col("query_id"), col("doc_id"), col("rank"))
        val denseBrute = Similarity.cosineTopKOf(planted, sampPred, 5)
          .select(col("q_id").as("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
        val fusedBrute = rows(Similarity.rrfFuse(Seq(denseBrute, sparse)))
        require(fusedServe == fusedBrute,
          s"fixed-|Q| full-form hybrid lost dense exactness through fusion " +
            s"(${fusedServe.size} vs ${fusedBrute.size} rows)")
        println(f"q160 fixed-|Q| FULL form (train+serve+fuse)   $tHyb%8.2f s  == brute-dense fusion (${fusedServe.size}%5d rows)")
        CacheRegistry.releaseAll()
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
      // query is minutes, so the warm+timed double-run convention
      // would double a long capture for noise reduction nobody needs
      // at this magnitude; progress prints per query.
      // q160 rides here too: its dense-leg exactness at sf10 is the
      // q157 serve gate above (same stored-lifecycle path, same
      // triangle bound), its sparse leg and fusion tail are q152's —
      // the timing row against q152 is the measured argument that the
      // trained dense leg removes the fixture-IVF leg's superlinear
      // second-decade term
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
        Console.out.println(s"[sf10] starting $name"); Console.out.flush()
        val fn = SparkEntry.queries(name)
        val (_, t) = timed(
          fn(spark, dir).write.format("noop").mode("overwrite").save())
        println(f"$name%-44s $t%8.2f s  (cold)")
        Console.out.flush()
        CacheRegistry.releaseAll()
      }
    }
    spark.stop()
  }
}
