package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Clustering, FpIndex, Pca}
import graft.operators.Clustering.CellModel

/** Clustering + PCA invariants (q124–q126): Lloyd mechanics
  * (coverage, monotone inertia, partition invariance), the SemDeDup
  * prune seam on planted duplicates, the stored-centroid serve
  * lifecycle, the Gram matrix's algebraic identities, and the PCA
  * ladder (orthonormality, eigval/trace identity, component
  * variances, reconstruction error) plus the Exchange-free
  * projection plan.
  */
class ClusteringSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  private def assignments(dir: String) = {
    CacheRegistry.releaseAll()
    Clustering.kmeansAssign(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._1)
  }

  test("kmeans: every vector assigned to a valid cluster with nonneg dist") {
    val rows = assignments(sf)
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.length == n, "one row per vector")
    assert(rows.map(_._1).distinct.length == n, "vec_ids unique")
    rows.foreach { case (id, cl, d) =>
      assert(cl >= 0 && cl < Clustering.K, s"cluster of $id in range")
      assert(d >= 0L, s"nonneg dist for $id")
    }
    assert(rows.map(_._2).distinct.length > 1, "more than one non-empty cluster")
  }

  test("kmeans: one quantized Lloyd update strictly reduces fixture inertia") {
    val v = Clustering.fixedPoint(spark, sf)
    val seeds = Clustering.trainCentroids(v, iters = 1)
    val trained = Clustering.trainCentroids(v, iters = 2)
    def inertia(c: Seq[Array[Long]]): Long =
      Clustering.assignWith(v, c).agg(sum(col("dist"))).collect()(0).getLong(0)
    val (i1, i2) = (inertia(seeds), inertia(trained))
    assert(i2 < i1, s"inertia must drop: seed=$i1 trained=$i2")
  }

  test("kmeans: partition-invariant (repartition(7) reproduces every row)") {
    val v = Clustering.fixedPoint(spark, sf)
    val base = Clustering.assignWith(v, Clustering.trainCentroids(v))
      .select("vec_id", "cluster", "dist").collect().map(_.toSeq).sortBy(_.toString)
    val v7 = v.repartition(7)
    val re = Clustering.assignWith(v7, Clustering.trainCentroids(v7))
      .select("vec_id", "cluster", "dist").collect().map(_.toSeq).sortBy(_.toString)
    assert(base.sameElements(re), "assignment independent of partitioning")
  }

  test("semdedup seam: planted duplicate pruned, its original kept") {
    import spark.implicits._
    val v = Clustering.fixedPoint(spark, sf)
    val cents = Clustering.trainCentroids(v)
    val asg = Clustering.assignWith(v, cents).select($"vec_id", $"x", $"cluster")
    // plant: vec 0's exact vector under a larger id → same cluster,
    // distance 0 → must be pruned; the original must stay kept
    val maxId = asg.agg(max($"vec_id")).collect()(0).getLong(0)
    val dup = asg.filter($"vec_id" === 0L)
      .select(lit(maxId + 1L).as("vec_id"), $"x", $"cluster")
    val verdicts = Clustering.semdedupPruneOf(asg.unionByName(dup)).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(verdicts(maxId + 1L)._1 >= 1L, "planted dup sees a smaller-id near-dup")
    assert(verdicts(maxId + 1L)._2 == 0, "planted dup pruned")
    assert(verdicts(0L)._2 == 1, "original kept")
    assert(verdicts.size == asg.count().toInt + 1, "verdict per vector")
  }

  test("semdedup hot-cell cap: mega-cell members flagged + kept, bounded cells " +
      "identical to the uncapped prune") {
    import spark.implicits._
    val v = Clustering.fixedPoint(spark, sf)
    val cents = Clustering.trainCentroids(v)
    val asg = Clustering.assignWith(v, cents).select($"vec_id", $"x", $"cluster")
    val sizes = asg.groupBy($"cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val biggest = sizes.maxBy(_._2)._1
    val cap = (sizes.values.max - 1).toInt // caps exactly the biggest cell
    require(sizes.values.count(_ > cap) == 1, "fixture must have a unique max cell")
    val out = Clustering.semdedupPruneCapped(asg, cap).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4))).toMap
    assert(out.size == asg.count().toInt, "verdict per vector, capped or not")
    // capped cell: every member kept, zero pairs, flag set
    out.filter(_._2._1 == biggest).values.foreach { case (_, n, kept, capped) =>
      assert(n == 0L && kept == 1 && capped == 1, "mega-cell member flagged + kept")
    }
    // bounded cells: byte-equal to the uncapped prune restricted to them
    val uncapped = Clustering.semdedupPruneOf(asg).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getInt(3))).toMap
    out.filter(_._2._1 != biggest).foreach { case (id, (cl, n, kept, capped)) =>
      assert(capped == 0)
      assert(uncapped(id) == ((cl, n, kept)), s"bounded-cell verdict of $id unchanged")
    }
    // degenerate cap (9n/8k floors to 0 on a tiny corpus): every cell
    // over cap — all rows kept + flagged, zero pairs, no exception;
    // matches the q134 oracle's relational reading of cap 0
    val all0 = Clustering.semdedupPruneCapped(asg, 0).collect()
      .map(r => (r.getLong(2), r.getInt(3), r.getInt(4)))
    assert(all0.length == asg.count().toInt, "cap 0: verdict per vector")
    all0.foreach { case (n, kept, capped) =>
      assert(n == 0L && kept == 1 && capped == 1, "cap 0 == everything capped")
    }
  }

  test("diversity sample: per-cluster quota, farthest-first, subset of assignment") {
    CacheRegistry.releaseAll()
    val asg = Clustering.kmeansAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val sample = Clustering.diversitySample(spark, sf).collect()
      .map(r => (r.getAs[Int]("cluster"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("dist")))
    assert(sample.nonEmpty)
    sample.groupBy(_._1).foreach { case (cl, rs) =>
      assert(rs.length <= Clustering.SampleM, s"quota in cluster $cl")
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to rs.length), s"dense ranks in $cl")
      // farthest-first: dist non-increasing with rank
      byRank.map(_._4).sliding(2).foreach(w =>
        if (w.length == 2) assert(w(0) >= w(1), s"dist ordering in $cl"))
      rs.foreach { case (c, _, id, d) =>
        assert(asg(id) == ((c, d)), s"sample row $id consistent with assignment") }
    }
    // every vector NOT sampled from a full cluster is nearer than the cut
    val cut = sample.groupBy(_._1).map { case (cl, rs) => cl -> rs.map(_._4).min }
    asg.foreach { case (id, (cl, d)) =>
      if (!sample.exists(_._3 == id) &&
          sample.count(_._1 == cl) == Clustering.SampleM)
        assert(d <= cut(cl), s"unsampled $id cannot beat the cluster cut")
    }
  }

  test("cluster profile: totals conserve, purity replays from assignment + labels") {
    CacheRegistry.releaseAll()
    val prof = Clustering.clusterProfile(spark, sf).collect()
      .map(r => r.getAs[Int]("cluster") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("inertia"),
         r.getAs[Int]("dom_label"), r.getAs[Long]("dom_n"), r.getAs[Long]("purity_bp")))
      .toMap
    val asg = Clustering.kmeansAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(prof.values.map(_._1).sum == asg.length, "members conserve")
    assert(prof.values.map(_._2).sum == asg.map(_._3).sum, "inertia conserves")
    prof.foreach { case (cl, (n, _, domL, domN, bp)) =>
      val members = asg.filter(_._2 == cl)
      assert(members.length == n.toInt)
      val byLab = members.groupBy(m => labels(m._1)).map { case (l, ms) => (l, ms.length) }
      val wantDom = byLab.toSeq.sortBy { case (l, c) => (-c, l) }.head
      assert((domL, domN.toInt) == wantDom, s"dominant label of $cl")
      assert(bp == 10000L * domN / n && bp > 0 && bp <= 10000, s"purity of $cl")
    }
  }

  /** The stored arrays of a cell model, form and shape included. */
  private def bitsOf(m: CellModel): Seq[Any] = m match {
    case CellModel.Flat(cents) => "flat" +: cents.map(_.toSeq)
    case t: CellModel.TwoLevel =>
      Seq("two-level", t.kf, t.k) ++ t.coarse.map(_.toSeq) ++ t.fines.map(_.map(_.toSeq))
  }

  /** Arrivals as the serve paths see them: (vec_id, x). */
  private def quantized(df: org.apache.spark.sql.DataFrame) =
    df.select(col("vec_id"), Clustering.quantize(col("embedding")).as("x"))

  /** Both model forms share one save, one loader and one serve verb:
   *  the stored arrays round-trip bit-exact, and a fresh session serves
   *  assignments equal to the in-session model, touching only the stored
   *  table + the arrival batch. */
  private def assertStoredRoundTrip(model: CellModel): Unit = {
    CacheRegistry.releaseAll()
    val form = model.productPrefix
    val root = java.nio.file.Files.createTempDirectory("graft-cent").toString
    model.save(spark, root)
    assert(bitsOf(Clustering.loadCentroids(spark, root)) == bitsOf(model), s"$form bits")
    val serve = spark.newSession()
    val arrivals = Tables.embeddings(serve, sf01).filter(col("vec_id") % 25 === 0)
    val served = Clustering.loadCentroids(serve, root).assign(quantized(arrivals))
      .select("vec_id", "cluster", "dist")
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"$form serve assignment must be map-only:\n$plan")
    val want = model.assign(
        Clustering.fixedPoint(spark, sf01).filter(col("vec_id") % 25 === 0))
      .select("vec_id", "cluster", "dist").collect().map(_.toSeq).sortBy(_.toString)
    val got = served.collect().map(_.toSeq).sortBy(_.toString)
    assert(got.sameElements(want), s"$form served == in-session")
  }

  test("stored centroids: bit-exact round-trip and fresh-session serve equality") {
    CacheRegistry.releaseAll()
    assertStoredRoundTrip(
      CellModel.Flat(Clustering.trainCentroids(Clustering.fixedPoint(spark, sf01))))
  }

  test("stored two-level model: bit-exact round-trip and fresh-session serve equality") {
    CacheRegistry.releaseAll()
    assertStoredRoundTrip(
      Clustering.trainHierarchical(Clustering.fixedPoint(spark, sf01), 16))
  }

  test("gram matrix: upper triangle only, Cauchy-Schwarz diag, exact spot cell") {
    CacheRegistry.releaseAll()
    val byIj = Clustering.gramMatrixDecimal(spark, sf).collect()
      .map(r => (r.getAs[Int]("i"), r.getAs[Int]("j")) ->
        (BigInt(r.getDecimal(r.fieldIndex("g")).toBigInteger),
         BigInt(r.getDecimal(r.fieldIndex("cov_num")).toBigInteger))).toMap
    val d = 64
    assert(byIj.size == d * (d + 1) / 2, "one cell per unordered dim pair")
    byIj.keys.foreach { case (i, j) => assert(i <= j, "upper triangle") }
    (0 until d).foreach { i =>
      assert(byIj((i, i))._1 >= 0, s"G($i,$i) >= 0")
      assert(byIj((i, i))._2 >= 0, s"cov_num($i,$i) >= 0 (Cauchy-Schwarz)")
    }
    // exact spot check of one off-diagonal cell against a local fold
    val vecs = Clustering.fixedPoint(spark, sf).select("x").collect()
      .map(_.getSeq[Long](0).toArray)
    val n = BigInt(vecs.length)
    def colSum(k: Int) = vecs.map(v => BigInt(v(k))).sum
    val g03 = vecs.map(v => BigInt(v(0)) * BigInt(v(3))).sum
    assert(byIj((0, 3))._1 == g03, "G(0,3) exact")
    assert(byIj((0, 3))._2 == n * g03 - colSum(0) * colSum(3), "cov_num(0,3) exact")
  }

  test("pca: orthonormal basis, eigvals desc + trace identity, variances match") {
    CacheRegistry.releaseAll()
    val m = Pca.fit(spark, sf01)
    val d = m.basis.head.length
    // descending, essentially nonnegative
    m.eigvals.sliding(2).foreach(w => assert(w(0) >= w(1) - 1e-12, "eigvals desc"))
    assert(m.eigvals.forall(_ >= -1e-9), "eigvals nonneg")
    // orthonormal rows
    for (a <- 0 until 8; b <- a until 8) {
      val dot = (0 until d).map(i => m.basis(a)(i) * m.basis(b)(i)).sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-8, s"orthonormality ($a,$b): $dot")
    }
    // trace identity: Σ eigvals == Σ per-dim variances (both from cov)
    val gm = Clustering.gramMatrixDecimal(spark, sf01).collect()
      .map(r => (r.getAs[Int]("i"), r.getAs[Int]("j")) -> r.getDecimal(r.fieldIndex("cov_num")))
      .toMap
    val n = m.n.toDouble
    val s2 = Clustering.Scale.toDouble * Clustering.Scale.toDouble
    val trace = (0 until d).map(i => gm((i, i)).doubleValue() / (n * (n - 1)) / s2).sum
    assert(math.abs(m.eigvals.sum - trace) < 1e-9 * math.abs(trace).max(1.0),
      s"trace ${trace} vs eigval sum ${m.eigvals.sum}")
    // empirical variance of projected component c ≈ eigval c
    val proj = Pca.project(Tables.embeddings(spark, sf01), m, 4).collect()
      .map(_.getSeq[Double](1).toArray)
    (0 until 4).foreach { c =>
      val xs = proj.map(_(c))
      val mean = xs.sum / xs.length
      val varc = xs.map(x => (x - mean) * (x - mean)).sum / (xs.length - 1)
      // fixed-point quantization + float input → loose relative band
      assert(math.abs(varc - m.eigvals(c)) < 0.02 * m.eigvals(c).max(1e-9),
        s"component $c variance $varc vs eigval ${m.eigvals(c)}")
    }
  }

  test("pca: reconstruction error falls with rank and matches residual eigvals") {
    CacheRegistry.releaseAll()
    val m = Pca.fit(spark, sf01)
    val emb = Tables.embeddings(spark, sf01)
    val mse = Seq(0, 2, 8, 16).map(r => r -> Pca.reconstructionMse(emb, m, r)).toMap
    assert(mse(2) < mse(0), "rank 2 beats rank 0")
    assert(mse(8) < mse(2), "rank 8 beats rank 2")
    assert(mse(16) < mse(8), "rank 16 beats rank 8")
    // analytic check: MSE at rank r ≈ ((n-1)/n)·Σ_{c>r} eigvals
    val n = m.n.toDouble
    val want8 = m.eigvals.drop(8).sum * (n - 1) / n
    assert(math.abs(mse(8) - want8) < 0.02 * want8.max(1e-12),
      s"rank-8 MSE ${mse(8)} vs residual eigval mass $want8")
    // projection plan is map-only
    val plan = Pca.project(emb, m, 8).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")
  }

  test("fixed-point kernels ≡ their HOF spec forms on the fixture (bit-exact)") {
    CacheRegistry.releaseAll()
    import graft.functions.FixedPointOps
    val emb = Tables.embeddings(spark, sf)
    // quantizer: kernel vs per-element floor lambda
    val qk = emb.select(col("vec_id"), Clustering.quantize(col("embedding")).as("x"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val qh = emb.select(col("vec_id"), Clustering.quantizeHof(col("embedding")).as("x"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(qk == qh, "QuantizeFixed ≡ transform(floor(double·scale))")
    // distance + argmin: kernel vs zip_with fold + array_min(transform)
    val v = Clustering.fixedPoint(spark, sf)
    val cents = Clustering.trainCentroids(v)
    val cc = typedLit(cents.map(_.toSeq))
    val hof = v.withColumn("asg",
        array_min(transform(cc, (cv, ci) =>
          struct(
            aggregate(zip_with(col("x"), cv, (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, p) => acc + p).as("dist"),
            ci.as("cid")))))
      .select(col("vec_id"), col("asg.cid"), col("asg.dist"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val kern = Clustering.assignWith(v, cents)
      .select(col("vec_id"), col("cluster"), col("dist"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(kern.sameElements(hof), "NearestOfL2 ≡ array_min(transform(struct))")
    // sqDistL2 on vector pairs vs the fold — both forms evaluated on
    // the SAME row (limit order is nondeterministic across collects)
    val pairs = v.select(col("vec_id"), col("x")).limit(50)
      .crossJoin(v.select(col("x").as("y")).limit(7))
      .select(
        FixedPointOps.sqDistL2(col("x"), col("y")).as("k"),
        aggregate(zip_with(col("x"), col("y"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, p) => acc + p).as("h"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r =>
      assert(r.getLong(0) == r.getLong(1), "SqDistL2 ≡ aggregate(zip_with)"))
    // upper-triangle products vs the nested transform-of-slices
    val tk = v.select(col("vec_id"), FixedPointOps.upperTriProducts(col("x")).as("u"))
      .select(col("vec_id"), explode(col("u")))
      .select(col("vec_id"), col("col.i"), col("col.j"), col("col.p"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val th = v.select(col("vec_id"), posexplode(expr(
        """flatten(transform(x, (xi, i) ->
          |  transform(slice(x, i + 1, size(x) - i),
          |    (xj, jj) -> named_struct('i', i, 'j', i + jj, 'p', xi * xj))))""".stripMargin)))
      .select(col("vec_id"), col("col.i"), col("col.j"), col("col.p"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(tk.sameElements(th), "UpperTriProducts ≡ nested transform-of-slices")
    // PCA projection: kernel vs the HOF ladder, bit-exact doubles
    val m = Pca.fit(spark, sf)
    val pk = Pca.project(emb, m, 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val ph = Pca.projectHof(emb, m, 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(pk == ph, "MatVecCentered ≡ transform/aggregate HOF ladder")
  }

  test("q126 surface: string columns are the decimal digits verbatim (hash-stable)") {
    CacheRegistry.releaseAll()
    val dec = Clustering.gramMatrixDecimal(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getDecimal(2).toBigInteger.toString, r.getDecimal(3).toBigInteger.toString))
      .toMap
    val str = Clustering.gramMatrix(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getString(2), r.getString(3)))
    assert(str.length == dec.size)
    str.foreach { case (ij, got) =>
      assert(got == dec(ij), s"cell $ij: string surface must equal exact digits")
    }
  }

  test("k knob: kForCorpus targets the cell size; k-threaded assign fans out") {
    assert(Clustering.kForCorpus(0) == 1, "empty corpus still yields one cell")
    assert(Clustering.kForCorpus(5, 1000) == 1, "tiny corpus: one cell")
    assert(Clustering.kForCorpus(1000000, 1000) == 1000, "k = n / cell")
    assert(Clustering.kForCorpus(100, 1) == 100, "k never exceeds n")
    CacheRegistry.releaseAll()
    val rows = Clustering.kmeansAssignK(spark, sf, 16).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.map(_._2).forall(c => c >= 0 && c < 16), "clusters in [0, k)")
    assert(rows.map(_._2).distinct.length > Clustering.K,
      "k=16 uses more cells than the oracle's k=8 — the pair join fans out")
    // and the k-threaded prune agrees with pruning the k-threaded assignment
    CacheRegistry.releaseAll()
    val viaK = Clustering.semdedupPruneK(spark, sf, 16).collect()
      .map(_.toSeq).sortBy(_.toString)
    CacheRegistry.releaseAll()
    val v = Clustering.fixedPoint(spark, sf)
    val want = Clustering.semdedupPruneOf(
        Clustering.assignWith(v, Clustering.trainCentroids(v, 16))
          .select(col("vec_id"), col("x"), col("cluster")))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(viaK.sameElements(want), "semdedupPruneK == prune of assignK")
  }

  test("two-level kmeans: assignment replays exactly from the model, covers every " +
      "vector, and refines the coarse partition") {
    CacheRegistry.releaseAll()
    val v = Clustering.fixedPoint(spark, sf)
    val m = Clustering.trainHierarchical(v, 16)
    val kc = m.coarse.length
    assert(kc == 4 && m.kf == 4, "k=16 -> 4 coarse x 4 fine")
    m.fines.foreach(f => assert(f.nonEmpty && f.length <= m.kf, "fine cells bounded"))
    val got = m.assign(v)
      .select("vec_id", "cluster", "dist").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val vecs = v.select("vec_id", "x").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(got.size == vecs.size, "every vector assigned")
    // full local replication: coarse argmin, then fine argmin within
    // the chosen coarse cell, ties to the smaller id at both levels
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    vecs.foreach { case (id, x) =>
      val ccl = m.coarse.zipWithIndex.map { case (cv, ci) => (d2(x, cv), ci) }.min._2
      val (fd, fcl) = m.fines(ccl).zipWithIndex.map { case (fv, fi) => (d2(x, fv), fi) }.min
      assert(got(id) == ((ccl * m.kf + fcl, fd)), s"replay of vec $id")
    }
    // the fine split genuinely refines: more distinct cells than coarse
    assert(got.values.map(_._1).toSet.size > kc, "fine level adds granularity")
    // and the blocking consumer takes the hierarchical frame unchanged
    val pruned = Clustering.semdedupPruneOf(
      m.assign(v).select(col("vec_id"), col("x"), col("cluster")))
    assert(pruned.count() == vecs.size, "verdict per vector")
  }

  test("q130 oracle precondition: every coarse cell non-empty at both driver sfs " +
      "(where the engine's empty-cell fallback and the CTE coincide)") {
    for (dir <- Seq(sf, sf01)) {
      CacheRegistry.releaseAll()
      val v = Clustering.fixedPoint(spark, dir)
      val kc = math.ceil(math.sqrt(Clustering.HierK.toDouble)).toInt
      val coarse = Clustering.trainCentroids(v, kc)
      val used = Clustering.assignWith(v, coarse)
        .select("cluster").distinct().collect().map(_.getInt(0)).toSet
      assert(used == (0 until kc).toSet,
        s"$dir: coarse cells $used must cover 0..${kc - 1} — the q130 CTE has no " +
          "empty-cell fallback (Clustering.hierAssign scaladoc)")
      // and q130's verdict frame is replay-consistent with the model path
      val viaQuery = Clustering.hierAssign(spark, dir).collect()
        .map(_.toSeq).sortBy(_.toString)
      val m = Clustering.trainHierarchical(v, Clustering.HierK)
      val viaModel = m.assign(v)
        .select("vec_id", "cluster", "dist").collect().map(_.toSeq).sortBy(_.toString)
      assert(viaQuery.sameElements(viaModel), s"$dir: q130 ≡ model-path assignment")
    }
  }

  test("cluster drift serving twin: stored assigned-corpus counts + stored-model " +
      "arrival assignment reproduce the batch q132 rows exactly") {
    CacheRegistry.releaseAll()
    val want = Clustering.clusterDrift(spark, sf).collect()
      .map(_.toSeq).sortBy(_.toString)
    // the serve path: counts from the stored assigned corpus, arrivals
    // assigned against the stored centroid model — model-sized math only
    val v = Clustering.fixedPoint(spark, sf)
    val cents = CellModel.Flat(Clustering.trainCentroids(v))
    val root = java.nio.file.Files.createTempDirectory("graft-drift").toString
    cents.save(spark, s"$root/cents")
    Clustering.saveAssignedCorpus(spark, s"$root/asg",
      Clustering.assignedCorpus(v, cents))
    val serve = spark.newSession()
    val base = Clustering.loadAssignedCorpus(serve, s"$root/asg")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_base"))
    val arrivals = Tables.embeddings(serve, sf)
      .filter(col("vec_id") % Clustering.DriftMod === Clustering.DriftRes)
    val fresh = Clustering.loadCentroids(serve, s"$root/cents").assign(quantized(arrivals))
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_new"))
    val got = Clustering.clusterDriftOf(base, fresh).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(got.sameElements(want), "served drift == batch q132")
  }

  test("embed funnel: stages strictly nested, input ppm exact, quota bound holds") {
    CacheRegistry.releaseAll()
    val rows = Clustering.embedCurationFunnel(spark, sf).collect()
      .map(r => r.getInt(0) ->
        (r.getString(1), r.getLong(2), BigInt(r.getString(3)), r.getLong(4), r.getLong(5)))
      .toMap
    assert(rows.keySet == Set(0, 1, 2))
    val (in, sd, dq) = (rows(0), rows(1), rows(2))
    assert(in._1 == "input" && sd._1 == "semdedup" && dq._1 == "diversity_quota")
    assert(in._4 == 1000000L && in._5 == 1000000L, "input retention is exactly 1e6 ppm")
    assert(in._2 >= sd._2 && sd._2 >= dq._2, "vector counts nest")
    assert(in._3 >= sd._3 && sd._3 >= dq._3, "inertia nests")
    assert(dq._2 <= Clustering.K.toLong * Clustering.SampleM, "quota bound")
    // survivors replay: stage-1 count equals the q125 kept count
    val kept = Clustering.semdedupPrune(spark, sf)
      .filter(col("kept") === 1).count()
    assert(sd._2 == kept, "semdedup stage == q125 kept verdicts")
  }

  test("k-means|| seeding: deterministic, partition-invariant, and the trained " +
      "inertia is at or below the id-seeded init's on the fixture") {
    CacheRegistry.releaseAll()
    val v = Clustering.fixedPoint(spark, sf01)
    val s1 = Clustering.seedsKmeansParallel(v, 8)
    assert(s1.length == 8, "reduces to exactly k seeds")
    // Knuth-hash derandomization: same seeds from any partitioning
    val s2 = Clustering.seedsKmeansParallel(v.repartition(7), 8)
    assert(s1.map(_.toSeq) == s2.map(_.toSeq), "partition-invariant seeding")
    // same Lloyd structure, better start: inertia after the same
    // number of rounds must not lose to the geometry-blind id init
    def inertia(c: Seq[Array[Long]]): Long =
      Clustering.assignWith(v, c).agg(sum(col("dist"))).collect()(0).getLong(0)
    val iKpp = inertia(Clustering.trainCentroidsSeeded(v, s1))
    val iId = inertia(Clustering.trainCentroids(v))
    assert(iKpp <= iId,
      s"k-means|| init must not lose to id seeding: kpp=$iKpp id=$iId")
    // and trainCentroidsSeeded with the id seeds IS trainCentroids —
    // the init seam cannot drift from the oracle path
    val idSeeds = v.orderBy(col("vec_id")).limit(8)
      .select(col("x")).collect().map(_.getSeq[Long](0).toArray).toSeq
    val a = Clustering.trainCentroidsSeeded(v, idSeeds)
    val b = Clustering.trainCentroids(v)
    a.zip(b).foreach { case (x, y) => assert(x.sameElements(y), "seam ≡ oracle init") }
  }

  test("fine model as data: frames-trained ≡ literal-trained, joined assignment " +
      "bit-exact vs the literal path, threshold dispatch agrees") {
    CacheRegistry.releaseAll()
    val v = Clustering.fixedPoint(spark, sf)
    val lit = Clustering.trainHierarchical(v, 16)
    val frames = Clustering.trainHierarchicalFrames(v, 16)
    assert(frames.kf == lit.kf && frames.k == 16)
    assert(frames.coarse.length == lit.coarse.length)
    frames.coarse.zip(lit.coarse).foreach { case (a, b) =>
      assert(a.sameElements(b), "coarse bits") }
    // the fine FRAME holds exactly the literal model's centroids
    val fineRows = frames.fine.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2).toArray).toMap
    val want = lit.fines.indices.flatMap(c =>
      lit.fines(c).indices.map(f => (c, f) -> lit.fines(c)(f))).toMap
    assert(fineRows.keySet == want.keySet, "same fine cells")
    want.foreach { case (k, w) =>
      assert(fineRows(k).sameElements(w), s"fine cell $k bits") }
    // joined assignment ≡ literal assignment, three ways: the frames
    // model, the literal-trained model's fine frame, and the model's
    // own dispatch (collects back to literal at this k)
    val viaLit = Clustering.assignHierarchical(v, lit)
      .select("vec_id", "cluster", "dist").collect().map(_.toSeq).sortBy(_.toString)
    def joined(m: CellModel.TwoLevel) =
      Clustering.assignHierarchicalJoined(v, m)
        .select("vec_id", "cluster", "dist").collect().map(_.toSeq).sortBy(_.toString)
    assert(joined(frames).sameElements(viaLit), "frames-trained joined ≡ literal")
    assert(joined(lit).sameElements(viaLit), "literal-trained fine frame ≡ literal")
    val viaAuto = frames.assign(v)
      .select("vec_id", "cluster", "dist").collect().map(_.toSeq).sortBy(_.toString)
    assert(viaAuto.sameElements(viaLit), "dispatch ≡ literal")
    // the carried columns survive the joined argmin untouched
    val cols = Clustering.assignHierarchicalJoined(v, frames).columns.toSeq
    assert(cols == v.columns.toSeq ++ Seq("cluster", "dist"), s"schema: $cols")
  }

  test("multi-probe: literal ≡ joined bit-exact; dist ≤ greedy everywhere; " +
      "improved ⟺ strictly smaller than greedy; planted boundary vector recovered") {
    CacheRegistry.releaseAll()
    val v = Clustering.fixedPoint(spark, sf01)
    val m = Clustering.trainHierarchical(v, 16)
    val mp = Clustering.multiProbeAssign(v, m)
      .select("vec_id", "cluster", "dist", "improved").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getInt(3)))).toMap
    // joined twin bit-exact on the same model
    val mpJ = Clustering.multiProbeAssignJoined(v, m)
      .select("vec_id", "cluster", "dist", "improved").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getInt(3)))).toMap
    assert(mp == mpJ, "joined multi-probe ≡ literal multi-probe")
    val mpD = m.improved(v)
      .select("vec_id", "cluster", "dist", "improved").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getInt(3)))).toMap
    assert(mp == mpD, "threshold dispatch ≡ literal multi-probe")
    // the frame-model PROBE-CELLS path (the gate's foreachBatch form)
    // produces the same (vec_id, probe, cluster) rows as the literal
    val pcLit = Clustering.multiProbeCells(v.select(col("vec_id"), col("x")), m)
      .select("vec_id", "probe", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val pcJ = Clustering.multiProbeCellsJoined(v.select(col("vec_id"), col("x")), m)
      .select("vec_id", "probe", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(pcLit == pcJ, "joined probe cells ≡ literal probe cells")
    val pcD = m.probeCells(v.select(col("vec_id"), col("x")), 2)
      .select("vec_id", "probe", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(pcLit == pcD, "the model's nprobe-2 probe cells ≡ literal probe cells")
    // vs the greedy (nprobe=1) assignment: never worse, improved is
    // exactly the strict wins, and non-improved rows keep the greedy
    // distance (cluster may differ only on a cross-cell distance tie)
    val greedy = m.assign(v)
      .select("vec_id", "cluster", "dist").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    assert(mp.keySet == greedy.keySet)
    var improved = 0
    mp.foreach { case (id, (cl, d, imp)) =>
      val (gcl, gd) = greedy(id)
      assert(d <= gd, s"vec $id: multi-probe $d worse than greedy $gd")
      assert((imp == 1) == (d < gd), s"vec $id: improved flag vs distances")
      if (imp == 0) assert(d == gd, s"vec $id: non-improved keeps greedy dist")
      if (imp == 0 && cl != gcl)
        assert(d == gd && cl < gcl, s"vec $id: cluster swap needs a tie won by id")
      improved += imp
    }
    assert(improved > 0, "fixture exercises the boundary-recovery branch")
    // planted boundary geometry: x is coarse-closest to cell 0 but its
    // true nearest fine centroid lives in cell 1 — nprobe=1 misses it,
    // nprobe=2 recovers the exact flat argmin
    import spark.implicits._
    val pm = Clustering.literalTwoLevel(spark,
      coarse = Seq(Array(0L, 0L), Array(100L, 0L)),
      fines = Seq(Seq(Array(0L, 0L), Array(40L, 0L)),
                  Seq(Array(45L, 0L), Array(150L, 0L))),
      kf = 2, k = 4)
    val pv = Seq((1L, Seq(44L, 0L))).toDF("vec_id", "x")
    val got = pm.improved(pv)
      .select("vec_id", "cluster", "dist", "improved").collect().head
    assert(got.getInt(1) == 2 && got.getLong(2) == 1L && got.getInt(3) == 1,
      s"planted boundary vector: $got")
    val flat = Clustering.assignWith(pv, pm.fines.flatten)
      .select("cluster").collect().head.getInt(0)
    assert(got.getInt(1) == flat, "multi-probe recovers the flat argmin here")
  }

  test("probe recall audit: tdist <= pdist <= gdist per row, aggregate matches " +
      "per-row recomputation, mp hits >= greedy hits") {
    CacheRegistry.releaseAll()
    val v = Clustering.fixedPoint(spark, sf01)
    val m = Clustering.trainHierarchical(v, 16)
    val t = Clustering.assignWith(v.select(col("vec_id"), col("x")), m.fines.flatten)
      .select(col("vec_id"), col("dist").as("tdist"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val g = m.assign(v)
      .select(col("vec_id"), col("dist")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p = m.improved(v)
      .select(col("vec_id"), col("dist")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    t.keySet.foreach { id =>
      assert(t(id) <= p(id) && p(id) <= g(id),
        s"vec $id: exact ${t(id)} <= nprobe2 ${p(id)} <= greedy ${g(id)}")
    }
    val row = Clustering.hierProbeRecall(spark, sf01).collect().head
    val n = t.size.toLong
    val gh = t.keySet.count(id => g(id) == t(id)).toLong
    val ph = t.keySet.count(id => p(id) == t(id)).toLong
    assert(row.getLong(0) == n && row.getLong(1) == gh && row.getLong(2) == ph,
      s"aggregate row $row vs recomputed ($n, $gh, $ph)")
    assert(row.getLong(3) == (1000000L * (n - gh)) / n)
    assert(row.getLong(4) == (1000000L * (n - ph)) / n)
    assert(ph >= gh, "the second probe can only add hits")
    CacheRegistry.releaseAll()
  }

  test("nprobe ladder interpolates greedy -> exact: N=1 ≡ hierarchical greedy, " +
      "N=2 ≡ the kernel multi-probe, N=kc ≡ the exact flat argmin; dist monotone in N") {
    CacheRegistry.releaseAll()
    val v = Clustering.fixedPoint(spark, sf01)
    val m = Clustering.trainHierarchical(v, 16)
    val kc = m.coarse.size
    def distsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Int, Long)] =
      df.select("vec_id", "cluster", "dist").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val n1 = distsOf(Clustering.multiProbeAssignN(v, m, 1))
    val greedy = distsOf(m.assign(v))
    assert(n1 == greedy, "nprobe=1 ≡ greedy coarse-then-fine")
    val n2 = distsOf(Clustering.multiProbeAssignN(v, m, 2))
    val kern = distsOf(m.improved(v)
      .select(col("vec_id"), col("cluster"), col("dist")))
    assert(n2 == kern, "nprobe=2 ≡ the top-2 kernel path")
    val nAll = distsOf(Clustering.multiProbeAssignN(v, m, kc))
    val flat = Clustering.assignWith(v.select(col("vec_id"), col("x")), m.fines.flatten)
      .select("vec_id", "dist").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    nAll.foreach { case (id, (_, d)) =>
      assert(d == flat(id), s"vec $id: probing every cell must be the exact argmin")
    }
    // monotone: more probes can only shrink the distance
    (1 to kc).map(np => distsOf(Clustering.multiProbeAssignN(v, m, np)))
      .sliding(2).foreach { case Seq(a, b) =>
        a.keySet.foreach(id => assert(b(id)._2 <= a(id)._2, s"monotone at $id"))
      }
    CacheRegistry.releaseAll()
  }

  test("boundary pairs: result == the brute-force under-threshold pairs whose " +
      "partner sits in the probe-2 cell; disjoint from within-cell blocking; nonempty") {
    CacheRegistry.releaseAll()
    val v = Clustering.fixedPoint(spark, sf01)
    val m = Clustering.trainHierarchical(v, 16)
    val cells = m.assign(v)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val p2 = m.probeCells(v.select(col("vec_id"), col("x")), 2)
      .filter(col("probe") === 2).select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val xs = v.select("vec_id", "x").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val want = (for {
      a <- xs.keys; b <- xs.keys
      if b != a && cells(b) == p2(a) && d2(xs(a), xs(b)) < Clustering.PruneT
    } yield (a, b, d2(xs(a), xs(b)))).toSet
    val got = Clustering.hierBoundaryPairs(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"boundary pairs: got ${got.size}, want ${want.size}")
    assert(got.nonEmpty, "fixture must exercise the cross-boundary branch")
    // strictly additive to the within-cell prune: no pair here shares a cell
    got.foreach { case (a, b, _) =>
      assert(cells(a) != cells(b), s"pair ($a,$b) is within-cell — blocking covers it")
    }
    CacheRegistry.releaseAll()
  }

  test("semantic dedup groups: a boundary-straddling A~B~C chain collapses into " +
      "ONE group (within-cell-only blocking would split it); fixture groups are " +
      "edge-consistent with the q125 candidate mass + q138 boundary pairs") {
    CacheRegistry.releaseAll()
    import spark.implicits._
    // planted chain at pruneT=300: A=(40,0) and B=(48,0) share cell 1
    // (d=64); C=(60,0) lives in cell 2 with B~C d=144 found ONLY via
    // B's probe-2 cell; A~C d=400 is NOT an edge — the group exists
    // through transitivity alone
    val pm = Clustering.literalTwoLevel(spark,
      coarse = Seq(Array(0L, 0L), Array(100L, 0L)),
      fines = Seq(Seq(Array(0L, 0L), Array(40L, 0L)),
                  Seq(Array(45L, 0L), Array(150L, 0L))),
      kf = 2, k = 4)
    val pv = Seq((1L, Seq(40L, 0L)), (2L, Seq(48L, 0L)), (3L, Seq(60L, 0L)),
      (4L, Seq(150L, 0L))).toDF("vec_id", "x")
    val asg = pm.assign(pv)
      .select(col("vec_id"), col("x"), col("cluster"))
    val p2 = pm.probeCells(pv, 2).filter(col("probe") === 2)
    val groups = Clustering.semanticDedupGroupsOf(asg, p2, pruneT = 300L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L)),
      s"chain must collapse to one rep-1 group of 3; vec 4 unclustered: $groups")
    // fixture-level edge consistency: both endpoints of every
    // within-cell AND boundary pair land in the same group
    CacheRegistry.releaseAll()
    val grp = Clustering.semanticDedupGroups(spark, sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bp = Clustering.hierBoundaryPairs(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    bp.foreach { case (a, b) =>
      assert(grp.get(a) == grp.get(b) && grp.contains(a),
        s"boundary pair ($a,$b) must share a group")
    }
    assert(grp.nonEmpty && bp.nonEmpty)
    CacheRegistry.releaseAll()
  }

  test("semantic survivors: one row per q139 group; survivor is the max-dist " +
      "member (ties to smaller id, the q127 diversity rule); dropped = gsize-1", Slow) {
    CacheRegistry.releaseAll()
    val groups = Clustering.semanticDedupGroups(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    CacheRegistry.releaseAll()
    val v = Clustering.fixedPoint(spark, sf01)
    val dists = Clustering.trainHierarchical(v, 16).assign(v)
      .select("vec_id", "dist").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheRegistry.releaseAll()
    val surv = Clustering.semanticSurvivors(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byRep = groups.groupBy(_._2)
    assert(surv.map(_._1).toSet == byRep.keySet, "one survivor row per group")
    surv.foreach { case (rep, gsize, sid, sdist, dropped) =>
      val members = byRep(rep).map(_._1)
      assert(gsize == members.size.toLong && dropped == gsize - 1)
      val want = members.map(id => (-dists(id), id)).min._2
      assert(sid == want && sdist == dists(sid),
        s"group $rep: survivor $sid vs expected $want")
    }
    CacheRegistry.releaseAll()
  }

  test("hier drift (q141): totals cover the corpus and the batch slice; ppm " +
      "arithmetic matches a per-cell recomputation; shares the q132 seam") {
    CacheRegistry.releaseAll()
    val rows = Clustering.clusterDriftHier(spark, sf01).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val n = Clustering.fixedPoint(spark, sf01).count()
    val tBase = rows.map(_._2).sum
    val tNew = rows.map(_._3).sum
    assert(tBase == n, "baseline counts cover the corpus")
    assert(tNew == Clustering.fixedPoint(spark, sf01)
      .filter(col("vec_id") % Clustering.DriftMod === Clustering.DriftRes).count(),
      "batch counts cover the arriving slice")
    rows.foreach { case (_, nb, nn, bppm, nppm, dppm) =>
      assert(bppm == 1000000L * nb / tBase)
      assert(nppm == (if (tNew == 0) 0L else 1000000L * nn / tNew))
      assert(dppm == math.abs(nppm - bppm))
    }
    CacheRegistry.releaseAll()
  }

  test("stored frame model: distributed save/load round-trip, fresh-session joined " +
      "serve ≡ literal serve, cross-path interop both directions") {
    CacheRegistry.releaseAll()
    val v = Clustering.fixedPoint(spark, sf01)
    val frames = Clustering.trainHierarchicalFrames(v, 16)
    val root = java.nio.file.Files.createTempDirectory("graft-hierdf").toString
    frames.save(spark, s"$root/m")
    val serve = spark.newSession()
    val arrivals = quantized(
      Tables.embeddings(serve, sf01).filter(col("vec_id") % 25 === 0))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cluster", "dist").collect().map(_.toSeq).sortBy(_.toString)
    def loaded(path: String) =
      Clustering.loadCentroids(serve, path).asInstanceOf[CellModel.TwoLevel]
    val back = loaded(s"$root/m")
    assert(back.k == 16 && back.kf == frames.kf, "meta row round-trip")
    val got = rows(Clustering.assignHierarchicalJoined(arrivals, back))
    // the same stored model served through the literal kernel (its own
    // dispatch at this k): same verdicts
    assert(got.sameElements(rows(back.assign(arrivals))),
      "joined serve ≡ literal serve on the frame save")
    // and a literal-trained model's save serves through the joined path
    val lit = Clustering.trainHierarchical(v, 16)
    lit.save(spark, s"$root/lit")
    val litBack = loaded(s"$root/lit")
    assert(litBack.kf == lit.kf && litBack.k == 16)
    litBack.coarse.zip(lit.coarse).foreach { case (a, b) =>
      assert(a.sameElements(b), "coarse bits via the frames loader") }
    val wantModel = rows(lit.assign(
      Clustering.fixedPoint(spark, sf01).filter(col("vec_id") % 25 === 0)))
    assert(rows(Clustering.assignHierarchicalJoined(arrivals, litBack))
      .sameElements(wantModel), "literal save served via joined path")
    // a model stored before the meta row carried k (pos 0) is refused
    // with the rebuild instruction, as textStaleness refuses a root
    // without text_meta
    import spark.implicits._
    val legacy =
      Seq((0, 0, 0, 0, lit.kf.toLong)) ++
      lit.coarse.indices.flatMap(c =>
        lit.coarse(c).indices.map(p => (1, c, 0, p, lit.coarse(c)(p)))) ++
      lit.fines.indices.flatMap(c =>
        lit.fines(c).indices.flatMap(f =>
          lit.fines(c)(f).indices.map(p => (2, c, f, p, lit.fines(c)(f)(p)))))
    FpIndex.saveOrRebuildFlat(spark, s"$root/legacy",
      legacy.toDF("kind", "ccl", "fcl", "pos", "v").repartition(1))
    val e = intercept[IllegalArgumentException](loaded(s"$root/legacy"))
    assert(e.getMessage.contains("predates its stored k") &&
      e.getMessage.contains("re-run IndexBuild.buildAll"), e.getMessage)
  }

  test("stored pca model: bit-exact round-trip and fresh-session served projection") {
    CacheRegistry.releaseAll()
    val root = java.nio.file.Files.createTempDirectory("graft-pca").toString
    val m = Pca.fit(spark, sf01)
    Pca.saveModel(spark, root, m)
    val back = Pca.loadModel(spark, root)
    assert(back.n == m.n)
    assert(back.means.sameElements(m.means), "means bits")
    assert(back.eigvals.sameElements(m.eigvals), "eigval bits")
    assert(back.basis.length == m.basis.length)
    back.basis.zip(m.basis).foreach { case (a, b) =>
      assert(a.sameElements(b), "basis bits") }
    // a fresh session serves projections byte-equal to the in-session
    // model, touching only the stored table + the arrival batch
    val serve = spark.newSession()
    val arrivals = Tables.embeddings(serve, sf01).filter(col("vec_id") % 25 === 0)
    val served = Pca.projectStored(serve, root, arrivals, 8)
    val want = Pca.project(
        Tables.embeddings(spark, sf01).filter(col("vec_id") % 25 === 0), m, 8)
      .collect().map(_.toSeq).sortBy(_.toString)
    val got = served.collect().map(_.toSeq).sortBy(_.toString)
    assert(got.sameElements(want), "served projection == in-session")
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"served projection must be map-only:\n$plan")
  }

  test("pca->ivf: recall rises with rank; full-rank rotation EQUALS original-space IVF") {
    CacheRegistry.releaseAll()
    val m = Pca.fit(spark, sf01)
    val rec = Pca.pcaIvfRecall(spark, sf01, m, Seq(4, 16, 64)).collect()
      .map(r => r.getAs[Int]("r") -> r.getAs[Long]("recall_ppm")).toMap
    assert(rec(4) <= rec(16) && rec(16) <= rec(64),
      s"recall ladder must rise with rank: $rec")
    assert(rec.values.forall(p => p >= 0L && p <= 1000000L), "ppm in range")
    // the lossless-rotation claim, measured: at r = d the rotated
    // index reproduces the ORIGINAL-space IVF tier's recall exactly
    // (orthogonal rotation preserves dot products and norms; same
    // quantizer rows, same probes, same candidates)
    val ivfPpm = operators.Similarity.recallAudit(spark, sf01).collect()
      .find(_.getString(0) == "ivf").get.getAs[Long]("recall_ppm")
    assert(rec(64) == ivfPpm,
      s"full-rank rotated recall ${rec(64)} must equal original IVF $ivfPpm")
  }
}
