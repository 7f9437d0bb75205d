package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps

/** The exact-pruned retrieval index (q155-q165): guaranteed-exact top-k
  * under triangle-inequality cell pruning, as ONE reference-point
  * structure — a quantizer, a per-cell radius table and, optionally, a
  * second level of cell groups with their own radii (the partition-
  * plus-bound shape of REPOSE and of the distributed top-k similarity
  * joins in PAPERS.md). Every form of the family is a composition of
  * these verbs:
  *
  *  - [[train]]: the √n Lloyd-trained production quantizer (or pass any
  *    centroid set, e.g. the id-filter oracle contract);
  *  - [[fit]]: the in-session model — the quantizer and the two-level
  *    grouping are parameters, not separate builds;
  *  - [[save]] / [[load]]: the stored artifacts (exact double round-trip,
  *    so served bounds are bit-identical to in-session ones);
  *  - [[admit]]: an arrival batch's radii delta-admitted into every level
  *    the stored index carries;
  *  - [[topK]]: the one serve path, optionally candidate-filtered;
  *  - [[candidates]]: per-query accounting of what the bounds kept.
  *
  * The bound, for unit vectors: cos(q, x) = 1 − ‖q̃−x̃‖²/2 and
  * ‖q̃−x̃‖ ≥ ‖q̃−c̃‖ − R_c, so ub(q, c) = 1 − max(0, ‖q̃−c̃‖ − R_c)²/2
  * upper-bounds every member's similarity. A seed scan over each
  * query's nearest cells yields an ACHIEVED k-th similarity lb; a cell
  * (or a whole group, with R_g = max over member cells of ‖c̃−g̃‖ + R_c)
  * whose ub < lb cannot hold a top-k row and is dropped losslessly.
  * Exactness holds for ANY corpus geometry and ANY centroid set —
  * geometry and quantizer only decide how much the bound cuts. */
object ExactIndex {

  type Centroid = (Long, Array[Double], Double)

  /** A fitted or loaded index: the quantizer, the per-cell radius table
    * (cell, rc2) — rc2 the chord² radius max ‖x̃ − c̃‖² over members —
    * and, for a two-level index, the group level. All model-sized. */
  final case class Model(cents: Seq[Centroid], radii: DataFrame, groups: Option[Groups])

  /** The group level, driver-side: the cell radii it was folded from,
    * each cell's leader and unit-chord distance to it (cell → (g_id,
    * dcg)), and each leader's composed radius² (g_id → rg2). */
  final case class Groups(rc2: Map[Long, Double], cellOf: Map[Long, (Long, Double)],
      rg2: Map[Long, Double])

  /** Lloyd iterations for [[train]] — enough for the centers to settle
    * into the planted clusters; exactness never depends on it. */
  private val LloydIters = 3

  /** Floating-safety margin added to every pruning upper bound. The
    * bound chain's DOUBLE evaluation accumulates ≤ ~1e-14 absolute on
    * values in [0, 2] (exact integer dots on the planted corpus, two
    * correctly rounded sqrts, the gap/square/divide tail); 1e-9
    * dominates that by five orders of magnitude while costing pruning
    * nothing (planted inter-cluster gaps are ~0.5 in cosine), so a bound
    * never rounds BELOW a true similarity. */
  private val BoundEps = 1e-9

  /** The production quantizer: nlist ≈ √n seeds on a deterministic id
    * stride, then [[Similarity.refineCentroids]] (Lloyd). Seeds are the
    * ids with `vec_id % stride = 0`; ids need not be dense from 0, so
    * the smallest id's residue class is collected in the same pass and
    * seeds the quantizer whenever residue 0 matches no row — a non-empty
    * corpus always trains. The count and the smallest id come from one
    * aggregate. The trained centroids are not deterministic across runs
    * (float mean accumulation follows Spark's merge order) and need not
    * be: results are exact for any centroid set. */
  def train(corpus: DataFrame, iters: Int = LloydIters): Seq[Centroid] = {
    val stats = corpus.agg(count(lit(1)), min(col("vec_id"))).head()
    val n = stats.getLong(0)
    require(n > 0, "cannot train a quantizer on an empty corpus")
    val nlist = math.max(4L, math.round(math.sqrt(n.toDouble)))
    val stride = math.max(1L, n / nlist)
    val minResidue = stats.getLong(1) % stride
    val seeds = Similarity.collectCentroids(corpus,
      col("vec_id") % stride === 0L || col("vec_id") % stride === minResidue)
    val onZero = seeds.filter(_._1 % stride == 0)
    Similarity.refineCentroids(corpus, if (onZero.nonEmpty) onZero else seeds, iters)
  }

  /** The in-session model over `corpus` (vec_id, e[double], nrm) for
    * the centroid set `cents`. One-level (the default): the radius table
    * stays a lazy aggregate over the (optionally cached) assignment.
    * `groupEvery = Some(g)`: every g-th centroid leads a group; the
    * radii are collected (quantizer-sized) so the group level folds on
    * the driver with no second corpus pass. */
  def fit(corpus: DataFrame, cents: Seq[Centroid], groupEvery: Option[Int] = None,
      cacheKey: Option[String] = None): Model = {
    val radii = radiiOf(assign(corpus, cents, cacheKey), cents)
    groupEvery.fold(Model(cents, radii, None)) { every =>
      val rc2 = statMap(radii)
      val cellOf = leadersOf(cents, every)
      twoLevel(corpus.sparkSession, cents, Groups(rc2, cellOf,
        groupRadii(cellOf, cents.map(c => c._1 -> rc2.getOrElse(c._1, 0.0)))))
    }
  }

  /** Persist a model under `path`: quantizer and per-cell radii, plus
    * the cell→group table and group radii for a two-level model. Each
    * table takes the initial save on a fresh path and an atomic
    * generation rebuild on a live one, so a nightly rebuild runs in
    * place and pinned readers keep their snapshot. */
  def save(spark: SparkSession, path: String, model: Model): Unit = {
    import spark.implicits._
    AnnIndex.saveOrRebuildQuantizer(spark, s"$path/quantizer", model.cents)
    FpIndex.saveOrRebuildFlat(spark, s"$path/radii", model.radii)
    model.groups.foreach { g =>
      FpIndex.saveOrRebuildFlat(spark, s"$path/groups", g.cellOf.toSeq
        .map { case (cell, (gid, dcg)) => (cell, gid, dcg) }.sortBy(_._1)
        .toDF("cell", "g_id", "dcg"))
      FpIndex.saveOrRebuildFlat(spark, s"$path/gradii",
        g.rg2.toSeq.sortBy(_._1).toDF("g_id", "rg2"))
    }
  }

  /** Load a stored model. Radii are loaded MAX-MERGED over every visible
    * commit ([[AnnIndex.loadStats]]), so a corpus that has grown since
    * the build serves exactly provided each arrival batch went through
    * [[admit]]. A path with a group table loads as a two-level model. */
  def load(spark: SparkSession, path: String): Model = {
    val cents = AnnIndex.loadQuantizer(spark, s"$path/quantizer")
    val radii = AnnIndex.loadStats(spark, s"$path/radii", "cell", "rc2")
    if (FpIndex.tableVersion(s"$path/groups") == 0) Model(cents, radii, None)
    else twoLevel(spark, cents, Groups(statMap(radii), groupTable(spark, path),
      statMap(AnnIndex.loadStats(spark, s"$path/gradii", "g_id", "rg2"))))
  }

  /** Admit an arrival batch (vec_id, e[double], nrm) into the stored
    * index at `path`: assign it with the stored quantizer and delta-
    * append its per-cell radii and, when the index has a group level,
    * its composed group radii — O(batch) work, no base-corpus read.
    * Radii are max-mergeable (each commit upper-bounds its own members),
    * so this keeps the served tier EXACT as the corpus grows: an arrival
    * farther from its centroid than any build-time member would
    * otherwise leave a stale radius under-bounding its cell or group,
    * and a serve could prune a true neighbour (AnnIndexSpec plants that
    * miss). Returns the cell-assigned arrivals for the caller's corpus
    * append. */
  def admit(spark: SparkSession, path: String, arrivals: DataFrame): DataFrame = {
    import spark.implicits._
    val cents = AnnIndex.loadQuantizer(spark, s"$path/quantizer")
    val asg = assign(arrivals, cents, None)
    // one pass over the batch; the (cell, rc2) rows are quantizer-bounded
    val batch = statMap(radiiOf(asg, cents))
    FpIndex.deltaAppendFlat(spark, s"$path/radii", batch.toSeq.toDF("cell", "rc2"))
    if (FpIndex.tableVersion(s"$path/groups") > 0)
      FpIndex.deltaAppendFlat(spark, s"$path/gradii",
        groupRadii(groupTable(spark, path), batch).toSeq.toDF("g_id", "rg2"))
    asg
  }

  /** Exact top-k for the queries `corpus.filter(queryPred)` over the
    * model: (q_id, rank, neighbor_id, sim), identical to the brute-force
    * scan. `candFilter` restricts the CANDIDATE set (seed lower bound
    * and rerank alike) on top of the cached assignment; the radii stay
    * the unfiltered ones — a superset radius only loosens the bound —
    * and the seed lb is an achieved k-th FILTERED similarity (fewer than
    * k filtered seed rows → lb = −2, every cell kept), so the result is
    * the exact filtered top-k whenever k filtered candidates exist and
    * the whole filtered corpus otherwise. */
  def topK(
      corpus: DataFrame,
      queryPred: org.apache.spark.sql.Column,
      model: Model,
      seedNprobe: Int,
      k: Int,
      candFilter: DataFrame => DataFrame = identity,
      cacheKey: Option[String] = None): DataFrame = {
    val (cands, bounds) = boundsOf(corpus, queryPred, model, seedNprobe, k, candFilter, cacheKey)
    Similarity.ivfRank(cands, kept(bounds), k)
  }

  /** Per-query accounting of [[topK]]'s pruning: (q_id, n_groups_kept,
    * n_cell_bounds, n_candidates) — groups surviving level 1 (0 for a
    * one-level index), per-cell bounds evaluated, and candidates in kept
    * cells (to compare with the corpus size the brute scan pays). */
  def candidates(
      corpus: DataFrame,
      queryPred: org.apache.spark.sql.Column,
      model: Model,
      seedNprobe: Int,
      k: Int,
      candFilter: DataFrame => DataFrame = identity,
      cacheKey: Option[String] = None): DataFrame = {
    val (cands, bounds) = boundsOf(corpus, queryPred, model, seedNprobe, k, candFilter, cacheKey)
    val perCand = cands
      .join(broadcast(kept(bounds).select(col("q_id"), col("probe"))),
        col("cell") === col("probe") && col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_candidates"))
    bounds.groupBy(col("q_id"))
      .agg(countDistinct(col("g_id")).as("n_groups_kept"), count(lit(1)).as("n_cell_bounds"))
      .join(perCand, Seq("q_id"), "left")
      .select(col("q_id"), col("n_groups_kept"), col("n_cell_bounds"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
  }

  // ------------------------------------------------------------ plan core

  /** The shared plan of [[topK]] and [[candidates]]: (filtered
    * candidates, one bound row per (query, cell under a surviving
    * group) with `lbc` — the query's seed lower bound). */
  private def boundsOf(
      corpus: DataFrame,
      queryPred: org.apache.spark.sql.Column,
      model: Model,
      seedNprobe: Int,
      k: Int,
      candFilter: DataFrame => DataFrame,
      cacheKey: Option[String]): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cands = candFilter(assign(corpus, model.cents, cacheKey))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
    // seed scan: each query's seedNprobe nearest cells, exact sims; the
    // k-th best is the pruning lower bound (no k-th row → lb = −2)
    val wq = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    val seedLb = cands
      .join(broadcast(Similarity.probeCellsOf(queries, model.cents, seedNprobe)),
        col("cell") === col("probe") && col("vec_id") =!= col("q_id"))
      .withColumn("sim", VectorOps.dot(col("qe"), col("e")) / (col("qn") * col("nrm")))
      .select(col("q_id"), col("vec_id"), col("sim"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") === k)
      .select(col("q_id"), col("sim").as("lb"))
    // seedLb is |Q|-sized — broadcast it, or the left join plans a
    // sort-merge with two exchanges on frames that both fit in a task
    val qlb = queries.join(broadcast(seedLb), Seq("q_id"), "left")
      .withColumn("lbc", coalesce(col("lb"), lit(-2d)))
    val bounds = model.groups match {
      case None =>
        qlb.crossJoin(broadcast(centFrame(spark, model.cents)
          .join(model.radii, col("c_id") === col("cell"))
          .select(col("c_id"), col("ce"), col("cn"), col("rc2"),
            lit(null).cast("long").as("g_id"))))
      case Some(g) =>
        // level 1: |Q|·ngroups bound rows; cell rows exist only under
        // surviving groups. Leaders are the g_ids of the cell table.
        val leaderIds = g.cellOf.values.map(_._1).toSet
        val groupDf = model.cents.filter(c => leaderIds(c._1))
          .map { case (id, v, nm) => (id, v.toSeq, nm, g.rg2.getOrElse(id, 4.0)) }
          .toDF("g_id", "ge", "gn", "rg2")
        val cells = model.cents.map { case (id, v, nm) =>
          (id, v.toSeq, nm, g.rc2.getOrElse(id, 0.0), g.cellOf(id)._1) }
          .toDF("c_id", "ce", "cn", "rc2", "g_id")
        within(qlb.crossJoin(broadcast(groupDf)), "ge", "gn", "rg2")
          .select(col("q_id"), col("qe"), col("qn"), col("lbc"), col("g_id"))
          .join(broadcast(cells), Seq("g_id"))
    }
    (cands, bounds)
  }

  /** Level 2: the cells whose bound reaches the seed lb, as ivfRank
    * probes (q_id, qe, qn, probe). */
  private def kept(bounds: DataFrame): DataFrame =
    within(bounds, "ce", "cn", "rc2")
      .select(col("q_id"), col("qe"), col("qn"), col("c_id").as("probe"))

  /** The keep filter, for any level: rows whose reference point (`v`,
    * norm `n`, chord² radius `r2`) bounds the query's similarity at or
    * above its seed lb — ub = 1 − max(0, ‖q̃−c̃‖ − R)²/2 + ε ≥ lbc. */
  private def within(df: DataFrame, v: String, n: String, r2: String): DataFrame =
    df.withColumn("gap", greatest(lit(0d),
        sqrt(greatest(lit(0d),
          lit(2d) - lit(2d) * (VectorOps.dot(col("qe"), col(v)) / (col("qn") * col(n))))) -
          sqrt(col(r2))))
      .filter(lit(1d) - col("gap") * col("gap") / lit(2d) + lit(BoundEps) >= col("lbc"))

  // ---------------------------------------------------------- model parts

  /** Cell assignment with the NearestCell map stage, cached under
    * `cacheKey` plus the quantizer's fingerprint: the assignment is a
    * pure function of (corpus, quantizer), so a serve whose stored
    * quantizer diverged from an in-session one never reads cells
    * assigned under the wrong centroids, while equal centroids (exact
    * round-trip) share the cache. */
  private def assign(corpus: DataFrame, cents: Seq[Centroid],
      cacheKey: Option[String]): DataFrame = {
    val raw = Similarity.assignCells(corpus, cents)
      .select(col("vec_id"), col("e"), col("nrm"), col("cell"))
    cacheKey.fold(raw) { key =>
      val fp = java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.orderedHash(
        cents.map { case (id, v, nm) => (id, v.toSeq, nm) }))
      graft.CacheRegistry.getOrCache(corpus.sparkSession, s"$key#$fp")(raw)
    }
  }

  private def centFrame(spark: SparkSession, cents: Seq[Centroid]): DataFrame = {
    import spark.implicits._
    cents.map { case (id, v, nm) => (id, v.toSeq, nm) }.toDF("c_id", "ce", "cn")
  }

  /** Per-cell chord² radius (cell, rc2) — one pass over the assignment,
    * quantizer-sized output. */
  private def radiiOf(assigned: DataFrame, cents: Seq[Centroid]): DataFrame =
    assigned.join(broadcast(centFrame(assigned.sparkSession, cents)), col("cell") === col("c_id"))
      .withColumn("simc", VectorOps.dot(col("e"), col("ce")) / (col("nrm") * col("cn")))
      .groupBy(col("cell"))
      .agg(max(greatest(lit(0d), lit(2d) - lit(2d) * col("simc"))).as("rc2"))

  /** Collect a (key, stat) table — quantizer-sized by construction. */
  private def statMap(stats: DataFrame): Map[Long, Double] =
    stats.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** A two-level model; its radius table is the driver-side one. */
  private def twoLevel(spark: SparkSession, cents: Seq[Centroid], groups: Groups): Model = {
    import spark.implicits._
    Model(cents, groups.rc2.toSeq.sortBy(_._1).toDF("cell", "rc2"), Some(groups))
  }

  /** Every `every`-th centroid (middle offset — cents ascend by id)
    * leads a group; each cell joins its nearest leader (lowest id on
    * ties, the NearestCell contract), keeping the unit-chord distance. */
  private def leadersOf(cents: Seq[Centroid], every: Int): Map[Long, (Long, Double)] = {
    val picked = cents.zipWithIndex.collect { case (c, i) if i % every == every / 2 => c }
    val leaders = if (picked.nonEmpty) picked else cents.take(1)
    cents.map { c =>
      val g = leaders.minBy(g => (unitChordDist(c, g), g._1))
      c._1 -> (g._1, unitChordDist(c, g))
    }.toMap
  }

  /** Group radii² from cell radii: R_g = max over the cells of
    * (dcg + R_c). Max-mergeable one level up — the max over commits of
    * (dcg + R_c,commit) bounds dcg + the max-merged R_c — so fit and
    * admit compose with the same fold. */
  private def groupRadii(cellOf: Map[Long, (Long, Double)],
      rc2: Iterable[(Long, Double)]): Map[Long, Double] =
    rc2.toSeq.map { case (cell, r2) =>
      val (g, dcg) = cellOf(cell)
      val rg = dcg + math.sqrt(math.max(0.0, r2))
      g -> rg * rg
    }.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).max }

  private def groupTable(spark: SparkSession, path: String): Map[Long, (Long, Double)] =
    AnnIndex.loadGroups(spark, s"$path/groups").map { case (c, g, d) => c -> (g, d) }.toMap

  private def unitChordDist(a: Centroid, b: Centroid): Double = {
    var dot = 0.0; var i = 0
    while (i < a._2.length) { dot += a._2(i) * b._2(i); i += 1 }
    math.sqrt(math.max(0.0, 2.0 - 2.0 * (dot / (a._3 * b._3))))
  }
}
