package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ExactIndex, Similarity}

/** Similarity-search invariants on sf0.001 (500 vectors, 64-dim). */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Independent brute-force top-5 over `corpus`: every
    * `queryPred` row against every candidate of `cands(corpus)` — no
    * pruning code in the loop. */
  private def bruteTopK(corpus: org.apache.spark.sql.DataFrame,
      queryPred: org.apache.spark.sql.Column,
      cands: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity)
      : Seq[Seq[Any]] = {
    val q = corpus.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    cands(corpus).join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        graft.functions.VectorOps.dot(col("qe"), col("e")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("sim"), 6).as("sim"))
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
  }

  test("cosine top-k: 5 ranked neighbors per query, sims in [-1,1] descending") {
    val rows = Similarity.cosineTopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q should have exactly 5 neighbors")
      val sims = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, s"descending sims for $q")
      sims.foreach(s => assert(s >= -1.0001 && s <= 1.0001))
      assert(!rs.exists(_.getAs[Long]("neighbor_id") == q), "self excluded")
    }
  }

  test("ANN bucket join produces a subset of brute-force sims with identical values") {
    val brute = Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("sim"))
      .toMap
    val ann = Similarity.annTopK(spark, sf).collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))
      // when an ANN result pair is also in the brute-force top-5, the
      // exact-rerank sim must be the identical double
      brute.get(key).foreach(s => assert(s == r.getAs[Double]("sim"), s"sim mismatch at $key"))
    }
  }

  test("ANN recall@1: the nearest neighbor is found for a reasonable share of queries") {
    // 4 sign bits ⇒ P(bucket match) ≈ (1 − θ/π)^4; planted near-dups
    // (cos ≈ 0.99) collide with high probability. This is a statistical
    // bound, deliberately loose — the correctness contract is the
    // deterministic bucketing (oracle-checked), not recall.
    val top1 = Similarity.cosineTopK(spark, sf).filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("neighbor_id")).toMap
    val annByQ = Similarity.annTopK(spark, sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val hits = top1.count { case (q, nn) => annByQ.getOrElse(q, Set.empty).contains(nn) }
    val recall = hits.toDouble / top1.size
    assert(recall >= 0.2, s"ANN recall@1 collapsed: $recall")
  }

  test("ANN plan is an equi-join on bucket (no cartesian against the corpus)") {
    val plan = Similarity.annTopK(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "bucket equi-join should plan as a broadcast HASH join, not nested-loop")
  }

  // ------------------------------------------------------- bits scaling

  /** Deterministic clustered corpus: 3000 vectors in 16-dim, 30
    * cluster centers, small per-vector noise — all integer-hash
    * derived so every run is identical. */
  private def clusteredCorpus = {
    import spark.implicits._
    val dim = 16
    def center(k: Int, d: Int): Double =
      (((k * 31 + d) * 2654435761L) % 1000).toDouble / 1000.0 - 0.5
    def noise(i: Int, d: Int): Double =
      (((i * 97L + d) * 40503L) % 100).toDouble / 100.0 * 0.05
    (0 until 3000).map { i =>
      val k = i % 30
      (i.toLong, (0 until dim).map(d => (center(k, d) + noise(i, d)).toFloat).toArray)
    }.toDF("vec_id", "embedding")
  }

  test("bits parameter trades candidates for recall@1 (4 → 8 → 12 bits, generated corpus)") {
    val corpus = Similarity.withNorms(clusteredCorpus)
    val qPred = expr("vec_id % 50 = 0") // 60 queries

    // Scala-side brute-force top-1 (same ascending fold order as the
    // codegen'd DotProduct, so doubles are bit-identical)
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = vecs.keys.filter(_ % 50 == 0).toSeq.sorted
    val top1 = queries.map { q =>
      q -> vecs.keys.filter(_ != q)
        .map(n => (n, cos(vecs(q), vecs(n))))
        .minBy { case (n, s) => (-s, n) }._1 // sim desc, id asc — ANN's order
    }.toMap

    val results = Seq(4, 8, 12).map { bits =>
      val ann = Similarity.annTopKWith(corpus, qPred, bits, 16, 3).collect()
        .groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      val recall = top1.count { case (q, nn) =>
        ann.getOrElse(q, Set.empty).contains(nn) }.toDouble / top1.size
      val meanCand = {
        val c = Similarity.annCandidateCounts(corpus, qPred, bits, 16).collect()
        if (c.isEmpty) 0.0 else c.map(_.getAs[Long]("n_candidates")).sum.toDouble / top1.size
      }
      (bits, recall, meanCand)
    }
    val byBits = results.map { case (b, r, c) => b -> ((r, c)) }.toMap
    val info = results.map { case (b, r, c) => f"bits=$b recall@1=$r%.2f cand=$c%.0f" }.mkString("; ")

    // candidate count must SHRINK as bits grow — the scale lever
    assert(byBits(4)._2 > byBits(8)._2 && byBits(8)._2 > byBits(12)._2,
      s"candidates must shrink with bits: $info")
    // clustered data keeps recall usable even at 12 bits; 4 bits is
    // near-exhaustive on 16 buckets
    assert(byBits(4)._1 >= 0.8, s"4-bit recall collapsed: $info")
    assert(byBits(8)._1 >= 0.5, s"8-bit recall collapsed: $info")
    assert(byBits(12)._1 >= 0.3, s"12-bit recall collapsed: $info")
    // 12 bits on 3000 vectors must actually prune: << corpus size
    assert(byBits(12)._2 < 1500, s"12-bit candidate set failed to prune: $info")
  }

  test("semantic dedup (q57): every pair same-cell with exact cosine ≥ τ; " +
      "≡ brute force restricted to cells; candidates ≪ n²") {
    import graft.functions.VectorOps
    val corpus = Similarity.vectorsForSpec(spark, sf)
    val out = Similarity.semanticDedupWith(corpus, expr("vec_id % 31 = 7"), 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent reconstruction: assign cells via the same public
    // kernel, then brute-force all pairs and filter same-cell ∧ sim≥τ
    val cents = corpus.filter(expr("vec_id % 31 = 7"))
      .select(col("vec_id"), col("e"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1).toSeq
    val assigned = corpus.withColumn("cell",
      VectorOps.nearestCell(col("e"), col("nrm"), cents))
    val brute = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim",
        VectorOps.dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("sim") >= 0.35)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == brute, s"missing=${(brute -- out).take(3)} extra=${(out -- brute).take(3)}")
    // shrinkage evidence: within-cell candidate pairs ≪ all pairs
    val n = corpus.count()
    val candPairs = assigned.groupBy(col("cell")).count()
      .agg(sum(expr("count * (count - 1) / 2"))).head().getAs[Any](0).toString.toDouble
    assert(candPairs < n * (n - 1) / 4.0,
      s"cells fail to prune: $candPairs candidate pairs vs ${n * (n - 1) / 2} total")
  }

  test("q61 scalar quantization: full int8 range, reconstruction within the affine half-step bound") {
    val rows = Similarity.quantize(spark, sf).collect()
    assert(rows.length == 500)
    // theoretical worst case: |x - rec| <= (mx - mn) / 510 per dim
    val stats = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val bound = stats.map { case (mn, mx) => (mx - mn) / 510.0 * 1e6 }.max.ceil.toLong + 1
    var sawMin = false; var sawMax = false
    rows.foreach { r =>
      val codes = r.getAs[String]("qvec").split(",").map(_.toInt)
      assert(codes.length == 64)
      codes.foreach(c => assert(c >= -128 && c <= 127, s"code $c out of int8 range"))
      sawMin ||= codes.contains(-128); sawMax ||= codes.contains(127)
      assert(r.getAs[Long]("err_ppm") >= 0 && r.getAs[Long]("err_ppm") <= bound,
        s"err_ppm ${r.getAs[Long]("err_ppm")} above the half-step bound $bound")
    }
    // per-dimension extremes must land exactly on the range endpoints
    assert(sawMin && sawMax, "corpus min/max should quantize to -128/127")
  }

  test("q61 compression preserves neighbor structure: top-5 cosine over reconstructed int8 ≈ exact") {
    // reconstruct vectors from the emitted int8 codes + the same
    // affine codebook, then re-rank: the 4x-compressed corpus must
    // agree with the exact float top-5 on the vast majority of slots —
    // the property that makes storing int8 at 100 TB acceptable
    val stats = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val rec = Similarity.quantize(spark, sf).collect().map { r =>
      val codes = r.getAs[String]("qvec").split(",").map(_.toInt)
      val v = codes.zip(stats).map { case (q, (_, mn, mx)) =>
        if (mx == mn) mn else mn + (q + 128).toDouble / 255.0 * (mx - mn)
      }
      r.getAs[Long]("vec_id") -> v
    }.toMap
    def top5(corpus: Map[Long, Array[Double]], qid: Long): Seq[Long] = {
      val qv = corpus(qid)
      corpus.iterator.filter(_._1 != qid).map { case (id, v) =>
        val dot = qv.zip(v).map { case (a, b) => a * b }.sum
        val sim = dot / (math.sqrt(qv.map(x => x * x).sum) * math.sqrt(v.map(x => x * x).sum))
        (id, sim)
      }.toSeq.sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    }
    val exact = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val queries = exact.keys.filter(_ % 25 == 0).toSeq
    val overlaps = queries.map { q =>
      top5(exact, q).toSet.intersect(top5(rec, q).toSet).size
    }
    val meanOverlap = overlaps.sum.toDouble / (overlaps.size * 5)
    assert(meanOverlap >= 0.8,
      s"int8 reconstruction degraded top-5 overlap to $meanOverlap")
  }

  test("q84 kNN classify: majority vote with smallest-label tie-break, replayed from q21's neighbors") {
    import org.apache.spark.sql.functions.col
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nn = Similarity.cosineTopK(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val expected = nn.map { case (q, ns) =>
      val votes = ns.groupBy(labels).view.mapValues(_.size).toMap
      val (pl, v) = votes.toSeq.minBy { case (l, c) => (-c, l) }
      (q, labels(q), pl, v.toLong, if (pl == labels(q)) 1 else 0)
    }.toSet
    val got = Similarity.knnClassify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4))).toSet
    assert(got == expected,
      s"q84 diverged: ${(got -- expected).take(3)} vs ${(expected -- got).take(3)}")
    // every query answered exactly once; votes bounded by k=5.
    // (On this fixture labels are geometry-independent, so accuracy sits
    // at chance — the CONTRACT here is the vote mechanics; accuracy is
    // the dashboard number on a real corpus.)
    assert(got.map(_._1) == nn.keySet)
    assert(got.forall { case (_, _, _, v, _) => v >= 1 && v <= 5 })
  }

  test("q93 hybrid RRF: fusion replays exactly from the two legs; both-list docs outrank comparable single-list docs") {
    val docs = Tables.documents(spark, sf)
    val dense = Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1).toLong).toMap
    val probes = docs.filter(expr("doc_id % 25 = 0"))
      .select(col("doc_id").as("query_id"),
        explode(slice(split(col("text"), " "), 1, 8)).as("w"))
      .distinct()
    val sparse = graft.operators.TextAnalysis
      .bm25Of(docs, probes, excludeSelf = true).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Int]("rank").toLong).toMap
    def c(rank: Long): Long = 1048576L / (60L + rank)
    val expected = (dense.keySet ++ sparse.keySet).groupBy(_._1)
      .flatMap { case (q, keys) =>
        keys.toSeq
          .map { k => (k._2,
            dense.get(k).map(c).getOrElse(0L) + sparse.get(k).map(c).getOrElse(0L)) }
          .sortBy { case (d, s) => (-s, d) }
          .take(10).zipWithIndex
          .map { case ((d, s), i) => (q, i + 1) -> (d, s) }
      }
    val got = Similarity.hybridTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_score"))).toMap
    assert(got == expected, "fusion must equal the driver-replayed RRF")
    // the RRF property: a doc on BOTH lists beats any doc whose single
    // list-rank is no better than both of its ranks
    val both = dense.keySet.intersect(sparse.keySet)
    assert(both.nonEmpty, "fixture should produce at least one both-list doc")
    both.foreach { case (q, d) =>
      val s2 = c(dense((q, d))) + c(sparse((q, d)))
      val worstSingle = c(math.max(dense((q, d)), sparse((q, d))))
      assert(s2 > worstSingle, s"RRF must reward list agreement for ($q,$d)")
    }
    CacheRegistry.releaseAll()
  }

  test("q151 hybrid-ANN (the q93 production form): fusion replays exactly " +
      "with the IVF dense leg; the sparse leg is shared; outputs overlap the " +
      "exact form substantially") {
    CacheRegistry.releaseAll()
    val docs = Tables.documents(spark, sf)
    val dense = Similarity.ivfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1).toLong).toMap
    val probes = docs.filter(expr("doc_id % 25 = 0"))
      .select(col("doc_id").as("query_id"),
        explode(slice(split(col("text"), " "), 1, 8)).as("w"))
      .distinct()
    val sparse = graft.operators.TextAnalysis
      .bm25Of(docs, probes, excludeSelf = true).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Int]("rank").toLong).toMap
    def c(rank: Long): Long = 1048576L / (60L + rank)
    val expected = (dense.keySet ++ sparse.keySet).groupBy(_._1)
      .flatMap { case (q, keys) =>
        keys.toSeq
          .map { k => (k._2,
            dense.get(k).map(c).getOrElse(0L) + sparse.get(k).map(c).getOrElse(0L)) }
          .sortBy { case (d, s) => (-s, d) }
          .take(10).zipWithIndex
          .map { case ((d, s), i) => (q, i + 1) -> (d, s) }
      }
    val got = Similarity.hybridTopKAnn(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_score"))).toMap
    assert(got == expected, "ANN fusion must equal the driver-replayed RRF")
    // the production form should not collapse vs the exact form: the
    // sparse leg is shared verbatim and the IVF leg recalls most exact
    // neighbors (IvfSpec), so per-query top-10 overlap stays high
    val exact = Similarity.hybridTopK(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("doc_id")).toSet }
    val ann = got.toSeq.groupBy(_._1._1)
      .map { case (q, rs) => q -> rs.map(_._2._1).toSet }
    assert(ann.keySet == exact.keySet, "every query answered in both forms")
    // .toSeq before map: a Set of per-query ratios would collapse
    // duplicates and silently shrink the mean
    val overlap = exact.keys.toSeq.map { q =>
      ann(q).intersect(exact(q)).size.toDouble / exact(q).size
    }.sum / exact.size
    assert(overlap >= 0.6,
      f"ANN hybrid must track the exact hybrid (mean top-10 overlap $overlap%.2f)")
    CacheRegistry.releaseAll()
  }

  /** Driver replay of q96's full integer contract: floor(x·2²⁰)
    * quantize, truncating-div integer centroid (Spark `div` ≡ DuckDB
    * `//` ≡ Scala `/` on Longs — all toward zero), exact integer
    * dots in doubles, IEEE sqrt/divide/floor tail. */
  private def outlierReplay(rows: Seq[(Long, Int, Seq[Double])]): Map[Long, Long] = {
    val scale = 1048576L
    def quant(v: Seq[Double]): Seq[Double] = v.map(x => math.floor(x * scale))
    val cent: Map[Int, Seq[Double]] = rows.groupBy(_._2).map { case (l, vs) =>
      val qs = vs.map(v => quant(v._3))
      l -> qs.transpose.map(c => (c.map(_.toLong).sum / qs.size).toDouble).toSeq
    }
    rows.map { case (id, l, v) =>
      val q = quant(v); val c = cent(l)
      val dqc = q.zip(c).map { case (a, b) => a * b }.sum
      val dqq = q.map(x => x * x).sum
      val dcc = c.map(x => x * x).sum
      id -> math.floor(1000000.0 * dqc / (math.sqrt(dqq) * math.sqrt(dcc))).toLong
    }.toMap
  }

  /** Driver replay of q97's greedy chain over quantized-cosine ppm:
    * shortlist by (rel desc, id), then repeatedly argmax of
    * rel − max-sim-to-selected with (score desc, id) ties. */
  private def mmrReplay(rows: Seq[(Long, Seq[Double])], queryIds: Seq[Long],
      shortlist: Int, k: Int): Map[Long, Seq[(Int, Long, Long)]] = {
    val scale = 1048576L
    val q = rows.map { case (id, v) => id -> v.map(x => math.floor(x * scale)) }.toMap
    def ppm(a: Seq[Double], b: Seq[Double]): Long = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      math.floor(1000000.0 * dot /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))).toLong
    }
    queryIds.map { qid =>
      val rel = rows.collect { case (id, _) if id != qid => id -> ppm(q(qid), q(id)) }.toMap
      val cands = rel.toSeq.sortBy { case (id, r) => (-r, id) }.take(shortlist).map(_._1)
      var selected = List.empty[Long]
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      while (picks.length < k && picks.length < cands.length) {
        val scored = cands.filterNot(selected.contains).map { c =>
          val div = if (selected.isEmpty) 0L else selected.map(s => ppm(q(c), q(s))).max
          c -> (rel(c) - div)
        }
        val (best, score) = scored.maxBy { case (c, s) => (s, -c) }
        picks += ((picks.length + 1, best, score))
        selected ::= best
      }
      qid -> picks.toSeq
    }.toMap
  }

  test("q97 mmrDiverseOf: a clone-flooded shortlist diversifies — MMR demotes the clones pure relevance keeps") {
    import spark.implicits._
    // query 0 (QueryFilter: vec_id % 25 == 0); three near-clones of the
    // query direction (top relevance), two orthogonal-ish moderates
    def mix(w: Double, a: Seq[Double], b: Seq[Double]): Seq[Double] =
      a.zip(b).map { case (x, y) => w * x + (1 - w) * y }
    val e1 = Seq(1.0, 0.0, 0.0, 0.0)
    val e2 = Seq(0.0, 1.0, 0.0, 0.0)
    val e3 = Seq(0.0, 0.0, 1.0, 0.0)
    val rows: Seq[(Long, Seq[Double])] = Seq(
      0L -> e1,
      1L -> mix(0.99, e1, e2), 2L -> mix(0.98, e1, e2), 3L -> mix(0.97, e1, e2),
      4L -> mix(0.60, e1, e2), 5L -> mix(0.60, e1, e3))
    val out = Similarity.mmrDiverseOf(spark, rows.toDF("vec_id", "embedding"),
      shortlist = 5, k = 3).collect()
      .map(r => (r.getAs[Int]("pos"), r.getAs[Long]("doc_id"), r.getAs[Long]("mmr_score")))
      .sortBy(_._1)
    val want = mmrReplay(rows, Seq(0L), 5, 3)(0L)
    assert(out.toSeq == want, s"greedy chain must replay exactly: $out vs $want")
    // pure relevance would take clones 1,2,3; MMR must break the block
    assert(out.head._2 == 1L, "pos 1 is the most relevant clone")
    assert(out.map(_._2).toSet != Set(1L, 2L, 3L),
      "diversification must displace at least one clone")
    assert(out.map(_._3).toSeq == out.map(_._3).sortBy(-_).toSeq,
      "greedy marginal scores are non-increasing")
  }

  test("q97 singleton shortlist: a query with ONE candidate still emits its pick (self-pairs carry the group)") {
    import spark.implicits._
    val rows = Seq(
      0L -> Seq(1.0, 0.0, 0.0, 0.0), // the query (vec_id % 25 == 0)
      7L -> Seq(0.6, 0.8, 0.0, 0.0)) // the only other vector
    val out = Similarity.mmrDiverseOf(spark, rows.toDF("vec_id", "embedding"),
      shortlist = 5, k = 3).collect()
    assert(out.length == 1, s"exactly one pick, got ${out.length}")
    assert(out.head.getAs[Long]("doc_id") == 7L)
    assert(out.head.getAs[Int]("pos") == 1)
  }

  test("q97 fixture: full driver replay; positions dense; picks distinct; scores non-increasing") {
    val emb = Tables.embeddings(spark, sf)
    val rows = emb.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getSeq[Float](r.fieldIndex("embedding")).toSeq.map(_.toDouble))).toSeq
    val qids = rows.map(_._1).filter(_ % 25 == 0)
    val want = mmrReplay(rows, qids, 8, 5)
    val out = Similarity.mmrDiverse(spark, sf).collect()
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, rs) =>
      val got = rs.map(r => (r.getAs[Int]("pos"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("mmr_score"))).sortBy(_._1)
      assert(got.toSeq == want(qid), s"query $qid")
      assert(got.map(_._2).distinct.length == got.length, s"query $qid picks distinct")
    }
    assert(out.nonEmpty)
  }

  test("q98 retrieval MRR: replays exactly from q21's neighbors + labels; bounds hold") {
    val labels = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val topk = Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    val perQ = topk.groupBy(_._1).map { case (q, ns) =>
      val firstHit = ns.filter(n => labels(n._3) == labels(q)).map(_._2)
        .minOption
      (q, labels(q), firstHit)
    }
    val want = perQ.groupBy(_._2).map { case (l, qs) =>
      l -> (qs.size.toLong,
        qs.map(_._3.map(1000000L / _).getOrElse(0L)).sum / qs.size,
        qs.count(_._3.contains(1)).toLong,
        qs.count(_._3.isDefined).toLong)
    }
    val out = Similarity.retrievalMrr(spark, sf).collect()
    assert(out.length == want.size, "one row per label with queries")
    out.foreach { r =>
      val l = r.getAs[Int]("label")
      val (n, mrr, h1, h5) = want(l)
      assert(r.getAs[Long]("n_queries") == n, s"label $l n")
      assert(r.getAs[Long]("mrr_ppm") == mrr, s"label $l mrr")
      assert(r.getAs[Long]("hits_at_1") == h1, s"label $l h1")
      assert(r.getAs[Long]("hits_at_5") == h5, s"label $l h5")
      // mrr is bounded by the hit structure: every hit contributes at
      // most 1e6 (rank 1) and at least 2e5 (rank 5)
      assert(r.getAs[Long]("mrr_ppm") <= 1000000L * h5 / n)
      assert(r.getAs[Long]("mrr_ppm") >= 200000L * h5 / n - 1)
    }
  }

  test("q107 hard negatives: full driver replay — top-5 cross-label neighbors, " +
      "positive ceiling, margins; labels never match the anchor") {
    val rows = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def ppm(x: Double): Long = math.floor(x * 1000000d).toLong
    val anchors = rows.filter(_._1 % 25 == 0)
    val want = anchors.flatMap { case (q, ql, qe) =>
      val sims = rows.filter(_._1 != q).map { case (v, l, e) => (v, l, cos(qe, e)) }
      val ps = sims.filter(_._2 == ql).map(_._3).max
      sims.filter(_._2 != ql).sortBy(t => (-t._3, t._1)).take(5).zipWithIndex
        .map { case ((v, _, s), i) =>
          (q, i + 1) -> ((v, ppm(s), ppm(ps), ppm(ps) - ppm(s))) }
    }.toMap
    val got = Similarity.hardNegatives(spark, sf).collect().map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neg_id"), r.getAs[Long]("neg_sim_ppm"),
          r.getAs[Long]("pos_sim_ppm"), r.getAs[Long]("margin_ppm")))).toMap
    assert(got.size == anchors.length * 5, s"5 negatives per anchor: ${got.size}")
    assert(got == want, {
      val bad = want.keys.filter(k => got.get(k) != want.get(k)).take(3)
      s"first diffs: ${bad.map(k => s"$k got ${got.get(k)} want ${want.get(k)}").mkString("; ")}"
    })
    // the mined pairs are the CONTRASTIVE training set: a negative
    // margin flags an anchor whose hardest negative outranks its best
    // positive — recompute that flag independently and cross-check
    val labels = rows.map(t => t._1 -> t._2).toMap
    val anchorLabel = anchors.map(t => t._1 -> t._2).toMap
    got.foreach { case ((q, _), (negId, negSim, posSim, margin)) =>
      assert(labels(negId) != anchorLabel(q), s"negative $negId shares label with $q")
      assert(margin == posSim - negSim,
        s"margin is the exact difference of the floored ppm legs for $q")
    }
  }

  test("q96 embedOutliersOf: planted inverted vector is its label's top outlier; sims replay exactly") {
    import spark.implicits._
    val rows: Seq[(Long, Int, Seq[Double])] =
      (0 until 9).map(i => (i.toLong, 0, Seq.fill(8)(0.5 + 0.001 * i))) ++
        Seq((9L, 0, Seq.fill(8)(-0.5))) ++ // anti-parallel to its cohort
        (10 until 14).map(i =>
          (i.toLong, 1, Seq.tabulate(8)(j => (if (j % 2 == 0) 1.0 else -1.0) * (1.0 + 0.01 * i))))
    val out = Similarity.embedOutliersOf(rows.toDF("vec_id", "label", "embedding"),
      bottomK = 2).collect()
    val want = outlierReplay(rows)
    assert(out.length == 4, "two labels × bottom-2")
    out.foreach { r =>
      assert(r.getAs[Long]("sim_ppm") == want(r.getAs[Long]("vec_id")),
        s"vec ${r.getAs[Long]("vec_id")}")
    }
    val l0 = out.filter(_.getAs[Int]("label") == 0).sortBy(_.getAs[Int]("pos"))
    assert(l0.head.getAs[Long]("vec_id") == 9L, "the inverted vector is pos 1")
    assert(want(9L) < -900000L, "anti-parallel ⇒ cosine near −1")
  }

  test("q96 fixture: positions dense per label; every sim_ppm replays; flagged rows are the true minima") {
    val emb = Tables.embeddings(spark, sf)
    val rows = emb.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
      r.getSeq[Float](r.fieldIndex("embedding")).toSeq.map(_.toDouble))).toSeq
    val want = outlierReplay(rows)
    val out = Similarity.embedOutliers(spark, sf).collect()
    out.groupBy(_.getAs[Int]("label")).foreach { case (l, rs) =>
      assert(rs.map(_.getAs[Int]("pos")).sorted.toSeq == (1 to rs.length),
        s"label $l positions dense")
      // flagged rows are exactly the label's bottom-k under (ppm, id)
      val ids = rows.filter(_._2 == l).map(_._1)
      val wantBottom = ids.sortBy(id => (want(id), id)).take(rs.length)
      assert(rs.sortBy(_.getAs[Int]("pos")).map(_.getAs[Long]("vec_id")).toSeq == wantBottom,
        s"label $l bottom-k")
      rs.foreach(r => assert(r.getAs[Long]("sim_ppm") == want(r.getAs[Long]("vec_id"))))
    }
  }

  test("q109 retriever agreement: overlap@k replays from the two legs; counts monotone in k") {
    import graft.operators.TextAnalysis
    val dense = Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
    val docs = Tables.documents(spark, sf)
    val probes = docs.filter(expr("doc_id % 25 = 0"))
      .select(col("doc_id").as("query_id"),
        explode(slice(split(col("text"), " "), 1, 8)).as("w"))
      .distinct()
    val sparse = TextAnalysis.bm25Of(docs, probes, k = 5, excludeSelf = true).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"), r.getAs[Int]("rank")))
    val nq = dense.map(_._1).distinct.length.toLong
    def topSet(rows: Array[(Long, Long, Int)], q: Long, k: Int): Set[Long] =
      rows.collect { case (`q`, d, r) if r <= k => d }.toSet
    val want = Seq(1, 3, 5).map { k =>
      val ov = dense.map(_._1).distinct.map(q =>
        topSet(dense, q, k).intersect(topSet(sparse, q, k)).size.toLong).sum
      k -> (ov, 1000000L * ov / (nq * k))
    }.toMap
    val out = Similarity.retrieverAgreement(spark, sf).collect()
    assert(out.length == 3, "one row per audited depth k")
    out.foreach { r =>
      val k = r.getAs[Int]("k")
      assert(r.getAs[Long]("n_q") == nq)
      assert(want(k) == (r.getAs[Long]("n_overlap"), r.getAs[Long]("agree_ppm")),
        s"overlap@$k must equal the per-query set-intersection replay")
      assert(r.getAs[Long]("n_overlap") <= nq * k, "overlap is capped by the k*|Q| ceiling")
    }
    val byK = out.map(r => r.getAs[Int]("k") -> r.getAs[Long]("n_overlap")).toMap
    assert(byK(1) <= byK(3) && byK(3) <= byK(5),
      "top-k sets nest, so overlap counts are non-decreasing in k")
  }

  test("q117 confusion audit: matrix replays from q84's verdicts; rows conserve mass; " +
      "diagonal share equals accuracy") {
    val pred = Similarity.knnClassify(spark, sf).collect()
      .map(r => (r.getAs[Int]("true_label"), r.getAs[Int]("pred_label")))
    val cells = pred.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rowTot = pred.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val out = Similarity.confusionAudit(spark, sf).collect()
    assert(out.length == cells.size, "one row per populated matrix cell")
    out.foreach { r =>
      val key = (r.getAs[Int]("true_label"), r.getAs[Int]("pred_label"))
      assert(r.getAs[Long]("n") == cells(key), s"cell $key count")
      assert(r.getAs[Long]("row_total") == rowTot(key._1), s"cell $key row total")
      assert(r.getAs[Long]("share_ppm") == 1000000L * cells(key) / rowTot(key._1),
        s"cell $key share")
      assert(r.getAs[Int]("is_diag") == (if (key._1 == key._2) 1 else 0))
    }
    // mass conservation: the matrix repartitions exactly the classified items
    assert(out.map(_.getAs[Long]("n")).sum == pred.length.toLong)
    // diagonal mass == q84's own correct count (two views, one truth)
    val diag = out.filter(_.getAs[Int]("is_diag") == 1).map(_.getAs[Long]("n")).sum
    assert(diag == pred.count { case (t, p) => t == p }.toLong)
  }

  test("q118 dim health: full driver replay of the quantized moments; fixture dims healthy") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    val nDims = vecs.head.length
    val want = (0 until nDims).map { d =>
      val qs = vecs.map(v => math.floor(v(d).toDouble * 1024).toLong)
      val n = qs.length.toLong
      val s1 = qs.sum; val s2 = qs.map(q => q * q).sum
      val nDead = qs.count(q => q == 0L || q == -1L).toLong
      d.toLong -> (n, s1 / n, (n * s2 - s1 * s1) / (n * n), 1000000L * nDead / n)
    }.toMap
    val out = graft.operators.Similarity.dimHealth(spark, sf).collect()
    assert(out.length == nDims)
    out.foreach { r =>
      val d = r.getAs[Long]("dim")
      assert(want(d) == (r.getAs[Long]("n_vecs"), r.getAs[Long]("mean_q"),
        r.getAs[Long]("var_q"), r.getAs[Long]("dead_ppm")), s"dim $d")
      assert(r.getAs[Int]("is_dead") == 0 && r.getAs[Int]("is_collapsed") == 0,
        s"fixture dim $d should be healthy")
    }
  }

  test("q118 planted pathologies: a dead dim and a collapsed dim are flagged, " +
      "a healthy dim is not") {
    import spark.implicits._
    // dim 0 healthy, dim 1 dead (|x| < 2^-10), dim 2 collapsed
    // (constant 0.5 — zero variance but live)
    val vecs = (1 to 50).map(i =>
      (i.toLong, Seq(i.toFloat / 100f, 0.0001f, 0.5f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.dimHealthOf(vecs).collect()
      .map(r => r.getAs[Long]("dim") ->
        (r.getAs[Int]("is_dead"), r.getAs[Int]("is_collapsed"))).toMap
    assert(out(0L) == ((0, 0)), "live varying dim is healthy")
    assert(out(1L) == ((1, 0)), "sub-resolution dim is dead")
    assert(out(2L) == ((0, 1)), "constant live dim is collapsed")
  }

  test("q121 hub audit: slot counts replay from q21's lists; positions dense; " +
      "shares conserve against the slot total") {
    val nn = Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))
    val nSlots = nn.length.toLong
    val nCorpus = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val hits = nn.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val wantTop = hits.toSeq.sortBy { case (id, n) => (-n, id) }.take(20)
    val out = Similarity.hubAudit(spark, sf).collect().sortBy(_.getAs[Int]("pos"))
    assert(out.length == math.min(20, hits.size))
    assert(out.map(_.getAs[Int]("pos")).toSeq == (1 to out.length),
      "positions are dense from 1")
    out.zip(wantTop).foreach { case (r, (id, n)) =>
      assert(r.getAs[Long]("neighbor_id") == id && r.getAs[Long]("n_hits") == n,
        s"pos ${r.getAs[Int]("pos")}")
      assert(r.getAs[Long]("share_ppm") == 1000000L * n / nSlots)
      assert(r.getAs[Long]("hub_score_x1000") ==
        (1000000L * n / nSlots) * nCorpus / 1000L)
    }
    // concentration sanity: the top hub must out-occupy the uniform
    // expectation (score 1000 = exactly uniform share), or the audit
    // has nothing to rank — and the ratio form must survive corpora
    // beyond 1e6 vectors where an absolute expected-ppm floors to 0
    assert(out.head.getAs[Long]("hub_score_x1000") > 1000L)
  }

  test("q145 SQ8 asymmetric top-k: high recall against the exact L2 top-5 " +
      "(the 4x-compression accuracy contract) and self-consistent ranks") {
    import org.apache.spark.sql.expressions.Window
    val v = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = v.filter(expr("vec_id % 25 = 0"))
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    // exact full-precision squared-L2 top-5 (the ground truth)
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2").asc, col("vec_id"))
    val exact = v.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("d2", expr(
        "aggregate(zip_with(qe, e, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val sq8 = Similarity.sq8TopK(spark, sf).collect()
    val byQ = sq8.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty && byQ.forall(_._2.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5)),
      "every query gets a dense top-5")
    val (hit, tot) = byQ.foldLeft((0, 0)) { case ((h, t), (qid, rows)) =>
      val got = rows.map(_.getAs[Long]("neighbor_id")).toSet
      (h + got.intersect(exact(qid)).size, t + 5)
    }
    // int8 per-dim error is ~0.4% of the value range — the quantized
    // ranking should reproduce nearly all of the exact top-5
    assert(hit.toDouble / tot >= 0.9,
      s"SQ8 recall@5 vs exact L2 = $hit/$tot — quantization broke the ranking")
  }

  test("q153/q154 sampled audits (round-15 ask #2): when the full query set " +
      "fits the sample bound they equal their exact parents row-for-row — " +
      "the sampling changes |Q|, never the arithmetic; and both are " +
      "deterministic across runs", Slow) {
    // sf0.001 has fewer query vectors than AuditSampleQ, so the
    // TakeOrdered sample IS the full query set and the sampled twins
    // must reproduce q88/q109 exactly — pinning that the only thing
    // sampling may ever change is which queries participate
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
    val nQueries = Similarity.cosineTopK(spark, sf)
      .select(col("q_id")).distinct().count()
    assert(nQueries <= Similarity.AuditSampleQ,
      s"fixture grew past the sample bound ($nQueries) — move this spec's " +
        "equality leg to a smaller slice")
    val full88 = rows(Similarity.recallAudit(spark, sf))
    CacheRegistry.releaseAll()
    val samp88 = rows(Similarity.recallAuditSampled(spark, sf))
    CacheRegistry.releaseAll()
    assert(full88 == samp88, "recall audit: sampled != full at |Q| <= bound")
    val full109 = rows(Similarity.retrieverAgreement(spark, sf))
    CacheRegistry.releaseAll()
    val samp109 = rows(Similarity.agreementSampled(spark, sf))
    CacheRegistry.releaseAll()
    assert(full109 == samp109, "agreement: sampled != full at |Q| <= bound")
    // determinism (the partition-invariance contract): a rerun under a
    // different shuffle layout returns identical rows
    val again = rows(Similarity.agreementSampled(spark, sf))
    CacheRegistry.releaseAll()
    assert(again == samp109, "sampled audit must be deterministic")
  }

  test("q153/q154 at sf0.1: the sample genuinely CUTS (|Q| = 200 > 32) and " +
      "every predicate-pushed leg equals its post-filtered full run — the " +
      "per-query-independence claim tested where it matters", Slow) {
    // sf0.001/sf0.01 hold <= 32 queries, so the equality spec above and
    // the sf0.01 oracle never exercise the cut; this is the fixture
    // where sampling actually samples.
    val sf01 = "/root/testdata/sf0.1"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
    val v = Similarity.vectorsForSpec(spark, sf01)
    val idRows = Similarity.sampledQueryIds(v).collect().map(_.getLong(0)).toSeq
    assert(idRows.size == Similarity.AuditSampleQ,
      s"the sample must be exactly the bound: ${idRows.size}")
    assert(idRows.forall(_ % 25 == 0), "sampled ids must be query ids")
    assert(v.filter(col("vec_id") % 25 === 0).count() > Similarity.AuditSampleQ,
      "fixture must hold more queries than the bound for this spec to bite")
    val ids = idRows.toSet
    val pred = col("q_id").isin(idRows: _*)
    // exact leg: per-query windows commute with query filtering
    val exactSampled = rows(Similarity.sampledExactTopK(spark, sf01))
    val exactFull = rows(Similarity.cosineTopK(spark, sf01).filter(pred)
      .select(col("q_id"), col("rank"), col("neighbor_id")))
    assert(exactSampled == exactFull && exactSampled.nonEmpty,
      "sampled exact leg must equal the post-filtered full scan")
    CacheRegistry.releaseAll()
    // each tier: serving ONLY the sampled queries returns the same
    // rows the full serve filtered to the sample would (bucket/cell/
    // code structures are query-independent)
    val sampPred = col("vec_id").isin(idRows: _*)
    val lshSampled = rows(
      Similarity.annTopKWith(v, sampPred, 4, 64, 3)) // Bits=4, the q22 default
    val lshFull = rows(Similarity.annTopK(spark, sf01).filter(pred))
    assert(lshSampled == lshFull && lshSampled.nonEmpty, "lsh tier mismatch")
    CacheRegistry.releaseAll()
    val ivfSampled = rows(Similarity.ivfTopKWith(v, sampPred,
      expr("vec_id % 31 = 7"), 3, 3)) // the q44 fixture constants
    val ivfFull = rows(Similarity.ivfTopK(spark, sf01).filter(pred))
    assert(ivfSampled == ivfFull && ivfSampled.nonEmpty, "ivf tier mismatch")
    CacheRegistry.releaseAll()
    val pqSampled = rows(Similarity.pqAdcTopKSampled(spark, sf01, ids))
    val pqFull = rows(Similarity.pqAdcTopK(spark, sf01).filter(pred))
    assert(pqSampled == pqFull && pqSampled.nonEmpty, "pq tier mismatch")
    CacheRegistry.releaseAll()
    // and the public outputs carry the cut: q154 reports n_q = 32
    val nq = Similarity.agreementSampled(spark, sf01)
      .select(col("n_q")).distinct().collect()
    assert(nq.map(_.getLong(0)).toSeq == Seq(Similarity.AuditSampleQ.toLong),
      s"q154 must aggregate over exactly the sample: ${nq.mkString(",")}")
    CacheRegistry.releaseAll()
  }

  test("q155 exact pruned top-k: equals the unpruned brute-force scan " +
      "row-for-row on the planted corpus (the triangle-inequality " +
      "guarantee, spec-proven at two sfs on top of the sf0.01 oracle)") {
    // …and on the sf0.01 planted corpus every ExactIndex form —
    // {one-level, two-level} × {in-session, stored} × {unfiltered,
    // lang filter} — serves ≡ the brute scan
    def pruned(dir: String): Seq[Seq[Any]] = {
      val r = Similarity.exactPrunedTopK(spark, dir)
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
      CacheRegistry.releaseAll()
      r
    }
    val qPred = expr("vec_id % 25 = 0")
    Seq(sf, "/root/testdata/sf0.01").foreach { dir =>
      val b = bruteTopK(Similarity.plantedVectors(spark, dir), qPred)
      val p = pruned(dir)
      assert(b.nonEmpty && b == p, s"pruned != brute force at $dir")
    }
    val dir = "/root/testdata/sf0.01"
    val v = Similarity.plantedVectors(spark, dir)
    val cents = Similarity.trainIvfQuantizer(v, expr("vec_id % 7 = 3"))
    val allowed = Tables.documents(spark, dir)
      .filter(col("lang") === Similarity.Q163Lang).select(col("doc_id").as("vec_id"))
    val filters = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      ("unfiltered", df => df), ("lang", _.join(allowed, Seq("vec_id"), "semi")))
    val truth = filters.map { case (name, f) => name -> bruteTopK(v, qPred, f) }.toMap
    assert(truth("unfiltered") == Similarity.cosineTopKOf(v, qPred, 5)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString(" ")), "brute reference drifted from q21's plan")
    assert(truth("lang").nonEmpty && truth("lang") != truth("unfiltered"))
    for {
      groupEvery <- Seq(None, Some(Similarity.PlantGroupEvery))
      stored <- Seq(false, true)
      (fname, f) <- filters
    } {
      val fitted = ExactIndex.fit(v, cents, groupEvery)
      val model = if (!stored) fitted else {
        val path = java.nio.file.Files.createTempDirectory("graft-exact-combo").toString
        ExactIndex.save(spark, path, fitted)
        ExactIndex.load(spark, path)
      }
      assert(model.groups.isDefined == groupEvery.isDefined)
      val got = ExactIndex.topK(v, qPred, model, 4, 5, f)
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
      CacheRegistry.releaseAll()
      assert(got == truth(fname),
        s"topK != brute (groupEvery=$groupEvery, stored=$stored, filter=$fname)")
    }
  }

  test("trainer seeds by id VALUE yet always seeds: a dense-id corpus keeps " +
      "the vec_id % stride = 0 seeds, an odd-id corpus (no id on the stride) " +
      "still trains, and its served top-k ≡ the brute scan") {
    val dense = Similarity.plantedVectors(spark, "/root/testdata/sf0.01")
    val nDense = dense.count()
    val strideDense = nDense / math.round(math.sqrt(nDense.toDouble))
    assert(ExactIndex.train(dense).map(_._1).forall(_ % strideDense == 0),
      "dense ids must keep today's residue-0 seeds")
    // 100 vectors with odd ids 1..199: nlist = 10, stride = 10, and no
    // id is a multiple of 10
    val odd = Similarity.plantedVectorsOfIds(
      spark.range(100).select((col("id") * 2 + 1).as("vec_id")))
    val cents = ExactIndex.train(odd)
    assert(cents.nonEmpty && cents.map(_._1).forall(_ % 10 == 1),
      s"odd ids must seed on the smallest id's residue: ${cents.map(_._1)}")
    val qPred = expr("vec_id % 25 = 1")
    val got = ExactIndex.topK(odd, qPred, ExactIndex.fit(odd, cents), 4, 5)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
    val want = Similarity.cosineTopKOf(odd, qPred, 5)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
    assert(want.nonEmpty && got == want, "odd-id trained serve != brute force")
  }

  test("q155 pruning cuts on clustered geometry and honestly cannot on " +
      "isotropic geometry — exactness holds in BOTH") {
    val dir = "/root/testdata/sf0.01"
    // planted (clustered) corpus: the bound keeps a small fraction of
    // the corpus per query (measured 5.5% mean at n=500; assert with
    // headroom), and it never degenerates to a full scan
    val planted = Similarity.plantedVectors(spark, dir)
    val n = planted.count()
    val cand = ExactIndex.candidates(planted, expr("vec_id % 25 = 0"),
        ExactIndex.fit(planted, Similarity.trainIvfQuantizer(planted, expr("vec_id % 7 = 3"))),
        4, 5).collect()
      .map(_.getAs[Long]("n_candidates"))
    CacheRegistry.releaseAll()
    assert(cand.nonEmpty)
    val meanFrac = cand.sum.toDouble / cand.length / n
    val maxFrac = cand.max.toDouble / n
    assert(meanFrac < 0.15, f"planted mean candidate fraction $meanFrac%.3f — pruning stopped cutting")
    assert(maxFrac < 0.30, f"planted max candidate fraction $maxFrac%.3f")
    // isotropic fixture embeddings: the same pruning plan stays EXACT
    // (the guarantee is geometry-independent) while the bound keeps
    // nearly everything — the curse-of-dimensionality measurement that
    // justifies the derived corpus (same reasoning as q152's
    // vocabulary-degeneracy note)
    val v = Similarity.vectorsForSpec(spark, dir)
    val exact = Similarity.cosineTopK(spark, dir)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
    val isoModel = ExactIndex.fit(v, Similarity.trainIvfQuantizer(v, expr("vec_id % 7 = 3")))
    val prunedIso = ExactIndex.topK(v, expr("vec_id % 25 = 0"), isoModel, 4, 5)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
    assert(exact == prunedIso, "pruned scan must stay exact on isotropic geometry")
    val isoCand = ExactIndex.candidates(v, expr("vec_id % 25 = 0"), isoModel, 4, 5).collect()
      .map(_.getAs[Long]("n_candidates"))
    val isoMean = isoCand.sum.toDouble / isoCand.length / n
    assert(isoMean > 0.5,
      f"isotropic fixture unexpectedly prunable (mean frac $isoMean%.3f) — " +
        "the derived-corpus justification in the q155 scaladoc needs re-measuring")
  }

  test("q155 with a Lloyd-refined quantizer: STILL exact (the bound holds " +
      "for any centroid set) and the cut is at least as deep — the " +
      "production training knob proven on the guarantee") {
    val dir = "/root/testdata/sf0.01"
    val v = Similarity.plantedVectors(spark, dir)
    val qPred = expr("vec_id % 25 = 0")
    val cents0 = Similarity.trainIvfQuantizer(v, expr("vec_id % 7 = 3"))
    val refined = Similarity.refineCentroids(v, cents0, iters = 3)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
      val r = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
      CacheRegistry.releaseAll()
      r
    }
    val truth = rows(Similarity.cosineTopKOf(v, qPred, 5))
    val prunedRefined = rows(
      ExactIndex.topK(v, qPred, ExactIndex.fit(v, refined), 4, 5))
    assert(prunedRefined == truth, "refined-quantizer pruning must stay exact")
    def meanCand(cents: Seq[(Long, Array[Double], Double)]): Double = {
      val c = ExactIndex.candidates(v, qPred, ExactIndex.fit(v, cents), 4, 5)
        .collect().map(_.getAs[Long]("n_candidates"))
      CacheRegistry.releaseAll()
      c.sum.toDouble / c.length
    }
    val cutId = meanCand(cents0)
    val cutRefined = meanCand(refined)
    assert(cutRefined <= cutId * 1.05,
      f"Lloyd refinement should tighten (or hold) the cut: " +
        f"id-filtered $cutId%.1f vs refined $cutRefined%.1f candidates/query")
  }

  test("q163 filtered serve: exact at every selectivity (~100%, ~10%, " +
      "starved ~0.4%) against a brute filtered scan, and k re-satisfies to " +
      "the filtered-corpus size when fewer than k candidates exist", Slow) {
    val dir = "/root/testdata/sf0.01"
    val v = Similarity.plantedVectors(spark, dir)
    val qPred = expr("vec_id % 25 = 0")
    val indexPath =
      java.nio.file.Files.createTempDirectory("graft-q163-spec").toString
    ExactIndex.save(spark, indexPath,
      ExactIndex.fit(v, ExactIndex.train(v), cacheKey = Some("similarity.q163spec")))
    val model = ExactIndex.load(spark, indexPath)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
    def bruteFiltered(pred: String): Seq[Seq[Any]] = bruteTopK(v, qPred, _.filter(expr(pred)))
    // the sweep the r17 verdict asked for: a pruned serve that filters
    // AFTER ranking, or seeds its lower bound on unfiltered
    // candidates, fails one of these — returning < k rows (or wrong
    // ones) as selectivity drops
    Seq("vec_id >= 0", "vec_id % 10 = 3", "vec_id % 250 = 7").foreach { pred =>
      val got = rows(ExactIndex.topK(v, qPred, model, 4, 5,
        d => d.filter(expr(pred)), cacheKey = Some("similarity.q163spec")))
      assert(got.nonEmpty && got == bruteFiltered(pred),
        s"filtered serve != brute filtered scan under '$pred'")
    }
    // starved: 2 candidates in a 500-row corpus — every query must
    // return exactly the filtered candidates (self excluded), not k
    val nCand = v.filter(expr("vec_id % 250 = 7")).count()
    val starved = ExactIndex.topK(v, qPred, model, 4, 5,
      d => d.filter(expr("vec_id % 250 = 7")), cacheKey = Some("similarity.q163spec"))
      .groupBy(col("q_id")).count().collect()
    CacheRegistry.releaseAll()
    assert(nCand > 0 && nCand < 5, s"fixture drift: starved pred keeps $nCand")
    assert(starved.nonEmpty && starved.forall(_.getLong(1) <= nCand) &&
      starved.exists(_.getLong(1) == nCand),
      s"starved selectivity must cap rows at the filtered-corpus size ($nCand)")
  }

  test("q160 full form under an explicit query-id set (the fixed-|Q| fixture " +
      "verb): at the full fixture |Q| it reproduces the oracled q160 " +
      "row-for-row — both dense legs are exact and the sparse/fusion code " +
      "is shared, so the parameterization cannot drift", Slow) {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
      val r = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
      CacheRegistry.releaseAll()
      r
    }
    val ids = Similarity.plantedVectors(spark, dir)
      .filter(expr("vec_id % 25 = 0")).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    val got = rows(Similarity.hybridTopKExactPrunedTrainedOf(spark, dir, ids))
    val want = rows(Similarity.hybridTopKExactPrunedTrained(spark, dir))
    assert(got.nonEmpty && got == want,
      "fixed-|Q| full form at full fixture |Q| != the oracled q160")
  }

  test("q156 two-level bound: identical rows to q155 and the brute force " +
      "(the composed triangle bound stays lossless), and level 1 cuts the " +
      "per-query cell-bound rows well below ncells", Slow) {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
      val r = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
      CacheRegistry.releaseAll()
      r
    }
    Seq(sf, "/root/testdata/sf0.01").foreach { dir =>
      val one = rows(Similarity.exactPrunedTopK(spark, dir))
      val two = rows(Similarity.exactPruned2Level(spark, dir))
      assert(one.nonEmpty && one == two, s"two-level != one-level at $dir")
    }
    val dir = "/root/testdata/sf0.01"
    val v = Similarity.plantedVectors(spark, dir)
    val ncells = v.filter(expr("vec_id % 7 = 3")).count()
    val acct = ExactIndex.candidates(v, expr("vec_id % 25 = 0"),
      ExactIndex.fit(v, Similarity.trainIvfQuantizer(v, expr("vec_id % 7 = 3")),
        Some(Similarity.PlantGroupEvery)), 4, 5).collect()
    CacheRegistry.releaseAll()
    assert(acct.nonEmpty)
    val meanCellBounds = acct.map(_.getAs[Long]("n_cell_bounds")).sum.toDouble / acct.length
    assert(meanCellBounds < 0.6 * ncells,
      f"level 1 should prune groups before cell bounds: mean $meanCellBounds%.1f " +
        f"cell-bound rows/query vs ncells=$ncells (q155 always pays ncells)")
  }

  test("rrfFuse (the public fusion verb): exact integer contributions on " +
      "synthetic legs, and q93 reproduced from its two legs composed " +
      "through the public surface") {
    import spark.implicits._
    // driver-replayed: c(r) = floor(2^20 / (60 + r)); c(1)=17189, c(2)=16912
    val legA = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1))
      .toDF("query_id", "doc_id", "rank")
    val legB = Seq((1L, 11L, 1), (1L, 12L, 2), (2L, 21L, 1))
      .toDF("query_id", "doc_id", "rank")
    val got = Similarity.rrfFuse(Seq(legA, legB), topK = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_score"))).toSet
    assert(got == Set(
      (1L, 1, 11L, 34101L), // both legs: 17189 + 16912
      (1L, 2, 10L, 17189L),
      (2L, 1, 20L, 17189L), // tie with 21 breaks by doc_id
      (2L, 2, 21L, 17189L)))
    // three legs (the README recency-leg shape): a third ranker's
    // contribution folds into the same aggregate — doc 10 overtakes 11
    val legC = Seq((1L, 10L, 1)).toDF("query_id", "doc_id", "rank")
    val got3 = Similarity.rrfFuse(Seq(legA, legB, legC), topK = 1).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("rrf_score"))).toSet
    assert(got3 == Set((1L, 10L, 34378L), (2L, 20L, 17189L))) // 17189·2 = 34378 > 34101
    // q93 from its own legs, through the public verb only
    val dense = Similarity.cosineTopK(spark, sf)
      .select(col("q_id").as("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    val docs = graft.Tables.documents(spark, sf)
    val probes = docs.filter(expr("doc_id % 25 = 0"))
      .select(col("doc_id").as("query_id"),
        explode(slice(split(col("text"), " "), 1, 8)).as("w"))
      .distinct()
    val sparse = graft.operators.TextAnalysis.bm25Of(docs, probes, excludeSelf = true)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val fused = Similarity.rrfFuse(Seq(dense, sparse)).collect().map(_.toSeq).toSet
    val q93 = Similarity.hybridTopK(spark, sf).collect().map(_.toSeq).toSet
    assert(fused.nonEmpty && fused == q93,
      "public rrfFuse over q93's legs must reproduce q93 exactly")
  }

  test("q160 trained exact hybrid ≡ q158 id-filter exact hybrid: two exact " +
      "dense legs under DIFFERENT quantizers (trained √n vs id-filter n/7) " +
      "must fuse to identical rows — the quantizer-independence of the " +
      "triangle-inequality guarantee, observed through the full RRF tail") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
      val r = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(" "))
      CacheRegistry.releaseAll()
      r
    }
    Seq(sf, "/root/testdata/sf0.01").foreach { dir =>
      val idFiltered = rows(Similarity.hybridTopKExactPruned(spark, dir))
      val trained = rows(Similarity.hybridTopKExactPrunedTrained(spark, dir))
      assert(idFiltered.nonEmpty && idFiltered == trained,
        s"trained hybrid != id-filter hybrid at $dir")
    }
  }
}
