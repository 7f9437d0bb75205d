package graft
import org.apache.spark.sql.DataFrame

/** Optimization-round measurement scratchpad (guide §1): times named
  * sub-frames of expensive queries under the bench contract (noop
  * sink, warmup + 3-rep median) so a change targets the stage that
  * actually costs, not the one that looks complex. Not part of the
  * driver contract; experiments come and go between commits.
  *
  * Run: `sbt "runMain graft.Probe [sfDir]"` (cpus from
  * SPARK_GRAFT_CPUS, default 32).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)

    def time(name: String, release: Boolean = true)(fn: => DataFrame): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        fn.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(name)
      once() // warmup
      val times = (1 to 3).map(_ => once()).sorted
      println(f"PROBE $name%-40s ${times(1)}%.3f s")
      if (release) CacheRegistry.releaseAll()
      spark.sparkContext.setJobDescription(null)
    }

    val only = sys.env.get("GRAFT_PROBE_ONLY").map(_.split(',').map(_.trim).toSet)
    def probeQ(name: String): Unit =
      if (only.forall(_.contains(name)))
        time(name)(SparkEntry.queries(name)(spark, sfDir))

    // whole-query probes (same contract as Bench, targeted)
    sys.env.get("GRAFT_PROBE_QUERIES").foreach(_.split(',').map(_.trim)
      .foreach(probeQ))

    // --- q114 stage decomposition (mirrors Dedup.kmvOverlap internals)
    if (sys.env.get("GRAFT_PROBE_SET").contains("q114")) {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val OvK = 64
      def shRaw = Tables.documents(spark, sfDir)
        .select(col("source"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("source"),
          explode(graft.functions.TextHash.wordNGramHashes(col("t"), 3)).as("h"))
        .withColumn("hv", expr("(h * 2654435761) % 4294967296"))
        .select(col("source"), col("hv"))
        .distinct()
      def shC = CacheRegistry.getOrCache(spark, s"probe.sh:$sfDir")(shRaw)
      time("q114.sh_build_uncached", release = true)(shRaw)
      time("q114.sh_cached_scan", release = false)(shC)
      def cut = {
        val wS = Window.partitionBy(col("source")).orderBy(col("hv"))
        shC.withColumn("rk", row_number().over(wS))
          .filter(col("rk") <= OvK).select(col("source"), col("hv"))
      }
      time("q114.kmvCut", release = false)(cut)
      time("q114.card", release = false)(
        shC.groupBy(col("source")).agg(count(lit(1)).as("n")))
      time("q114.exact_selfjoin", release = false)(
        shC.select(col("source").as("source_a"), col("hv"))
          .join(shC.select(col("source").as("source_b"), col("hv")), "hv")
          .filter(col("source_a") < col("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("exact_inter")))
      time("q114.exact_shufflehash", release = false)(
        shC.select(col("source").as("source_a"), col("hv"))
          .hint("shuffle_hash")
          .join(shC.select(col("source").as("source_b"), col("hv")), "hv")
          .filter(col("source_a") < col("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("exact_inter")))
      CacheRegistry.releaseAll()
      time("q114.full")(SparkEntry.queries("q114_kmv_overlap")(spark, sfDir))
    }

    // --- q114 TAIL decomposition with sk/card cached
    if (sys.env.get("GRAFT_PROBE_SET").contains("q114tail")) {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val OvK = 64
      def shRaw = Tables.documents(spark, sfDir)
        .select(col("source"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("source"),
          explode(graft.functions.TextHash.wordNGramHashes(col("t"), 3)).as("h"))
        .withColumn("hv", expr("(h * 2654435761) % 4294967296"))
        .select(col("source"), col("hv"))
        .distinct()
      val sh = CacheRegistry.getOrCache(spark, s"probe.sh:$sfDir")(shRaw)
      val sk = CacheRegistry.getOrCache(spark, s"probe.sk:$sfDir") {
        val wS = Window.partitionBy(col("source")).orderBy(col("hv"))
        sh.withColumn("rk", row_number().over(wS))
          .filter(col("rk") <= OvK).select(col("source"), col("hv"))
      }
      val card = CacheRegistry.getOrCache(spark, s"probe.card:$sfDir")(
        sh.groupBy(col("source")).agg(count(lit(1)).as("n")))
      val pairs = card.select(col("source").as("source_a"), col("n").as("n_a"))
        .join(card.select(col("source").as("source_b"), col("n").as("n_b")),
          col("source_a") < col("source_b"))
      val ska = sk.select(col("source").as("source_a"), col("hv"))
      val skb = sk.select(col("source").as("source_b"), col("hv"))
      val mg = pairs.select(col("source_a"), col("source_b"))
        .join(ska, "source_a")
        .select(col("source_a"), col("source_b"), col("hv"))
        .union(pairs.select(col("source_a"), col("source_b"))
          .join(skb, "source_b")
          .select(col("source_a"), col("source_b"), col("hv")))
        .distinct()
      val wP = Window.partitionBy(col("source_a"), col("source_b"))
        .orderBy(col("hv"))
      val tau = mg.withColumn("rk", row_number().over(wP))
        .filter(col("rk") === OvK)
        .select(col("source_a"), col("source_b"), col("hv").as("tau"))
      val msz = mg.groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("msz"))
      val rho = ska.join(skb, "hv")
        .filter(col("source_a") < col("source_b"))
        .join(tau, Seq("source_a", "source_b"), "left")
        .filter(col("tau").isNull || col("hv") <= col("tau"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("rho"))
      time("tail.pairs", release = false)(pairs)
      time("tail.mg", release = false)(mg)
      time("tail.tau", release = false)(tau)
      time("tail.msz", release = false)(msz)
      time("tail.rho", release = false)(rho)
      time("tail.joined", release = false)(
        pairs.join(msz, Seq("source_a", "source_b"))
          .join(tau, Seq("source_a", "source_b"), "left")
          .join(rho, Seq("source_a", "source_b"), "left"))
      CacheRegistry.releaseAll()
    }

    // --- q66 A/B: 4-corpus-pass original vs cached (source,token) form
    if (sys.env.get("GRAFT_PROBE_SET").contains("q66ab")) {
      import org.apache.spark.sql.functions._
      val DivTopV = 100
      def oldForm = {
        val tok = Tables.documents(spark, sfDir)
          .select(col("source"), explode(split(col("text"), " ")).as("token"))
        val corpusCnt = tok.groupBy(col("token")).agg(count(lit(1)).as("c_cnt"))
        val totalAll = tok.agg(count(lit(1)).as("c_tot"))
        val topQ = corpusCnt.orderBy(col("c_cnt").desc, col("token")).limit(DivTopV)
          .crossJoin(broadcast(totalAll))
          .withColumn("q_ppm", expr("(1000000 * c_cnt) div c_tot"))
          .select(col("token"), col("q_ppm"))
        val qConst = topQ.agg(sum(col("q_ppm")).as("q_sum"))
        val srcTot = tok.groupBy(col("source")).agg(count(lit(1)).as("s_tot"))
        val deltas = tok.join(broadcast(topQ), "token")
          .groupBy(col("source"), col("token"), col("q_ppm"))
          .agg(count(lit(1)).as("s_cnt"))
          .join(broadcast(srcTot), "source")
          .withColumn("delta",
            abs(expr("(1000000 * s_cnt) div s_tot") - col("q_ppm")) - col("q_ppm"))
          .groupBy(col("source")).agg(sum(col("delta")).as("d_sum"))
        srcTot.join(deltas, Seq("source"), "left")
          .crossJoin(broadcast(qConst))
          .withColumn("l1_ppm", coalesce(col("d_sum"), lit(0L)) + col("q_sum"))
          .select(col("source"), col("l1_ppm"))
      }
      time("q66.oldform")(oldForm)
      time("q66.newform")(SparkEntry.queries("q66_source_divergence")(spark, sfDir))
      time("q66.oldform2")(oldForm)
      time("q66.newform2")(SparkEntry.queries("q66_source_divergence")(spark, sfDir))
    }

    // --- q120 containment dedup decomposition
    if (sys.env.get("GRAFT_PROBE_SET").contains("q120")) {
      import org.apache.spark.sql.functions._
      val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      val off = base.agg((max(col("doc_id")) + lit(1L)).as("off"))
      val trunc = base.crossJoin(broadcast(off))
        .select((col("doc_id") + col("off")).as("doc_id"),
          expr("array_join(slice(split(text, ' '), 1, " +
            "CAST(greatest(size(split(text, ' ')) div 2, 3) AS INT)), ' ')")
            .as("text"))
        .filter(size(split(col("text"), " ")) >= 3)
      val sh = operators.Dedup.shingleTable(base.unionAll(trunc))
      def exkRaw = {
        val ex = sh.select(col("doc_id"), explode(col("hh")).as("h"))
        val keep = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= 50)
          .select(col("h"))
        ex.join(keep, "h")
      }
      time("q120.exk_build", release = true)(exkRaw)
      val exk = CacheRegistry.getOrCache(spark, "probe.q120exk")(exkRaw)
      time("q120.exk_cached_scan", release = false)(exk)
      time("q120.nk", release = false)(
        exk.groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept")))
      time("q120.pairs", release = false)(
        exk.as("a").join(exk.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .agg(count(lit(1)).as("inter")))
      time("q120.pairs_shufflehash", release = false)(
        exk.as("a").hint("shuffle_hash").join(exk.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .agg(count(lit(1)).as("inter")))
      CacheRegistry.releaseAll()
      time("q120.full")(SparkEntry.queries("q120_containment_dedup")(spark, sfDir))
    }

    // --- q100 basket lift decomposition
    if (sys.env.get("GRAFT_PROBE_SET").contains("q100")) {
      import org.apache.spark.sql.functions._
      def basketsRaw = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      time("q100.baskets_build", release = true)(basketsRaw)
      val baskets = CacheRegistry.getOrCache(spark, "probe.q100baskets")(basketsRaw)
      time("q100.baskets_cached_scan", release = false)(baskets)
      def pairsOf(b: org.apache.spark.sql.DataFrame, hint: Boolean) = {
        val left = if (hint) b.select(col("o"), col("p").as("pa")).hint("shuffle_hash")
          else b.select(col("o"), col("p").as("pa"))
        left.join(b.select(col("o"), col("p").as("pb")), "o")
          .filter(col("pa") < col("pb"))
          .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 2)
      }
      time("q100.pairs_smj_cached", release = false)(pairsOf(baskets, hint = false))
      time("q100.pairs_shj_cached", release = false)(pairsOf(baskets, hint = true))
      CacheRegistry.releaseAll()
      time("q100.full")(SparkEntry.queries("q100_basket_lift")(spark, sfDir))
    }

    // --- BPE family decomposition: training wall clock (eager, collect-
    // driven — not noop-timeable) vs the encode leg, chain vs head join
    if (sys.env.get("GRAFT_PROBE_SET").contains("bpe")) {
      import org.apache.spark.sql.functions._
      def wall[T](name: String)(f: => T): T = {
        val t0 = System.nanoTime(); val r = f
        println(f"PROBE $name%-40s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
      }
      val docs = Tables.documents(spark, sfDir)
      val (_, symsW) = operators.TextAnalysis.bpeMergeRounds(docs, 4) // warmup
      symsW.unpersist()
      (1 to 3).foreach { i =>
        val (rows, syms) =
          wall(s"bpe.train_$i")(operators.TextAnalysis.bpeMergeRounds(docs, 4))
        val merges = rows.map(r => (r._2, r._3, r._4))
        time(s"bpe.encode_chain_$i", release = false)(
          operators.TextAnalysis.bpeTokenCountsChain(docs, merges))
        time(s"bpe.encode_head_$i", release = false)(
          operators.TextAnalysis.bpeTokenCountsChain(docs, merges,
            Some(operators.TextAnalysis.bpeHeadTypes(syms))))
        syms.unpersist()
      }
    }

    // --- bm25 sparse-leg decomposition over the zipf corpus
    if (sys.env.get("GRAFT_PROBE_SET").contains("bm25")) {
      import org.apache.spark.sql.functions._
      val docs = operators.TextAnalysis.zipfDocsOf(
        Tables.documents(spark, sfDir).select(col("doc_id")))
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      val tf = CacheRegistry.getOrCache(spark, "probe.bm25tf") {
        toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      }
      time("bm25.tf_cached_scan", release = false)(tf)
      time("bm25.dl", release = false)(
        tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
      time("bm25.dfreq", release = false)(
        tf.groupBy(col("w")).agg(count(lit(1)).as("df")))
      val probes = docs.filter(expr("doc_id % 25 = 0"))
        .select(col("doc_id").as("query_id"),
          explode(slice(split(col("text"), " "), 1, 8)).as("w"))
        .distinct()
      time("bm25.probes", release = false)(probes)
      time("bm25.full_leg", release = false)(
        operators.TextAnalysis.bm25Of(docs, probes, excludeSelf = true,
          maxDfFrac = Some(operators.TextAnalysis.ZipfMaxDfFrac)))
      CacheRegistry.releaseAll()
    }

    spark.stop()
  }
}
