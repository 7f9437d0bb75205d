package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{FpIndex, TextAnalysis}

/** End-to-end TRAINING-SHARD EXPORT — the pipeline's final
  * deliverable, composed from verbs that are each already oracled:
  *
  *   q161 BPE merge training → q162 chain-projection encode
  *     → q62-form token-budget packing → manifest-committed publish
  *
  * in ONE write action, with TOKEN-MASS AND DOC-COUNT CONSERVATION
  * proven by `observe` metrics on the same action (the CorpusPipeline
  * funnel pattern: observation nodes count rows/mass as they stream
  * through the one real job — a per-stage `count()` would re-run the
  * encode per stage) and HARD-GATED by a `require` before the report
  * is returned. The published rows are the shard CONTENT — (doc_id,
  * source, shard_id, bpe_tokens, text) — partitioned into fixed
  * token-budget shards a pretraining data loader consumes directly;
  * [[TextAnalysis.shardManifest]] (q164) is the oracled manifest of
  * the same assignment, shared seam [[TextAnalysis.shardAssignOf]],
  * so the DuckDB-gated per-shard totals and the published files agree
  * by construction. ShardExportSpec re-reads the published shards in
  * a FRESH session and re-aggregates them to the q164 manifest —
  * the external half of the conservation proof.
  *
  * Scale shape: one (doc_id, word) aggregate + map-only encode, one
  * per-source running-sum window (packing parallel across sources),
  * one id-equi join back to the text (the only corpus×corpus join —
  * both sides hash-partition on doc_id), one manifest-committed
  * write. The driver holds the R=4 merge winner rows and two
  * observation structs. */
object ShardExport {

  case class ShardStage(stage: String, docs: Long, tokens: Long)

  /** Tokenize → pack → publish; returns the conservation report
    * (corpus-encode mass vs published mass, already `require`-gated
    * equal). */
  def run(spark: SparkSession, dir: String, outDir: String): Seq[ShardStage] = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val (mergeRows, syms) = TextAnalysis.bpeMergeRounds(docs, TextAnalysis.BpeOracleRounds)
    val types = TextAnalysis.bpeHeadTypes(syms) // local, collected under the cap
    syms.unpersist()
    val empty = Seq.empty[(String, Long)].toDF("source", "next_off")
    publishBatch(docs, mergeRows.map(r => (r._2, r._3, r._4)), empty, outDir,
      Some(types))._1
  }

  // ------------------------------------------- incremental admission

  /** The publish core [[build]] and [[admit]] share: encode `docs`
    * under `merges`, CONTINUE each source's token offset from
    * `baseTails` (source, next_off — empty for an initial build) by
    * shifting the RAW within-batch offsets BEFORE the shard-id floor
    * ([[TextAnalysis.shardOffsetsOf]] — flooring first would lose the
    * within-shard position), publish the shard rows in ONE observed
    * manifest-committed action, and return (stages, the batch's
    * updated per-source tails, collected — |sources|-bounded). The
    * conservation require runs here, so every admission batch is
    * gated exactly like the initial export. The shifted-offset frame
    * is persisted for the batch duration (delta-sized by the admit
    * contract; corpus-sized once at build — the same one-extra-pass
    * trade CorpusPipeline documents) because it feeds both the
    * publish action and the tails aggregate. */
  private def publishBatch(docs: DataFrame,
      merges: Seq[(String, String, String)],
      baseTails: DataFrame,
      outDir: String,
      types: Option[DataFrame] = None): (Seq[ShardStage], Seq[(String, Long, Long)]) = {
    val oPublish = Observation()
    val offsets = TextAnalysis.shardOffsetsOf(docs, merges, types)
      .join(broadcast(baseTails), Seq("source"), "left")
      .withColumn("base", coalesce(col("next_off"), lit(0L)))
      .withColumn("shard_id",
        expr(s"(base + off) div ${TextAnalysis.ShardBudget}"))
      .select(col("doc_id"), col("source"), col("bpe_tokens"), col("off"),
        col("base"), col("shard_id"))
      .persist()
    try {
      val encRow = offsets
        .agg(count(lit(1)), coalesce(sum(col("bpe_tokens")), lit(0L))).collect()(0)
      val enc = ShardStage("corpus_encode", encRow.getLong(0), encRow.getLong(1))
      // RANGE-partition the publish by doc_id: each published file
      // then covers a tight contiguous id span, so the sink's per-file
      // [min, max] stats are DISJOINT and an id-targeted retraction's
      // skip-scan reads only the files actually holding the ids (the
      // clustering-makes-stats-selective rule OPTIMIZE ZORDER applies
      // at maintenance time, bought here at write time for the column
      // takedowns key on)
      val published = offsets
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("shard_id"),
          col("bpe_tokens"), col("text"))
        .repartitionByRange(col("doc_id"))
        .observe(oPublish, count(lit(1)).as("docs"),
          coalesce(sum(col("bpe_tokens")), lit(0L)).as("tokens"))
      published.write.format("graft.sources.ManifestSink")
        .option("path", outDir).mode(SaveMode.Append).save()
      val pub = ShardStage("published",
        oPublish.get("docs").asInstanceOf[Long],
        oPublish.get("tokens").asInstanceOf[Long])
      require(enc.docs == pub.docs && enc.tokens == pub.tokens,
        s"shard export lost mass: encoded ${enc.docs} docs/${enc.tokens} tokens, " +
          s"published ${pub.docs}/${pub.tokens}")
      // next_off = base + Σ batch tokens = the LAST doc's shifted end
      // (off is the within-source running sum, so max(base+off+tok)
      // is exactly the source's new tail)
      val tails = offsets.groupBy(col("source"))
        .agg(max(col("base") + col("off") + col("bpe_tokens")).as("next_off"),
          max(col("doc_id")).as("max_doc"))
        .collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("next_off"),
          r.getAs[Long]("max_doc"))).toSeq
      (Seq(enc, pub), tails)
    } finally offsets.unpersist()
  }

  /** Export + STORE the tokenizer/packer state as serving artifacts
    * (the IndexBuild pattern): the q161-trained merge table and the
    * per-source pack tails (next token offset + max admitted doc id),
    * both manifest-committed flat tables under `indexPath`. Arrival
    * batches then [[admit]] WITHOUT retraining — the tokenizer is a
    * frozen model artifact exactly like a stored quantizer. */
  def build(spark: SparkSession, dir: String, outDir: String,
      indexPath: String): Seq[ShardStage] =
    buildOf(Tables.documents(spark, dir), outDir, indexPath)

  /** [[build]] over an arbitrary (doc_id, source, text) frame — the
    * seam the admission spec trains on a PREFIX corpus through. */
  def buildOf(docs: DataFrame, outDir: String,
      indexPath: String): Seq[ShardStage] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (mergeRows, syms) = TextAnalysis.bpeMergeRounds(docs, TextAnalysis.BpeOracleRounds)
    val types = TextAnalysis.bpeHeadTypes(syms) // local, collected under the cap
    syms.unpersist()
    FpIndex.saveFlat(s"$indexPath/merges",
      mergeRows.map(r => (r._1, r._2, r._3, r._4))
        .toDF("round", "lhs", "rhs", "merged"))
    val merges = mergeRows.map(r => (r._2, r._3, r._4))
    val empty = Seq.empty[(String, Long)].toDF("source", "next_off")
    val (stages, tails) = publishBatch(docs, merges, empty, outDir, Some(types))
    FpIndex.saveFlat(s"$indexPath/tails",
      tails.toDF("source", "next_off", "max_doc"))
    stages
  }

  /** Load the stored merge table in training order. */
  def loadMerges(spark: SparkSession, indexPath: String): Seq[(String, String, String)] =
    FpIndex.loadFlat(spark, s"$indexPath/merges")
      .orderBy(col("round")).collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"),
        r.getAs[String]("merged"))).toSeq

  /** The per-source tails, MAX-MERGED over every visible commit —
    * both columns are monotone under admission, so duplicate source
    * rows from deltas merge safely (the [[graft.operators.AnnIndex.loadStats]] rule). */
  def loadTails(spark: SparkSession, indexPath: String): DataFrame =
    FpIndex.loadFlat(spark, s"$indexPath/tails")
      .groupBy(col("source"))
      .agg(max(col("next_off")).as("next_off"), max(col("max_doc")).as("max_doc"))

  /** Admit an arrival batch of (doc_id, source, text) to a BUILT
    * shard export: encode under the STORED merge table (no retrain —
    * the tokenizer is frozen between [[build]]s, like every stored
    * model artifact), continue each source's token offset from the
    * stored tail, publish the rows manifest-committed, delta-admit
    * the updated tails. The MONOTONE-ID contract (every batch doc_id
    * strictly above the source's stored max — the log-structured
    * ingest rule) is what makes incremental ≡ one-shot: under it the
    * admission order IS doc_id order, so the continued offsets
    * reproduce the full-corpus running-sum window exactly
    * (ShardExportSpec gates 2 admissions ≡ the from-scratch export
    * over the concatenated corpus under the same merges, and pins
    * that an out-of-order batch is REFUSED). */
  def admit(spark: SparkSession, indexPath: String, outDir: String,
      batch: DataFrame): Seq[ShardStage] = {
    val merges = loadMerges(spark, indexPath)
    val tails = loadTails(spark, indexPath)
    // |sources|-bounded guard collect: a batch id at or below a stored
    // max would interleave into already-published shards
    val violations = batch.groupBy(col("source"))
      .agg(min(col("doc_id")).as("min_doc"))
      .join(tails, Seq("source"))
      .filter(col("min_doc") <= col("max_doc"))
      .collect()
    require(violations.isEmpty,
      s"out-of-order admission: batch ids at/below the stored max for " +
        violations.map(_.getAs[String]("source")).mkString("[", ", ", "]") +
        " — shard packing is append-only per source (monotone doc_id contract)")
    val (stages, newTails) = publishBatch(batch, merges,
      tails.select(col("source"), col("next_off")), outDir)
    import spark.implicits._
    FpIndex.deltaAppendFlat(spark, s"$indexPath/tails",
      newTails.toDF("source", "next_off", "max_doc"))
    stages
  }

  // -------------------------------------------------------- retraction

  /** RETRACT published documents (takedown/licensing/user-deletion —
    * the compliance half of the lifecycle): a file-granular DELETE on
    * the published shard table ([[graft.sources.ManifestDelete]] —
    * only data files HOLDING a retracted row are rewritten; every
    * other committed file is adopted byte-untouched). Shards are NOT
    * repacked and the stored pack tails are NOT rewound: the
    * published offsets are the contract, surviving docs keep their
    * shard, retracted mass leaves shards underfull, and future
    * admissions still append at the stored tail — so retraction
    * commutes with admission and the post-state is exactly the q167
    * oracle ([[graft.operators.TextAnalysis.retractedShardManifestOf]];
    * ShardExportSpec closes the loop through a fresh-session
    * re-read). Repacking is a scheduled re-[[build]], not this path.
    *
    * `docIds` is the takedown list — driver-resident BY CONTRACT
    * (retraction batches are request-sized, not corpus-sized); a
    * corpus-scale purge is a rebuild. Returns the count removed. */
  def retract(spark: SparkSession, outDir: String, docIds: Seq[Long]): Long = {
    import org.apache.spark.sql.{sources => v1}
    val before = spark.read.format("graft.sources.ManifestSink")
      .option("path", outDir).load()
      .filter(col("doc_id").isin(docIds: _*)).count()
    graft.sources.ManifestDelete.run(outDir,
      Array(v1.In("doc_id", docIds.map(Long.box).toArray[Any])))
    before
  }

  /** Export timing harness (the PERF.md row): one [[run]] over
    * `SPARK_GRAFT_SF_DIR`, printing the conservation report and the
    * wall clock as one JSON line. */
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-shards").toString)
    val spark = graft.GraftSession.local()
    val t0 = System.nanoTime()
    val stages = run(spark, dir, out)
    val sec = (System.nanoTime() - t0) / 1e9
    val body = stages.map(s =>
      s""""${s.stage}": {"docs": ${s.docs}, "tokens": ${s.tokens}}""").mkString(", ")
    println(f"""{"run_sec": $sec%.3f, $body, "sf": "$dir", "out": "$out"}""")
    spark.stop()
  }
}
