package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, FpIndex}
import graft.streaming.Incremental

/** The stored FINGERPRINT-index lifecycle — AnnIndexSpec's contract
  * (build once, persist via ManifestSink, serve in a NEW session with
  * results identical to the in-session build) extended to the dedup
  * band index, the BM25 posting index, and the multimodal frame/
  * fingerprint tables. These are flat scalar tables, so the parity
  * claim is exact row equality end-to-end.
  */
class StoredIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-fpindex-$tag").toString

  private def sortedRows(rows: Array[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq).toSeq.sortBy(_.mkString("\u0000"))

  test("q85 lifecycle: persist the band + shingle indexes → NEW session serves " +
      "the delta probe row-equal to the in-session build") {
    CacheRegistry.releaseAll()
    val want = sortedRows(Dedup.deltaNearDup(spark, sf).collect())
    assert(want.nonEmpty, "fixture delta must find near-dups or the parity claim is vacuous")
    val path = tmp("bands")
    FpIndex.saveFlat(s"$path/bands", Dedup.bandIndexOf(spark, sf))
    FpIndex.saveOrRebuildShingles(spark, s"$path/shingles", Dedup.shingleIndexOf(spark, sf))
    CacheRegistry.releaseAll()
    val serve = spark.newSession() // nothing shingled or banded here
    val got = sortedRows(Dedup.deltaNearDupServe(
      FpIndex.loadFlat(serve, s"$path/bands"),
      FpIndex.loadShingles(serve, s"$path/shingles")).collect())
    assert(got == want, s"served q85 must equal in-session q85 (${got.size} vs ${want.size})")
  }

  test("posting index lifecycle: the stored table round-trips exactly and the " +
      "retrieval probe scores identically from the loaded index") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val postings = Incremental.postingTable(docs)
    val path = tmp("postings")
    FpIndex.saveFlat(s"$path/postings", postings)
    val serve = spark.newSession()
    val loaded = FpIndex.loadFlat(serve, s"$path/postings")
    assert(sortedRows(loaded.collect()) == sortedRows(postings.collect()),
      "posting rows (incl. string terms) must round-trip exactly")
    // the retrieval probe runs its batch-mode twin against the loaded
    // index — scores must be bit-identical to the in-memory postings
    val probes = docs.orderBy(col("doc_id")).limit(3)
      .select(col("doc_id").as("query_id"), col("text"))
    val want = sortedRows(Incremental.retrievalStream(probes, postings).collect())
    val got = sortedRows(Incremental.retrievalStream(probes, loaded).collect())
    assert(want.nonEmpty && got == want, "served retrieval scores must match")
  }

  test("video frame index lifecycle: the hub-capped stored index round-trips and " +
      "the frame vote pairs identically against the loaded index") {
    import spark.implicits._
    // 40 videos x 50 frames; videos 0 and 1 share 30 frames
    val frames = (0 until 40).flatMap { v =>
      (0 until 50).map { k =>
        val fh = if (v <= 1 && k < 30) 900000L + k else v * 1000L + k
        (v.toLong, fh)
      }
    }.toDF("doc_id", "fh")
    val idx = Incremental.videoFrameIndex(frames)
    val path = tmp("frames")
    FpIndex.saveFlat(s"$path/frames", idx)
    val serve = spark.newSession()
    val loaded = FpIndex.loadFlat(serve, s"$path/frames")
    assert(sortedRows(loaded.collect()) == sortedRows(idx.collect()),
      "frame index must round-trip exactly")
    // an arriving batch probed against the loaded index votes the same
    def probe(index: org.apache.spark.sql.DataFrame) = sortedRows(
      frames.filter(col("doc_id") === 0L).join(index, "fh")
        .filter(col("doc_id") =!= col("corpus_id"))
        .groupBy(col("doc_id"), col("corpus_id")).agg(count(lit(1)).as("matched"))
        .filter(col("matched") >= 20).collect())
    val want = probe(idx)
    assert(want.nonEmpty && probe(loaded) == want, "served vote must match in-memory vote")
  }

  test("CMS sketch lifecycle: two stored partial sketches merge cell-wise into " +
      "EXACTLY the whole-corpus sketch; estimates serve bit-identically") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val path = tmp("cms")
    FpIndex.saveFlat(s"$path/cms1", TextAnalysis.cmsSketchOf(half1))
    FpIndex.saveFlat(s"$path/cms2", TextAnalysis.cmsSketchOf(half2))
    val serve = spark.newSession()
    val merged = TextAnalysis.cmsMerge(
      FpIndex.loadFlat(serve, s"$path/cms1"), FpIndex.loadFlat(serve, s"$path/cms2"))
    val whole = TextAnalysis.cmsSketchOf(Tables.documents(serve, sf)
      .select(col("doc_id"), col("text")))
    assert(sortedRows(merged.collect()) == sortedRows(whole.collect()),
      "cell-wise addition of partial sketches IS the whole-corpus sketch")
    // estimates served from the merged stored sketch = batch estimates
    val probe = TextAnalysis.vocabTopK(serve, sf).select(col("token"))
    val got = sortedRows(TextAnalysis.cmsEstimateOf(merged, probe).collect())
    val want = sortedRows(TextAnalysis.cmsEstimateOf(whole, probe).collect())
    assert(want.nonEmpty && got == want, "served estimates must be bit-identical")
  }

  test("volume baseline lifecycle: the trained stats store losslessly (decimal via " +
      "string), two stored windows merge into the whole, and the served verdict " +
      "is bit-identical") {
    import graft.operators.Extended
    import spark.implicits._
    val typed = Tables.events(spark, sf)
      .selectExpr("event_type", s"${Tables.epochSecSql} div 86400 AS day_no")
    val whole = Extended.volumeStatsOf(typed)
    val path = tmp("volstats")
    // two disjoint training windows, stored separately
    val mid = typed.agg((min(col("day_no")) + max(col("day_no"))).as("m"))
      .head().getLong(0) / 2
    Extended.saveVolumeStats(s"$path/w1", Extended.volumeStatsOf(
      typed.filter(col("day_no") <= mid)))
    Extended.saveVolumeStats(s"$path/w2", Extended.volumeStatsOf(
      typed.filter(col("day_no") > mid)))
    val serve = spark.newSession()
    val merged = Extended.mergeVolumeStats(
      Extended.loadVolumeStats(serve, s"$path/w1"),
      Extended.loadVolumeStats(serve, s"$path/w2"))
    assert(sortedRows(merged.collect()) == sortedRows(whole.collect()),
      "summed sufficient statistics of stored windows ARE the whole-window baseline")
    // batch twin of the stream verdict: a window count joined to the
    // baseline must produce the same z2/flag from stored and in-memory
    def verdict(stats: org.apache.spark.sql.DataFrame) = sortedRows(
      Seq(("click", 1000L), ("click", 5L)).toDF("event_type", "n_events")
        .join(stats, "event_type")
        .selectExpr("event_type", "n_events",
          "CAST((400 * CAST(n_days * n_events - s1 AS DECIMAL(38,0))" +
            " * CAST(n_days * n_events - s1 AS DECIMAL(38,0)))" +
            " div greatest(4 * (CAST(n_days AS DECIMAL(38,0)) * s2" +
            " - CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0))), 1)" +
            " AS BIGINT) AS z2_x100")
        .collect())
    val want = verdict(whole)
    assert(want.nonEmpty && verdict(merged) == want,
      "verdict from the stored+merged baseline must equal the in-session baseline")
  }

  test("novelty shingle-set lifecycle: the stored corpus set round-trips and the " +
      "novelty gate scores arrivals identically from the loaded set") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val idx = Incremental.corpusShingleSet(docs)
    val path = tmp("novset")
    FpIndex.saveFlat(s"$path/shset", idx)
    val serve = spark.newSession()
    val loaded = FpIndex.loadFlat(serve, s"$path/shset")
    assert(sortedRows(loaded.collect()) == sortedRows(idx.collect()),
      "the one-column shingle set must round-trip exactly")
    // batch twin of the arriving-doc probe: scores from the loaded set
    // must equal scores from the in-session set
    val arrivals = docs.orderBy(col("doc_id")).limit(5)
    val want = sortedRows(Incremental.noveltyStream(arrivals, idx).collect())
    val got = sortedRows(Incremental.noveltyStream(arrivals, loaded).collect())
    assert(want.nonEmpty && got == want, "served novelty must match in-session novelty")
  }

  test("curation gate lifecycle: stored key + band + shingle indexes serve the " +
      "ingest gate row-equal to the in-session build (batch replay of the stream plan)") {
    import graft.operators.Dedup
    val foxText =
      "the quick brown fox jumps over the lazy dog near the river bank today"
    def arrivalsOf(s: SparkSession) = {
      import s.implicits._
      Seq(
        (201L, foxText), // exact dup of stored 101
        (202L, "the quick brown fox jumps over the lazy dog near the river bank now"),
        (203L, "entirely novel text sharing no shingles with anything stored here at all"),
        (204L, "hi there")).toDF("doc_id", "text")
    }
    val corpus = {
      import spark.implicits._
      Seq((101L, foxText),
        (102L, "completely different content about satellite imagery and water bodies"))
        .toDF("doc_id", "text")
    }
    val keys = Incremental.corpusKeySet(corpus)
    val sh = Dedup.shingleTable(corpus)
    val bands = Dedup.bandTable(sh)
    val want = sortedRows(
      Incremental.curationGateStream(arrivalsOf(spark), keys, bands, sh).collect())
    assert(want.size == 4 && want.exists(_.contains("near_dedup")),
      "the in-session gate must exercise the near-dup stage or parity is weak")
    val path = tmp("gate")
    FpIndex.saveFlat(s"$path/keys", keys)
    FpIndex.saveFlat(s"$path/bands", bands)
    FpIndex.saveOrRebuildShingles(spark, s"$path/shingles", sh)
    val serve = spark.newSession() // nothing keyed, shingled, or banded here
    val got = sortedRows(Incremental.curationGateStream(
      arrivalsOf(serve),
      FpIndex.loadFlat(serve, s"$path/keys"),
      FpIndex.loadFlat(serve, s"$path/bands"),
      FpIndex.loadShingles(serve, s"$path/shingles")).collect())
    assert(got == want, "served gate verdicts must equal in-session verdicts")
  }

  test("append-over-live-index fails fast in the distributed loads too: " +
      "duplicated shingle sets and code tables raise at load, never serve") {
    import spark.implicits._
    def chainHas(e: Throwable, s: String): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains(s)))
    val sh = Seq((1L, Seq(10L, 20L, 30L))).toDF("doc_id", "hh")
    val shPath = tmp("dupsh")
    // a raw append of the encoded rows over the live table, twice
    FpIndex.saveFlat(s"$shPath/sh", FpIndex.shingleRows(sh))
    FpIndex.saveFlat(s"$shPath/sh", FpIndex.shingleRows(sh))
    val e1 = intercept[Exception](FpIndex.loadShingles(spark, s"$shPath/sh").collect())
    assert(chainHas(e1, "saveOrRebuildShingles") && !chainHas(e1, "TRUNCATE"), e1.toString)
    import graft.operators.AnnIndex
    val coded = Seq((7L, 0L, Seq(1, 2))).toDF("vec_id", "cell", "codes")
    val cdPath = tmp("dupcodes")
    FpIndex.saveFlat(s"$cdPath/codes", AnnIndex.codeRows(coded))
    FpIndex.saveFlat(s"$cdPath/codes", AnnIndex.codeRows(coded))
    val e2 = intercept[Exception](AnnIndex.loadCodes(spark, s"$cdPath/codes").collect())
    assert(chainHas(e2, "saveOrRebuildCodes") && !chainHas(e2, "TRUNCATE"), e2.toString)
  }

  test("generation rebuild: a reader pinned via asOfManifest serves identical " +
      "rows across a concurrent rebuild; un-pinned loads serve the new build " +
      "atomically — never empty, never a mix") {
    import spark.implicits._
    val path = s"${tmp("genreb")}/bands"
    val v1 = Seq((1L, 100L), (2L, 200L)).toDF("doc_id", "bkey")
    FpIndex.saveFlat(path, v1)
    // the serving session opens and PINS the version it loaded against
    val pin = Some(FpIndex.tableVersion(path))
    val pinned = FpIndex.loadFlat(spark, path, pin)
    val before = sortedRows(pinned.collect())
    assert(before == sortedRows(v1.collect()))
    // nightly rebuild lands mid-session — ONE atomic commit
    val v2 = Seq((1L, 111L), (3L, 333L), (4L, 444L)).toDF("doc_id", "bkey")
    FpIndex.rebuildFlat(spark, path, v2)
    // the pinned reader RE-PLANS (new action) and still serves v1 —
    // the TRUNCATE+append sequence this replaces would either error
    // (snapshot expired by the checkpoint swap) or serve an empty index
    assert(sortedRows(FpIndex.loadFlat(spark, path, pin).collect()) == before,
      "pinned reader must keep serving the build it loaded against")
    assert(sortedRows(pinned.collect()) == before,
      "the already-constructed pinned frame must re-plan to the same rows")
    // a fresh un-pinned session serves the new build, whole and alone
    val serve = spark.newSession()
    assert(sortedRows(FpIndex.loadFlat(serve, path).collect()) == sortedRows(v2.collect()),
      "un-pinned load must serve exactly the rebuilt rows — no v1 remnants")
    // a second rebuild keeps generations monotone
    val v3 = Seq((9L, 999L)).toDF("doc_id", "bkey")
    FpIndex.rebuildFlat(spark, path, v3)
    assert(sortedRows(FpIndex.loadFlat(serve, path).collect()) == sortedRows(v3.collect()))
    assert(sortedRows(FpIndex.loadFlat(spark, path, pin).collect()) == before,
      "two rebuilds later the pinned snapshot is still addressable")
  }

  test("racing rebuilds: both read the same table version; exactly one wins " +
      "deterministically, the loser aborts with ConcurrentModificationException " +
      "and its rows never serve") {
    import spark.implicits._
    val path = s"${tmp("race")}/bands"
    FpIndex.saveFlat(path, Seq((1L, 100L)).toDF("doc_id", "bkey"))
    val gen = FpIndex.tableVersion(path).toLong // both racers read this
    val winnerRows = Seq((2L, 222L)).toDF("doc_id", "bkey")
    val loserRows = Seq((3L, 333L)).toDF("doc_id", "bkey")
    // racer A lands first and wins (its build id sorts higher)
    FpIndex.rebuildFlatAt(spark, path, winnerRows, gen, "zzz-winner")
    // racer B read the same pre-rebuild version, lands second, LOSES the
    // (gen, build) tiebreak, and must abort instead of silently serving
    val e = intercept[java.util.ConcurrentModificationException](
      FpIndex.rebuildFlatAt(spark, path, loserRows, gen, "aaa-loser"))
    assert(e.getMessage.contains("lost the race"), e.getMessage)
    // the loser's rows are inert: every load serves the winner, whole
    assert(sortedRows(FpIndex.loadFlat(spark, path).collect()) ==
      sortedRows(winnerRows.collect()),
      "served rows must be exactly the winning build — never a mix")
    // and the winner ordering is by (gen, build), not arrival: a racer
    // that lands second but sorts higher wins, so the FIRST caller's
    // post-append validation would have flagged it had it still been
    // running — either way exactly one build serves
    val serve = spark.newSession()
    assert(sortedRows(FpIndex.loadFlat(serve, path).collect()) ==
      sortedRows(winnerRows.collect()))
  }
}
