package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIndex, Clustering, Dedup, FpIndex}
import graft.pipeline.{IndexBuild, IndexDelta}
import graft.streaming.Incremental

/** Incremental index maintenance — the delta-append lifecycle verb and
  * the admission pipelines over it. The property that distinguishes a
  * DELTA from a gate-only deployment: what batch N admits, batch N+1's
  * gate SEES — without any nightly rebuild in between.
  */
class IndexDeltaSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-delta-$tag").toString

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0000"))

  // ------------------------------------------------- deltaAppendFlat

  test("deltaAppendFlat: fresh loads serve winner ∪ delta; a reader pinned " +
      "before the delta is untouched; rows survive a later load unchanged") {
    import spark.implicits._
    val path = tmp("flat")
    FpIndex.saveFlat(path, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    // rebuild once so the table carries generation columns (the stamped path)
    FpIndex.rebuildFlat(spark, path, Seq((1L, 11L), (2L, 21L)).toDF("k", "v"))
    val pin = FpIndex.tableVersion(path)
    val before = sortedRows(FpIndex.loadFlat(spark, path))
    FpIndex.deltaAppendFlat(spark, path, Seq((3L, 31L)).toDF("k", "v"))
    val fresh = sortedRows(FpIndex.loadFlat(spark, path))
    assert(fresh == (before :+ Seq[Any](3L, 31L)).sortBy(_.mkString("\u0000")),
      "fresh load must serve the winning build plus the delta")
    assert(sortedRows(FpIndex.loadFlat(spark, path, Some(pin))) == before,
      "a reader pinned before the delta must not see it")
  }

  test("deltaAppendFlat on a never-rebuilt table appends plain rows; the " +
      "FIRST rebuild supersedes base and deltas together") {
    import spark.implicits._
    val path = tmp("plain")
    FpIndex.saveFlat(path, Seq((1L, 10L)).toDF("k", "v"))
    FpIndex.deltaAppendFlat(spark, path, Seq((2L, 20L)).toDF("k", "v"))
    assert(sortedRows(FpIndex.loadFlat(spark, path)) ==
      Seq(Seq[Any](1L, 10L), Seq[Any](2L, 20L)),
      "plain deltas serve on a never-rebuilt table")
    FpIndex.rebuildFlat(spark, path, Seq((9L, 90L)).toDF("k", "v"))
    assert(sortedRows(FpIndex.loadFlat(spark, path)) == Seq(Seq[Any](9L, 90L)),
      "a rebuild recomputes from the corpus of record — base AND delta rows retire")
  }

  test("deltaAppendFlat computes the delta ONCE and returns the appended row " +
      "count; a zero-row delta returns 0 and commits nothing") {
    import spark.implicits._
    val path = tmp("onepass")
    FpIndex.saveFlat(path, Seq((1L, 10L)).toDF("k", "v"))
    FpIndex.rebuildFlat(spark, path, Seq((1L, 11L)).toDF("k", "v"))
    // a filter nothing prunes, counting every row it evaluates
    val seen = spark.sparkContext.longAccumulator("delta-rows")
    val tick = udf { (_: Long) => seen.add(1L); true }.asNondeterministic()
    val delta = spark.range(100, 105, 1, 3).filter(tick(col("id")))
      .select(col("id").as("k"), (col("id") * 10).as("v"))
    val v0 = FpIndex.tableVersion(path)
    assert(FpIndex.deltaAppendFlat(spark, path, delta) == 5L,
      "the verb returns the number of rows appended")
    assert(seen.value == 5L,
      s"the delta's lineage must be evaluated once: ${seen.value} row evaluations for 5 rows")
    assert(FpIndex.tableVersion(path) == v0 + 1, "one delta, one commit")
    assert(sortedRows(FpIndex.loadFlat(spark, path)) ==
      (Seq[Any](1L, 11L) +: (100L until 105L).map(k => Seq[Any](k, k * 10)))
        .sortBy(_.mkString("\u0000")))
    // zero rows commit nothing — on a stamped and on a never-rebuilt table
    val plain = tmp("onepass-plain")
    FpIndex.saveFlat(plain, Seq((1L, 10L)).toDF("k", "v"))
    for (p <- Seq(path, plain)) {
      val v = FpIndex.tableVersion(p)
      assert(FpIndex.deltaAppendFlat(spark, p, delta.filter(col("k") < 0)) == 0L)
      assert(FpIndex.tableVersion(p) == v, s"an empty delta must not commit at $p")
    }
  }

  test("delta-vs-rebuild race: a delta stamped with a superseded build raises " +
      "ConcurrentModificationException and its rows are inert") {
    import spark.implicits._
    val path = tmp("race")
    FpIndex.saveFlat(path, Seq((1L, 10L)).toDF("k", "v"))
    FpIndex.rebuildFlat(spark, path, Seq((1L, 11L)).toDF("k", "v"), buildId = "bA")
    val staleGen = FpIndex.tableVersion(path).toLong
    // a rebuild lands between the delta's winner read and its append
    FpIndex.rebuildFlat(spark, path, Seq((1L, 12L)).toDF("k", "v"), buildId = "bB")
    intercept[java.util.ConcurrentModificationException] {
      FpIndex.deltaAppendFlatAt(spark, path,
        Seq((3L, 31L)).toDF("k", "v"), staleGen - 1, "bA")
    }
    assert(sortedRows(FpIndex.loadFlat(spark, path)) == Seq(Seq[Any](1L, 12L)),
      "the losing delta's rows must never serve")
    // re-admitting against the new winner succeeds
    FpIndex.deltaAppendFlat(spark, path, Seq((3L, 31L)).toDF("k", "v"))
    assert(sortedRows(FpIndex.loadFlat(spark, path)) ==
      Seq(Seq[Any](1L, 12L), Seq[Any](3L, 31L)))
  }

  test("vacuumSuperseded reclaims loser/original/superseded-delta rows: served " +
      "rows unchanged, stored rows shrink to the live build, pre-vacuum pins " +
      "expire (the documented retain-then-vacuum trade), deltas keep working") {
    import spark.implicits._
    val path = tmp("vacuum")
    FpIndex.saveFlat(path, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))    // originals
    FpIndex.rebuildFlat(spark, path, Seq((1L, 11L)).toDF("k", "v"), buildId = "bA")
    FpIndex.deltaAppendFlat(spark, path, Seq((3L, 31L)).toDF("k", "v")) // delta on bA
    FpIndex.rebuildFlat(spark, path, Seq((1L, 12L), (3L, 32L)).toDF("k", "v"),
      buildId = "bB") // supersedes bA + its delta
    val prePin = FpIndex.tableVersion(path)
    val served = sortedRows(FpIndex.loadFlat(spark, path))
    assert(served == Seq(Seq[Any](1L, 12L), Seq[Any](3L, 32L)))
    val removed = FpIndex.vacuumSuperseded(spark, path)
    assert(removed == 4L, // 2 originals + bA's row + bA's delta
      s"vacuum must reclaim exactly the superseded rows, removed $removed")
    assert(sortedRows(FpIndex.loadFlat(spark, path)) == served,
      "served rows are untouched by the vacuum")
    // the retention trade: the pre-vacuum snapshot is GONE
    intercept[Exception] {
      FpIndex.loadFlat(spark, path, Some(prePin)).collect()
    }
    // a vacuumed live table keeps taking deltas (the lifecycle continues)
    FpIndex.deltaAppendFlat(spark, path, Seq((4L, 41L)).toDF("k", "v"))
    assert(sortedRows(FpIndex.loadFlat(spark, path)) ==
      (served :+ Seq[Any](4L, 41L)).sortBy(_.mkString(" ")),
      "post-vacuum deltas serve")
  }

  test("vacuum-vs-rebuild race (round-14 advice): a rebuild committing during " +
      "the vacuum's rewrite ABORTS the vacuum (OCC), the racing winner's rows " +
      "are fully intact, and the retried vacuum keeps serving it") {
    import spark.implicits._
    val path = tmp("vacrace")
    FpIndex.saveFlat(path, Seq((1L, 10L)).toDF("k", "v"))
    FpIndex.rebuildFlat(spark, path, Seq((1L, 11L)).toDF("k", "v"), buildId = "bA")
    // inject: a full rebuild (new winner bB) lands between the vacuum's
    // snapshot read and its copy-on-write swap — exactly the advice's
    // "freshly-committed winner rows deleted wholesale" scenario
    var fired = false
    graft.sources.ManifestSink.beforeSwapHook = () =>
      if (!fired) {
        fired = true
        FpIndex.rebuildFlat(spark, path,
          Seq((1L, 12L), (2L, 22L)).toDF("k", "v"), buildId = "bB")
      }
    try {
      intercept[java.util.ConcurrentModificationException] {
        FpIndex.vacuumSuperseded(spark, path)
      }
    } finally graft.sources.ManifestSink.beforeSwapHook = () => ()
    val racedWinner = Seq(Seq[Any](1L, 12L), Seq[Any](2L, 22L))
    assert(sortedRows(FpIndex.loadFlat(spark, path)) == racedWinner,
      "the racing rebuild's rows must be fully intact after the aborted vacuum")
    // the retry (against the new history) reclaims everything superseded
    val removed = FpIndex.vacuumSuperseded(spark, path)
    assert(removed == 2L, // the original + bA's row
      s"retried vacuum must reclaim the superseded rows, removed $removed")
    assert(sortedRows(FpIndex.loadFlat(spark, path)) == racedWinner,
      "the racing winner keeps serving after the retried vacuum")
  }

  test("compactIndex preserves winner/delta semantics (round-14 ask #3): " +
      "served rows identical across the compaction, the absorbed commit " +
      "history collapses to one checkpoint, and deltas/rebuilds/vacuum keep " +
      "working on the compacted root") {
    import spark.implicits._
    val path = tmp("compact")
    FpIndex.saveFlat(path, Seq((1L, 10L)).toDF("k", "v"))
    FpIndex.rebuildFlat(spark, path, Seq((1L, 11L)).toDF("k", "v"), buildId = "bA")
    // accumulate delta commits (the SoakDelta shape)
    (0 until 6).foreach(i =>
      FpIndex.deltaAppendFlat(spark, path, Seq((10L + i, 100L + i)).toDF("k", "v")))
    val served = sortedRows(FpIndex.loadFlat(spark, path))
    assert(served.size == 7) // winner row + 6 deltas
    val verBefore = FpIndex.tableVersion(path)
    val manifestsBefore = graft.sources.ManifestSink.sortedManifests(
      new java.io.File(path)).size
    assert(manifestsBefore >= 8, s"expected per-commit manifests: $manifestsBefore")
    FpIndex.compactIndex(spark, path)
    assert(sortedRows(FpIndex.loadFlat(spark, path)) == served,
      "served rows must be identical across the compaction")
    assert(graft.sources.ManifestSink.sortedManifests(new java.io.File(path)).size
      < manifestsBefore, "the commit history must collapse")
    // a pin taken AT the post-compaction version serves; the lifecycle
    // continues: delta, rebuild, vacuum all work on the compacted root
    val pin = FpIndex.tableVersion(path)
    assert(pin >= verBefore, "versions stay monotone across the compaction")
    FpIndex.deltaAppendFlat(spark, path, Seq((99L, 990L)).toDF("k", "v"))
    assert(sortedRows(FpIndex.loadFlat(spark, path)) ==
      (served :+ Seq[Any](99L, 990L)).sortBy(_.mkString("\u0000")),
      "post-compaction deltas serve")
    assert(sortedRows(FpIndex.loadFlat(spark, path, Some(pin))) == served,
      "a reader pinned at the compaction point is untouched by later deltas")
    FpIndex.rebuildFlat(spark, path, Seq((1L, 12L)).toDF("k", "v"), buildId = "bB")
    assert(sortedRows(FpIndex.loadFlat(spark, path)) == Seq(Seq[Any](1L, 12L)),
      "a post-compaction rebuild supersedes the compacted build + its deltas")
    val removed = FpIndex.vacuumSuperseded(spark, path)
    assert(removed == 9L, // original + bA's row + 6 deltas + post-compact delta
      s"vacuum on the compacted root reclaims the superseded rows: $removed")
  }

  test("vacuum winner order matches loadFlat beyond the BMP (round-15 advice): " +
      "build ids where UTF-16 and UTF-8 orders DISAGREE — vacuum must keep " +
      "the build loadFlat serves, not the Scala-tuple-max one") {
    import spark.implicits._
    val path = tmp("utf8order")
    FpIndex.saveFlat(path, Seq((1L, 10L)).toDF("k", "v"))
    // U+10000 (UTF-8 F0 90 80 80) vs U+E000 (UTF-8 EE 80 80): UTF-16 code units say D800 < E000, UTF-8 bytes
    // say F0 > EE — the two total orders flip. Spark's max(struct)
    // compares UTF8String bytes, so U+10000 WINS the serve; a vacuum
    // picking its winner by Scala's (Long, String) max would instead
    // crown U+E000 and delete the serving build's rows.
    val gen = FpIndex.tableVersion(path).toLong
    FpIndex.rebuildFlatAt(spark, path, Seq((1L, 11L)).toDF("k", "v"),
      gen, "\uE000")
    // same gen: exactly the racing-rebuilds state where the build id
    // is the only tiebreak
    FpIndex.rebuildFlatAt(spark, path, Seq((1L, 12L)).toDF("k", "v"),
      gen, "\uD800\uDC00")
    val served = sortedRows(FpIndex.loadFlat(spark, path))
    assert(served == Seq(Seq[Any](1L, 12L)),
      s"loadFlat must serve the UTF-8-max build: $served")
    val removed = FpIndex.vacuumSuperseded(spark, path)
    assert(removed == 2L, // the original + the UTF-16-max loser
      s"vacuum must reclaim the original and the losing build, got $removed")
    assert(sortedRows(FpIndex.loadFlat(spark, path)) == served,
      "vacuum deleted the serving build — winner orders diverged")
  }

  test("auto-compaction (round-15 ask #3): a long admission run self-compacts " +
      "past AutoCompactManifests — served rows byte-stable, manifest count " +
      "bounded, deltas keep landing after; autoCompact=false preserves pins") {
    import spark.implicits._
    val path = tmp("autocompact")
    FpIndex.saveFlat(path, Seq((0L, 0L)).toDF("k", "v"))
    FpIndex.rebuildFlat(spark, path, Seq((0L, 1L)).toDF("k", "v"))
    val nDeltas = FpIndex.AutoCompactManifests + 6 // well past the trigger
    (1 to nDeltas).foreach { i =>
      FpIndex.deltaAppendFlat(spark, path, Seq((i.toLong, i * 10L)).toDF("k", "v"))
    }
    val manifests = graft.sources.ManifestSink
      .sortedManifests(new java.io.File(path)).size
    assert(manifests < FpIndex.AutoCompactManifests,
      s"sustained admission must self-compact below the threshold, got $manifests")
    // served rows: the winning build's row plus every delta, none lost
    val served = sortedRows(FpIndex.loadFlat(spark, path))
    val expected = (Seq(Seq[Any](0L, 1L)) ++
      (1 to nDeltas).map(i => Seq[Any](i.toLong, i * 10L)))
      .sortBy(_.mkString(" "))
    assert(served == expected, "auto-compaction must not change served rows")
    // the lifecycle keeps working post-compaction: another delta + a rebuild
    FpIndex.deltaAppendFlat(spark, path, Seq((99L, 990L)).toDF("k", "v"))
    assert(sortedRows(FpIndex.loadFlat(spark, path)).contains(Seq[Any](99L, 990L)))
    FpIndex.rebuildFlat(spark, path, Seq((7L, 70L)).toDF("k", "v"))
    assert(sortedRows(FpIndex.loadFlat(spark, path)) == Seq(Seq[Any](7L, 70L)))
    // opt-out: admission paths that need pinned snapshots across the
    // horizon accumulate manifests freely under autoCompact = false
    val path2 = tmp("nocompact")
    FpIndex.saveFlat(path2, Seq((0L, 0L)).toDF("k", "v"))
    val pin = FpIndex.tableVersion(path2)
    (1 to nDeltas).foreach { i =>
      FpIndex.deltaAppendFlat(spark, path2,
        Seq((i.toLong, i * 10L)).toDF("k", "v"), autoCompact = false)
    }
    assert(graft.sources.ManifestSink.sortedManifests(
        new java.io.File(path2)).size > FpIndex.AutoCompactManifests,
      "autoCompact=false must never trigger the rewrite")
    assert(sortedRows(FpIndex.loadFlat(spark, path2, Some(pin))) ==
      Seq(Seq[Any](0L, 0L)), "pre-delta pin must keep serving under opt-out")
  }

  test("winner memo does not leak across table re-creation at the same path " +
      "(round-14 advice): a recreated table's low versions must not alias the " +
      "old table's cached winners") {
    import spark.implicits._
    val path = tmp("recreate")
    FpIndex.saveFlat(path, Seq((1L, 10L)).toDF("k", "v"))
    FpIndex.rebuildFlat(spark, path, Seq((1L, 11L)).toDF("k", "v"), buildId = "bOld")
    // loadFlat warms the winner memo for (path, version=2)
    assert(sortedRows(FpIndex.loadFlat(spark, path)) == Seq(Seq[Any](1L, 11L)))
    // delete and recreate the table at the same path within this JVM
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    rmrf(new java.io.File(path))
    FpIndex.saveFlat(path, Seq((7L, 70L)).toDF("k", "v"))
    FpIndex.rebuildFlat(spark, path, Seq((7L, 71L), (8L, 81L)).toDF("k", "v"),
      buildId = "bNew") // version 2 again — the aliasing collision
    assert(sortedRows(FpIndex.loadFlat(spark, path)) ==
      Seq(Seq[Any](7L, 71L), Seq[Any](8L, 81L)),
      "the recreated table must serve its own winner, not the stale memo's")
    // the ANN layouts through their one writer each: save, rebuild,
    // delete, save, rebuild — the re-created table's first save must
    // drop the memo too, or its rebuild meets the old table's winner
    val layouts: Seq[(String, (String, Double) => Unit, String => Any)] = Seq(
      ("quantizer",
        (p, x) => AnnIndex.saveOrRebuildQuantizer(spark, p, Seq((1L, Array(x, 1.0), x + 1.0))),
        p => AnnIndex.loadQuantizer(spark, p).map { case (id, v, n) => (id, v.toSeq, n) }),
      ("codebook",
        (p, x) => AnnIndex.saveOrRebuildCodebook(spark, p, Array(Array(Array(x, 1.0)))),
        p => AnnIndex.loadCodebook(spark, p).map(_.map(_.toSeq).toSeq).toSeq),
      ("codes",
        (p, x) => AnnIndex.saveOrRebuildCodes(spark, p,
          Seq((1L, -1L, Seq(x.toInt, 1))).toDF("vec_id", "cell", "codes")),
        p => sortedRows(AnnIndex.loadCodes(spark, p))))
    layouts.foreach { case (name, write, served) =>
      val p = tmp(s"recreate-$name")
      write(p, 1.0)
      write(p, 2.0)
      val old = served(p) // warms the winner memo for (p, version 2)
      rmrf(new java.io.File(p))
      write(p, 3.0)
      write(p, 4.0) // version 2 again
      val ref = tmp(s"recreate-$name-ref")
      write(ref, 4.0)
      assert(served(p) == served(ref) && served(p) != old,
        s"the recreated $name table must serve its own rebuild")
    }
  }

  // ------------------------------------------------------- admitDocs

  private val wordsA = (1 to 30).map(i => s"alpha$i").mkString(" ")
  private val wordsB = (1 to 30).map(i => s"beta$i").mkString(" ")
  private val wordsC = (1 to 30).map(i => s"gamma$i").mkString(" ")
  // near-dup of A: last word changed → 26/30 shared 3-gram shingles ≈ 0.87
  private val wordsAnear = (1 to 29).map(i => s"alpha$i").mkString(" ") + " zzz"

  private def buildDocRoot(corpus: DataFrame): String = {
    val root = tmp("docroot")
    FpIndex.saveFlat(s"$root/${IndexBuild.KeysT}", Incremental.corpusKeySet(corpus))
    val sh = Dedup.shingleTable(corpus)
    FpIndex.saveFlat(s"$root/${IndexBuild.BandsT}", Dedup.bandTable(sh))
    FpIndex.saveOrRebuildShingles(spark, s"$root/${IndexBuild.ShinglesT}", sh)
    FpIndex.saveFlat(s"$root/${IndexBuild.NoveltyT}", Incremental.corpusShingleSet(corpus))
    root
  }

  test("admitDocs: batch 2 is gated against batch 1's ADMISSIONS (exact and " +
      "near-dup), and a wholesale replay admits nothing", Slow) {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, wordsB)).toDF("doc_id", "text")
    val root = buildDocRoot(corpus)

    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // exact dup of corpus
      (11L, "hi"),                                                // quality reject
      (12L, wordsA)                                               // clean → admitted
    ).toDF("doc_id", "text")
    val v1 = IndexDelta.admitDocs(spark, root, b1, batchId = "b1")
      .select(col("doc_id"), col("admitted")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(v1 == Map(10L -> false, 11L -> false, 12L -> true), s"batch1 verdicts: $v1")

    val b2 = Seq(
      (20L, wordsA),     // exact copy of batch-1's admission → reject
      (21L, wordsAnear), // near-dup of batch-1's admission → reject
      (22L, wordsC)      // fresh → admitted
    ).toDF("doc_id", "text")
    val v2raw = IndexDelta.admitDocs(spark, root, b2, batchId = "b2")
    val v2 = v2raw.select(col("doc_id"), col("admitted"), col("reject_stage"))
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(v2(20L) == (false, "exact_dedup"),
      s"batch-1 admission must exact-reject its replay in batch 2: $v2")
    assert(v2(21L) == (false, "near_dedup"),
      s"batch-1 admission must near-dup-reject its variant in batch 2: $v2")
    assert(v2(22L)._1, s"fresh doc must admit: $v2")

    // wholesale replay of batch 2: everything rejects, stored tables gain nothing
    val keysBefore = sortedRows(FpIndex.loadFlat(spark, s"$root/${IndexBuild.KeysT}"))
    val v3 = IndexDelta.admitDocs(spark, root, b2, batchId = "b2r")
      .filter(col("admitted")).count()
    assert(v3 == 0, "replayed batch must admit nothing")
    assert(sortedRows(FpIndex.loadFlat(spark, s"$root/${IndexBuild.KeysT}")) == keysBefore,
      "replayed batch must append nothing")
    // the shingle table still loads (no doubled sets) and holds both admissions
    val ids = FpIndex.loadShingles(spark, s"$root/${IndexBuild.ShinglesT}")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 12L, 22L), s"stored shingle ids: $ids")
    CacheRegistry.releaseAll()
  }

  test("admitDocs id-conflict (round-14 advice): same-ID-new-content REJECTS " +
      "with reject_stage=id_conflict and appends nothing — never " +
      "admitted-but-unindexed; the content stays admittable under a fresh id") {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val corpus = Seq((1L, wordsA), (2L, wordsB)).toDF("doc_id", "text")
    val root = buildDocRoot(corpus)
    val keysBefore = sortedRows(FpIndex.loadFlat(spark, s"$root/${IndexBuild.KeysT}"))
    // doc_id 1 already holds stored shingles; its content here is NEW
    val conflict = Seq((1L, wordsC)).toDF("doc_id", "text")
    val v = IndexDelta.admitDocs(spark, root, conflict, batchId = "idc1")
      .select(col("doc_id"), col("admitted"), col("reject_stage"))
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(v == Map(1L -> (false, "id_conflict")), s"id-conflict verdicts: $v")
    assert(sortedRows(FpIndex.loadFlat(spark, s"$root/${IndexBuild.KeysT}")) ==
      keysBefore, "a rejected id-conflict must append no content key")
    val shIds = FpIndex.loadShingles(spark, s"$root/${IndexBuild.ShinglesT}")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(shIds == Set(1L, 2L), s"stored shingle ids unchanged: $shIds")
    // the conflicted CONTENT was never admitted, so under a fresh id it
    // gates cleanly — "what batch N admits, batch N+1's gate sees" holds
    // exactly (nothing was admitted, nothing is seen)
    val v2 = IndexDelta.admitDocs(spark, root,
        Seq((30L, wordsC)).toDF("doc_id", "text"), batchId = "idc2")
      .select(col("doc_id"), col("admitted")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(v2 == Map(30L -> true), s"fresh-id resubmission must admit: $v2")
    // and now its near-dup GATES (the admitted content is fully indexed)
    val wordsCnear = (1 to 29).map(i => s"gamma$i").mkString(" ") + " zzz"
    val v3 = IndexDelta.admitDocs(spark, root,
        Seq((31L, wordsCnear)).toDF("doc_id", "text"), batchId = "idc3")
      .select(col("doc_id"), col("admitted"), col("reject_stage"))
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(v3 == Map(31L -> (false, "near_dedup")),
      s"the admitted content's near-dup must gate: $v3")
    CacheRegistry.releaseAll()
  }

  test("CMS delta-merge: after admission the stored sketch estimates equal a " +
      "fresh sketch over corpus ∪ admitted (cell-wise additive, summed on " +
      "load); replays add nothing") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    CacheRegistry.releaseAll()
    val corpus = Seq((1L, wordsB), (2L, wordsC)).toDF("doc_id", "text")
    val root = buildDocRoot(corpus)
    FpIndex.saveFlat(s"$root/${IndexBuild.CmsT}", TextAnalysis.cmsSketchOf(corpus))
    val wordsD = (1 to 30).map(i => s"delta$i").mkString(" ")
    val b1 = Seq((12L, wordsA), (13L, wordsD)).toDF("doc_id", "text")
    IndexDelta.admitDocs(spark, root, b1, batchId = "cms1")
    val probe = Seq("alpha1", "delta7", "beta1").toDF("token")
    def estimatesOf(sketch: DataFrame): Map[String, Long] =
      TextAnalysis.cmsEstimateOf(sketch, probe).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def servedEst(): Map[String, Long] = estimatesOf(
      TextAnalysis.cmsLoadMerged(spark, s"$root/${IndexBuild.CmsT}"))
    val served = servedEst()
    val want = estimatesOf(TextAnalysis.cmsSketchOf(corpus.unionByName(b1)))
    assert(served == want && served.keySet == Set("alpha1", "delta7", "beta1") &&
      served.values.forall(_ >= 1L),
      s"stored estimates must count corpus ∪ admissions exactly: $served vs $want")
    // replay: the sketch is unchanged
    IndexDelta.admitDocs(spark, root, b1, batchId = "cms1r")
    assert(servedEst() == want, "a replayed batch must not inflate the sketch")
    CacheRegistry.releaseAll()
  }

  // ----------------------------------------------------- admitVectors

  private val Dim = 64
  private def vec(base: Float): Array[Float] = Array.fill(Dim)(base)
  private def cent(base: Double): Array[Long] =
    Array.fill(Dim)(math.floor(base * Clustering.Scale).toLong)

  /** Arrivals as the serve paths see them: (vec_id, x). */
  private def quantized(df: DataFrame): DataFrame =
    df.select(col("vec_id"), Clustering.quantize(col("embedding")).as("x"))

  /** Planted vector root: centroids at 0.1 and 0.4; probe corpus v1/v2
    * in cell 0; cell 1 is build-capped (its member v3 excluded); the
    * radius table over the planted corpus, as every build writes it. */
  private def buildVecRoot(): (String, DataFrame) = {
    import spark.implicits._
    val root = tmp("vecroot")
    val cents = Clustering.CellModel.Flat(Seq(cent(0.1), cent(0.4)))
    cents.save(spark, s"$root/${IndexBuild.CentroidsT}")
    val corpus = Seq((1L, vec(0.1f)), (2L, vec(0.105f)))
      .toDF("vec_id", "embedding")
    val asg = cents.assign(quantized(corpus))
    val probe = asg.select(col("vec_id").as("corpus_id"), col("x"), col("cluster"))
    Clustering.saveAssignedCorpus(spark, s"$root/${IndexBuild.AssignedT}", probe)
    Clustering.saveCappedCells(spark, s"$root/${IndexBuild.CappedT}",
      Seq((1, 5L)).toDF("cluster", "cell_n"))
    FpIndex.saveFlat(s"$root/${IndexBuild.RadiiT}",
      Clustering.cellRadiiOf(asg.select(col("cluster"), col("vec_id"), col("dist"))))
    (root, probe)
  }

  test("admitVectors: replay/capped/near-dup/clean verdicts; admissions join " +
      "the probe table so batch 2 is gated against batch 1; pinned readers " +
      "and capped cells keep the build invariants") {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val (root, _) = buildVecRoot()
    val assignedPath = s"$root/${IndexBuild.AssignedT}"
    val pin = FpIndex.tableVersion(assignedPath)
    val probeBefore = sortedRows(
      Clustering.loadAssignedCorpus(spark, assignedPath)
        .select(col("corpus_id"), col("cluster")))

    val b1 = Seq(
      (1L, vec(0.3f)),    // replay: id 1 already stored (content irrelevant)
      (40L, vec(0.106f)), // near-dup of stored v2 in cell 0 → reject
      (41L, vec(0.4f)),   // lands in the capped cell → admitted+flagged, NOT appended
      (42L, vec(0.245f))  // clean: cell 0, > PruneT from both v1 and v2 → admitted+appended
    ).toDF("vec_id", "embedding")
    val v1 = IndexDelta.admitVectors(spark, root, b1, batchId = "vb1")
      .select(col("vec_id"), col("replay"), col("cell_capped"), col("n_close"),
        col("admitted"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))).toMap
    assert(v1(1L) == ((1, 0, 0L, 0)), s"replay verdict: ${v1(1L)}")
    assert(v1(40L)._3 > 0 && v1(40L)._4 == 0, s"near-dup verdict: ${v1(40L)}")
    assert(v1(41L) == ((0, 1, 0L, 1)), s"capped verdict: ${v1(41L)}")
    assert(v1(42L) == ((0, 0, 0L, 1)), s"clean verdict: ${v1(42L)}")

    val probeAfter = Clustering.loadAssignedCorpus(spark, assignedPath)
    val afterIds = probeAfter.select(col("corpus_id")).collect()
      .map(_.getLong(0)).toSet
    assert(afterIds == Set(1L, 2L, 42L),
      s"only the clean admission joins the probe table (capped never does): $afterIds")
    assert(sortedRows(Clustering.loadAssignedCorpus(spark, assignedPath, Some(pin))
        .select(col("corpus_id"), col("cluster"))) == probeBefore,
      "a session pinned before the admission serves the original probe table")

    // batch 2: gated against batch 1's admission
    CacheRegistry.releaseAll()
    val b2 = Seq(
      (50L, vec(0.247f)), // near-dup of ADMITTED 42 (cell 0) → reject
      (42L, vec(0.9f)),   // replay of batch-1 admission → reject
      (41L, vec(0.4f))    // capped replays stay capped-flagged (stable, no dup)
    ).toDF("vec_id", "embedding")
    val v2 = IndexDelta.admitVectors(spark, root, b2, batchId = "vb2")
      .select(col("vec_id"), col("replay"), col("cell_capped"), col("n_close"),
        col("admitted"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))).toMap
    assert(v2(50L)._3 > 0 && v2(50L)._4 == 0,
      s"batch-1 admission must near-dup-reject batch 2's variant: ${v2(50L)}")
    assert(v2(42L)._1 == 1 && v2(42L)._4 == 0, s"admitted id replays: ${v2(42L)}")
    assert(v2(41L) == ((0, 1, 0L, 1)), s"capped replay stays flagged: ${v2(41L)}")
    val finalIds = Clustering.loadAssignedCorpus(spark, assignedPath)
      .select(col("corpus_id")).collect().map(_.getLong(0)).toSet
    assert(finalIds == Set(1L, 2L, 42L), s"batch 2 appended nothing: $finalIds")
    CacheRegistry.releaseAll()
  }

  /** A real two-level model over the fixture corpus, stored like the
    * nightly build (no capped cells). */
  private def buildHierRoot(): String = {
    val root = tmp("hierroot")
    val fixed = Clustering.fixedPoint(spark, sf)
    val hm = Clustering.trainHierarchicalFrames(fixed, 4)
    hm.save(spark, s"$root/${IndexBuild.HierModelT}")
    Clustering.saveAssignedCorpus(spark, s"$root/${IndexBuild.AssignedHierT}",
      Clustering.assignedCorpus(fixed, hm))
    Clustering.saveCappedCells(spark, s"$root/${IndexBuild.CappedHierT}",
      spark.emptyDataFrame.select(lit(0).as("cluster"), lit(0L).as("cell_n")).limit(0))
    root
  }

  test("admitVectors on the two-level unit runs the same verdict core against " +
      "the hier artifacts (frame-model assignment, hot-cell invariant preserved)") {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val root = buildHierRoot()
    // arrivals: one replay (an existing vec_id), one fresh copy of an
    // existing vector under a new id (near-dup), one admitted fresh vector
    val emb = Tables.embeddings(spark, sf)
    val first = emb.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding")).collect()(0)
    val firstId = first.getLong(0)
    val firstEmb = first.getSeq[Float](1).toArray
    val arrivals = Seq(
      (firstId, firstEmb),        // replay
      (900001L, firstEmb),        // same vector, new id → near-dup
      (900002L, vec(0.31f))       // fresh
    ).toDF("vec_id", "embedding")
    val v = IndexDelta.admitVectors(spark, root, arrivals, batchId = "hb1",
        unit = IndexBuild.TwoLevelUnit)
      .select(col("vec_id"), col("replay"), col("n_close"), col("admitted"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getInt(3)))).toMap
    assert(v(firstId)._1 == 1 && v(firstId)._3 == 0, s"hier replay: $v")
    assert(v(900001L)._2 > 0 && v(900001L)._3 == 0, s"hier near-dup: $v")
    assert(v(900002L) == ((0, 0L, 1)), s"hier clean admit: $v")
    val ids = Clustering.loadAssignedCorpus(spark, s"$root/${IndexBuild.AssignedHierT}")
      .filter(col("corpus_id") >= 900000L)
      .select(col("corpus_id")).collect().map(_.getLong(0)).toSet
    assert(ids == Set(900002L), s"only the clean hier admission appended: $ids")
    CacheRegistry.releaseAll()
  }

  test("the nightly rebuild absorbs deltas losslessly when fed the corpus of " +
      "record: admitted vectors survive the rebuild as winner rows (their " +
      "delta commits retire), and a pre-rebuild pinned reader is untouched") {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val (root, _) = buildVecRoot()
    val assignedPath = s"$root/${IndexBuild.AssignedT}"
    val b1 = Seq((42L, vec(0.245f))).toDF("vec_id", "embedding")
    IndexDelta.admitVectors(spark, root, b1, batchId = "cr1")
    val pin = FpIndex.tableVersion(assignedPath)
    val pinnedIds = Clustering.loadAssignedCorpus(spark, assignedPath, Some(pin))
      .select(col("corpus_id")).collect().map(_.getLong(0)).toSet
    assert(pinnedIds == Set(1L, 2L, 42L))
    // the documented contract: admissions also append to the corpus of
    // record, and the nightly rebuild recomputes FROM that corpus —
    // here the planted base ∪ the admitted batch
    val corpusOfRecord = Seq((1L, vec(0.1f)), (2L, vec(0.105f)), (3L, vec(0.4f)))
      .toDF("vec_id", "embedding").unionByName(b1)
    val fixed = corpusOfRecord
      .select(col("vec_id"), Clustering.quantize(col("embedding")).as("x"))
    IndexBuild.buildVectorUnit(spark, fixed, root, IndexBuild.FlatUnit)
    val rebuilt = Clustering.loadAssignedCorpus(spark, assignedPath)
      .select(col("corpus_id")).collect().map(_.getLong(0)).toSet
    assert(rebuilt.contains(42L),
      s"the rebuild must retain the admitted vector from the corpus of record: $rebuilt")
    assert(Clustering.loadAssignedCorpus(spark, assignedPath, Some(pin))
        .select(col("corpus_id")).collect().map(_.getLong(0)).toSet == pinnedIds,
      "the pre-rebuild pin still serves base ∪ delta")
    CacheRegistry.releaseAll()
  }

  // ------------------------------------------- retries + forked commits

  private def versionsOf(root: String, tables: Seq[String]): Seq[Int] =
    tables.map(t => FpIndex.tableVersion(s"$root/$t"))

  test("a same-batchId retry in the same session (no releaseAll) re-gates " +
      "against the committed state: docs, vectors and hier admit 0, every " +
      "table version stays put, and the stored shingle sets still load") {
    import spark.implicits._
    import IndexBuild._
    CacheRegistry.releaseAll()
    val docRoot = buildDocRoot(Seq((1L, wordsB)).toDF("doc_id", "text"))
    val docTables = Seq(KeysT, BandsT, ShinglesT, NoveltyT)
    val docs = Seq((12L, wordsA), (13L, wordsC)).toDF("doc_id", "text")
    def docsAdmitted(): Long = IndexDelta.admitDocs(spark, docRoot, docs, batchId = "b0")
      .filter(col("admitted")).count()
    assert(docsAdmitted() == 2L)
    val docV = versionsOf(docRoot, docTables)
    assert(docsAdmitted() == 0L, "a same-id retry must not re-admit the committed docs")
    assert(versionsOf(docRoot, docTables) == docV, "a same-id doc retry must commit nothing")
    assert(FpIndex.loadShingles(spark, s"$docRoot/$ShinglesT").collect().length == 3)

    val (vecRoot, _) = buildVecRoot()
    val vecTables = Seq(CentroidsT, AssignedT, CappedT)
    val vecs = Seq((42L, vec(0.245f))).toDF("vec_id", "embedding")
    def vecsAdmitted(): Long = IndexDelta.admitVectors(spark, vecRoot, vecs, batchId = "v0")
      .filter(col("admitted") === 1).count()
    assert(vecsAdmitted() == 1L)
    val vecV = versionsOf(vecRoot, vecTables)
    assert(vecsAdmitted() == 0L, "a same-id retry must not re-admit the committed vector")
    assert(versionsOf(vecRoot, vecTables) == vecV, "a same-id vector retry must commit nothing")

    val hierRoot = buildHierRoot()
    val hierTables = Seq(HierModelT, AssignedHierT, CappedHierT)
    val fresh = Seq((900002L, vec(0.31f))).toDF("vec_id", "embedding")
    def hierAdmitted(): Long = IndexDelta.admitVectors(spark, hierRoot, fresh,
      batchId = "h0", unit = TwoLevelUnit).filter(col("admitted") === 1).count()
    assert(hierAdmitted() == 1L)
    val hierV = versionsOf(hierRoot, hierTables)
    assert(hierAdmitted() == 0L, "a same-id retry must not re-admit the committed hier vector")
    assert(versionsOf(hierRoot, hierTables) == hierV, "a same-id hier retry must commit nothing")
    CacheRegistry.releaseAll()
  }

  /** Spark jobs `body` fires: its jobs carry a job group of their own,
    * and a marker job after it bounds the listener's view (once the
    * marker's start is seen, every earlier event is too). */
  private def jobsOf(body: => Unit): Int = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("budget-body", "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("budget-after", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!starts.asScala.exists(_ == "budget-after") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    starts.asScala.count(_ == "budget-body")
  }

  test("the vector serve path fires at most its job budget: flat admission, " +
      "the flat nprobe-1 gate, and two-level admission") {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val (root, _) = buildVecRoot()
    val batch = Seq((40L, vec(0.106f)), (41L, vec(0.4f)), (42L, vec(0.245f)))
      .toDF("vec_id", "embedding")
    val flatAdmit = jobsOf(IndexDelta.admitVectors(spark, root, batch, batchId = "jb1")
      .select("vec_id", "admitted").collect())
    assert(flatAdmit <= FlatAdmitJobs, s"flat admitVectors fired $flatAdmit jobs")
    CacheRegistry.releaseAll()
    val gate = jobsOf(Incremental.semanticNearDupGate(batch,
        Clustering.loadCentroids(spark, s"$root/${IndexBuild.CentroidsT}"),
        Clustering.loadAssignedCorpus(spark, s"$root/${IndexBuild.AssignedT}"),
        Clustering.loadCappedCells(spark, s"$root/${IndexBuild.CappedT}"))
      .select("vec_id", "corpus_id").collect())
    assert(gate <= FlatGateJobs, s"flat nprobe-1 gate fired $gate jobs")
    CacheRegistry.releaseAll()
    val hierRoot = buildHierRoot()
    val fresh = Seq((900002L, vec(0.31f)), (900003L, vec(0.32f))).toDF("vec_id", "embedding")
    val hierAdmit = jobsOf(IndexDelta.admitVectors(spark, hierRoot, fresh, batchId = "jh1",
        unit = IndexBuild.TwoLevelUnit)
      .select("vec_id", "admitted").collect())
    assert(hierAdmit <= TwoLevelAdmitJobs, s"two-level admitVectors fired $hierAdmit jobs")
    CacheRegistry.releaseAll()
  }

  /** The vector serve path's jobs on the planted roots above: 19, 6
    * and 20 when the flat and two-level paths were separate verbs (the
    * two-level admission loaded its frame model, then collected the
    * fine frame through a separate dispatch). One model type must not
    * fire more. */
  private val FlatAdmitJobs = 19
  private val FlatGateJobs = 6
  private val TwoLevelAdmitJobs = 20

  test("admitDocs' side-by-side commits run on threads that inherit the " +
      "caller's local properties: every job the call fires carries them") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    CacheRegistry.releaseAll()
    val root = buildDocRoot(Seq((1L, wordsB)).toDF("doc_id", "text"))
    val batch = Seq((12L, wordsA), (13L, wordsC)).toDF("doc_id", "text")
    def prop(e: SparkListenerJobStart, k: String): String =
      Option(e.properties).map(_.getProperty(k)).orNull
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add((prop(e, "spark.jobGroup.id"), prop(e, "graft.test.caller")))
    }
    val sc = spark.sparkContext
    // a marker job: once its start is seen, every earlier event is too
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("admit-before")
      sc.setJobGroup("admit-forked", "admitDocs")
      sc.setLocalProperty("graft.test.caller", "admit")
      try IndexDelta.admitDocs(spark, root, batch, batchId = "props")
      finally {
        sc.clearJobGroup()
        sc.setLocalProperty("graft.test.caller", null)
      }
      marker("admit-after")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!starts.asScala.exists(_._1 == "admit-after") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val during = starts.asScala.toSeq.dropWhile(_._1 != "admit-before").drop(1)
      .takeWhile(_._1 != "admit-after")
    // the shingle materialization plus four non-empty commits (count + write each)
    assert(during.size >= 9, s"expected the admission's jobs, saw ${during.size}")
    assert(during.forall(_ == (("admit-forked", "admit"))),
      s"every admission job must carry the caller's job group and property: $during")
    CacheRegistry.releaseAll()
  }

  test("a failing commit chain propagates out of admitDocs only after every " +
      "chain has finished, with no commit thread left alive") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import IndexBuild._
    CacheRegistry.releaseAll()
    val root = buildDocRoot(Seq((1L, wordsB)).toDF("doc_id", "text"))
    // a CMS table no sketch can append to: the keys → CMS chain fails
    // after its keys commit, while the other two chains commit
    FpIndex.saveFlat(s"$root/$CmsT", Seq("x").toDF("not_a_sketch"))
    // and the novelty chain is the slow one: its commit crosses the
    // auto-compaction threshold, whose swap waits 3 s
    (1 to FpIndex.AutoCompactManifests - 2).foreach(i => FpIndex.deltaAppendFlat(
      spark, s"$root/$NoveltyT", Seq(-i.toLong).toDF("h"), autoCompact = false))
    val tables = Seq(KeysT, ShinglesT, BandsT, CmsT)
    val before = versionsOf(root, tables)
    graft.sources.ManifestSink.beforeSwapHook = () => Thread.sleep(3000)
    val e = try intercept[Exception] {
      IndexDelta.admitDocs(spark, root, Seq((12L, wordsA)).toDF("doc_id", "text"),
        batchId = "fails")
    } finally graft.sources.ManifestSink.beforeSwapHook = () => ()
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("not_a_sketch")),
      s"the CMS commit's failure must surface: $e")
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("indexdelta-commit"))
    assert(alive.isEmpty, s"commit threads left alive: $alive")
    assert(versionsOf(root, tables) == Seq(before(0) + 1, before(1) + 1, before(2) + 1, before(3)),
      "keys, shingles and bands commit; the failed CMS commit does not")
    assert(graft.sources.ManifestSink.sortedManifests(
        new java.io.File(s"$root/$NoveltyT")).size < FpIndex.AutoCompactManifests,
      "the slow novelty chain must have finished its compaction before the failure surfaced")
    CacheRegistry.releaseAll()
  }

  // -------------------------------------------------- PQ code deltas

  test("admitPqCodes: a fresh vector becomes FINDABLE by pqAdcTopKServe " +
      "without a rebuild; replays append nothing and the code table stays clean") {
    import spark.implicits._
    import graft.operators.Similarity
    CacheRegistry.releaseAll()
    val annPath = tmp("pqann")
    Similarity.buildPqIndex(spark, sf, annPath)
    // plant: an exact copy of a query vector (vec_id % 25 == 0) under a
    // fresh id — its codes equal the query's own, i.e. the minimum
    // possible ADC distance, so it must enter that query's top-5
    val q0 = Tables.embeddings(spark, sf).filter(col("vec_id") % 25 === 0)
      .orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding")).collect()(0)
    val qId = q0.getLong(0)
    val arrival = Seq((900055L, q0.getSeq[Float](1).toArray))
      .toDF("vec_id", "embedding")
    assert(Similarity.pqAdcTopKServe(spark, sf, annPath)
        .filter(col("q_id") === qId && col("neighbor_id") === 900055L).count() == 0,
      "the fresh id must not be served before admission")
    assert(Similarity.admitPqCodes(spark, annPath, arrival) == 1L)
    val served = Similarity.pqAdcTopKServe(spark, sf, annPath)
      .filter(col("q_id") === qId).collect()
    assert(served.exists(_.getLong(2) == 900055L),
      s"admitted copy must enter q$qId's top-5: ${served.mkString(";")}")
    // replay: nothing appended, the doubled-subspace guard never fires
    assert(Similarity.admitPqCodes(spark, annPath, arrival) == 0L)
    assert(graft.operators.AnnIndex.loadCodes(spark, s"$annPath/codes")
        .filter(col("vec_id") === 900055L).count() == 1,
      "replay must not double the stored codes")
    CacheRegistry.releaseAll()
  }

  test("SQ8 stored lifecycle: serve from codes bit-equal to in-session; " +
      "delta admission makes a fresh vector findable; replays append nothing") {
    import spark.implicits._
    import graft.operators.Similarity
    CacheRegistry.releaseAll()
    val annPath = tmp("sq8ann")
    Similarity.buildSq8Index(spark, sf, annPath)
    val want = sortedRows(Similarity.sq8TopK(spark, sf))
    val got = sortedRows(Similarity.sq8TopKServe(spark, sf, annPath))
    assert(got == want && got.nonEmpty,
      s"served SQ8 must equal the in-session query (${got.size} vs ${want.size})")
    val q0 = Tables.embeddings(spark, sf).filter(col("vec_id") % 25 === 0)
      .orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding")).collect()(0)
    val arrival = Seq((900077L, q0.getSeq[Float](1).toArray))
      .toDF("vec_id", "embedding")
    assert(Similarity.admitSq8Codes(spark, annPath, arrival) == 1L)
    val served = Similarity.sq8TopKServe(spark, sf, annPath)
      .filter(col("q_id") === q0.getLong(0)).collect()
    assert(served.exists(_.getLong(2) == 900077L),
      s"the admitted copy (identical codes → minimal adist) must enter the " +
        s"query's top-5: ${served.mkString(";")}")
    assert(Similarity.admitSq8Codes(spark, annPath, arrival) == 0L,
      "replay must admit nothing")
    CacheRegistry.releaseAll()
  }

  test("the ANN code admissions fire at most their job budget: PQ, SQ8 and " +
      "IVF+SQ8 each hand their code rows to deltaAppendFlat's one pass") {
    import spark.implicits._
    import graft.operators.Similarity
    CacheRegistry.releaseAll()
    val pqPath = tmp("pqbudget")
    Similarity.buildPqIndex(spark, sf, pqPath)
    val sq8Path = tmp("sq8budget")
    Similarity.buildSq8Index(spark, sf, sq8Path)
    val ivfPath = tmp("ivfsq8budget")
    Similarity.buildIvfSq8Index(spark, sf, ivfPath)
    CacheRegistry.releaseAll()
    val e0 = Tables.embeddings(spark, sf).orderBy(col("vec_id")).limit(1)
      .select(col("embedding")).collect()(0).getSeq[Float](0).toArray
    val arrival = Seq((900101L, e0)).toDF("vec_id", "embedding")
    var admitted = -1L
    val pq = jobsOf { admitted = Similarity.admitPqCodes(spark, pqPath, arrival) }
    assert(admitted == 1L)
    assert(pq <= PqAdmitJobs, s"admitPqCodes fired $pq jobs")
    val sq8 = jobsOf { admitted = Similarity.admitSq8Codes(spark, sq8Path, arrival) }
    assert(admitted == 1L)
    assert(sq8 <= Sq8AdmitJobs, s"admitSq8Codes fired $sq8 jobs")
    val ivf = jobsOf { admitted = Similarity.admitIvfSq8Codes(spark, ivfPath, arrival) }
    assert(admitted == 1L)
    assert(ivf <= IvfSq8AdmitJobs, s"admitIvfSq8Codes fired $ivf jobs")
    assert(Similarity.admitPqCodes(spark, pqPath, arrival) == 0L)
    assert(Similarity.admitSq8Codes(spark, sq8Path, arrival) == 0L)
    assert(Similarity.admitIvfSq8Codes(spark, ivfPath, arrival) == 0L)
    CacheRegistry.releaseAll()
  }

  /** The ANN admissions' jobs on the indexes above: 10, 10 and 11 when
    * each admission persisted and counted its own delta before
    * [[FpIndex.deltaAppendFlat]] persisted and counted it again; 7, 7
    * and 8 with the unpersisted code rows handed over, their count
    * derived from the appended rows. */
  private val PqAdmitJobs = 7
  private val Sq8AdmitJobs = 7
  private val IvfSq8AdmitJobs = 8

  test("IVF+SQ8 streaming gate (round-15 ask #6): foreachBatch arrivals " +
      "probe the STORED composed tier — batch 1's admission gates batch 2's " +
      "near-dup and replay; far vectors keep admitting", Slow) {
    import spark.implicits._
    import graft.operators.Similarity
    implicit val ctx = spark.sqlContext
    CacheRegistry.releaseAll()
    val annPath = tmp("ivfsq8gate")
    Similarity.buildIvfSq8Index(spark, sf, annPath)
    val tau = 0.05 // far above int8 reconstruction error (~2.5e-4 at d=64)
    // a corpus row to plant dups of, and its id for the replay leg
    val c0 = Tables.embeddings(spark, sf).orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding")).collect()(0)
    val cVec = c0.getSeq[Float](1).toArray
    val near = cVec.clone(); near(0) = near(0) + 0.001f
    def far(seed: Float) = Array.tabulate(cVec.length)(i =>
      (((i * 37 + 11) % 97) / 97.0f - 0.5f) * seed)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val verdicts = scala.collection.mutable.Map[Long, (Boolean, String)]()
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val b = batch.persist()
        val v = Similarity.ivfSq8Gate(b.sparkSession, annPath, b, tau)
        v.select(col("vec_id"), col("admitted"), col("reject_stage"))
          .collect().foreach(r => verdicts.synchronized {
            verdicts(r.getLong(0)) =
              (r.getBoolean(1), if (r.isNullAt(2)) null else r.getString(2))
          })
        // append half of the deployment loop: admitted arrivals enter
        // the stored codes, so the NEXT batch's gate sees them
        val admitted = v.filter(col("admitted")).select(col("vec_id"))
        Similarity.admitIvfSq8Codes(b.sparkSession, annPath,
          b.join(admitted, Seq("vec_id")))
        b.unpersist()
        CacheRegistry.releaseAll()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ivfsq8_ckpt").toString)
      .start()
    try {
      input.addData(
        (800001L, cVec),      // exact dup of a corpus vector → near_dup
        (800002L, far(1.0f)), // far fresh vector → admitted + appended
        (c0.getLong(0), cVec)) // the corpus id itself → replay
      q.processAllAvailable()
      assert(verdicts(800001L) == ((false, "near_dup")),
        s"exact dup must reject near_dup: $verdicts")
      assert(verdicts(800002L) == ((true, null)),
        s"far vector must admit: $verdicts")
      assert(verdicts(c0.getLong(0)) == ((false, "replay")),
        s"stored id must reject replay: $verdicts")
      input.addData(
        (800003L, near),       // near-dup of the CORPUS → near_dup
        (800004L, {            // near-dup of batch-1's ADMISSION → near_dup
          val a = far(1.0f); a(1) = a(1) + 0.001f; a
        }),
        (800002L, far(1.0f)),  // replay of batch-1's admission → replay
        (800005L, far(-1.0f))) // still-fresh far vector → admitted
      q.processAllAvailable()
      assert(verdicts(800003L) == ((false, "near_dup")),
        s"corpus near-dup must reject: $verdicts")
      assert(verdicts(800004L) == ((false, "near_dup")),
        "batch-2 must reject the near-dup of batch-1's admission — the " +
          s"delta append is invisible to the gate: $verdicts")
      assert(verdicts(800002L) == ((false, "replay")),
        s"batch-1 admission must replay-reject in batch 2: $verdicts")
      assert(verdicts(800005L) == ((true, null)), s"fresh far vector: $verdicts")
      // the admitted arrivals are in the stored code table exactly once
      val ids = graft.operators.AnnIndex.loadCodes(spark, s"$annPath/codes")
        .filter(col("vec_id") >= 800000L).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(ids == Seq(800002L, 800005L), s"appended ids: $ids")
    } finally { q.stop(); CacheRegistry.releaseAll() }
  }

  // ------------------------------------------- streaming admission

  test("streaming admission via foreachBatch: micro-batch 2's near-dup of " +
      "micro-batch 1's ADMISSION is rejected under the streaming runtime") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    CacheRegistry.releaseAll()
    val (root, _) = buildVecRoot()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val verdicts = scala.collection.mutable.Map[Long, (Int, Long, Int)]()
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val v = graft.pipeline.IndexDelta.admitVectors(
          batch.sparkSession, root, batch, s"stream-$id")
        v.select(col("vec_id"), col("replay"), col("n_close"), col("admitted"))
          .collect().foreach(r => verdicts.synchronized {
            verdicts(r.getLong(0)) = (r.getInt(1), r.getLong(2), r.getInt(3))
          })
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_admit_ckpt").toString)
      .start()
    try {
      input.addData((70L, vec(0.245f))) // clean → admitted + appended
      q.processAllAvailable()
      assert(verdicts(70L) == ((0, 0L, 1)), s"batch-1 clean admit: $verdicts")
      input.addData(
        (71L, vec(0.247f)), // near-dup of the JUST-admitted 70 → reject
        (70L, vec(0.9f)))   // replay of the admission → reject
      q.processAllAvailable()
      assert(verdicts(71L)._2 > 0 && verdicts(71L)._3 == 0,
        s"batch-2 must reject the near-dup of batch-1's admission: $verdicts")
      assert(verdicts(70L) == ((1, 0L, 0)), s"batch-2 replay verdict: $verdicts")
      val ids = Clustering.loadAssignedCorpus(spark, s"$root/${IndexBuild.AssignedT}")
        .select(col("corpus_id")).collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 70L), s"exactly one streamed admission appended: $ids")
    } finally { q.stop(); CacheRegistry.releaseAll() }
  }

  test("streaming DOC admission via foreachBatch: micro-batch 2's exact and " +
      "near-dup copies of micro-batch 1's admission are rejected") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    CacheRegistry.releaseAll()
    val corpus = Seq((1L, wordsB)).toDF("doc_id", "text")
    val root = buildDocRoot(corpus)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val verdicts = scala.collection.mutable.Map[Long, (Boolean, String)]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.pipeline.IndexDelta.admitDocs(
            batch.sparkSession, root, batch, s"dstream-$id")
          .select(col("doc_id"), col("admitted"), col("reject_stage"))
          .collect().foreach(r => verdicts.synchronized {
            verdicts(r.getLong(0)) = (r.getBoolean(1), r.getString(2))
          })
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_docadmit_ckpt").toString)
      .start()
    try {
      input.addData((30L, wordsA))
      q.processAllAvailable()
      assert(verdicts(30L)._1, s"batch-1 clean doc must admit: $verdicts")
      input.addData((31L, wordsA), (32L, wordsAnear))
      q.processAllAvailable()
      assert(verdicts(31L) == ((false, "exact_dedup")),
        s"streamed batch 2 must exact-reject batch 1's admission: $verdicts")
      assert(verdicts(32L) == ((false, "near_dedup")),
        s"streamed batch 2 must near-dup-reject the variant: $verdicts")
    } finally { q.stop(); CacheRegistry.releaseAll() }
  }

  // --------------------------------------------- staleness + refresh

  /** Build one vector unit into a fresh root, then serve staleness from
   *  its stored radius table and compare it row-for-row with the q143
   *  arithmetic recomputed over the full assignment under the same model. */
  private def assertStoredStaleness(unit: IndexBuild.VectorUnit, residue: Int): Unit = {
    val fixed = Clustering.fixedPoint(spark, sf)
    val arrivals = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 13 === residue)
      .select(col("vec_id"), col("embedding"))
    val root = tmp("radroot")
    IndexBuild.buildVectorUnit(spark, fixed, root, unit)
    assert(FpIndex.tableVersion(s"$root/${unit.radii}") > 0,
      s"the build must persist the ${unit.radii} artifact")
    val got = sortedRows(IndexDelta.storedStaleness(spark, root, arrivals, unit))
    val model = Clustering.loadCentroids(spark, s"$root/${unit.model}")
    val corp = model.assign(fixed).select(col("cluster"), col("vec_id"), col("dist"))
    val arr = model.assign(quantized(arrivals))
      .select(col("cluster"), col("vec_id"), col("dist"))
    val want = sortedRows(Clustering.modelStalenessOf(corp, arr))
    assert(got == want && got.nonEmpty,
      s"${unit.radii} staleness must equal the recomputed monitor (${got.size} rows)")
  }

  test("a nightly-built root serves staleness from the stored k-row radius " +
      "table, row-equal to recomputing the q143 arithmetic over the full " +
      "assignment") {
    CacheRegistry.releaseAll()
    assertStoredStaleness(IndexBuild.FlatUnit, residue = 2)
    // a root that predates the radius table is refused with the
    // rebuild instruction, as textStaleness refuses one without text_meta
    val fixed = Clustering.fixedPoint(spark, sf)
    val arrivals = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 13 === 2)
      .select(col("vec_id"), col("embedding"))
    val bare = tmp("noradii")
    Clustering.CellModel.Flat(Clustering.trainCentroids(fixed))
      .save(spark, s"$bare/${IndexBuild.CentroidsT}")
    val e = intercept[IllegalArgumentException](
      IndexDelta.storedStaleness(spark, bare, arrivals))
    assert(e.getMessage.contains("re-run IndexBuild.buildAll"), e.getMessage)
    CacheRegistry.releaseAll()
  }

  test("hier staleness serves from the stored two-level radii, row-equal to " +
      "recomputing over the hier assignment") {
    CacheRegistry.releaseAll()
    assertStoredStaleness(IndexBuild.TwoLevelUnit, residue = 5)
    CacheRegistry.releaseAll()
  }

  test("storedStaleness mirrors the q143 arithmetic over stored tables; " +
      "refreshIfStale retrains only past the threshold and pinned readers " +
      "keep serving across the refresh") {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val (root, _) = buildVecRoot()
    // fresh-looking arrivals: inside cell 0's radius (v2's dist is the
    // p95 radius of a 2-member cell)
    val nearArr = Seq((60L, vec(0.101f))).toDF("vec_id", "embedding")
    val stNear = IndexDelta.storedStaleness(spark, root, nearArr).collect()
    val cell0 = stNear.find(_.getInt(0) == 0).get
    assert(cell0.getLong(3) == 1L && cell0.getLong(4) == 0L,
      s"near arrival must not be stale: $cell0")
    val centPin = FpIndex.tableVersion(s"$root/${IndexBuild.CentroidsT}")
    assert(!IndexDelta.refreshIfStale(spark, sf, root, nearArr),
      "below threshold → no refresh")
    assert(FpIndex.tableVersion(s"$root/${IndexBuild.CentroidsT}") == centPin,
      "no refresh → no new commits")

    // drifted arrivals: far outside every stored radius → 10⁶ ppm stale
    val farArr = Seq((61L, vec(-0.3f)), (62L, vec(-0.31f)))
      .toDF("vec_id", "embedding")
    def centsAt(pin: Option[Int]): Seq[Seq[Long]] =
      Clustering.loadCentroids(spark, s"$root/${IndexBuild.CentroidsT}", pin)
        .asInstanceOf[Clustering.CellModel.Flat].cents.map(_.toSeq)
    val pinnedCents = centsAt(Some(centPin))
    assert(IndexDelta.refreshIfStale(spark, sf, root, farArr),
      "drifted arrivals must trip the refresh")
    assert(FpIndex.tableVersion(s"$root/${IndexBuild.CentroidsT}") > centPin,
      "refresh must commit a retrained model")
    assert(centsAt(None) != pinnedCents,
      "the retrained model differs from the planted one")
    assert(centsAt(Some(centPin)) == pinnedCents,
      "a reader pinned before the refresh still serves the planted model")
    CacheRegistry.releaseAll()
  }

  test("refreshIfStale closes the two-level loop (round-14 ask #2a): " +
      "below threshold nothing commits; planted drift retrains the hier unit " +
      "through generation-append cutovers and pinned readers keep serving", Slow) {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val root = tmp("hrefresh")
    val fixed = Clustering.fixedPoint(spark, sf)
    IndexBuild.buildVectorUnit(spark, fixed, root, IndexBuild.TwoLevelUnit)
    val modelPath = s"$root/${IndexBuild.HierModelT}"
    val radiiPath = s"$root/${IndexBuild.RadiiHierT}"
    val pinModel = FpIndex.tableVersion(modelPath)
    val pinnedRows = sortedRows(FpIndex.loadFlat(spark, modelPath, Some(pinModel)))
    // near arrivals: a corpus slice re-assigned under the same model —
    // ~5% past p95 by construction, far below the 150000 ppm default
    val nearArr = Tables.embeddings(spark, sf).filter(col("vec_id") % 13 === 2)
      .select(col("vec_id"), col("embedding"))
    assert(!IndexDelta.refreshIfStale(spark, sf, root, nearArr, unit = IndexBuild.TwoLevelUnit),
      "near arrivals must not trip the hier refresh")
    assert(FpIndex.tableVersion(modelPath) == pinModel,
      "no refresh → no new hier-model commits")
    // drifted arrivals: planted far outside every stored radius
    val farArr = Seq((910L, Array.fill(64)(-0.9f)), (911L, Array.fill(64)(-0.92f)))
      .toDF("vec_id", "embedding")
    assert(IndexDelta.refreshIfStale(spark, sf, root, farArr, unit = IndexBuild.TwoLevelUnit),
      "drifted arrivals must trip the hier refresh")
    assert(FpIndex.tableVersion(modelPath) > pinModel &&
      FpIndex.tableVersion(radiiPath) > 1,
      "the refresh must commit a retrained hier unit (model + radii)")
    assert(sortedRows(FpIndex.loadFlat(spark, modelPath, Some(pinModel))) == pinnedRows,
      "a reader pinned before the hier refresh still serves the old model rows")
    // the refreshed unit keeps monitoring (the loop continues)
    assert(IndexDelta.storedStaleness(spark, root, nearArr, IndexBuild.TwoLevelUnit)
      .count() > 0)
    CacheRegistry.releaseAll()
  }

  test("text-side staleness trigger (round-14 ask #2b): admitted-key growth " +
      "vs the build stamp; below threshold no-op; past it the postings " +
      "rebuild + meta re-stamp reset the signal; pinned readers keep serving", Slow) {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val corpus = Seq((1L, wordsA), (2L, wordsB)).toDF("doc_id", "text")
    val root = buildDocRoot(corpus)
    FpIndex.saveFlat(s"$root/${IndexBuild.PostingsT}",
      Incremental.postingTable(corpus))
    IndexBuild.buildTextMeta(spark, corpus, root)
    val st0 = IndexDelta.textStaleness(spark, root).head()
    assert(st0.getLong(0) == 2L && st0.getLong(1) == 2L && st0.getLong(2) == 0L,
      s"fresh build must report zero growth: $st0")
    val postingsPath = s"$root/${IndexBuild.PostingsT}"
    val pin = FpIndex.tableVersion(postingsPath)
    assert(!IndexDelta.refreshTextIfStale(spark, root, corpus),
      "zero growth must not trip the text refresh")
    assert(FpIndex.tableVersion(postingsPath) == pin)
    // admit a batch: keys grow 2 → 3 (500000 ppm — past the default)
    val batch = Seq((10L, wordsC)).toDF("doc_id", "text")
    IndexDelta.admitDocs(spark, root, batch, batchId = "txt1")
    val st1 = IndexDelta.textStaleness(spark, root).head()
    assert(st1.getLong(1) == 3L && st1.getLong(2) == 500000L,
      s"admitted keys must register as growth: $st1")
    val pinnedPostings = sortedRows(FpIndex.loadFlat(spark, postingsPath, Some(pin)))
    // the corpus of record now includes the admitted batch (the
    // deployment contract: the admission job appends there too)
    val record = corpus.unionByName(batch)
    assert(IndexDelta.refreshTextIfStale(spark, root, record),
      "500000 ppm growth must trip the text refresh")
    assert(FpIndex.tableVersion(postingsPath) > pin,
      "the refresh must commit rebuilt postings")
    // the rebuilt stats SEE the admitted document (N = 3 in every row)
    val ns = FpIndex.loadFlat(spark, postingsPath)
      .select(col("n")).distinct().collect().map(_.getLong(0)).toSeq
    assert(ns == Seq(3L), s"rebuilt postings must carry N=3: $ns")
    assert(sortedRows(FpIndex.loadFlat(spark, postingsPath, Some(pin))) ==
      pinnedPostings, "a reader pinned before the refresh serves the old stats")
    // the signal resets: growth is measured against the fresh stamp
    val st2 = IndexDelta.textStaleness(spark, root).head()
    assert(st2.getLong(2) == 0L, s"re-stamped meta must reset the signal: $st2")
    assert(!IndexDelta.refreshTextIfStale(spark, root, record),
      "the reset signal must not re-trip")
    CacheRegistry.releaseAll()
  }

  test("stalenessAgainstRadii counts arrivals in RADIUS-LESS cells as stale " +
      "(round-14 advice): an empty-corpus cell's arrivals are the most " +
      "drifted — they must enter both n_new and n_stale, not vanish") {
    import spark.implicits._
    val radii = Seq((0, 10L, 0.5), (1, 4L, 0.2))
      .toDF("cluster", "n_base", "radius")
    val arrivals = Seq(
      (0, 100L, 0.3),  // cell 0, inside radius → fresh
      (0, 101L, 0.9),  // cell 0, outside → stale
      (2, 102L, 0.01), // cell 2 has NO radius row → stale by definition
      (2, 103L, 0.02)
    ).toDF("cluster", "vec_id", "dist")
    val got = Clustering.stalenessAgainstRadii(radii, arrivals)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got(0) == ((10L, 2L, 1L, 500000L)), s"cell 0: ${got(0)}")
    assert(got(1) == ((4L, 0L, 0L, 0L)), s"radius row with no arrivals: ${got(1)}")
    assert(got(2) == ((0L, 2L, 2L, 1000000L)),
      s"radius-less cell's arrivals must count fully stale: ${got.get(2)}")
    // and the refresh trigger's totals see them: 3/4 stale = 750000 ppm
    val t = Clustering.stalenessAgainstRadii(radii, arrivals)
      .agg(sum(col("n_new")), sum(col("n_stale"))).head()
    assert(t.getLong(0) == 4L && t.getLong(1) == 3L,
      s"totals must include empty-cell arrivals: $t")
  }
}
