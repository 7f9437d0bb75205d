package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 write path: two-phase commit with manifest-gated visibility. */
class ManifestSinkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val fmt = "graft.sources.ManifestSink"

  private def tmpDir() =
    Files.createTempDirectory("graft_manifest").toString

  test("schema evolution: appended columns widen the table, old rows read as null — no history rewrite") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    // widen: same prefix + a new trailing column
    Seq((3L, "c", 30.5)).toDF("id", "s", "score")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val back = spark.read.format(fmt).option("path", dir).load()
    assert(back.schema.fieldNames.toSeq === Seq("id", "s", "score"))
    val rows = back.collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(rows === Set((1L, "a", null), (2L, "b", null), (3L, "c", 30.5)),
      s"pre-evolution rows must null-pad, got $rows")
    // a narrower (pre-evolution) writer keeps working unchanged
    Seq((4L, "d")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    assert(spark.read.format(fmt).option("path", dir).load().count() === 4)
    // renames/reorders are rejected loudly, not silently remapped
    val err = intercept[Exception] {
      Seq((5L, 9.9)).toDF("id", "renamed")
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    assert(err.getMessage.contains("schema evolution") ||
      Option(err.getCause).exists(_.getMessage.contains("schema evolution")))
    // history is untouched: version 1 is still the original two rows
    val v1 = spark.read.format(fmt).option("path", dir)
      .option("asOfManifest", "1").load()
    assert(v1.count() === 2 && v1.schema.fieldNames.length === 3)
  }

  test("OPTIMIZE bin-packs micro-files; VACUUM reclaims exactly the unreferenced garbage") {
    import spark.implicits._
    val dir = tmpDir()
    // 6 separate commits = many micro-files, the streaming-sink shape
    (0 until 6).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "s")
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    def dataFiles(): Set[String] = new File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")).map(_.getName).toSet
    val beforeFiles = dataFiles()
    assert(beforeFiles.size >= 6)

    graft.sources.ManifestOptimize.compactFiles(spark, dir, nFiles = 1)
    // contents identical, layout compacted, history one logical commit longer
    val rows = spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === (0 until 6).map(i => i.toLong -> s"v$i").toMap)
    val root = new File(dir)
    assert(graft.sources.ManifestSink.logicalCount(root) === 7)
    val live = graft.sources.ManifestSink.filesOf(
      graft.sources.ManifestSink.sortedManifests(root))
    assert(live.size === 1, s"6 micro-files must bin-pack into 1, got $live")

    // old files are garbage until an explicit vacuum (in-flight-reader contract)
    assert(dataFiles().intersect(beforeFiles) === beforeFiles)
    // default retention protects files younger than the grace period —
    // the window where a concurrent commit has moved data into the
    // root but not yet written its manifest
    assert(graft.sources.ManifestOptimize.vacuum(dir) === 0)
    assert(dataFiles().intersect(beforeFiles) === beforeFiles)
    val reclaimed = graft.sources.ManifestOptimize.vacuum(dir, graceMs = 0L)
    assert(reclaimed === beforeFiles.size)
    assert(dataFiles() === live.toSet)
    // table unaffected by the vacuum
    assert(spark.read.format(fmt).option("path", dir).load().count() === 6)
  }

  test("COW conflict detection: a commit landing mid-rewrite aborts the swap, nothing lost") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    // a writer sneaks a commit in between the delete's survivor
    // rewrite and its swap publication — the lost-update scenario
    graft.sources.ManifestSink.beforeSwapHook = () =>
      Seq((99L, "sneaky")).toDF("id", "s")
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    try {
      val err = intercept[java.util.ConcurrentModificationException] {
        graft.sources.ManifestUpsert.upsert(dir,
          Seq((2L, "B2")).toDF("id", "s"), Seq("id"))
      }
      assert(err.getMessage.contains("retry"))
    } finally graft.sources.ManifestSink.beforeSwapHook = () => ()
    // the concurrent commit SURVIVED (not silently dropped) and the
    // aborted merge left no partial state
    val rows = spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "a", 2L -> "b", 99L -> "sneaky"))
    // the retry now succeeds against the new history
    graft.sources.ManifestUpsert.upsert(dir, Seq((2L, "B2")).toDF("id", "s"), Seq("id"))
    val after = spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after === Map(1L -> "a", 2L -> "B2", 99L -> "sneaky"))
  }

  test("COW claim-then-validate: a commit landing AFTER the pre-check but before " +
      "the checkpoint rename is detected and the swap rolled back") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    // the narrowest window: the optimistic pre-check already PASSED,
    // then a commit claims a sequence slot below the upcoming
    // checkpoint's — without post-claim validation the checkpoint
    // would silently hide (drop) it
    graft.sources.ManifestSink.beforeClaimHook = () =>
      Seq((99L, "sneaky")).toDF("id", "s")
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    try {
      val err = intercept[java.util.ConcurrentModificationException] {
        graft.sources.ManifestUpsert.upsert(dir,
          Seq((2L, "B2")).toDF("id", "s"), Seq("id"))
      }
      assert(err.getMessage.contains("retry"))
    } finally graft.sources.ManifestSink.beforeClaimHook = () => ()
    // the sneaky commit survived; the rolled-back checkpoint and its
    // adopted files left no partial state
    val rows = spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "a", 2L -> "b", 99L -> "sneaky"))
    val root = new File(dir)
    assert(graft.sources.ManifestSink.sortedManifests(root).size === 2,
      "the initial + sneaky commits only — no checkpoint may remain after the rollback")
    // retry against the new history succeeds
    graft.sources.ManifestUpsert.upsert(dir, Seq((2L, "B2")).toDF("id", "s"), Seq("id"))
    val after = spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after === Map(1L -> "a", 2L -> "B2", 99L -> "sneaky"))
  }

  test("COW tolerates crash residue: manifests a dead compactor left behind are " +
      "GC'd during validation, not counted as conflicts forever") {
    import spark.implicits._
    val dir = tmpDir()
    (0 until 3).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "s")
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    val root = new File(dir)
    val preCompact = graft.sources.ManifestSink.sortedManifests(root)
      .map(m => m.getName -> Files.readAllBytes(m.toPath))
    graft.sources.ManifestSink.compact(dir)
    // simulate a compactor that died between the checkpoint rename and
    // deleting the absorbed manifests: restore one absorbed manifest
    val (residueName, residueBytes) = preCompact.head
    Files.write(new File(root, residueName).toPath, residueBytes)
    // every sortedManifests view already hides it; before the residue
    // fix, the raw-listing validation saw it and threw
    // ConcurrentModificationException on EVERY future COW operation
    graft.sources.ManifestUpsert.upsert(dir, Seq((1L, "V1")).toDF("id", "s"), Seq("id"))
    val rows = spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(0L -> "v0", 1L -> "V1", 2L -> "v2"))
    assert(!new File(root, residueName).exists(),
      "validation must garbage-collect the permanently-hidden residue manifest")
  }

  test("COW post-claim commit (higher seq than the checkpoint) stays visible and " +
      "does not trigger a spurious conflict rollback") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    // a commit landing AFTER the checkpoint rename claims a higher seq
    // and is NOT hidden by it — the old whole-raw-listing comparison
    // aborted the swap anyway (spurious conflict under contention)
    graft.sources.ManifestSink.afterClaimHook = () =>
      Seq((99L, "late")).toDF("id", "s")
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    try graft.sources.ManifestUpsert.upsert(dir,
      Seq((2L, "B2")).toDF("id", "s"), Seq("id"))
    finally graft.sources.ManifestSink.afterClaimHook = () => ()
    val rows = spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "a", 2L -> "B2", 99L -> "late"),
      "both the swap and the post-claim commit must survive")
  }

  test("one claim per sequence number: an append landing between a checkpoint's " +
      "slot listing and its rename takes another seq and stays visible") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    // the append lists the same last seq the checkpoint listed; with the
    // slot arbitrated on the tagged name both took that seq and the
    // checkpoint hid the append
    var raced = false
    graft.sources.ManifestSink.beforeRenameHook = tag =>
      if (tag.startsWith("ckpt-") && !raced) {
        raced = true
        Seq((99L, "racer")).toDF("id", "s")
          .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
      }
    try graft.sources.ManifestUpsert.upsert(dir, Seq((2L, "B2")).toDF("id", "s"), Seq("id"))
    finally graft.sources.ManifestSink.beforeRenameHook = _ => ()
    assert(raced, "the seam must have run the racing append")
    val rows = spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "a", 2L -> "B2", 99L -> "racer"),
      "the racing append must survive the checkpoint")
    val names = new File(dir).list().toSeq
    val seqs = names.filter(_.startsWith("_manifest-"))
      .map(_.stripPrefix("_manifest-").takeWhile(_.isDigit))
    assert(seqs.distinct.size == seqs.size, s"two manifests share a seq: $names")
    assert(!names.exists(_.startsWith("_claim-")), s"claims must be released: $names")
  }

  test("a listed manifest absorbed by a concurrent rewrite before it is read " +
      "raises ConcurrentModificationException, the retry signal") {
    import spark.implicits._
    val dir = tmpDir()
    (0 until 2).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "s")
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    val root = new File(dir)
    val listed = graft.sources.ManifestSink.sortedManifests(root)
    graft.sources.ManifestSink.compact(dir) // deletes what its checkpoint hides
    val err = intercept[java.util.ConcurrentModificationException](
      graft.sources.ManifestSink.entriesOf(listed))
    assert(err.getMessage.contains("retry"))
    assert(graft.sources.ManifestSink.filesOf(
      graft.sources.ManifestSink.sortedManifests(root)).size == 2,
      "a fresh listing reads the checkpoint")
  }

  test("batch commit re-keys data-file mtime to publish time, so vacuum's grace " +
      "window cannot reclaim a straggler task's just-published files") {
    val dir = tmpDir()
    val root = new File(dir)
    val tempDir = new File(root, "_temp/qpub")
    tempDir.mkdirs()
    val staged = new File(tempDir, "part-straggler.parquet")
    Files.write(staged.toPath, Array[Byte](1, 2, 3))
    // task finished long ago (> default 1 h grace); ATOMIC_MOVE would
    // carry this mtime into the table root
    staged.setLastModified(System.currentTimeMillis() - 7200000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    new graft.sources.ManifestBatchWrite(dir, "qpub", schema)
      .commit(Array(graft.sources.ManifestCommitMessage("part-straggler.parquet", 1L)))
    val published = new File(root, "part-straggler.parquet")
    assert(published.exists())
    assert(published.lastModified() > System.currentTimeMillis() - 600000L,
      "publish must stamp commit time, not preserve the task-write mtime")
  }

  test("concurrent committers race for sequence slots: every commit lands exactly once") {
    val dir = new File(tmpDir())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 16).map { w =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String =
            graft.sources.ManifestSink.writeManifest(dir, s"writer-$w", Seq(s"file-$w")).getName
        })
      }
      val names = futures.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(names.toSet.size == 16, "each commit must claim a distinct manifest")
      val listed = graft.sources.ManifestSink.sortedManifests(dir)
      assert(listed.size == 16 && graft.sources.ManifestSink.logicalCount(dir) == 16)
      // all 16 payloads visible, none lost to the rename race
      assert(graft.sources.ManifestSink.filesOf(listed).toSet ==
        (0 until 16).map(w => s"file-$w").toSet)
    } finally pool.shutdown()
  }

  test("mixed concurrent workload: appends, keyed upserts (retry-on-conflict), and " +
      "OPTIMIZE race — nothing lost, no hidden garbage, all rows land") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((0L, "seed")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def retry[T](n: Int)(f: => T): T = {
      var i = 0
      var out: Option[T] = None
      while (out.isEmpty) {
        try out = Some(f)
        catch {
          case e: java.util.ConcurrentModificationException =>
            i += 1
            if (i >= n) throw e
            Thread.sleep(10L + scala.util.Random.nextInt(40))
        }
      }
      out.get
    }
    def submit(body: => Unit) = pool.submit(new Runnable {
      override def run(): Unit =
        try body catch { case t: Throwable => failures.add(t) }
    })
    try {
      val fs =
        (0 until 2).map { w => submit {
          (0 until 3).foreach { r =>
            // each upserter owns a disjoint key; the COW swap must
            // retry past every concurrently-landing commit
            retry(80)(graft.sources.ManifestUpsert.upsert(dir,
              Seq((100L + w, s"u$w-r$r")).toDF("id", "s"), Seq("id")))
          }
        }} ++
        (0 until 2).map { w => submit {
          (0 until 3).foreach { r =>
            Seq((1000L * (w + 1) + r, s"a$w-$r")).toDF("id", "s")
              .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
          }
        }} :+
        submit { retry(80)(graft.sources.ManifestOptimize.compactFiles(spark, dir, 1)) }
      fs.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      assert(failures.isEmpty,
        s"concurrent workload must converge: ${failures.toArray.mkString(", ")}")
      val rows = spark.read.format(fmt).option("path", dir).load()
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val expected = Map(0L -> "seed", 100L -> "u0-r2", 101L -> "u1-r2") ++
        (for (w <- 0 until 2; r <- 0 until 3)
          yield (1000L * (w + 1) + r) -> s"a$w-$r").toMap
      assert(rows == expected,
        s"lost or phantom rows: missing ${(expected.toSet -- rows.toSet).take(3)}, " +
          s"extra ${(rows.toSet -- expected.toSet).take(3)}")
      // invariant: every manifest on disk participates in the visible
      // view — a hidden non-checkpoint file would be exactly the crash
      // residue the COW validation GCs, and none may survive a clean run
      val root = new File(dir)
      val raw = Option(root.listFiles()).getOrElse(Array.empty[File])
        .map(_.getName).filter(_.startsWith("_manifest-")).toSet
      val visible = graft.sources.ManifestSink.sortedManifests(root)
        .map(_.getName).toSet
      assert(raw == visible, s"hidden garbage manifests: ${raw -- visible}")
    } finally pool.shutdown()
  }

  test("row codec round-trips arbitrary strings (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // adversarial generator: heavy on the codec's escape characters
    val g = Gen.listOf(Gen.frequency(
      (4, Gen.asciiPrintableChar), (2, Gen.const('\\')), (2, Gen.const('\t')),
      (2, Gen.const('\n')), (1, Gen.const('\r')),
      (1, Gen.choose(0x20.toChar, 0x2FFF.toChar)))).map(_.mkString)
    val cases = (0 until 500).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong))) :+ "" :+ "\\N" :+ "C:\\net\\r"
    cases.foreach { s =>
      val enc = graft.sources.ManifestSink.encodeField(s)
      assert(!enc.contains('\t') && !enc.contains('\n') && !enc.contains('\r'),
        s"encoded form must be line/field safe: ${enc.take(50)}")
      val dec = graft.sources.ManifestSink.decodeField(enc,
        org.apache.spark.sql.types.StringType)
      assert(dec.toString == s, s"round-trip broke for ${s.take(50)}")
    }
    // the null sentinel is not confusable with the literal string "\\N"
    assert(graft.sources.ManifestSink.decodeField("\\N",
      org.apache.spark.sql.types.StringType) == null)
  }

  test("write → read-back round-trips rows, schema, and nulls") {
    import spark.implicits._
    val dir = tmpDir()
    val df = Seq(
      (1L, "hello\tworld", Some(1.5), true),
      (2L, "line\nbreak and \\ backslash", None, false),
      (3L, "", Some(-0.0), true))
      .toDF("id", "s", "d", "b")
    df.write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val back = spark.read.format(fmt).option("path", dir).load()
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    val a = df.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(b === a)
  }

  test("each append publishes one manifest; reads see the union") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    Seq((2L, "b"), (3L, "c")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val manifests = new File(dir).listFiles().filter(_.getName.startsWith("_manifest-"))
    assert(manifests.length === 2)
    val back = spark.read.format(fmt).option("path", dir).load()
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("unpublished files are invisible: stray temp and unmanifested data are never read") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "committed")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    // simulate a failed/speculative attempt that died before commit
    val stray = new File(dir, "_temp/part-deadbeef-00000-99.tsv")
    stray.getParentFile.mkdirs()
    Files.write(stray.toPath, "9\tghost\n".getBytes(StandardCharsets.UTF_8))
    // and a file dropped into the root WITHOUT a manifest entry
    Files.write(new File(dir, "part-orphan-00000-98.tsv").toPath,
      "8\torphan\n".getBytes(StandardCharsets.UTF_8))
    val back = spark.read.format(fmt).option("path", dir).load().collect()
    assert(back.map(_.getLong(0)).toSeq === Seq(1L),
      "only manifest-listed files may be visible")
  }

  test("empty-partition tasks publish no files") {
    import spark.implicits._
    val dir = tmpDir()
    // 8 partitions, 2 rows → most tasks write nothing
    Seq((1L, "x"), (2L, "y")).toDF("id", "s").repartition(8)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val dataFiles = new File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.isFile)
    // 2 rows in 8 partitions → at most 2 non-empty tasks (round-robin
    // may co-locate them); the 6+ empty tasks must publish nothing
    assert(dataFiles.nonEmpty && dataFiles.length <= 2,
      s"only non-empty tasks may publish: ${dataFiles.map(_.getName).toSeq}")
    assert(spark.read.format(fmt).option("path", dir).load().count() === 2)
  }

  test("streaming write: epoch manifests publish each micro-batch exactly once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tmpDir()
    val ckpt = tmpDir()
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "s")
      .writeStream.format(fmt)
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format(fmt).option("path", dir).load()
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    val manifests = new File(dir).listFiles()
      .filter(_.getName.contains("-epoch-"))
    assert(manifests.length >= 2, "one manifest per non-empty epoch")
  }

  test("replayed epoch commit is a no-op (crash-between-commit-and-checkpoint contract)") {
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    import org.apache.spark.sql.types._
    val dir = tmpDir()
    val schema = StructType(Seq(StructField("id", LongType)))
    val write = new graft.sources.ManifestStreamingWrite(dir, "qtest", schema)
    def writeEpochFiles(rows: Seq[Long]): Array[WriterCommitMessage] = {
      val factory = new graft.sources.ManifestStreamingWriterFactory(dir, "qtest", schema)
      val w = factory.createWriter(0, 7L, 0L)
      rows.foreach(r => w.write(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](r))))
      Array(w.commit())
    }
    write.commit(0L, writeEpochFiles(Seq(1L, 2L)))
    // Structured Streaming re-runs epoch 0 after a simulated crash:
    // same epoch id, fresh task attempt, duplicate commit
    write.commit(0L, writeEpochFiles(Seq(1L, 2L)))
    val back = spark.read.format(fmt).option("path", dir).load()
    assert(back.count() === 2, "the replayed epoch must publish nothing new")
    assert(new File(dir, "_temp").listFiles() == null ||
      new File(dir, "_temp").listFiles().isEmpty,
      "duplicate epoch files must be discarded")
  }

  test("asOfManifest time-travels to a committed snapshot") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    Thread.sleep(20) // distinct mtimes for deterministic manifest order
    Seq((2L, "b")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val snap1 = spark.read.format(fmt)
      .option("path", dir).option("asOfManifest", "1").load()
    assert(snap1.collect().map(_.getLong(0)).toSeq === Seq(1L))
    val snap2 = spark.read.format(fmt)
      .option("path", dir).option("asOfManifest", "2").load()
    assert(snap2.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("streaming read: each new commit arrives as a micro-batch, exactly once") {
    import spark.implicits._
    val dir = tmpDir()
    val ckpt = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val q = spark.readStream.format(fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("manifest_stream_out")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("manifest_stream_out").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
      Thread.sleep(20)
      // a batch writer publishes a new commit while the stream runs
      Seq((3L, "c")).toDF("id", "s")
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
      q.processAllAvailable()
      assert(spark.table("manifest_stream_out").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L),
        "the new manifest must arrive once, earlier ones must not replay")
    } finally q.stop()
  }

  test("codec: literal backslash sequences and CR round-trip unharmed (ADVICE r03)") {
    import spark.implicits._
    val dir = tmpDir()
    // "C:\net" encodes to C:\\net — the old sequential decode chain
    // matched \n first, yielding backslash+LF; embedded \r used to
    // split the row under Files.lines
    val tricky = Seq(
      (1L, "C:\\net"), (2L, "a\\nb"), (3L, "carriage\rreturn"),
      (4L, "\\t literal"), (5L, "mix\\\\r\n\t\r end"), (6L, "\\N almost-null"))
      .toDF("id", "s")
    tricky.write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val back = spark.read.format(fmt).option("path", dir).load()
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      tricky.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  test("compaction: one checkpoint manifest replaces the prefix; reads and offsets survive") {
    import spark.implicits._
    val dir = tmpDir()
    (1L to 3L).foreach(i => Seq((i, s"v$i")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save())
    assert(graft.sources.ManifestSink.sortedManifests(new File(dir)).size === 3)

    graft.sources.ManifestSink.compact(dir)
    val afterCompact = graft.sources.ManifestSink.sortedManifests(new File(dir))
    assert(afterCompact.size === 1, "prefix union → one checkpoint manifest")
    assert(graft.sources.ManifestSink.weightOf(afterCompact.head) === 3,
      "checkpoint carries the absorbed logical commit count")
    assert(spark.read.format(fmt).option("path", dir).load()
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))

    // a later append continues the monotone sequence past the checkpoint
    Seq((4L, "v4")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    assert(spark.read.format(fmt).option("path", dir).load().count() === 4)
    // time travel at the checkpoint boundary still works (3 logical commits)
    assert(spark.read.format(fmt).option("path", dir)
      .option("asOfManifest", "3").load().count() === 3)
    // an offset INSIDE the compacted range is no longer addressable — loud error
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("asOfManifest", "1").load().collect()
    }
    assert(e.getMessage != null)
  }

  test("compaction is re-compactable and streaming reads resume past a checkpoint") {
    import spark.implicits._
    val dir = tmpDir()
    val ckpt = tmpDir()
    (1L to 2L).foreach(i => Seq((i, s"v$i")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save())
    // consume both commits, then compact, then append more
    val q = spark.readStream.format(fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("compact_stream_out")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("compact_stream_out").count() === 2)
      graft.sources.ManifestSink.compact(dir)
      Seq((3L, "v3")).toDF("id", "s")
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
      q.processAllAvailable()
      assert(spark.table("compact_stream_out").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L),
        "a reader at the checkpoint boundary resumes exactly-once")
    } finally q.stop()
    // second compaction absorbs the first checkpoint + the new commit
    graft.sources.ManifestSink.compact(dir)
    val ms = graft.sources.ManifestSink.sortedManifests(new File(dir))
    assert(ms.size === 1 && graft.sources.ManifestSink.weightOf(ms.head) === 3)
    assert(spark.read.format(fmt).option("path", dir).load().count() === 3)
  }

  test("zero-row streaming epoch leaves no temp garbage (ADVICE r03)") {
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    import org.apache.spark.sql.types._
    val dir = tmpDir()
    val schema = StructType(Seq(StructField("id", LongType)))
    val write = new graft.sources.ManifestStreamingWrite(dir, "qzero", schema)
    val factory = new graft.sources.ManifestStreamingWriterFactory(dir, "qzero", schema)
    val w = factory.createWriter(0, 11L, 5L) // writes nothing
    write.commit(5L, Array[WriterCommitMessage](w.commit()))
    val temp = new File(dir, "_temp")
    assert(!temp.exists() || temp.listFiles().isEmpty,
      "empty epoch temp files must be cleaned up, not accumulate")
  }

  test("batch commit cleanup is scoped: a concurrent write's in-flight temp survives") {
    import spark.implicits._
    val dir = tmpDir()
    // writer A is mid-flight: its temp file exists under its own scope
    val otherTemp = new File(dir, "_temp/other-query-id/part-other-00000-1.tsv")
    otherTemp.getParentFile.mkdirs()
    Files.write(otherTemp.toPath, "42\n".getBytes(StandardCharsets.UTF_8))
    // writer B commits
    Seq((1L, "b")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    assert(otherTemp.exists(),
      "commit cleanup must only remove its own _temp/<queryId> scope")
  }

  test("maxManifestsPerTrigger paces catch-up into bounded micro-batches") {
    import spark.implicits._
    val dir = tmpDir()
    val ckpt = tmpDir()
    // 5 pre-existing commits, then a rate-limited reader catches up
    (1L to 5L).foreach(i => Seq((i, s"v$i")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save())
    val q = spark.readStream.format(fmt)
      .option("path", dir).option("maxManifestsPerTrigger", "2").load()
      .writeStream.format("memory").queryName("paced_stream_out")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("paced_stream_out").collect()
        .map(_.getLong(0)).sorted.toSeq === (1L to 5L),
        "pacing must not lose or duplicate commits")
      // 5 commits at <=2 per trigger → at least 3 non-empty batches
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 3,
        s"expected >=3 paced micro-batches, saw $batches: " +
          q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("events-shaped data survives a realistic round-trip") {
    val dir = tmpDir()
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    ev.write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val back = spark.read.format(fmt).option("path", dir).load()
    assert(back.count() === ev.count())
    val a = ev.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("file-granular DELETE: only files HOLDING matching rows are rewritten — " +
      "untouched committed files survive under their own names with bytes " +
      "intact, the swap registers ONE logical commit, and a no-match DELETE " +
      "publishes nothing at all") {
    import spark.implicits._
    import org.apache.spark.sql.{sources => v1}
    import graft.sources.{ManifestDelete, ManifestSink}
    val dir = tmpDir()
    val root = new File(dir)
    Seq((1L, "keep1"), (2L, "drop")).toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    Seq((3L, "keep2")).toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    Seq((4L, "keep3")).toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    def committed(): Seq[String] =
      ManifestSink.filesOf(ManifestSink.sortedManifests(root))
    val before = committed()
    assert(before.size == 3)
    val t = spark.read.format(fmt).option("path", dir).load()
    val dropFile = t.filter(col("s") === "drop")
      .select(t.metadataColumn("_file")).head.getString(0)
    val untouched = before.filterNot(_ == dropFile)
    val bytesBefore = untouched.map(f =>
      (f, Files.readAllBytes(new File(root, f).toPath).toSeq)).toMap
    val verBefore = ManifestSink.logicalCount(root)

    ManifestDelete.run(dir, Array(v1.EqualTo("s", "drop")))

    val after = committed()
    untouched.foreach { f =>
      assert(after.contains(f), s"untouched file $f must be adopted by name")
      assert(Files.readAllBytes(new File(root, f).toPath).toSeq == bytesBefore(f),
        s"untouched file $f must not be rewritten")
    }
    assert(!after.contains(dropFile), "the hit file must leave the manifest")
    val rows = spark.read.format(fmt).option("path", dir).load()
      .select("id", "s").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "keep1"), (3L, "keep2"), (4L, "keep3")))
    assert(ManifestSink.logicalCount(root) == verBefore + 1,
      "the delete is exactly one logical commit")

    // no-match DELETE: no rewrite, no commit, no version bump
    ManifestDelete.run(dir, Array(v1.EqualTo("s", "nope")))
    assert(committed() == after &&
      ManifestSink.logicalCount(root) == verBefore + 1)
  }

  test("required-column pruning serves narrow projections (and composes with " +
      "evolution null-padding); the _file metadata column names exactly the " +
      "manifest-committed files") {
    import spark.implicits._
    import graft.sources.ManifestSink
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    Seq((3L, "c", 1.5)).toDF("id", "s", "score").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val t = spark.read.format(fmt).option("path", dir).load()
    // pruned single-column read over the widened table: the two
    // pre-evolution rows null-pad THROUGH the pruned index mapping
    val scores = t.select("score").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(scores.count(_.isEmpty) == 2 && scores.contains(Some(1.5)))
    assert(t.select("s").as[String].collect().toSet == Set("a", "b", "c"))
    val files = t.select(t.metadataColumn("_file")).distinct()
      .as[String].collect().toSet
    assert(files ==
      ManifestSink.filesOf(ManifestSink.sortedManifests(new File(dir))).toSet)
  }

  test("file skipping: per-file numeric min/max stats prune committed files " +
      "a pushed filter refutes — and the stats survive log compaction, " +
      "file-granular DELETE adoption, and OPTIMIZE rewrite — while results " +
      "stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.{sources => v1}
    import graft.sources.{ManifestDelete, ManifestScanBuilder, ManifestSink}
    val dir = tmpDir()
    val root = new File(dir)
    // three commits with DISJOINT id ranges -> three files with
    // non-overlapping [min, max]
    Seq.tabulate(10)(i => (i.toLong, s"a$i")).toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    Seq.tabulate(10)(i => (100L + i, s"b$i")).toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    Seq.tabulate(10)(i => (200L + i, s"c$i")).toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val schema = spark.read.format(fmt).option("path", dir).load().schema

    def partsFor(filters: v1.Filter*): Int = {
      val b = new ManifestScanBuilder(dir, schema, None)
      b.pushFilters(filters.toArray)
      b.build().toBatch.planInputPartitions().length
    }
    assert(partsFor() == 3, "no filter scans every committed file")
    assert(partsFor(v1.EqualTo("id", 105L)) == 1, "point lookup prunes to 1 file")
    assert(partsFor(v1.EqualTo("id", 500L)) == 0, "out-of-range lookup prunes all")
    assert(partsFor(v1.GreaterThan("id", 150L)) == 1)
    assert(partsFor(v1.LessThanOrEqual("id", 9L)) == 1)
    assert(partsFor(v1.In("id", Array(5L, 205L))) == 2)
    assert(partsFor(v1.EqualTo("s", "b5")) == 1,
      "string point lookup prunes on the (short, exact) string bounds")
    assert(partsFor(v1.StringStartsWith("s", "c")) == 1)
    assert(partsFor(v1.StringStartsWith("s", "z")) == 0)
    // OR prunes only files BOTH sides refute: id=500 refutes all three,
    // s=b5 keeps the b-file -> 1 part survives
    assert(partsFor(v1.Or(v1.EqualTo("id", 500L), v1.EqualTo("s", "b5"))) == 1)
    // an OR with an unsupported side can never prune
    assert(partsFor(v1.Or(v1.EqualTo("id", 500L), v1.IsNotNull("s"))) == 3)

    // results stay exact regardless of skipping
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(t.filter(col("id") === 105L).select("s").as[String].collect().toSeq
      == Seq("b5"))
    assert(t.filter(col("id") > 150L).count() == 10)

    // stats survive LOG compaction (entriesOf union through the ckpt)
    ManifestSink.compact(dir)
    assert(partsFor(v1.EqualTo("id", 105L)) == 1, "stats lost in compaction")

    // stats survive the file-granular DELETE: the untouched files keep
    // their original entries, the rewritten file gets fresh stats
    ManifestDelete.run(dir, Array(v1.EqualTo("id", 105L)))
    assert(partsFor(v1.EqualTo("id", 5L)) == 1, "untouched-file stats lost in delete")
    assert(partsFor(v1.EqualTo("id", 205L)) == 1)
    assert(spark.read.format(fmt).option("path", dir).load().count() == 29)

    // OPTIMIZE rewrites data files; the new files carry fresh stats
    graft.sources.ManifestOptimize.compactFiles(spark, dir, nFiles = 2)
    val entries = ManifestSink.entriesOf(ManifestSink.sortedManifests(root))
    assert(entries.nonEmpty && entries.forall(e =>
      ManifestSink.statsOfEntry(e).nonEmpty), "optimized files lost stats")
    assert(spark.read.format(fmt).option("path", dir).load().count() == 29)
  }

  test("aggregate pushdown: ungrouped COUNT(*)/MIN/MAX are answered from the " +
      "manifest's exact per-file statistics WITHOUT opening any data file — " +
      "proven by deleting the data files out from under the manifests — and " +
      "a pre-stats commit makes the scan fall back to reading rows") {
    import spark.implicits._
    import graft.sources.ManifestSink
    val dir = tmpDir()
    val root = new File(dir)
    Seq.tabulate(10)(i => (i.toLong, i * 1.5, s"a$i")).toDF("id", "x", "s")
      .coalesce(1).write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    Seq.tabulate(10)(i => (100L + i, -5.0 + i, s"b$i")).toDF("id", "x", "s")
      .coalesce(1).write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    def t = spark.read.format(fmt).option("path", dir).load()
    val agg = t.agg(count(lit(1)), min(col("id")), max(col("id")),
      min(col("x")), max(col("x"))).collect()(0)
    assert(agg.getLong(0) == 20 && agg.getLong(1) == 0L && agg.getLong(2) == 109L)
    assert(agg.getDouble(3) == -5.0 && agg.getDouble(4) == 13.5)

    // the decisive proof: remove the DATA files, keep the manifests —
    // metadata-only aggregates still answer; a row read fails
    val dataFiles = ManifestSink.filesOf(ManifestSink.sortedManifests(root))
    dataFiles.foreach(f => assert(new File(root, f).delete()))
    assert(t.agg(count(lit(1))).collect()(0).getLong(0) == 20,
      "COUNT(*) must come from the manifest, not the data files")
    assert(t.agg(max(col("id"))).collect()(0).getLong(0) == 109L)
    intercept[Exception] { t.select("s").collect() }

    // grouped/filtered shapes are NOT pushed (they need rows) — with
    // the data files gone they must fail rather than silently answer
    intercept[Exception] { t.filter(col("id") > 5).count() }
    intercept[Exception] { t.groupBy(col("s")).count().collect() }

    // a pre-stats (name-only) manifest line disables metadata answers:
    // rebuild a fresh table, then strip the stats cells from its log
    val dir2 = tmpDir()
    Seq((1L, "z")).toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir2).mode(SaveMode.Append).save()
    val m2 = ManifestSink.sortedManifests(new File(dir2))
    val entry = new String(Files.readAllBytes(m2.head.toPath),
      StandardCharsets.UTF_8).trim
    Files.write(m2.head.toPath,
      ManifestSink.nameOf(entry).getBytes(StandardCharsets.UTF_8))
    val t2 = spark.read.format(fmt).option("path", dir2).load()
    assert(t2.agg(count(lit(1))).collect()(0).getLong(0) == 1,
      "pre-stats entries must fall back to scanning rows — and still be right")
  }

  test("string bounds are truncation-safe: long shared-prefix values keep " +
      "sound [lower, upper) bounds — a value between the truncated bounds " +
      "is never wrongly pruned, values outside still are, and metadata " +
      "MIN/MAX never answers from a (possibly truncated) string bound") {
    import spark.implicits._
    import org.apache.spark.sql.{sources => v1}
    import graft.sources.{ManifestScanBuilder, ManifestStats}
    val dir = tmpDir()
    val pre = "p" * 40 // well past the 32-char truncation width
    Seq((1L, pre + "aaa"), (2L, pre + "mmm")).toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    Seq((3L, "zzz")).toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val schema = spark.read.format(fmt).option("path", dir).load().schema
    def partsFor(filters: v1.Filter*): Int = {
      val b = new ManifestScanBuilder(dir, schema, None)
      b.pushFilters(filters.toArray)
      b.build().toBatch.planInputPartitions().length
    }
    // the long-prefix file's bounds truncate to [p*32, p*31 + q): a
    // lookup INSIDE the real range must keep the file
    assert(partsFor(v1.EqualTo("s", pre + "ggg")) == 1)
    // a lookup below every value prunes both files
    assert(partsFor(v1.EqualTo("s", "a")) == 0)
    // binary-order quirk pinned: the truncated upper bound rounds UP,
    // so a value just past the true max but under the rounded bound
    // conservatively keeps the file (sound, merely not tight)
    assert(partsFor(v1.EqualTo("s", pre + "zzz")) >= 1)
    assert(partsFor(v1.StringStartsWith("s", pre)) == 1)
    // exact results under the pruning
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(t.filter(col("s") === (pre + "mmm")).count() == 1)
    assert(t.filter(col("s").startsWith("z")).select("id").as[Long].collect()
      .toSeq == Seq(3L))
    // MIN/MAX of a string column is NEVER answered from metadata: with
    // data intact it reads rows and is exact even though the stored
    // bound is truncated
    assert(t.agg(min(col("s"))).collect()(0).getString(0) == pre + "aaa")
    assert(t.agg(max(col("s"))).collect()(0).getString(0) == "zzz")
    // and the bound helpers hold their contracts on edge inputs
    assert(ManifestStats.incString("ab").contains("ac"))
    assert(ManifestStats.incString("a\uFFFF").contains("b"))
    assert(ManifestStats.incString("\uFFFF").isEmpty)
    assert(ManifestStats.upperBound("short").contains("short"))
  }

  test("reported statistics: the scan estimates exact numRows and real " +
      "file bytes from the manifest (post-skipping), so a join against a " +
      "small manifest table auto-broadcasts WITHOUT a hint") {
    import spark.implicits._
    val dir = tmpDir()
    Seq.tabulate(50)(i => (i.toLong, s"v$i")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val small = spark.read.format(fmt).option("path", dir).load()
    val big = spark.range(0, 200000).toDF("k")
    val joined = big.join(small, "k")
    assert(joined.count() == 50)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"accurate manifest stats must let Catalyst broadcast the small side:\n$plan")
  }
}
