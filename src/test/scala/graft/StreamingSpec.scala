package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{array_distinct, col, count, explode, lit, max, min, split}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Incremental
import java.sql.Timestamp

/** §2.9: the incremental contract as a real Structured Streaming run
  * (MemoryStream source → watermark + dropDuplicates → memory sink). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  def ts(s: String) = Timestamp.valueOf(s)

  test("streaming dedup: replayed (waterbody_id, captured_ts) events are dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val df = input.toDF().toDF("waterbody_id", "captured_ts")
    val q = Incremental.dedupStream(df)
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      input.addData((1L, ts("2024-06-01 10:00:00")), (1L, ts("2024-06-01 10:00:00")),
        (2L, ts("2024-06-01 11:00:00")))
      q.processAllAvailable()
      // replay the first event in a later batch — still a duplicate
      input.addData((1L, ts("2024-06-01 10:00:00")), (1L, ts("2024-06-02 09:00:00")))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      assert(rows.length == 3, s"2 distinct + 1 new, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming daily tumbling counts per water body") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val df = input.toDF().toDF("waterbody_id", "captured_ts")
    val q = Incremental.dailyCounts(df)
      .writeStream.format("memory").queryName("counts_out").outputMode("complete").start()
    try {
      input.addData(
        (1L, ts("2024-06-01 10:00:00")), (1L, ts("2024-06-01 12:00:00")),
        (1L, ts("2024-06-01 12:00:00")), // dup — must not count twice
        (1L, ts("2024-06-02 10:00:00")), (2L, ts("2024-06-01 08:00:00")))
      q.processAllAvailable()
      val rows = spark.table("counts_out").collect()
        .map(r => (r.getAs[Long]("waterbody_id"),
          r.getAs[org.apache.spark.sql.Row]("day").getAs[Timestamp]("start").toString,
          r.getAs[Long]("n_images"))).toSet
      assert(rows == Set(
        (1L, "2024-06-01 00:00:00.0", 2L),
        (1L, "2024-06-02 00:00:00.0", 1L),
        (2L, "2024-06-01 00:00:00.0", 1L)), rows.toString)
    } finally q.stop()
  }

  test("streaming decontamination: stream-static gram join flags only overlapping docs") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // static side: one eval doc of 6 tokens → three distinct 4-grams
    val evalDocs = Seq("held out eval phrase appears here").toDF("text")
    val evalGrams = Incremental.evalGramTable(evalDocs)
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = Incremental.decontaminateStream(docs, evalGrams)
      .writeStream.format("memory").queryName("decon_out").outputMode("complete").start()
    try {
      input.addData(
        (1L, "totally clean training text with no overlap at all"),
        (2L, "prefix words then held out eval phrase appears here exactly"),
        (3L, "short"), // < 4 tokens — no grams
        (4L, "eval phrase appears somewhere but never four shared in a row"))
      q.processAllAvailable()
      val rows = spark.table("decon_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // doc 2 contains all 3 eval 4-grams as a contiguous run; 1/3/4 clean
      assert(rows == Map(2L -> 3L), rows.toString)
    } finally q.stop()
  }

  test("streaming IMAGE near-dup ingest: an arriving JPEG re-encode pairs with its " +
      "stored original via the dhash band index; unrelated image emits nothing") {
    import spark.implicits._
    import graft.functions.{ImageHash, Raster}
    implicit val ctx = spark.sqlContext
    def img(fx: Double, fy: Double, phase: Double): Seq[Seq[Seq[Int]]] =
      Seq.tabulate(3, 56, 72)((c, y, x) =>
        math.max(0, math.min(255,
          (128 + 110 * math.sin(x / fx + phase) * math.cos(y / fy)).toInt)))
    val original = img(11.0, 9.0, 0.3)
    val other = img(5.0, 13.0, 2.1)
    // the stored index: fingerprints of the existing image corpus
    val corpusFp = Incremental.imageFpTable(
      Seq((101L, original), (102L, other)).toDF("doc_id", "pixels"))
    val input = MemoryStream[(Long, Seq[Seq[Seq[Int]]])]
    val stream = input.toDF().toDF("doc_id", "pixels")
    val q = Incremental.imageNearDupStream(stream, corpusFp)
      .writeStream.format("memory").queryName("imgdup_out").outputMode("complete").start()
    try {
      // arrival 201: the original, JPEG-re-encoded (lossy) — the
      // resized/re-uploaded duplicate shape; 202: a fresh image
      input.addData(
        (201L, Raster.decodeImage(Raster.encodeJpeg(original, 0.85f))),
        (202L, img(7.0, 17.0, 4.4)))
      q.processAllAvailable()
      val rows = spark.table("imgdup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(rows.map(t => (t._1, t._2)).toSeq == Seq((201L, 101L)),
        s"exactly the planted duplicate must pair: ${rows.mkString(",")}")
      // the emitted distance equals the batch kernels' exact hamming
      val expected = java.lang.Long.bitCount(
        ImageHash.pixelDhashSeq(Raster.decodeImage(Raster.encodeJpeg(original, 0.85f)))
          ^ ImageHash.pixelDhashSeq(original))
      assert(rows.head._3 == expected && expected <= graft.operators.Dedup.DHashHamMax,
        s"${rows.head._3} vs $expected")
    } finally q.stop()
  }

  test("streaming AUDIO near-dup ingest: an arriving gain-shifted re-encode pairs with its " +
      "stored original via the envelope band index; unrelated audio emits nothing") {
    import spark.implicits._
    import graft.functions.AudioHash
    import graft.multimodal.Media.WavCodec
    implicit val ctx = spark.sqlContext
    def tone(seed: Int): Array[Short] = {
      val rnd = new scala.util.Random(seed)
      val amps = Array.fill(AudioHash.Frames)(2000 + rnd.nextInt(8000))
      Array.tabulate(AudioHash.Frames * 100) { i =>
        (amps(i / 100) * math.sin(2 * math.Pi * 440.0 * i / 8000.0)).toShort
      }
    }
    val original = tone(11)
    val other = tone(12)
    // the stored index: envelope fingerprints of the existing corpus
    val corpusFp = Incremental.audioFpTable(
      Seq((101L, original.map(_.toInt).toSeq), (102L, other.map(_.toInt).toSeq))
        .toDF("doc_id", "samples"))
    val input = MemoryStream[(Long, Seq[Int])]
    val stream = input.toDF().toDF("doc_id", "samples")
    val q = Incremental.audioNearDupStream(stream, corpusFp)
      .writeStream.format("memory").queryName("auddup_out").outputMode("complete").start()
    try {
      // arrival 201: the original, gain ×0.8 + WAV round-trip (the
      // re-uploaded duplicate shape); 202: a fresh recording
      val dup = WavCodec.decode(WavCodec.encode(
        original.map(s => (s * 4 / 5).toShort), 8000, channels = 1)).samples
      input.addData(
        (201L, dup.map(_.toInt).toSeq),
        (202L, tone(13).map(_.toInt).toSeq))
      q.processAllAvailable()
      val rows = spark.table("auddup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(rows.map(t => (t._1, t._2)).toSeq == Seq((201L, 101L)),
        s"exactly the planted duplicate must pair: ${rows.mkString(",")}")
      // the emitted distance equals the batch kernels' exact hamming
      val expected = java.lang.Long.bitCount(
        AudioHash.pcmEnvHashSeq(dup.map(_.toInt).toSeq)
          ^ AudioHash.pcmEnvHashSeq(original.map(_.toInt).toSeq))
      assert(rows.head._3 == expected && expected <= graft.operators.Dedup.AudioHamMax,
        s"${rows.head._3} vs $expected")
    } finally q.stop()
  }

  test("streaming VIDEO near-dup ingest: an arriving trimmed + frame-noised re-encode " +
      "out-votes its corruption against the stored frame index, append-legal", Slow) {
    import spark.implicits._
    import graft.functions.VideoHash
    import graft.multimodal.Media
    import graft.multimodal.Media.{MediaMeta, MediaRow, Y4mCodec}
    implicit val ctx = spark.sqlContext
    val w = 48; val h = 28
    def vid(seed: Int, n: Int): IndexedSeq[Array[Byte]] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map(_ => Array.fill[Byte](w * h)((rnd.nextInt(256) - 128).toByte))
    }
    val orig = vid(21, 40)
    val other = vid(22, 40)
    def row(id: Long, fs: Seq[Array[Byte]]) = MediaRow(
      id, "video", Y4mCodec.encode(fs, w, h, 25, 1), MediaMeta("video/y4m", w, h, fs.size * 40L))
    // the stored index: per-frame dHashes of the existing corpus,
    // hub-capped at build time
    val corpusIdx = Incremental.videoFrameIndex(
      Media.videoFrameHashes(Seq(row(101L, orig), row(102L, other)).toDS(), everyN = 1))
      .persist()
    // the arrival: intro trimmed, every 5th surviving frame noised
    val rnd = new scala.util.Random(77)
    val dupFrames = orig.drop(4).zipWithIndex.map { case (f, i) =>
      if (i % 5 == 0)
        f.map(b => (((b & 0xff) + rnd.nextInt(7) - 3).max(0).min(255)).toByte)
      else f
    }
    val freshFrames = vid(23, 40)
    def fhRows(id: Long, fs: Seq[Array[Byte]], t: Timestamp) =
      fs.map(f => (id, VideoHash.grayDhashOrMin(f, w, h), t))
    val input = MemoryStream[(Long, Long, Timestamp)]
    val q = Incremental.videoNearDupStream(
        input.toDF().toDF("doc_id", "fh", "event_ts"), corpusIdx)
      .writeStream.format("memory").queryName("viddup_out").outputMode("append").start()
    try {
      input.addData(fhRows(201L, dupFrames, ts("2024-06-01 10:00:10")) ++
        fhRows(202L, freshFrames, ts("2024-06-01 10:00:20")): _*)
      q.processAllAvailable()
      assert(spark.table("viddup_out").count() == 0,
        "no window may emit before the watermark passes its end")
      // watermark drivers: two late no-match frames close the window
      input.addData((999L, 1L, ts("2024-06-01 10:07:00")))
      q.processAllAvailable()
      input.addData((998L, 2L, ts("2024-06-01 10:08:00")))
      q.processAllAvailable()
      val rows = spark.table("viddup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.map(t => (t._1, t._2)).toSeq == Seq((201L, 101L)),
        s"exactly the planted duplicate must out-vote: ${rows.mkString(",")}")
      // the emitted vote count equals the batch q105 core on the same frames
      val batch = graft.operators.Dedup.videoNearDupFrames(
          corpusIdx.toDF("fh", "doc_id").unionByName(
            dupFrames.map(f => (201L, VideoHash.grayDhashOrMin(f, w, h)))
              .toDF("doc_id", "fh")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(batch.map(t => (t._1, t._2)).toSeq == Seq((101L, 201L)))
      assert(rows.head._3 == batch.head._3,
        s"stream vote ${rows.head._3} must equal batch vote ${batch.head._3}")
    } finally { q.stop(); corpusIdx.unpersist() }
  }

  test("streaming near-dup ingest: band probe into the static corpus index ≡ batch jaccard") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // static corpus: two docs; doc 101's text will be near-duplicated
    // by a stream arrival (one token changed), doc 102 is unrelated
    val corpus = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (102L, "completely different content about satellite imagery and water bodies"))
      .toDF("doc_id", "text")
    val corpusSh = graft.operators.Dedup.shingleTable(corpus)
    val corpusBands = graft.operators.Dedup.bandTable(corpusSh)
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = Incremental.nearDupStream(docs, corpusBands, corpusSh)
      .writeStream.format("memory").queryName("neardup_out").outputMode("complete").start()
    try {
      input.addData(
        (201L, "the quick brown fox jumps over the lazy dog near the river bank now"),
        (202L, "entirely novel text sharing no shingles with anything in the corpus"))
      q.processAllAvailable()
      val rows = spark.table("neardup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // exactly the planted near-dup pair; jaccard matches the batch
      // kernels' exact computation over the same shingle sets
      assert(rows.map(t => (t._1, t._2)).toSeq == Seq((201L, 101L)), rows.mkString(","))
      val hh = corpusSh.unionByName(graft.operators.Dedup.shingleTable(
          Seq((201L, "the quick brown fox jumps over the lazy dog near the river bank now"))
            .toDF("doc_id", "text")))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val inter = (hh(201L) & hh(101L)).size.toDouble
      val expected = BigDecimal(inter / (hh(201L).size + hh(101L).size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rows.head._3 == expected, s"${rows.head._3} vs $expected")
      assert(rows.head._3 >= 0.8)
    } finally q.stop()
  }

  test("streaming retrieval probe: arriving queries score bit-identically to batch BM25 over the static posting index") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val postings = Incremental.postingTable(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // queries = the q92 probe shape: leading 8 tokens of 3 corpus docs
    val probeDocs = corpus.orderBy(col("doc_id")).limit(3).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").take(8).mkString(" ")))
    val input = MemoryStream[(Long, String)]
    val q = Incremental.retrievalStream(
        input.toDF().toDF("query_id", "text"), postings)
      .writeStream.format("memory").queryName("retrieval_out")
      .outputMode("complete").start()
    try {
      input.addData(probeDocs.take(2).toSeq: _*)
      q.processAllAvailable()
      input.addData(probeDocs.drop(2).toSeq: _*) // second micro-batch
      q.processAllAvailable()
      val got = spark.table("retrieval_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // batch twin: same probe terms through bm25Of, k wide open so the
      // whole scored candidate set comes back
      val probes = probeDocs.toSeq.toDF("query_id", "text")
        .select(col("query_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      val want = graft.operators.TextAnalysis.bm25Of(corpus, probes, k = Int.MaxValue)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
          r.getAs[Long]("score")).toMap
      assert(got.nonEmpty && got == want,
        s"stream scores must equal batch scores (got ${got.size}, want ${want.size})")
    } finally { q.stop(); postings.unpersist(); CacheRegistry.releaseAll() }
  }

  test("windowed retrieval probe is append-legal: watermark closes query windows, scores match batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val postings = Incremental.postingTable(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probeDocs = corpus.orderBy(col("doc_id")).limit(2).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").take(8).mkString(" ")))
    val input = MemoryStream[(Long, String, Timestamp)]
    // append mode — the whole point: the unwatermarked form is
    // REJECTED here, the windowed form is not, and emission happens
    // only when the watermark passes a query window's end
    val q = Incremental.retrievalStreamWindowed(
        input.toDF().toDF("query_id", "text", "event_ts"), postings)
      .writeStream.format("memory").queryName("retrieval_w_out")
      .outputMode("append").start()
    try {
      input.addData(probeDocs.toSeq.map(p => (p._1, p._2, ts("2024-06-01 10:00:10"))): _*)
      q.processAllAvailable()
      assert(spark.table("retrieval_w_out").count() == 0,
        "no window may emit before the watermark passes its end")
      // watermark driver: event at 10:07 moves watermark past
      // 10:00-10:01 window end + 5 min delay → both queries emit
      input.addData((999L, "zzzz_no_such_term", ts("2024-06-01 10:07:00")))
      q.processAllAvailable()
      input.addData((998L, "zzzz_no_such_term", ts("2024-06-01 10:08:00")))
      q.processAllAvailable()
      val got = spark.table("retrieval_w_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val probes = probeDocs.toSeq.map(p => (p._1, p._2)).toDF("query_id", "text")
        .select(col("query_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      val want = graft.operators.TextAnalysis.bm25Of(corpus, probes, k = Int.MaxValue)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
          r.getAs[Long]("score")).toMap
      assert(got.nonEmpty && got == want,
        s"windowed stream scores must equal batch scores (got ${got.size}, want ${want.size})")
    } finally { q.stop(); postings.unpersist(); CacheRegistry.releaseAll() }
  }

  test("streaming session_window: sessions merge across batches, close past the watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val df = input.toDF().toDF("waterbody_id", "captured_ts")
    val q = Incremental.sessionCounts(df)
      .writeStream.format("memory").queryName("sessions_out").outputMode("append").start()
    try {
      // session A: 10:00 + 10:10 (one session — gap 10 min < 30);
      // session B: 11:00 (gap 50 min ≥ 30 starts a new session);
      // delivered across two micro-batches to force session-state merge
      input.addData((1L, ts("2024-06-01 10:00:00")))
      q.processAllAvailable()
      input.addData((1L, ts("2024-06-01 10:10:00")), (1L, ts("2024-06-01 11:00:00")))
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() == 0,
        "no session may be emitted before the watermark passes its end")
      // watermark driver: a much later event (other key) moves the
      // watermark to 19:00 (1h delay), closing both of user 1's sessions
      input.addData((2L, ts("2024-06-01 20:00:00")))
      q.processAllAvailable()
      input.addData((2L, ts("2024-06-01 23:00:00"))) // advance again so batch commits
      q.processAllAvailable()
      val rows = spark.table("sessions_out").collect()
        .map(r => (r.getAs[Long]("waterbody_id"),
          r.getAs[Timestamp]("session_start").toString,
          r.getAs[Timestamp]("session_end").toString,
          r.getAs[Long]("n_images"))).toSet
      assert(rows.contains((1L, "2024-06-01 10:00:00.0", "2024-06-01 10:40:00.0", 2L)),
        s"merged 2-event session missing: $rows")
      assert(rows.contains((1L, "2024-06-01 11:00:00.0", "2024-06-01 11:30:00.0", 1L)),
        s"singleton session missing: $rows")
      // user 2's last session is still open — must not be emitted
      assert(!rows.exists { case (u, s, _, _) => u == 2L && s.startsWith("2024-06-01 23") },
        s"open session leaked: $rows")
    } finally q.stop()
  }

  test("mapGroupsWithState: per-body ledger state survives across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("waterbody_id", "captured_ts")
      .as[graft.streaming.ImageEvent]
    val q = graft.streaming.Incremental.runningIngestState(events)
      .writeStream.format("memory").queryName("ledger_out").outputMode("update").start()
    try {
      input.addData((1L, ts("2024-06-01 10:00:00")), (1L, ts("2024-06-01 11:00:00")))
      q.processAllAvailable()
      input.addData((1L, ts("2024-06-02 09:00:00")), (2L, ts("2024-06-01 08:00:00")))
      q.processAllAvailable()
      val latest = spark.table("ledger_out")
        .groupBy(col("waterbody_id"))
        .agg(max(col("n_images")).as("n"), max(col("last_captured")).as("last"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).toString)).toSet
      assert(latest == Set(
        (1L, 3L, "2024-06-02 09:00:00.0"), // 2 from batch 1 + 1 from batch 2: state carried
        (2L, 1L, "2024-06-01 08:00:00.0")), latest.toString)
    } finally q.stop()
  }

  test("checkpointed file stream: restart resumes exactly-once (no reprocessing)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val (inDir, outDir, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    def writeChunk(rows: Seq[(Long, Timestamp)], name: String): Unit =
      rows.toDF("waterbody_id", "captured_ts")
        .coalesce(1).write.parquet(s"$inDir/$name")
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("waterbody_id LONG, captured_ts TIMESTAMP")
        .option("recursiveFileLookup", "true")
        .parquet(inDir)
      val q = graft.streaming.Incremental.dedupStream(stream)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeChunk(Seq((1L, ts("2024-06-01 10:00:00")), (1L, ts("2024-06-01 10:00:00")),
      (2L, ts("2024-06-01 11:00:00"))), "chunk1")
    runOnce()
    assert(spark.read.parquet(outDir).count() == 2, "first run dedups within the batch")
    // restart with MORE data: checkpoint must skip chunk1 entirely
    writeChunk(Seq((3L, ts("2024-06-02 10:00:00"))), "chunk2")
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 3, "restart processes only the new chunk (exactly-once)")
    assert(out.select("waterbody_id").distinct().count() == 3)
  }

  test("stream-stream interval join: watermarked, append-mode, matches batch semantics") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val probeIn = MemoryStream[(Long, Long, Timestamp)]
    val purchIn = MemoryStream[(Long, Long, Timestamp)]
    val probes = probeIn.toDF().toDF("user_id", "event_id", "ts")
    val purchases = purchIn.toDF().toDF("p_user_id", "p_event_id", "pts")
    val q = Incremental.streamIntervalJoin(probes, purchases)
      .writeStream.format("memory").queryName("sij_out").outputMode("append").start()
    try {
      purchIn.addData(
        (1L, 900L, ts("2024-06-01 10:00:00")),
        (2L, 901L, ts("2024-06-01 10:00:00")))
      probeIn.addData(
        (1L, 1L, ts("2024-06-01 11:00:00")), // in [10:00, 12:00) → match
        (1L, 2L, ts("2024-06-01 12:00:00")), // at end bound → no match
        (1L, 3L, ts("2024-06-01 09:59:59")), // before start → no match
        (2L, 4L, ts("2024-06-01 10:00:00")), // at start bound → match
        (3L, 5L, ts("2024-06-01 11:00:00"))) // no purchase for user 3
      q.processAllAvailable()
      val got = spark.table("sij_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 900L), (4L, 901L)))
      // late-but-inside-watermark purchase still joins a later probe
      purchIn.addData((3L, 902L, ts("2024-06-01 11:30:00")))
      probeIn.addData((3L, 6L, ts("2024-06-01 12:00:00")))
      q.processAllAvailable()
      val got2 = spark.table("sij_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got2 === Set((1L, 900L), (4L, 901L), (6L, 902L)))
    } finally q.stop()
  }

  test("the same transforms run in batch mode (plan-level parity)") {
    import spark.implicits._
    val batch = Seq(
      (1L, ts("2024-06-01 10:00:00")), (1L, ts("2024-06-01 10:00:00")),
      (2L, ts("2024-06-01 11:00:00")))
      .toDF("waterbody_id", "captured_ts")
    assert(Incremental.dedupStream(batch).count() == 2)
    assert(Incremental.dailyCounts(batch).count() == 2)
  }

  test("streaming rolling features ≡ batch q63 RANGE frame, state carried across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val events = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        graft.Tables.epochSec(col("ts")).as("sec"),
        org.apache.spark.sql.functions.floor(
          col("value") * org.apache.spark.sql.functions.lit(100.0) +
            org.apache.spark.sql.functions.lit(0.5)).cast("long").as("cents"))
      .as[graft.streaming.FeatEvent].collect().sortBy(e => (e.sec, e.event_id))
    val expected = graft.operators.Extended.eventFeatures(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("n_7d"), r.getAs[Long]("cents_7d"), r.getAs[Long]("peak_7d"))).toMap

    val input = MemoryStream[graft.streaming.FeatEvent]
    val q = Incremental.rollingFeatures(input.toDS())
      .writeStream.format("memory").queryName("feat_out").outputMode("append").start()
    try {
      // two in-order micro-batches: the second's frames must reach
      // back into state built by the first. Cut on a SECOND boundary —
      // same-second peers are RANGE-frame peers, so splitting a second
      // across batches would (correctly, per the documented streaming
      // trade) under-count the earlier batch's emission
      val half = events.length / 2
      val cut = (half until events.length)
        .find(i => events(i).sec != events(i - 1).sec).getOrElse(events.length)
      val (first, second) = events.splitAt(cut)
      input.addData(first.toIndexedSeq)
      q.processAllAvailable()
      input.addData(second.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("feat_out").collect()
        .map(r => r.getAs[Long]("event_id") ->
          (r.getAs[Long]("n_7d"), r.getAs[Long]("cents_7d"), r.getAs[Long]("peak_7d"))).toMap
      assert(got.size == expected.size)
      expected.foreach { case (eid, exp) =>
        assert(got(eid) == exp, s"event $eid: streaming ${got(eid)} != batch $exp")
      }
    } finally q.stop()
  }

  test("streaming CDC state converges to the batch cdcApply snapshot under shuffled arrival") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val ops = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), graft.Tables.epochSec(col("ts")).as("sec"),
        col("event_type").as("op"),
        org.apache.spark.sql.functions.expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .as[graft.streaming.CdcOp].collect()
      // deterministic shuffle: latest-wins must hold under ANY arrival
      // order, so feed ops sorted by a hash, newest often first
      .sortBy(o => o.event_id * 2654435761L % 4294967296L)
    val expected = graft.operators.Extended.cdcApply(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[String]("last_op"), r.getAs[Long]("last_sec"), r.getAs[Long]("last_cents"))))
      .toMap

    val input = MemoryStream[graft.streaming.CdcOp]
    val q = Incremental.cdcState(input.toDS())
      .writeStream.format("memory").queryName("cdc_out").outputMode("update").start()
    try {
      val (first, second) = ops.splitAt(ops.length / 2)
      input.addData(first.toIndexedSeq)
      q.processAllAvailable()
      input.addData(second.toIndexedSeq)
      q.processAllAvailable()
      // snapshot = each key's LAST emitted row (update mode re-emits on change)
      val emitted = spark.table("cdc_out").collect().zipWithIndex
      val got = emitted.groupBy(_._1.getAs[Long]("user_id"))
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
      val live = got.filter(!_._2.getAs[Boolean]("deleted"))
        .map { case (u, r) => u ->
          ((r.getAs[String]("last_op"), r.getAs[Long]("last_sec"), r.getAs[Long]("last_cents"))) }
      assert(live == expected,
        "streaming snapshot (minus tombstones) must equal the batch CDC apply")
      // tombstoned keys are present-but-deleted, never silently dropped
      val tombstoned = got.keySet -- expected.keySet
      assert(tombstoned.nonEmpty && tombstoned.forall(got(_).getAs[Boolean]("deleted")))
    } finally q.stop()
  }

  test("streaming MERGE: foreachBatch upserts each micro-batch into a manifest table") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_merge").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "s").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the streaming MERGE pattern: each micro-batch upserts by key
        // (caller pre-dedups within the batch, the q69 latest-wins rule)
        graft.sources.ManifestUpsert.upsert(dir, batch, Seq("id"))
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_merge_ckpt").toString)
      .start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((2L, "B2"), (3L, "c"))
      q.processAllAvailable()
      def state(): Map[Long, String] = spark.read
        .format("graft.sources.ManifestSink").option("path", dir).load()
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(state() === Map(1L -> "a", 2L -> "B2", 3L -> "c"),
        "later micro-batches must update, not duplicate")
      // epoch replay (crash-before-checkpoint): same batch again is
      // state-idempotent — the MERGE's retry-safety contract
      graft.sources.ManifestUpsert.upsert(dir,
        Seq((2L, "B2"), (3L, "c")).toDF("id", "s"), Seq("id"))
      assert(state() === Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    } finally q.stop()
  }

  test("streaming CMS: counters after two micro-batches equal the batch sketch " +
      "over the union; state is bounded by the d*w cell domain") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = Incremental.cmsStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("complete").start()
    try {
      input.addData((1L, "alpha beta alpha"), (2L, "gamma beta"))
      q.processAllAvailable()
      input.addData((3L, "alpha delta epsilon zeta"))
      q.processAllAvailable()
      val got = spark.table("cms_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.operators.TextAnalysis.cmsSketchOf(
        Seq((1L, "alpha beta alpha"), (2L, "gamma beta"),
          (3L, "alpha delta epsilon zeta")).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == batch,
        "streamed counters must equal the batch sketch over the same corpus")
      // the sketch's self-bounding state contract: every key is a
      // packed (cell, row) id inside the fixed d*w domain, and the
      // total count is tokens * depth
      assert(got.keys.forall(rc => rc >= 0L && rc < 256L * 4))
      assert(got.values.sum == 9L * 4, "9 tokens x depth-4 counter increments")
    } finally q.stop()
  }

  test("streaming novelty gate: replayed, half-novel, and fully-novel arrivals " +
      "score exactly against the stored corpus shingle set") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val corpus = Seq((1L, "a b c d"), (2L, "p q r s t"))
      .toDF("doc_id", "text")
    val idx = Incremental.corpusShingleSet(corpus).persist()
    idx.count()
    val input = MemoryStream[(Long, String)]
    val q = Incremental.noveltyStream(
        input.toDF().toDF("doc_id", "text"), idx)
      .writeStream.format("memory").queryName("novelty_out")
      .outputMode("complete").start()
    try {
      input.addData((10L, "a b c d"), (11L, "x y z w"), (12L, "a b c x"))
      q.processAllAvailable()
      val got = spark.table("novelty_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_sh"), r.getAs[Long]("n_novel"),
            r.getAs[Long]("novelty_ppm"))).toMap
      assert(got(10L) == ((2L, 0L, 0L)), "an exact replay adds nothing")
      assert(got(11L) == ((2L, 2L, 1000000L)), "unseen text is fully novel")
      assert(got(12L) == ((2L, 1L, 500000L)),
        "'a b c' is stored, 'b c x' is new — exactly half novel")
    } finally { q.stop(); idx.unpersist() }
  }

  test("streaming volume anomaly: windows close past the watermark; verdict is " +
      "bit-identical to batch q115 on a replayed baseline day") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // trained baseline: 29 steady days of 50 + one 80-event day
    val baseline = ((1L to 29L).flatMap(d => Seq.fill(50)(("click", d)))
      ++ Seq.fill(80)(("click", 30L))).toDF("event_type", "day_no")
    val stats = graft.operators.Extended.volumeStatsOf(baseline)
    val input = MemoryStream[(String, Timestamp)]
    val q = Incremental.volumeAnomalyStream(
        input.toDF().toDF("event_type", "event_ts"), stats,
        windowLen = "1 day", delay = "1 hour")
      .writeStream.format("memory").queryName("anomaly_out")
      .outputMode("append").start()
    try {
      // day 1: exact replay of the 80-event baseline day. After this
      // batch the watermark sits at 06-01 09:00 — before the day-1
      // window's end, so nothing may emit yet.
      input.addData(Seq.fill(80)(("click", ts("2024-06-01 10:00:00"))): _*)
      q.processAllAvailable()
      assert(spark.table("anomaly_out").count() == 0,
        "no window may emit before the watermark passes its end")
      // day 2: a 500-event spike; day 3: a steady 50-event day; plus a
      // far-future watermark driver that closes all three windows
      input.addData(Seq.fill(500)(("click", ts("2024-06-02 10:00:00")))
        ++ Seq.fill(50)(("click", ts("2024-06-03 10:00:00")))
        :+ (("click", ts("2024-06-05 12:00:00"))): _*)
      q.processAllAvailable()
      val got = spark.table("anomaly_out").collect()
        .map(r => r.getAs[Timestamp]("window_start").toString.take(10) ->
          (r.getAs[Long]("n_events"), r.getAs[Long]("z2_x100"),
            r.getAs[Int]("is_anomaly"))).toMap
      assert(got.keySet == Set("2024-06-01", "2024-06-02", "2024-06-03"))
      // batch q115 on the baseline ranks its own 80-event day first;
      // the stream's replay of that day must produce the same verdict
      val batch = graft.operators.Extended.volumeAnomalyOf(baseline).collect()
        .find(r => r.getAs[Long]("day_no") == 30L).get
      assert(got("2024-06-01") == (80L, batch.getAs[Long]("z2_x100"),
        batch.getAs[Int]("is_anomaly")),
        "stream verdict must equal the batch verdict for the same count and baseline")
      assert(got("2024-06-01")._3 == 1 && got("2024-06-02")._3 == 1,
        "the 80-event tail day and the 500-event spike are both anomalous here")
      assert(got("2024-06-03") == ((50L, 400L * 900L / 104400L, 0)),
        "a steady day scores z2 well under the 400 threshold and is not flagged")
    } finally q.stop()
  }

  test("streaming curation gate: arrivals are admitted or rejected per stage " +
      "against the stored key/band/shingle indexes; stages short-circuit") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val foxText =
      "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (101L, foxText),
      (102L, "completely different content about satellite imagery and water bodies"))
      .toDF("doc_id", "text")
    val keys = Incremental.corpusKeySet(corpus).persist()
    val corpusSh = graft.operators.Dedup.shingleTable(corpus).persist()
    val corpusBands = graft.operators.Dedup.bandTable(corpusSh).persist()
    Seq(keys, corpusSh, corpusBands).foreach(_.count())
    val nearText =
      "the quick brown fox jumps over the lazy dog near the river bank now"
    val input = MemoryStream[(Long, String)]
    val q = Incremental.curationGateStream(
        input.toDF().toDF("doc_id", "text"), keys, corpusBands, corpusSh)
      .writeStream.format("memory").queryName("gate_out")
      .outputMode("complete").start()
    try {
      input.addData(
        (201L, foxText),                      // exact copy of stored 101
        (202L, nearText),                     // near-dup of 101 (1 token off)
        (203L, "entirely novel text sharing no shingles with anything stored here at all"),
        (204L, "hi there"),                   // 2 tokens < minTokens
        (205L, "the a and of to in is on"))   // all stopwords: 10000 bp
      q.processAllAvailable()
      val rows = spark.table("gate_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(rows.size == 5, "exactly one verdict row per arrival")
      def verdict(id: Long) = {
        val r = rows(id)
        (r.getAs[Boolean]("quality_pass"), r.getAs[Boolean]("is_exact_dup"),
          Option(r.getAs[java.lang.Boolean]("is_near_dup")).map(_.booleanValue()),
          r.getAs[Boolean]("admitted"), Option(r.getAs[String]("reject_stage")))
      }
      assert(verdict(201L) == ((true, true, None, false, Some("exact_dedup"))),
        "an exact replay fails stage 2; the near-dup probe never ran (NULL)")
      assert(verdict(202L) == ((true, false, Some(true), false, Some("near_dedup"))))
      assert(verdict(203L) == ((true, false, Some(false), true, None)),
        "novel text passing every stage is admitted")
      assert(verdict(204L) == ((false, false, None, false, Some("quality_gate"))))
      assert(verdict(205L) == ((false, false, None, false, Some("quality_gate"))),
        "a stopword-soup doc fails on stop ratio despite having enough tokens")
      // the near-dup verdict's jaccard is the batch kernels' exact value
      val hh = corpusSh.unionByName(graft.operators.Dedup.shingleTable(
          Seq((202L, nearText)).toDF("doc_id", "text")))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val inter = (hh(202L) & hh(101L)).size.toDouble
      val expect = inter / (hh(202L).size + hh(101L).size - inter)
      assert(math.abs(rows(202L).getAs[Double]("max_jaccard") - expect) < 1e-12)
      assert(expect >= 0.8, "the planted pair must actually clear tau")
    } finally { q.stop(); Seq(keys, corpusSh, corpusBands).foreach(_.unpersist()) }
  }

  test("streaming curation gate, windowed form: verdicts emit in append mode " +
      "once the watermark closes the window, and equal the global form's", Slow) {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val foxText =
      "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (101L, foxText),
      (102L, "completely different content about satellite imagery and water bodies"))
      .toDF("doc_id", "text")
    val keys = Incremental.corpusKeySet(corpus).persist()
    val corpusSh = graft.operators.Dedup.shingleTable(corpus).persist()
    val corpusBands = graft.operators.Dedup.bandTable(corpusSh).persist()
    Seq(keys, corpusSh, corpusBands).foreach(_.count())
    val arrivals = Seq(
      (201L, foxText),
      (202L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (203L, "entirely novel text sharing no shingles with anything stored here at all"),
      (204L, "hi there"))
    val t0 = Timestamp.valueOf("2024-06-01 10:00:00")
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = Incremental.curationGateStreamWindowed(
        input.toDF().toDF("doc_id", "text", "ingest_ts"),
        keys, corpusBands, corpusSh,
        windowLen = "1 minute", delay = "1 minute")
      .writeStream.format("memory").queryName("gate_win_out")
      .outputMode("append").start()
    try {
      input.addData(arrivals.map { case (id, tx) => (id, tx, t0) }: _*)
      q.processAllAvailable()
      assert(spark.table("gate_win_out").isEmpty,
        "watermark still inside the window — append must hold the verdicts")
      // a later arrival pushes the watermark past 10:01 + 1 min
      input.addData((301L, "late watermark advancer text entirely unrelated",
        Timestamp.valueOf("2024-06-01 11:00:00")))
      q.processAllAvailable()
      val got = spark.table("gate_win_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Boolean]("admitted"), Option(r.getAs[String]("reject_stage"))))
        .toMap
      assert(got.keySet == Set(201L, 202L, 203L, 204L),
        s"exactly the closed window's verdicts emit: ${got.keySet}")
      // the windowed core's verdicts are the global form's, column-equal
      val globalRows = Incremental.curationGateStream(
          arrivals.toDF("doc_id", "text"), keys, corpusBands, corpusSh)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Boolean]("admitted"), Option(r.getAs[String]("reject_stage"))))
        .toMap
      assert(got == globalRows,
        "one shared core: windowed and global verdicts must be identical")
    } finally { q.stop(); Seq(keys, corpusSh, corpusBands).foreach(_.unpersist()) }
  }

  test("streaming curation gate: a shingle-free survivor (minTokens=1) is " +
      "admitted through the base leg — the probe has nothing to say") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val corpus = Seq((101L, "p q r s t")).toDF("doc_id", "text")
    val keys = Incremental.corpusKeySet(corpus)
    val corpusSh = graft.operators.Dedup.shingleTable(corpus)
    val corpusBands = graft.operators.Dedup.bandTable(corpusSh)
    val input = MemoryStream[(Long, String)]
    val q = Incremental.curationGateStream(
        input.toDF().toDF("doc_id", "text"), keys, corpusBands, corpusSh,
        minTokens = 1L)
      .writeStream.format("memory").queryName("gate_tiny_out")
      .outputMode("complete").start()
    try {
      input.addData((301L, "x y"))
      q.processAllAvailable()
      val r = spark.table("gate_tiny_out").collect().head
      assert(r.getAs[Long]("doc_id") == 301L)
      assert(r.getAs[Boolean]("quality_pass") && !r.getAs[Boolean]("is_exact_dup"))
      assert(r.getAs[java.lang.Boolean]("is_near_dup") == false,
        "too short to shingle means vacuously not a near-dup — evaluated, false")
      assert(r.getAs[Boolean]("admitted"))
    } finally q.stop()
  }
  test("streaming SEMANTIC near-dup ingest: a replayed corpus vector is flagged at " +
      "dist 0 through the stored assigned-corpus table, append-legal") {
    import spark.implicits._
    import graft.operators.Clustering
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val v = Clustering.fixedPoint(spark, sf)
    val cents = Clustering.CellModel.Flat(Clustering.trainCentroids(v))
    // stored side: persist + reload the pre-assigned corpus and prove
    // the round-trip is row-equal (component order preserved)
    val root = java.nio.file.Files.createTempDirectory("graft-semidx").toString
    val inSession = Clustering.assignedCorpus(v, cents)
    Clustering.saveAssignedCorpus(spark, root, inSession)
    val stored = Clustering.loadAssignedCorpus(spark, root)
    val a = inSession.collect().map(r => (r.getLong(0), r.getInt(2), r.getSeq[Long](1)))
      .sortBy(_._1)
    val b = stored.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(_._1)
    assert(a.sameElements(b), "assigned-corpus round trip")
    // the original float embedding of corpus vector 0 — the replayed dup
    val e0 = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0)
    val input = MemoryStream[(Long, Seq[Float])]
    val arrivals = input.toDF().toDF("vec_id", "embedding")
    val q = Incremental.semanticNearDupStream(arrivals, cents, stored.persist())
      .writeStream.format("memory").queryName("semdup_out").outputMode("append").start()
    try {
      input.addData((901L, e0), (902L, Seq.fill(e0.length)(0.5f)))
      q.processAllAvailable()
      val rows = spark.table("semdup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.exists(t => t._1 == 901L && t._2 == 0L && t._3 == 0L),
        s"replayed vector must pair with its original at dist 0: ${rows.toSeq}")
      assert(rows.forall(_._1 != 902L), s"novel arrival must pass: ${rows.toSeq}")
      assert(rows.forall(_._3 < Clustering.PruneT), "only sub-threshold pairs emitted")
    } finally q.stop()
  }

  test("capped semantic gate: arrival in a build-time hot cell emits ONE flagged " +
      "verdict (zero probe rows), uncapped cells probe exactly as before; both " +
      "side tables round-trip the stored lifecycle") {
    import spark.implicits._
    import graft.operators.Clustering
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val v = Clustering.fixedPoint(spark, sf)
    val cents = Clustering.CellModel.Flat(Clustering.trainCentroids(v))
    val assigned = Clustering.assignedCorpus(v, cents)
    val sizes = assigned.groupBy(col("cluster")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val hot = sizes.maxBy(_._2)._1
    val cap = sizes.values.max - 1 // plants exactly one hot cell
    require(sizes.values.count(_ > cap) == 1, "fixture needs a unique max cell")
    val (probe, capped) = Clustering.capAssignedCorpus(assigned, cap)
    // stored round-trip for both halves (build-time artifacts)
    val root = java.nio.file.Files.createTempDirectory("graft-capgate").toString
    Clustering.saveAssignedCorpus(spark, s"$root/probe", probe)
    Clustering.saveCappedCells(spark, s"$root/capped", capped)
    val probeStored = Clustering.loadAssignedCorpus(spark, s"$root/probe")
    val cappedStored = Clustering.loadCappedCells(spark, s"$root/capped")
    assert(cappedStored.collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
        == capped.collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq,
      "capped-cells round-trip (sentinel dropped)")
    assert(probeStored.count() == probe.count(), "probe table round-trip")
    assert(probeStored.filter(col("cluster") === hot).count() == 0,
      "hot-cell members never enter the stored probe table")
    // one corpus member of the hot cell, one of a bounded cell
    val hotId = assigned.filter(col("cluster") === hot)
      .agg(min(col("corpus_id"))).collect()(0).getLong(0)
    val okId = assigned.filter(col("cluster") =!= hot)
      .agg(min(col("corpus_id"))).collect()(0).getLong(0)
    def embOf(id: Long) = Tables.embeddings(spark, sf).filter(col("vec_id") === id)
      .select("embedding").collect()(0).getSeq[Float](0)
    val input = MemoryStream[(Long, Seq[Float])]
    val arrivals = input.toDF().toDF("vec_id", "embedding")
    val q = Incremental.semanticNearDupGate(
        arrivals, cents, probeStored.persist(), cappedStored)
      .writeStream.format("memory").queryName("capgate_out")
      .outputMode("append").start()
    try {
      input.addData((901L, embOf(hotId)), (902L, embOf(okId)))
      q.processAllAvailable()
      val rows = spark.table("capgate_out").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getInt(3)))
      // hot-cell arrival: exactly one flagged verdict, no pair rows —
      // even though its exact duplicate sits in the corpus at dist 0
      assert(rows.count(_._1 == 901L) == 1 &&
        rows.contains((901L, -1L, -1L, 1)),
        s"hot-cell arrival must short-circuit to one flagged verdict: ${rows.toSeq}")
      // bounded-cell arrival: replays its original at dist 0, unflagged
      assert(rows.exists(t => t._1 == 902L && t._2 == okId && t._3 == 0L && t._4 == 0),
        s"bounded-cell replay must pair at dist 0: ${rows.toSeq}")
    } finally { q.stop(); probeStored.unpersist() }
  }

  test("streaming cluster drift: windows close past the watermark; per-window " +
      "foreachBatch verdicts are bit-equal to batch clusterDriftOf on each slice", Slow) {
    import spark.implicits._
    import graft.operators.Clustering
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val v = Clustering.fixedPoint(spark, sf)
    val cents = Clustering.CellModel.Flat(Clustering.trainCentroids(v))
    val base = Clustering.assignedCorpus(v, cents)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_base")).persist()
    base.count()
    def embOf(id: Long) = Tables.embeddings(spark, sf)
      .filter(col("vec_id") === id).select("embedding")
      .collect()(0).getSeq[Float](0)
    // window 1 replays corpus vectors 0-9; window 2 replays 10-14 —
    // different mixes so the two windows' verdicts must differ
    val w1 = (0L to 9L).map(i => (900L + i, embOf(i), ts("2024-06-01 10:00:00")))
    val w2 = (10L to 14L).map(i => (900L + i, embOf(i), ts("2024-06-01 11:30:00")))
    val verdicts = scala.collection.mutable.ArrayBuffer.empty[
      (String, Int, Long, Long, Long, Long, Long)]
    val input = MemoryStream[(Long, Seq[Float], Timestamp)]
    val q = Incremental.clusterDriftCountsStream(
        input.toDF().toDF("vec_id", "embedding", "event_ts"), cents,
        windowLen = "1 hour", delay = "1 minute")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Clustering.clusterDriftWindowed(base, b).collect().foreach { r =>
          verdicts += ((r.getStruct(0).getTimestamp(0).toString.take(16),
            r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6)))
        }
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_drift_ckpt").toString)
      .start()
    try {
      input.addData(w1: _*); q.processAllAvailable()
      assert(verdicts.isEmpty, "no window may emit before the watermark passes it")
      // window-2 arrivals + a far-future watermark driver close both
      input.addData(w2 :+ ((999L, embOf(0L), ts("2024-06-01 14:00:00"))): _*)
      q.processAllAvailable()
    } finally q.stop()
    // batch reference: clusterDriftOf on each window's slice
    def batchOf(ids: Seq[Long]): Map[Int, (Long, Long, Long, Long, Long)] = {
      val fresh = cents.assign(v.filter(col("vec_id").isin(ids: _*)))
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_new"))
      Clustering.clusterDriftOf(base, fresh).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))).toMap
    }
    val got1 = verdicts.filter(_._1 == "2024-06-01 10:00")
      .map(t => t._2 -> ((t._3, t._4, t._5, t._6, t._7))).toMap
    val got2 = verdicts.filter(_._1 == "2024-06-01 11:00")
      .map(t => t._2 -> ((t._3, t._4, t._5, t._6, t._7))).toMap
    assert(got1 == batchOf(0L to 9L), "window-1 verdicts == batch drift on its slice")
    assert(got2 == batchOf(10L to 14L), "window-2 verdicts == batch drift on its slice")
    assert(got1 != got2, "different mixes must produce different verdicts")
    base.unpersist()
    // the TWO-LEVEL variant: same windows, hier cells — streamed
    // counts equal the batch hierarchical assignment per slice
    val hm = Clustering.trainHierarchical(v, 16)
    val counts = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long)]
    val inputH = MemoryStream[(Long, Seq[Float], Timestamp)]
    val qh = Incremental.clusterDriftCountsStream(
        inputH.toDF().toDF("vec_id", "embedding", "event_ts"), hm,
        windowLen = "1 hour", delay = "1 minute")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          counts += ((r.getStruct(0).getTimestamp(0).toString.take(16),
            r.getInt(1), r.getLong(2)))
        }
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_drifth_ckpt").toString)
      .start()
    try {
      inputH.addData(w1 ++ w2 :+ ((999L, embOf(0L), ts("2024-06-01 14:00:00"))): _*)
      qh.processAllAvailable()
    } finally qh.stop()
    def hierBatchOf(ids: Seq[Long]): Map[Int, Long] =
      hm.assign(v.filter(col("vec_id").isin(ids: _*)))
        .groupBy(col("cluster")).agg(count(lit(1))).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.filter(_._1 == "2024-06-01 10:00")
        .map(t => t._2 -> t._3).toMap == hierBatchOf(0L to 9L),
      "hier window-1 streamed counts == batch hierarchical assignment")
    assert(counts.filter(_._1 == "2024-06-01 11:00")
        .map(t => t._2 -> t._3).toMap == hierBatchOf(10L to 14L),
      "hier window-2 streamed counts == batch hierarchical assignment")
  }

  test("multi-probe semantic gate (nprobe=2): a boundary arrival's near-dup in the " +
      "SECOND-nearest coarse cell is missed by nprobe=1 and caught by probe leg 2; " +
      "a capped probe-2 cell flags that leg while leg 1 probes normally") {
    import spark.implicits._
    import graft.operators.Clustering
    implicit val ctx = spark.sqlContext
    // planted geometry (q136's boundary case, in gate form): arrival at
    // x=44 sits in coarse cell 0 (boundary x=50) → greedy cell 1
    // (fine (40,0)); its true near-dup (60,0) lives in cell 2 — the
    // fine argmin of coarse cell 1. Cluster-1 corpus member (21,0) is
    // 529 away, over pruneT=300; the cross-boundary dup is 256 under.
    val pm = Clustering.literalTwoLevel(spark,
      coarse = Seq(Array(0L, 0L), Array(100L, 0L)),
      fines = Seq(Seq(Array(0L, 0L), Array(40L, 0L)),
                  Seq(Array(45L, 0L), Array(150L, 0L))),
      kf = 2, k = 4)
    val corpus = Seq((10L, Seq(60L, 0L), 2), (11L, Seq(21L, 0L), 1))
      .toDF("corpus_id", "x", "cluster")
    val noCap = Seq.empty[(Int, Long)].toDF("cluster", "cell_n")
    // integer/2^20 floats are exact, so quantize reproduces the longs
    val s = Clustering.Scale.toFloat
    val aEmb = Seq(44L / s, 0L / s)
    val input1 = MemoryStream[(Long, Seq[Float])]
    val q1 = Incremental.semanticNearDupGate(
        input1.toDF().toDF("vec_id", "embedding"), pm, corpus, noCap, pruneT = 300L)
      .writeStream.format("memory").queryName("mp_gate1_out")
      .outputMode("append").start()
    try {
      input1.addData((901L, aEmb)); q1.processAllAvailable()
      assert(spark.table("mp_gate1_out").collect().isEmpty,
        "nprobe=1 misses the cross-boundary near-dup (its greedy cell has none under T)")
    } finally q1.stop()
    val input2 = MemoryStream[(Long, Seq[Float])]
    val q2 = Incremental.semanticNearDupGate(
        input2.toDF().toDF("vec_id", "embedding"), pm, corpus, noCap, 2, pruneT = 300L)
      .writeStream.format("memory").queryName("mp_gate2_out")
      .outputMode("append").start()
    try {
      input2.addData((901L, aEmb)); q2.processAllAvailable()
      val rows = spark.table("mp_gate2_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      assert(rows.toSeq == Seq((901L, 2, 10L, 256L, 0)),
        s"probe leg 2 must recover exactly the cross-boundary pair: ${rows.toSeq}")
    } finally q2.stop()
    // capped probe-2 cell: that LEG short-circuits flagged; leg 1 still
    // probes (and stays silent here — its member is over threshold)
    val capped = Seq((2, 99L)).toDF("cluster", "cell_n")
    val input3 = MemoryStream[(Long, Seq[Float])]
    val q3 = Incremental.semanticNearDupGate(
        input3.toDF().toDF("vec_id", "embedding"), pm, corpus, capped, 2, pruneT = 300L)
      .writeStream.format("memory").queryName("mp_gate3_out")
      .outputMode("append").start()
    try {
      input3.addData((901L, aEmb)); q3.processAllAvailable()
      val rows = spark.table("mp_gate3_out").collect()
        .map(r => (r.getLong(0), r.getInt(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4)))
      assert(rows.toSeq == Seq((901L, 2, -1L, -1L, 1)),
        s"capped second probe must emit one flagged leg-2 verdict: ${rows.toSeq}")
    } finally q3.stop()
  }

  test("foreachBatch FRAME-model multi-probe gate (the past-the-literal-ceiling " +
      "form): micro-batch verdicts equal the literal streaming gate's") {
    import spark.implicits._
    import graft.operators.Clustering
    implicit val ctx = spark.sqlContext
    val pm = Clustering.literalTwoLevel(spark,
      coarse = Seq(Array(0L, 0L), Array(100L, 0L)),
      fines = Seq(Seq(Array(0L, 0L), Array(40L, 0L)),
                  Seq(Array(45L, 0L), Array(150L, 0L))),
      kf = 2, k = 4)
    // the same planted model declared past the fine-literal ceiling:
    // every verb then runs the joined kernel, which a stream cannot
    val fm = pm.copy(k = (Clustering.FineLiteralMaxEntries / Clustering.Dim + 1).toInt)
    assert(!fm.literal)
    val corpus = Seq((10L, Seq(60L, 0L), 2), (11L, Seq(21L, 0L), 1))
      .toDF("corpus_id", "x", "cluster")
    val capped = Seq((2, 99L)).toDF("cluster", "cell_n")
    val s = Clustering.Scale.toFloat
    val arrivals = Seq((901L, Seq(44L / s, 0L / s)), (902L, Seq(21L / s, 0L / s)))
    // the frame-model form runs per micro-batch via foreachBatch — the
    // same call on a static micro-batch — appending verdicts to a
    // shared manifest table
    val outDir = java.nio.file.Files.createTempDirectory("graft_mp_fb").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Incremental.semanticNearDupGate(b, fm, corpus, capped, 2, pruneT = 300L)
          .write.format("graft.sources.ManifestSink")
          .option("path", outDir)
          .mode(org.apache.spark.sql.SaveMode.Append).save()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_mp_fb_ckpt").toString)
      .start()
    val got = try {
      input.addData(arrivals: _*); q.processAllAvailable()
      spark.read.format("graft.sources.ManifestSink").option("path", outDir).load()
        .collect().map(r => (r.getLong(0), r.getInt(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4))).toSet
    } finally q.stop()
    // the literal gate on the same arrivals/model is the reference
    val input2 = MemoryStream[(Long, Seq[Float])]
    val q2 = Incremental.semanticNearDupGate(
        input2.toDF().toDF("vec_id", "embedding"), pm, corpus, capped, 2, pruneT = 300L)
      .writeStream.format("memory").queryName("mp_fb_ref_out")
      .outputMode("append").start()
    val want = try {
      input2.addData(arrivals: _*); q2.processAllAvailable()
      spark.table("mp_fb_ref_out").collect()
        .map(r => (r.getLong(0), r.getInt(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4))).toSet
    } finally q2.stop()
    assert(got == want, s"foreachBatch frame gate $got != literal gate $want")
    assert(want.exists(_._5 == 1) && want.exists(_._5 == 0),
      "fixture exercises both the capped leg and a probe pair")
  }

  test("a two-level model past the fine-literal ceiling refuses a STREAMING " +
      "arrivals frame with a require naming the foreachBatch form") {
    import spark.implicits._
    import graft.operators.Clustering
    implicit val ctx = spark.sqlContext
    val fm = Clustering.literalTwoLevel(spark,
      coarse = Seq(Array(0L, 0L), Array(100L, 0L)),
      fines = Seq(Seq(Array(0L, 0L), Array(40L, 0L)),
                  Seq(Array(45L, 0L), Array(150L, 0L))),
      kf = 2, k = (Clustering.FineLiteralMaxEntries / Clustering.Dim + 1).toInt)
    val corpus = Seq((10L, Seq(60L, 0L), 2)).toDF("corpus_id", "x", "cluster")
    val noCap = Seq.empty[(Int, Long)].toDF("cluster", "cell_n")
    val arrivals = MemoryStream[(Long, Seq[Float])].toDF().toDF("vec_id", "embedding")
    val timed = MemoryStream[(Long, Seq[Float], Timestamp)].toDF()
      .toDF("vec_id", "embedding", "event_ts")
    // every streaming verb fails while the query is being built, with
    // the instruction, not when the stream starts
    Seq(
      () => Incremental.semanticNearDupGate(arrivals, fm, corpus, noCap),
      () => Incremental.semanticNearDupGate(arrivals, fm, corpus, noCap, 2),
      () => Incremental.semanticNearDupStream(arrivals, fm, corpus),
      () => Incremental.clusterDriftCountsStream(timed, fm)).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("foreachBatch"), e.getMessage)
    }
  }

  test("multi-probe flat gate on the fixture: pair set is a SUPERSET of the " +
      "single-probe gate's (probe 1 reproduces it exactly; extras are all probe 2)") {
    import spark.implicits._
    import graft.operators.Clustering
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val v = Clustering.fixedPoint(spark, sf)
    val cents = Clustering.CellModel.Flat(Clustering.trainCentroids(v))
    val stored = Clustering.assignedCorpus(v, cents).persist()
    val noCap = Seq.empty[(Int, Long)].toDF("cluster", "cell_n")
    val embs = Tables.embeddings(spark, sf).filter(col("vec_id") < 3L)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0) + 900L, r.getSeq[Float](1)))
    val in1 = MemoryStream[(Long, Seq[Float])]
    val q1 = Incremental.semanticNearDupStream(
        in1.toDF().toDF("vec_id", "embedding"), cents, stored)
      .writeStream.format("memory").queryName("mp_base_out")
      .outputMode("append").start()
    val base = try {
      in1.addData(embs.toIndexedSeq: _*); q1.processAllAvailable()
      spark.table("mp_base_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    } finally q1.stop()
    val in2 = MemoryStream[(Long, Seq[Float])]
    val q2 = Incremental.semanticNearDupGate(
        in2.toDF().toDF("vec_id", "embedding"), cents, stored, noCap, 2)
      .writeStream.format("memory").queryName("mp_two_out")
      .outputMode("append").start()
    try {
      in2.addData(embs.toIndexedSeq: _*); q2.processAllAvailable()
      val rows = spark.table("mp_two_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      val p1 = rows.filter(_._2 == 1).map(t => (t._1, t._3, t._4)).toSet
      assert(p1 == base,
        "probe leg 1 must reproduce the single-probe gate's pair set exactly")
      assert(rows.filter(_._2 == 2).forall(t => !base.contains((t._1, t._3, t._4))),
        "probe-2 rows are cross-cell by construction — disjoint from leg 1")
      assert(rows.forall(_._5 == 0), "no caps planted")
      // each replayed corpus vector still pairs with its original at
      // dist 0 through the greedy leg
      embs.foreach { case (id, _) =>
        assert(rows.contains((id, 1, id - 900L, 0L, 0)),
          s"replayed $id must self-pair at dist 0 on probe 1")
      }
    } finally { q2.stop(); stored.unpersist() }
  }

  test("streaming SEMANTIC gate under the TWO-LEVEL model: replayed corpus vector " +
      "flagged at dist 0 through the 2·√k-cost hierarchical arrival assignment") {
    import spark.implicits._
    import graft.operators.Clustering
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val v = Clustering.fixedPoint(spark, sf)
    val hm = Clustering.trainHierarchical(v, 16)
    // the stored corpus side assigned by the SAME two-level model —
    // cells are cells, the probe half is model-agnostic
    val stored = Clustering.assignedCorpus(v, hm).persist()
    val e0 = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0)
    val input = MemoryStream[(Long, Seq[Float])]
    val arrivals = input.toDF().toDF("vec_id", "embedding")
    val q = Incremental.semanticNearDupStream(arrivals, hm, stored)
      .writeStream.format("memory").queryName("semdup_hier_out")
      .outputMode("append").start()
    try {
      input.addData((901L, e0), (902L, Seq.fill(e0.length)(0.5f)))
      q.processAllAvailable()
      val rows = spark.table("semdup_hier_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.exists(t => t._1 == 901L && t._2 == 0L && t._3 == 0L),
        s"replayed vector must pair with its original at dist 0: ${rows.toSeq}")
      assert(rows.forall(_._1 != 902L), s"novel arrival must pass: ${rows.toSeq}")
    } finally { q.stop(); stored.unpersist() }
  }

}
