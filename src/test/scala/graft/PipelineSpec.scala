package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.SatellitePipeline
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** End-to-end satellite pipeline over reference-shaped fixtures
  * (FIXTURES.md §B): discovery → candidate filtering (F1-F4) → raster
  * kernels → artifact + upsert sinks, incl. the SURVEY §5 replay-
  * idempotence property.
  *
  * Fixture design — each candidate-filter rejection path has a
  * dedicated catalog row:
  *  imgA  body 1, in window, clear        → SELECTED (all-white raster)
  *  imgB  footprint misses the center     → F1 reject
  *  imgC  captured before the window      → F2 reject
  *  imgD  cloudy (50 ≥ 20)                → F3 reject
  *  imgE  already in the sink             → F4 reject
  *  imgF  body 2, in window, clear        → SELECTED (half-white raster)
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val runDate = "2024-06-30"

  def waterBodies: DataFrame = Seq(
    (1L, 10.0, 9.0, 11.0, 9.0, 11.0, 10.0, 10.0),
    (2L, 20.0, 19.0, 21.0, 19.0, 21.0, 20.0, 20.0),
    (3L, 5000.0, 0.0, 50.0, 0.0, 50.0, 25.0, 25.0), // over the 900 km² limit
  ).toDF("id", "areasqkm", "min_longitude", "max_longitude",
    "min_latitude", "max_latitude", "longitude", "latitude")

  /** Square rings with z (exercises P7); body 2 is a multi-polygon. */
  def geometries: DataFrame = Seq(
    (1L, Seq(Seq(Seq(9.0, 9.0, 0.0), Seq(11.0, 9.0, 1.0), Seq(11.0, 11.0, 2.0), Seq(9.0, 11.0, 3.0)))),
    (2L, Seq(
      Seq(Seq(19.0, 19.0, 0.0), Seq(21.0, 19.0, 0.0), Seq(21.0, 21.0, 0.0), Seq(19.0, 21.0, 0.0)),
      Seq(Seq(30.0, 30.0, 0.0), Seq(31.0, 30.0, 0.0), Seq(31.0, 31.0, 0.0), Seq(30.0, 31.0, 0.0)))),
    (3L, Seq(Seq(Seq(0.0, 0.0, 0.0), Seq(50.0, 0.0, 0.0), Seq(50.0, 50.0, 0.0), Seq(0.0, 50.0, 0.0)))),
  ).toDF("id", "geometry")

  def ts(s: String): Long = Timestamp.valueOf(s).getTime

  def catalog: DataFrame = Seq(
    ("imgA", "S2", ts("2024-06-20 10:00:00"), 9.0, 11.0, 9.0, 11.0, Map("CLOUDY_PIXEL_PERCENTAGE" -> "5")),
    ("imgB", "S2", ts("2024-06-20 10:00:00"), 50.0, 60.0, 50.0, 60.0, Map("CLOUDY_PIXEL_PERCENTAGE" -> "5")),
    ("imgC", "S2", ts("2024-04-01 10:00:00"), 9.0, 11.0, 9.0, 11.0, Map("CLOUDY_PIXEL_PERCENTAGE" -> "5")),
    ("imgD", "S2", ts("2024-06-20 10:00:00"), 9.0, 11.0, 9.0, 11.0, Map("CLOUDY_PIXEL_PERCENTAGE" -> "50")),
    ("imgE", "S2", ts("2024-06-21 10:00:00"), 19.0, 21.0, 19.0, 21.0, Map("CLOUDY_PIXEL_PERCENTAGE" -> "5")),
    ("imgF", "S2", ts("2024-06-22 10:00:00"), 19.0, 21.0, 19.0, 21.0, Map("CLOUDY_PIXEL_PERCENTAGE" -> "5")),
  ).toDF("ee_id", "dataset", "captured_ts_millis",
    "footprint_min_lon", "footprint_max_lon", "footprint_min_lat", "footprint_max_lat",
    "properties")

  def configs: DataFrame =
    Seq(("S2", 20.0)).toDF("dataset_name", "cloud_max")

  def existingSink: DataFrame = Seq(
    (2L, new Timestamp(ts("2024-06-21 10:00:00")), "imgE", "S2", "{}", "f", "t", 1.0, 1.0, 1.0, 0.0)
  ).toDF("waterbody_id", "captured_ts", "ee_id", "satellite_dataset", "properties",
    "filename", "thumbnail_filename", "red_average", "green_average", "blue_average", "white_fraction")

  /** `existingSink` plus a stored row (waterbody_id, captured_ts, ee_id)
    * for each of `keys`. */
  def sinkWith(keys: (Long, String, String)*): DataFrame = existingSink.union(keys.map {
    case (wb, at, ee) => (wb, new Timestamp(ts(at)), ee, "S2", "{}", "f", "t", 1.0, 1.0, 1.0, 0.0)
  }.toDF(existingSink.columns.toIndexedSeq: _*))

  def gray(v: Int, h: Int = 8, w: Int = 8): Seq[Seq[Int]] = Seq.fill(h)(Seq.fill(w)(v))

  def rasters: DataFrame = Seq(
    ("imgA", gray(255), gray(255), gray(255)), // all white
    // top half white-ish (200), bottom half blue (10,10,230)
    ("imgF",
      gray(200, 4, 8) ++ gray(10, 4, 8),
      gray(200, 4, 8) ++ gray(10, 4, 8),
      gray(200, 4, 8) ++ gray(230, 4, 8)),
  ).toDF("ee_id", "TCI_R", "TCI_G", "TCI_B")

  test("discovery: area limit + geometry join + z-drop + derived bbox fields") {
    val rows = SatellitePipeline.discovery(waterBodies).collect()
    assert(rows.map(_.getAs[Long]("id")).toSet == Set(1L, 2L), "body 3 over area limit")
    val b1 = rows.find(_.getAs[Long]("id") == 1L).get
    assert(b1.getAs[Double]("width_degrees") == 2.0)
    // Q4 + P7 run in the payload phase, for the candidates' bodies only
    val g = SatellitePipeline.bodyGeometries(geometries, Seq(1L, 2L)).collect()
    assert(g.map(_.getAs[Long]("id")).toSet == Set(1L, 2L))
    for (r <- g) {
      val g2d = r.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](r.fieldIndex("geometry2d"))
      assert(g2d.forall(_.forall(_.length == 2)), "z dropped from every vertex")
    }
    val b2 = g.find(_.getAs[Long]("id") == 2L).get
    assert(b2.getSeq[AnyRef](b2.fieldIndex("geometry2d")).length == 2, "both rings of body 2")
  }

  /** The metadata phase's candidates of `cat` against `sink`. */
  def candidatesOf(cat: DataFrame, sink: DataFrame = existingSink): DataFrame =
    SatellitePipeline.candidates(SatellitePipeline.discovery(waterBodies), cat, configs, sink, runDate)

  /** The payload phase over the collected candidates `c`. */
  def payload(c: DataFrame, geo: DataFrame, ras: DataFrame): DataFrame =
    SatellitePipeline.process(c.collect().toSeq, c.schema, geo, ras)

  test("candidates: each filter rejects its dedicated image; A and F survive") {
    def cands(sink: DataFrame) = candidatesOf(catalog, sink)
      .select(col("id"), col("ee_id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val got = cands(existingSink)
    assert(got == Set((1L, "imgA"), (2L, "imgF")),
      s"F1 (imgB), F2 (imgC), F3 (imgD), F4 (imgE) must all reject; got $got")
    // imgE passes F1-F3: the sink's (2, imgE) alone excludes it (the
    // reference's exclude list, main.py:415)
    assert(cands(existingSink.limit(0)) == got + ((2L, "imgE")))
  }

  test("process: stats, filenames, json properties on the clipped cubes") {
    val p = payload(candidatesOf(catalog), geometries, rasters).collect()
    assert(p.length == 2)
    val a = p.find(_.getAs[String]("ee_id") == "imgA").get
    // body-1 polygon covers the whole footprint → nothing masked
    assert(a.getAs[Double]("red_average") == 255.0)
    assert(a.getAs[Double]("white_fraction") == 1.0)
    assert(a.getAs[String]("filename") == "imgA/1_20240620100000.tif",
      "corrected yyyyMMddHHmmss format (reference bug documented)")
    assert(a.getAs[String]("properties").contains("\"CLOUDY_PIXEL_PERCENTAGE\":\"5\""))
    val f = p.find(_.getAs[String]("ee_id") == "imgF").get
    assert(f.getAs[Double]("white_fraction") == 0.5, "half white / half blue")
    assert(f.getAs[Double]("blue_average") == (200.0 + 230.0) / 2)
    // binary artifacts present and decodable
    val thumb = Raster.decode(a.getAs[Array[Byte]]("thumbnail_png"))
    assert(thumb.head.length == 1 && thumb.head.head.length == 1, "8/7 → 1×1 thumbnail")
  }

  object Raster {
    def decode(b: Array[Byte]) = graft.functions.Raster.decodeImage(b)
  }

  test("run: artifacts written, sink appended, replay is a no-op (S6 idempotence)") {
    val tmp = Files.createTempDirectory("graft_pipe").toString
    val sinkPath = s"$tmp/sink"
    val artDir = s"$tmp/artifacts"
    val n1 = SatellitePipeline.run(waterBodies, geometries, catalog, configs, rasters,
      sinkPath, artDir, runDate)
    assert(n1 == 2, "two new images ingested")
    assert(Files.exists(Paths.get(artDir, "imgA/1_20240620100000.tif")))
    assert(Files.exists(Paths.get(artDir, "imgA/1_20240620100000_clipped.tif")))
    assert(Files.exists(Paths.get(artDir, "imgA/1_20240620100000_thumbnail.png")))
    val afterFirst = spark.read.parquet(sinkPath).count()
    assert(afterFirst == 2)
    // replay: same inputs, sink unchanged (ON CONFLICT DO NOTHING analog)
    val n2 = SatellitePipeline.run(waterBodies, geometries, catalog, configs, rasters,
      sinkPath, artDir, runDate)
    assert(n2 == 0, "replay appends nothing")
    assert(spark.read.parquet(sinkPath).count() == 2)
  }

  /** A fresh sink directory holding `rows` (SinkSchema-shaped). */
  def sinkAt(rows: DataFrame): (String, String) = {
    val tmp = Files.createTempDirectory("graft_pipe").toString
    rows.coalesce(1).write.parquet(s"$tmp/sink")
    (s"$tmp/sink", s"$tmp/artifacts")
  }

  def parquetFiles(path: String): Set[String] =
    new java.io.File(path).listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet

  test("run: a row whose key is already in the sink under another ee_id is not " +
    "appended, and its artifacts are not written") {
    // body 1 already holds imgA's capture time under another image. The
    // reference uploads before its ON CONFLICT DO NOTHING (main.py:311-325);
    // here the key is decided before the payload, so imgA gets no artifacts
    val (sinkPath, artDir) = sinkAt(sinkWith((1L, "2024-06-20 10:00:00", "imgOld")))
    val n = SatellitePipeline.run(waterBodies, geometries, catalog, configs, rasters,
      sinkPath, artDir, runDate)
    assert(n == 1, "only imgF is new")
    assert(!Files.exists(Paths.get(artDir, "imgA")), "no artifact of the conflicting image")
    assert(Files.exists(Paths.get(artDir, "imgF", "2_20240622100000.tif")))
    val sink = spark.read.parquet(sinkPath)
    assert(sink.count() == 3, "the returned count equals the rows appended")
    assert(sink.filter(col("ee_id") === "imgA").count() == 0)
    assert(sink.filter(col("ee_id") === "imgOld").count() == 1)
  }

  test("run: one sink read, one artifact pass, one observed append — job budget, " +
    "replay commits nothing, reader schema pinned to the written one") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import graft.pipeline.SinkSchema
    val (sinkPath, artDir) = sinkAt(existingSink)
    // per job group, each job's call sites: its stages' and, for jobs
    // submitted off the calling thread (broadcasts, adaptive query
    // stages), the SQL execution's
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, java.util.List[String]]()
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executions.put(x.executionId.toString, x.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        prop("spark.jobGroup.id").foreach(group => jobs.computeIfAbsent(group,
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList[String]()))
          .add((e.stageInfos.map(_.details) ++
            prop("spark.sql.execution.id").flatMap(x => Option(executions.get(x)))).mkString("\n")))
      }
    }
    val sc = spark.sparkContext
    def within[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    val (n, r, filesAfterRun, filesAfterReplay) =
      try {
        val n = within("budget-run")(SatellitePipeline.run(waterBodies, geometries, catalog,
          configs, rasters, sinkPath, artDir, runDate))
        val filesAfterRun = parquetFiles(sinkPath)
        val r = within("budget-replay")(SatellitePipeline.run(waterBodies, geometries, catalog,
          configs, rasters, sinkPath, artDir, runDate))
        val filesAfterReplay = parquetFiles(sinkPath)
        // a marker job: once its start is seen, every earlier event is too
        within("budget-marker")(sc.parallelize(Seq(1), 1).count())
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!jobs.containsKey("budget-marker") && System.nanoTime() < deadline)
          Thread.sleep(20)
        (n, r, filesAfterRun, filesAfterReplay)
      } finally sc.removeSparkListener(listener)
    assert(n == 2 && r == 0)
    assert(filesAfterRun.size == 2, s"seed file + one appended file: $filesAfterRun")
    assert(filesAfterReplay == filesAfterRun, "a replay commits no parquet file")
    val runJobs = jobs.get("budget-run").toArray.map(_.toString)
    val replayJobs = jobs.get("budget-replay").toArray.map(_.toString)
    // three artifact passes, a schema-inferring sink re-read and a
    // cache → count → write upsert fired 18 jobs here, 15 on the replay;
    // one plan over metadata and payloads then fired 11 and 8. Deciding
    // the candidates first kept 11 and ended a replay after its
    // metadata query's jobs. Deciding the sink keys there too, one
    // artifact pass that returns the sink rows and one driver-side
    // append (no cached frame, no dedup shuffle, no second sink read)
    // take an ingest day from 11 jobs to 8
    assert(runJobs.length <= 8, s"${runJobs.length} jobs for one run")
    assert(replayJobs.length <= 4, s"${replayJobs.length} jobs for its replay")
    // the artifact pass and the append are Dataset actions, so their
    // jobs name the sink's methods as call site
    assert(runJobs.exists(_.contains("graft.sinks.Sink$.writeArtifacts")))
    assert(runJobs.exists(_.contains("graft.sinks.Sink$.appendRows")))
    assert(!replayJobs.exists(_.contains("graft.sinks.Sink$")),
      "a replay processes no row: no artifact pass, no append")
    assert(spark.read.parquet(sinkPath).schema == SinkSchema.schema,
      "the pinned reader schema is the schema the pipeline writes")
  }

  /** Eight clear in-window images of body 1, read from one partition as
    * from a single catalog file, and their rasters: (catalog, rasters). */
  def eightImages: (DataFrame, DataFrame) = {
    val ids = (1 to 8).map(k => s"imgS$k")
    val cat = ids.zipWithIndex.map { case (ee, k) =>
      (ee, "S2", ts(s"2024-06-${10 + k} 10:00:00"), 9.0, 11.0, 9.0, 11.0,
        Map("CLOUDY_PIXEL_PERCENTAGE" -> "5"))
    }.toDF(catalog.columns.toIndexedSeq: _*).coalesce(1)
    val ras = ids.zipWithIndex.map { case (ee, k) => (ee, gray(10 + k), gray(20 + k), gray(30 + k)) }
      .toDF(rasters.columns.toIndexedSeq: _*)
    (cat, ras)
  }

  test("process spreads the per-image kernels over defaultParallelism tasks") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ResultQueryStageExec}
    val (cat, ras) = eightImages
    val c = candidatesOf(cat)
    assert(c.count() == 8)

    // per job group, the result-stage task count of the last job
    // started (the query's final stage; query stages start before it)
    val resultTasks = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (group != null) resultTasks.put(group, e.stageInfos.maxBy(_.stageId).numTasks)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val p = payload(c, geometries, ras)
    try {
      sc.setJobGroup("pipeline-spread", "process")
      assert(p.collect().length == 8)
      // a marker job: once its start is seen, every earlier event is too
      sc.setJobGroup("pipeline-spread-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!resultTasks.containsKey("pipeline-spread-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // the kernel projection runs in the result stage: no query stage
    // (a leaf of the final adaptive plan) sits between it and the root
    val finalPlan = p.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan match {
        case r: ResultQueryStageExec => r.plan
        case other => other
      }
      case other => other
    }
    val kernel = finalPlan.find {
      case pr: ProjectExec => pr.projectList.exists(_.exists(_.isInstanceOf[ScalaUDF]))
      case _ => false
    }
    assert(kernel.isDefined, s"kernel projection not in the result stage:\n$finalPlan")
    assert(resultTasks.get("pipeline-spread") == sc.defaultParallelism,
      s"kernel stage ran in ${resultTasks.get("pipeline-spread")} tasks, " +
        s"expected defaultParallelism = ${sc.defaultParallelism}")
  }

  /** `geometries` and `rasters` written as parquet under a fresh
    * directory, read back over those files: (dir, geometries, rasters). */
  def payloadFiles(): (String, DataFrame, DataFrame) = {
    val tmp = Files.createTempDirectory("graft_payload").toString
    geometries.write.parquet(s"$tmp/geometries")
    rasters.write.parquet(s"$tmp/rasters")
    (tmp, spark.read.parquet(s"$tmp/geometries"), spark.read.parquet(s"$tmp/rasters"))
  }

  test("run: a replay reads no geometry and no raster") {
    val (sinkPath, artDir) = sinkAt(existingSink)
    val (tmp, geo, ras) = payloadFiles()
    assert(SatellitePipeline.run(waterBodies, geo, catalog, configs, ras,
      sinkPath, artDir, runDate) == 2)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    // the payload files are gone: any read of them now fails
    intercept[Exception](geo.count())
    intercept[Exception](ras.count())
    assert(SatellitePipeline.run(waterBodies, geo, catalog, configs, ras,
      sinkPath, artDir, runDate) == 0, "the replay ends after the metadata phase")
    assert(spark.read.parquet(sinkPath).count() == 3)
  }

  test("process reads only the candidates' geometries and rasters: key-filtered " +
    "scans, no broadcast over a whole table") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, In, InSet}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val (_, geo, ras) = payloadFiles()
    val p = payload(candidatesOf(catalog), geo, ras)
    assert(p.collect().length == 2)
    object plans extends AdaptiveSparkPlanHelper
    val plan = p.queryExecution.executedPlan
    def scansOf(table: String, in: org.apache.spark.sql.execution.SparkPlan) = plans.collect(in) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == table) => s
    }
    def keyFiltered(s: FileSourceScanExec, key: String): Boolean = s.dataFilters.exists {
      case In(a: Attribute, _) => a.name == key
      case InSet(a: Attribute, _) => a.name == key
      case _ => false
    }
    val broadcasts = plans.collect(plan) { case b: BroadcastExchangeExec => b }
    for ((table, key) <- Seq("geometries" -> "id", "rasters" -> "ee_id")) {
      val scans = scansOf(table, plan)
      assert(scans.nonEmpty, s"no scan of $table:\n$plan")
      assert(scans.forall(keyFiltered(_, key)), s"a $table scan without the $key filter:\n$plan")
      // so no broadcast sits over an unfiltered scan of the table
      assert(broadcasts.exists(b => scansOf(table, b).nonEmpty), s"$table is not broadcast:\n$plan")
    }
  }

  test("run: the upsert reads the sink's keys in the run's window only; rows " +
    "outside it stay") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    // body 1 already holds an image from before the window
    val (sinkPath, artDir) = sinkAt(sinkWith((1L, "2024-05-01 10:00:00", "imgOld")))
    object plans extends AdaptiveSparkPlanHelper
    // every query of the run, in order; the append is the last
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        queries.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def isWrite(qe: QueryExecution) =
      plans.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined
    spark.listenerManager.register(listener)
    val n =
      try {
        val n = SatellitePipeline.run(waterBodies, geometries, catalog, configs, rasters,
          sinkPath, artDir, runDate)
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!queries.asScala.exists(isWrite) && System.nanoTime() < deadline)
          Thread.sleep(20)
        n
      } finally spark.listenerManager.unregister(listener)
    assert(n == 2)
    val sink = spark.read.parquet(sinkPath)
    assert(sink.count() == 4)
    assert(sink.filter(col("ee_id") === "imgOld").count() == 1)
    // one query of the run reads the sink, the metadata query, and its
    // scan carries the window's captured_ts bound
    def sinkScans(plan: SparkPlan) = plans.collect(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "sink") => s
    }
    val readers = queries.asScala.toSeq.map(_.executedPlan).filter(sinkScans(_).nonEmpty)
    assert(readers.length == 1, s"${readers.length} queries of the run read the sink")
    val plan = readers.head
    assert(sinkScans(plan).forall(_.dataFilters.exists(_.references.exists(_.name == "captured_ts"))),
      s"an existing-key read without the window bound:\n$plan")
  }

  /** The catalog led by imgA2, a second image of body 1 captured at
    * imgA's time (one primary key, two ee_ids), and the rasters with its
    * planes. */
  def oneKeyTwoImages: (DataFrame, DataFrame) = (
    Seq(("imgA2", "S2", ts("2024-06-20 10:00:00"), 9.0, 11.0, 9.0, 11.0,
      Map("CLOUDY_PIXEL_PERCENTAGE" -> "5"))).toDF(catalog.columns.toIndexedSeq: _*).union(catalog),
    Seq(("imgA2", gray(100), gray(100), gray(100))).toDF(rasters.columns.toIndexedSeq: _*)
      .union(rasters))

  test("run: two rows with one primary key in a batch give one sink row, the " +
    "smallest ee_id's; only its artifacts are written") {
    val (cat, ras) = oneKeyTwoImages
    val (sinkPath, artDir) = sinkAt(existingSink)
    assert(SatellitePipeline.run(waterBodies, geometries, cat, configs, ras,
      sinkPath, artDir, runDate) == 2, "one of imgA/imgA2 for body 1, imgF for body 2")
    val body1 = spark.read.parquet(sinkPath).filter(col("waterbody_id") === 1L).collect()
    assert(body1.map(_.getAs[String]("ee_id")).toSeq == Seq("imgA"),
      "imgA < imgA2 wins, though imgA2 comes first")
    assert(body1.head.getAs[Double]("red_average") == 255.0, "the winner's statistics")
    for (f <- Seq("1_20240620100000.tif", "1_20240620100000_clipped.tif",
        "1_20240620100000_thumbnail.png"))
      assert(Files.exists(Paths.get(artDir, "imgA", f)), f)
    assert(!Files.exists(Paths.get(artDir, "imgA2")), "no artifact of the losing image")
  }

  test("candidates: a key the sink holds under another ee_id is dropped; the same " +
    "capture time on another body is not") {
    def cands(sink: DataFrame) = candidatesOf(catalog, sink)
      .select(col("ee_id")).collect().map(_.getString(0)).toSet
    assert(cands(sinkWith((1L, "2024-06-20 10:00:00", "imgOld"))) == Set("imgF"),
      "body 1 holds imgA's capture time: ON CONFLICT DO NOTHING")
    assert(cands(sinkWith((9L, "2024-06-20 10:00:00", "imgOld"))) == Set("imgA", "imgF"),
      "the key is (waterbody_id, captured_ts)")
  }

  test("run: a batch whose every row conflicts returns 0 and commits no file") {
    val (sinkPath, artDir) = sinkAt(sinkWith(
      (1L, "2024-06-20 10:00:00", "imgOld"), (2L, "2024-06-22 10:00:00", "imgOld2")))
    val before = parquetFiles(sinkPath)
    assert(SatellitePipeline.run(waterBodies, geometries, catalog, configs, rasters,
      sinkPath, artDir, runDate) == 0)
    assert(parquetFiles(sinkPath) == before, "no file committed")
    assert(spark.read.parquet(sinkPath).count() == 3)
    assert(!Files.exists(Paths.get(artDir)), "no artifact written")
  }

  test("run: the first write creates the sink as one file") {
    val (cat, ras) = eightImages
    val tmp = Files.createTempDirectory("graft_pipe").toString
    assert(SatellitePipeline.run(waterBodies, geometries, cat, configs, ras,
      s"$tmp/sink", s"$tmp/artifacts", runDate) == 8)
    assert(spark.read.parquet(s"$tmp/sink").count() == 8)
    assert(parquetFiles(s"$tmp/sink").size == 1,
      s"the artifact pass ran in ${spark.sparkContext.defaultParallelism} tasks, " +
        s"the append in one: ${parquetFiles(s"$tmp/sink")}")
  }

  test("run: every sink row keeps its image's catalog capture time, the invariant " +
    "that makes the window-bounded key read exact") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import graft.pipeline.SinkSchema
    val (sinkPath, artDir) = sinkAt(existingSink)
    assert(SatellitePipeline.run(waterBodies, geometries, catalog, configs, rasters,
      sinkPath, artDir, runDate) == 2)
    val sink = spark.read.schema(SinkSchema.schema).parquet(sinkPath)
    val pairs = sink.join(catalog, "ee_id")
      .select(col("captured_ts"), timestamp_millis(col("captured_ts_millis")).as("cat_ts"))
      .collect()
    assert(pairs.length == sink.count(), "every sink row names a catalog image")
    assert(pairs.forall(r => r.get(0) == r.get(1)), pairs.mkString(", "))
    // so the metadata query may read the window's sink rows only
    val meta = candidatesOf(catalog, sink)
    assert(meta.collect().isEmpty, "a replay has no candidate")
    object plans extends AdaptiveSparkPlanHelper
    val plan = meta.queryExecution.executedPlan
    val scans = plans.collect(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "sink") => s
    }
    assert(scans.nonEmpty, s"no sink scan:\n$plan")
    assert(scans.forall(_.dataFilters.exists(_.references.exists(_.name == "captured_ts"))),
      s"a sink scan without the captured_ts bound:\n$plan")
  }
}
