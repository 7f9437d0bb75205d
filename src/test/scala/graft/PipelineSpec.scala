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
    val d = SatellitePipeline.discovery(waterBodies, geometries, existingSink, runDate)
    val rows = d.collect()
    assert(rows.map(_.getAs[Long]("id")).toSet == Set(1L, 2L), "body 3 over area limit")
    val b1 = rows.find(_.getAs[Long]("id") == 1L).get
    val g2d = b1.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](b1.fieldIndex("geometry2d"))
    assert(g2d.head.forall(_.length == 2), "z dropped from every vertex")
    assert(b1.getAs[Double]("width_degrees") == 2.0)
    val b2 = rows.find(_.getAs[Long]("id") == 2L).get
    assert(b2.getSeq[String](b2.fieldIndex("exclude_ee_ids")).toList == List("imgE"))
  }

  test("candidates: each filter rejects its dedicated image; A and F survive") {
    val d = SatellitePipeline.discovery(waterBodies, geometries, existingSink, runDate)
    val c = SatellitePipeline.candidates(d, catalog, configs, existingSink, runDate)
    val got = c.select(col("id"), col("ee_id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "imgA"), (2L, "imgF")),
      s"F1 (imgB), F2 (imgC), F3 (imgD), F4 (imgE) must all reject; got $got")
  }

  test("process: stats, filenames, json properties on the clipped cubes") {
    val d = SatellitePipeline.discovery(waterBodies, geometries, existingSink, runDate)
    val c = SatellitePipeline.candidates(d, catalog, configs, existingSink, runDate)
    val p = SatellitePipeline.process(c, rasters).collect()
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
    "appended, but its three artifacts are written") {
    // body 1 already holds imgA's capture time under another image: the
    // reference uploads before its ON CONFLICT DO NOTHING (main.py:311-325)
    val (sinkPath, artDir) = sinkAt(existingSink.union(Seq(
      (1L, new Timestamp(ts("2024-06-20 10:00:00")), "imgOld", "S2", "{}", "f", "t", 1.0, 1.0, 1.0, 0.0)
    ).toDF(existingSink.columns.toIndexedSeq: _*)))
    val n = SatellitePipeline.run(waterBodies, geometries, catalog, configs, rasters,
      sinkPath, artDir, runDate)
    assert(n == 1, "only imgF is new")
    for (f <- Seq("1_20240620100000.tif", "1_20240620100000_clipped.tif",
        "1_20240620100000_thumbnail.png"))
      assert(Files.exists(Paths.get(artDir, "imgA", f)), f)
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
    // cache → count → write upsert fired 18 jobs here, 15 on the replay
    assert(runJobs.length <= 11, s"${runJobs.length} jobs for one run")
    assert(replayJobs.length <= 8, s"${replayJobs.length} jobs for its replay")
    // the artifact pass and the append are Dataset actions, so their
    // jobs name the sink's methods as call site
    assert(runJobs.exists(_.contains("graft.sinks.Sink$.writeArtifacts")))
    assert(runJobs.exists(_.contains("graft.sinks.Sink$.upsertAppend")))
    assert(!replayJobs.exists(_.contains("graft.sinks.Sink$.upsertAppend")),
      "a replay processes no row and skips the upsert")
    assert(spark.read.parquet(sinkPath).schema == SinkSchema.schema,
      "the pinned reader schema is the schema the pipeline writes")
  }

  test("process spreads the per-image kernels over defaultParallelism tasks") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ResultQueryStageExec}
    // eight clear in-window images of body 1: eight candidates, read
    // from one partition as from a single catalog file
    val ids = (1 to 8).map(k => s"imgS$k")
    val cat = ids.zipWithIndex.map { case (ee, k) =>
      (ee, "S2", ts(s"2024-06-${10 + k} 10:00:00"), 9.0, 11.0, 9.0, 11.0,
        Map("CLOUDY_PIXEL_PERCENTAGE" -> "5"))
    }.toDF("ee_id", "dataset", "captured_ts_millis",
      "footprint_min_lon", "footprint_max_lon", "footprint_min_lat", "footprint_max_lat",
      "properties").coalesce(1)
    val ras = ids.zipWithIndex.map { case (ee, k) => (ee, gray(10 + k), gray(20 + k), gray(30 + k)) }
      .toDF("ee_id", "TCI_R", "TCI_G", "TCI_B")
    val d = SatellitePipeline.discovery(waterBodies, geometries, existingSink, runDate)
    val c = SatellitePipeline.candidates(d, cat, configs, existingSink, runDate)
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
    val p = SatellitePipeline.process(c, ras)
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
}
