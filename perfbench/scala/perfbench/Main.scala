package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, GraftSession, ModelRegistry, Tables}
import graft.functions.Raster
import graft.operators.{Clustering, Similarity}
import graft.pipeline.{IndexBuild, IndexDelta, SatellitePipeline}
import graft.sources.ManifestSink
import graft.streaming.Incremental

/** The benchmark's JVM runner: one process, local[4], one closed-loop client.
  *
  *   Main <workload> <inputs> <work> <seconds> <trace 0|1> <out.json>
  *
  * Sets the session up three times (session start plus input
  * registration), runs as many episodes of the workload as fit in
  * `seconds` at the episode's nominal length (at least one), and writes
  * every raw sample to `out.json`. The episode count comes from
  * `seconds`, never from a clock, so every run of a workload does the
  * same work whatever the machine's speed. `run.py` turns that file into
  * metrics and checks the outputs. */
object Main {
  val Cores = 4
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, secondsArg, traceArg, out) = args
    val seconds = secondsArg.toDouble
    val stamp = Stamp.take()
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 0 until SetupRounds) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(Cores)
      register(workload, spark, in)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, traceArg == "1")
    val probe = new Probe(tracer)
    val body: Map[String, Any] = workload match {
      case "satellite_daily" =>
        new SatelliteDaily(spark, in, work, probe).run(episodes(seconds, 20.0))
      case "index_lifecycle" =>
        new IndexLifecycle(spark, in, work, probe).run(episodes(seconds, 50.0))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = body ++ Map(
      "workload" -> workload, "setup_s" -> setupS.toSeq, "stamp" -> stamp,
      "heap_mb" -> probe.heapSamples.toSeq, "gc_s" -> probe.gcSeconds(),
      "trace" -> tracer.dump())
    Files.write(Paths.get(out), Json.write(result).getBytes("UTF-8"))
    spark.stop()
  }

  /** Input registration: resolve every input the workload reads. */
  def register(workload: String, spark: SparkSession, in: String): Unit = workload match {
    case "satellite_daily" =>
      SatelliteDaily.Inputs.foreach(t => spark.read.parquet(s"$in/$t.parquet").schema)
    case "index_lifecycle" =>
      Seq(Tables.documents _, Tables.embeddings _, Tables.events _)
        .foreach(t => t(spark, in).schema)
      Seq("arrival_docs", "arrival_vectors")
        .foreach(t => spark.read.parquet(s"$in/$t.parquet").schema)
  }

  def episodes(seconds: Double, nominalS: Double): Int =
    math.max(1, math.round(seconds / nominalS).toInt)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Operation timing, heap sampling and GC accounting shared by the
  * workloads. Heap is sampled after two full collections at operation
  * boundaries, outside every timed interval; the forced collections are
  * excluded from the reported GC time. */
final class Probe(val tracer: Tracer) {
  val heapSamples = mutable.ArrayBuffer[Double]()
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private val gc0 = gcMs()
  private var forcedGcMs = 0L

  private var warming = false

  /** Seconds `body` takes with nothing recorded: no spans, no heap
    * samples. Runs the code paths once so the JVM has compiled them
    * before the timed operations. */
  def warmUp(body: => Unit): Double = {
    val t0 = System.nanoTime()
    warming = true
    try body finally warming = false
    (System.nanoTime() - t0) / 1e9
  }

  /** Whether spans are being recorded. */
  def tracing: Boolean = tracer.enabled && !warming

  def sampleHeap(): Unit = if (!warming) {
    val g0 = gcMs()
    // the second collection frees what Spark's ContextCleaner released
    // after the first one (broadcast and shuffle blocks of dead frames)
    System.gc()
    Thread.sleep(200)
    System.gc()
    forcedGcMs += gcMs() - g0
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapSamples += used / 1048576.0
  }

  def gcSeconds(): Double = (gcMs() - gc0 - forcedGcMs) / 1e3

  /** Seconds `body` takes, inside a trace span when tracing. */
  def time[T](name: String, layer: String)(body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = if (warming) body else tracer.span(name, layer)(body)
    ((System.nanoTime() - t0) / 1e9, v)
  }
}

/** The run stamp: start load average, cores, and a fixed-cost CPU probe
  * (median of five), so contended runs are visible. */
object Stamp {
  def take(): Map[String, Any] = {
    val load = try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      catch { case _: Exception => "unavailable" }
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 1L
      var i = 0
      while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42) println("") // keeps the loop's result live
      (System.nanoTime() - t0) / 1e9
    }
    once()
    val probes = (1 to 5).map(_ => once()).sorted
    Map("loadavg" -> load, "cores" -> Runtime.getRuntime.availableProcessors(),
      "calibration_s" -> probes(2))
  }
}

// ------------------------------------------------------------ workloads

object SatelliteDaily {
  val Inputs = Seq("water_bodies", "water_body_geometries", "image_catalog", "configs", "rasters")
}

/** D consecutive run dates of `SatellitePipeline.run` against one sink
  * and artifact directory that grow across the days, each date followed
  * by its replay. Each episode starts from the generator's sink, after
  * one untimed warm-up run. */
final class SatelliteDaily(spark: SparkSession, in: String, work: String, p: Probe) {
  private val plant = Json.readFile(s"$in/plant.json")
  private val runDates = plant("run_dates").asInstanceOf[Seq[String]]

  private def freshSink(dir: String): String = {
    val sink = s"$dir/sink"
    Files.createDirectories(Paths.get(sink))
    Files.copy(Paths.get(s"$in/sink0/part-00000-seed.parquet"),
      Paths.get(s"$sink/part-00000-seed.parquet"), StandardCopyOption.REPLACE_EXISTING)
    sink
  }

  def run(episodeCount: Int): Map[String, Any] = {
    def t(name: String) = spark.read.parquet(s"$in/$name.parquet")
    val (wb, geo, cat, cfg, ras) = (t("water_bodies"), t("water_body_geometries"),
      t("image_catalog"), t("configs"), t("rasters"))
    // JIT warm-up outside every metric: the first run date into a scratch
    // sink, so the episodes time the pipeline, not the JVM compiling it
    val warmupS = p.warmUp(SatellitePipeline.run(wb, geo, cat, cfg, ras,
      freshSink(s"$work/warmup"), s"$work/warmup/artifacts", runDates.head))
    Main.deleteTree(new File(s"$work/warmup"))
    val episodes = mutable.ArrayBuffer[Map[String, Any]]()
    var e = 0
    var lastSink, lastArt = ""
    while (e < episodeCount) {
      val dir = s"$work/ep$e"
      val sink = freshSink(dir)
      val art = s"$dir/artifacts"
      p.sampleHeap()
      val days = mutable.ArrayBuffer[Map[String, Any]]()
      val e0 = System.nanoTime()
      for (d <- runDates) {
        p.tracer.op += 1
        val (s, n) = p.time(s"day $d", "pipeline.SatellitePipeline")(
          SatellitePipeline.run(wb, geo, cat, cfg, ras, sink, art, d))
        // the scheduler retries the date: an idempotent replay
        val (rs, rn) = p.time(s"replay $d", "pipeline.SatellitePipeline")(
          SatellitePipeline.run(wb, geo, cat, cfg, ras, sink, art, d))
        days += Map("date" -> d, "s" -> s, "appended" -> n, "replay_s" -> rs,
          "replay_appended" -> rn)
      }
      val wall = (System.nanoTime() - e0) / 1e9
      p.sampleHeap()
      episodes += Map("days" -> days.toSeq, "wall_s" -> wall)
      if (e > 0) Main.deleteTree(new File(s"$work/ep${e - 1}"))
      lastSink = sink
      lastArt = art
      e += 1
    }
    val extra: Map[String, Any] = if (!p.tracer.enabled) Map.empty else layerProbes(lastSink)
    Map("episodes" -> episodes.toSeq, "warmup_s" -> warmupS, "sink_dir" -> lastSink,
      "artifact_dir" -> lastArt,
      "sink_files" -> new File(lastSink).listFiles().count(_.getName.endsWith(".parquet")),
      "artifact_mb" -> Main.dirBytes(new File(lastArt)) / 1048576.0) ++ extra
  }

  /** Traced-run extras, outside the timed loop: the stage row counts of
    * the first run date against the starting sink, and the row kernels
    * timed alone on every ingested image (thread CPU, one thread). */
  private def layerProbes(sink: String): Map[String, Any] = {
    def t(name: String) = spark.read.parquet(s"$in/$name.parquet")
    val sink0 = spark.read.parquet(s"$in/sink0")
    val disc = SatellitePipeline.discovery(
      t("water_bodies"), t("water_body_geometries"), sink0, runDates.head).cache()
    val nDisc = disc.count()
    val nCands = SatellitePipeline.candidates(
      disc, t("image_catalog"), t("configs"), sink0, runDates.head).count()
    disc.unpersist()
    val geo = t("water_body_geometries").collect()
      .map(r => r.getLong(0) -> r.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](1)
        .map(_.map(_.toSeq).toSeq).toSeq).toMap
    val fp = t("image_catalog").select("ee_id", "footprint_min_lon", "footprint_max_lon",
      "footprint_min_lat", "footprint_max_lat").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val bodyOf = spark.read.parquet(sink).select("ee_id", "waterbody_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bean = ManagementFactory.getThreadMXBean
    var cpuNs = 0L
    var pixels = 0L
    t("rasters").collect().foreach { r =>
      val ee = r.getString(0)
      val planes = (1 to 3).map(i => r.getSeq[scala.collection.Seq[Int]](i).map(_.toSeq).toSeq)
      val (x0, x1, y0, y1) = fp(ee)
      val polys = geo(bodyOf(ee)).map(_.map(v => v.take(2)))
      val c0 = bean.getCurrentThreadCpuTime
      val clipped = Raster.clip(planes, x0, x1, y0, y1, polys)
      Raster.encodePng(Raster.thumbnailArray(clipped, SatellitePipeline.ThumbnailFactor))
      Raster.encodeTiff(clipped)
      Raster.encodeTiff(planes)
      cpuNs += bean.getCurrentThreadCpuTime - c0
      pixels += planes.head.length.toLong * planes.head.head.length
    }
    Map("discovered" -> nDisc, "candidates" -> nCands, "kernel_cpu_s" -> cpuNs / 1e9,
      "kernel_mpix" -> pixels / 1e6)
  }
}

/** `IndexBuild.buildAll` into a fresh root, then K seeded arrival
  * batches: admit documents and vectors, re-open a serving session with
  * `IndexBuild.loadAll`, and run the fixed serve set. One build plus
  * its batches is one episode. */
final class IndexLifecycle(spark: SparkSession, in: String, work: String, p: Probe) {
  private val plant = Json.readFile(s"$in/plant.json")
  private val batches = plant("batches").asInstanceOf[Seq[Map[String, Any]]]
  private val serveQueries = plant("serve_queries").asInstanceOf[Seq[Any]]
    .map(_.toString.toDouble.toLong)
  private val ServeTables = Seq(IndexBuild.KeysT, IndexBuild.BandsT, IndexBuild.ShinglesT,
    IndexBuild.PostingsT, IndexBuild.AssignedT, IndexBuild.CappedT, IndexBuild.CentroidsT)

  private def manifests(root: String): (Int, Int) = {
    val ms = ServeTables.map(t => ManifestSink.sortedManifests(new File(s"$root/$t")))
    (ms.map(_.size).sum, ms.map(m => ManifestSink.filesOf(m).size).sum)
  }

  private val docs = spark.read.parquet(s"$in/arrival_docs.parquet")
  private val vecs = spark.read.parquet(s"$in/arrival_vectors.parquet")
  private val corpus = Tables.documents(spark, in)

  def run(episodeCount: Int): Map[String, Any] = {
    // JIT warm-up outside every metric: a build into a scratch root, so
    // the episodes time the program, not the JVM compiling it
    val warmupS = p.warmUp(episode(s"$work/warmup", "w", Nil))
    Map("warmup_s" -> warmupS,
      "episodes" -> (0 until episodeCount).map(e => episode(s"$work/index$e", s"e$e", batches)))
  }

  /** Build into a fresh `root`, then admit and serve each batch. */
  private def episode(root: String, tag: String, batches: Seq[Map[String, Any]]): Map[String, Any] = {
    CacheRegistry.releaseAll()
    ModelRegistry.clear()
    p.sampleHeap()
    val e0 = System.nanoTime()
    p.tracer.op += 1
    val (buildS, _) = p.time("buildAll", "pipeline.IndexBuild")(IndexBuild.buildAll(spark, in, root))
    val artifactMb = Main.dirBytes(new File(root)) / 1048576.0
    val (cacheEntries, modelEntries) = (CacheRegistry.size, ModelRegistry.size)
    val rows = batches.zipWithIndex.map { case (b, k) =>
      p.tracer.op += 1
      val bd = docs.filter(col("batch") === k).select("doc_id", "text")
      val bv = vecs.filter(col("batch") === k).select("vec_id", "embedding")
      val (ads, dv) = p.time(s"admitDocs $k", "pipeline.IndexDelta")(
        IndexDelta.admitDocs(spark, root, bd, s"$tag-b$k")
          .select("doc_id", "admitted", "reject_stage").collect())
      val (avs, vv) = p.time(s"admitVectors $k", "pipeline.IndexDelta")(
        IndexDelta.admitVectors(spark, root, bv, s"$tag-b$k")
          .select("vec_id", "admitted").collect())
      CacheRegistry.releaseAll()
      val serve = spark.newSession()
      val probeDoc = b("probe_doc").toString.toDouble.toLong
      val probeVec = b("probe_vec").toString.toDouble.toLong
      val gateIn = corpus.filter(col("doc_id").isin(serveQueries: _*))
        .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") === probeDoc)
          .select((col("doc_id") + lit(9000000L)).as("doc_id"), col("text")))
      val queriesIn = corpus.filter(col("doc_id").isin(serveQueries: _*))
        .select(col("doc_id").as("query_id"), col("text"))
      val vecIn = Tables.embeddings(spark, in).filter(col("vec_id") % 25 === 3)
        .select((col("vec_id") + lit(7000000L)).as("vec_id"), col("embedding"))
        .unionByName(vecs.filter(col("vec_id") === probeVec)
          .select((col("vec_id") + lit(9000000L)).as("vec_id"), col("embedding")))
      val calls = mutable.ArrayBuffer[(String, Double)]()
      // one serve call; traced runs split it into DataFrame
      // construction, physical planning and execution
      def serveCall[T](name: String, layer: String)(build: => DataFrame)(act: DataFrame => T): T = {
        val (s, v) = p.time(name, layer) {
          if (!p.tracing) act(build)
          else {
            val df = p.tracer.span("construct", layer)(build)
            p.tracer.span("plan", layer)(df.queryExecution.executedPlan)
            p.tracer.span("exec", layer)(act(df))
          }
        }
        calls += name -> s
        v
      }
      val (serveS, (gate, near)) = p.time(s"serve $k", "streaming.Incremental") {
        val (ls, ix) = p.time("loadAll", "pipeline.IndexBuild")(IndexBuild.loadAll(serve, root))
        calls += "loadAll" -> ls
        val g = serveCall("curationGateStream", "streaming.Incremental")(
          Incremental.curationGateStream(gateIn, ix.keys, ix.bands, ix.shingles))(
          _.select("doc_id", "reject_stage").collect())
        serveCall("retrievalStream", "streaming.Incremental")(
          Incremental.retrievalStream(queriesIn, ix.postings))(Main.noop)
        serveCall("ivfTopKServe", "operators.Similarity")(
          Similarity.ivfTopKServe(serve, in, ix.annPath))(Main.noop)
        val n = serveCall("semanticNearDupGate", "streaming.Incremental")(
          Incremental.semanticNearDupGate(vecIn,
            Clustering.loadCentroids(serve, ix.centroidsPath, ix.pins.get(IndexBuild.CentroidsT)),
            ix.assignedCorpus, ix.cappedCells))(_.select("vec_id", "corpus_id").collect())
        (g, n)
      }
      CacheRegistry.releaseAll()
      val (nManifests, nFiles) = manifests(root)
      p.sampleHeap()
      Map("admit_docs_s" -> ads, "admit_vectors_s" -> avs, "serve_s" -> serveS,
        "serve_calls" -> calls.map { case (n, s) => Map("call" -> n, "s" -> s) }.toSeq,
        "docs_admitted" -> dv.count(_.getBoolean(1)), "docs_rejected" -> dv.count(!_.getBoolean(1)),
        "vectors_admitted" -> vv.count(_.getInt(1) == 1),
        "vectors_rejected" -> vv.count(_.getInt(1) != 1),
        "probe_doc_stage" -> gate.find(_.getLong(0) == probeDoc + 9000000L)
          .map(_.getString(1)).orNull,
        "probe_vec_matches" -> near.count(r => r.getLong(0) == probeVec + 9000000L &&
          !r.isNullAt(1) && r.getLong(1) == probeVec),
        "manifests" -> nManifests, "files_per_serve_scan" -> nFiles)
    }
    val wall = (System.nanoTime() - e0) / 1e9
    Main.deleteTree(new File(root))
    Map("build_s" -> buildS, "artifact_mb" -> artifactMb, "cache_entries" -> cacheEntries,
      "model_entries" -> modelEntries, "batches" -> rows, "wall_s" -> wall)
  }
}
