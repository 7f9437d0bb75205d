package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{PixelOps, Raster}
import graft.sinks.Sink

/** The reference's end-to-end dataflow (SURVEY §0 diagram;
  * main.py:460-505) recomposed as one declarative Spark plan over
  * reference-shaped tables — the driver-loop/thread-pool orchestration
  * (main.py:432-457, 492-498) is replaced by partition parallelism.
  *
  * Stage map (SURVEY §2 operator ids):
  *  - discovery: Q1-Q8 + P7 z-drop + P8 bbox/centroid
  *  - candidates: P2 config cross, S2 catalog scan, F1 containment,
  *    F2 date window, F3 cloud property, F4 anti-join, P3 ts
  *  - process: F5 band rename, R1 stack, R2 clip, R3/R4 stats,
  *    R5 thumbnail, R6 tiff re-encode, P4 filenames, P5 to_json,
  *    P6 sink-record assembly
  *  - run: S5 artifact sink + S6 idempotent upsert
  *
  * S3 (HTTP fetch of band images, main.py:161-186) exists as a real
  * executor-side transport — `sources/HttpFetch.fetchColumn`
  * (mapPartitions, pooled client per partition, bounded retries,
  * per-row status; HttpFetchSpec drives it over live sockets against
  * an in-process server and chains fetch → decode → stats). THIS
  * pipeline still reads pre-staged band planes from the `rasters`
  * table because the sandbox has no imagery endpoint; a live
  * deployment swaps the `rasters` join for
  * `HttpFetch.fetchColumn(cands, "band_url", "raw")` +
  * `Raster.decodeImageUdf` at the marked point below.
  *
  * Scale posture: water bodies and configs are broadcast-size dims.
  * Neither big side is shuffled: the catalog is scanned once and probes
  * the broadcast (body × config) rows in a BroadcastHashJoin on the
  * dataset, with the F1-F3 residuals; the F4 anti-join broadcasts the
  * sink keys. The rasters join is a BroadcastHashJoin too, and it
  * broadcasts the WHOLE `rasters` table, every plane of every image, on
  * each run: fine for pre-staged bench tables, not for production-size
  * rasters (ROADMAP). The one shuffle is the round-robin spread of the
  * candidates over `defaultParallelism` partitions, after which
  * `Raster.products` runs once per joined row on primitive planes: one
  * O(H·W) conversion, the O(H·E + H·W) scanline clip for E polygon
  * edges, then the three encodes.
  */
object SatellitePipeline {

  // Reference constants (main.py:34-48)
  val LookbackDays = 30
  val AreaLimit = 900.0
  val WaterbodyLimit = 1100
  val NoData = 0
  val ThumbnailFactor = 7 // main.py:40

  /** Q1-Q8 (main.py:467-488) + geometry prep (P7/P8, main.py:374-384).
    * `runDate` replaces the reference's nondeterministic
    * `date.today()` (main.py:45-46). */
  def discovery(
      waterBodies: DataFrame,
      geometries: DataFrame,
      sink: DataFrame,
      runDate: String): DataFrame = {
    val lookback = date_sub(lit(runDate).cast("date"), LookbackDays)
    // Q1-Q3: exclude set from the sink, 30-day lookback
    val already = sink
      .filter(col("captured_ts") >= lookback)
      .groupBy(col("waterbody_id"))
      .agg(collect_set(col("ee_id")).as("exclude_ee_ids"))
    waterBodies
      .join(broadcast(geometries), waterBodies("id") === geometries("id"), "left")
      .drop(geometries("id"))
      .join(already, waterBodies("id") === already("waterbody_id"), "left")
      .drop("waterbody_id")
      .filter(col("areasqkm") < AreaLimit) // Q6 (main.py:482)
      .orderBy(col("areasqkm").desc, col("id")) // Q7 top-K (main.py:483-484)
      .limit(WaterbodyLimit)
      .select(col("*"),
        // P7: drop z from every [lon, lat, z] vertex (main.py:374-377)
        expr("transform(geometry, ring -> transform(ring, p -> slice(p, 1, 2)))")
          .as("geometry2d"),
        // P8: bbox-derived fields (main.py:379-384)
        abs(col("max_longitude") - col("min_longitude")).as("width_degrees"),
        abs(col("max_latitude") - col("min_latitude")).as("height_degrees"))
  }

  /** P2 + S2 + F1-F4 + P3 (main.py:393-440). The catalog probes the
    * broadcast (body × config) rows on the dataset, with the
    * containment/window/cloud residuals. */
  def candidates(
      discovered: DataFrame,
      catalog: DataFrame,
      configs: DataFrame,
      sink: DataFrame,
      runDate: String): DataFrame = {
    val start = date_sub(lit(runDate).cast("date"), LookbackDays)
    val end = lit(runDate).cast("date")
    val withConfig = discovered.crossJoin(broadcast(configs)) // P2 (main.py:433-440)
    val cand = catalog
      .withColumn("captured_ts", timestamp_millis(col("captured_ts_millis"))) // P3, UTC
      .join(broadcast(withConfig),
        catalog("dataset") === withConfig("dataset_name") &&
          // F1: footprint ∋ water-body centerpoint (main.py:384, 397)
          col("longitude").between(col("footprint_min_lon"), col("footprint_max_lon")) &&
          col("latitude").between(col("footprint_min_lat"), col("footprint_max_lat")) &&
          // F2: half-open date window (main.py:398)
          col("captured_ts") >= start && col("captured_ts") < end &&
          // F3: cloud filter only when the config has one (main.py:403-404)
          (col("cloud_max").isNull ||
            element_at(col("properties"), "CLOUDY_PIXEL_PERCENTAGE").cast("double") < col("cloud_max")))
    // F4: honest anti-join vs the sink on the composite identity
    // (reference tests membership in the aggregated exclude list,
    // main.py:415; left_anti is the equivalent relational form —
    // equivalence proven in RelationalSpec)
    cand.join(sink.select(col("waterbody_id").as("dl_wb"), col("ee_id").as("dl_ee")),
        cand("id") === col("dl_wb") && cand("ee_id") === col("dl_ee"), "left_anti")
  }

  /** F5 + R1-R6 + P4-P6 (main.py:141-342). `rasters` carries
    * pre-decoded band planes keyed by ee_id (S3/S4 stub point: a live
    * system fetches + decodes here inside mapPartitions). */
  def process(cands: DataFrame, rasters: DataFrame): DataFrame = {
    // one round-robin partition per core, so the per-image kernels
    // below run in defaultParallelism tasks instead of the single
    // partition the candidate joins leave (an explicit partition count
    // is not coalesced by AQE)
    val spread = cands.repartition(cands.sparkSession.sparkContext.defaultParallelism)
    // F5 band select (main.py:86-90, 399): TCI_R/G/B are red/green/blue
    val cube = Raster.stackBands(col("TCI_R"), col("TCI_G"), col("TCI_B")) // R1
    // R2 clip (main.py:240-243, nodata=0), R5 thumbnail (main.py:288-308)
    // and R6 tiff re-encodes, from one conversion of the cube
    val products = Raster.productsUdf(
      cube,
      col("footprint_min_lon"), col("footprint_max_lon"),
      col("footprint_min_lat"), col("footprint_max_lat"),
      col("geometry2d"), lit(ThumbnailFactor))
    // P4 filename templating — CORRECTED yyyyMMddHHmmss (the
    // reference's "%Y%M%d%H%m%S" swaps minute/month, main.py:141-148;
    // divergence documented per SURVEY §7.3)
    val ts = date_format(col("captured_ts"), "yyyyMMddHHmmss")
    def artifactName(suffix: String): Column =
      concat(col("ee_id"), lit("/"), col("id").cast("string"), lit("_"), ts, lit(suffix))
    spread.join(rasters, "ee_id") // S3/S4 stub: pre-staged planes
      .select(col("id"), col("captured_ts"), col("ee_id"), col("dataset_name"),
        col("properties"), products.as("k"),
        artifactName(".tif").as("filename"),
        artifactName("_thumbnail.png").as("thumbnail_filename"),
        artifactName("_clipped.tif").as("clipped_filename"))
      // R3+R4 single pass over the clipped cube
      .select(col("*"), PixelOps.imageStats(col("k.clipped")).as("s"))
      // P6 sink-record assembly (main.py:328-342) + P5 to_json (main.py:335)
      .select(
        col("id").as("waterbody_id"),
        col("captured_ts"),
        col("ee_id"),
        col("dataset_name").as("satellite_dataset"),
        to_json(col("properties")).as("properties"),
        col("filename"),
        col("thumbnail_filename"),
        col("clipped_filename"),
        col("s.red_average").as("red_average"),
        col("s.green_average").as("green_average"),
        col("s.blue_average").as("blue_average"),
        col("s.white_fraction").as("white_fraction"),
        col("k.fullTif").as("full_tif"), col("k.clippedTif").as("clipped_tif"),
        col("k.thumbnailPng").as("thumbnail_png"))
  }

  /** Full run: S5 artifacts + S6 idempotent upsert. Reads the sink
    * once, with its known schema, and hands that frame to discovery,
    * the F4 anti-join and the upsert; one artifact pass over the
    * processed rows, then one observed append, skipped when no row was
    * processed. Returns rows actually appended (0 on replay —
    * idempotence). */
  def run(
      waterBodies: DataFrame, geometries: DataFrame, catalog: DataFrame,
      configs: DataFrame, rasters: DataFrame,
      sinkPath: String, artifactDir: String, runDate: String): Long = {
    val spark = waterBodies.sparkSession
    val sink0 =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(sinkPath)))
        spark.read.schema(SinkSchema.schema).parquet(sinkPath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], SinkSchema.schema)
    val disc = discovery(waterBodies, geometries, sink0, runDate)
    val cand = candidates(disc, catalog, configs, sink0, runDate)
    val processed = process(cand, rasters).cache()
    try {
      // S5: 3 artifacts per image (main.py:313-317), executor-side
      val seen = Sink.writeArtifacts(processed.select(
        col("filename"), col("full_tif"),
        col("clipped_filename"), col("clipped_tif"),
        col("thumbnail_filename"), col("thumbnail_png")), artifactDir)
      // S6: upsert on the composite PK (main.py:106-107)
      if (seen == 0) 0L
      else Sink.upsertAppend(
        processed.drop("full_tif", "clipped_tif", "thumbnail_png", "clipped_filename"),
        sink0, sinkPath, Seq("waterbody_id", "captured_ts"))
    } finally processed.unpersist()
  }
}

/** The sink-table schema (reference SQLModel, main.py:103-116). */
object SinkSchema {
  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("waterbody_id", LongType),
    StructField("captured_ts", TimestampType),
    StructField("ee_id", StringType),
    StructField("satellite_dataset", StringType),
    StructField("properties", StringType),
    StructField("filename", StringType),
    StructField("thumbnail_filename", StringType),
    StructField("red_average", DoubleType),
    StructField("green_average", DoubleType),
    StructField("blue_average", DoubleType),
    StructField("white_fraction", DoubleType)))
}
