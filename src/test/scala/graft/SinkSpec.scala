package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.SinkSchema
import graft.sinks.Sink
import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

/** The S5/S6 sink contract: `upsertAppend` appends one row per primary
  * key (waterbody_id, captured_ts) that is not already in the sink frame
  * it is handed, in one observed write, and returns exactly the rows it
  * appended; `writeArtifacts` writes every (path, bytes) pair of a row
  * in one pass and returns the rows it saw. The pipeline-level cases
  * (a conflicting row still gets its artifacts, a replay commits
  * nothing) are in PipelineSpec. */
class SinkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  val Keys = Seq("waterbody_id", "captured_ts")

  def row(wb: Long, ts: String, ee: String): Row =
    Row(wb, Timestamp.valueOf(ts), ee, "S2", "{}", s"$ee/$wb.tif", s"$ee/${wb}_thumbnail.png",
      1.0, 2.0, 3.0, 0.5)

  def frame(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), SinkSchema.schema)

  def parquetFiles(path: String): Set[String] =
    Option(new File(path).listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(_.endsWith(".parquet")).toSet

  def read(path: String): DataFrame = spark.read.schema(SinkSchema.schema).parquet(path)

  def sinkWith(rows: Row*): String = {
    val path = Files.createTempDirectory("graft_sink").toString + "/sink"
    frame(rows: _*).coalesce(1).write.parquet(path)
    path
  }

  test("upsertAppend: two rows with one primary key in a batch append exactly one row") {
    val path = sinkWith(row(9L, "2024-06-01 00:00:00", "old"))
    val batch = frame(
      row(1L, "2024-06-20 10:00:00", "imgA"),
      row(1L, "2024-06-20 10:00:00", "imgA2"), // same PK, other image
      row(2L, "2024-06-20 10:00:00", "imgB"))
    val n = Sink.upsertAppend(batch, read(path), path, Keys)
    assert(n == 2)
    val rows = read(path).collect()
    assert(rows.length == 3, "the returned count equals the rows actually appended")
    assert(rows.count(r => r.getAs[Long]("waterbody_id") == 1L) == 1)
  }

  test("upsertAppend: a key already in the sink under another ee_id is not appended; " +
    "the count is the rows appended") {
    val path = sinkWith(row(1L, "2024-06-20 10:00:00", "imgOld"))
    val batch = frame(
      row(1L, "2024-06-20 10:00:00", "imgNew"), // conflicts on the PK
      row(1L, "2024-06-21 10:00:00", "imgC"),
      row(3L, "2024-06-21 10:00:00", "imgD"))
    val before = read(path).count()
    val n = Sink.upsertAppend(batch, read(path), path, Keys)
    val after = read(path)
    assert(n == 2 && after.count() - before == n)
    assert(after.filter("ee_id = 'imgNew'").count() == 0, "ON CONFLICT DO NOTHING")
    assert(after.filter("ee_id = 'imgOld'").count() == 1, "the stored row is kept")
  }

  test("upsertAppend: a batch whose every row conflicts returns 0, appends no row " +
    "and commits one zero-row file") {
    val path = sinkWith(row(1L, "2024-06-20 10:00:00", "imgOld"), row(2L, "2024-06-20 10:00:00", "imgB"))
    val filesBefore = parquetFiles(path)
    val batch = frame(row(1L, "2024-06-20 10:00:00", "imgX"), row(2L, "2024-06-20 10:00:00", "imgY"))
    assert(Sink.upsertAppend(batch, read(path), path, Keys) == 0)
    assert(read(path).count() == 2)
    val added = parquetFiles(path) -- filesBefore
    assert(added.size == 1, s"one committed file, got $added")
    assert(read(s"$path/${added.head}").count() == 0)
  }

  test("upsertAppend: the first write creates the sink; one file for a small batch") {
    val path = Files.createTempDirectory("graft_sink").toString + "/sink"
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], SinkSchema.schema)
    val batch = frame((1 to 8).map(i => row(i.toLong, "2024-06-20 10:00:00", s"img$i")): _*)
      .repartition(4)
    assert(Sink.upsertAppend(batch, empty, path, Keys) == 8)
    assert(read(path).count() == 8)
    assert(parquetFiles(path).size == 1, s"AQE coalesces the dedup shuffle: ${parquetFiles(path)}")
  }

  test("writeArtifacts: every (path, bytes) pair of a row in one pass; returns the rows seen") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_art").toString
    val rows = Seq(
      ("a/1.tif", Array[Byte](1, 2), "a/1_c.tif", Array[Byte](3), "a/1.png", Array[Byte](4, 5, 6)),
      ("b/2.tif", Array[Byte](7), "b/2_c.tif", Array[Byte](8), "b/2.png", Array[Byte](9)))
      .toDF("f", "fb", "c", "cb", "t", "tb").repartition(2)
    assert(Sink.writeArtifacts(rows, dir) == 2)
    for ((p, b) <- Seq("a/1.tif" -> Seq(1, 2), "a/1_c.tif" -> Seq(3), "a/1.png" -> Seq(4, 5, 6),
        "b/2.tif" -> Seq(7), "b/2_c.tif" -> Seq(8), "b/2.png" -> Seq(9)))
      assert(Files.readAllBytes(new File(dir, p).toPath).toSeq == b.map(_.toByte), p)
    assert(Sink.writeArtifacts(rows.limit(0), dir) == 0)
  }
}
