package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.Sink
import java.io.File
import java.nio.file.Files

/** The S5 sink contract: `writeArtifacts` writes every (path, bytes)
  * pair of a row in one pass and returns each row's kept columns. S6 is
  * decided in the satellite pipeline's metadata phase; its properties
  * (one row per key in a batch, a stored key is not appended, an
  * all-conflict batch commits nothing, the first write creates the sink
  * as one file) are in PipelineSpec. */
class SinkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("writeArtifacts: every (path, bytes) pair of a row in one pass; returns the rows seen") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_art").toString
    val rows = Seq(
      (1L, "a/1.tif", Array[Byte](1, 2), "a/1_c.tif", Array[Byte](3), "a/1.png", Array[Byte](4, 5, 6)),
      (2L, "b/2.tif", Array[Byte](7), "b/2_c.tif", Array[Byte](8), "b/2.png", Array[Byte](9)))
      .toDF("id", "f", "fb", "c", "cb", "t", "tb").repartition(2)
    val pairs = Seq("f" -> "fb", "c" -> "cb", "t" -> "tb")
    val kept = Sink.writeArtifacts(rows, pairs, Seq("id", "f"), dir)
    assert(kept.map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "a/1.tif"), (2L, "b/2.tif")))
    assert(kept.forall(_.length == 2), "only the kept columns reach the driver")
    for ((p, b) <- Seq("a/1.tif" -> Seq(1, 2), "a/1_c.tif" -> Seq(3), "a/1.png" -> Seq(4, 5, 6),
        "b/2.tif" -> Seq(7), "b/2_c.tif" -> Seq(8), "b/2.png" -> Seq(9)))
      assert(Files.readAllBytes(new File(dir, p).toPath).toSeq == b.map(_.toByte), p)
    assert(Sink.writeArtifacts(rows.limit(0), pairs, Seq("id"), dir).isEmpty)
  }
}
