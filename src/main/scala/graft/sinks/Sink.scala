package graft.sinks

import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}

/** Sinks (SURVEY §2.1 S5/S6).
  *
  * S6 — idempotent upsert: the reference's `INSERT … ON CONFLICT DO
  * NOTHING` on PK (waterbody_id, captured_ts) (main.py:453-457,
  * 106-107). The key decision is made in the satellite pipeline's
  * metadata phase, before any payload is read: `candidates` anti-joins
  * the sink's in-window keys and `run` drops in-batch duplicates by a
  * stated rule. What reaches this object is rows already known to be
  * new, so the sink side is a plain append of ONE file
  * ([[appendRows]]). Replaying the same batch is a no-op (the SURVEY §5
  * idempotence property, proven in PipelineSpec).
  *
  * S5 — binary artifact sink: the reference writes 3 S3 objects per
  * image from a thread pool (main.py:311-325). Spark-native form: ONE
  * executor-side pass writes every (path, bytes) pair of each row —
  * artifacts never pass through the driver — and returns the columns
  * of each row the caller keeps (the pipeline's sink row); here
  * targeting the local filesystem (tests), an object-store client in
  * production.
  */
object Sink {

  /** Appends `rows` (of `schema`) to the parquet table at `path` as one
    * file; the first append creates the table. Returns the rows
    * appended. The caller has decided every row is new and skips an
    * empty batch, which would commit a zero-row file. */
  def appendRows(rows: Seq[Row], schema: StructType, path: String): Long = {
    val spark = SparkSession.active
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode(SaveMode.Append).parquet(path)
    rows.length
  }

  /** Writes, for each row of `rows`, every (path column, bytes column)
    * pair of `artifacts` under `dir`, executor-side, in one pass, and
    * returns each row's `keep` columns: only those reach the driver. */
  def writeArtifacts(rows: DataFrame, artifacts: Seq[(String, String)], keep: Seq[String],
      dir: String): Array[Row] = {
    val n = keep.length
    rows.select((keep ++ artifacts.flatMap { case (p, b) => Seq(p, b) }).map(col): _*)
      .mapPartitions { it =>
        it.map { r =>
          for (i <- artifacts.indices) {
            val target = Paths.get(dir, r.getString(n + 2 * i))
            Files.createDirectories(target.getParent)
            Files.write(target, r.getAs[Array[Byte]](n + 2 * i + 1))
          }
          Row.fromSeq(r.toSeq.take(n))
        }
      }(Encoders.row(StructType(keep.map(rows.schema(_))))).collect()
  }
}
