package graft.sinks

import org.apache.spark.sql.{DataFrame, Encoders, Observation, SaveMode}
import org.apache.spark.sql.functions.{col, count, lit}
import java.nio.file.{Files, Paths}

/** Sinks (SURVEY §2.1 S5/S6).
  *
  * S6 — idempotent upsert: the reference's `INSERT … ON CONFLICT DO
  * NOTHING` on PK (waterbody_id, captured_ts) (main.py:453-457,
  * 106-107). Spark-native form: dedup the incoming batch on the key,
  * left-anti join against the keys of the sink frame the run already
  * read, and append in ONE write whose appended-row count comes from an
  * `observe` metric on the written frame. The write reads the dedup
  * shuffle directly, so AQE's partition coalescing sizes the files.
  * Replaying the same batch is a no-op (the SURVEY §5 idempotence
  * property, proven in PipelineSpec and SinkSpec).
  *
  * S5 — binary artifact sink: the reference writes 3 S3 objects per
  * image from a thread pool (main.py:311-325). Spark-native form: ONE
  * executor-side pass writes every (path, bytes) pair of each row —
  * artifacts never pass through the driver — and returns the rows it
  * saw; here targeting the local filesystem (tests), an object-store
  * client in production.
  */
object Sink {

  /** Appends the rows of `df` whose `keys` are neither in `existing` nor
    * in an earlier row of the batch (one row per key is kept) to the
    * parquet table at `path`; returns the number of rows appended.
    * `existing` is the sink as the caller read it, before this write. An
    * empty batch, or one whose every row conflicts, appends no row but
    * still commits one zero-row file, so callers skip empty batches. */
  def upsertAppend(df: DataFrame, existing: DataFrame, path: String, keys: Seq[String]): Long = {
    val appended = Observation("sink_upsert")
    df.dropDuplicates(keys)
      .join(existing.select(keys.map(col): _*), keys, "left_anti")
      .observe(appended, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Append).parquet(path)
    appended.get("rows").asInstanceOf[Long]
  }

  /** Writes every (relativePath, bytes) pair of each row under `dir`,
    * executor-side. The columns of `artifacts` alternate path and bytes.
    * Returns the number of rows written. */
  def writeArtifacts(artifacts: DataFrame, dir: String): Long = {
    val pairs = artifacts.columns.length / 2
    artifacts.mapPartitions { rows =>
      var n = 0L
      rows.foreach { r =>
        for (i <- 0 until pairs) {
          val target = Paths.get(dir, r.getString(2 * i))
          Files.createDirectories(target.getParent)
          Files.write(target, r.getAs[Array[Byte]](2 * i + 1))
        }
        n += 1
      }
      Iterator.single(n)
    }(Encoders.scalaLong).collect().sum
  }
}
