package graft
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Optimization-round evidence helper: dumps `explain("formatted")`
  * for NAMED queries to `plans/<tag>/<query>_<suffix>.txt` — the
  * before/after plan files the optimization judge checks claims
  * against. Unlike [[Plans]] (sf0.001, local[4], whole suite), this
  * runs at the BENCH data scale and core count so AQE-visible sizes
  * match what the bench executes.
  *
  * Run: `sbt "runMain graft.PlanDump <suffix> <q1,q2,...> [sfDir] [tag]"`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val tag = args.lift(3).getOrElse("r18")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    Files.createDirectories(Paths.get(s"plans/$tag"))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        SparkEntry.planFrames(name))
      val plan = fn(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"plans/$tag/${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote plans/$tag/${name}_$suffix.txt")
      CacheRegistry.releaseAll()
    }
    spark.stop()
  }
}
