package graft
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for every declared query → PLANS.md —
  * the plan-shape evidence (broadcasts, TakeOrderedAndProject,
  * exchange counts, pushed filters) in reviewable form.
  * Run: `sbt "runMain graft.Plans [sfDir] [out]"`. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption.getOrElse("PLANS.md")
    val spark = GraftSession.local(4)
    val sb = new StringBuilder
    sb.append("# Physical plans (explain formatted, sf0.001, local[4], AQE on)\n")
    sb.append("\nRegenerate: `sbt \"runMain graft.Plans\"`.\n")
    (SparkEntry.queries.toSeq ++ SparkEntry.planFrames.toSeq)
      .sortBy(_._1).foreach { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
