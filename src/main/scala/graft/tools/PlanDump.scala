package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for every (or selected) declared query
  * to one file per query — the committed before/after plan evidence for
  * optimization rounds (plans/rN/<query>_<tag>.txt).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [query ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Tables.session("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$outDir/${name}_$tag.txt"),
          plan.getBytes("UTF-8"))
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[plandump] $name failed: $e")
      }
    }
    spark.stop()
  }
}
