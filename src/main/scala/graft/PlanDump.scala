package graft

import scala.util.control.NonFatal

/**
 * Dump `explain("formatted")` for named entries under the exact Bench
 * session shape — the committed before/after plan evidence for the
 * optimization rounds (`plans/r17/`).
 *
 * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <name1,name2,...>
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).toSeq
    val spark = GraftSession.local()
    java.nio.file.Files.createDirectories(outDir)
    try SparkEntry.prepareFixtures(spark, sfDir)
    catch { case NonFatal(_) => () }
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"PLANDUMP ok $name")
      } catch { case NonFatal(e) =>
        println(s"PLANDUMP FAIL $name: $e")
      }
    }
    spark.stop()
  }
}
