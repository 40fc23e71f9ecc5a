package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for registered queries to files:
  * `sbt "runMain graft.tools.ExplainQuery <outDir> <sfDir> <name>..."`
  * (no names = every registered query). Session shape matches the
  * sweep's (`graft.Sessions`: shuffle.partitions = cores) so the
  * committed plans describe what the driver's bench actually executes.
  * Iterative queries plan their loop frames at run time; for those the
  * dump is the FINAL returned frame's plan (the loop's per-round shape
  * is documented in the operator's scaladoc instead). */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "plans/r06"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.local()
    Files.createDirectories(Paths.get(outDir))
    val all = graft.SparkEntry.queries
    val names = if (args.length > 2) args.drop(2).toSeq else all.keys.toSeq.sorted
    names.foreach { n =>
      val df = all(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$n.txt"), plan)
      println(s"[explain] wrote $outDir/$n.txt")
    }
    spark.stop()
  }
}
