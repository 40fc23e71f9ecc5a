package graft.tools

import java.nio.file.{Files, Paths}

/** Single-query Verify for fast local iteration: dumps ONE registry
  * query's parquet + a one-entry oracle_sql.json so check_oracle.py
  * validates just it, and prints that oracle SQL (for iterating on it
  * in DuckDB). The SQL is read after the query ran, so a fit-dependent
  * oracle (q52's centroid literals come from the IVF codebook the query
  * caches) is the real one, not TextOps.PreFitSentinel.
  * Usage: runMain graft.tools.VerifyOne <name> [sfDir] [outDir]. */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val all = graft.SparkEntry.queries
    if (args.isEmpty || !all.contains(args(0))) {
      System.err.println("usage: VerifyOne <name> [sfDir] [outDir]; " +
        "names:\n  " + all.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/verify_one"
    val spark = graft.Sessions.local()
    new java.io.File(outDir).mkdirs()
    all(name)(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sql = graft.SparkEntry.oracleSql.get(name)
    val json = sql.map(sq => s"{${q(name)}: ${q(sq)}}").getOrElse("{}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(sql.getOrElse(s"-- $name has no oracle SQL"))
    spark.stop()
  }
}
