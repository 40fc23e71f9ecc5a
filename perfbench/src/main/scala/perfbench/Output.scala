package perfbench

import java.nio.file.{Files, Paths}
import scala.io.Source
import org.apache.spark.sql.SparkSession

/** The host a result was measured on: numbers are only comparable
  * between results with the same stamp. */
object Host {
  private def status(key: String): Option[Long] = statusLine("/proc/self/status", key)
  private def statusLine(file: String, key: String): Option[Long] =
    scala.util.Try {
      val src = Source.fromFile(file)
      try src.getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toLong)
      finally src.close()
    }.toOption.flatten

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double = status("VmHWM").getOrElse(0L) / 1024.0

  def stamp(s: SparkSession, o: Main.Opts): Seq[(String, String)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors.toString,
    "cores_used" -> o.cores.toString,
    "mem_total_kb" -> statusLine("/proc/meminfo", "MemTotal").fold("unknown")(_.toString),
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
    "spark" -> s.version,
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
    "revision" -> o.rev,
    "seed" -> o.seed.toString,
    "workload" -> o.workload,
    "seconds" -> o.seconds.toString,
    "trace" -> (if (o.trace) "1" else "0"))
}

/** The result file: host stamp, metrics with units, every operation. */
object Output {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def write(o: Main.Opts, host: Seq[(String, String)],
      metrics: Seq[(String, Double, String)],
      named: Seq[(String, Double, String)], ops: Seq[Op],
      failed: Int): Unit = {
    def ms(xs: Seq[(String, Double, String)]) = xs.map { case (n, v, u) =>
      s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}"
    }.mkString("{", ", ", "}")
    val opsJson = ops.map { op =>
      s"{\"kind\": ${str(op.kind)}, \"name\": ${str(op.name)}, " +
        s"\"wall_s\": ${num(op.wallS)}, \"rows\": ${op.rows}, " +
        s"\"hash\": ${str(op.hash.toString)}, \"ok\": ${op.ok}" +
        op.error.fold("")(e => s", \"error\": ${str(e)}") + "}"
    }.mkString("[\n    ", ",\n    ", "\n  ]")
    val json =
      s"""{
  "host": ${host.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")},
  "correct": ${failed == 0},
  "attempted": ${ops.size},
  "failed": $failed,
  "metrics": ${ms(metrics)},
  "named": ${ms(named)},
  "ops": $opsJson
}
"""
    Files.writeString(Paths.get(o.out), json)
  }
}

/** Expected outputs, one line per output: `name<TAB>rows<TAB>hash`,
  * where hash `-` means the rows are checked but not the hash. */
object Expected {
  def read(path: String): Map[String, (Long, Option[Long])] =
    if (!new java.io.File(path).exists()) Map.empty
    else {
    val src = Source.fromFile(path)
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(n, r, h) = l.split("\t")
      n -> (r.toLong, if (h == "-") None else Some(h.toLong))
    }.toMap
    finally src.close()
    }

  def write(path: String, ops: Seq[Op]): Unit =
    Files.writeString(Paths.get(path), ops.filter(_.error.isEmpty)
      .map(op => s"${op.name}\t${op.rows}\t${op.hash}").distinct
      .mkString("", "\n", "\n"))
}
