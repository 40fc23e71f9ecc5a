package graft

import org.apache.spark.sql.SparkSession

/** The one session shape of the non-contract entry points (RunModel,
  * VerifyOne, ExplainQuery, PlanDump): `local[cores]` with as many
  * shuffle partitions as cores, UI off, UTC, WARN logging. `cores` is
  * SPARK_GRAFT_CPUS, else every available processor. Bench and Verify
  * keep their own builders: their session shapes are part of the
  * measurement contract. */
object Sessions {

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `conf` is set on top of the shared shape. */
  def local(cores: Int = Sessions.cores,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
