package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.core.Cart
import graft.engine.{Checkpoint, Covering, Expand, Headline, Rasterize}

/** The benchmark program: one JVM, one SparkSession at local[cores],
  * one closed-loop client running one workload for a fixed time.
  *
  *  - `headline`: the fused headline job (`Headline.planFrom`) over a
  *    fixed tile range, a fresh plan per execution, back to back.
  *  - `queries`: the registry queries (`SparkEntry.registry`) on one
  *    sf data directory, in seed-permuted order, sweep after sweep.
  *  - `model-run`: the four model stages (classify, Expand, class
  *    GTiff, loss masks) through `Checkpoint.Store` into a fresh store
  *    directory per pass.
  *  - `smoke`: one short pass of each, on the smallest inputs.
  *
  * Every output is consumed in full (see [[Digest]]) and compared with
  * the recorded expected outputs. Writes one JSON result file; the
  * wrapper script prints the contract line from it. Exit code 3 when
  * any operation failed or mismatched. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, expected: String,
      out: String, rev: String, cores: Int, record: Boolean,
      setups: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String, d: String) = m.getOrElse(s"--$k", d)
    Opts(get("workload", ""), get("seed", "1").toLong,
      get("seconds", "10").toDouble, get("trace", "0") == "1",
      get("work", "work"), get("data", "data"), get("expected", "expected"),
      get("out", "result.json"), get("rev", "unknown"),
      get("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      get("record", "0") == "1", get("setups", "3").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Sizes.workloads.contains(o.workload),
      s"unknown workload '${o.workload}' (one of ${Sizes.workloads.mkString(", ")})")
    val code = new Run(o).run()
    sys.exit(code)
  }
}

/** Input sizes, one place. The tile ranges are whole tile rows of the
  * 28 x 63 headline grid, so each is a contiguous latitude band. */
object Sizes {
  val workloads = Seq("headline", "queries", "model-run", "smoke")
  private val tx = Headline.spec.tilesX
  /** headline: slice 1 of the table's 4 slice directories (tiles
    * 441-881, tile rows 7-13), the input of one worker of the engine's
    * own fleet run (`Headline.plan(slice = 1, nSlices = 4)`); a pass
    * takes about 2 s on 4 cores, so a run holds half a dozen. */
  val headlineSlice = 1
  /** model-run: tile row 13 (63 tiles, 256,512 cells), in slice 1. */
  val modelTiles: (Int, Int) = (13 * tx, 14 * tx)
  def headlineTiles: (Int, Int) = {
    val n = Headline.spec.nTiles
    (headlineSlice * n / Headline.Slices, (headlineSlice + 1) * n / Headline.Slices)
  }
  /** smoke: part of one tile row. */
  val smallTiles: (Int, Int) = (12 * tx + 20, 12 * tx + 28)
  val querySf = "sf0.01"
  val smokeSf = "sf0.001"
  val expandIters = 8
  /** Two of ROADMAP's iterative kernels (driver-loop bound: the two
    * with the most jobs) and two of its serial CPU-heavy rows (about
    * one busy core: pair dot products and IVF-PQ). All eighteen rows
    * take about 45 s in a fresh JVM, more than a run can hold. */
  val fixpointQueries = Seq("q30", "q115")
  val serialQueries = Seq("q53", "q89")
  val ladderReps = 2
  /** warm-up executions of the timed plan in the first set-up of
    * `headline` */
  val warmExecs = 3
  /** set-up warm-up of `queries`: the flagship join and an iterative row
    * that is not measured, so that the first timed query does not also
    * pay for warming Spark's shared planning and execution code */
  val warmQueries = Seq("q04", "q56")
  /** The measured query set: the two groups above. */
  def queries: Seq[graft.queries.Q] = byId(fixpointQueries ++ serialQueries)
  /** smoke: one row of each group */
  def smokeQueries: Seq[graft.queries.Q] = byId(Seq("q115", "q53"))
  def byId(ids: Seq[String]): Seq[graft.queries.Q] =
    SparkEntry.registry.filter(q => ids.exists(id => q.name.startsWith(id + "_")))
}

/** One timed operation and its check. */
final case class Op(kind: String, name: String, wallS: Double,
    rows: Long, hash: Long, error: Option[String], ok: Boolean)

final class Run(o: Main.Opts) {
  private val t0Process: Long = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L
  }
  private val trace = new Trace
  private val metrics = ArrayBuffer[(String, Double, String)]()
  private val report = ArrayBuffer[String]()
  private val ops = ArrayBuffer[Op]()

  private def metric(name: String, v: Double, unit: String): Unit = {
    metrics += ((name, v, unit))
    report += f"metric $name%-28s $v%14.6f $unit"
  }

  private lazy val expected: Map[String, (Long, Option[Long])] =
    Expected.read(o.expected)

  private def check(key: String, rows: Long, hash: Long): Boolean =
    if (o.record) true
    else expected.get(key) match {
      case Some((r, h)) => r == rows && h.forall(_ == hash)
      case None => false
    }

  // ---------------------------------------------------------------- setup

  private var spark: SparkSession = _
  private var plans: Plans = _
  private var trees: Map[(Int, Int), Cart.Tree] = _

  private def tileWorkload = o.workload != "queries"

  private def newSession(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    // the tile payloads are ~1.4 MB per row: small reader batches, off
    // heap and 16 MB input splits, as in the headline bench workers
    val s = (if (tileWorkload) b
      .config("spark.sql.parquet.columnarReaderBatchSize", "32")
      .config("spark.sql.columnVector.offheap.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (16 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
      else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One set-up: the session, then for the tile workloads the tile
    * fixture (built on first use in this work directory, loaded after),
    * the trees and the PIP block covering. The first set-up then warms
    * up: executions of the headline plan over the workload's tiles, or
    * for `queries` queries outside the measured set. Returns the phase
    * times (0 for a phase the set-up skips). */
  private def setUp(first: Boolean): Seq[(String, Double)] = {
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    val session = timed {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = newSession()
    }
    if (!tileWorkload) {
      val warm = if (!first) 0.0 else timed {
        Sizes.byId(Sizes.warmQueries).foreach { q =>
          Digest.collect(Digest.frame(q.run(spark, dataDir)))
        }
      }
      return Seq("session" -> session, "fixture" -> 0.0, "trees" -> 0.0,
        "cover" -> 0.0, "warmup" -> warm)
    }
    val fixture = timed {
      plans = new Plans(spark, s"${o.work}/fixture")
      plans.ensureTiles()
    }
    val treesS = timed { trees = plans.loadOrFitTrees()._1 }
    // the lazy Headline.cover is built once per JVM; later set-ups
    // rebuild the same covering so every set-up does the same work
    val cover = timed {
      if (first) Headline.cover
      else Covering.build(Headline.polys, Headline.spec.rows,
        Headline.spec.cols, Headline.CoverB)
    }
    // The first set-up warms the classes the timed plans run: the tile
    // range is a literal of the generated code, so only the same range
    // warms them, and the JIT needs a few executions to settle.
    val warm = if (!first) 0.0 else timed {
      val (lo, hi) = tileRange
      val n = if (o.workload == "headline") Sizes.warmExecs else 1
      (1 to n).foreach { _ =>
        Digest.collect(Digest.frame(
          Headline.planFrom(plans.tiles(lo, hi), trees)))
      }
    }
    Seq("session" -> session, "fixture" -> fixture, "trees" -> treesS,
      "cover" -> cover, "warmup" -> warm)
  }

  private def tileRange: (Int, Int) = o.workload match {
    case "headline" => Sizes.headlineTiles
    case "model-run" => Sizes.modelTiles
    case _ => Sizes.smallTiles
  }

  private def dataDir: String =
    s"${o.data}/${if (o.workload == "smoke") Sizes.smokeSf else Sizes.querySf}"

  // ------------------------------------------------------------ workloads

  private def deadline(start: Long): Boolean =
    (System.nanoTime() - start) / 1e9 >= o.seconds

  private def headlineExec(lo: Int, hi: Int, key: String): Op = {
    val t = System.nanoTime()
    try {
      val df = Headline.planFrom(plans.tiles(lo, hi), trees)
      val r = Digest.collect(Digest.frame(df))
      val wall = (System.nanoTime() - t) / 1e9
      Op("headline", key, wall, r.rows, r.hash, None, check(key, r.rows, r.hash))
    } catch { case e: Exception =>
      Op("headline", key, (System.nanoTime() - t) / 1e9, 0, 0, Some(e.toString), false)
    }
  }

  private var execTiles = 0
  private def headline(lo: Int, hi: Int, minExecs: Int): Unit = {
    val key = if (o.workload == "smoke") "smoke.headline" else "headline"
    execTiles = hi - lo
    val start = System.nanoTime()
    var n = 0
    while (n < minExecs || !deadline(start)) {
      ops += trace.span("op", key)(headlineExec(lo, hi, key))
      n += 1
    }
  }

  private def queryOp(q: graft.queries.Q): Op = {
    val t = System.nanoTime()
    try {
      val df = trace.span("build", q.name)(q.run(spark, dataDir))
      val agg = Digest.frame(df)
      val r = trace.span("exec", q.name)(Digest.collect(agg))
      val wall = (System.nanoTime() - t) / 1e9
      planS += agg.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
      Op("query", q.name, wall, r.rows, r.hash, None, check(q.name, r.rows, r.hash))
    } catch { case e: Exception =>
      Op("query", q.name, (System.nanoTime() - t) / 1e9, 0, 0, Some(e.toString), false)
    }
  }
  private var planS = 0.0

  /** Sweeps over the query set, each in a fresh seed-derived order,
    * until the time is up (at least `minSweeps`). */
  private val sweeps = ArrayBuffer[Double]()
  private def queries(minSweeps: Int): Unit = {
    val rng = new Random(o.seed)
    val qs = if (o.workload == "smoke") Sizes.smokeQueries else Sizes.queries
    val start = System.nanoTime()
    var n = 0
    while (n < minSweeps || !deadline(start)) {
      val order = rng.shuffle(qs)
      val before = ops.size
      order.foreach(q => ops += trace.span("op", q.name)(queryOp(q)))
      sweeps += ops.drop(before).map(_.wallS).sum
      n += 1
    }
  }

  /** The four model stages into a fresh store; returns the stage ops. */
  private def modelPass(lo: Int, hi: Int, pass: Int): Seq[Op] = {
    val dir = s"${o.work}/model/pass-$pass-${java.util.UUID.randomUUID()}"
    val store = new Checkpoint.Store(spark, dir)
    val spec = Headline.spec
    val tiles = plans.tiles(lo, hi)
    val out = ArrayBuffer[Op]()
    def stage(name: String, check: DataFrame => (Long, Long))(f: => DataFrame): DataFrame = {
      val key = s"stage.$name"
      val t = System.nanoTime()
      try {
        val (df, (rows, hash)) = trace.span("op", key) {
          val df = f
          (df, check(df))
        }
        val wall = (System.nanoTime() - t) / 1e9
        val computed = store.log.toMap.get(name).contains("computed")
        out += Op("stage", key, wall, rows, hash,
          if (computed) None else Some(s"stage $name was not computed"),
          computed && this.check(key, rows, hash))
        df
      } catch { case e: Exception =>
        out += Op("stage", key, (System.nanoTime() - t) / 1e9, 0, 0, Some(e.toString), false)
        null
      }
    }
    // the stage's own timed count, as the model run reports it; the
    // class frames also get a digest check
    def counted(df: DataFrame) = (df.count(), 0L)
    def digested(df: DataFrame) = { val r = Digest.collect(Digest.frame(df)); (r.rows, r.hash) }
    try {
      val fpCls = Checkpoint.fingerprint("classified", spec, lo, hi)
      val classified = stage("classified", digested) {
        store.stage("classified", fpCls)(plans.cellClasses(tiles, trees))
      }
      if (classified == null) return out.toSeq
      val fpExp = Checkpoint.fingerprint("expanded", fpCls, Sizes.expandIters)
      val expanded = stage("expanded", digested) {
        store.stage("expanded", fpExp, Seq("classified")) {
          Expand.run(spark, spec, classified, maxIters = Sizes.expandIters,
            requireConvergence = false)
        }
      }
      if (expanded == null) return out.toSeq
      stage("class_gtiff", counted) {
        store.stage("class_gtiff", Checkpoint.fingerprint("class_gtiff", fpExp),
            Seq("expanded")) {
          Rasterize(spec, expanded.filter(col("final_class") >= 0),
            "final_class", fmt = "gtiff")
        }
      }
      val csvDir = s"$dir/csv"
      stage("loss_masks", counted) {
        store.stage("loss_masks", Checkpoint.fingerprint("loss_masks", fpExp),
            Seq("expanded")) {
          val loss = plans.cellLoss(tiles)
            .groupBy("cell_id").agg(avg("loss").as("loss_mean"))
          val joined = loss.join(
            expanded.select("cell_id", "final_class"), Seq("cell_id"))
            .filter(col("final_class") >= 0)
          graft.sinks.Csv.writeClassMasks(joined, csvDir, "final_class",
            "loss_mean", classes = 0 to 5)
          Rasterize.byClass(spec, joined, "loss_mean", "final_class",
            fmt = "gtiff")
        }
      }
      // the six loss-mask CSVs: data rows per file
      (0 to 5).foreach { k =>
        val key = s"csv.LossMask_class$k"
        val rows = Files.list(Paths.get(s"$csvDir/LossMask_class$k.csv"))
          .toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.endsWith(".csv"))
          .map(p => math.max(0L, Files.lines(p).count() - 1)).sum
        out += Op("csv", key, 0.0, rows, 0L, None, check(key, rows, 0L))
      }
      bytesWritten += du(new File(dir))
      out.toSeq
    } finally deleteTree(new File(dir))
  }
  private var bytesWritten = 0L

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum else f.length
  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private val modelPasses = ArrayBuffer[Double]()
  private def modelRun(lo: Int, hi: Int, minPasses: Int): Unit = {
    val start = System.nanoTime()
    var n = 0
    while (n < minPasses || !deadline(start)) {
      val stages = modelPass(lo, hi, n)
      ops ++= stages
      modelPasses += stages.filter(_.kind == "stage").map(_.wallS).sum
      n += 1
    }
  }

  // ---------------------------------------------------------------- run

  def run(): Int = {
    new File(o.work).mkdirs()
    // set-up, repeated; the first starts at process start
    val setups = (1 to math.max(1, o.setups)).map { i =>
      val t = if (i == 1) t0Process else System.nanoTime()
      val phases = setUp(first = i == 1)
      (phases, (System.nanoTime() - t) / 1e9)
    }
    val setupS = Stats.median(setups.map(_._2))
    setups.zipWithIndex.foreach { case ((ph, total), i) =>
      report += f"setup  ${i + 1} $total%.3f s: " +
        ph.map { case (n, v) => f"$n $v%.3f" }.mkString(", ")
    }
    if (o.trace) spark.sparkContext.addSparkListener(trace.listener)

    o.workload match {
      case "headline" =>
        val (lo, hi) = tileRange
        headline(lo, hi, minExecs = 3)
      case "queries" => queries(minSweeps = 1)
      case "model-run" =>
        val (lo, hi) = tileRange
        modelRun(lo, hi, minPasses = 1)
      case "smoke" =>
        val (lo, hi) = tileRange
        headline(lo, hi, minExecs = 1)
        queries(minSweeps = 1)
        modelRun(lo, hi, minPasses = 1)
    }
    if (o.trace) trace.drain(spark.sparkContext)

    val execs = ops.filter(_.kind == "headline").map(_.wallS).toSeq
    val queryWalls = ops.filter(_.kind == "query").map(_.wallS).toSeq
    val opWalls = ops.filter(_.kind != "csv").map(_.wallS).toSeq
    val failed = ops.count(!_.ok)

    // end to end
    metric("setup_s", setupS, "s")
    metric("pass_s", Stats.median(execs ++ sweeps ++ modelPasses), "s")
    metric("peak_rss_mb", Host.peakRssMb, "MB")
    // the same numbers under their workload names
    val named = ArrayBuffer[(String, Double, String)]()
    def name(n: String, v: Double, u: String) = named += ((n, v, u))
    if (execs.nonEmpty) {
      name("tiles_per_s", execTiles * execs.size / execs.sum, "tiles/s")
      name("exec_p50_s", Stats.median(execs), "s")
    }
    if (queryWalls.nonEmpty) {
      name("sweep_s", Stats.median(sweeps), "s")
      name("query_p50_s", Stats.median(queryWalls), "s")
      name("query_p90_s", Stats.quantile(queryWalls, 0.9), "s")
    }
    if (modelPasses.nonEmpty) name("model_s", Stats.median(modelPasses), "s")
    name("fail_frac", failed.toDouble / math.max(1, ops.size), "ratio")
    name("ops", opWalls.size, "count")
    named.foreach { case (n, v, u) => report += f"named  $n%-28s $v%14.6f $u" }

    if (o.trace) layers(setups.map(_._1))

    ops.filterNot(_.ok).foreach { op =>
      report += s"FAILED ${op.kind} ${op.name}: ${op.error.getOrElse(
        expected.get(op.name).fold("no expected output recorded")(e =>
          s"rows=${op.rows} hash=${op.hash}, expected rows=${e._1} hash=${e._2.getOrElse("-")}"))}"
    }
    report.foreach(println)
    Output.write(o, Host.stamp(spark, o), metrics.toSeq, named.toSeq,
      ops.toSeq, failed)
    if (o.record) Expected.write(s"${o.out}.expected.tsv", ops.toSeq)
    spark.stop()
    if (failed == 0) 0 else 3
  }

  /** Per-layer metrics of a traced run. Layers the workload does not
    * exercise read 0. */
  private def layers(setups: Seq[Seq[(String, Double)]]): Unit = {
    // the set-up from process start, phase by phase
    setups.head.foreach { case (p, v) => metric(s"setup.${p}_s", v, "s") }
    val opSpans = trace.ofKind("op")
    val all = trace.exec(opSpans)
    metric("spark.jobs", all.jobs, "count")
    metric("spark.tasks", all.tasks, "count")
    metric("spark.task_cpu_s", all.cpuS, "s")
    metric("spark.parallelism", all.parallelism, "ratio")
    metric("spark.shuffle_write_mb", all.shuffleWriteMb, "MB")
    metric("spark.shuffle_read_mb", all.shuffleReadMb, "MB")
    metric("spark.spill_mb", all.spillMb, "MB")
    metric("spark.task_skew", all.skew, "ratio")

    // queries: build inside Q.run, Catalyst phases, consume
    val qNames = SparkEntry.registry.map(_.name).toSet
    def sumOf(kind: String, names: String => Boolean) =
      trace.ofKind(kind).filter(s => names(s.name)).map(_.seconds).sum
    metric("queries.build_s", sumOf("build", qNames), "s")
    metric("queries.plan_s", planS, "s")
    metric("queries.exec_s", sumOf("exec", qNames), "s")
    def rows(ids: Seq[String]) = {
      val ns = ids.flatMap(id => qNames.find(_.startsWith(id + "_")))
      opSpans.filter(s => ns.contains(s.name))
    }
    val fix = trace.exec(rows(Sizes.fixpointQueries))
    metric("engine.fixpoint_jobs", fix.jobs, "count")
    metric("engine.fixpoint_s", fix.wallS, "s")
    metric("engine.serial_parallelism",
      trace.exec(rows(Sizes.serialQueries)).parallelism, "ratio")

    // model stages
    Seq("classified", "expanded", "class_gtiff", "loss_masks").foreach { st =>
      metric(s"stage.${st}_s",
        opSpans.filter(_.name == s"stage.$st").map(_.seconds).sum, "s")
    }
    metric("stage.expanded_jobs",
      trace.exec(opSpans.filter(_.name == "stage.expanded")).jobs, "count")
    metric("stage.bytes_written_mb", bytesWritten / (1024.0 * 1024.0), "MB")

    // headline ladder: cumulative rungs, interleaved, median of reps
    val ladder = if (o.workload == "headline" || o.workload == "smoke") {
      val (lo, hi) = tileRange
      val rungs = plans.ladder(plans.tiles(lo, hi), trees).map(_._1)
      val reps = if (o.workload == "smoke") 1 else Sizes.ladderReps
      val times = (1 to reps).flatMap { _ =>
        plans.ladder(plans.tiles(lo, hi), trees).map { case (n, df) =>
          val t = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          n -> (System.nanoTime() - t) / 1e9
        }
      }
      rungs.map(n => n -> Stats.median(times.filter(_._1 == n).map(_._2)))
    } else Seq("scan", "explode", "band_read", "h3", "pip_vote", "agg").map(_ -> 0.0)
    ladder.foreach { case (n, v) => metric(s"ladder.${n}_s", v, "s") }
  }
}

object Stats {
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val i = pos.toInt
      if (i + 1 < s.size) s(i) + (pos - i) * (s(i + 1) - s(i)) else s(i)
    }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
}
