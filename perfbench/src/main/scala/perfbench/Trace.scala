package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.GraftSparkBridge
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Named wall-clock spans around calls into one layer, plus a Spark
  * listener that attributes every job and task to the span that was
  * active when it started.
  *
  * Attribution is by time, not by job group: `Checkpoint.Store`
  * overwrites the job group while it writes, and some queries submit
  * jobs from their own thread pools, where local properties are not
  * inherited. The benchmark is one closed-loop client, so spans of one
  * kind never overlap and every job or task that starts inside a span
  * belongs to it. Spans of different kinds may nest (a query's build
  * and exec spans inside its op span). */
final class Trace {
  import Trace._

  private val spans = ArrayBuffer[Span]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskFact]()

  /** Offset from the wall clock (listener event times, epoch millis)
    * to `System.nanoTime` (span bounds). */
  private val epochToNano: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  val listener: SparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      jobs.add(js.time * 1000000L + epochToNano)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) tasks.add(TaskFact(
        te.taskInfo.launchTime * 1000000L + epochToNano, te.stageId,
        te.taskInfo.duration, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  def span[T](kind: String, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally synchronized { spans += Span(kind, name, t0, System.nanoTime()) }
  }

  def ofKind(kind: String): Seq[Span] = synchronized(spans.filter(_.kind == kind).toSeq)

  /** Wait until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = GraftSparkBridge.waitListenerEmpty(sc)

  def exec(in: Seq[Span]): Exec = {
    import scala.jdk.CollectionConverters._
    // event times have millisecond resolution
    def inside(t: Long) = in.exists(s => t >= s.t0 - 1000000L && t <= s.t1)
    val ts = tasks.asScala.filter(t => inside(t.launch)).toSeq
    val mb = 1024.0 * 1024.0
    // worst max/median task time over the stages with several tasks
    val skew = ts.groupBy(_.stage).values.filter(_.size > 1).map { st =>
      val d = st.map(_.durMs).sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }.foldLeft(1.0)(math.max)
    Exec(jobs.asScala.count(inside), ts.size, ts.map(_.cpuNs).sum / 1e9,
      in.map(_.seconds).sum, ts.map(_.shWrite).sum / mb,
      ts.map(_.shRead).sum / mb, ts.map(_.spill).sum / mb, skew)
  }
}

object Trace {
  final case class Span(kind: String, name: String, t0: Long, t1: Long) {
    def seconds: Double = (t1 - t0) / 1e9
  }

  /** Per-task facts the listener keeps; `launch` is in the span clock. */
  private final case class TaskFact(launch: Long, stage: Int, durMs: Long,
      cpuNs: Long, shWrite: Long, shRead: Long, spill: Long)

  /** Spark execution inside a set of spans. */
  final case class Exec(jobs: Int, tasks: Int, cpuS: Double, wallS: Double,
      shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
      skew: Double) {
    def parallelism: Double = if (wallS > 0) cpuS / wallS else 0.0
  }
}
