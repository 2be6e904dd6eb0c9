package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler._

import graft.rawdata.FakeGsFileSystem

/** Spans and counters a traced run records around each call into a
  * layer.
  *
  * One `SparkListener` accumulates job, stage and task totals; a span
  * takes a snapshot of them (plus the fakegs object-store counters)
  * before the call and the difference after it, with the listener bus
  * drained at both ends so the call's own events are all counted. The
  * listener only counts while a span is open, so the interleaved
  * untraced half of a traced run pays nothing but the listener-bus
  * dispatch Spark makes anyway. Spans are kept in memory and written
  * out, one JSON object per line, when the run ends.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  @volatile private var enabled = false
  private val done = mutable.ArrayBuffer.empty[String]
  private val origin = System.nanoTime()

  /** `body` as span `name` of operation `op` (a query execution or a
    * topic step): its seconds and counter deltas
    */
  def span[A](op: String, name: String)(body: => A): (A, Double, Trace.Snap) = {
    ListenerBusDrain.drain(sc)
    enabled = true
    val s0 = snapshot()
    val t0 = System.nanoTime()
    val r = try body finally { ListenerBusDrain.drain(sc); enabled = false }
    val sec = (System.nanoTime() - t0) / 1e9
    val d = snapshot() - s0
    done += f"""{"op":"$op","span":"$name","start_s":${(t0 - origin) / 1e9}%.6f,"dur_s":$sec%.6f,""" +
      s""""jobs":${d.jobs},"stages":${d.stages},"tasks":${d.tasks},"failed_tasks":${d.failedTasks},""" +
      f""""executor_run_s":${d.runS}%.6f,"executor_cpu_s":${d.cpuS}%.6f,"gc_s":${d.gcS}%.6f,"task_wait_s":${d.waitS}%.6f,""" +
      s""""shuffle_read_bytes":${d.shuffleRead},"shuffle_write_bytes":${d.shuffleWrite},"spill_bytes":${d.spill},""" +
      s""""list_rpcs":${d.lists},"list_pages":${d.listPages},"opens":${d.opens},"creates":${d.creates}}"""
    (r, sec, d)
  }

  def writeSpans(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      done.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit

  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val failedTasks = new AtomicLong
  private val runNs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val gcMs = new AtomicLong
  private val waitMs = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) jobs.incrementAndGet(): Unit

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (enabled) stages.incrementAndGet(): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runNs.addAndGet(m.executorRunTime * 1000000L)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      // scheduling and shipping overhead: the task's wall time outside
      // its own deserialize/run/serialize work
      waitMs.addAndGet(math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime))
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def snapshot(): Trace.Snap = Trace.Snap(
    jobs.get, stages.get, tasks.get, failedTasks.get,
    runNs.get / 1e9, cpuNs.get / 1e9, gcMs.get / 1e3, waitMs.get / 1e3,
    shuffleRead.get, shuffleWrite.get, spill.get,
    FakeGsFileSystem.nLists.get, FakeGsFileSystem.nListPages.get,
    FakeGsFileSystem.nOpens.get, FakeGsFileSystem.nCreates.get)
}

object Trace {
  final case class Snap(
      jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
      runS: Double, cpuS: Double, gcS: Double, waitS: Double,
      shuffleRead: Long, shuffleWrite: Long, spill: Long,
      lists: Long, listPages: Long, opens: Long, creates: Long) {
    def -(o: Snap): Snap = Snap(
      jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedTasks - o.failedTasks,
      runS - o.runS, cpuS - o.cpuS, gcS - o.gcS, waitS - o.waitS,
      shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill,
      lists - o.lists, listPages - o.listPages, opens - o.opens, creates - o.creates)
  }
  val Zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Samples per metric name; the run reports each one's mean or median. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit = m.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def get(name: String): Seq[Double] = m.get(name).map(_.toSeq).getOrElse(Nil)
  def names: Seq[String] = m.keys.toSeq
}

object Stats {
  /** linear-interpolated quantile, as numpy's default */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = { require(xs.nonEmpty, "mean of no samples"); xs.sum / xs.size }
}
