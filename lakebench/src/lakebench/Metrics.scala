package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.lakebench.BusDrain
import org.apache.spark.scheduler._

/** Spark cost counters aggregated by job group. The benchmark labels every
  * operation with `setJobGroup("<workload>/<operation>")` on the calling
  * thread; writer-pool threads created inside the call inherit the label. */
final class Counters extends SparkListener {
  final case class Acc(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      runMs: Long = 0, cpuNs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
      gcMs: Long = 0, inputBytes: Long = 0, inputRecords: Long = 0) {
    def +(o: Acc): Acc = Acc(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      runMs + o.runMs, cpuNs + o.cpuNs, shuffleBytes + o.shuffleBytes,
      spillBytes + o.spillBytes, gcMs + o.gcMs, inputBytes + o.inputBytes,
      inputRecords + o.inputRecords)
    def -(o: Acc): Acc = Acc(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      runMs - o.runMs, cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes,
      spillBytes - o.spillBytes, gcMs - o.gcMs, inputBytes - o.inputBytes,
      inputRecords - o.inputRecords)
  }
  private val groups = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def add(g: String, a: Acc): Unit = synchronized {
    groups(g) = groups.getOrElse(g, Acc()) + a
  }
  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    synchronized { j.stageIds.foreach(stageGroup(_) = g) }
    add(g, Acc(jobs = 1))
  }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    add(synchronized(stageGroup.getOrElse(s.stageInfo.stageId, "")), Acc(stages = 1))
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    val g = synchronized(stageGroup.getOrElse(t.stageId, ""))
    if (m == null) add(g, Acc(tasks = 1))
    else add(g, Acc(tasks = 1, runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
      shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled, gcMs = m.jvmGCTime,
      inputBytes = m.inputMetrics.bytesRead, inputRecords = m.inputMetrics.recordsRead))
  }

  /** Sum over every group whose label starts with `prefix`, after the
    * listener bus has delivered every queued event. */
  def total(sc: SparkContext, prefix: String): Acc = {
    BusDrain.drain(sc)
    synchronized(groups.collect { case (g, a) if g.startsWith(prefix) => a }.foldLeft(Acc())(_ + _))
  }
}

/** In-memory span recorder for the traced run. A span is one call from the
  * benchmark into a layer entry point; spans opened inside another span on
  * the same thread are its children, and every span carries the trace id
  * of the operation that opened the outermost one. */
object Spans {
  final case class Span(id: Long, parent: Long, trace: Long, name: String, layer: String,
      startNs: Long, endNs: Long)
  @volatile var enabled = false
  private val done = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val open = new ThreadLocal[List[(Long, Long)]] { // (span id, trace id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val (parent, trace) = stack.headOption.map { case (p, t) => (p, t) }.getOrElse((0L, id))
      open.set((id, trace) :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, trace, name, layer, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Self time per layer in seconds: each span's duration minus the time
    * covered by its direct children. */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs) - childTime.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sb = new java.lang.StringBuilder
    all.foreach { s =>
      sb.append(Main.Mapper.writeValueAsString(Main.Mapper.createObjectNode()
        .put("id", s.id).put("parent", s.parent).put("trace", s.trace).put("name", s.name)
        .put("layer", s.layer).put("start_ns", s.startNs).put("end_ns", s.endNs)))
      sb.append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Stat {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** The highest of p50/p90/p95/p99 that still has at least ten samples
    * above it, as (label, value). */
  def tail(xs: Seq[Double]): (String, Double) = {
    val q = Seq(0.99, 0.95, 0.9).find(q => xs.size * (1 - q) >= 10).getOrElse(0.5)
    (s"p${(q * 100).round}", quantile(xs, q))
  }
}
