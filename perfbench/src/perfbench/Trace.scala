package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans and per-layer samples, recorded only in a traced run.
  *
  * A span is (name, start, end, parent, op): the benchmark opens one around
  * each call into a layer of the program. Spans stay in memory and are
  * written out when the run ends, with each name's self time (its duration
  * minus the part its child spans cover). Samples are per-operation values
  * of the per-layer metrics; a metric reports the mean of its samples. */
object Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, op: Long)

  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0
  @volatile var op: Long = 0L

  /** Runs `f` inside a span named `name`; returns its result. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, t0, t1, parent, op) }
      }
    }

  /** Like [[span]], and also samples the span's duration in ms as `metric`. */
  def timed[T](metric: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try span(metric)(f) finally sample(metric, (System.nanoTime() - t0) / 1e6)
    }

  def sample(metric: String, v: Double): Unit =
    if (on) synchronized { samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v }

  def metrics: Map[String, Double] = synchronized {
    samples.map { case (k, v) => k -> v.sum / v.size }.toMap
  }

  /** Writes every span, then each name's total and self time, as JSON lines. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    val byParent = spans.groupBy(_.parent)
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"span":"${s.name}","id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n")
    }
    val self = mutable.LinkedHashMap.empty[String, (Double, Double, Int)]
    spans.foreach { s =>
      val dur = (s.endNs - s.startNs) / 1e6
      val children = Intervals.union(byParent.getOrElse(s.id, Nil)
        .map(c => (c.startNs, c.endNs)).toSeq) / 1e6
      val (t, sf, n) = self.getOrElse(s.name, (0.0, 0.0, 0))
      self(s.name) = (t + dur, sf + dur - children, n + 1)
    }
    self.foreach { case (n, (t, sf, c)) =>
      sb.append(f"""{"self":"$n","count":$c,"total_ms":$t%.3f,"self_ms":$sf%.3f}""" + "\n")
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Intervals {
  /** Length covered by the union of closed intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Spark job and task counters for the traced run. [[JobProbe.measure]]
  * wraps one operation and samples its jobs, driver-only time (wall time
  * not covered by any job), task CPU, GC, input, shuffle write and spill. */
class JobProbe(spark: SparkSession) extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private var cpuNs, gcMs, inBytes, shufBytes, spillBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(e.taskMetrics).foreach { m =>
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inBytes += m.inputMetrics.bytesRead
      shufBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  private def drain(): Unit = BenchBridge.drainListeners(spark.sparkContext)

  private def reset(): Unit = synchronized {
    jobs.clear(); cpuNs = 0; gcMs = 0; inBytes = 0; shufBytes = 0; spillBytes = 0
  }

  /** Runs `f` and returns, beside its result, the ms of `f`'s wall time
    * that Spark jobs covered. With `exec` set, also samples the `exec.*`
    * metrics of `f`. */
  def measure[T](exec: Boolean)(f: => T): (T, Double) =
    if (!Trace.on) (f, 0.0)
    else {
      drain(); reset()
      val t0 = System.currentTimeMillis()
      val r = f
      val t1 = System.currentTimeMillis()
      drain()
      synchronized {
        val covered = Intervals.union(jobs.map { case (s, e) =>
          (math.max(s, t0), math.min(e, t1)) }.filter(x => x._2 > x._1).toSeq)
        if (exec) {
          Trace.sample("exec.jobs", jobs.size)
          Trace.sample("exec.driver_only_ms", (t1 - t0 - covered).toDouble)
          Trace.sample("exec.task_cpu_ms", cpuNs / 1e6)
          Trace.sample("exec.gc_ms", gcMs.toDouble)
          Trace.sample("exec.input_mb", inBytes / 1048576.0)
          Trace.sample("exec.shuffle_write_mb", shufBytes / 1048576.0)
          Trace.sample("exec.spill_mb", spillBytes / 1048576.0)
        }
        (r, covered.toDouble)
      }
    }
}
