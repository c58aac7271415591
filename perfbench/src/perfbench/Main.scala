package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}


import org.apache.spark.sql.SparkSession

/** One workload's set-up, timed phase and output dump. */
trait Workload {
  /** Registers tables and warms the session up; `dir` is fresh. */
  def setup(spark: SparkSession, dir: Path): Unit

  /** Runs whole rounds until `seconds` have passed. */
  def run(spark: SparkSession, seconds: Double): Outcome

  /** Untimed, before the heap is measured: writes the outputs the benchmark
    * itself holds in memory into `out` and drops them, so that the heap
    * figure is the program's. */
  def release(spark: SparkSession, out: Path): Unit = ()

  /** Untimed, after the heap is measured: writes the rest of what the
    * checker reads into `out`. */
  def dump(spark: SparkSession, out: Path): Unit
}

final case class Outcome(ops: Long, failed: Long, timedSec: Double,
    metrics: Map[String, Double])

/** JVM side of the benchmark. `perfbench/run.py` writes the inputs into a
  * run directory, starts this main once per run, and checks what it dumps.
  *
  * Args: `<workload> <runDir> <seconds> <trace 0|1> <launchEpochMs> <cpus>`.
  * Writes `<runDir>/result.json` and the workload's dump under
  * `<runDir>/out`. */
object Main {

  def session(runDir: Path, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.file.transferTo", "false")
      .config("spark.local.dir", runDir.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.stopTimeout", "60s")
      // Spark's status store keeps up to 1000 jobs, stages and SQL
      // executions; a run fills a varying part of that, which shows as
      // heap. A small cap is reached in every run.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "2")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "20")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, runDir: Path): Workload = name match {
    case "query_suite" => new QuerySuite(runDir.resolve("in"))
    case "event_stream" => new EventStream(runDir.resolve("in"))
    case "catalog_cycles" => new CatalogCycles(runDir.resolve("in"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--oracle-sql")) {
      val sql = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      Files.writeString(Paths.get(args(1)), sql.map { case (k, v) =>
        Json.str(k) + ":" + Json.str(v) }.mkString("{", ",\n", "}\n"))
      return
    }
    val Array(name, runDirS, secondsS, traceS, launchS, cpusS) = args
    val runDir = Paths.get(runDirS)
    val cpus = cpusS.toInt
    val w = workload(name, runDir)

    // set-up runs from JVM launch to the first timed operation
    val t0 = launchS.toLong * 1000000L - epochOffsetNs
    val spark = session(runDir, cpus)
    w.setup(spark, Files.createDirectories(runDir.resolve("setup")))
    val setupSec = (System.nanoTime() - t0) / 1e9
    Trace.on = traceS == "1"
    if (Trace.on) spark.sparkContext.addSparkListener(Main.probe(spark))

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // JIT compiler threads burn CPU for as long as compilation lasts, which
    // differs from run to run; their time is taken out
    val jit = ManagementFactory.getCompilationMXBean
    val cpu0 = os.getProcessCpuTime
    val jit0 = jit.getTotalCompilationTime
    val outcome = w.run(spark, secondsS.toDouble)
    val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6 - (jit.getTotalCompilationTime - jit0)
    val out = Files.createDirectories(runDir.resolve("out"))
    w.release(spark, out)
    val heapMb = liveHeapMb()
    w.dump(spark, out)
    if (Trace.on) Trace.write(out.resolve("spans.jsonl"))

    val e2e = Map(
      "setup_s" -> setupSec,
      "ops_per_s" -> outcome.ops / outcome.timedSec,
      "cpu_ms_per_op" -> cpuMs / math.max(outcome.ops, 1L),
      "heap_live_mb" -> heapMb) ++ outcome.metrics
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
        .mkString("{", ",", "}")
    Files.writeString(runDir.resolve("result.json"),
      s"""{"attempted":${outcome.ops},"failed":${outcome.failed},""" +
        s""""metrics":${obj(e2e)},"trace":${obj(Trace.metrics)}}""" + "\n")
    spark.stop()
  }

  /** Used heap after full GCs. Spark's ContextCleaner frees broadcasts and
    * shuffles asynchronously once a GC has found them unreachable, so GC
    * repeats until the figure settles. */
  private def liveHeapMb(): Double = {
    def used() = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = used()
    var n = 0
    while (math.abs(cur - prev) > 0.5 && n < 8) { prev = cur; cur = used(); n += 1 }
    cur
  }

  /** nanoTime minus epoch-ns, so an epoch instant from the launcher converts
    * to this JVM's nanoTime scale. */
  private lazy val epochOffsetNs: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  private var probeInst: JobProbe = _
  def probe(spark: SparkSession): JobProbe = {
    if (probeInst == null) probeInst = new JobProbe(spark)
    probeInst
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def any(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(any).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
