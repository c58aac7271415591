package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.FileLog
import graft.streaming.{EventDecode, ManifestAppendSink, Segmentation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** The reference's streaming half: user events (JSON, union shape, with
  * injected re-deliveries) in a graft-log, read as a stream through
  * `EventDecode.decode` → `Segmentation.dedupStream` → `Segmentation.enrich`
  * (static catalog) → `ManifestAppendSink.applyBatch`.
  *
  * Phase 1 drains a pre-written backlog of fixed-size segments, at most
  * `max_records_per_trigger` records per trigger, with triggers back to back
  * (capacity, events/s). Phase 2 restarts the query from its checkpoint with
  * a fixed processing-time trigger and has a single generator thread append
  * fixed-size segments on a fixed schedule (open loop) for `seconds`; an
  * event's latency runs from the instant its segment was due to the end of
  * the sink commit that holds it.
  *
  * Inputs (`in/`): `events.jsonl` in send order (the first `backlog` lines
  * are the backlog), `warm.jsonl`, `catalog.jsonl`, `stream.properties`. */
class EventStream(in: Path) extends Workload {
  private val conf = {
    val p = new java.util.Properties()
    val r = Files.newBufferedReader(in.resolve("stream.properties"))
    try p.load(r) finally r.close()
    p
  }
  private val backlog = conf.getProperty("backlog").toInt
  private val rate = conf.getProperty("rate").toDouble
  private val segment = conf.getProperty("segment").toInt
  private val perTrigger = conf.getProperty("max_records_per_trigger")
  private val trigger = Trigger.ProcessingTime(conf.getProperty("trigger"))
  private val drain = Trigger.ProcessingTime(0L)
  // input lines, dropped once appended so the heap figure holds none of them
  private var events = Files.readAllLines(in.resolve("events.jsonl")).asScala.toIndexedSeq
  private var warm = Files.readAllLines(in.resolve("warm.jsonl")).asScala.toIndexedSeq
  private val idCols = Seq("timestamp", "user_id", "event_name")

  private var catalog: DataFrame = _
  private var dir: Path = _
  private var sent = 0
  private var sinkDir: String = _

  private val catalogSchema = StructType(Seq(
    StructField("ItemID", StringType), StructField("Title", StringType),
    StructField("Genre", StringType), StructField("ListPrice", FloatType)))

  private def append(log: Path, lines: Seq[String], tsMicros: Long): Unit =
    FileLog.append(log.toString, lines.iterator.map(v =>
      FileLog.Record(null, v.getBytes("UTF-8"), tsMicros)))

  /** Appends `lines` as segments of `segment` records each. */
  private def appendSegments(log: Path, lines: Seq[String]): Unit =
    lines.grouped(segment).foreach(append(log, _, 0L))

  /** Streams `log` into the sink at `sink` with `trigger`; every committed
    * batch's end instant goes to `commits`. */
  private def start(spark: SparkSession, log: Path, sink: Path, ckpt: Path,
      commits: ConcurrentHashMap[Long, Long], trigger: Trigger) = {
    val decoded = EventDecode.decode(spark.readStream.format("graft-log")
      .option("maxRecordsPerTrigger", perTrigger).load(log.toString))
    Segmentation.enrich(Segmentation.dedupStream(decoded, idCols), catalog)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        val (_, jobMs) = Main.probe(spark).measure(exec = false) {
          Trace.span("sink.apply")(ManifestAppendSink.applyBatch(df, id, sink.toString))
        }
        val applyMs = (System.nanoTime() - t0) / 1e6
        Trace.sample("sink.apply_ms", applyMs)
        Trace.sample("sink.job_ms", jobMs)
        Trace.sample("sink.metadata_ms", applyMs - jobMs)
        commits.put(id, System.nanoTime())
        ()
      }
      .start()
  }

  def setup(spark: SparkSession, d: Path): Unit = {
    dir = d
    catalog = spark.read.schema(catalogSchema).json(in.resolve("catalog.jsonl").toString).cache()
    catalog.count()
    appendSegments(d.resolve("log"), events.take(backlog))
    // warm-up: the same two phases on a log of its own, three quarters of
    // the warm-up events drained and the rest on the trigger
    val warmCommits = new ConcurrentHashMap[Long, Long]()
    val (first, rest) = warm.splitAt(warm.length * 3 / 4)
    warm = null
    Seq(drain -> first, trigger -> rest).foreach { case (t, lines) =>
      appendSegments(d.resolve("warm-log"), lines)
      val q = start(spark, d.resolve("warm-log"), d.resolve("warm-sink"), d.resolve("warm-ckpt"),
        warmCommits, t)
      q.processAllAvailable()
      q.stop()
    }
    graft.ops.TableManifest.readTable(spark, d.resolve("warm-sink").toString).count()
  }

  def run(spark: SparkSession, seconds: Double): Outcome = {
    val log = dir.resolve("log")
    sinkDir = dir.resolve("sink").toString
    val commits = new ConcurrentHashMap[Long, Long]()
    // batch id → [start, end) record offsets, and per-trigger durations
    val ranges = new ConcurrentHashMap[Long, (Long, Long)]()
    val Offset = """.*"recordCount"\s*:\s*(\d+).*""".r
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val src = p.sources.head
          val from = Option(src.startOffset).collect { case Offset(n) => n.toLong }.getOrElse(0L)
          val Offset(until) = src.endOffset
          ranges.put(p.batchId, (from, until.toLong))
          val d = p.durationMs.asScala
          Seq("latestOffset" -> "stream.latest_offset_ms", "queryPlanning" -> "stream.planning_ms",
            "addBatch" -> "stream.add_batch_ms", "walCommit" -> "stream.wal_commit_ms",
            "commitOffsets" -> "stream.commit_offsets_ms").foreach { case (k, m) =>
            d.get(k).foreach(v => Trace.sample(m, v.doubleValue)) }
          Trace.sample("stream.rows_per_batch", p.numInputRows.toDouble)
          p.stateOperators.headOption.foreach { s =>
            Trace.sample("stream.state_rows", s.numRowsTotal.toDouble)
            Trace.sample("stream.state_mb", s.memoryUsedBytes / 1048576.0)
          }
        }
      }
    }
    spark.streams.addListener(listener)

    // phase 1: drain the backlog, triggers back to back
    val t0 = System.nanoTime()
    val dq = start(spark, log, dir.resolve("sink"), dir.resolve("ckpt"), commits, drain)
    dq.processAllAvailable()
    dq.stop()
    val drainSec = (System.nanoTime() - t0) / 1e9
    sent = backlog

    // phase 2 runs the same query, resumed from its checkpoint, on the trigger
    val q = start(spark, log, dir.resolve("sink"), dir.resolve("ckpt"), commits, trigger)

    // phase 2: open loop, one generator thread, one segment per tick
    val due = mutable.ArrayBuffer.empty[(Long, Long)] // (first offset, due ns)
    val openSec = seconds
    val interval = (segment / rate * 1e9).toLong
    val gen = new Thread(() => {
      val begin = System.nanoTime()
      var k = 0
      while (k * interval < openSec * 1e9 && sent + segment <= events.length) {
        val at = begin + k * interval
        val wait = at - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        Trace.sample("gen.lateness_ms", (System.nanoTime() - at) / 1e6)
        Trace.timed("log.append_ms")(append(log, events.slice(sent, sent + segment),
          System.currentTimeMillis() * 1000L))
        due.synchronized { due += ((sent.toLong, at)) }
        sent += segment
        k += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    events = null
    q.processAllAvailable()
    q.stop()
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    spark.streams.removeListener(listener)
    Trace.sample("log.segments", FileLog.segments(log.toString).size.toDouble)

    // latency of every open-loop record: its batch's commit minus its due time
    val lat = mutable.ArrayBuffer.empty[Double]
    val dueSorted = due.toIndexedSeq
    ranges.asScala.foreach { case (id, (from, until)) =>
      val commit = commits.get(id)
      dueSorted.foreach { case (first, at) =>
        val n = math.min(until, first + segment) - math.max(from, first)
        if (n > 0) (0L until n).foreach(_ => lat += (commit - at) / 1e6)
      }
    }
    val sortedLat = lat.sorted
    def pct(p: Double) = if (sortedLat.isEmpty) Double.NaN
      else sortedLat(math.min(sortedLat.size - 1, (p * sortedLat.size).toInt))
    Trace.sample("event.latency_p90_ms", pct(0.9))
    Outcome(sent, 0L, drainSec, Map(
      "ops_per_s" -> backlog / drainSec,
      "latency_p50_ms" -> pct(0.5)))
  }

  def dump(spark: SparkSession, out: Path): Unit = {
    val sink = graft.ops.TableManifest.readTable(spark, sinkDir)
    sink.coalesce(1).write.parquet(out.resolve("sink").toString)
    Segmentation.funnel(sink, windowLen = "1 hour")
      .select(date_format(col("window.start"), "yyyy-MM-dd'T'HH:mm:ss").as("start"),
        col("views"), col("cart_adds"), col("checkouts"))
      .coalesce(1).write.json(out.resolve("funnel").toString)
    Files.writeString(out.resolve("sent.txt"), sent.toString)
  }
}
