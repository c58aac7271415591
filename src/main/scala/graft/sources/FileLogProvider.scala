package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, Write, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, LongType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector over a [[FileLog]] directory — the engine-side
  * stand-in for `format("kafka")` (SURVEY.md §2.1 S4), exposing the same
  * read surface: fixed schema `offset long, key binary, value binary,
  * timestamp timestamp`, batch and micro-batch reads, monotonically
  * increasing record offsets, and checkpointed restart-resume (offsets are
  * (de)serialized through the standard `Offset` JSON contract, so the
  * streaming engine's WAL drives replay exactly as it would Kafka's).
  *
  * `spark.read.format("graft-log").load(dir)` or
  * `spark.readStream.format("graft-log").load(dir)`; downstream decode
  * ([[graft.streaming.EventDecode]]) is source-agnostic and works unchanged.
  *
  * Scale notes: planning reads only segment names (the record count is in
  * the name). The admitted record range is cut into at most
  * `defaultParallelism` read tasks of near-equal record counts, the way
  * Spark's `FilePartition` packs small files into splits: each task reads
  * a contiguous run of segment slices, so a backlog of many small segments
  * costs a few tasks rather than one task per segment, and one large
  * segment is still read in parallel. `maxRecordsPerTrigger` bounds a
  * micro-batch the way `maxOffsetsPerTrigger` does, at record granularity:
  * a batch may end inside a segment, and the next one starts there.
  */
class FileLogProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-log"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FileLogTable.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null && path.nonEmpty,
      "graft-log requires a path (`.load(dir)` or `.option(\"path\", dir)`)")
    val cap = Option(opts.get("maxRecordsPerTrigger")).map(_.toLong)
    // a cap of 0 would admit nothing, and the stream would never advance
    require(cap.forall(_ > 0), s"maxRecordsPerTrigger must be positive: ${cap.get}")
    new FileLogTable(path, cap, Option(opts.get("startingOffset")))
  }
}

object FileLogTable {
  val Schema: StructType = new StructType()
    .add("offset", LongType, nullable = false)
    .add("key", BinaryType, nullable = true)
    .add("value", BinaryType, nullable = true)
    .add("timestamp", TimestampType, nullable = false)
}

class FileLogTable(
    path: String,
    maxRecordsPerTrigger: Option[Long],
    startingOffset: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"graft-log:$path"
  override def schema(): StructType = FileLogTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new FileLogWrite(path, info.schema(), info.queryId())
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = FileLogTable.Schema
        override def toBatch: Batch = new FileLogBatch(path, startingOffset)
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new FileLogMicroBatchStream(path, maxRecordsPerTrigger, startingOffset)
      }
    }
}

/** `count` records of one segment from its `first`-th record on; `offset`
  * is the global record offset of that first record. */
case class FileLogSlice(file: String, first: Long, count: Long, offset: Long)

/** One read task: slices in offset order, contiguous across slices. */
case class FileLogInputPartition(slices: Seq[FileLogSlice]) extends InputPartition

class FileLogBatch(path: String, startingOffset: Option[String] = None)
    extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    FileLogMicroBatchStream.partitionsFor(path,
      FileLogMicroBatchStream.resolveStart(path, startingOffset), Long.MaxValue)
  override def createReaderFactory(): PartitionReaderFactory =
    new FileLogReaderFactory
}

/** Offset = count of records below it (Kafka's next-offset convention). */
case class FileLogOffset(recordCount: Long) extends Offset {
  override def json(): String = s"""{"recordCount":$recordCount}"""
}

object FileLogMicroBatchStream {
  private val CountRe = """.*"recordCount"\s*:\s*(\d+).*""".r

  def parseOffset(json: String): FileLogOffset = json match {
    case CountRe(n) => FileLogOffset(n.toLong)
    case _ => throw new IllegalArgumentException(s"bad graft-log offset: $json")
  }

  /** Resolve a `startingOffset` option (the `startingOffsets` analogue of
    * `format("kafka")`): "earliest" (default) → 0, "latest" → everything
    * committed at resolution time (a streaming query then reads only what
    * arrives after it starts), or a record offset that must sit on a
    * segment boundary, i.e. where a producer's append began — an offset
    * inside a segment is more likely a mistake than a wish to read half an
    * append, so fail fast and list the valid boundaries instead. */
  def resolveStart(path: String, startingOffset: Option[String]): Long =
    startingOffset.map(_.trim.toLowerCase) match {
      case None | Some("earliest") => 0L
      case Some("latest") => FileLog.latestOffset(path)
      case Some(n) =>
        val want = try n.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"startingOffset must be 'earliest', 'latest', or a record offset: '$n'")
        }
        val boundaries = FileLog.segments(path)
          .scanLeft(0L)(_ + _.records)
        require(boundaries.contains(want),
          s"startingOffset $want is not a segment boundary of $path " +
            s"(valid: ${boundaries.mkString(", ")})")
        want
    }

  /** The records [from, until) as at most `parallelism` read tasks. */
  def partitionsFor(path: String, from: Long, until: Long,
      parallelism: Int = defaultParallelism): Array[InputPartition] = {
    val slices = Seq.newBuilder[FileLogSlice]
    var cum = 0L
    FileLog.segments(path).foreach { s =>
      val lo = math.max(from, cum)
      val hi = math.min(until, cum + s.records)
      if (lo < hi) slices += FileLogSlice(s.file.getAbsolutePath, lo - cum, hi - lo, lo)
      cum += s.records
    }
    pack(slices.result(), parallelism)
  }

  /** Cuts `slices` (in offset order) into runs of at most
    * ceil(total / parallelism) records, splitting a slice where a run
    * fills up: at most `parallelism` partitions, each contiguous. */
  def pack(slices: Seq[FileLogSlice], parallelism: Int): Array[InputPartition] = {
    val per = (slices.map(_.count).sum + parallelism - 1) / parallelism
    val parts = Array.newBuilder[InputPartition]
    var run = Vector.empty[FileLogSlice]
    var room = per
    slices.foreach { whole =>
      var s = whole
      while (s.count > 0) {
        val take = math.min(room, s.count)
        run :+= s.copy(count = take)
        s = FileLogSlice(s.file, s.first + take, s.count - take, s.offset + take)
        room -= take
        if (room == 0) {
          parts += FileLogInputPartition(run)
          run = Vector.empty
          room = per
        }
      }
    }
    if (run.nonEmpty) parts += FileLogInputPartition(run)
    parts.result()
  }

  private def defaultParallelism: Int =
    org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism
}

class FileLogMicroBatchStream(
    path: String,
    maxRecordsPerTrigger: Option[Long],
    startingOffset: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl {

  /** Only consulted on a fresh checkpoint — a restart resumes from the
    * checkpointed offset and never re-resolves "latest". */
  override def initialOffset(): Offset = FileLogOffset(
    FileLogMicroBatchStream.resolveStart(path, startingOffset))

  override def deserializeOffset(json: String): Offset =
    FileLogMicroBatchStream.parseOffset(json)

  /** Plain (no-admission-control) latest: everything committed. */
  override def latestOffset(): Offset = FileLogOffset(FileLog.latestOffset(path))

  /** Admission control (the `maxOffsetsPerTrigger` analogue): at most
    * `cap` records past `start`, ending anywhere, inside a segment too. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    maxRecordsPerTrigger match {
      case None => latestOffset()
      case Some(cap) =>
        val from = FileLogMicroBatchStream.parseOffset(start.json()).recordCount
        FileLogOffset(math.max(from, math.min(from + cap, FileLog.latestOffset(path))))
    }

  override def getDefaultReadLimit: ReadLimit =
    maxRecordsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): Offset = latestOffset()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = FileLogMicroBatchStream.parseOffset(start.json()).recordCount
    val until = FileLogMicroBatchStream.parseOffset(end.json()).recordCount
    FileLogMicroBatchStream.partitionsFor(path, from, until)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FileLogReaderFactory

  /** Commit is a retention hook: the log keeps everything (replayable, like
    * Kafka with retention) — nothing to delete here. */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

class FileLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slices = partition.asInstanceOf[FileLogInputPartition].slices.iterator
    new PartitionReader[InternalRow] {
      private var it: Iterator[FileLog.Record] with AutoCloseable = _
      private var slice: FileLogSlice = _
      private var read = 0L
      private val row = new GenericInternalRow(4)
      override def next(): Boolean = {
        while ((slice == null || read == slice.count) && slices.hasNext) {
          close()
          slice = slices.next()
          it = FileLog.read(new java.io.File(slice.file), slice.first)
          read = 0L
        }
        if (slice == null || read == slice.count) return false
        if (!it.hasNext) throw new IllegalStateException(
          s"${slice.file} ends before its record ${slice.first + read}")
        val r = it.next()
        row.update(0, slice.offset + read)
        row.update(1, r.key)
        row.update(2, r.value)
        row.update(3, r.tsMicros)
        read += 1
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = if (it != null) it.close()
    }
  }
}
