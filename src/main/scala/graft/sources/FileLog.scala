package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption}

/** Append-only, file-backed message log: the transport half of the Kafka
  * integration the sandbox cannot run (no broker, no connector jar —
  * SURVEY.md §2.1 S4/S5; /root/reference/services/spark_streaming_processor.py:44-47
  * consumes a live broker). The log models exactly what the engine needs
  * from Kafka: an ordered, replayable sequence of (key, value, timestamp)
  * records addressed by offsets, so [[FileLogProvider]] can expose the same
  * `offset/key/value/timestamp` surface `format("kafka")` would, with real
  * offset ranges, commits and restart-resume.
  *
  * Layout: one segment file per append batch, named
  * `<seq 20 digits>-<recordCount>.seg` (the record count in the name makes
  * cumulative offsets a pure listing computation — no footer reads). Each
  * segment is written to a dot-prefixed temp file and atomically renamed, so
  * readers never observe partial segments. Single writer per directory (the
  * same contract as Spark's own file streaming sink metadata log).
  *
  * Record wire format (little-endian via DataOutput):
  * `[int keyLen|-1][key bytes][int valLen|-1][val bytes][long tsMicros]`.
  */
object FileLog {

  final case class Record(key: Array[Byte], value: Array[Byte], tsMicros: Long)

  // optional trailing tag (streaming epoch commits stamp `-q<qid>-e<epoch>`)
  // — readers parse seq/records and ignore it
  private val SegmentName = """(\d{20})-(\d+)(-[A-Za-z0-9\-]+)?\.seg""".r

  final case class Segment(file: File, seq: Long, records: Long)

  /** Committed segments in offset order. listFiles can return null (dir
    * vanished after the check, transient I/O error) — treated as empty so a
    * polling streaming query reports no progress instead of dying on NPE. */
  def segments(dir: String): Seq[Segment] = {
    val d = new File(dir)
    if (!d.isDirectory) Seq.empty
    else
      Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty).flatMap { f =>
        f.getName match {
          case SegmentName(seq, n, _) => Some(Segment(f, seq.toLong, n.toLong))
          case _ => None
        }
      }.sortBy(_.seq)
  }

  /** Total record count across committed segments (the "latest offset"). */
  def latestOffset(dir: String): Long = segments(dir).map(_.records).sum

  /** Atomically append one segment holding `records`; returns its path.
    * Streams the iterator to the temp file (one record resident at a time —
    * the record count lands in the file name only at rename time, so
    * unboundedly large batches never buffer). No-op (returns None) for an
    * empty batch — zero-record segments would add listing noise without
    * moving any offset. */
  def append(dir: String, records: IterableOnce[Record]): Option[File] = {
    val it = records.iterator
    if (!it.hasNext) return None
    val d = new File(dir)
    if (!d.isDirectory) require(d.mkdirs() || d.isDirectory, s"cannot create $dir")
    val seq = segments(dir).lastOption.map(_.seq + 1).getOrElse(0L)
    val tmp = File.createTempFile(".tmp-seg-", "", d)
    val out = new DataOutputStream(
      new BufferedOutputStream(new FileOutputStream(tmp), 1 << 16))
    var n = 0L
    try {
      it.foreach { r =>
        if (r.key == null) out.writeInt(-1)
        else { out.writeInt(r.key.length); out.write(r.key) }
        if (r.value == null) out.writeInt(-1)
        else { out.writeInt(r.value.length); out.write(r.value) }
        out.writeLong(r.tsMicros)
        n += 1
      }
    } finally out.close()
    val target = new File(d, f"$seq%020d-$n%d.seg")
    Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    Some(target)
  }

  /** Adopt an already-written temp file (a V2 writer task's output, in
    * segment wire format) as the next committed segment: assign the next
    * sequence number, atomic rename. The caller (the driver-side
    * `BatchWrite.commit`) must serialize calls — same single-writer
    * contract as [[append]]. */
  def adopt(dir: String, tmp: File, records: Long): File =
    adoptTagged(dir, tmp, records, tag = "")

  /** [[adopt]] with a name tag: the atomic rename then IS the durable
    * record that this logical write committed — streaming epoch commits
    * stamp `-q<queryId>-e<epochId>` and detect replays by scanning for the
    * tag, with no separate marker write to crash between. */
  def adoptTagged(dir: String, tmp: File, records: Long, tag: String): File = {
    require(records > 0, "empty segments are never committed")
    // an out-of-charset tag would rename successfully but fail SegmentName,
    // silently hiding the segment from every reader — fail fast instead
    require(tag.isEmpty || tag.matches("[A-Za-z0-9-]+"),
      s"segment tag must match [A-Za-z0-9-]+: '$tag'")
    val d = new File(dir)
    if (!d.isDirectory) require(d.mkdirs() || d.isDirectory, s"cannot create $dir")
    val seq = segments(dir).lastOption.map(_.seq + 1).getOrElse(0L)
    val suffix = if (tag.isEmpty) "" else s"-$tag"
    val target = new File(d, f"$seq%020d-$records%d$suffix.seg")
    Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    target
  }

  /** Convenience writer for string payloads (null keys). */
  def appendStrings(dir: String, values: Seq[String], tsMicros: Long = 0L): Option[File] =
    append(dir, values.map(v => Record(null, v.getBytes("UTF-8"), tsMicros)))

  /** Iterate a segment's records from its `from`-th record on (the ones
    * before it are skipped by their length prefixes, not decoded). The
    * caller must exhaust or close. */
  def read(file: File, from: Long = 0L): Iterator[Record] with AutoCloseable =
    new Iterator[Record] with AutoCloseable {
      private val in = new DataInputStream(
        new BufferedInputStream(new FileInputStream(file), 1 << 16))
      private var closed = false
      private var nextRec: Record = _
      private def skip(n: Int): Unit =
        if (in.skipBytes(n) != n) throw new java.io.EOFException(s"$file ends inside a record")
      private def fetch(): Unit =
        if (!closed) {
          val kl = try in.readInt() catch { case _: java.io.EOFException => close(); -2 }
          if (kl != -2) {
            val k = if (kl < 0) null else { val a = new Array[Byte](kl); in.readFully(a); a }
            val vl = in.readInt()
            val v = if (vl < 0) null else { val a = new Array[Byte](vl); in.readFully(a); a }
            nextRec = Record(k, v, in.readLong())
          }
        }
      try {
        var left = from
        while (left > 0) {
          skip(math.max(in.readInt(), 0))
          skip(math.max(in.readInt(), 0) + 8)
          left -= 1
        }
      } catch { case e: Throwable => in.close(); throw e }
      fetch()
      override def hasNext: Boolean = !closed
      override def next(): Record = { val r = nextRec; fetch(); r }
      override def close(): Unit = if (!closed) { closed = true; nextRec = null; in.close() }
    }
}
