package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.gen.EventGen
import graft.streaming.EventDecode
import org.apache.spark.sql.functions._

class FileLogSourceSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("log append/read round-trip preserves keys, values, timestamps, order") {
    val dir = tmpDir("graftlog-rt")
    FileLog.append(dir, Seq(
      FileLog.Record("k1".getBytes, "v1".getBytes, 1000L),
      FileLog.Record(null, "v2".getBytes, 2000L)))
    FileLog.append(dir, Seq(FileLog.Record("k3".getBytes, null, 3000L)))
    assert(FileLog.latestOffset(dir) == 3L)
    val segs = FileLog.segments(dir)
    assert(segs.map(_.records) == Seq(2L, 1L))
    val all = segs.flatMap(s => FileLog.read(s.file).toSeq)
    assert(all.map(_.tsMicros) == Seq(1000L, 2000L, 3000L))
    assert(new String(all.head.key) == "k1" && all(1).key == null)
    assert(all(2).value == null)
  }

  test("V2 batch write: executor-side task segments, atomic one-segment commit, contiguous offsets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graftlog-v2w")
    def frames(ids: Range) = ids.map(i => (s"k$i", s"payload-$i")).toDF("ks", "vs")
      .select(lit(0L).as("offset"), col("ks").cast("binary").as("key"),
        col("vs").cast("binary").as("value"),
        lit(new java.sql.Timestamp(0L)).as("timestamp"))
    // multi-partition write → task temps concatenated in partition order
    // into ONE segment, adopted by a single atomic rename (per-task adopts
    // would leave earlier partitions committed when a later rename fails)
    frames(0 until 90).repartition(3)
      .write.format("graft-log").mode("append").save(dir)
    assert(FileLog.latestOffset(dir) == 90L)
    assert(FileLog.segments(dir).size == 1)
    val read1 = spark.read.format("graft-log").load(dir)
    assert(read1.count() == 90L)
    // offsets are the contiguous global sequence
    assert(read1.agg(min("offset"), max("offset")).as[(Long, Long)].head() == (0L, 89L))
    val vals = read1.select(col("value").cast("string")).as[String].collect().toSet
    assert(vals == (0 until 90).map(i => s"payload-$i").toSet)
    // a second append continues the offset sequence instead of restarting it
    frames(90 until 100).coalesce(1)
      .write.format("graft-log").mode("append").save(dir)
    assert(FileLog.latestOffset(dir) == 100L)
    val read2 = spark.read.format("graft-log").load(dir)
    assert(read2.agg(max("offset")).as[Long].head() == 99L)
    // no leftover task temp files after commit
    val leftovers = new java.io.File(dir).listFiles.filter(_.getName.startsWith(".tmp"))
    assert(leftovers.isEmpty, s"uncommitted temps: ${leftovers.mkString(",")}")
  }

  test("batch read exposes the kafka-shaped schema with global offsets") {
    val dir = tmpDir("graftlog-batch")
    FileLog.appendStrings(dir, Seq("a", "b"), tsMicros = 5L)
    FileLog.appendStrings(dir, Seq("c"), tsMicros = 6L)
    val df = spark.read.format("graft-log").load(dir)
    assert(df.schema.fieldNames.toSeq == Seq("offset", "key", "value", "timestamp"))
    val rows = df.orderBy("offset")
      .select(col("offset"), col("value").cast("string")).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(rows.map(_.getString(1)).toSeq == Seq("a", "b", "c"))
  }

  test("micro-batch stream decodes events and resumes from the checkpoint across restarts") {
    val dir = tmpDir("graftlog-stream")
    val ckpt = tmpDir("graftlog-ckpt")
    val out = tmpDir("graftlog-out")
    val jsons = EventGen.asJson(EventGen.batch(spark, 60, seed = 21))
      .collect().map(_.getString(0)).toSeq

    FileLog.appendStrings(dir, jsons.take(25))

    def startQuery() = EventDecode.decode(
        spark.readStream.format("graft-log").load(dir))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def written(): Long = spark.read.parquet(out).count()

    val q1 = startQuery()
    try {
      q1.processAllAvailable()
      assert(written() == 25L)
      FileLog.appendStrings(dir, jsons.slice(25, 40))
      q1.processAllAvailable()
      assert(written() == 40L)
    } finally q1.stop()

    // records appended while the query is down are picked up on restart —
    // exactly once, from the committed offset, not from zero
    FileLog.appendStrings(dir, jsons.slice(40, 60))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val users = spark.read.parquet(out).select(col("user_id")).collect()
      assert(users.length == 60, s"expected 60 rows after resume, got ${users.length}")
    } finally q2.stop()
  }

  test("streaming relay: a producer stream publishes each micro-batch as one segment; a consumer stream follows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val dir = tmpDir("graftlog-relay")
    val ckpt = tmpDir("graftlog-relay-ckpt")

    // producer: arbitrary upstream stream → kafka-shaped frames → log
    val producer = mem.toDF()
      .select(col("value").cast("binary").as("key"),
        col("value").cast("binary").as("value"))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        FileLogSink.publish(batch, dir); ()
      }.start()

    try {
      mem.addData("a", "b", "c")
      producer.processAllAvailable()
      mem.addData("d", "e")
      producer.processAllAvailable()

      // two micro-batches → two atomic segments, offsets contiguous
      assert(FileLog.segments(dir).map(_.records) == Seq(3L, 2L))

      // consumer: the downstream stream replays exactly what was produced
      val seen = spark.read.format("graft-log").load(dir)
        .select(col("value").cast("string")).collect().map(_.getString(0)).toSet
      assert(seen == Set("a", "b", "c", "d", "e"))
    } finally producer.stop()
  }

  test("custom flatMapGroupsWithState session state survives a checkpointed restart over graft-log") {
    val dir = tmpDir("graftlog-sess")
    val ckpt = tmpDir("graftlog-sess-ckpt")
    val out = tmpDir("graftlog-sess-out")
    def ev(ts: String, name: String, user: String = "u1") =
      s"""{"timestamp":"$ts","event_name":"$name","user_id":"$user"}"""

    // session opens in run 1...
    FileLog.appendStrings(dir, Seq(
      ev("2024-01-01T10:00:00.000000", "sign_in"),
      ev("2024-01-01T10:05:00.000000", "item_view")))

    def startQuery() = graft.streaming.StatefulSessions.sessionize(
        EventDecode.decode(spark.readStream.format("graft-log").load(dir)),
        watermark = "5 minutes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // ...and is CLOSED by a sign_out that only arrives after the restart —
    // possible only if the per-user state round-tripped the checkpoint
    FileLog.appendStrings(dir, Seq(
      ev("2024-01-01T10:10:00.000000", "item_view"),
      ev("2024-01-01T10:12:00.000000", "sign_out"),
      // a late watermark-driver event so the closed session is emitted
      ev("2024-01-01T12:00:00.000000", "sign_in", user = "u2")))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val sessions = spark.read.parquet(out)
      .filter(col("user_id") === "u1").collect()
    assert(sessions.length == 1, s"expected one closed u1 session, got ${sessions.toSeq}")
    val s = sessions(0)
    assert(s.getAs[String]("closed_by") == "sign_out")
    assert(s.getAs[Long]("n_events") == 4L,
      s"state lost across restart: ${s.toString}") // 2 pre-restart + 2 post
  }

  test("maxRecordsPerTrigger splits a backlog into multiple whole-segment batches") {
    val dir = tmpDir("graftlog-cap")
    val ckpt = tmpDir("graftlog-cap-ckpt")
    (0 until 6).foreach(i => FileLogSourceSpec.this.synchronized {
      FileLog.appendStrings(dir, Seq(s"r${2 * i}", s"r${2 * i + 1}"))
    })
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-log")
      .option("maxRecordsPerTrigger", "4").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes += batch.count(); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(batchSizes.sum == 12L, s"got $batchSizes")
      // 12 records at ≤4/batch (whole 2-record segments) → 3 batches of 4
      assert(batchSizes.forall(_ <= 4L), s"a batch exceeded the cap: $batchSizes")
      assert(batchSizes.length >= 3, s"backlog not split: $batchSizes")
    } finally q.stop()
  }

  test("startingOffset: earliest/latest/boundary for batch, latest for streams") {
    import spark.implicits._
    val dir = tmpDir("log-start")
    FileLog.appendStrings(dir, Seq("a", "b"))   // offsets 0-1
    FileLog.appendStrings(dir, Seq("c"))        // offset 2

    def vals(opts: Map[String, String]): Seq[String] = {
      var r = spark.read.format("graft-log")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(dir).select(col("value").cast("string")).as[String]
        .collect().toSeq.sorted
    }
    assert(vals(Map.empty) === Seq("a", "b", "c"))
    assert(vals(Map("startingOffset" -> "earliest")) === Seq("a", "b", "c"))
    assert(vals(Map("startingOffset" -> "2")) === Seq("c"))
    assert(vals(Map("startingOffset" -> "latest")) === Seq.empty)
    // an intra-segment start would silently skip the segment tail — reject
    val e = intercept[IllegalArgumentException](vals(Map("startingOffset" -> "1")))
    assert(e.getMessage.contains("segment boundary"))

    // a stream started at "latest" sees only post-start appends
    val out = tmpDir("log-start-out")
    val q = spark.readStream.format("graft-log")
      .option("startingOffset", "latest").load(dir)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", tmpDir("log-start-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === 0L)
      FileLog.appendStrings(dir, Seq("d", "e"))
      q.processAllAvailable()
      assert(spark.read.parquet(out)
        .select(col("value").cast("string")).as[String].collect().toSet
        === Set("d", "e"))
    } finally q.stop()
  }

  test("maxRecordsPerTrigger splits one large segment: record-granular batches, exactly once across a restart") {
    val dir = tmpDir("graftlog-bigseg")
    val ckpt = tmpDir("graftlog-bigseg-ckpt")
    val n = 72000
    FileLog.append(dir, (0 until n).iterator.map(i =>
      FileLog.Record(null, s"r$i".getBytes("UTF-8"), i.toLong)))
    assert(FileLog.segments(dir).map(_.records) == Seq(n.toLong))
    // batch id → its records' offsets; a batch replayed after the restart
    // overwrites its own entry, so duplicates across batches are real ones
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Long]]()
    def startQuery() = spark.readStream.format("graft-log")
      .option("maxRecordsPerTrigger", "4000").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = batch.select("offset", "value", "timestamp").collect()
        rows.foreach(r => assert(new String(r.getAs[Array[Byte]](1), "UTF-8") == s"r${r.getLong(0)}"))
        batches.put(id, rows.map(_.getLong(0)).toSeq); ()
      }.start()
    val q1 = startQuery()
    try {
      // stop part-way through the drain; the restart resumes inside the segment
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (batches.size < 3 && System.nanoTime() < deadline) Thread.sleep(20)
    } finally q1.stop()
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    import scala.jdk.CollectionConverters._
    val sizes = batches.asScala.toSeq.sortBy(_._1).map(_._2.size)
    assert(sizes.forall(_ <= 4000), s"a batch exceeded the cap: $sizes")
    assert(sizes.length >= n / 4000, s"backlog not split: $sizes")
    val offsets = batches.asScala.toSeq.sortBy(_._1).flatMap(_._2.sorted)
    assert(offsets == (0L until n.toLong), "every record exactly once, in offset order")
  }

  test("a backlog of small segments is read in at most defaultParallelism partitions, in order") {
    val dir = tmpDir("graftlog-pack")
    (0 until 40).foreach(i => FileLog.appendStrings(dir, (0 until 25).map(j => s"v${25 * i + j}")))
    val parallelism = spark.sparkContext.defaultParallelism
    val batch = spark.read.format("graft-log").load(dir)
    assert(batch.rdd.getNumPartitions <= parallelism)
    val rows = batch.select(col("offset"), col("value").cast("string")).collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until 1000L))
    assert(rows.forall(r => r.getString(1) == s"v${r.getLong(0)}"))

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Long])]
    val q = spark.readStream.format("graft-log").load(dir)
      .writeStream.option("checkpointLocation", tmpDir("graftlog-pack-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen += ((b.rdd.getNumPartitions, b.select("offset").collect().map(_.getLong(0)).toSeq)); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(seen.map(_._1).forall(_ <= parallelism), s"partitions per batch: ${seen.map(_._1)}")
    assert(seen.flatMap(_._2) == (0L until 1000L))
  }

  test("pack cuts slices into contiguous runs, at most one per slot") {
    import FileLogMicroBatchStream.pack
    def runs(parts: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      parts.map(_.asInstanceOf[FileLogInputPartition].slices)
    // one large slice is split evenly, each run starting where the last ended
    val big = runs(pack(Seq(FileLogSlice("a", 100, 1000, 5100)), 4))
    assert(big.map(_.map(s => (s.first, s.count, s.offset))).toSeq == Seq(
      Seq((100L, 250L, 5100L)), Seq((350L, 250L, 5350L)),
      Seq((600L, 250L, 5600L)), Seq((850L, 250L, 5850L))))
    // many small slices are packed, a slice split across a run boundary
    val small = (0 until 10).map(i => FileLogSlice(s"s$i", 0, 3, 3L * i))
    val packed = runs(pack(small, 4))
    assert(packed.length == 4 && packed.map(_.map(_.count).sum).toSeq == Seq(8, 8, 8, 6))
    assert(packed.flatten.flatMap(s => s.offset until s.offset + s.count).toSeq == (0L until 30L))
    assert(pack(Seq.empty, 4).isEmpty)
    assert(runs(pack(small.take(1), 4)).map(_.map(_.count)).toSeq == Seq(Seq(1L), Seq(1L), Seq(1L)))
  }
}
