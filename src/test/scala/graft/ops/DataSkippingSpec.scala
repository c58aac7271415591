package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Manifest-level data skipping: [[TableManifest.analyze]] commits per-file
  * footer min/max, [[TableManifest.prunedFiles]] evaluates a range against
  * them, and [[TableManifest.readTableRange]] opens ONLY the candidate
  * files. Stats must survive later commits (carry-forward) and unanalyzed
  * files must never be pruned (conservative).
  */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  /** A tracked table of `ranges.size` single-file commits, each holding
    * [lo, hi] of column `k`. Returns (dir, file name per range). */
  private def rangedTable(ranges: Seq[(Long, Long)]): (String, Seq[String]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-skip").toString
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      graft.streaming.ManifestAppendSink.applyBatch(
        (lo to hi).toDF("k").coalesce(1), i.toLong, dir)
    }
    val files = TableManifest.read(spark, dir).get._2
    assert(files.size == ranges.size)
    (dir, files.sorted)
  }

  test("analyze commits footer min/max; range reads open only matching files") {
    val (dir, _) = rangedTable(Seq((1L, 100L), (101L, 200L), (201L, 300L)))
    // before analyze: no stats, nothing prunable — all files are candidates
    assert(TableManifest.prunedFiles(spark, dir, "k", 150L, 160L).size == 3)

    TableManifest.analyze(spark, dir, Seq("k"))
    val stats = TableManifest.readStats(spark, dir)
    assert(stats.size == 3, s"every file analyzed: $stats")
    assert(stats.values.map(_("k")).toSet ==
      Set((1L, 100L), (101L, 200L), (201L, 300L)))

    // selective range: exactly one candidate file
    val hit = TableManifest.prunedFiles(spark, dir, "k", 150L, 160L)
    assert(hit.size == 1, s"expected 1 candidate file, got $hit")
    assert(stats(hit.head)("k") == ((101L, 200L)))
    // boundary-straddling range: two candidates
    assert(TableManifest.prunedFiles(spark, dir, "k", 90L, 110L).size == 2)
    // out-of-range: zero candidates, schema-preserving empty scan
    assert(TableManifest.prunedFiles(spark, dir, "k", 500L, 600L).isEmpty)
    val empty = TableManifest.readTableRange(spark, dir, "k", 500L, 600L)
    assert(empty.columns.toSeq == Seq("k") && empty.count() == 0)

    // the pruned scan's result equals the unpruned filter, and its plan
    // reads exactly the candidate file
    val got = TableManifest.readTableRange(spark, dir, "k", 150L, 160L)
    assert(got.as[Long].collect().sorted.toSeq == (150L to 160L))
    val opened = got.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.map(_.split('/').last).toSet
    }.get
    assert(opened == Set(hit.head), s"scan must open only $hit, got $opened")
    val full = TableManifest.readTable(spark, dir)
      .filter(col("k").between(150L, 160L)).as[Long].collect().sorted.toSeq
    assert(got.as[Long].collect().sorted.toSeq == full)
  }

  test("stats survive later appends; the new (unanalyzed) file is kept") {
    val (dir, _) = rangedTable(Seq((1L, 100L), (101L, 200L)))
    TableManifest.analyze(spark, dir, Seq("k"))
    // an append commits WITHOUT stats — carry-forward must keep the
    // analyzed files prunable, and the fresh file must stay a candidate
    graft.streaming.ManifestAppendSink.applyBatch(
      Seq(999L).toDF("k").coalesce(1), 5L, dir)
    val stats = TableManifest.readStats(spark, dir)
    assert(stats.size == 2, "analyzed files keep their stats across commits")
    val candidates = TableManifest.prunedFiles(spark, dir, "k", 50L, 60L)
    assert(candidates.size == 2,
      s"analyzed miss pruned, unanalyzed kept: $candidates")
    assert(TableManifest.readTableRange(spark, dir, "k", 50L, 60L)
      .count() == 11)
    // re-analyze picks the new file up
    TableManifest.analyze(spark, dir, Seq("k"))
    assert(TableManifest.prunedFiles(spark, dir, "k", 50L, 60L).size == 1)
    assert(TableManifest.prunedFiles(spark, dir, "k", 990L, 1000L).size == 1)
  }

  test("append with statsCols is born prunable — no analyze pass needed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-born").toString
    graft.streaming.ManifestAppendSink.applyBatch(
      (1L to 100L).toDF("k").coalesce(1), 0L, dir, statsCols = Seq("k"))
    graft.streaming.ManifestAppendSink.applyBatch(
      (101L to 200L).toDF("k").coalesce(1), 1L, dir, statsCols = Seq("k"))
    val stats = TableManifest.readStats(spark, dir)
    assert(stats.size == 2 && stats.values.map(_("k")).toSet ==
      Set((1L, 100L), (101L, 200L)))
    assert(TableManifest.prunedFiles(spark, dir, "k", 150L, 160L).size == 1)
    assert(TableManifest.readTableRange(spark, dir, "k", 150L, 160L)
      .as[Long].collect().sorted.toSeq == (150L to 160L))
    // replayed batch still no-ops with stats in play
    graft.streaming.ManifestAppendSink.applyBatch(
      (101L to 200L).toDF("k").coalesce(1), 1L, dir, statsCols = Seq("k"))
    assert(TableManifest.readTable(spark, dir).count() == 200L)
  }

  test("legacy numeric stats (no statsv marker) are ignored conservatively; " +
    "re-analyze upgrades them in place") {
    val (dir, _) = rangedTable(Seq((1L, 100L), (101L, 200L)))
    TableManifest.analyze(spark, dir, Seq("k"))
    assert(TableManifest.prunedFiles(spark, dir, "k", 150L, 160L).size == 1)
    // forge a pre-statsv manifest: strip the format marker from the head —
    // this is what a manifest written before the unix-micros timestamp
    // normalization looks like, whose bounds may be in raw writer units
    val mdir = java.nio.file.Paths.get(dir, "_manifest")
    val head = java.nio.file.Files.list(mdir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json")).maxBy(_.getFileName.toString)
    val legacy = java.nio.file.Files.readString(head)
      .replace(""""statsv":2,""", "")
    java.nio.file.Files.writeString(head, legacy)
    // stats read as ABSENT: nothing prunes, results stay correct
    assert(TableManifest.readStats(spark, dir).isEmpty,
      "pre-format stats must be invisible, not misinterpreted")
    assert(TableManifest.prunedFiles(spark, dir, "k", 150L, 160L).size == 2)
    assert(TableManifest.readTableRange(spark, dir, "k", 150L, 160L)
      .count() == 11)
    // re-analyze recommits under the current format and pruning returns
    TableManifest.analyze(spark, dir, Seq("k"))
    assert(TableManifest.prunedFiles(spark, dir, "k", 150L, 160L).size == 1)
  }

  test("timestamp stats normalize to unix-micros across writer units; " +
    "day slices open only intersecting files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ts-skip").toString
    val day0 = 1704067200000000L // 2024-01-01T00:00:00Z in unix-micros
    def d(i: Int, s: Long) = day0 + i * 86400000000L + s * 1000000L
    // one single-file commit per day; day 0 written by a MILLIS writer —
    // a mixed-writer table, the case the unit normalization exists for
    // (NANOS footers take the same normalization path but Spark cannot
    // write them; Tables.load covers nanos on the ingest side)
    def commit(i: Int, unit: String): Unit = {
      val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", unit)
      try graft.streaming.ManifestAppendSink.applyBatch(
        Seq(d(i, 1), d(i, 86399)).toDF("us")
          .select(timestamp_micros(col("us")).as("ts"), col("us"))
          .coalesce(1),
        i.toLong, dir)
      finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    }
    commit(0, "TIMESTAMP_MILLIS")
    commit(1, "TIMESTAMP_MICROS")
    commit(2, "TIMESTAMP_MICROS")
    TableManifest.analyze(spark, dir, Seq("ts"))
    val stats = TableManifest.readStats(spark, dir)
    assert(stats.size == 3)
    assert(stats.values.map(_("ts")).toSet ==
      (0 to 2).map(i => (d(i, 1), d(i, 86399))).toSet,
      s"bounds must be unix-micros whatever the writer unit: $stats")
    // day-1 slice: exactly one candidate file, and the scan opens only it
    val hit = TableManifest.prunedFiles(spark, dir, "ts", d(1, 0), d(2, 0) - 1)
    assert(hit.size == 1, s"expected 1 candidate file, got $hit")
    val got = TableManifest.readTableRange(spark, dir, "ts", d(1, 0), d(2, 0) - 1)
    assert(got.select("us").as[Long].collect().sorted.toSeq ==
      Seq(d(1, 1), d(1, 86399)))
    val opened = got.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.map(_.split('/').last).toSet
    }.get
    assert(opened == hit.toSet, s"scan must open only $hit, got $opened")
    // pruned scan ≡ unpruned read + exact unix_micros predicate
    val full = TableManifest.readTable(spark, dir)
      .filter(unix_micros(col("ts")).between(d(1, 0), d(2, 0) - 1))
      .select("us").as[Long].collect().sorted.toSeq
    assert(got.select("us").as[Long].collect().sorted.toSeq == full)
  }

  test("z-ordered layout + 2-D range stats prune multiplicatively") {
    // 32x32 grid z-order-clustered into 16 files: each file covers a tight
    // square in BOTH dimensions, so a small 2-D box should touch only the
    // file(s) whose square it lands in — the multiplicative pruning a
    // single-column sort can only give on its leading column.
    val dir = java.nio.file.Files.createTempDirectory("graft-zskip").toString
    val pts = spark.range(32 * 32)
      .select((col("id") % 32).as("x"), expr("id DIV 32").as("y"))
      .withColumn("z", Layout.mortonKey(col("x"), col("y")))
    pts.repartitionByRange(16, col("z")).sortWithinPartitions("z")
      .select("x", "y")
      .write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir)
    TableManifest.analyze(spark, dir, Seq("x", "y"))

    val hit = TableManifest.prunedFilesAll(spark, dir,
      Seq(("x", 2L, 5L), ("y", 2L, 5L)))
    assert(hit.size <= 4,
      s"a 4x4 box in a z-ordered 32x32 grid must touch few files: ${hit.size}")
    // and the pruned scan is still exact
    val got = TableManifest.readTableRanges(spark, dir,
        Seq(("x", 2L, 5L), ("y", 2L, 5L)))
      .as[(Long, Long)].collect().toSet
    val want = (for (x <- 2L to 5L; y <- 2L to 5L) yield (x, y)).toSet
    assert(got == want)
    // single-dimension pruning still works off the same stats
    assert(TableManifest.prunedFiles(spark, dir, "x", 2L, 5L).size
      >= hit.size)
  }

  test("category stats prune source slices; quoted values keep stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat").toString
    // one file per source batch, via the streaming appender with stats
    Seq(Seq("arxiv", "arxiv", "books"), Seq("cc", "cc"), Seq("wiki"))
      .zipWithIndex.foreach { case (srcs, i) =>
        graft.streaming.ManifestAppendSink.applyBatch(
          srcs.zipWithIndex.map { case (s, j) => (i * 10L + j, s) }
            .toDF("doc_id", "source").coalesce(1),
          i.toLong, dir, statsCols = Seq("source", "doc_id"))
      }
    val sstats = TableManifest.readStringStats(spark, dir)
    assert(sstats.size == 3)
    assert(sstats.values.map(_("source")).toSet ==
      Set(("arxiv", "books"), ("cc", "cc"), ("wiki", "wiki")))
    // long stats flowed through the SAME statsCols list
    assert(TableManifest.readStats(spark, dir).size == 3)

    assert(TableManifest.prunedFilesIn(spark, dir, "source",
      Seq("cc")).size == 1)
    assert(TableManifest.prunedFilesIn(spark, dir, "source",
      Seq("cc", "wiki")).size == 2)
    // "ccc" falls lexicographically inside [cc, cc]? no — but [arxiv,books]
    // doesn't contain it either; only candidate-by-range files survive
    assert(TableManifest.prunedFilesIn(spark, dir, "source",
      Seq("zzz")).isEmpty)
    val got = TableManifest.readTableWhereIn(spark, dir, "source", Seq("cc"))
    assert(got.count() == 2 &&
      got.select("source").distinct().collect().map(_.getString(0)).toSeq
        == Seq("cc"))

    // a value with a quote is a stat like any other: the body escapes it,
    // and the file is pruned from slices its bounds exclude
    graft.streaming.ManifestAppendSink.applyBatch(
      Seq((99L, "we\"ird")).toDF("doc_id", "source").coalesce(1),
      7L, dir, statsCols = Seq("source"))
    val sstats2 = TableManifest.readStringStats(spark, dir)
    assert(sstats2.size == 4, "the quoted value's file carries its source stat")
    assert(sstats2.values.map(_("source")).toSet.contains(("we\"ird", "we\"ird")))
    assert(TableManifest.prunedFilesIn(spark, dir, "source", Seq("cc"))
      .size == 1, "the quoted file is pruned from the cc slice")
    assert(TableManifest.readTableWhereIn(spark, dir, "source", Seq("cc"))
      .count() == 2, "exact predicate still filters the candidate")
  }

  test("analyze fans footer reads out to executors past the threshold") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fan").toString
    spark.range(1000).selectExpr("id AS k")
      .repartitionByRange(100, col("k"))
      .write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir)
    TableManifest.analyze(spark, dir, Seq("k")) // 100 files > 64 → RDD path
    val stats = TableManifest.readStats(spark, dir)
    assert(stats.size == 100)
    assert(stats.values.map(_("k")._1).min == 0L)
    assert(stats.values.map(_("k")._2).max == 999L)
    // a selective range over 100 files opens ~1
    assert(TableManifest.prunedFiles(spark, dir, "k", 500L, 505L).size <= 2)
    assert(TableManifest.readTableRange(spark, dir, "k", 500L, 505L)
      .count() == 6)
  }

  test("optimizeZOrder: fragmented table becomes clustered, stat'd, prunable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-opt").toString
    // 32 hash-scattered fragments: every file spans the whole 2-D space,
    // so NO box predicate can prune anything even after analyze
    spark.range(32 * 32)
      .select((col("id") % 32).as("x"), expr("id DIV 32").as("y"))
      .repartition(32)
      .write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir)
    TableManifest.analyze(spark, dir, Seq("x", "y"))
    val before = TableManifest.prunedFilesAll(spark, dir,
      Seq(("x", 2L, 5L), ("y", 2L, 5L)))
    assert(before.size == 32, "scattered layout: nothing prunable")

    TableManifest.optimizeZOrder(spark, dir, "x", "y", numFiles = 16)
    val files = TableManifest.read(spark, dir).get._2
    assert(files.size == 16)
    val after = TableManifest.prunedFilesAll(spark, dir,
      Seq(("x", 2L, 5L), ("y", 2L, 5L)))
    assert(after.size <= 4,
      s"z-ordered rewrite must localize the box: ${after.size} files")
    // still exact, and the table's contents are unchanged by the rewrite
    val got = TableManifest.readTableRanges(spark, dir,
        Seq(("x", 2L, 5L), ("y", 2L, 5L)))
      .as[(Long, Long)].collect().toSet
    assert(got == (for (x <- 2L to 5L; y <- 2L to 5L) yield (x, y)).toSet)
    assert(TableManifest.readTable(spark, dir).count() == 32 * 32)
    // old fragments are dead, not gone, until vacuum reclaims them
    assert(TableManifest.vacuum(spark, dir).size >= 32)
  }

  test("optimizeZOrderRange rewrites only the intersecting region") {
    val dir = java.nio.file.Files.createTempDirectory("graft-optr").toString
    spark.range(32 * 32)
      .select((col("id") % 32).as("x"), expr("id DIV 32").as("y"))
      .repartition(8)
      .write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir)
    TableManifest.optimizeZOrder(spark, dir, "x", "y", numFiles = 16)
    TableManifest.vacuum(spark, dir)
    val clustered = TableManifest.read(spark, dir).get._2.toSet

    // a fragmented overlay lands INSIDE one 8x8 quadrant, with stats
    graft.streaming.ManifestAppendSink.applyBatch(
      spark.range(16).select((col("id") % 4).as("x"), expr("id DIV 4").as("y"))
        .coalesce(1),
      0L, dir, statsCols = Seq("x", "y"))

    // re-cluster ONLY that quadrant: victims are the overlay plus the
    // clustered files whose rectangle intersects [0,7]x[0,7]
    val before = TableManifest.read(spark, dir).get._2
    val victims = TableManifest.prunedFilesAll(spark, dir,
      Seq(("x", 0L, 7L), ("y", 0L, 7L))).toSet
    assert(victims.size < before.size,
      "bounded optimize must not rewrite the whole table")
    TableManifest.optimizeZOrderRange(spark, dir, "x", "y",
      Seq(("x", 0L, 7L), ("y", 0L, 7L)), numFiles = 2)

    val after = TableManifest.read(spark, dir).get._2
    // untouched clustered files keep their exact names (byte-identical)
    assert((clustered -- victims).subsetOf(after.toSet))
    assert(after.exists(_.startsWith("zopt-")))
    assert(!after.exists(victims))
    // contents preserved: 1024 grid rows + 16 overlay rows
    assert(TableManifest.readTable(spark, dir).count() == 1040L)
    // the new files are born prunable: the quadrant query stays selective
    val hit = TableManifest.prunedFilesAll(spark, dir,
      Seq(("x", 20L, 23L), ("y", 20L, 23L)))
    assert(hit.size <= 4, s"far quadrant untouched and selective: $hit")
    val got = TableManifest.readTableRanges(spark, dir,
        Seq(("x", 2L, 3L), ("y", 2L, 3L)))
      .groupBy("x", "y").count()
      .as[(Long, Long, Long)].collect().toSet
    // overlay duplicated (2,2),(2,3),(3,2),(3,3): those carry count 2
    assert(got == (for (x <- 2L to 3L; y <- 2L to 3L) yield (x, y, 2L)).toSet)
  }

  test("optimizeZOrder racing a streaming append loses no rows, keeps replay") {
    // pre-fix, optimizeZOrder committed via publish (snapshot-replace): an
    // append landing mid-rewrite had its file dropped from the listing
    // while its hwm was carried forward — rows gone AND the checkpoint
    // replay suppressed. The splice path must keep both.
    val dir = java.nio.file.Files.createTempDirectory("graft-optrace").toString
    spark.range(32 * 32)
      .select((col("id") % 32).as("x"), expr("id DIV 32").as("y"))
      .repartition(8)
      .write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir)
    (0L to 3L).foreach { i =>
      val gate = new java.util.concurrent.CountDownLatch(1)
      val optimizer = new Thread(() => {
        gate.await()
        TableManifest.optimizeZOrder(spark, dir, "x", "y", numFiles = 4)
      })
      val appender = new Thread(() => {
        gate.await()
        graft.streaming.ManifestAppendSink.applyBatch(
          Seq((100L + i, 100L + i)).toDF("x", "y").coalesce(1), i, dir,
          statsCols = Seq("x", "y"))
      })
      optimizer.start(); appender.start()
      gate.countDown()
      optimizer.join(); appender.join()
      assert(TableManifest.readTable(spark, dir).count() == 1024L + i + 1L,
        s"append lost during optimize at batch $i")
      assert(graft.streaming.ManifestAppendSink
        .committedBatchHighWater(spark, dir) == i)
      // checkpoint replay still no-ops
      graft.streaming.ManifestAppendSink.applyBatch(
        Seq((100L + i, 100L + i)).toDF("x", "y").coalesce(1), i, dir)
      assert(TableManifest.readTable(spark, dir).count() == 1024L + i + 1L,
        s"replayed batch $i double-appended after optimize race")
    }
  }

  test("quoted caller stats round-trip; bad file names fail loud") {
    val dir = java.nio.file.Files.createTempDirectory("graft-unsafe").toString
    // quotes and braces in caller stats are escaped by the body, so they
    // are kept and round-trip exactly, through a cold read as well
    val sstats = Map(
      "a.parquet" -> Map("src" -> (("we\"ird", "z"))),
      "b.parquet" -> Map("src" -> (("ok", "also{bad}")),
        "lang" -> (("de", "en"))))
    val v = TableManifest.commitIf(spark, dir, Seq("a.parquet", "b.parquet"),
      0L,
      stats = Map("a.parquet" -> Map("k" -> ((1L, 2L)))),
      sstats = sstats)
    assert(v.contains(1L))
    assert(TableManifest.readStats(spark, dir) ==
      Map("a.parquet" -> Map("k" -> ((1L, 2L)))))
    assert(TableManifest.readStringStats(spark, dir) == sstats)
    val cold = java.nio.file.Files.createTempDirectory("graft-unsafe-cold")
    java.nio.file.Files.createDirectories(cold.resolve("_manifest"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "_manifest", f"v${1L}%020d.json"),
      cold.resolve("_manifest").resolve(f"v${1L}%020d.json"))
    assert(TableManifest.readStringStats(spark, cold.toString) == sstats)
    assert(TableManifest.prunedFilesIn(spark, dir, "src", Seq("x"))
      .toSet == Set("a.parquet"),
      "kept stats prune: x is inside [we\"ird, z] only")
    // file names are load-bearing: unsafe ones must fail, not degrade
    intercept[IllegalArgumentException](TableManifest.commitIf(
      spark, dir, Seq("evil\"name.parquet"), 1L))
  }

  test("bloom point-lookup skipping: no false negatives, real pruning") {
    // ids deliberately INTERLEAVED across files (i % 4) so min/max ranges
    // span the whole key space and prune NOTHING — the bloom is the only
    // thing that can skip a file here
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    (0 until 4).foreach { part =>
      graft.streaming.ManifestAppendSink.applyBatch(
        (0L until 2000L).filter(_ % 4 == part).toDF("doc_id").coalesce(1),
        part.toLong, dir, statsCols = Seq("doc_id"))
    }
    TableManifest.analyze(spark, dir, Seq("doc_id"))
    assert(TableManifest.prunedFiles(spark, dir, "doc_id", 500L, 500L)
      .size == 4, "interleaved ids: ranges cannot prune")

    TableManifest.analyzeBloom(spark, dir, "doc_id")
    assert(TableManifest.readBloom(spark, dir).size == 4)

    // ZERO false negatives over every present id — this is the assertion
    // that pins driver/executor murmur hash parity: any divergence wrongly
    // prunes the file that actually holds the id
    (0L until 2000L).foreach { id =>
      val hit = TableManifest.prunedFilesEq(spark, dir, "doc_id", Seq(id))
      assert(hit.nonEmpty, s"id $id bloom-missed its own file")
    }
    // single-id lookup opens ~1 file (false positives allowed, rare)
    val sizes = (0L until 100L).map(id =>
      TableManifest.prunedFilesEq(spark, dir, "doc_id", Seq(id)).size)
    assert(sizes.sum <= 150, s"bloom pruning too weak: ${sizes.sum}/100 lookups")
    // exact result through the pruned read
    val got = TableManifest.readTableWhereEq(spark, dir, "doc_id",
      Seq(7L, 1234L)).as[Long].collect().sorted.toSeq
    assert(got == Seq(7L, 1234L))
    // absent id: every bloom misses it; empty result, schema preserved
    assert(TableManifest.readTableWhereEq(spark, dir, "doc_id", Seq(99999L))
      .count() == 0)
    assert(TableManifest.prunedFilesEq(spark, dir, "doc_id", Seq(99999L))
      .isEmpty, "absent id should miss every bloom (w.h.p.)")

    // blooms survive an unrelated append (carry-forward), new file is a
    // conservative candidate
    graft.streaming.ManifestAppendSink.applyBatch(
      Seq(50000L).toDF("doc_id").coalesce(1), 9L, dir)
    assert(TableManifest.readBloom(spark, dir).size == 4)
    assert(TableManifest.prunedFilesEq(spark, dir, "doc_id", Seq(50000L))
      .size == 1, "only the bloomless new file is a candidate")
  }

  test("optimize preserves a user column named __z") {
    // the clustering key used to be literally "__z": withColumn REPLACED a
    // user column of that name and drop() then deleted it — silent data
    // loss. The key is now salted per call.
    val dir = java.nio.file.Files.createTempDirectory("graft-zcol").toString
    spark.range(64)
      .select((col("id") % 8).as("x"), expr("id DIV 8").as("y"),
        (col("id") * 100).as("__z"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir)
    TableManifest.optimizeZOrder(spark, dir, "x", "y", numFiles = 4)
    val df = TableManifest.readTable(spark, dir)
    assert(df.columns.sorted.toSeq == Seq("__z", "x", "y"))
    assert(df.agg(sum("__z")).as[Long].collect()(0) == (0L until 64L).map(_ * 100).sum)
  }

  test("analyze over a second column set merges per column — never erases the first") {
    val dir = java.nio.file.Files.createTempDirectory("graft-skip-merge").toString
    (0 to 2).foreach { i =>
      graft.streaming.ManifestAppendSink.applyBatch(
        (i * 100L until i * 100L + 100L).toDF("a")
          .withColumn("b", col("a") + lit(1000000L)).coalesce(1),
        i.toLong, dir)
    }
    // a nightly analyze(b) after an analyze(a) — a shallow per-file
    // overlay would replace each file's whole stat map and silently
    // un-prune column a table-wide (correct results, full-scan regression)
    TableManifest.analyze(spark, dir, Seq("a"))
    TableManifest.analyze(spark, dir, Seq("b"))
    val stats = TableManifest.readStats(spark, dir)
    assert(stats.size == 3)
    stats.foreach { case (f, cols) =>
      assert(cols.contains("a") && cols.contains("b"),
        s"$f lost a column after the second analyze: ${cols.keySet}")
    }
    assert(TableManifest.prunedFiles(spark, dir, "a", 0L, 50L).size == 1)
    assert(TableManifest.prunedFiles(spark, dir, "b", 1000200L, 1000250L).size == 1)
    // same per-column rule for blooms: a second key column's analyzeBloom
    // must keep the first column's bitmaps
    TableManifest.analyzeBloom(spark, dir, "a")
    TableManifest.analyzeBloom(spark, dir, "b")
    val bloom = TableManifest.readBloom(spark, dir)
    assert(bloom.size == 3 && bloom.values.forall(m =>
      m.contains("a") && m.contains("b")),
      s"bloom columns after two passes: ${bloom.values.map(_.keySet)}")
    // and the analyzeBloom passes must not have dropped the min/max stats
    assert(TableManifest.readStats(spark, dir).values.forall(m =>
      m.contains("a") && m.contains("b")))
  }

  test("publish drops stale stats; hwm survives analyze") {
    val (dir, _) = rangedTable(Seq((1L, 100L)))
    TableManifest.analyze(spark, dir, Seq("k"))
    assert(TableManifest.readHead(spark, dir).get._3.contains(0L),
      "analyze must carry the append high-water mark forward")
    TableManifest.publish(Seq(1L, 2L).toDF("k"), dir)
    assert(TableManifest.readStats(spark, dir).isEmpty,
      "stats of replaced files must not survive a publish")
    assert(TableManifest.readHead(spark, dir).get._3.contains(0L),
      "publish still carries the hwm")
  }
}
