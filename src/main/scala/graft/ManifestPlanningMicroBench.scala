package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Measure the claim behind the manifest-carried schema: planning a scan
  * of a tracked table should cost O(1) metadata reads (two small manifest
  * file reads), not O(files) parquet footer opens — the exact cost
  * table-format metadata exists to kill, and the one that grows with
  * table size at 100 TB (a million-file table whose EVERY query pays a
  * million footer reads at analysis is unusable no matter how fast the
  * scan is).
  *
  * For each file count the drill resolves `spark.read.format
  * ("graft-manifest").load(dir).schema` (provider head resolution +
  * schema serve — zero data read) three ways: (a) the carried-schema head
  * a normal commit produces, (b) a hand-written PRE-schema manifest of
  * the same file list (the legacy fallback: merged footer inference), and
  * (c) the carried head again after [[graft.ops.TableManifest
  * .analyzeSchema]] re-bootstraps it — proving the bootstrap restores
  * (a)'s cost. Results go to COVERAGE.md; the fallback's wall should grow
  * with the file count while the carried path stays flat.
  *
  * Measured (round 12, local[32], warm fs): BEFORE the
  * [[graft.sources.ManifestFileIndex]] work the "carried" path still cost
  * 0.60/1.97/7.77s at 128/512/2048 files — the schema was O(1) but the
  * delegated `ParquetTable` ran an O(files) `InMemoryFileIndex` path
  * discovery (a distributed listing job past the parallel-discovery
  * threshold) at every planning. WITH the manifest-fabricated index:
  * carried 0.010/0.007/0.008s — FLAT in file count, ~1000× at 2048 files
  * — footer-inference fallback 0.58/1.18/4.02s (grows, as documented),
  * bootstrapped-after-analyzeSchema back to ~0.006s (ratio ~1 vs
  * carried).
  *
  * Metadata envelope (the fabricated 1M-class phase): 10k files =
  * 0.8 MiB body / 96 ms plan, 100k = 8.1 MiB / 0.65 s, 1M = 81 MiB /
  * 8.4 s repeat-plan (first plan +~2.7 s for the body read + parses,
  * which the write-once-keyed snapshot cache in `TableManifest.readFull`
  * removes for every later planning of the same head; the residual is
  * per-query index fabrication + the scan-builder pass, linear in file
  * count). Pins the 100 TB sizing rule: keep tables ≲200k files via
  * compaction `targetBytes` ≥ 512 MB; past ~1M files the next step is a
  * sectioned/checkpointed manifest (documented boundary, not built). */
object ManifestPlanningMicroBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._

    def timeIt(label: String, reps: Int = 5)(f: => Any): Double = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      val med = times.sorted.apply(reps / 2)
      println(f"$label: median ${med}%.3fs (${times.map(t => f"$t%.3f").mkString(", ")})")
      med
    }

    /** Commit `names` as version 2 of the tracked table at `dir`: a
      * checkpoint that, with `carried`, holds the head's schema and a
      * 4 KiB inventory entry per name, so planning runs without any file
      * existing. Returns the body size in bytes. */
    def fabricate(dir: String, names: Seq[String],
        carried: Boolean = true): Int = {
      val schema =
        if (carried) graft.ops.TableManifest.readSchema(spark, dir) else None
      val fstat =
        if (carried) names.map(_ -> ((4096L, 1700000000000L))).toMap
        else Map.empty[String, (Long, Long)]
      val body = graft.ops.ManifestCodec.encodeCheckpoint(2L, "bench",
        graft.ops.TableManifest.Snap(names.toVector, schema, None, Map.empty,
          Map.empty, Map.empty, fstat, None, None, 2L))
      Files.write(Paths.get(dir, "_manifest", f"v${2L}%020d.json"), body)
      body.length
    }

    for (files <- Seq(128, 512, 2048)) {
      val dir = Files.createTempDirectory(s"gm-plan-$files").toString
      spark.range(files.toLong * 100)
        .select(col("id"), (col("id") % 97).as("k"),
          concat(lit("row-"), col("id")).as("s"))
        .repartition(files)
        .write.mode("overwrite").parquet(dir)
      graft.ops.TableManifest.init(spark, dir)

      println(s"== $files files ==")
      val carried = timeIt(s"carried   f=$files") {
        spark.read.format("graft-manifest").load(dir).schema
      }
      // the library path (readTable) routes through the same fabricated
      // index — plan a selective scan to force full resolution
      timeIt(s"readTable plan f=$files") {
        graft.ops.TableManifest.readTable(spark, dir)
          .filter(col("k") === 3L).queryExecution.executedPlan
      }
      // strip the schema the way a pre-round-12 build rendered manifests:
      // same file list, no schemab64 field → readers fall back to merged
      // footer inference
      fabricate(dir, graft.ops.TableManifest.readHead(spark, dir).get._2,
        carried = false)
      require(graft.ops.TableManifest.readSchema(spark, dir).isEmpty)
      val fallback = timeIt(s"footer-inf f=$files") {
        spark.read.format("graft-manifest").load(dir).schema
      }
      graft.ops.TableManifest.analyzeSchema(spark, dir)
      val restored = timeIt(s"bootstrapped f=$files") {
        spark.read.format("graft-manifest").load(dir).schema
      }
      println(f"ratio fallback/carried: ${fallback / carried}%.1f, " +
        f"restored/carried: ${restored / carried}%.2f")

      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }

    // ---- the METADATA envelope: with planning zero-FS-call, the cost
    // left is the manifest BODY itself — O(files) bytes parsed per head
    // read and re-rendered per commit. Fabricate heads at 10k/100k/1M
    // files (ghost names + a complete filestat inventory + the carried
    // schema, so full physical planning runs without any file existing)
    // and measure end-to-end plan time + body size. This is the number
    // that sizes the compaction target: body bytes ≈ files × ~75 B.
    for (files <- Seq(10000, 100000, 1000000)) {
      val dir = Files.createTempDirectory(s"gm-meta-$files").toString
      spark.range(10).select(col("id"), (col("id") % 7).as("k"),
          concat(lit("r"), col("id")).as("s"))
        .repartition(1).write.mode("overwrite").parquet(dir)
      graft.ops.TableManifest.init(spark, dir)
      val bodyBytes = fabricate(dir,
        (0 until files).map(i => f"sql-00000000-p$i%07d.parquet"))
      val t = timeIt(f"plan 1M-class f=$files (${bodyBytes / 1024}KiB body)") {
        graft.ops.TableManifest.readTable(spark, dir)
          .filter(col("k") === 3L).queryExecution.executedPlan
      }
      println(f"  -> ${t * 1000}%.0f ms for $files files, " +
        f"body ${bodyBytes / 1048576.0}%.1f MiB")

      // ---- COMMIT cost (round 15, the log-structured protocol's claim):
      // appending ONE file to this head must cost O(delta record) — a
      // small write + the cached-chain advance — not the O(files) body
      // re-render + re-parse every commit paid before. The FIRST commit
      // pays one cold O(files) resolution of the hand-fabricated head
      // (reported separately); the next ones ride the resolution anchor.
      // The checkpoint commit that re-anchors the chain (every 8th) pays
      // the full render by design — also reported, it is the amortized
      // O(table/interval) term.
      val tblSchema = graft.ops.TableManifest.readSchema(spark, dir)
      def appendOne(i: Int): Double = {
        val t0 = System.nanoTime()
        graft.ops.TableManifest.appendFiles(spark, dir,
          Seq(f"sql-bench000-a$i%05d.parquet"), tblSchema)
        (System.nanoTime() - t0) / 1e9
      }
      val cold = appendOne(0) // first: cold resolution + delta write
      // drive deltas until the ADAPTIVE cadence writes its checkpoint
      // (every max(8, files/16384) commits, capped at 64), then report
      // the honest amortized per-commit cost over one full cycle
      def headIsCheckpoint(): Boolean = {
        val mdir = new java.io.File(dir, "_manifest")
        val head = mdir.listFiles().filter(_.getName.matches("v\\d+\\.json"))
          .maxBy(_.getName)
        graft.ops.ManifestCodec.topLevelLong(head.getName,
          Files.readAllBytes(head.toPath), "delta").isEmpty
      }
      val deltas = scala.collection.mutable.ArrayBuffer.empty[Double]
      var checkpoint = -1.0
      var i = 1
      while (checkpoint < 0 && i <= 80) {
        val t = appendOne(i)
        if (headIsCheckpoint()) checkpoint = t else deltas += t
        i += 1
      }
      val amortized = (deltas.sum + math.max(0.0, checkpoint)) /
        (deltas.size + 1)
      println(f"  commit f=$files: cold ${cold}%.3fs, delta median " +
        f"${deltas.sorted.apply(deltas.size / 2)}%.3fs over ${deltas.size} " +
        f"deltas, checkpoint ${checkpoint}%.3fs, amortized " +
        f"${amortized}%.3fs/commit")

      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }

    // ---- SNAPSHOT-CACHE BUDGET (round 16): the resolution caches hold
    // `spark.graft.manifest.cacheEntries` (default 4) resolved heads; a
    // driver round-robin planning MORE hot large tables than that
    // thrashes back to full checkpoint re-parses every plan. Fabricate 6
    // tables of 100k ghost files each and round-robin plan them twice:
    // at the default the second sweep re-parses every body (6 > 4); with
    // the conf raised to 8 it serves every head from cache.
    locally {
      val dirs = (0 until 6).map { t =>
        val dir = Files.createTempDirectory(s"gm-cache-$t").toString
        spark.range(10).select(col("id"), (col("id") % 7).as("k"))
          .repartition(1).write.mode("overwrite").parquet(dir)
        graft.ops.TableManifest.init(spark, dir)
        fabricate(dir, (0 until 100000).map(i => f"sql-0000000$t-p$i%07d.parquet"))
        dir
      }
      def sweep(): Double = {
        val t0 = System.nanoTime()
        (1 to 2).foreach(_ => dirs.foreach(d =>
          graft.ops.TableManifest.readHead(spark, d)))
        (System.nanoTime() - t0) / 1e9
      }
      sweep() // cold resolutions either way
      val thrash = (1 to 3).map(_ => sweep()).min
      spark.conf.set("spark.graft.manifest.cacheEntries", "8")
      sweep() // re-resolve into the larger cache
      val cached = (1 to 3).map(_ => sweep()).min
      spark.conf.unset("spark.graft.manifest.cacheEntries")
      println(f"cache budget: 6x100k round-robin x2, default(4) " +
        f"${thrash}%.3fs vs cacheEntries=8 ${cached}%.3fs " +
        f"(ratio ${thrash / math.max(cached, 1e-9)}%.1f)")
      dirs.foreach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(d))
      }
    }

    // ---- HEAD-READ cost vs ACCUMULATED VERSION COUNT (round 16): a
    // 1 Hz streaming table retains 86k manifest files per un-vacuumed
    // day, and pre-hint every head read paid one listStatus over ALL of
    // them. With the advisory `_manifest/_head` hint the read is ~3 flat
    // metadata RPCs (hint + head probe + first-miss probe). Fabricate
    // version histories at 1k/10k retained versions (small checkpoint
    // bodies — the LISTING is what's being measured) and time the head
    // read with the hint present vs removed (the full-listing fallback).
    // The hint path should be FLAT in version count; the fallback grows.
    for (versions <- Seq(1000, 10000)) {
      val dir = Files.createTempDirectory(s"gm-head-$versions").toString
      spark.range(10).select(col("id"), (col("id") % 7).as("k"))
        .repartition(1).write.mode("overwrite").parquet(dir)
      graft.ops.TableManifest.init(spark, dir)
      val mdir = Paths.get(dir, "_manifest")
      val v1 = graft.ops.ManifestCodec.decode(1L, Files.readAllBytes(
        mdir.toFile.listFiles().filter(_.getName.endsWith(".json"))
          .head.toPath)).toOption.get
      // each fabricated version re-lists v1's snapshot under its own
      // version number — valid standalone checkpoints, so resolution
      // never replays; only the freshness check's cost varies
      (2 to versions).foreach { v =>
        Files.write(mdir.resolve(f"v$v%020d.json"),
          graft.ops.ManifestCodec.encodeCheckpoint(v, "bench", v1))
      }
      // the hint is normally written through the (checksummed) Hadoop
      // fs; fabricating it with raw nio must drop the stale CRC or the
      // hint read hits a ChecksumException and silently falls back
      Files.deleteIfExists(mdir.resolve("._head.crc"))
      Files.write(mdir.resolve("_head"), s"""{"v":$versions}""".getBytes("UTF-8"))
      val hinted = timeIt(f"head-read hinted   n=$versions", reps = 9) {
        graft.ops.TableManifest.readHead(spark, dir)
      }
      Files.delete(mdir.resolve("_head"))
      val listed = timeIt(f"head-read listing  n=$versions", reps = 9) {
        graft.ops.TableManifest.readHead(spark, dir)
      }
      println(f"  -> n=$versions: hinted ${hinted * 1000}%.2f ms, " +
        f"listing-fallback ${listed * 1000}%.2f ms " +
        f"(ratio ${listed / math.max(hinted, 1e-9)}%.1f)")

      // ---- NON-head resolution vs retained version count (round 17):
      // `VERSION AS OF` / history re-anchors used to pay one full
      // `_manifest/` listing per resolution — O(#retained versions)
      // RPCs, the exact cost class the `_head` hint removed for head
      // reads. snapAt now resolves from the version's own manifest file
      // (one getFileStatus — which doubles as the retention-floor
      // check) plus its bounded delta chain. Read 9 DISTINCT
      // mid-history versions (each a standalone checkpoint here) so the
      // history cache can't serve repeats; the wall should be FLAT in
      // the retained count.
      val mids = (0 until 9).map(i => (versions / 2 + i).toLong)
      val t0s = mids.map { v =>
        val t0 = System.nanoTime()
        require(graft.ops.TableManifest.readAt(spark, dir, v).nonEmpty)
        (System.nanoTime() - t0) / 1e9
      }
      val med = t0s.sorted.apply(t0s.size / 2)
      println(f"  -> versionAsOf n=$versions: median ${med * 1000}%.2f ms " +
        f"over 9 distinct mid-history versions " +
        f"(${t0s.map(t => f"${t * 1000}%.1f").mkString(", ")})")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }

    // ---- RENAME carrier-set encoding at 1M files (round 17): carrier
    // sets render as `carrbm` bitmaps over the checkpoint's sorted file
    // list (O(files/8) bytes per entry) instead of restating O(files)
    // names per entry, so k chained renames must leave checkpoint
    // render/size within noise of the un-renamed table's. Fabricate a
    // 1M-ghost-file head, force every commit to checkpoint
    // (checkpointInterval=1), and compare: one append-commit BEFORE any
    // rename vs one AFTER three chained renames (3 entries, each
    // carrying the full 1M-file set — the worst case).
    locally {
      val files = 1000000
      val dir = Files.createTempDirectory(s"gm-carrbm-$files").toString
      spark.range(10).select(col("id"), (col("id") % 7).as("k"),
          concat(lit("r"), col("id")).as("s"))
        .repartition(1).write.mode("overwrite").parquet(dir)
      graft.ops.TableManifest.init(spark, dir)
      fabricate(dir, (0 until files).map(i => f"sql-00000000-p$i%07d.parquet"))
      spark.conf.set("spark.graft.manifest.checkpointInterval", "1")
      // the declared schema is re-read per commit: after the renames the
      // appended batch must declare the CURRENT logical names (declaring
      // the old ones trips the carried-physical-name guard, correctly)
      def checkpointCommit(i: Int): Double = {
        val tblSchema = graft.ops.TableManifest.readSchema(spark, dir)
        val t0 = System.nanoTime()
        graft.ops.TableManifest.appendFiles(spark, dir,
          Seq(f"sql-bench000-a$i%05d.parquet"), tblSchema)
        (System.nanoTime() - t0) / 1e9
      }
      checkpointCommit(0) // cold resolution of the fabricated head
      val plain = (1 to 3).map(checkpointCommit(_)).sorted.apply(1)
      graft.ops.TableManifest.renameColumn(spark, dir, "s", "s1")
      graft.ops.TableManifest.renameColumn(spark, dir, "s1", "s2")
      graft.ops.TableManifest.renameColumn(spark, dir, "s2", "s3")
      require(graft.ops.TableManifest.readRenames(spark, dir).size == 3)
      val renamed = (4 to 6).map(checkpointCommit(_)).sorted.apply(1)
      val headBytes = new java.io.File(dir, "_manifest").listFiles()
        .filter(_.getName.matches("v\\d+\\.json")).map(_.length).max
      println(f"carrbm: 1M-file checkpoint commit, un-renamed " +
        f"${plain}%.3fs vs 3-chained-renames ${renamed}%.3fs " +
        f"(ratio ${renamed / math.max(plain, 1e-9)}%.2f), " +
        f"largest body ${headBytes / 1048576.0}%.1f MiB")
      spark.conf.unset("spark.graft.manifest.checkpointInterval")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }

    // ---- DELETION-VECTOR write asymmetry (round 17): a ONE-ROW delete
    // in a large file. Copy-on-write pays O(rows in file) compute AND
    // O(file) write (the whole gigabyte-class rewrite); merge-on-read
    // pays the same victim SCAN (that's how the match is found — honest
    // and unavoidable) but writes only the sidecar + a delta record.
    // Measured on one ~NN MB single-file table per mode, reporting wall
    // and BYTES WRITTEN — the number that turns a 100 TB maintenance
    // pass from a rewrite storm into metadata traffic.
    locally {
      def build(tag: String): String = {
        val dir = Files.createTempDirectory(s"gm-dvdrill-$tag").toString
        spark.range(2000000L)
          .select(col("id").as("k"), (col("id") * 7 % 1000).as("v"),
            concat(lit("payload-"), col("id") % 9973).as("s"))
          .coalesce(1).write.mode("overwrite").parquet(dir)
        graft.ops.TableManifest.init(spark, dir)
        graft.ops.TableManifest.analyze(spark, dir, Seq("k"))
        dir
      }
      def dataBytes(dir: String): Long =
        graft.ops.TableManifest.read(spark, dir).get._2
          .map(f => new java.io.File(dir, f).length).sum
      def dvBytes(dir: String): Long = {
        val d = new java.io.File(dir, "_dv")
        if (!d.exists) 0L
        else d.listFiles.filter(_.getName.endsWith(".bin")).map(_.length).sum
      }
      // copy-on-write: the one-row delete rewrites the file. One
      // UNTIMED warm-up delete per mode first — both paths' codegen
      // pipelines and the parquet reader warm identically, so the timed
      // pair compares plans, not JIT order.
      val cowDir = build("cow")
      val fileBytes = dataBytes(cowDir)
      graft.ops.TableManifest.eraseWhereEq(spark, cowDir, "k", Seq(111L))
      val t0 = System.nanoTime()
      graft.ops.TableManifest.eraseWhereEq(spark, cowDir, "k", Seq(777777L))
      val cowWall = (System.nanoTime() - t0) / 1e9
      val cowWritten = dataBytes(cowDir) // the fresh rewrite's bytes
      // merge-on-read: same delete, sidecar write only
      val dvDir = build("dv")
      spark.conf.set("spark.graft.dml.deletionVectors", "true")
      graft.ops.TableManifest.eraseWhereEq(spark, dvDir, "k", Seq(111L))
      val t1 = System.nanoTime()
      graft.ops.TableManifest.eraseWhereEq(spark, dvDir, "k", Seq(777777L))
      val dvWall = (System.nanoTime() - t1) / 1e9
      spark.conf.unset("spark.graft.dml.deletionVectors")
      val dvWritten = dvBytes(dvDir)
      require(graft.ops.TableManifest.readTable(spark, dvDir)
        .filter(col("k") === 777777L).count() == 0L, "dv delete applied")
      println(f"dv drill: one-row DELETE in a ${fileBytes / 1048576.0}%.0f MiB " +
        f"file — cow ${cowWall}%.2fs rewriting ${cowWritten / 1048576.0}%.1f MiB " +
        f"vs dv ${dvWall}%.2fs writing ${dvWritten}%d B sidecar " +
        f"(write amplification ${cowWritten.toDouble / math.max(dvWritten, 1)}%.0fx)")
      Seq(cowDir, dvDir).foreach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(d))
      }
    }

    // DV-DENSITY CURVE (round 18): k repeated range deletes against ONE
    // file, with the materialize trigger OFF (threshold 1.1) vs ON
    // (default 0.5). Write-once union sidecars make the k-th delete
    // rewrite all prior positions, so cumulative `_dv/` bytes grow
    // O(k²) and the k-th read pays a k-sized bitmap — the trigger
    // caps both by routing the crossing delete to local
    // materialization (survivors rewritten, dv gone). Each delete
    // removes 1/64th of the file, so the default arm materializes at
    // the 32nd delete (density 0.5).
    locally {
      def build(tag: String): String = {
        val dir = Files.createTempDirectory(s"gm-dvcurve-$tag").toString
        spark.range(256000L)
          .select(col("id").as("k"), (col("id") % 1000).as("v"))
          .coalesce(1).write.mode("overwrite").parquet(dir)
        graft.ops.TableManifest.init(spark, dir)
        graft.ops.TableManifest.analyze(spark, dir, Seq("k"))
        dir
      }
      def dvDirBytes(dir: String): (Int, Long) = {
        val d = new java.io.File(dir, "_dv")
        if (!d.exists) (0, 0L)
        else {
          val fs = d.listFiles.filter(_.getName.endsWith(".bin"))
          (fs.length, fs.map(_.length).sum)
        }
      }
      for ((thresh, label) <- Seq("1.1" -> "trigger OFF",
          "0.5" -> "trigger ON (default)")) {
        val dir = build(label.take(7).trim.replaceAll("[^A-Za-z]", ""))
        spark.conf.set("spark.graft.dml.deletionVectors", "true")
        spark.conf.set("spark.graft.dv.materializeThreshold", thresh)
        val step = 256000L / 64
        (0 until 64).foreach { i =>
          graft.ops.TableManifest.eraseWhereRange(spark, dir, "k",
            i * step, (i + 1) * step - 1)
          if ((i + 1) % 16 == 0) {
            val (n, bytes) = dvDirBytes(dir)
            val live = graft.ops.TableManifest.readDvs(spark, dir)
            val t0 = System.nanoTime()
            val rows = graft.ops.TableManifest.readTable(spark, dir).count()
            val readS = (System.nanoTime() - t0) / 1e9
            println(f"dv curve [$label] k=${i + 1}: cumulative " +
              f"sidecars $n (${bytes / 1024.0}%.0f KiB written), live dv " +
              f"card ${live.values.map(_._2).sum}, read ${readS}%.2fs " +
              f"($rows rows)")
          }
        }
        spark.conf.unset("spark.graft.dml.deletionVectors")
        spark.conf.unset("spark.graft.dv.materializeThreshold")
        require(graft.ops.TableManifest.readTable(spark, dir).count() == 0L ||
          graft.ops.TableManifest.readTable(spark, dir).count() ==
            256000L - 64 * step, "dv curve arithmetic")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(dir))
      }
    }

    // STREAM CATCH-UP over a dv-heavy history (round 18): the
    // dv-coherent admission walk (one manifest resolve per candidate
    // version, catch-up only) plus per-file row-index sub-batches must
    // not make draining a DML-heavy history materially dearer than a
    // dv-free one. 40 append commits × 2 files each; the dv arm then
    // lands 10 dv DELETEs on distinct files across the history. Drain
    // from scratch with maxFilesPerTrigger=8, so the capped walk (and
    // its coherence extension) runs on every trigger.
    locally {
      import org.apache.spark.sql.streaming.Trigger
      def build(withDvs: Boolean): String = {
        val dir = Files.createTempDirectory(
          if (withDvs) "gm-catchup-dv" else "gm-catchup-clean").toString
        spark.range(0L, 1000L)
          .select(col("id").as("k"), (col("id") % 7).as("v"))
          .repartition(2).write.mode("overwrite").parquet(dir)
        graft.ops.TableManifest.init(spark, dir)
        (1 until 40).foreach { i =>
          spark.range(i * 1000L, i * 1000L + 1000L)
            .select(col("id").as("k"), (col("id") % 7).as("v"))
            .repartition(2)
            .write.format("graft-manifest").mode("append").save(dir)
        }
        graft.ops.TableManifest.analyze(spark, dir, Seq("k"))
        if (withDvs) {
          spark.conf.set("spark.graft.dml.deletionVectors", "true")
          (0 until 10).foreach { j =>
            graft.ops.TableManifest.eraseWhereRange(spark, dir, "k",
              j * 4000L + 100, j * 4000L + 150)
          }
          spark.conf.unset("spark.graft.dml.deletionVectors")
        }
        dir
      }
      for (withDvs <- Seq(false, true)) {
        val dir = build(withDvs)
        val ckpt = Files.createTempDirectory("gm-catchup-ck").toString
        val rows = new java.util.concurrent.atomic.AtomicLong(0L)
        val t0 = System.nanoTime()
        val q = spark.readStream.format("graft-manifest")
          .option("maxFilesPerTrigger", "8").load(dir)
          .writeStream.option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            rows.addAndGet(df.count()); ()
          }.start()
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"stream catch-up [${if (withDvs) "10 dvs over history"
          else "dv-free"}]: drained ${rows.get()} rows over 40 versions " +
          f"(cap 8 files/trigger) in ${wall}%.2fs")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(dir)); rm(new java.io.File(ckpt))
      }
    }
    spark.stop()
  }
}
