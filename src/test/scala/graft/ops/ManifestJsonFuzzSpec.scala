package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.SparkSpec
import TableManifest.{DeltaRec, Dropped, Rename, Snap}

/** Round-trip fuzz of the manifest body through [[ManifestCodec]]: stat
  * column names, string bounds and column-mapping names are drawn from
  * full Unicode — quotes, braces, brackets, backslashes, control
  * characters, U+E000–U+FFFF and astral code points — and every body must
  * decode to exactly what was encoded, both straight through the codec and
  * through `commitIf` and a cold read of the written body. Deterministic
  * seeded generation (no scalacheck bridge in the offline cache). */
class ManifestJsonFuzzSpec extends SparkSpec {

  import spark.implicits._

  private val rng = new scala.util.Random(0xC0FFEE)

  /** Code points from every range a string can hit: JSON's own syntax and
    * escapes, control characters, ASCII, the rest of the BMP (surrogates
    * excluded), U+E000–U+FFFF and the supplementary planes. */
  private def codePoint(): Int = rng.nextInt(6) match {
    case 0 => "\"\\{}[]:,/".charAt(rng.nextInt(9)).toInt
    case 1 => rng.nextInt(0x20)
    case 2 => 0x20 + rng.nextInt(0x5F)
    case 3 => 0x80 + rng.nextInt(0xD800 - 0x80)
    case 4 => 0xE000 + rng.nextInt(0x2000)
    case _ => 0x10000 + rng.nextInt(0x10FFFF - 0x10000 + 1)
  }

  private def unicode(lo: Int, hi: Int): String = {
    val n = lo + rng.nextInt(hi - lo + 1)
    new String(Array.fill(n)(codePoint()), 0, n)
  }

  private def pick(chars: Seq[Char], lo: Int, hi: Int): String = {
    val n = lo + rng.nextInt(hi - lo + 1)
    Seq.fill(n)(chars(rng.nextInt(chars.size))).mkString
  }

  private val fileChars = ('a' to 'z') ++ ('0' to '9') ++ Seq('-', '_', '.')

  /** File names stay JSON-safe (the codec refuses `"[]{}\`), but may
    * still hold non-ASCII and control characters. */
  private def fileName() =
    "f-" + pick(fileChars, 4, 24) + (if (rng.nextInt(4) == 0) "-é\u0001𝄞" else "")
  private def colName() = unicode(1, 12)

  private def longRange(): (Long, Long) = {
    val a = rng.nextLong(); val b = rng.nextLong()
    (math.min(a, b), math.max(a, b))
  }

  private def strRange(): (String, String) = (unicode(0, 24), unicode(0, 24))

  private def statsGen[R](range: () => R): Map[String, Map[String, R]] =
    Seq.fill(rng.nextInt(5))(
      fileName() -> Seq.fill(1 + rng.nextInt(3))(colName() -> range()).toMap
    ).toMap

  private def hexValue(): String =
    pick("0123456789abcdef".toSeq, 0, 64)

  /** A fresh table holding only `dir`'s manifest files: the resolution
    * caches are keyed by directory, so reading it decodes the bodies. */
  private def cold(dir: String): String = {
    val dst = Files.createTempDirectory("graft-json-cold")
    Files.createDirectories(dst.resolve("_manifest"))
    Paths.get(dir, "_manifest").toFile.listFiles()
      .filter(_.getName.matches("v\\d+\\.json"))
      .foreach(f => Files.copy(f.toPath, dst.resolve("_manifest").resolve(f.getName)))
    dst.toString
  }

  private def bodyOf(dir: String, v: Long): String =
    new String(Files.readAllBytes(Paths.get(dir, "_manifest", f"v$v%020d.json")),
      StandardCharsets.UTF_8)

  test("render → parse round-trips arbitrary files/hwm/stats/sstats/bloom") {
    (1 to 60).foreach { _ =>
      val stats = statsGen(longRange _)
      val sstats = statsGen(strRange _)
      val bloom = statsGen(hexValue _)
      val extra = Seq.fill(rng.nextInt(4))(fileName())
      val all = (extra ++ stats.keys ++ sstats.keys ++ bloom.keys).distinct
      val hwm = if (rng.nextBoolean()) Some(rng.nextLong()) else None
      val dir = Files.createTempDirectory("graft-json-fuzz").toString
      val v = TableManifest.commitIf(spark, dir, all, expectedHead = 0L,
        hwm = hwm, stats = stats, sstats = sstats, bloom = bloom)
      assert(v.contains(1L))
      Seq(dir, cold(dir)).foreach { d =>
        val (gotV, gotFiles, gotHwm) = TableManifest.readHead(spark, d).get
        assert(gotV == 1L)
        assert(gotFiles.sorted == all.sorted)
        assert(gotHwm == hwm)
        assert(TableManifest.readStats(spark, d) == stats)
        assert(TableManifest.readStringStats(spark, d) == sstats)
        assert(TableManifest.readBloom(spark, d) == bloom)
      }
    }
  }

  test("a second commit carries stats forward only for surviving files") {
    (1 to 20).foreach { _ =>
      val stats = statsGen(longRange _)
      if (stats.nonEmpty) {
        val dir = Files.createTempDirectory("graft-json-carry").toString
        val files = stats.keys.toSeq.sorted
        TableManifest.commitIf(spark, dir, files, 0L, stats = stats)
        val keep = files.take(math.max(1, files.size / 2))
        TableManifest.commitIf(spark, dir, keep :+ "f-new.parquet", 1L)
        val carried = TableManifest.readStats(spark, dir)
        assert(carried == stats.filter(kv => keep.contains(kv._1)))
        assert(TableManifest.readStats(spark, cold(dir)) == carried)
      }
    }
  }

  test("checkpoints and delta records with full-Unicode strings decode to what was encoded") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    (1 to 40).foreach { i =>
      val stats = statsGen(longRange _)
      val sstats = statsGen(strRange _)
      val bloom = statsGen(hexValue _)
      val files = (Seq.fill(1 + rng.nextInt(6))(fileName()) ++ stats.keys ++
        sstats.keys ++ bloom.keys).distinct.sorted.toVector
      val dvs = files.take(2).map(f => f -> ((s"dv-$i.bin", rng.nextInt(9).toLong))).toMap
      val snap = Snap(files, Some(schema), None, stats, sstats, bloom,
        files.map(f => f -> ((rng.nextLong(), rng.nextLong()))).toMap,
        Some(rng.nextLong()), Some(1700000000000L + i), base = i.toLong,
        renames = Seq(Rename(colName(), colName(), files.take(1).toSet),
          Rename(colName(), colName(), Set("gone.parquet"))),
        dropped = Seq(Dropped(colName(), files.takeRight(1).toSet)),
        dvs = dvs)
      assert(ManifestCodec.decode(i.toLong,
        ManifestCodec.encodeCheckpoint(i.toLong, "tok", snap)) == Right(snap))
      val rec = DeltaRec(i.toLong, files, Seq(fileName()), Some(schema),
        Some(schema), stats, sstats, bloom, Map.empty, None, Some(1L), dvs)
      assert(ManifestCodec.decode(i.toLong + 1,
        ManifestCodec.encodeDelta(i.toLong + 1, "tok", rec)) == Left(rec))
    }
  }

  test("a body inside the legacy charset stamps no new feature; any other string stamps utf8strings") {
    def featuresOf(body: String): Set[String] = {
      val p = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      Option(p.get("features")).map(a =>
        (0 until a.size).map(a.get(_).asText).toSet).getOrElse(Set.empty)
    }
    def commit(sstats: Map[String, Map[String, (String, String)]],
        files: Seq[String] = Seq("a.parquet")): String = {
      val dir = Files.createTempDirectory("graft-json-stamp").toString
      TableManifest.commitIf(spark, dir, files, 0L,
        stats = Map(files.head -> Map("k" -> ((1L, 2L)))), sstats = sstats)
      // a delta record on top stamps by its own content too
      val added = files.head + "-b"
      TableManifest.commitIf(spark, dir, files :+ added, 1L,
        sstats = sstats.get(files.head).map(added -> _).toMap)
      assert(bodyOf(dir, 2L).contains("\"delta\":1"))
      assert(featuresOf(bodyOf(dir, 1L)) == featuresOf(bodyOf(dir, 2L)))
      bodyOf(dir, 1L)
    }
    val legacy = commit(Map("a.parquet" -> Map("src" -> (("arxiv", "cc-2024_x.y:z/+=@%")))))
    assert(!legacy.contains("\"features\""), legacy)
    Seq("we\"ird", "also{bad}", "tab\there", "é", "𝄞", "x" * 65).foreach { s =>
      assert(featuresOf(commit(Map("a.parquet" -> Map("src" -> (("a", s)))))) ==
        Set(ManifestCodec.Utf8Strings), s)
      assert(featuresOf(commit(Map("a.parquet" -> Map(s -> (("a", "b")))))) ==
        Set(ManifestCodec.Utf8Strings), s)
    }
    assert(featuresOf(commit(Map.empty, Seq("ctl\u0001.parquet"))) ==
      Set(ManifestCodec.Utf8Strings), "an escaped file name stamps too")
  }

  test("bodies written before the codec re-encode byte-identically") {
    val root = Paths.get(getClass.getResource("/manifest-golden").toURI)
    val bodies = Seq("checkpoint-full" -> 1L, "delta-record" -> 1L,
      "delta-record" -> 2L, "pre-schema" -> 1L)
    bodies.foreach { case (name, v) =>
      val bytes = Files.readAllBytes(
        root.resolve(name).resolve("_manifest").resolve(f"v$v%020d.json"))
      val token = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(bytes).get("token").asText
      val again = ManifestCodec.decode(v, bytes) match {
        case Right(s) => ManifestCodec.encodeCheckpoint(v, token, s)
        case Left(d) => ManifestCodec.encodeDelta(v, token, d)
      }
      assert(new String(again, StandardCharsets.UTF_8) ==
        new String(bytes, StandardCharsets.UTF_8), s"$name v$v")
    }
  }

  test("string bounds merge and prune in UTF-8 byte order, not Java string order") {
    val fffd = "\uFFFD"
    val clef = new String(Character.toChars(0x1D11E))
    assert(fffd > clef &&
      (fffd.getBytes("UTF-8")(0) & 0xff) < (clef.getBytes("UTF-8")(0) & 0xff),
      "the two orders disagree on this pair")
    val dir = Files.createTempDirectory("graft-json-order").toString
    // file A: one row group holding both values (footer min U+FFFD, max
    // U+1D11E); file B: 100-row row groups, each holding one of them
    Seq(clef, fffd).toDF("source").coalesce(1).write.mode("overwrite").parquet(dir)
    (Seq.fill(100)(clef) ++ Seq.fill(100)(fffd)).toDF("source").coalesce(1)
      .write.mode("append").option("parquet.block.size", "1").parquet(dir)
    val groups = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath),
            spark.sparkContext.hadoopConfiguration))
        try r.getFooter.getBlocks.size finally r.close()
      }.sorted.toSeq
    assert(groups.head == 1 && groups.last >= 2, s"row groups per file: $groups")
    TableManifest.init(spark, dir)
    TableManifest.analyze(spark, dir, Seq("source"))
    val bounds = TableManifest.readStringStats(spark, dir).values.map(_("source"))
    assert(bounds.toSet == Set((fffd, clef)), bounds)
    Seq(fffd, clef).foreach { v =>
      assert(TableManifest.prunedFilesIn(spark, dir, "source", Seq(v)).size == 2,
        s"both files hold ${v.codePointAt(0).toHexString}")
    }
    assert(TableManifest.prunedFilesIn(spark, dir, "source", Seq("z")).isEmpty)
    assert(TableManifest.readTableWhereIn(spark, dir, "source", Seq(clef))
      .count() == 101)
  }
}
