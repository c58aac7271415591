package graft.ops

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.types._

import graft.SparkSpec
import TableManifest.{Dropped, Rename, Snap}

/** Format compatibility: bodies written by the renderer that preceded
  * [[ManifestCodec]] (`src/test/resources/manifest-golden`, see its
  * README) must resolve to exactly the snapshot that renderer's own
  * parser resolved. The expected snapshots below are spelled out from
  * the renderer's inputs, and this spec passes unchanged against the
  * build that wrote the bodies. It goes through the public readers only,
  * so it pins what a caller sees, whichever parser is behind them. */
class ManifestGoldenSpec extends SparkSpec {

  /** Stands in for the commit time of bodies that carry no `ctime`
    * (readers fall back to the manifest file's mtime). */
  private val FixedMtime = 1600000000000L

  private def table(name: String): String = {
    val src = Paths.get(getClass.getResource(s"/manifest-golden/$name").toURI)
    val dst = Files.createTempDirectory(s"gm-golden-$name")
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else {
        Files.copy(p, q)
        Files.setLastModifiedTime(q, FileTime.fromMillis(FixedMtime))
      }
    } finally walk.close()
    dst.toString
  }

  /** The head as every public reader resolves it, assembled as a [[Snap]]
    * (`base` is not observable through them and reads 0). */
  private def resolved(dir: String): (Long, Snap) = {
    val (v, files, schema, fstat, partSchema, renames, dvs) =
      TableManifest.readFull(spark, dir).get
    val ctime = TableManifest.history(spark, dir)
      .where(s"version = $v").select("commit_ts").head().getTimestamp(0)
    v -> Snap(files, schema, partSchema, TableManifest.readStats(spark, dir),
      TableManifest.readStringStats(spark, dir),
      TableManifest.readBloom(spark, dir), fstat,
      TableManifest.readHead(spark, dir).get._3, Some(ctime.getTime),
      base = 0L, renames = renames,
      dropped = TableManifest.readDropped(spark, dir), dvs = dvs)
  }

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("src", StringType), StructField("w", LongType),
    StructField("ts", TimestampType)))
  private val six = (0 until 6).map(i => f"part-$i%05d-7d3c.parquet")
  private def dv(i: Int) = f"dv-0b6f2c1e-1111-4a2b-9c3d-$i%012d.bin"

  test("a checkpoint with every section resolves as its renderer wrote it") {
    val (v, got) = resolved(table("checkpoint-full"))
    assert(v == 1L)
    assert(got == Snap(six, Some(schema),
      Some(StructType(Seq(StructField("d", StringType)))),
      stats = Map(six(0) -> Map("k" -> ((1L, 10L)),
        "ts" -> ((-5L, 1700000000000000L))), six(1) -> Map("k" -> ((11L, 20L)))),
      sstats = Map(six(0) -> Map("src" -> (("arxiv", "books"))),
        six(2) -> Map("src" -> (("cc", "cc")), "lang" -> (("de", "en")))),
      bloom = Map(six(3) -> Map("k" -> "00ff10a0"), six(4) -> Map("k" -> "")),
      fstat = six.zipWithIndex.map { case (f, i) =>
        f -> ((1000L + i, 1700000000000L + i)) }.toMap,
      hwm = Some(41L), ctime = Some(1700000001234L), base = 0L,
      renames = Seq(Rename("w", "v", Set(six(1), six(4))),
        Rename("y", "x", Set("gone-0001.parquet", six(2)))),
      dropped = Seq(Dropped("z", Set(six(0), six(5)))),
      dvs = Map(six(2) -> ((dv(1), 3L)), six(3) -> ((dv(2), 1L)))))
  }

  test("a delta record replays adds, removes and overlays onto its checkpoint") {
    val dir = table("delta-record")
    val ten = (0 until 10).map(i => f"b$i-4e1f-p0.parquet")
    val added = Seq("b10-4e1f-p0.parquet", "b10-4e1f-p1.parquet")
    val live = ten.filterNot(_ == ten(3))
    val (v, got) = resolved(dir)
    assert(v == 2L)
    assert(got == Snap(live ++ added, Some(schema), None,
      stats = live.map(f => f -> Map("k" -> {
        val i = f.drop(1).takeWhile(_.isDigit).toLong
        (i * 10L, i * 10L + 9)
      })).toMap.updated(ten(0), Map("k" -> ((0L, 9L)), "w" -> ((7L, 8L))))
        .updated(added(0), Map("k" -> ((100L, 109L)))),
      sstats = Map(ten(0) -> Map("src" -> (("a", "b"))),
        added(1) -> Map("src" -> (("x", "y")))),
      bloom = Map(added(0) -> Map("k" -> "ff")),
      fstat = live.map(f => f -> ((500L, 1700000000000L))).toMap ++ Map(
        added(0) -> ((600L, 1700000003000L)), added(1) -> ((601L, 1700000003001L))),
      hwm = Some(10L), ctime = Some(1700000003500L), base = 0L,
      dvs = Map(ten(5) -> ((dv(3), 2L)))))
    assert(TableManifest.readAtFull(spark, dir, 1L).contains((ten, Some(schema),
      ten.map(f => f -> ((500L, 1700000000000L))).toMap, None, Seq.empty,
      Map.empty[String, (String, Long)])))
  }

  test("numeric stats of a statsv:1 body are ignored; string stats and blooms are kept") {
    val (_, got) = resolved(table("statsv1"))
    assert(got == Snap(six.take(3), Some(schema), None, stats = Map.empty,
      sstats = Map(six(1) -> Map("src" -> (("m", "n")))),
      bloom = Map(six(2) -> Map("k" -> "0f")), fstat = Map.empty,
      hwm = None, ctime = Some(1700000004000L), base = 0L))
  }

  test("a pre-schema body resolves with no schema, inventory or commit stamp") {
    val (_, got) = resolved(table("pre-schema"))
    assert(got == Snap(six.take(3), None, None, Map.empty, Map.empty,
      Map.empty, Map.empty, hwm = Some(3L), ctime = Some(FixedMtime),
      base = 0L))
  }

  test("a body requiring an unknown reader feature is refused by name") {
    val dir = table("unknown-feature")
    val err = intercept[TableManifest.UnsupportedTableFeatureException] {
      TableManifest.readFull(spark, dir)
    }
    assert(err.getMessage.contains("[zzfuture]"), err.getMessage)
  }
}
