package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField}

/** Round-17 ADVICE closure: DROP COLUMN leaves a [[TableManifest.Dropped]]
  * tombstone (physical name + carrier files), and re-introducing a name
  * that live footers still physically carry — `RENAME … TO it`, `ADD
  * COLUMN`, an evolved append — is rejected at every choke point until
  * the carriers age out. Without the tombstone, `DROP x; RENAME y TO x`
  * made coalesceRenamed build `coalesce(x, y)` over victim reads where
  * the carrier files' dropped-x footer bytes are non-null: copy-on-write
  * rewrites would silently WRITE the dropped column's stale values into
  * the logical column, and renameAware would prefer the dropped column's
  * stale committed stats for pruning. Also pins the round-17 carrier
  * encoding: checkpoint bodies store carrier sets as `carrbm` bitmaps
  * over the sorted file list (O(files/8) bytes instead of O(files)
  * names per entry), with the legacy explicit shape still parsed. */
class DropTombstoneSpec extends SparkSpec {

  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def optimize(dir: String): Unit =
    Compaction.compactInPlace(spark, dir,
      targetBytes = 1L << 20, minFileBytes = 1L << 20)

  test("DROP x then RENAME y TO x is loud until the carriers rewrite") {
    val dir = tmpDir("gm-tomb-ren")
    Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L))
      .toDF("k", "x", "y").repartition(3, col("k"))
      .write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir) // v1
    val live = TableManifest.read(spark, dir).get._2.toSet
    TableManifest.dropColumns(spark, dir, Seq("x")) // v2: tombstone for x
    val tombs = TableManifest.readDropped(spark, dir)
    assert(tombs.map(_.name) == Seq("x"), s"tombstone recorded: $tombs")
    assert(tombs.head.carriers == live, "every live file carries x bytes")
    // the natural "replace old column" flow is the corruption path
    val e = intercept[Exception] {
      TableManifest.renameColumn(spark, dir, "y", "x")
    }
    assert(e.getMessage.contains("dropped but its bytes are still"),
      e.getMessage)
    // OPTIMIZE rewrites the carriers (projected to the declared schema),
    // the tombstone drops, and the name is free again
    optimize(dir)
    assert(TableManifest.readDropped(spark, dir).isEmpty,
      "rewrites purge the bytes and the tombstone drops")
    TableManifest.renameColumn(spark, dir, "y", "x")
    val got = TableManifest.readTable(spark, dir)
      .select("k", "x").as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 100L), (2L, 200L), (3L, 300L)),
      s"x serves y's values, never the dropped column's stale bytes: $got")
  }

  test("DROP x then ADD COLUMN x is loud at the commit choke point") {
    val dir = tmpDir("gm-tomb-add")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "x").repartition(2)
      .write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir)
    TableManifest.dropColumns(spark, dir, Seq("x"))
    val e = intercept[Exception] {
      TableManifest.addColumns(spark, dir, Seq(StructField("x", LongType)))
    }
    assert(e.getMessage.contains("physically carried"), e.getMessage)
    optimize(dir)
    TableManifest.addColumns(spark, dir, Seq(StructField("x", LongType)))
    // the re-added column is FRESH: NULL everywhere, never stale bytes
    assert(TableManifest.readTable(spark, dir).where(col("x").isNotNull)
      .count() == 0L, "re-added column starts NULL")
  }

  test("tombstone carriers shrink through copy-on-write and the entry drops") {
    val dir = tmpDir("gm-tomb-shrink")
    Seq((1L, 10L, 1L), (2L, 20L, 2L), (3L, 30L, 3L))
      .toDF("k", "x", "v").repartition(3, col("k"))
      .write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir)
    val before = TableManifest.read(spark, dir).get._2.size
    assert(before >= 2, s"fixture needs multiple files, got $before")
    TableManifest.dropColumns(spark, dir, Seq("x"))
    assert(TableManifest.readDropped(spark, dir).head.carriers.size == before)
    // one victim rewrite projects to the declared schema → fewer carriers
    TableManifest.updateWhere(spark, dir,
      Seq("v" -> (col("v") + 100L)), Some(col("k") === 1L))
    assert(TableManifest.readDropped(spark, dir).head.carriers.size < before,
      "the rewritten victim left the carrier set")
    TableManifest.updateWhere(spark, dir, Seq("v" -> (col("v") + 100L)), None)
    assert(TableManifest.readDropped(spark, dir).isEmpty,
      "a full rewrite clears the tombstone")
  }

  test("dropping a RENAMED column tombstones each physical name per carrier group") {
    val dir = tmpDir("gm-tomb-group")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir) // v1: files physically carry v
    TableManifest.renameColumn(spark, dir, "v", "w") // v2: mapping w<-v
    Seq((3L, 30L)).toDF("k", "w") // physically carries w
      .write.format("graft-manifest").mode("append").save(dir)
    TableManifest.dropColumns(spark, dir, Seq("w"))
    val tombs = TableManifest.readDropped(spark, dir)
      .map(t => t.name -> t.carriers.size).toMap
    assert(tombs.keySet == Set("v", "w"),
      s"one tombstone per physical generation: $tombs")
    assert(tombs("v") == 1 && tombs("w") == 1, s"group-precise carriers: $tombs")
    // BOTH physical names are pinned until their carriers rewrite
    assert(intercept[Exception] {
      TableManifest.addColumns(spark, dir, Seq(StructField("v", LongType)))
    }.getMessage.contains("physically carried"))
    assert(intercept[Exception] {
      TableManifest.renameColumn(spark, dir, "k", "w")
    }.getMessage.contains("dropped but its bytes are still"))
  }

  test("RENAME onto an earlier rename's physical from-name is loud") {
    val dir = tmpDir("gm-tomb-refrom")
    Seq((1L, 10L, 100L)).toDF("k", "v", "s").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir)
    TableManifest.renameColumn(spark, dir, "v", "w")
    val e = intercept[Exception] {
      TableManifest.renameColumn(spark, dir, "s", "v")
    }
    assert(e.getMessage.contains("earlier RENAME COLUMN"), e.getMessage)
  }

  test("carrier sets render as bitmaps over the sorted file list; legacy explicit shape still parses") {
    val files = (0 until 20).map(i => f"part-$i%05d.parquet").sorted
    val carriers = Set(files(1), files(7), files(19))
    val renames = Seq(TableManifest.Rename("w", "v", carriers))
    val dropped = Seq(TableManifest.Dropped("x", Set(files(0), files(2))))
    val b64 = ManifestCodec.encodeColmap(renames, dropped, files)
    val decoded = new String(java.util.Base64.getDecoder.decode(b64),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(decoded.contains("\"carrbm\":"), s"bitmap shape used: $decoded")
    assert(!decoded.contains("\"carriers\":"), s"no explicit names: $decoded")
    val (r2, d2) = ManifestCodec.decodeColmap(b64, files)
    assert(r2 == renames && d2 == dropped, "bitmap round-trips exactly")
    // the pre-round-17 explicit shape (and mixed arrays) still parse
    val legacyJson = """[{"to":"w","from":"v","carriers":["a.parquet"]},""" +
      """{"dropped":"x","carriers":["b.parquet"]}]"""
    val legacyB64 = java.util.Base64.getEncoder.encodeToString(
      legacyJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (r3, d3) = ManifestCodec.decodeColmap(legacyB64, files)
    assert(r3 == Seq(TableManifest.Rename("w", "v", Set("a.parquet"))))
    assert(d3 == Seq(TableManifest.Dropped("x", Set("b.parquet"))))
    // a carrier missing from the file list falls back to explicit names
    // (soundness over compactness) and still round-trips
    val stray = Seq(TableManifest.Rename("w", "v", Set("not-listed.parquet")))
    val strayB64 = ManifestCodec.encodeColmap(stray, Seq.empty, files)
    val strayDecoded = new String(java.util.Base64.getDecoder
      .decode(strayB64), java.nio.charset.StandardCharsets.UTF_8)
    assert(strayDecoded.contains("\"carriers\":"), strayDecoded)
    assert(ManifestCodec.decodeColmap(strayB64, files)._1 == stray)
  }

  test("cold replay re-resolves tombstones and bitmap carriers from disk alone") {
    val dir = tmpDir("gm-tomb-cold")
    Seq((1L, 10L, 1L), (2L, 20L, 2L)).toDF("k", "x", "v")
      .repartition(2, col("k")).write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir)
    TableManifest.dropColumns(spark, dir, Seq("x"))
    val want = TableManifest.readDropped(spark, dir)
    assert(want.nonEmpty)
    // copy the WHOLE table to a fresh path: cache keys carry the dir,
    // so the first read replays the written bodies from disk
    val cold = tmpDir("gm-tomb-cold-dst")
    def copyTree(from: java.io.File, to: java.io.File): Unit = {
      to.mkdirs()
      from.listFiles().foreach { f =>
        val t = new java.io.File(to, f.getName)
        if (f.isDirectory) copyTree(f, t)
        else java.nio.file.Files.copy(f.toPath, t.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    copyTree(new java.io.File(dir), new java.io.File(cold))
    assert(TableManifest.readDropped(spark, cold) == want,
      "tombstones survive a cold replay byte-for-byte")
    // and the guard holds against the cold copy too
    assert(intercept[Exception] {
      TableManifest.renameColumn(spark, cold, "v", "x")
    }.getMessage.contains("dropped but its bytes are still"))
  }
}
