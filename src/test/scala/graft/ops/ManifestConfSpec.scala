package graft.ops

import java.nio.file.Files

import graft.SparkSpec

/** The manifest's integer confs fail loudly on a value that is not an
  * integer, naming the key and the value, instead of silently running
  * with the default. */
class ManifestConfSpec extends SparkSpec {

  private def refused(key: String)(f: => Any): Unit = {
    spark.conf.set(key, "lots")
    val e = try intercept[IllegalArgumentException](f)
      finally spark.conf.unset(key)
    assert(e.getMessage.contains(key) && e.getMessage.contains("'lots'"),
      e.getMessage)
  }

  private def tmpDir(): String =
    Files.createTempDirectory("gm-conf").toString

  test("a malformed checkpointInterval fails the commit") {
    refused("spark.graft.manifest.checkpointInterval") {
      TableManifest.commitIf(spark, tmpDir(), Seq("a.parquet"), 0L)
    }
  }

  test("a malformed checkpointFilesPerDelta fails the commit") {
    refused("spark.graft.manifest.checkpointFilesPerDelta") {
      TableManifest.commitIf(spark, tmpDir(), Seq("a.parquet"), 0L)
    }
  }

  test("a malformed cacheEntries fails the head read that fills the cache") {
    val dir = tmpDir()
    TableManifest.commitIf(spark, dir, Seq("a.parquet"), 0L)
    val cold = tmpDir()
    Files.createDirectories(java.nio.file.Paths.get(cold, "_manifest"))
    Files.copy(java.nio.file.Paths.get(dir, "_manifest", f"v${1L}%020d.json"),
      java.nio.file.Paths.get(cold, "_manifest", f"v${1L}%020d.json"))
    refused("spark.graft.manifest.cacheEntries") {
      TableManifest.readHead(spark, cold)
    }
  }

  test("a malformed footerDriverLimit fails the footer schema read") {
    refused("spark.graft.read.footerDriverLimit") {
      TableManifest.homogeneousFooterSchema(spark, Seq(s"${tmpDir()}/a.parquet"))
    }
  }
}
