package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.etl.{CatalogDiff, MovieCatalogETL}
import graft.io.{ConfluentAvro, InMemorySchemaRegistry}
import graft.ops.TableManifest
import graft.sources.{FileLog, FileLogSink}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** The reference's batch half against one tracked catalog table that
  * starts as many small files with disjoint `item_id` ranges. Each cycle:
  * ETL of the grown `Movies.txt`, diff against the published topic, INSERT
  * of the new items, MERGE of the changed ones, DELETE of the retired ones,
  * publish of the new items as Confluent-Avro frames to a graft-log, and
  * SQL point and range lookups; every `maint_every`-th cycle also runs
  * OPTIMIZE and VACUUM.
  *
  * Inputs (`in/`): `catalog.properties`; `start/` and `warm/`, the parquet
  * files of the starting and the warm-up table; `warm2.txt` and
  * `warm2.properties` for the warm-up cycle; per cycle `cNNN.txt` plus
  * `cNNN.properties` (retired ids, point and range lookup keys). */
class CatalogCycles(in: Path) extends Workload {
  private def props(p: Path) = {
    val pr = new java.util.Properties()
    val r = Files.newBufferedReader(p)
    try pr.load(r) finally r.close()
    pr
  }
  private val conf = props(in.resolve("catalog.properties"))
  private val maintEvery = conf.getProperty("maint_every").toInt
  private val maxCycles = conf.getProperty("cycles").toInt
  private def ids(s: String) = s.split(",").filter(_.nonEmpty).map(_.toLong).toSeq

  private var st: State = _
  private var cycles = 0
  private val dumps = mutable.ArrayBuffer.empty[String]

  private final class State(val dir: Path) {
    val table: String = dir.resolve("catalog").toString
    val topic: String = dir.resolve("topic").toString
    val registry = new InMemorySchemaRegistry
  }

  private def project(etl: DataFrame): DataFrame =
    etl.select(col("item_id").cast("long").as("item_id"), col("Title"), col("Genre"),
      col("ListPrice").cast("float").as("ListPrice"))

  private def publish(s: State, fresh: DataFrame): Long =
    FileLogSink.publish(ConfluentAvro.catalogFramesResolved(
      CatalogDiff.enrichedEvents(fresh), s.registry), s.topic)

  /** Tracks a copy of the generated range-disjoint files in `start` as the
    * table, names it `name` in SQL and publishes its items. */
  private def create(spark: SparkSession, s: State, start: Path, name: String): Unit = {
    val table = Files.createDirectories(Path.of(s.table))
    Files.list(start).forEach(f => Files.copy(f, table.resolve(f.getFileName)))
    TableManifest.init(spark, s.table)
    TableManifest.analyze(spark, s.table, Seq("item_id"))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING `graft-manifest` OPTIONS (path '${s.table}')")
    publish(s, spark.table(name).withColumn("ItemID", col("item_id").cast("string")))
  }

  /** One cycle; returns (etl ms, dml ms each, lookup ms each, lookup rows). */
  private def cycle(spark: SparkSession, s: State, name: String, text: Path,
      meta: java.util.Properties, maint: Boolean)
      : (Double, Seq[Double], Seq[Double], Seq[Seq[Row]]) = {
    def ms[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
    }
    val ((etl, fresh), etlMs) = ms {
      val etl = Trace.timed("etl.run_ms")(MovieCatalogETL.run(spark, text.toString))
      val published = Trace.timed("io.decode_ms")(ConfluentAvro.decodeCatalogFrames(
        spark.read.format("graft-log").load(s.topic), s.registry).localCheckpoint())
      val fresh = Trace.timed("etl.diff_ms")(CatalogDiff.newItems(
        etl.withColumnRenamed("item_id", "ItemID"), published).localCheckpoint())
      (etl, fresh)
    }
    project(fresh.withColumnRenamed("ItemID", "item_id")).createOrReplaceTempView("cc_new")
    project(etl).createOrReplaceTempView("cc_etl")
    spark.sql(
      s"""SELECT e.* FROM cc_etl e JOIN $name t ON e.item_id = t.item_id
         |WHERE NOT (e.Title <=> t.Title AND e.Genre <=> t.Genre AND e.ListPrice <=> t.ListPrice)
         |""".stripMargin).createOrReplaceTempView("cc_changed")
    val retired = ids(meta.getProperty("retired"))
    val dml = Seq(
      s"INSERT INTO $name SELECT item_id, Title, Genre, ListPrice FROM cc_new",
      s"""MERGE INTO $name USING cc_changed ON $name.item_id = cc_changed.item_id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin) ++
      (if (retired.isEmpty) Nil
       else Seq(s"DELETE FROM $name WHERE item_id IN (${retired.mkString(",")})"))
    val dmlMs = dml.map(q => ms(dmlSpan(spark, s, q))._2)
    Trace.timed("io.publish_ms")(publish(s, fresh))
    val lookups = ids(meta.getProperty("points")).map(k =>
      s"SELECT * FROM $name WHERE item_id = $k") ++
      ids(meta.getProperty("ranges")).map(k =>
        s"SELECT * FROM $name WHERE item_id BETWEEN $k AND ${k + conf.getProperty("range_len").toLong - 1}")
    val looked = lookups.map(q => ms(lookup(spark, s, q)))
    if (maint) maintain(spark, name)
    (etlMs, dmlMs, looked.map(_._2), looked.map(_._1))
  }

  private def maintain(spark: SparkSession, name: String): Unit = {
    Trace.timed("maint.optimize_ms")(spark.sql(s"OPTIMIZE $name").collect())
    val removed = Trace.timed("maint.vacuum_ms")(
      spark.sql(s"VACUUM $name RETAIN 0 HOURS").collect())
    Trace.sample("maint.files_removed", removed.length.toDouble)
  }

  private def headStats(spark: SparkSession, s: State): Unit = if (Trace.on) {
    val head = Trace.timed("manifest.head_ms")(TableManifest.readHead(spark, s.table))
    head.foreach { case (v, fs, _) =>
      Trace.sample("manifest.files", fs.size.toDouble)
      Trace.sample("manifest.versions", v.toDouble)
      val body = Files.list(Path.of(s.table, "_manifest")).iterator().asScala
        .filter(_.getFileName.toString == f"v$v%020d.json").map(Files.size).sum
      Trace.sample("manifest.body_kb", body / 1024.0)
    }
  }

  private def dmlSpan(spark: SparkSession, s: State, q: String): Unit = {
    headStats(spark, s)
    val df = spark.sql(q)
    Trace.timed("plans.plan_ms")(if (Trace.on) df.queryExecution.executedPlan)
    Main.probe(spark).measure(exec = true)(df.collect())
  }

  private def lookup(spark: SparkSession, s: State, q: String): Seq[Row] = {
    headStats(spark, s)
    val df = spark.sql(q)
    if (!Trace.on) df.collect().toSeq
    else {
      val plan = df.queryExecution.executedPlan
      val (rows, _) = Main.probe(spark).measure(exec = true)(df.collect().toSeq)
      plan.foreach {
        case b: BatchScanExec => Trace.sample("scan.files_read", b.inputPartitions.flatMap {
          case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
          case p => Seq(p.toString)
        }.distinct.size.toDouble)
        case _ =>
      }
      Trace.sample("scan.files_total",
        TableManifest.readHead(spark, s.table).map(_._2.size).getOrElse(0).toDouble)
      rows
    }
  }

  private def fmt(r: Row): String =
    Json.any(Seq(r.getAs[Long]("item_id"), r.getAs[String]("Title"), r.getAs[String]("Genre"),
      Option(r.getAs[java.lang.Float]("ListPrice")).map(f => java.lang.Double.valueOf(f.doubleValue)).orNull))

  private def tableRows(spark: SparkSession, s: State): String =
    TableManifest.readTable(spark, s.table).collect().map(fmt).sorted.mkString("[", ",", "]")

  def setup(spark: SparkSession, dir: Path): Unit = {
    // warm-up: one full cycle against a small scratch table
    val w = new State(dir.resolve("warm"))
    create(spark, w, in.resolve("warm"), "warm_catalog")
    cycle(spark, w, "warm_catalog", in.resolve("warm2.txt"), props(in.resolve("warm2.properties")),
      maint = true)
    st = new State(dir)
    create(spark, st, in.resolve("start"), "catalog")
  }

  def run(spark: SparkSession, seconds: Double): Outcome = {
    val lookupMs = mutable.ArrayBuffer.empty[Double]
    var timed = 0L
    var failed = 0L
    val start = System.nanoTime()
    // whole rounds of `maintEvery` cycles, the last with OPTIMIZE and VACUUM,
    // so that every run does the same operations whatever the host's speed
    while (cycles % maintEvery != 0 ||
        ((System.nanoTime() - start) / 1e9 < seconds && cycles < maxCycles)) {
      cycles += 1
      Trace.op = cycles
      val c = f"c$cycles%03d"
      val t0 = System.nanoTime()
      val lookedRows = try {
        val (e, d, l, rows) = cycle(spark, st, "catalog", in.resolve(s"$c.txt"),
          props(in.resolve(s"$c.properties")), maint = cycles % maintEvery == 0)
        lookupMs ++= l
        Trace.sample("cycle.etl_ms", e)
        d.foreach(Trace.sample("cycle.dml_ms", _))
        l.foreach(Trace.sample("cycle.lookup_ms", _))
        rows.map(_.map(fmt).sorted.mkString("[", ",", "]"))
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] cycle $cycles failed: ${e.getMessage}")
          Seq.empty
      }
      timed += System.nanoTime() - t0
      dumps += s"""{"cycle":$cycles,"table":${tableRows(spark, st)},""" +
        s""""lookups":${lookedRows.mkString("[", ",", "]")}}"""
    }
    Trace.sample("table.bytes_per_row", storedBytesPerRow(spark))
    Outcome(cycles, failed, timed / 1e9, Map("latency_p50_ms" -> Main.median(lookupMs.toSeq)))
  }

  /** Closing OPTIMIZE and VACUUM, then bytes under the table dir per live row. */
  private def storedBytesPerRow(spark: SparkSession): Double = {
    maintain(spark, "catalog")
    dumps += s"""{"cycle":"closing","table":${tableRows(spark, st)},"lookups":[]}"""
    val bytes = Files.walk(Path.of(st.table)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    bytes.toDouble / TableManifest.readTable(spark, st.table).count()
  }

  override def release(spark: SparkSession, out: Path): Unit = {
    Files.writeString(out.resolve("cycles.jsonl"), dumps.mkString("", "\n", "\n"))
    dumps.clear()
  }

  def dump(spark: SparkSession, out: Path): Unit = {
    // every published frame, per topic segment (segment 0 = the starting catalog)
    val segs = FileLog.segments(st.topic).map { seg =>
      val it = FileLog.read(seg.file)
      try it.map { r =>
        val (id, body) = ConfluentAvro.unframe(r.value)
        val rec = ConfluentAvro.deserialize(st.registry.schemaById(id), body)
        Json.any(Seq(String.valueOf(rec.get("movie_id")), String.valueOf(rec.get("title"))))
      }.toSeq.mkString("[", ",", "]") finally it.close()
    }
    Files.writeString(out.resolve("topic.json"), segs.mkString("[", ",\n", "]\n"))
  }
}
