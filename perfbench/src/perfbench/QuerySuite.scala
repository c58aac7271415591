package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Closed loop, one client: the declared queries (`SparkEntry.queries`)
  * listed in `in/queries.txt`, in that (seeded) order, round after round.
  * One operation = build the query's DataFrame and collect its result. Set-up
  * runs untimed warm-up passes. The first timed round's results are dumped
  * for the DuckDB oracle check. */
class QuerySuite(in: Path) extends Workload {
  private val WarmPasses = 2
  private val names = Files.readAllLines(in.resolve("queries.txt")).asScala.toSeq.filter(_.nonEmpty)
  private val dataDir = Files.readString(in.resolve("data_dir.txt")).trim
  private val queries = graft.SparkEntry.queries
  private val firstRound = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  private val errors = mutable.LinkedHashMap.empty[String, String]
  private val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def setup(spark: SparkSession, dir: Path): Unit = {
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    graft.Tables.names.foreach(n => graft.Tables.load(spark, dataDir, n).count())
    // warm-up: untimed passes until the JIT has settled; with fewer, some
    // runs speed up by a quarter in mid-measurement and others do not
    for (_ <- 1 to WarmPasses; n <- names) {
      try queries(n)(spark, dataDir).collect()
      catch { case _: Exception => () }
      clearScratch(spark)
    }
  }

  private def clearScratch(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def run(spark: SparkSession, seconds: Double): Outcome = {
    val lat = mutable.ArrayBuffer.empty[Double]
    var timed = 0L
    var ops, failed = 0L
    val start = System.nanoTime()
    var round = 0
    while (round == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      names.foreach { n =>
        Trace.op = ops
        val t0 = System.nanoTime()
        try {
          Trace.span("query") {
            val df = Trace.timed("queries.build_ms")(queries(n)(spark, dataDir))
            Trace.timed("plans.plan_ms")(if (Trace.on) df.queryExecution.executedPlan)
            val (r, _) = Main.probe(spark).measure(exec = true)(Trace.span("exec")(df.collect()))
            if (round == 0) firstRound(n) = (df.schema, r)
          }
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] $n failed in round $round: ${e.getMessage}")
            if (round == 0) errors(n) = String.valueOf(e.getMessage).take(300)
        }
        val dt = System.nanoTime() - t0
        timed += dt
        lat += dt / 1e6
        perQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += dt / 1e6
        ops += 1
        clearScratch(spark)
      }
      round += 1
    }
    // one round at each query's median latency, so that one disturbed
    // execution does not move the rate
    val roundMs = perQuery.values.map(v => Main.median(v.toSeq)).sum
    Outcome(ops, failed, timed / 1e9, Map(
      "ops_per_s" -> names.size / (roundMs / 1e3),
      "latency_p50_ms" -> Main.median(lat.toSeq)))
  }

  override def release(spark: SparkSession, out: Path): Unit = {
    val res = Files.createDirectories(out.resolve("results"))
    firstRound.foreach { case (n, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(res.resolve(n).toString)
    }
    firstRound.clear()
  }

  def dump(spark: SparkSession, out: Path): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), names.map(n =>
      Json.str(n) + ":" + Json.str(sql(n))).mkString("{", ",\n", "}"))
    Files.writeString(out.resolve("latency_ms.json"), perQuery.toSeq.map { case (k, v) =>
      Json.str(k) + ":" + Json.any(v) }.mkString("{", ",", "}"))
    Files.writeString(out.resolve("errors.json"), errors.toSeq.map { case (k, v) =>
      Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}"))
  }
}
