package graft.ops

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** A manifest version is published whole or not at all: readers that
  * resolve the head while committers create the next version never see an
  * empty or cut body. Writers loop `readHead` + `commitIf` and one reader
  * loops `readHead`, in one JVM, for a fixed time budget. */
class ManifestPublishRaceSpec extends SparkSpec {
  import spark.implicits._

  private val Seconds = 8

  /** (commits, reads, failures) of `writers` committers against one reader. */
  private def race(writers: Int): (Int, Int, Seq[Throwable]) = {
    val dir = Files.createTempDirectory("gm-publish-race").toString
    Seq((1L, "a")).toDF("k", "s").coalesce(1).write.mode("overwrite").parquet(dir)
    TableManifest.init(spark, dir)
    val until = System.nanoTime() + Seconds * 1000000000L
    val commits = new AtomicInteger
    val reads = new AtomicInteger
    val failures = new ConcurrentLinkedQueue[Throwable]
    def loop(body: => Unit) = new Thread(() =>
      while (System.nanoTime() < until && failures.size < 5)
        try body catch { case t: Throwable => failures.add(t) })
    val threads = (0 until writers).map { w =>
      loop {
        val (v, names, hwm) = TableManifest.readHead(spark, dir).get
        // a bounded file list keeps every body, and its parse, small
        val files = names.takeRight(8) :+ s"w$w-v${v + 1}.parquet"
        if (TableManifest.commitIf(spark, dir, files, v, hwm).isDefined) commits.incrementAndGet()
      }
    } :+ loop { TableManifest.readHead(spark, dir).get; reads.incrementAndGet() }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    (commits.get, reads.get, failures.asScala.toSeq)
  }

  Seq(1, 4).foreach { writers =>
    test(s"$writers committer(s) against a head reader: no malformed read in ${Seconds}s") {
      val (commits, reads, failures) = race(writers)
      assert(failures.isEmpty,
        s"${failures.size} failed reads in $reads reads / $commits commits; first: " +
          failures.headOption.map(_.toString).getOrElse(""))
      assert(commits > 0 && reads > 0, s"commits $commits, reads $reads")
    }
  }
}
