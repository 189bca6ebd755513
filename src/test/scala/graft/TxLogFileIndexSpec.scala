package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.gold.TxLog

/** The scan shape of `gold.TxLogFileIndex`, pinned without timing: every
  * TxLog read path plans onto the log-backed index, so a table of more
  * files than Spark's parallel-listing threshold (32) is read with no
  * file-listing job, DV sidecars are read with their fixed schema (no
  * schema-inference job), no data file is stat'ed, and range reads prune
  * by log stats with no conf set — under any AQE / shuffle-partition
  * configuration.
  */
class TxLogFileIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private object Plans extends AdaptiveSparkPlanHelper

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("txindex").toString + "/t"

  /** 48 files clustered by `day` (100 rows per day, days 0..47). */
  private def dayTable(): String = {
    val path = freshPath()
    TxLog.init((0 until 4800).map(i => (i.toLong, i / 100, i.toLong % 97))
      .toDF("key", "day", "amount").repartitionByRange(48, col("day")), path)
    path
  }

  /** (description, stage call sites) of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[(String, String)] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""),
          e.stageInfos.map(_.details).mkString("\n")))
    }
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }

  test("reads, as-of reads, format reads and DV mutations of a 48-file DV'd table list nothing, infer no sidecar schema and stat no file") {
    val path = dayTable()
    val live = TxLog.snapshot(path).files.size
    live should be >= 40
    TxLog.deleteWhereDV(spark, path, col("key") === 5L, 0L) // v1: one DV
    TxLog.snapshot(path).dvs should have size 1
    val stats0 = TxLog.sizeFallbackStats.get()
    val ops: Seq[(String, () => Unit)] = Seq(
      "TxLog.read" -> (() => TxLog.read(spark, path).count() shouldBe 4799L),
      "graft-txlog format read" -> (() =>
        spark.read.format("graft-txlog").option("path", path).load()
          .count() shouldBe 4799L),
      "read(asOf)" -> (() =>
        TxLog.read(spark, path, asOf = Some(1L)).count() shouldBe 4799L),
      // key 7 shares key 5's file: the mutation probes through the live
      // DV and carries it over into the new sidecar
      "deleteWhereDV" -> (() => {
        TxLog.deleteWhereDV(spark, path, col("key") === 7L, 1L)
        TxLog.read(spark, path).count() shouldBe 4798L
      }))
    ops.foreach { case (name, op) =>
      withClue(s"$name: ") {
        val jobs = jobsOf(op())
        jobs should not be empty
        jobs.filter(_._1.startsWith("Listing leaf files")) shouldBe empty
        // a job started from inside the sidecar read is schema inference
        jobs.filter(_._2.contains("dvRowsDf")) shouldBe empty
        TxLog.sizeFallbackStats.get() shouldBe stats0
      }
    }
  }

  test("a day-range read prunes with no conf set and matches the unpruned rows under AQE on/off and 1 or 7 shuffle partitions") {
    val path = dayTable()
    TxLog.deleteWhereDV(spark, path, col("key") % 50 === 3L, 0L)
    val live = TxLog.snapshot(path).files.size
    val all = TxLog.read(spark, path).collect()
    all.length shouldBe 4800 - 96
    // the oracle: the unpruned read's rows, filtered and summed locally
    val expected = all.filter(r => r.getInt(1) >= 10 && r.getInt(1) <= 14)
      .groupBy(_.getInt(1)).map { case (d, rs) =>
        Row(d, rs.length.toLong, rs.map(_.getLong(2)).sum)
      }.toSeq.sortBy(_.getInt(0))
    expected should have size 5
    for (aqe <- Seq(true, false); partitions <- Seq(1, 7)) {
      withClue(s"aqe=$aqe partitions=$partitions: ") {
        val s = spark.newSession()
        s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
        s.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
        val q: DataFrame = TxLog.read(s, path)
          .filter(col("day") >= 10 && col("day") <= 14)
          .groupBy("day").agg(count(lit(1)), sum("amount"))
          .orderBy("day")
        q.collect().toSeq shouldBe expected
        val read = Plans.collect(q.queryExecution.executedPlan) {
          case f: FileSourceScanExec if f.output.exists(_.name == "day") =>
            f.metrics("numFiles").value
        }
        read should not be empty
        read.foreach(n => n should (be > 0L and be < live.toLong))
      }
    }
  }

  test("the sidecar footer cache evicts least-recently-used entries: a hot sidecar survives a full cache of cold ones") {
    val lru = new graft.core.LruCache[String, Int](4)
    Seq("a", "b", "c", "d").foreach(k => lru.getOrElseUpdate(k, k.head.toInt))
    lru.get("a") shouldBe Some('a'.toInt) // a is hot now, b the eldest
    lru.getOrElseUpdate("e", 0)
    lru.size shouldBe 4
    lru.get("b") shouldBe None
    lru.get("a") shouldBe Some('a'.toInt)
    // the engine's cache: a DV'd read caches its sidecar, which keeps
    // serving while a cache-full of cold entries streams past it (a
    // clear-all at the cap would drop it with them)
    val path = dayTable()
    TxLog.deleteWhereDV(spark, path, col("key") === 5L, 0L)
    val hot = s"$path/${TxLog.snapshot(path).dvs.values.head}"
    TxLog.read(spark, path).count() shouldBe 4799L
    val cache = TxLog.sidecarFooters
    cache.capacity shouldBe 65536
    val entry = cache.get(hot)
    entry.map(_._1) shouldBe Some(1L) // one deleted row
    (0 until cache.capacity).foreach { i =>
      cache.getOrElseUpdate(s"$path/cold-$i", (0L, 0L))
      if (i % 1000 == 0) cache.get(hot) shouldBe entry
    }
    cache.size shouldBe cache.capacity
    cache.get(hot) shouldBe entry
    cache.get(s"$path/cold-0") shouldBe None
  }
}
