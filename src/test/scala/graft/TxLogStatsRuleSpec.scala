package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.gold.TxLog

/** The log-native auto-skipping contract of `gold.TxLogFileIndex`, the
  * file index every TxLog scan plans onto: (1) an ordinary
  * `TxLog.read(...).filter(...)` scan reads strictly fewer files with
  * ZERO extra jobs and no session conf; (2) pruning is SOUND across
  * predicate shapes in BOTH stat domains — canonical longs and truncated
  * string bounds (UTF8 binary order, incl. the supplementary-plane
  * boundary where UTF-16 order would mis-prune); (3) the stats are
  * TRANSACTIONALLY CONSISTENT — a delete/rewrite immediately yields the
  * new version's pruning (no staleness window), and a time-travel scan
  * prunes by the old version's own stats, exactly.
  */
class TxLogStatsRuleSpec extends SparkSpecBase {
  import spark.implicits._

  private object Plans extends AdaptiveSparkPlanHelper

  /** "number of files read" of every parquet scan that reads a column
    * named `c` (the data scans — DV sidecar scans carry file/row_idx).
    */
  private def scanFileCounts(df: DataFrame, c: String = "k"): Seq[Long] = {
    df.collect() // force the final (AQE-resolved) plan and its metrics
    val counts = Plans.collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec if f.output.exists(_.name == c) =>
        f.metrics("numFiles").value
    }
    counts should not be empty
    counts
  }

  /** `pred` evaluated over the table's rows WITHOUT any file index: the
    * full read collected and re-served from a local relation — the
    * oracle every pruned scan must match.
    */
  private def unpruned(path: String, pred: DataFrame => DataFrame): Array[String] = {
    val full = TxLog.read(spark, path)
    val local = spark.createDataFrame(
      java.util.Arrays.asList(full.collect(): _*), full.schema)
    pred(local).collect().map(_.mkString("|")).sorted
  }

  private def rows(df: DataFrame): Array[String] =
    df.collect().map((r: Row) => r.mkString("|")).sorted

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("txstats").toString + "/t"

  test("TxLog.read scans auto-prune through log stats and stay oracle-identical") {
    val path = freshPath()
    TxLog.init(
      (0 until 800).map { i =>
        (i.toLong,
          java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i % 400)),
          java.time.LocalDateTime.of(2020, 1, 1, 12, 0).plusDays(i % 400),
          s"r$i")
      }.toDF("k", "d", "ts", "payload").repartitionByRange(8, col("k")),
      path)
    val total = TxLog.snapshot(path).files.size
    total shouldBe 8

    val predicates: Seq[(DataFrame => DataFrame, Boolean)] = Seq(
      ((d: DataFrame) => d.filter(col("k") >= 100L && col("k") <= 199L), true),
      ((d: DataFrame) => d.filter(col("k") === 250L), true),
      ((d: DataFrame) => d.filter(lit(650L) <= col("k")), true), // reversed
      // k is range-clustered so d/ts correlate through i%400 only in the
      // first half — a k-conjunct mixed with an un-prunable string one
      ((d: DataFrame) => d.filter(col("k") < 90L && col("payload") =!= "r5"), true),
      // DATE bound (Catalyst days == log canonical days): first file only
      ((d: DataFrame) => d.filter(col("k") < 90L &&
        col("d") >= lit("2020-01-01").cast("date")), true),
      // string-only predicate: the truncated string stats prune too
      // (payload "r$i" boxes are lexically disjoint enough here)
      ((d: DataFrame) => d.filter(col("payload") === "r5"), true)
    )
    // every session ALWAYS prunes: no conf names the table
    for (((pred, expectPrune), i) <- predicates.zipWithIndex) {
      val pruned = pred(TxLog.read(spark, path))
      withClue(s"predicate #$i: ") {
        rows(pruned) shouldBe unpruned(path, pred)
        val counts = scanFileCounts(pruned)
        if (expectPrune) counts.foreach(_ should be < total.toLong)
        else counts.foreach(_ shouldBe total.toLong)
      }
    }
    // the unfiltered read lists every file: the counts above are real
    scanFileCounts(TxLog.read(spark, path)).foreach(_ shouldBe total.toLong)
    // TIMESTAMP_NTZ bound (Catalyst micros == log canonical micros)
    val ntzPred = (d: DataFrame) =>
      d.filter(col("ts") < lit("2020-01-15 00:00:00").cast("timestamp_ntz"))
    val ntz = ntzPred(TxLog.read(spark, path))
    rows(ntz) shouldBe unpruned(path, ntzPred)
    scanFileCounts(ntz).foreach(_ should be < total.toLong)
    // an impossible interval prunes to zero files, result empty
    val none = TxLog.read(spark, path).filter(col("k") > 5000L)
    none.collect() shouldBe empty
    scanFileCounts(none).foreach(_ shouldBe 0L)
  }

  test("string stats: truncated bounds stay sound on long values and prune; UTF8 order on supplementary planes") {
    val path = freshPath()
    // every value is LONGER than the 32-cp stat cap: all recorded bounds
    // are truncated — strMin a 32-cp prefix, strMax the incremented prefix
    val pad = "x" * 40
    TxLog.init(
      (0 until 100).map { i =>
        val grp = ('a' + i / 25).toChar // 4 lexical groups a..d
        (i.toLong, s"$grp$pad${"%03d".format(i)}")
      }.toDF("k", "s").repartitionByRange(4, col("s")),
      path)
    val snap = TxLog.snapshot(path)
    snap.stats.values.foreach { fs =>
      val cs = fs.cols("s")
      cs.typ shouldBe "s"
      cs.min shouldBe None // string cols carry no long-domain bounds
      cs.strMin.get.codePointCount(0, cs.strMin.get.length) shouldBe 32
      val mx = cs.strMax.get
      mx.codePointCount(0, mx.length) shouldBe 32
      mx.last shouldBe 'y' // the incremented trailing 'x' of the prefix
    }
    val range = (d: DataFrame) => d.filter(col("s") >= "b" && col("s") < "c")
    val pruned = range(TxLog.read(spark, path))
    rows(pruned) shouldBe unpruned(path, range)
    pruned.select("k").as[Long].collect().sorted shouldBe (25L until 50L).toArray
    scanFileCounts(pruned).foreach(_ should be < 4L)

    // supplementary-plane boundary: U+FFFF sorts BELOW U+1F600 in UTF8 /
    // code-point order but ABOVE it in java.lang.String UTF-16 order — a
    // UTF-16 comparison would prune the emoji file under `>= "￿"`
    // and silently drop its rows
    val path2 = freshPath()
    TxLog.init(
      Seq((0L, "a"), (1L, "z"), (2L, "\uFFFF"),
        (3L, new String(Character.toChars(0x1F600))))
        .toDF("k", "s").repartitionByRange(2, col("s")),
      path2)
    TxLog.read(spark, path2).filter(col("s") >= lit("\uFFFF"))
      .select("k").as[Long].collect().sorted shouldBe Array(2L, 3L)
  }

  test("version-keyed cache: a rewrite prunes with the NEW stats immediately; time travel keeps removed files") {
    val path = freshPath()
    TxLog.init((0 until 800).map(i => (i.toLong, s"r$i")).toDF("k", "payload")
      .repartitionByRange(8, col("k")), path)
    scanFileCounts(TxLog.read(spark, path).filter(col("k") <= 99L))
      .foreach(_ should be < 8L)
    // delete the low range: its file leaves; pruning must follow the new
    // version at once (stats ride in the commit — no staleness window)
    TxLog.deleteWhere(spark, path, col("k") <= 99L, 0L)
    val after = TxLog.read(spark, path).filter(col("k") <= 150L)
    after.select(sum(col("k"))).as[Long].head() shouldBe (100L to 150L).sum
    scanFileCounts(after).foreach(_ shouldBe 1L)
    // time travel BELOW the delete: the removed file is pruned (or kept)
    // by version 0's OWN stats, and the result is exact
    val tt = TxLog.read(spark, path, asOf = Some(0L)).filter(col("k") <= 150L)
    tt.select(sum(col("k"))).as[Long].head() shouldBe (0L to 150L).sum
    val v0Below = TxLog.snapshot(path, Some(0L)).stats.values
      .count(_.cols("k").min.exists(_ <= 150L))
    v0Below should be < 8
    scanFileCounts(tt).foreach(_ shouldBe v0Below.toLong)
  }

  test("stats pruning COMPOSES with deletion vectors: pushdown restores the eligible shape below the anti-join") {
    val path = freshPath()
    TxLog.init(
      (0 until 800).map(i => (i.toLong, s"r$i"))
        .toDF("k", "payload").repartitionByRange(8, col("k")),
      path)
    TxLog.deleteWhereDV(spark, path, col("k") % 10 === 3, 0L)
    val total = TxLog.snapshot(path).files.size
    val pruned = TxLog.read(spark, path).filter(col("k") >= 100L && col("k") <= 199L)
    // soundness first: DVs applied AND files pruned
    pruned.select("k").as[Long].collect().sorted shouldBe
      (100L to 199L).filterNot(_ % 10 == 3).toArray
    // the plan keeps the DV anti-join AND the DATA-side scan reads fewer
    // files — the user filter was pushed below the LeftAnti join onto
    // the parquet scan, where the file index pruned by log stats
    // (identify the data scan by its `k` column; the other scan is the
    // metadata-scale DV sidecar)
    pruned.queryExecution.executedPlan.toString should include("LeftAnti")
    scanFileCounts(pruned).foreach(_ should be < total.toLong)
    // the same read unfiltered scans every file
    scanFileCounts(TxLog.read(spark, path)).foreach(_ shouldBe total.toLong)
  }
}
