package medbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.bronze.Validation
import graft.gold.TxLog
import graft.gold.TxLog.{MergeMatched, MergeNotMatched}
import graft.streaming.EventStream

/** txlog_upkeep: a gold fact table kept in a TxLog over many "days".
  *
  * Each day's rows land in a landing TxLog table as [[DayCommits]] small
  * `TxLog.append`s. `EventStream.runTxLogPipelineOnce` then resumes from
  * the same checkpoint as every day, drains the new landing versions one
  * per micro-batch through a stateless `Validation.split` into the fact
  * table (its exactly-once sink), and stops. The day reads the table, then
  * upserts late corrections with `mergeDV`, retracts rows with
  * `deleteWhereDV`, flags rows with `updateWhereDV`, and reads the table
  * again. Each read pass is a range filter through
  * `TxLog.read` and through the `graft-txlog` format, a full aggregate, an
  * as-of read four versions back, `snapshot` and
  * `history`. `compact` and `vacuum` run every [[MaintainEvery]] days,
  * `vacuum` one day after `compact`, so the files `compact` replaced have
  * left the retained versions; checkpoints land every `CheckpointInterval`
  * commits on their own. A JVM measures one round: [[Days]] days on
  * freshly set-up tables.
  *
  * A plain-Scala model applies the same script; the final table and every
  * read's row count and checksum must equal it.
  */
object TxlogUpkeep {

  val PriorDays = 2
  val Days = 2
  val BaseRows = 1500
  val DayRows = 150
  val DayCommits = 10
  /** Landing commits of the prior day the set-up drains. */
  val SetupCommits = 2
  val Corrections = 20
  val LateInserts = 10
  val MaintainEvery = 2
  /** What the as-of read four versions back still needs. */
  val RetainVersions = 5

  val Schema = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("day", IntegerType, nullable = false),
    StructField("owner", IntegerType, nullable = false),
    StructField("amount", LongType, nullable = false),
    StructField("status", StringType, nullable = false)))

  final case class Fact(key: Long, day: Int, owner: Int, amount: Long, status: String) {
    def row: Row = Row(key, day, owner, amount, status)
    def sum: Long = key * 1000003L + day * 7919L + owner * 31L + amount + statusCode(status)
    def userBytes: Long = s"$key,$day,$owner,$amount,$status".length + 1L
  }

  private def statusCode(s: String): Long = s match {
    case "new" => 1L
    case "corrected" => 2L
    case "late" => 3L
    case _ => 4L
  }

  /** Spark side of [[Fact.sum]]. */
  private val checksum: Column =
    col("key") * 1000003L + col("day") * 7919L + col("owner") * 31L + col("amount") +
      when(col("status") === "new", 1L).when(col("status") === "corrected", 2L)
        .when(col("status") === "late", 3L).otherwise(4L)

  /** (rows, checksum) of a frame, in one job. */
  private def tally(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(checksum), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def tally(rows: Iterable[Fact]): (Long, Long) = (rows.size.toLong, rows.map(_.sum).sum)

  /** The ingest's stateless transform: rows with a negative amount are rejected. */
  def transform(df: DataFrame): DataFrame =
    Validation.split(df, Seq(Validation.nonNegative("amount")))._1

  val WriteOps = Seq("append", "merge", "delete", "update", "compact")
  val ReadOps = Seq("read_full", "read_range", "read_format", "read_asof", "snapshot", "history")
  /** The reads behind read_ms. `snapshot` only resolves the log (about 20 ms,
    * 20× below the others): with it, the median sat in the gap between the
    * two groups and swung with small shifts. It keeps its per-layer metric.
    */
  val TimedReads = ReadOps.filterNot(_ == "snapshot")

  /** One table and its model. */
  private final class Table(ctx: Ctx, val path: String, seed: Long) {
    val landing = path + "-landing"
    val checkpoint = path + "-checkpoint"
    var landingVersion = 0L
    val rnd = new SplittableRandom(seed)
    val live = mutable.LinkedHashMap.empty[Long, Fact]
    var version = 0L
    var nextKey = 0L
    /** Model (rows, checksum) per committed version, for as-of reads. */
    val atVersion = mutable.Map.empty[Long, (Long, Long)]
    val commitMs = mutable.ArrayBuffer.empty[(Long, Double)]
    private val spark = ctx.spark

    def newFacts(n: Int, day: Int): Seq[Fact] = (0 until n).map { _ =>
      nextKey += 1
      Fact(nextKey, day, rnd.nextInt(50), rnd.nextInt(1000).toLong, "new")
    }

    def frame(fs: Seq[Fact]): DataFrame = spark.createDataFrame(fs.map(_.row).asJava, Schema)

    /** The tables as the workload finds them: a base load and [[PriorDays]]
      * days in the fact table, the earlier ones appended in bulk, the last
      * one landed and drained by the stream, which leaves its checkpoint,
      * and read once by the consumer.
      */
    def init(): Unit = {
      val fs = newFacts(BaseRows, 0)
      TxLog.init(frame(fs).repartition(2), path)
      fs.foreach(f => live(f.key) = f)
      atVersion(0L) = tally(live.values)
      for (d <- 1 until PriorDays) {
        val fresh = newFacts(DayRows, d)
        commit("append")(TxLog.append(frame(fresh), path, version)) {
          fresh.foreach(f => live(f.key) = f)
        }
      }
      TxLog.init(frame(Nil), landing)
      ingest(PriorDays, SetupCommits)
      readAll(PriorDays)
    }

    /** Land the day's rows in `commits` appends (5% with a negative amount),
      * then drain them into the fact table.
      */
    def ingest(d: Int, commits: Int): Unit = {
      val landed = (0 until commits).map { _ =>
        val fs = newFacts(DayRows / commits, d).map(f =>
          if (rnd.nextDouble() < 0.05) f.copy(amount = -1L) else f)
        val snap = op("append")(TxLog.append(frame(fs), landing, landingVersion))
        ctx.check(snap.version == landingVersion + 1, s"landing append landed at v${snap.version}")
        landingVersion = snap.version
        fs
      }
      ctx.drain()
      val before = ctx.probe.progress.size
      val t0 = System.nanoTime()
      ctx.probe.span("streaming", "drain") {
        EventStream.runTxLogPipelineOnce(spark, landing, path, checkpoint, transform,
          appId = "medbench")
      }
      val drainMs = (System.nanoTime() - t0) / 1e6
      ctx.drain()
      val batches = ctx.probe.progress.drop(before).filter(_.rows > 0)
      ctx.check(batches.size == commits,
        s"day $d drained ${batches.size} micro-batches, expected $commits")
      if (measured) {
        val triggers = batches.map(_.durations.getOrElse("triggerExecution", 0L))
        triggers.foreach(t => ctx.samples.add("batch", t.toDouble))
        ctx.samples.add("restart", drainMs - triggers.sum)
        drained ++= batches
      }
      attempted += batches.size
      // one sink commit per landing commit, in order, ends at the newest fact version
      val v = TxLog.currentVersion(path).getOrElse(-1L)
      ctx.check(v >= version + commits, s"day $d ingest left the fact table at v$v")
      for (u <- version + 1 to v - commits) atVersion(u) = tally(live.values)
      landed.zipWithIndex.foreach { case (fs, i) =>
        fs.filter(_.amount >= 0).foreach(f => live(f.key) = f)
        atVersion(v - commits + 1 + i) = tally(live.values)
        // the sink commit's latency is inside its batch's addBatch phase
        if (measured && batches.size == commits) {
          val ms = batches(i).durations.getOrElse("addBatch", 0L).toDouble
          commitMs += ((v - commits + 1 + i, ms))
          ctx.samples.add("sink_commit", ms)
        }
      }
      version = v
    }

    /** The measured micro-batches. */
    val drained = mutable.ArrayBuffer.empty[BatchProgress]

    /** Set once the table is set up: only then are operations sampled. */
    var measured = false

    var attempted = 0L

    /** Time, trace and account one operation. */
    def op[T](name: String)(body: => T): T = {
      attempted += 1
      val t0 = System.nanoTime()
      val r = ctx.probe.span("gold.txlog", name)(body)
      if (measured) ctx.samples.add(name, (System.nanoTime() - t0) / 1e6)
      r
    }

    def commit(name: String)(body: => TxLog.Snapshot)(model: => Unit): Unit = {
      val t0 = System.nanoTime()
      val snap = op(name)(body)
      if (snap.version != version) {
        ctx.check(snap.version == version + 1,
          s"$name committed version ${snap.version} after $version")
        version = snap.version
        if (measured) commitMs += ((version, (System.nanoTime() - t0) / 1e6))
      }
      model
      atVersion(version) = tally(live.values)
    }

    def day(d: Int): Unit = {
      ingest(d, DayCommits)
      readAll(d)

      val keys = live.keysIterator.toIndexedSeq
      val fixes = (0 until Corrections).map(_ => keys(rnd.nextInt(keys.size))).distinct
        .map(k => live(k).copy(amount = rnd.nextInt(1000).toLong, status = "corrected"))
      val inserts = newFacts(LateInserts, d - 1)
      val src = frame(fixes ++ inserts).toDF("s_key", "s_day", "s_owner", "s_amount", "s_status")
      val S = TxLog.MergeSourceAlias
      commit("merge")(TxLog.mergeDV(ctx.spark, path, src, Seq("key" -> "s_key"),
        matched = Seq(MergeMatched(None, Some(Map(
          "amount" -> col(s"$S.s_amount"), "status" -> col(s"$S.s_status"))))),
        notMatched = Seq(MergeNotMatched(None, Map("key" -> col(s"$S.s_key"),
          "day" -> col(s"$S.s_day"), "owner" -> col(s"$S.s_owner"),
          "amount" -> col(s"$S.s_amount"), "status" -> col(s"$S.s_status")))),
        expectedVersion = version)) {
        (fixes ++ inserts).foreach(f => live(f.key) = f)
      }

      val delOwner = d % 5
      commit("delete")(TxLog.deleteWhereDV(ctx.spark, path,
        col("day") === d - 3 && pmod(col("owner"), lit(5)) === delOwner, version)) {
        live.filterInPlace { case (_, f) => !(f.day == d - 3 && f.owner % 5 == delOwner) }
      }

      commit("update")(TxLog.updateWhereDV(ctx.spark, path,
        col("day") === d - 1 && col("amount") < 100L,
        Map("status" -> lit("late"), "amount" -> (col("amount") + 1L)), version)) {
        live.mapValuesInPlace { (_, f) =>
          if (f.day == d - 1 && f.amount < 100L) f.copy(status = "late", amount = f.amount + 1L)
          else f
        }
      }

      if (d % MaintainEvery == 1)
        commit("compact")(TxLog.compact(ctx.spark, path, version))(())
      if (d % MaintainEvery == 0) {
        val reaped = op("vacuum")(TxLog.vacuum(path, retainVersions = RetainVersions, minAgeMs = 0L))
        vacuumedAt = version
        ctx.check(reaped.exists(_.startsWith("part-")),
          s"vacuum at v$version deleted no data file: ${reaped.mkString(", ")}")
      }

      readAll(d)
    }

    def readAll(d: Int): Unit = {
      val inRange = (c: Column) => c.between(d - 2, d)
      val rangeModel = tally(live.values.filter(f => f.day >= d - 2 && f.day <= d))
      val full = op("read_full")(tally(TxLog.read(spark, path)))
      ctx.check(full == tally(live.values), s"read_full at v$version: $full != ${tally(live.values)}")
      val range = op("read_range")(tally(TxLog.read(spark, path).filter(inRange(col("day")))))
      ctx.check(range == rangeModel, s"read_range at v$version: $range != $rangeModel")
      val viaFormat = op("read_format")(tally(spark.read.format("graft-txlog")
        .option("path", path).load().filter(inRange(col("day")))))
      ctx.check(viaFormat == rangeModel, s"read_format at v$version: $viaFormat != $rangeModel")
      val asOf = math.max(0L, version - 4)
      val old = op("read_asof")(tally(TxLog.read(spark, path, Some(asOf))))
      ctx.check(old == atVersion(asOf), s"read_asof v$asOf: $old != ${atVersion(asOf)}")
      val snap = op("snapshot")(TxLog.snapshot(path))
      ctx.check(snap.version == version, s"snapshot at v${snap.version}, expected v$version")
      val newest = op("history")(TxLog.history(spark, path).agg(max("version")).head().getLong(0))
      ctx.check(newest == version, s"history tops at v$newest, expected v$version")
    }

    /** Version of the last vacuum, or -1. */
    var vacuumedAt = -1L

    /** The whole table, row for row, against the model; after a vacuum,
      * exactly the data and DV files of the retained versions are left.
      */
    def checkFinal(): Unit = {
      if (vacuumedAt >= 0) {
        val kept = (vacuumedAt - RetainVersions + 1 to vacuumedAt).map(v => TxLog.snapshot(path, Some(v)))
        val wanted = (kept.flatMap(_.files) ++ kept.flatMap(_.dvs.values)).toSet
        val left = new File(path).listFiles().map(_.getName)
          .filter(n => n.startsWith("part-") || n.startsWith("dv-")).toSet
        ctx.check(left == wanted, s"vacuum at v$vacuumedAt left ${(left -- wanted).size} " +
          s"unreferenced and lost ${(wanted -- left).size} referenced files")
      }
      val got = TxLog.read(spark, path).collect().map(r =>
        Fact(r.getAs[Long]("key"), r.getAs[Int]("day"), r.getAs[Int]("owner"),
          r.getAs[Long]("amount"), r.getAs[String]("status"))).sortBy(_.key).toSeq
      ctx.check(got == live.values.toSeq.sortBy(_.key),
        s"final table at v$version differs from the model (${got.size} vs ${live.size} rows)")
    }
  }

  def run(ctx: Ctx): Result = {
    var table: Table = null
    val setupS = ctx.setups(3) { i =>
      table = new Table(ctx, ctx.dir(s"txlog-$i"), ctx.seed)
      table.init()
    }
    table.measured = true
    table.attempted = 0L

    if (ctx.traced) ctx.probe.startTracing()
    ctx.heap.start()
    val cpu0 = ctx.cpuNs()
    val r0 = System.nanoTime()
    for (d <- PriorDays + 1 to PriorDays + Days) table.day(d)
    val roundS = (System.nanoTime() - r0) / 1e9
    val roundCpu = (ctx.cpuNs() - cpu0) / 1e9
    val tt =
      if (ctx.traced) {
        ctx.probe.stopTracing()
        TraceTotals(roundS, ctx.probe.allSpans)
      } else TraceTotals(0.0, Nil)
    val heap = ctx.heap.peakMb()
    table.checkFinal()
    val counts = tableCounts(table)

    val s = ctx.samples
    val writes = s.of(WriteOps :+ "sink_commit")
    val reads = s.of(TimedReads)
    val e2e = Map("setup_s" -> setupS, "run_s" -> roundS, "cpu_s" -> roundCpu,
      "space_amp" -> counts("space_amp")) ++
      Stats.latencies(writes, reads, s("batch"))
    val layer =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val ckpt = table.commitMs.collect { case (v, ms) if v % TxLog.CheckpointInterval == 0 => ms }
        Main.zeroLayers ++
          Main.TxlogOps.map(o => s"gold.txlog.${o}_ms_p50" -> Stats.quantile(s(o), 0.5)) ++ Map(
            "gold.txlog.checkpoint_commit_ms" -> Stats.median(ckpt.toSeq),
            "gold.txlog.jobs_per_commit" -> tt.perOp(WriteOps, _.jobs),
            "gold.txlog.jobs_per_read" -> tt.perOp(ReadOps, _.jobs),
            "gold.txlog.range_read_files" -> tt.perOp(Seq("read_range", "read_format"), _.filesScanned),
            "gold.txlog.range_read_bytes" -> tt.perOp(Seq("read_range", "read_format"), _.bytesScanned),
            "plans.plan_s" -> tt.planS,
            "trace.run_s" -> tt.wallS,
            "trace.unattributed_jobs" -> ctx.probe.unattributedJobs.sum().toDouble,
            "fail_ratio" -> 0.0) ++
          streamingMetrics(table.drained.toSeq, tt, s("restart")) ++
          counts.filter(_._1.startsWith("gold.")) + ("live_heap_mb" -> heap)
      }
    val meta = Map(
      "days_per_round" -> Days, "versions_per_round" -> table.version,
      "samples" -> Map("write" -> writes.size, "read" -> reads.size, "batch" -> s("batch").size),
      "table_counts" -> counts)
    Result(table.attempted, 0L, e2e ++ layer, meta)
  }

  /** Micro-batch phases from the progress events; jobs and CPU from the drain spans. */
  private def streamingMetrics(batches: Seq[BatchProgress], tt: TraceTotals,
      restartMs: Seq[Double]): Map[String, Double] = {
    val drains = tt.spans.filter(_.name == "drain")
    val n = math.max(1, batches.size).toDouble
    Main.StreamPhases.map { case (name, key) =>
      s"streaming.${name}_ms_p50" -> Stats.median(batches.map(_.durations.getOrElse(key, 0L).toDouble))
    }.toMap ++ Map(
      "streaming.batches" -> batches.size.toDouble,
      "streaming.rows_per_batch" -> batches.map(_.rows).sum / n,
      "streaming.jobs_per_batch" -> drains.map(_.jobs).sum / n,
      "streaming.cpu_ms_per_batch" -> drains.map(_.cpuNs).sum / 1e6 / n,
      "streaming.restart_s" -> Stats.median(restartMs) / 1e3)
  }

  /** Count metrics of a finished round's table: exact for a seed. */
  private def tableCounts(t: Table): Map[String, Double] = {
    val snap = TxLog.snapshot(t.path)
    val dir = new File(t.path)
    val logBytes = Ctx.dirBytes(new File(dir, TxLog.LogDirName))
    val dataBytes = snap.files.map(f => new File(dir, f).length()).sum
    val userBytes = t.live.values.map(_.userBytes).sum
    Map(
      "space_amp" -> Ctx.dirBytes(dir).toDouble / dataBytes,
      "gold.txlog.files_live" -> snap.files.size.toDouble,
      "gold.txlog.dv_files_live" -> snap.dvs.size.toDouble,
      "gold.txlog.log_bytes_per_commit" -> logBytes.toDouble / (t.version + 1),
      "gold.txlog.data_bytes_per_user_byte" -> dataBytes.toDouble / userBytes)
  }
}
