package medbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.runner.{MedallionPipeline, Pipeline}

/** medallion_daily: one full `MedallionPipeline.run()` over the seeded raw
  * CSVs of the five Meta tables, in a fresh JVM as a daily job runs it —
  * the reference's product and where its SLAs apply. A JVM measures one
  * cold run; runs of one seed in separate JVMs must print identical gold
  * content hashes.
  *
  * Per run:
  *  - write_ms: each pipeline task that writes a layer table
  *    (bronze_<t>, silver_<t>, gold_<t>), as the runner's report times it;
  *  - batch_ms: every pipeline task, the runner's unit of scheduled work;
  *  - read_ms: a consumer reading each gold table in full (row count and
  *    content hash), which is also the output check.
  *
  * A traced run wraps every task body of `MedallionPipeline.tasks` in a
  * span of its layer and runs them through `Pipeline.run` with the
  * pipeline's own parallelism.
  */
object MedallionDaily {

  val Users = 10000
  val IngestTs = s"${RawGen.RunDate} 02:00:00"
  val GoldTables = Seq("dim_user", "dim_date", "dim_dataset", "dim_competition", "dim_tag",
    "bridge_dataset_tag", "fact_competitions_yearly", "fact_tag_usage_daily",
    "fact_dataset_owner_daily")

  def layerOf(task: String): String =
    if (task == "gold_validate") "gold.dq"
    else if (task.startsWith("bronze_")) "bronze"
    else if (task.startsWith("silver_")) "silver"
    else if (task.startsWith("gold_")) "gold"
    else "runner"

  private def writesTable(task: String): Boolean =
    layerOf(task) match {
      case "bronze" => task != "bronze_report"
      case "silver" | "gold" => true
      case _ => false
    }

  /** A traced run: layer spans plus the runner's critical path. */
  private final case class TracedRun(wallS: Double, spans: Seq[Span], critical: Double,
      slotWait: Double, overlap: Double, path: Seq[String])

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val rawDir = ctx.dir("raw")
    var raw: RawGen.Raw = null
    val setupS = ctx.setups(3) { _ =>
      graft.core.Fs.rmTree(new File(rawDir))
      raw = RawGen.generate(rawDir, Users, ctx.seed)
      spark.range(1).count()
    }

    val out = ctx.dir("out")
    val mp = MedallionPipeline(spark, rawDir, out, runDate = RawGen.RunDate,
      ingestTs = IngestTs, pipelineRunId = "medbench")
    ctx.heap.start()
    val cpu0 = ctx.cpuNs()
    val t0 = System.nanoTime()
    val (report, traced) =
      if (ctx.traced) {
        val (r, tr) = tracedRun(ctx, mp, t0)
        (r, Some(tr))
      } else (mp.run(), None)
    val runS = (System.nanoTime() - t0) / 1e9
    val cpuS = (ctx.cpuNs() - cpu0) / 1e9
    report.results.foreach { r =>
      ctx.samples.add("batch", r.durationMs.toDouble)
      if (writesTable(r.name)) ctx.samples.add("write", r.durationMs.toDouble)
    }
    val attempted = report.results.size.toLong
    val failed = report.results.count(_.status != Pipeline.Succeeded).toLong
    ctx.check(report.succeeded, s"pipeline run failed:\n$report")
    val hashes =
      if (report.succeeded) checkGold(ctx, out, raw.expected) else Map.empty[String, (Long, Long)]
    val heap = ctx.heap.peakMb()
    val outBytes = Ctx.dirBytes(new File(out))
    val amp = outBytes.toDouble / raw.totalBytes

    val s = ctx.samples
    val e2e = Map("setup_s" -> setupS, "run_s" -> runS, "cpu_s" -> cpuS, "space_amp" -> amp) ++
      Stats.latencies(s("write"), s("read"), s("batch"))
    val layer = traced.map(layerMetrics(ctx, _, attempted, failed) + ("live_heap_mb" -> heap))
      .getOrElse(Map.empty)
    val meta = Map(
      "users" -> Users,
      "input_rows" -> raw.rows, "input_bytes" -> raw.bytes,
      "expected_gold_rows" -> raw.expected.rows,
      "output_bytes" -> outBytes,
      "samples" -> Map("write" -> s("write").size, "read" -> s("read").size,
        "batch" -> s("batch").size),
      "gold_hashes" -> hashes.map { case (t, (n, h)) => t -> s"$n:$h" },
      "critical_path" -> traced.map(_.path).getOrElse(Nil),
      "sla_margin" -> slaMargin(runS, traced))
    Result(attempted, failed, e2e ++ layer, meta)
  }

  /** Each task body wrapped in a span of its layer, run through the
    * pipeline's own runner and parallelism; returns the report and the
    * critical path through the DAG.
    */
  private def tracedRun(ctx: Ctx, mp: MedallionPipeline, t0: Long): (Pipeline.Report, TracedRun) = {
    ctx.probe.startTracing()
    val ends = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val spanOf = new java.util.concurrent.ConcurrentHashMap[String, Span]()
    val tasks = mp.tasks.map { t =>
      Pipeline.Task(t.name, t.deps, t.retries) { () =>
        val ready = (t0 +: t.deps.map(d => ends.get(d).longValue)).max
        val s = ctx.probe.open(layerOf(t.name), t.name, ready)
        try t.body()
        finally {
          ctx.probe.close(s)
          spanOf.put(t.name, s)
          ends.put(t.name, s.endNs)
        }
      }
    }
    val report = Pipeline.run(tasks, mp.alertSink, s"medallion-${mp.runDate}", mp.taskParallelism)
    val wallNs = System.nanoTime() - t0
    ctx.probe.stopTracing()
    val byName = mp.tasks.map(t => t.name -> t).toMap
    // walk back from the task that finished last through its latest-finishing dependency
    val path = mutable.ArrayBuffer.empty[Span]
    var cur = Option(spanOf.values().toArray(Array.empty[Span]).maxBy(_.endNs))
    while (cur.isDefined) {
      val s = cur.get
      path += s
      cur = byName(s.name).deps.flatMap(d => Option(spanOf.get(d))).maxByOption(_.endNs)
    }
    val spans = ctx.probe.allSpans
    val busy = spans.map(_.wallNs).sum
    (report, TracedRun(wallNs / 1e9, spans, path.map(_.wallNs).sum / 1e9,
      path.map(s => s.startNs - s.readyNs).sum / 1e9, busy.toDouble / wallNs,
      path.reverse.map(_.name).toSeq))
  }

  /** Row counts and sums against the generator's model; returns an
    * order-independent (rows, hash) per gold table.
    */
  private def checkGold(ctx: Ctx, out: String, exp: RawGen.Expected): Map[String, (Long, Long)] = {
    val spark = ctx.spark
    def read(t: String): (Long, Long) = {
      val df = spark.read.parquet(s"$out/gold/$t")
      val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(df.columns.sorted.map(col): _*)
        .cast("decimal(38,0)")), lit(0)).cast("string")).head()
      (r.getLong(0), BigInt(r.getString(1)).toLong)
    }
    val hashes = GoldTables.map(t => t -> ctx.samples.time("read")(read(t))).toMap
    exp.rows.foreach { case (t, n) =>
      ctx.check(hashes(t)._1 == n, s"gold $t has ${hashes(t)._1} rows, expected $n")
    }
    val owner = spark.read.parquet(s"$out/gold/fact_dataset_owner_daily")
      .agg(sum("datasets_count"), sum("total_views")).head()
    ctx.check(owner.getLong(0) == exp.datasetsCount,
      s"fact_dataset_owner_daily counts ${owner.getLong(0)} datasets, expected ${exp.datasetsCount}")
    ctx.check(owner.getLong(1) == exp.totalViews,
      s"fact_dataset_owner_daily sums ${owner.getLong(1)} views, expected ${exp.totalViews}")
    val usage = spark.read.parquet(s"$out/gold/fact_tag_usage_daily")
      .agg(sum("usage_count")).head().getLong(0)
    ctx.check(usage == exp.tagUsage, s"tag usage $usage, expected ${exp.tagUsage}")
    val comps = spark.read.parquet(s"$out/gold/fact_competitions_yearly")
      .agg(sum("competitions_count")).head().getLong(0)
    ctx.check(comps == exp.competitionsCount,
      s"competitions $comps, expected ${exp.competitionsCount}")
    hashes
  }

  /** Margins to the reference SLAs: silver→gold (gold + gold.dq wall, from
    * a traced run) under 10 min, end to end under 30 min.
    */
  private def slaMargin(runS: Double, traced: Option[TracedRun]): Map[String, Double] =
    Map("end_to_end_s" -> runS, "end_to_end_limit_s" -> 1800.0) ++
      traced.map(t => Map(
        "silver_to_gold_s" -> wallOf(t.spans.filter(s => s.layer == "gold" || s.layer == "gold.dq")),
        "silver_to_gold_limit_s" -> 600.0)).getOrElse(Map.empty)

  /** Seconds during which at least one of `spans` was running. */
  def wallOf(spans: Seq[Span]): Double = {
    var total, curEnd = 0L
    var curStart = -1L
    spans.sortBy(_.startNs).foreach { s =>
      if (curStart < 0 || s.startNs > curEnd) {
        if (curStart >= 0) total += curEnd - curStart
        curStart = s.startNs; curEnd = s.endNs
      } else curEnd = math.max(curEnd, s.endNs)
    }
    if (curStart >= 0) total += curEnd - curStart
    total / 1e9
  }

  private def layerMetrics(ctx: Ctx, run: TracedRun,
      attempted: Long, failed: Long): Map[String, Double] = {
    val layers = Main.MedallionLayers.flatMap { l =>
      val spans = run.spans.filter(_.layer == l)
      def sum(f: Span => Long): Double = spans.map(f).sum.toDouble
      Seq(
        s"$l.wall_s" -> wallOf(spans),
        s"$l.cpu_s" -> sum(_.cpuNs) / 1e9, s"$l.plan_s" -> sum(_.planNs) / 1e9,
        s"$l.jobs" -> sum(_.jobs), s"$l.tasks" -> sum(_.tasks),
        s"$l.task_wait_s" -> sum(_.taskWaitMs) / 1e3,
        s"$l.input_bytes" -> sum(_.inputBytes), s"$l.shuffle_bytes" -> sum(_.shuffleBytes),
        s"$l.output_bytes" -> sum(_.outputBytes), s"$l.files_written" -> sum(_.filesWritten),
        s"$l.gc_s" -> sum(_.gcMs) / 1e3, s"$l.spill_bytes" -> sum(_.spillBytes))
    }.toMap
    val runner = Map(
      "runner.critical_path_s" -> run.critical,
      "runner.slot_wait_s" -> run.slotWait,
      "runner.overlap" -> run.overlap,
      "plans.plan_s" -> run.spans.map(_.planNs).sum / 1e9,
      "trace.run_s" -> run.wallS,
      "trace.unattributed_jobs" -> ctx.probe.unattributedJobs.sum().toDouble,
      "fail_ratio" -> failed.toDouble / math.max(1L, attempted))
    Main.zeroLayers ++ layers ++ runner
  }
}
