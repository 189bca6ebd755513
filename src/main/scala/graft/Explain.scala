package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Dev tool: dump formatted physical plans for selected queries to check
  * pushdown / broadcast / codegen shape. Usage: runMain graft.Explain
  * [--run] [names...]. `--run` collects each query first and prints its
  * executed plan, the jobs it started (file-listing ones counted) and
  * each parquet scan's candidate and read file counts.
  */
object Explain extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    // Same session shape as Bench/Verify (SPARK_GRAFT_CPUS) — explained
    // plans must match the plans the harness actually executes.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = core.GraftSession
      .builder(master = s"local[$cpus]", appName = "graft-explain",
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional session-conf overrides (e.g. to explain a plan-choice knob's
    // OTHER branch): SPARK_GRAFT_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val run = args.contains("--run")
    val named = args.filterNot(_ == "--run").toSeq
    val names = if (named.nonEmpty) named else Seq(
      "q_a1_pricing_summary", "q_j1_enrich_defaults", "q_j3_sk_lookup",
      "q_w1_dedup_latest", "q_x_minhash_lsh", "q_x_cosine_topk",
      "q_x_novelty_score", "q_x_kmeans", "q_x_zorder_key")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      if (!run) SparkEntry.queries(n)(spark, dir).explain("formatted")
      else {
        val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val listener = new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(
            String.valueOf(e.properties.getProperty("spark.job.description")))
        }
        spark.sparkContext.addSparkListener(listener)
        val df = SparkEntry.queries(n)(spark, dir)
        df.collect()
        org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        df.explain("formatted")
        val listing = jobs.toArray.count(_.toString.startsWith("Listing leaf files"))
        println(s"-- jobs: ${jobs.size} (file-listing jobs: $listing)")
        collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
          println(s"-- scan ${s.relation.location.getClass.getSimpleName}: " +
            s"${s.relation.location.inputFiles.length} candidate files, " +
            s"${s.metrics("numFiles").value} read")
        }
      }
    }
    spark.stop()
  }
}
