package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.GraftConfig
import graft.pipeline.{Audit, DedupPipeline}
import graft.sources.ParquetTableIO

/** Production entrypoint (north_rule "runs via spark-submit"):
  *
  * {{{
  * spark-submit --class graft.DedupJob clonebasspark.jar \
  *   <imagesPath> <workRoot> [runId]
  * }}}
  *
  * No `.master(...)` is set — spark-submit / the cluster manager provides
  * it (the sandbox smoke test injects one via the `graft.master` system
  * property). All stage outputs and the audit ledger go through the
  * TableIO seam under `<workRoot>`; a re-run with the same workRoot
  * resumes from the last committed stage (north_rule "resumes from its
  * last committed checkpoint" — `Audit.stage` reads committed tables back
  * instead of recomputing; kill-and-rerun is exercised by `ResumeSpec` and
  * `DedupJobSpec`).
  *
  * Exit contract: prints one summary line
  * `[graft.DedupJob] rows=<n> clusters=<n> dup_clusters=<n> cc_iters=<n>`
  * and returns normally on success; any stage failure propagates as a
  * nonzero spark-submit exit.
  */
object DedupJob {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: DedupJob <imagesPath> <workRoot> [runId]")
    val input = args(0)
    val workRoot = args(1)
    val runId = if (args.length > 2) args(2) else "dedup"

    val builder = SparkSession.builder().appName(s"graft-dedup-$runId")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    sys.props.get("graft.master").foreach(builder.master) // sandbox smoke only
    val spark = builder.getOrCreate()

    val io = new ParquetTableIO(spark, workRoot)
    val audit = new Audit(spark, io, runId)
    // <imagesPath> is read as table `<name>` of a parquet TableIO rooted at
    // its parent directory (qualified first, so a relative path has a parent)
    val raw = new org.apache.hadoop.fs.Path(input)
    val inputPath = raw.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(raw)
    val images = DedupPipeline.ingest(
      new ParquetTableIO(spark, inputPath.getParent.toString), inputPath.getName)
    val res = DedupPipeline.run(images, GraftConfig(), audit = Some(audit))

    val nRows = res.clusters.count()
    val nClusters = res.stats.count()
    val nDup = res.stats.filter(col("n_members") > 1).count()
    println(s"[graft.DedupJob] rows=$nRows clusters=$nClusters dup_clusters=$nDup cc_iters=${res.ccIterations}")
  }
}
