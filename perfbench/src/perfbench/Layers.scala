package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftConfig
import graft.model.FingerprintRow
import graft.pipeline.{Audit, Candidates, Clustering, DedupPipeline, Fingerprints, Substring}
import graft.queries.Queries
import graft.sources.{ParquetTableIO, TableIO}

/** Every call the benchmark makes into the engine's layer signatures. When a
  * signature changes, this is the one file to adapt.
  */
object Layers {

  def tableIO(spark: SparkSession, root: String): TableIO = new ParquetTableIO(spark, root)

  def audit(spark: SparkSession, io: TableIO, runId: String): Audit = new Audit(spark, io, runId)

  def ingest(io: TableIO, table: String): DataFrame = DedupPipeline.ingest(io, table)

  /** Outcome of an untraced pipeline run: the labels, the edge stage's
    * output (counted after the timed part) and the cluster count.
    */
  final case class Run(labels: DataFrame, edges: DataFrame, clusters: Long)

  /** Untraced pipeline run: labels and cluster stats complete (committed
    * when audited).
    */
  def pipeline(images: DataFrame, audit: Option[Audit]): Run = {
    val res = DedupPipeline.run(images, GraftConfig(), audit)
    val nLabels = res.clusters.count()
    val nClusters = res.stats.count()
    require(nLabels >= nClusters, s"$nLabels labels for $nClusters clusters")
    Run(res.clusters, res.edges, nClusters)
  }

  /** True when the audit ledger records a converged CC run. */
  def ccConverged(a: Audit): Boolean =
    a.auditRows().filter(col("stage") === "cc_iterations").select("detail")
      .collect().map(_.getString(0)).exists(d => d.contains("converged") && !d.contains("NOT"))

  // ---- the layers of DedupPipeline.run, one function each ----

  def fingerprints(images: DataFrame, cfg: GraftConfig): DataFrame =
    Fingerprints.compute(images, cfg).toDF()

  def simhashPairs(fps: Dataset[FingerprintRow], cfg: GraftConfig): DataFrame =
    Candidates.simhashPairs(fps, cfg, cfg.sigmaHigh)

  def bandPairs(fps: Dataset[FingerprintRow], cfg: GraftConfig): DataFrame =
    Candidates.bandPairs(fps, cfg, minhashDerived = true)

  /** Representatives left after collapsing identical gram sets. */
  def gramRepresentatives(fps: Dataset[FingerprintRow]): DataFrame =
    Candidates.collapseExact(fps.toDF().select(col("image_id"), col("grams")), Seq("grams"))._1

  /** `allCandidates`' union of the two generators. This and `edgeUnion`
    * copy the pipeline's unions so the traced run can time them apart; a
    * traced run fails unless its edge and cluster counts equal those of
    * `DedupPipeline.run` on the same input.
    */
  def candidateUnion(sim: DataFrame, band: DataFrame): DataFrame =
    sim.withColumn("source", lit("simhash"))
      .unionByName(band.withColumn("source", lit("minhash_band")))
      .groupBy("a", "b").agg(min("source").as("source"))

  def substringPairs(fps: DataFrame, cfg: GraftConfig): DataFrame =
    Substring.substringPairs(fps.select(col("image_id"), col("caption_norm"), col("span")), cfg)

  /** The edge stage's union of candidates and substring pairs. */
  def edgeUnion(base: DataFrame, sub: DataFrame): DataFrame =
    base.unionByName(sub.withColumn("source", lit("substring")))
      .groupBy("a", "b").agg(min("source").as("source"))

  def connectedComponents(fps: DataFrame, edges: DataFrame): Clustering.CCResult =
    Clustering.connectedComponents(fps.select("image_id"), edges)

  def clusterStats(labels: DataFrame, fps: DataFrame): DataFrame =
    Clustering.clusterStats(labels, fps)

  // ---- queries ----

  /** Query names in the fixed suite order. */
  def queryNames: Seq[String] = Queries.queries.keys.toSeq.sorted

  def query(spark: SparkSession, name: String, dir: String): DataFrame =
    Queries.queries(name)(spark, dir)

  def freeSharedCaches(): Unit = Queries.freeSharedCaches()

  /** The two shared setups, in the order `Bench` runs them. */
  val sharedSetups: Seq[(String, String)] =
    Seq("audited_pipeline" -> "dedup_clusters", "tiered_clusters" -> "dedup_clusters_tiered")
}
