package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftConfig
import graft.fixtures.SyntheticImages
import graft.pipeline.{Audit, Clustering, DedupPipeline}
import graft.queries.Queries

/** Block ownership (pipeline/Materialize.scala): right after a run — no
  * forced GC — every RDD it left persisted backs a frame it returned or
  * cached, and a failed run leaves the session's persisted RDDs, global
  * temp views and job description as it found them.
  */
class OwnershipSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val tmp = Files.createTempDirectory("graft-ownership").toString
  lazy val images = SyntheticImages.materialize(spark, s"$tmp/corpus", nFamilies = 150)._1

  /** A `documents` table of 40-word families: two exact copies and a
    * one-word edit each, so both cluster tiers and the gram join have pairs.
    * Two sources, as the doc fingerprint frame groups by `source`.
    */
  lazy val docsDir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (0 until 40).flatMap { _ =>
      val base = Vector.fill(40)(s"w${rnd.nextInt(300)}")
      Seq(base, base, base.updated(rnd.nextInt(40), "edit"))
    }.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" "), s"s${i % 2}") }
    docs.toDF("doc_id", "text", "source").write.parquet(s"$tmp/docs/documents.parquet")
    s"$tmp/docs"
  }

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of every RDD the frames' plans read, through RDD dependencies. */
  private def reachable(frames: DataFrame*): Set[Int] = {
    def walk(r: RDD[_]): Set[Int] = r.dependencies.map(d => walk(d.rdd)).foldLeft(Set(r.id))(_ ++ _)
    frames.flatMap(_.queryExecution.logical.collect { case lr: LogicalRDD => walk(lr.rdd) })
      .flatten.toSet
  }

  test("DedupPipeline.run, audited or not: every block it persists backs a Result frame") {
    for (audited <- Seq(false, true)) {
      val before = persisted()
      val audit = if (audited) Some(new Audit(spark, s"$tmp/audit", runId = "own")) else None
      val res = DedupPipeline.run(images, GraftConfig(), audit)
      val frames = Seq(res.fingerprints.toDF(), res.edges, res.clusters, res.stats)
      frames.foreach(_.count())
      val orphans = persisted() -- before -- reachable(frames: _*)
      assert(orphans.isEmpty, s"audited=$audited: persisted RDDs $orphans back no Result frame")
    }
  }

  test("each shared setup's blocks back the frame it caches") {
    Queries.freeSharedCaches()
    // dedup_simhash first: it caches the doc fingerprints the tiered setup reads
    try for (q <- Seq("dedup_simhash", "dedup_simhash_pairs", "dedup_clusters_tiered",
                      "dedup_ngram_jaccard", "dedup_clusters")) {
      val before = persisted()
      val frame = Queries.queries(q)(spark, docsDir)
      assert(frame.count() > 0)
      val orphans = persisted() -- before -- reachable(frame)
      assert(orphans.isEmpty, s"$q: persisted RDDs $orphans back no cached frame")
    } finally Queries.freeSharedCaches()
  }

  test("a stage that throws restores the caller's job description") {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.setJobDescription("caller label")
    try {
      // no caption column: the fingerprint stage's body fails analysis
      intercept[Exception](DedupPipeline.run(Seq(("x", 1L)).toDF("image_id", "phash"), GraftConfig()))
      assert(sc.getLocalProperty("spark.job.description") === "caller label")
    } finally sc.setJobDescription(null)
  }

  /** The `spark.job.description` of every job one audited run with debug
    * dumps starts, in a fresh audit directory.
    */
  private def runLabels(auditDir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val input = images
    val group = s"stage-labels-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    // the group's description is the caller's label: a job left unlabelled
    // by the pipeline carries it
    sc.setJobGroup(group, "caller label")
    try {
      val audit = new Audit(spark, auditDir, runId = "labels")
      DedupPipeline.run(input, GraftConfig(debugDump = true), Some(audit))
      // one listener sees events in order: once the sentinel job is seen,
      // so is every job started before it
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
    } finally { sc.clearJobGroup(); sc.setJobDescription(null); sc.removeSparkListener(listener) }
    seen.asScala.toSeq.filter(_ != "sentinel")
  }

  test("every job of an audited run with debug dumps carries its stage label") {
    val labels = runLabels(s"$tmp/audit-labels")
    assert(labels.nonEmpty)
    assert(labels.forall(_.startsWith("graft: stage ")),
      s"jobs without a stage label: ${labels.filterNot(_.startsWith("graft: stage ")).distinct}")
    for (stage <- Seq("clusters", "cluster_stats", "debug_fingerprints", "debug_cluster_info"))
      assert(labels.contains(s"graft: stage $stage"), s"no job labelled $stage")

    // Job budget: a second, warm run starts at most this many jobs per
    // stage. A change that adds jobs to a stage must raise its bound here
    // and say why.
    val budget = Map("fingerprints" -> 2, "edges" -> 18, "clusters" -> 6,
      "cluster_stats" -> 4, "debug_fingerprints" -> 2, "debug_cluster_info" -> 5)
    val warm = runLabels(s"$tmp/audit-labels-warm")
      .groupBy(_.stripPrefix("graft: stage ")).map { case (stage, js) => stage -> js.size }
    assert(warm.keySet === budget.keySet, s"stages of the warm run: $warm")
    for ((stage, bound) <- budget)
      assert(warm(stage) <= bound, s"stage $stage ran ${warm(stage)} jobs, budget $bound: $warm")
  }

  test("two CC tiers cancelled mid-run leave no blocks and no global temp view") {
    import spark.implicits._
    val sc = spark.sparkContext
    // two 300-vertex paths: several rounds each, so most jobs are round jobs
    def path(p: String) = (0 until 300).map(i => f"$p$i%04d")
    val vertices = (path("a") ++ path("b")).toDF("image_id")
    val tiers = Seq("a", "b").map(p => p -> path(p).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("a", "b"))
    def globalViews() = spark.catalog.listTables("global_temp").collect().map(_.name).toSet

    // The tier threads inherit the job group; from its Nth job on, every job
    // of the group is cancelled, whichever tier runs it. Each tier runs 10
    // rounds, one job each, straight off its edges (jobs 1-20,
    // interleaved), then the stacked labels are materialized in 6 jobs:
    // N = 1 and 2 fail a first round, 10 a middle one, 20 the last one, 21
    // and 23 the label join.
    for (n <- Seq(1, 2, 10, 20, 21, 23)) {
      val group = s"cc-fault-$n-${System.nanoTime()}"
      val started = new AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group) &&
              started.incrementAndGet() == n) sc.cancelJobGroupAndFutureJobs(group)
      }
      val rddsBefore = persisted()
      val viewsBefore = globalViews()
      sc.addSparkListener(listener)
      sc.setJobGroup(group, "CC fault injection")
      try intercept[Exception](Clustering.tieredClusters(vertices, tiers))
      finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
      assert(persisted() === rddsBefore, s"cancelled at job $n: blocks left behind")
      assert(globalViews() === viewsBefore, s"cancelled at job $n: temp view left behind")
    }
  }
}
