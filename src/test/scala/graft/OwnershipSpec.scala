package graft

import java.nio.file.Files
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
    */
  lazy val docsDir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (0 until 40).flatMap { _ =>
      val base = Vector.fill(40)(s"w${rnd.nextInt(300)}")
      Seq(base, base, base.updated(rnd.nextInt(40), "edit"))
    }.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    docs.toDF("doc_id", "text").write.parquet(s"$tmp/docs/documents.parquet")
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
    try for (q <- Seq("dedup_clusters_tiered", "dedup_ngram_jaccard", "dedup_clusters")) {
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

  test("two CC tiers cancelled mid-run leave no blocks and no global temp view") {
    import spark.implicits._
    val sc = spark.sparkContext
    // two 300-vertex paths: several batches each, so most jobs are loop jobs
    def path(p: String) = (0 until 300).map(i => f"$p$i%04d")
    val vertices = (path("a") ++ path("b")).toDF("image_id")
    val tiers = Seq("a", "b").map(p => p -> path(p).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("a", "b"))
    def globalViews() = spark.catalog.listTables("global_temp").collect().map(_.name).toSet

    // The tier threads inherit the job group; from its Nth job on, every job
    // of the group is cancelled, whichever tier runs it. Both tiers run 14
    // jobs: N = 8 fails the dictionary's checkpoint, 19 the empty-edge
    // probe, 21 and 25 the first and second batch, 23 the first probe.
    for (n <- Seq(8, 19, 21, 23, 25)) {
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
      try intercept[Exception](Clustering.tieredClustersResults(vertices, tiers))
      finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
      assert(persisted() === rddsBefore, s"cancelled at job $n: blocks left behind")
      assert(globalViews() === viewsBefore, s"cancelled at job $n: temp view left behind")
    }
  }
}
