package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.SyntheticImages
import graft.pipeline.DedupPipeline
import graft.sources.ParquetTableIO

/** The spark-submit entrypoint: runs end-to-end against a corpus path,
  * commits every stage through the TableIO seam, and a SECOND invocation
  * with the same workRoot resumes (reads committed stages instead of
  * recomputing — the ledger shows the resumed markers).
  */
class DedupJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("job runs via main(), commits stages, and resumes on re-invocation") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-job").toString
    SyntheticImages.materialize(spark, tmp, nFamilies = 60)
    val work = s"$tmp/work"

    System.setProperty("graft.master", "local[4]") // getOrCreate reuses the test session
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(DedupJob.main(Array(s"$tmp/images", work, "job_test")))
    val summary = out.toString.linesIterator.find(_.startsWith("[graft.DedupJob]"))
      .getOrElse(fail(s"no summary line in: $out"))

    val io = new ParquetTableIO(spark, work)
    Seq("fingerprints", "edges", "clusters", "cluster_stats")
      .foreach(t => assert(io.isCommitted(t), s"$t not committed"))
    val n1 = io.read("clusters").count()
    assert(n1 > 0)
    // dup_clusters, read from the committed stats, equals the count of
    // distinct clusters with more than one label row
    val dups = DedupPipeline.dupClusters(io.read("clusters")).select("cluster_id").distinct().count()
    assert(dups > 0)
    assert("""dup_clusters=(\d+)""".r.findFirstMatchIn(summary).map(_.group(1).toLong) === Some(dups),
      summary)

    // second run, same workRoot: every stage must resume from the ledger
    DedupJob.main(Array(s"$tmp/images", work, "job_test_2"))
    val resumed = io.read("audit")
      .filter(org.apache.spark.sql.functions.col("run_id") === "job_test_2")
      .filter(org.apache.spark.sql.functions.col("detail").contains("resumed"))
      .count()
    assert(resumed >= 4, s"expected >=4 resumed stage markers, got $resumed")
    assert(io.read("clusters").count() === n1)
  }
}
