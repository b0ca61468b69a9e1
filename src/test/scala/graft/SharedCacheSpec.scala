package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SampleExec

import graft.queries.Queries

/** Shared-cache eviction hygiene (round-3 VERDICT #5): the query suite's
  * per-(session, dir) caches (tiered clusters, audited pipeline run) hold
  * localCheckpoint blocks and parquet temp dirs; dropping the map entries
  * without freeing those leaks storage across repeated suite runs in one
  * session. `Queries.freeSharedCaches()` must return the session to its
  * pre-cache storage footprint.
  */
class SharedCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def auditTmpDirs(): Set[String] = {
    val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val s = java.nio.file.Files.list(root)
    try s.filter(p => p.getFileName.toString.startsWith("graft-audit-q"))
      .map[String](_.toString).toArray.map(_.toString).toSet
    finally s.close()
  }

  test("freeSharedCaches unpersists cached blocks and deletes audit temp dirs") {
    val sc = spark.sparkContext
    Queries.freeSharedCaches() // clean slate (other suites may have populated)
    val rddsBefore = sc.getPersistentRDDs.keySet
    val dirsBefore = auditTmpDirs()

    Queries.queries("dedup_tier_hist")(spark, dir).count()   // tiered cache
    Queries.queries("audit_stage_metrics")(spark, dir).count() // audited cache
    assert(sc.getPersistentRDDs.keySet.size > rddsBefore.size,
      "the tiered frame is expected to hold localCheckpoint blocks while cached")
    assert(auditTmpDirs().size === dirsBefore.size + 1,
      "the audited run is expected to own one temp dir while cached")

    Queries.freeSharedCaches()
    assert((sc.getPersistentRDDs.keySet -- rddsBefore).isEmpty,
      "storage footprint must be flat after eviction — no leaked blocks")
    assert(auditTmpDirs() === dirsBefore,
      "the audited run's temp tables must be deleted on eviction")

    // the caches must repopulate transparently after a free
    assert(Queries.queries("dedup_tier_hist")(spark, dir).count() > 0)
    Queries.freeSharedCaches()
  }

  test("the simhash pair queries reuse the tiered setup's pass: no bucket join of their own") {
    Queries.freeSharedCaches()
    try {
      Queries.queries("dedup_clusters_tiered")(spark, dir).count()
      for (q <- Seq("dedup_simhash_pairs", "dedup_simhash_pairs_diffgroup")) {
        // the plan as planned: AQE drops a bucket join's hot-key sample from
        // the final plan once the sampled hot set reads empty
        val plan = Queries.queries(q)(spark, dir).queryExecution.sparkPlan
        assert(plan.collect { case s: SampleExec => s }.isEmpty, s"$q samples hot keys:\n$plan")
      }
    } finally Queries.freeSharedCaches()
  }
}
