package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftConfig
import graft.pipeline.{Audit, DedupPipeline}
import graft.queries.Queries
import graft.sources.ParquetTableIO

/** Flag-gated debug dump sinks (SURVEY.md §2.1 S5): with
  * `debugDump = true` and an Audit attached, the pipeline writes
  * `debug_fingerprints` and `debug_cluster_info` tables through the TableIO
  * seam — the analogue of the reference's fingerprints.txt / cset_info.txt
  * (/root/reference/EigenWord.cpp:47-69, CloneSet.cpp:174-177). Off by
  * default: no debug tables, identical pipeline output.
  */
class DebugDumpSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val cfg: GraftConfig = Queries.docCfg.copy(debugDump = true)

  def corpus() = Seq(
    ("a1", "the quick brown fox jumps over the lazy dog near the river", 0L),
    ("a2", "the quick brown fox jumps over the lazy dog near the river", 0L),
    ("b1", "completely unrelated caption about mountains and snow peaks", 0L),
    ("c1", "another standalone caption describing a city street at night", 0L)
  ).toDF("image_id", "caption", "phash")

  test("debugDump=true writes committed fingerprint + clone-set dump tables") {
    val root = java.nio.file.Files.createTempDirectory("graft-dump").toString
    val io = new ParquetTableIO(spark, root)
    val audit = new Audit(spark, io, runId = "dump_test")
    val res = DedupPipeline.run(corpus(), cfg, audit = Some(audit))

    assert(io.isCommitted("debug_fingerprints"))
    assert(io.isCommitted("debug_cluster_info"))

    // fingerprint dump: one row per fingerprinted input, hex roundtrips
    val fpDump = io.read("debug_fingerprints").collect()
      .map(r => r.getAs[String]("image_id") -> r.getAs[String]("simhash_hex")).toMap
    val fps = res.fingerprints.collect().map(f => f.image_id -> f.simhash).toMap
    assert(fpDump.keySet === fps.keySet)
    fpDump.foreach { case (id, hexStr) =>
      assert(hexStr.length === 16)
      assert(java.lang.Long.parseUnsignedLong(hexStr, 16) === fps(id))
    }

    // clone-set dump: one row per member of each multi-member cluster
    val csDump = io.read("debug_cluster_info").collect()
      .map(r => (r.getAs[String]("cluster_id"), r.getAs[String]("image_id"),
        r.getAs[Long]("cluster_size"))).toSet
    val dup = DedupPipeline.dupClusters(res.clusters).collect()
      .map(r => (r.getAs[String]("cluster_id"), r.getAs[String]("image_id"),
        r.getAs[Long]("cluster_size"))).toSet
    assert(csDump === dup)
    assert(csDump.nonEmpty, "fixture plants one exact-dup pair")
    assert(csDump.forall(_._3 > 1), "cset_info never lists singletons")
  }

  test("128-bit mode dumps the full 32-char fingerprint (hi ++ lo)") {
    val root = java.nio.file.Files.createTempDirectory("graft-dump128").toString
    val io = new ParquetTableIO(spark, root)
    val audit = new Audit(spark, io, runId = "dump128_test")
    val cfg128 = cfg.copy(bits = 128)
    val res = DedupPipeline.run(corpus(), cfg128, audit = Some(audit))
    val fps = res.fingerprints.collect()
      .map(f => f.image_id -> ((f.simhash, f.simhash_lo))).toMap
    val fpDump = io.read("debug_fingerprints").collect()
      .map(r => r.getAs[String]("image_id") -> r.getAs[String]("simhash_hex")).toMap
    assert(fpDump.keySet === fps.keySet)
    fpDump.foreach { case (id, hexStr) =>
      assert(hexStr.length === 32, "both 64-bit words, zero-padded")
      assert(java.lang.Long.parseUnsignedLong(hexStr.take(16), 16) === fps(id)._1)
      assert(java.lang.Long.parseUnsignedLong(hexStr.drop(16), 16) === fps(id)._2)
    }
  }

  test("debugDump=false (default) writes no debug tables") {
    val root = java.nio.file.Files.createTempDirectory("graft-nodump").toString
    val io = new ParquetTableIO(spark, root)
    val audit = new Audit(spark, io, runId = "nodump_test")
    DedupPipeline.run(corpus(), cfg.copy(debugDump = false), audit = Some(audit))
    assert(!io.isCommitted("debug_fingerprints"))
    assert(!io.isCommitted("debug_cluster_info"))
  }
}
