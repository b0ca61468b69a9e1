package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftConfig, SimHashCore}
import graft.fixtures.SyntheticImages
import graft.model.FingerprintRow
import graft.oracle.ReferenceOracle
import graft.pipeline.{Candidates, DedupPipeline}

/** E2E at the reference's NATIVE 128-bit fingerprint width
  * (GraftConfig.bits = 128): the distributed path — (hi, lo) column pair,
  * split bit-blocks over both words, bit_count(hi^hi') + bit_count(lo^lo')
  * verify — must (a) exactly reproduce brute-force all-pairs Hamming-128
  * candidates, and (b) reproduce the sequential reference oracle's clusters
  * (ReferenceOracle.cluster128, the greedy clique loop of
  * /root/reference/SimHasher.cpp:149-192 over the full 128-bit bitset,
  * EigenWord.cpp:17-26) with dup-pair recall 1.0.
  */
class Fingerprint128Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val tmp = java.nio.file.Files.createTempDirectory("graft-128").toString
  val cfg: GraftConfig = GraftConfig(bits = 128, sigmaHigh = 2)

  lazy val corpus = SyntheticImages.materialize(spark, tmp, nFamilies = 200)
  lazy val result: DedupPipeline.Result = DedupPipeline.run(corpus._1, cfg)
  lazy val fps: Array[FingerprintRow] = result.fingerprints.collect()

  test("128-bit mode populates both fingerprint words") {
    assert(fps.nonEmpty)
    assert(fps.exists(_.simhash_lo != 0L), "lo word should be live in 128-bit mode")
    // and matches the pure core recomputation per row
    val byId = corpus._1.select("image_id", "caption", "phash").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    fps.take(50).foreach { f =>
      val (cap, ph) = byId(f.image_id)
      val want = graft.pipeline.Fingerprints.fingerprintOf(f.image_id, cap, ph, "", cfg)
      assert((f.simhash, f.simhash_lo) === ((want.simhash, want.simhash_lo)), f.image_id)
    }
  }

  test("distributed 128-bit simhash pairs equal brute-force all-pairs Hamming128") {
    val brute = (for {
      i <- fps.indices.iterator
      j <- (i + 1) until fps.length
      if SimHashCore.spanCompatible(fps(i).span, fps(j).span, cfg.spanRatio)
      if SimHashCore.hamming128((fps(i).simhash, fps(i).simhash_lo),
        (fps(j).simhash, fps(j).simhash_lo)) <= cfg.sigmaHigh
    } yield {
      val (a, b) = (fps(i).image_id, fps(j).image_id)
      if (a < b) (a, b) else (b, a)
    }).toSet
    val got = Candidates.simhashPairs(result.fingerprints, cfg, cfg.sigmaHigh,
        expandPairs = true)
      .collect().map(r => (r.getString(0), r.getString(1)))
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    assert(got === brute)
    assert(brute.nonEmpty, "fixture should contain 128-bit near-dup pairs")
  }

  test("dup-pair recall vs the 128-bit reference oracle is 1.0") {
    val items = fps.sortBy(_.image_id)
      .map(f => ReferenceOracle.Item128(f.image_id, f.simhash, f.simhash_lo, f.span))
      .toIndexedSeq
    val oracle = ReferenceOracle.cluster128(items, cfg.sigmaHigh, cfg)._2
    val predicted = result.clusters.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val recall = ReferenceOracle.dupPairRecall(oracle, predicted)
    info(s"128-bit oracle clusters: ${oracle.size}, recall: $recall")
    assert(oracle.nonEmpty)
    assert(recall === 1.0)
  }
}
