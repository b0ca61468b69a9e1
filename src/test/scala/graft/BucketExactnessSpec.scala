package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftConfig, MinHashCore}
import graft.model.FingerprintRow
import graft.pipeline.Candidates

/** Randomized exactness characterization of the bucket joins (round-3
  * VERDICT #7): the candidate sets must EQUAL their mathematical definition
  * on random corpora — no pair missing (bucket key built from the wrong
  * bits) and no pair manufactured — and the salted hot-bucket rewrite must
  * produce the identical, exactly-once pair set. Block keys are the real
  * block values. Band keys are `MinHashCore.bandHashes` folds of a band's
  * lanes: a fold collision (p ~ 2^-64) could only add a candidate, which
  * the exact verify rejects, so at these sizes the candidate set is the
  * definition's. Deterministic seeds; 8 corpora per property.
  *
  * The characterizations use thresholds that pass every candidate
  * (sigma = 64 / tau = 0), so the output IS the candidate set:
  *  - simhash path: pair present ⟺ fingerprints share ≥ 1 identical
  *    pigeonhole block (the Manku-style candidate definition);
  *  - band path: pair present ⟺ the signatures of the two gram sets agree
  *    on ALL lanes of ≥ 1 band (the Broder banding definition).
  */
class BucketExactnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val nTrials = 8
  private val nRows = 36

  private def cfg(cap: Int) = GraftConfig(
    minhashK = 8, rowsPerBand = 2, nBlocks = 4, jaccardTau = 0.0,
    hotBucketCap = cap)

  /** simhash with each 16-bit block drawn from a small per-block pool, so
    * shared blocks actually occur on random draws.
    */
  private def mkSim(rnd: scala.util.Random, pools: Array[Array[Long]]): Long =
    (0 until 4).map { b =>
      pools(b)(rnd.nextInt(pools(b).length)) << (b * 16)
    }.reduce(_ | _)

  /** Each row's grams are 1-3 draws from a 6-value pool (sorted-distinct,
    * like the fingerprint stage's), so overlapping sets share bands and
    * identical sets engage the band pass's collapse.
    */
  private def rows(rnd: scala.util.Random): Seq[FingerprintRow] = {
    val pools = Array.fill(4)(Array.fill(6)(rnd.nextLong() & 0xffffL))
    val gramPool = Array.fill(6)(rnd.nextLong())
    (0 until nRows).map { i =>
      FingerprintRow(
        image_id = f"r$i%03d",
        simhash = mkSim(rnd, pools),
        grams = Array.fill(1 + rnd.nextInt(3))(gramPool(rnd.nextInt(gramPool.length)))
          .distinct.sorted,
        span = 100,
        group = "")
    }
  }

  private val perms = MinHashCore.permutations(cfg(0).minhashK, cfg(0).seed)

  private def sharedBlock(a: Long, b: Long): Boolean =
    (0 until 4).exists(i => ((a >>> (i * 16)) & 0xffffL) == ((b >>> (i * 16)) & 0xffffL))

  private def sharedBand(a: Array[Long], b: Array[Long]): Boolean =
    (0 until 4).exists(band =>
      a(band * 2) == b(band * 2) && a(band * 2 + 1) == b(band * 2 + 1))

  private def expected(rs: Seq[FingerprintRow], share: (FingerprintRow, FingerprintRow) => Boolean)
      : Set[(String, String)] =
    (for {
      i <- rs.indices; j <- rs.indices if i < j
      a = rs(i); b = rs(j) if share(a, b)
    } yield
      if (a.image_id < b.image_id) (a.image_id, b.image_id)
      else (b.image_id, a.image_id)).toSet

  private def collectPairs(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSeq

  test("simhash block candidates = definition, salted == unsalted, exactly once") {
    (1 to nTrials).foreach { trial =>
      val rnd = new scala.util.Random(1000 + trial)
      val rs = rows(rnd)
      val want = expected(rs, (a, b) => sharedBlock(a.simhash, b.simhash))
      import spark.implicits._
      val ds = rs.toDS()
      Seq(1000000, 2).foreach { cap => // cold-only vs forced-salting paths
        val got = collectPairs(
          Candidates.simhashPairs(ds, cfg(cap), sigma = 64, expandPairs = true))
        assert(got.distinct.length === got.length,
          s"trial $trial cap=$cap: duplicate pairs emitted")
        assert(got.toSet === want, s"trial $trial cap=$cap: simhash candidate set diverges")
      }
    }
  }

  test("minhash band candidates = definition, salted == unsalted, exactly once") {
    (1 to nTrials).foreach { trial =>
      val rnd = new scala.util.Random(2000 + trial)
      val rs = rows(rnd)
      assert(rs.map(_.grams.toSeq).distinct.length < rs.length,
        s"trial $trial: no identical gram sets, the collapse is not exercised")
      val sig = rs.map(r => r.image_id -> MinHashCore.signature(r.grams, perms)).toMap
      val want = expected(rs, (a, b) => sharedBand(sig(a.image_id), sig(b.image_id)))
      assert(want.nonEmpty, s"trial $trial: no band pairs, the test is vacuous")
      import spark.implicits._
      val ds = rs.toDS()
      Seq(1000000, 2).foreach { cap =>
        val got = collectPairs(Candidates.bandPairs(ds, cfg(cap), expandPairs = true))
        assert(got.distinct.length === got.length,
          s"trial $trial cap=$cap: duplicate pairs emitted")
        assert(got.forall { case (a, b) => a < b }, s"trial $trial cap=$cap: pair not a < b")
        assert(got.toSet === want, s"trial $trial cap=$cap: band candidate set diverges")
      }
    }
  }
}
