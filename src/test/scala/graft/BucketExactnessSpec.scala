package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftConfig
import graft.model.FingerprintRow
import graft.pipeline.Candidates

/** Randomized exactness characterization of the bucket joins (round-3
  * VERDICT #7): the block/band keys were chosen to be collision-free (real
  * column values, lane arrays — never a folded 64-bit key), so the
  * candidate sets must EQUAL their mathematical definition on random
  * corpora — no pair missing (bucket key built from the wrong bits) and no
  * pair manufactured (key collision) — and the salted hot-bucket rewrite
  * must produce the identical, exactly-once pair set. Deterministic seeds;
  * 20 corpora per property.
  *
  * The characterizations use thresholds that pass every candidate
  * (sigma = 64 / tau = 0), so the output IS the candidate set:
  *  - simhash path: pair present ⟺ fingerprints share ≥ 1 identical
  *    pigeonhole block (the Manku-style candidate definition);
  *  - band path: pair present ⟺ signatures agree on ALL lanes of ≥ 1 band
  *    (the Broder banding definition).
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

  private def rows(rnd: scala.util.Random): Seq[FingerprintRow] = {
    val pools = Array.fill(4)(Array.fill(6)(rnd.nextLong() & 0xffffL))
    val lanePool = Array.fill(5)(rnd.nextLong())
    (0 until nRows).map { i =>
      FingerprintRow(
        image_id = f"r$i%03d",
        simhash = mkSim(rnd, pools),
        minhash = Array.fill(8)(lanePool(rnd.nextInt(lanePool.length))),
        grams = Array(i * 2L, i * 2L + 1), // unique per row: no collapse, J=0
        span = 100,
        group = "")
    }
  }

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

  test("derived-minhash band path == shuffled-minhash path on real fingerprints") {
    // round-6: the pipeline passes minhashDerived=true so the 512 B/row
    // signature column is recomputed per representative instead of shuffled
    // through the collapse — valid exactly when minhash = signature(grams),
    // which is true for fingerprint-stage rows by construction. Pin the two
    // paths identical on REAL fingerprints (captions with planted near-dups
    // and exact dups so collapse, banding, and verify all engage).
    val caps = (0 until 40).map {
      case i if i % 4 == 0 => s"a bright red vintage car parked beside harbor wall number ${i / 8}"
      case i if i % 4 == 1 => s"a bright red vintage car parked beside harbor wall number ${i / 8} today"
      case i => s"totally unrelated caption about topic $i with distinct words w$i x$i"
    }
    import spark.implicits._
    val images = caps.zipWithIndex
      .map { case (c, i) => (f"d$i%03d", c, 0L) }
      .toDF("image_id", "caption", "phash")
    val fps = graft.pipeline.Fingerprints.compute(images, GraftConfig())
      .toDF().localCheckpoint(true).as[FingerprintRow](
        org.apache.spark.sql.Encoders.product[FingerprintRow])
    val derivedRows = collectPairs(
      Candidates.bandPairs(fps, GraftConfig(), expandPairs = true, minhashDerived = true))
    val shuffledRows = collectPairs(
      Candidates.bandPairs(fps, GraftConfig(), expandPairs = true))
    // the exact dups engage the collapse, so these pin the star expansion
    // itself: no duplicate and no self-pair
    Seq(derivedRows, shuffledRows).foreach { rows =>
      assert(rows.distinct.length === rows.length, "duplicate pairs emitted")
      assert(rows.forall { case (a, b) => a < b }, "pair not ordered a < b")
    }
    val derived = derivedRows.toSet
    assert(derived === shuffledRows.toSet)
    assert(derived.nonEmpty, "fixture must produce band pairs or the test is vacuous")
  }

  test("minhash band candidates = definition, salted == unsalted, exactly once") {
    (1 to nTrials).foreach { trial =>
      val rnd = new scala.util.Random(2000 + trial)
      val rs = rows(rnd)
      val want = expected(rs, (a, b) => sharedBand(a.minhash, b.minhash))
      import spark.implicits._
      val ds = rs.toDS()
      Seq(1000000, 2).foreach { cap =>
        val got = collectPairs(Candidates.bandPairs(ds, cfg(cap), expandPairs = true))
        assert(got.distinct.length === got.length,
          s"trial $trial cap=$cap: duplicate pairs emitted")
        assert(got.toSet === want, s"trial $trial cap=$cap: band candidate set diverges")
      }
    }
  }
}
