package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{GenerateExec, SampleExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.core.{GraftConfig, MinHashCore, SimHashCore}
import graft.model.FingerprintRow
import graft.pipeline.{Candidates, Materialize, Substring}

/** Randomized exactness characterization of the bucket joins (round-3
  * VERDICT #7): the pair sets must EQUAL their mathematical definition on
  * random corpora — no pair missing (bucket key built from the wrong bits,
  * too few blocks) and no pair manufactured — and the salted hot-bucket
  * rewrite must produce the identical, exactly-once pair set. Deterministic
  * seeds.
  *
  *  - band path: at tau = 0 every candidate passes the verify, so the output
  *    IS the candidate set: pair present ⟺ the signatures of the two gram
  *    sets agree on ALL lanes of ≥ 1 band (the Broder banding definition).
  *    Band keys are `MinHashCore.bandHashes` folds of a band's lanes: a fold
  *    collision (p ~ 2^-64) could only add a candidate, which the exact
  *    verify rejects, so at these sizes the candidate set is the
  *    definition's. 8 corpora.
  *  - simhash path: the pass splits into sigma + 1 blocks, the fewest the
  *    pigeonhole argument allows, so at every sigma its output must equal
  *    the verify definition itself (Hamming <= sigma, span-compatible), at
  *    64 and 128 bits, cold and salted.
  *
  * `bucketSelfJoin` itself is one salted join: a planted hot bucket and
  * cold ones give exactly the brute-force same-key pairs through one inner
  * join, salted or not. `allCandidates` runs both generators through one
  * bucket join; it must equal the union of the standalone passes
  * (substring included, on planted caption substrings), and sample hot
  * keys once. One distance-tagged simhash pass at sigma 6 must
  * answer every sigma <= 6 and the cross-group listing by filters alone.
  */
class BucketExactnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val nTrials = 8
  private val nRows = 36

  private def cfg(cap: Int) = GraftConfig(
    minhashK = 8, rowsPerBand = 2, jaccardTau = 0.0,
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

  private val perms = MinHashCore.permutations(cfg(0).minhashK, MinHashCore.Seed)

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

  /** 16 four-bit blocks with sigma 15: block sharing and Hamming passes are
    * common on these corpora, so both sources yield pairs and overlap.
    */
  private def fusedCfg(cap: Int) = cfg(cap).copy(sigmaHigh = 15)

  /** Two chains of word-aligned caption substrings (prefix, infix, suffix)
    * on the first six rows, the span growing with the caption, so each
    * chain yields three substring pairs; the second chain runs against the
    * id order. Spans stay within 100-130, span-compatible with the rest.
    */
  private val plantedCaptions = Seq("red car parked", "old red car parked",
    "old red car parked outside", "two dogs chasing a ball here",
    "two dogs chasing a ball", "dogs chasing a ball")

  private def withCaptions(rs: Seq[FingerprintRow]): Seq[FingerprintRow] =
    rs.zipWithIndex.map { case (r, i) =>
      plantedCaptions.lift(i).fold(r)(c => r.copy(caption_norm = c, span = 100 + c.length))
    }

  test("allCandidates = standalone simhash ∪ band pairs, deduped by min(source)") {
    (1 to nTrials).foreach { trial =>
      val rs = withCaptions(rows(new scala.util.Random(3000 + trial)))
      import spark.implicits._
      val ds = rs.toDS()
      Seq(1000000, 2).foreach { cap =>
        val c = fusedCfg(cap)
        val sim = collectPairs(Candidates.simhashPairs(ds, c, c.sigmaHigh)).toSet
        val band = collectPairs(Candidates.bandPairs(ds, c)).toSet
        val sub = collectPairs(Substring.substringPairs(
          ds.toDF().select("image_id", "caption_norm", "span"), c)).toSet
        assert(sim.nonEmpty && band.nonEmpty && (sim & band).nonEmpty && sub.nonEmpty,
          s"trial $trial cap=$cap: the sources do not overlap, the test is vacuous")
        val want = (sim.map(_ -> "simhash") ++ band.map(_ -> "minhash_band") ++
          sub.map(_ -> "substring"))
          .groupBy(_._1).map { case (p, tagged) => p -> tagged.map(_._2).min }
        val got = Candidates.allCandidates(ds, c).select("a", "b", "source").collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toSeq
        assert(got.map(_._1).distinct.length === got.length,
          s"trial $trial cap=$cap: duplicate pairs emitted")
        assert(got.toMap === want, s"trial $trial cap=$cap: allCandidates diverges")
      }
    }
  }

  test("allCandidates samples hot keys once: one bucket join for both generators") {
    import spark.implicits._
    val df = Candidates.allCandidates(rows(new scala.util.Random(4000)).toDS(), fusedCfg(2))
    df.collect()
    // AQE-aware walk: descends into query stages, not into reused exchanges
    object Plans extends AdaptiveSparkPlanHelper
    val samples = Plans.collect(df.queryExecution.executedPlan) { case s: SampleExec => s }
    assert(samples.length === 1, df.queryExecution.executedPlan.toString)
  }

  test("bucketSelfJoin: one inner join, no union; a planted hot bucket is salted, exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7000)
    val rs = (0 until 200).map(i => (f"h$i%03d", 0L)) ++ // planted hot bucket
      (1 to 50).flatMap(k => (0 until 1 + rnd.nextInt(4)).map(i => (s"c${k}_$i", k.toLong)))
    val want = (for ((a, ka) <- rs; (b, kb) <- rs if ka == kb && a < b) yield (a, b)).toSet
    object Plans extends AdaptiveSparkPlanHelper
    for (cap <- Seq(20, Int.MaxValue)) {
      val df = Candidates.bucketSelfJoin(rs.toDF("image_id", "key"), Seq("key"), cap)
      val got = df.collect() // this frame's own plan carries the run's metrics
        .map(r => (r.getAs[String]("l_image_id"), r.getAs[String]("r_image_id"))).toSeq
      assert(got.distinct.length === got.length, s"cap $cap: duplicate pairs")
      assert(got.toSet === want, s"cap $cap: pairs diverge")
      val plan = df.queryExecution.executedPlan
      assert(Plans.collect(plan) { case u: UnionExec => u }.isEmpty, plan.toString)
      assert(Plans.collect(plan) { case j: BaseJoinExec if j.joinType == Inner => j }.length === 1,
        plan.toString)
      // the right side's salt replication: > 1 replica per row only if salted
      val replicas = Plans.collect(plan) { case g: GenerateExec => g.metrics("numOutputRows").value }
      assert(replicas.length === 1, plan.toString)
      if (cap == 20) assert(replicas.head > rs.length, "cap 20: the hot bucket is not salted")
      else assert(replicas.head === rs.length, "uncapped: a bucket was salted")
    }
  }

  /** 16 random fingerprints of `bits` bits, each planted 1-4 times with 0-6
    * random bit flips anywhere in the full width, so copies sit at Hamming
    * 0-12 from each other, some exactly equal; spans 100/120/140 make some
    * near pairs span-incompatible.
    */
  private def flipped(rnd: scala.util.Random, bits: Int): Seq[FingerprintRow] =
    (0 until 16).flatMap { f =>
      val (hi, lo) = (rnd.nextLong(), if (bits == 128) rnd.nextLong() else 0L)
      (0 until 1 + rnd.nextInt(4)).map { v =>
        var (h, l) = (hi, lo)
        (0 until rnd.nextInt(7)).foreach { _ =>
          val b = rnd.nextInt(bits)
          if (b < 64) h ^= 1L << b else l ^= 1L << (b - 64)
        }
        FingerprintRow(f"r$f%02d_$v", h, Array.emptyLongArray,
          Seq(100, 120, 140)(rnd.nextInt(3)), "", l)
      }
    }

  test("simhash pairs at sigma 0-3 = brute-force Hamming <= sigma, span-compatible") {
    import spark.implicits._
    val sigmas = 0 to 6
    for (bits <- Seq(64, 128); trial <- 1 to 2) {
      val rs = flipped(new scala.util.Random(5000 + 10 * bits + trial), bits)
      def ham(a: FingerprintRow, b: FingerprintRow) =
        java.lang.Long.bitCount(a.simhash ^ b.simhash) +
          java.lang.Long.bitCount(a.simhash_lo ^ b.simhash_lo)
      val want = sigmas.map(s => expected(rs, (a, b) =>
        ham(a, b) <= s && SimHashCore.spanCompatible(a.span, b.span)))
      assert(Seq(0, 3, 6).map(want).distinct.length === 3,
        s"bits $bits trial $trial: the pairs do not grow with sigma")
      val ds = rs.toDS()
      for (cap <- Seq(GraftConfig().hotBucketCap, 2); sigma <- sigmas) { // cold vs salted
        val got = collectPairs(Candidates.simhashPass(
          ds, GraftConfig(bits = bits, hotBucketCap = cap), sigma).listing(sigma))
        assert(got.distinct.length === got.length,
          s"bits $bits trial $trial cap $cap sigma $sigma: duplicate pairs")
        assert(got.toSet === want(sigma),
          s"bits $bits trial $trial cap $cap sigma $sigma: pairs diverge")
      }
    }
  }

  test("one tagged pass at sigma 6: each d <= s listing and the cross-group one = brute force") {
    import spark.implicits._
    for (bits <- Seq(64, 128); trial <- 1 to 2) {
      val rnd = new scala.util.Random(6000 + 10 * bits + trial)
      val base = flipped(rnd, bits).map(_.copy(group = s"g${rnd.nextInt(2)}"))
      // exact copies: one in its original's group (collapsed into it), one
      // in a third group (a cross-group pair at d = 0)
      val rs = base ++ base.take(6).flatMap(r => Seq(
        r.copy(image_id = r.image_id + "s"), r.copy(image_id = r.image_id + "x", group = "g2")))
      def ham(a: FingerprintRow, b: FingerprintRow) =
        java.lang.Long.bitCount(a.simhash ^ b.simhash) +
          java.lang.Long.bitCount(a.simhash_lo ^ b.simhash_lo)
      def want(s: Int, crossOnly: Boolean) = expected(rs, (a, b) =>
        ham(a, b) <= s && SimHashCore.spanCompatible(a.span, b.span) &&
          (!crossOnly || a.group != b.group))
      assert(Set(want(3, crossOnly = false), want(3, crossOnly = true), Set.empty).size === 3,
        s"bits $bits trial $trial: no cross- and same-group pairs, the test is vacuous")
      for (cap <- Seq(GraftConfig().hotBucketCap, 2)) { // cold vs salted
        val m = Materialize(Candidates.simhashPass(
          rs.toDS(), GraftConfig(bits = bits, hotBucketCap = cap), 6).rows)
        try {
          val pass = Candidates.SimhashPass(m.df)
          for (s <- 0 to 6) {
            val got = collectPairs(pass.listing(s))
            assert(got.distinct.length === got.length,
              s"bits $bits trial $trial cap $cap s $s: duplicate pairs")
            assert(got.toSet === want(s, crossOnly = false),
              s"bits $bits trial $trial cap $cap s $s: pairs diverge")
          }
          val cross = collectPairs(pass.listing(3).filter($"cross"))
          assert(cross.distinct.length === cross.length,
            s"bits $bits trial $trial cap $cap: duplicate cross-group pairs")
          assert(cross.toSet === want(3, crossOnly = true),
            s"bits $bits trial $trial cap $cap: cross-group pairs diverge")
        } finally m.release()
      }
    }
  }
}
