package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{FingerprintHasher, GraftConfig}
import graft.pipeline.Fingerprints

/** The allocation-free [[FingerprintHasher]] must be BIT-IDENTICAL to the
  * reference-shaped [[Fingerprints.fingerprintOf]] — the Spark stage runs
  * the former, the sequential oracle and the fidelity goldens pin the
  * latter, and every value-parity argument rests on them agreeing. Checked
  * as a property over adversarial captions (unicode incl. supplementary
  * plane, punctuation runs, dup words, <=k tokens, empty) at both
  * fingerprint widths and with the PHASH-weight-0 text config.
  */
class FastFingerprintSpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  private val words = Gen.oneOf(
    "car", "Car", "DOG", "ball", "Straße", "naïve", "кошка", "日本語",
    "ﬁsh", "a", "7", "x9", "émigré", "é́", "𝒜", // 𝒜
    "\ud800", "mañana", "grass", "the", "the") // incl. unpaired surrogate, dups
  private val captions: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Gen.const("   "),
    Gen.const("!!! ,,, ..."),
    words,
    Gen.listOf(words).map(_.mkString(" ")),
    Gen.listOf(Gen.oneOf(words, Gen.const("  "), Gen.const("—"), Gen.const("…")))
      .map(_.mkString(" ")),
    Gen.listOfN(60, words).map(_.mkString(" ")))

  private def checkParity(cfg: GraftConfig): Unit = {
    val hasher = new FingerprintHasher(cfg)
    check(Prop.forAll(captions, Gen.choose(Long.MinValue, Long.MaxValue)) {
      (cap: String, phash: Long) =>
        val want = Fingerprints.fingerprintOf("id", cap, phash, "", cfg)
        val got = hasher.fingerprint(cap, phash)
        (got.simhash == want.simhash) :| s"simhash cap=$cap" &&
        (got.simhashLo == want.simhash_lo) :| s"simhash_lo cap=$cap" &&
        (got.span == want.span) :| s"span cap=$cap" &&
        (got.norm == graft.core.Shingling.normalize(cap)) :| s"norm cap=$cap" &&
        (got.grams.toSeq == want.grams.toSeq) :| s"grams cap=$cap"
    })
  }

  test("64-bit production config: hasher == fingerprintOf") {
    checkParity(GraftConfig())
  }

  test("128-bit reference-exact config: hasher == fingerprintOf") {
    checkParity(GraftConfig(bits = 128))
  }

  test("text config (PHASH weight 0, k=3): hasher == fingerprintOf") {
    checkParity(GraftConfig(shingleK = 3,
      weights = GraftConfig.defaultWeights + ("PHASH" -> 0), minSpan = 12,
      sigmaHigh = 3, jaccardTau = 0.5))
  }

  test("scratch-state reuse: interleaved long/short/empty rows stay exact") {
    val cfg = GraftConfig()
    val hasher = new FingerprintHasher(cfg)
    val caps = Seq(
      ("big " * 200).trim, "", "one", "a b", ("кошка 日本語 " * 50).trim, "tiny")
    caps.zipWithIndex.foreach { case (cap, i) =>
      val want = Fingerprints.fingerprintOf(s"r$i", cap, i.toLong * 7919, "", cfg)
      val got = hasher.fingerprint(cap, i.toLong * 7919)
      assert(got.simhash === want.simhash, s"row $i")
      assert(got.grams.toSeq === want.grams.toSeq, s"row $i")
    }
  }
}
