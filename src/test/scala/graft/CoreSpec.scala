package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Golden + algebraic tests for the pure core (FIXTURES.md §B).
  *
  * The MM/FP literals were produced by compiling the reference's vendored
  * public-domain MurmurHash3.cpp together with a line-for-line transcription
  * of the reference's bitset fold (/root/reference/EigenWord.cpp:17-26,39-44,
  * 46-74) and running it on these inputs — pinning bit-exact parity without
  * copying any reference code into the build.
  */
class Murmur3x64Spec extends AnyFunSuite {
  private def u(hex: String): Long = java.lang.Long.parseUnsignedLong(hex, 16)

  val golden: Seq[(String, Long, Long)] = Seq(
    ("", u("ba40248a08c6bdfa"), u("46d299dc0099ce04")),
    ("a", u("98f47f7303d4fd01"), u("1eb90b48dda267e8")),
    ("abc", u("a27cbfbb80044702"), u("0fd6fc147d3390eb")),
    ("hello world", u("bd04385a9e73cc2d"), u("f74d4f73880ef34a")),
    ("g:the quick fox", u("c3f5f0a43fe9ec0b"), u("85aafc507c6ad5a9")),
    ("ph3:a", u("b8a8aa8002c9b0e3"), u("29f44814d79a337a")),
    ("BinaryOperator BO_+", u("0af647214fdd036b"), u("d71442eec279a764")),
    ("0123456789abcdef", u("f4a4669a8b3c3ae2"), u("1add0fbe4ded4497")), // 16-byte block, no tail
    ("0123456789abcdefg", u("c70540f3900949fc"), u("0aeb8b913b286e18")) // block + 1-byte tail
  )

  test("murmur3_x64_128 matches reference binary at seed 0x97c29b3a") {
    golden.foreach { case (s, h1, h2) =>
      assert(Murmur3x64.hash128(s, SimHashCore.Seed) === ((h1, h2)), s"input '$s'")
    }
  }
}

class SimHashCoreSpec extends AnyFunSuite {
  private def u(hex: String): Long = java.lang.Long.parseUnsignedLong(hex, 16)

  test("simhash128 golden fingerprint matches reference fold (sum<=1 rule, bit layout)") {
    val stream = Seq(("g:the quick fox", 3), ("g:quick fox jumps", 3), ("w:fox", 1), ("noise", 0))
    assert(SimHashCore.simhash128(stream) === ((u("c251902426a9a800"), u("858a8c505840d021"))))
  }

  test("single shingle: weight <= 1 gives all-zero fingerprint (EigenWord.cpp:58)") {
    assert(SimHashCore.simhash64(Seq(("hello world", 1))) === 0L)
    assert(SimHashCore.simhash64(Seq(("hello world", 0))) === 0L)
    assert(SimHashCore.simhash128(Seq(("hello world", 1))) === ((0L, 0L)))
  }

  test("single shingle: weight >= 2 reproduces the hash bits exactly") {
    val h1 = Murmur3x64.hash64("hello world", SimHashCore.Seed)
    assert(SimHashCore.simhash64(Seq(("hello world", 2))) === h1)
    assert(SimHashCore.simhash64(Seq(("hello world", 7))) === h1)
  }

  test("zero-weight shingles never change the fingerprint") {
    val base = Seq(("g:a b c", 3), ("g:b c d", 2))
    val noisy = base ++ Seq(("zzz", 0), ("yyy", 0), ("g:a b c", 0))
    assert(SimHashCore.simhash64(noisy) === SimHashCore.simhash64(base))
  }

  test("fingerprint invariant under shingle permutation") {
    val s = Seq(("g:a b", 3), ("g:b c", 2), ("w:a", 1), ("ph0:f", 2))
    assert(SimHashCore.simhash64(s.reverse) === SimHashCore.simhash64(s))
    assert(SimHashCore.simhash128(s.reverse) === SimHashCore.simhash128(s))
  }

  test("mergeSums is the same as sequential fold (partial aggregation safety)") {
    val s = Seq(("g:a b", 3), ("g:b c", 2), ("w:a", 1), ("ph0:f", 2), ("g:c d", 3))
    val (left, right) = s.splitAt(2)
    val a = new Array[Int](64); left.foreach { case (w, wt) => SimHashCore.addShingle64(a, w, wt) }
    val b = new Array[Int](64); right.foreach { case (w, wt) => SimHashCore.addShingle64(b, w, wt) }
    assert(SimHashCore.finish64(SimHashCore.mergeSums(a, b)) === SimHashCore.simhash64(s))
  }

  test("hamming is a metric on sampled fingerprints") {
    val rng = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val x = rng.nextLong(); val y = rng.nextLong(); val z = rng.nextLong()
      assert(SimHashCore.hamming(x, x) === 0)
      assert(SimHashCore.hamming(x, y) === SimHashCore.hamming(y, x))
      assert(SimHashCore.hamming(x, z) <= SimHashCore.hamming(x, y) + SimHashCore.hamming(y, z))
    }
  }

  test("span prefilter boundary arithmetic (SimHasher.cpp:96-99)") {
    assert(SimHashCore.spanCompatible(200, 260))  // |60| <= 0.3*200
    assert(!SimHashCore.spanCompatible(200, 261)) // 61 > 60
    assert(SimHashCore.spanCompatible(260, 200))  // symmetric (min side)
    assert(!SimHashCore.spanCompatible(261, 200))
  }
}

class MinHashCoreSpec extends AnyFunSuite {
  test("minhash collision rate approximates Jaccard on fixed sets") {
    val k = 512
    val perms = MinHashCore.permutations(k, 42L)
    def hashes(ws: Seq[String]) = ws.map(w => Murmur3x64.hash64(w, SimHashCore.Seed))
    // |A ∩ B| = 2, |A ∪ B| = 6 → J = 1/3
    val a = MinHashCore.signature(hashes(Seq("x", "y", "p", "q")), perms)
    val b = MinHashCore.signature(hashes(Seq("x", "y", "r", "s")), perms)
    val agree = a.indices.count(i => a(i) == b(i)).toDouble / k
    assert(math.abs(agree - 1.0 / 3) < 0.08, s"agreement $agree vs J=1/3") // ±3.8 sigma
    // and a J=1 pair agrees everywhere
    val c = MinHashCore.signature(hashes(Seq("q", "p", "y", "x")), perms)
    assert(a.sameElements(c))
  }

  test("range signature over an array == Iterable signature (empty, dups, unsorted)") {
    val perms = MinHashCore.permutations(16, 3L)
    // a small value pool makes duplicates common; listOf covers empty
    val tokens = Gen.listOf(Gen.oneOf(Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.oneOf(0L, 1L, -1L, 42L)))
    val prop = Prop.forAll(tokens, Gen.choose(0, 5), Gen.choose(0, 5)) {
      (ts: List[Long], pre: Int, post: Int) =>
        // the range sits inside a padded array, so from/until are honoured
        val arr = Array.fill(pre)(7L) ++ ts ++ Array.fill(post)(9L)
        MinHashCore.signature(arr, pre, pre + ts.length, perms)
          .sameElements(MinHashCore.signature(ts, perms))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("band hashes collide iff every lane in the band matches") {
    val perms = MinHashCore.permutations(8, 1L)
    val sig1 = Array(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)
    val sig2 = Array(1L, 2L, 3L, 4L, 9L, 6L, 7L, 8L)
    val b1 = MinHashCore.bandHashes(sig1, 4)
    val b2 = MinHashCore.bandHashes(sig2, 4)
    assert(b1(0) === b2(0)) // first band identical
    assert(b1(1) !== b2(1)) // second band differs in lane 4
  }

  test("jaccard exact values") {
    assert(MinHashCore.jaccard(Set(1L, 2L), Set(1L, 2L)) === 1.0)
    assert(MinHashCore.jaccard(Set(1L, 2L, 3L), Set(3L, 4L, 5L, 6L)) === 1.0 / 6)
    assert(MinHashCore.jaccard(Set.empty, Set.empty) === 1.0)
  }
}
