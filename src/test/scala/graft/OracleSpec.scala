package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.oracle.ReferenceOracle
import graft.oracle.ReferenceOracle.Item

/** Fixtures 3/4/6 of FIXTURES.md §B: known-distance pairs, span prefilter,
  * greedy-clique vs connected-components divergence.
  */
class OracleSpec extends AnyFunSuite {
  test("sigma tiers: hamming<=1 joins at high tier; sigma=-1 joins nothing (dif_config.txt)") {
    val items = Vector(
      Item("a", 0x0L, 100),
      Item("b", 0x1L, 100), // d(a,b)=1
      Item("c", 0x3L, 100)  // d(b,c)=1, d(a,c)=2
    )
    val (pairsHigh, _) = ReferenceOracle.cluster(items, sigma = 1)
    assert(pairsHigh.nonEmpty)
    val (pairsNormal, clustersNormal) = ReferenceOracle.cluster(items, sigma = -1)
    assert(pairsNormal.isEmpty && clustersNormal.isEmpty)
  }

  test("greedy clique splits the A-B-C chain; newest-first order decides membership") {
    // d(A,B)=1, d(B,C)=1, d(A,C)=2, sigma=1 — a clique algorithm cannot hold
    // all three (SimHasher.cpp:138-147); scan from newest (C) first:
    // C pairs with B (d=1); A then has no free partner -> {B,C}, {A} alone.
    val items = Vector(Item("A", 0x0L, 100), Item("B", 0x1L, 100), Item("C", 0x3L, 100))
    val (pairs, clusters) = ReferenceOracle.cluster(items, sigma = 1)
    assert(pairs === Vector(("C", "B")))
    assert(clusters === Vector(Set("B", "C")))
    // CC over the verified-edge set {A-B, B-C} merges all three: recall of
    // the oracle pairs is still 1.0 (SURVEY.md §7.1.3) — precision differs.
    val ccLabels = Map("A" -> 0L, "B" -> 0L, "C" -> 0L)
    assert(ReferenceOracle.dupPairRecall(clusters, ccLabels) === 1.0)
  }

  test("span prefilter rejects pairs before hamming (SimHasher.cpp:96-99)") {
    val items = Vector(Item("a", 0L, 200), Item("b", 0L, 261)) // identical fp, bad span
    val (pairs, _) = ReferenceOracle.cluster(items, sigma = 1)
    assert(pairs.isEmpty)
    val ok = Vector(Item("a", 0L, 200), Item("b", 0L, 260))
    assert(ReferenceOracle.cluster(ok, sigma = 1)._1.nonEmpty)
  }

  test("same/diff group compare modes (SimHasher.cpp:111-122)") {
    val items = Vector(Item("a", 0L, 100, "f1"), Item("b", 0L, 100, "f1"), Item("c", 0L, 100, "f2"))
    val (diffPairs, _) = ReferenceOracle.cluster(items, 1, onlyDiffGroup = true)
    assert(diffPairs.forall { case (x, y) => x == "c" || y == "c" })
    val (samePairs, _) = ReferenceOracle.cluster(items, 1, onlySameGroup = true)
    assert(samePairs === Vector(("b", "a")))
  }

  test("items already in a set are skipped in later scans (SimHasher.cpp:158-167)") {
    // Four identical fingerprints: one pass clusters them all into one set.
    val items = Vector.tabulate(4)(i => Item(s"x$i", 0xf0L, 100))
    // weight sums make fp identical; with sigma=1 all pairwise d=0
    val (pairs, clusters) = ReferenceOracle.cluster(items, 1)
    assert(clusters.size === 1 && clusters.head.size === 4)
    assert(pairs.size === 3) // newest scans and joins the other three once
  }

  test("dupPairRecall counts cross-cluster misses") {
    val oracle = Vector(Set("a", "b", "c"))
    val pred = Map("a" -> 1L, "b" -> 1L, "c" -> 2L)
    assert(math.abs(ReferenceOracle.dupPairRecall(oracle, pred) - 1.0 / 3) < 1e-12)
  }
}
