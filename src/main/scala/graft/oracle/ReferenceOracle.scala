package graft.oracle

import graft.core.SimHashCore

/** Sequential, single-threaded transcription of the reference's comparison
  * + clustering semantics (/root/reference/SimHasher.cpp:91-198,
  * CloneSet.cpp:22-84). Test/recall oracle only — never runs on executors.
  *
  * Faithful details:
  *  - newest-first outer scan `i = n-1 .. 0`, inner `j = i-1 .. 0`
  *    (SimHasher.cpp:154-156);
  *  - items already in a set are skipped in both loops (SimHasher.cpp:158-167);
  *  - span prefilter |t1-t2| <= 0.3*min(t1,t2) (SimHasher.cpp:96-99);
  *  - clique admission: Hamming to EVERY member of the growing set <= sigma
  *    (checkCanAddToSet, SimHasher.cpp:138-147);
  *  - union-find with union-by-rank + path compression (CloneSet.cpp:22-84).
  *
  * Knowingly inapplicable to flat image rows (SURVEY.md §7.1): the
  * parent/child exclusion (father-node stacks) and `to_be_cmp` sibling
  * suppression — there is no containment between images.
  */
object ReferenceOracle {

  final case class Item(id: String, fingerprint: Long, span: Int, group: String = "")

  final class DisjointSet(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    private val rank = new Array[Int](n)
    private val inSet = new Array[Boolean](n)

    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }

    def join(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) += 1 }
      }
      inSet(a) = true; inSet(b) = true
    }

    def isInASet(x: Int): Boolean = inSet(x)

    /** Materialized multi-member sets, root → members (CloneSet.cpp:55-67). */
    def sets: Map[Int, Vector[Int]] =
      (0 until parent.length).filter(inSet).groupBy(find).map { case (r, m) => r -> m.toVector }
  }

  /** Greedy clique clustering at one sigma tier; returns (pairs joined,
    * clusters as sets of ids). Pairs are exactly the reference's `join`
    * calls (SimHasher.cpp:177-184) — the ground truth for dup-pair recall.
    */
  def cluster(items: IndexedSeq[Item], sigma: Int,
              onlyDiffGroup: Boolean = false, onlySameGroup: Boolean = false)
      : (Vector[(String, String)], Vector[Set[String]]) =
    clusterCore[Item](items, _.id, _.span, _.group,
      (a, b) => SimHashCore.hamming(a.fingerprint, b.fingerprint),
      sigma, onlyDiffGroup, onlySameGroup)

  /** 128-bit item (the reference's full fingerprint width, packed hi/lo per
    * SimHashCore.simhash128); distance = bitCount(hi^hi') + bitCount(lo^lo').
    */
  final case class Item128(id: String, hi: Long, lo: Long, span: Int, group: String = "")

  /** [[cluster]] at the reference's native 128-bit width — same loop, same
    * span prefilter, Hamming over both words (SimHasher.cpp:195-198 operates
    * on the full 128-bit bitset).
    */
  def cluster128(items: IndexedSeq[Item128], sigma: Int,
                 onlyDiffGroup: Boolean = false, onlySameGroup: Boolean = false)
      : (Vector[(String, String)], Vector[Set[String]]) =
    clusterCore[Item128](items, _.id, _.span, _.group,
      (a, b) => SimHashCore.hamming128((a.hi, a.lo), (b.hi, b.lo)),
      sigma, onlyDiffGroup, onlySameGroup)

  private def clusterCore[A](items: IndexedSeq[A], id: A => String, span: A => Int,
                             group: A => String, ham: (A, A) => Int,
                             sigma: Int, onlyDiffGroup: Boolean, onlySameGroup: Boolean)
      : (Vector[(String, String)], Vector[Set[String]]) = {
    // checkToCompare minus the AST-only clauses (SimHasher.cpp:91-122)
    def toCompare(a: A, b: A): Boolean =
      if (!SimHashCore.spanCompatible(span(a), span(b))) false
      else if (onlyDiffGroup && group(a) == group(b)) false
      else if (onlySameGroup && group(a) != group(b)) false
      else true
    val n = items.length
    val ds = new DisjointSet(n)
    val pairs = Vector.newBuilder[(String, String)]
    var i = n - 1
    while (i >= 0) {
      if (!ds.isInASet(i)) {
        var sameSetWithI = List(i)
        var j = i - 1
        while (j >= 0) {
          if (!ds.isInASet(j) && toCompare(items(i), items(j))) {
            val ok = sameSetWithI.forall(m => ham(items(m), items(j)) <= sigma)
            if (ok) {
              sameSetWithI = j :: sameSetWithI
              ds.join(i, j)
              pairs += ((id(items(i)), id(items(j))))
            }
          }
          j -= 1
        }
      }
      i -= 1
    }
    (pairs.result(), ds.sets.values.map(_.map(m => id(items(m))).toSet).toVector)
  }

  /** Dup-pair recall of a predicted clustering vs the oracle's clusters:
    * fraction of oracle same-cluster pairs that are same-cluster in the
    * prediction (BASELINE.json metric; target >= 0.99).
    */
  def dupPairRecall[L](oracleClusters: Seq[Set[String]], predicted: Map[String, L]): Double = {
    var hit = 0L
    var total = 0L
    oracleClusters.foreach { c =>
      val m = c.toVector
      var x = 0
      while (x < m.length) {
        var y = x + 1
        while (y < m.length) {
          total += 1
          val lx = predicted.get(m(x))
          val ly = predicted.get(m(y))
          if (lx.isDefined && lx == ly) hit += 1
          y += 1
        }
        x += 1
      }
    }
    if (total == 0) 1.0 else hit.toDouble / total
  }
}
