package graft.core

/** MinHash signatures + LSH banding (Broder '97 resemblance; banding per
  * Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" ch.3 — public).
  *
  * The reference has no MinHash; it is a graft addition mandated by
  * BASELINE.json `north_rule` (SURVEY.md §2.4 J4). All parameters are
  * derived deterministically from a seed so the signature is stable across
  * runs, partitions, and parallelism levels.
  */
object MinHashCore {

  /** Seed of the production MinHash permutations. */
  val Seed: Long = 42L

  /** Per-permutation xor/mix parameters, derived from the seed. One batched
    * pass computes all k minima per row (SURVEY.md §2.11) — O(tokens * k)
    * with no shuffle, inside a single projection.
    */
  def permutations(k: Int, seed: Long): Array[Long] = {
    val g = new Array[Long](k)
    var i = 0
    while (i < k) {
      g(i) = Murmur3x64.splitmix64(seed + i * 0x9e3779b97f4a7c15L) | 1L
      i += 1
    }
    g
  }

  /** h_i(token) = fmix(splitmix(base ^ g_i)) — a distinct 64-bit hash family
    * member per i, applied to the token's murmur base hash.
    */
  @inline def permHash(baseHash: Long, gamma: Long): Long =
    Murmur3x64.splitmix64(baseHash ^ gamma)

  /** Signature: element i = min over tokens of h_i(token). Empty token set
    * → Long.MaxValue lanes (never collides with a non-empty band by
    * construction because band hashes include the lane values).
    */
  def signature(tokenHashes: Iterable[Long], perms: Array[Long]): Array[Long] = {
    val sig = Array.fill(perms.length)(Long.MaxValue)
    val it = tokenHashes.iterator
    while (it.hasNext) {
      val base = it.next()
      var i = 0
      while (i < perms.length) {
        val h = permHash(base, perms(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Boxing-free range variant over a primitive array — same result as
    * `signature(arr.slice(from, until), perms)` (min is order- and
    * duplicate-insensitive). Hot-path twin for [[FingerprintHasher]].
    */
  def signature(tokenHashes: Array[Long], from: Int, until: Int,
                perms: Array[Long]): Array[Long] = {
    val sig = Array.fill(perms.length)(Long.MaxValue)
    var t = from
    while (t < until) {
      val base = tokenHashes(t)
      var i = 0
      while (i < perms.length) {
        val h = permHash(base, perms(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      t += 1
    }
    sig
  }

  /** Band hash: bands of `rowsPerBand` consecutive signature lanes, each
    * folded to one 64-bit value. Two rows share a band bucket iff the band's
    * lanes are all equal (with 64-bit lanes, collisions are negligible).
    */
  def bandHashes(sig: Array[Long], rowsPerBand: Int): Array[Long] = {
    val nBands = sig.length / rowsPerBand
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var acc = 0xcbf29ce484222325L ^ b.toLong
      var r = 0
      while (r < rowsPerBand) {
        acc = Murmur3x64.splitmix64(acc ^ sig(b * rowsPerBand + r))
        r += 1
      }
      out(b) = acc
      b += 1
    }
    out
  }

  /** Exact Jaccard of two token-hash sets (verification predicate). */
  def jaccard(a: Set[Long], b: Set[Long]): Double = {
    if (a.isEmpty && b.isEmpty) 1.0
    else {
      val inter = a.intersect(b).size
      inter.toDouble / (a.size + b.size - inter)
    }
  }
}
