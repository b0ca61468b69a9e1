package graft.core

/** SimHash with the reference's exact (non-textbook) semantics.
  *
  * Reference behaviour being reproduced (see SURVEY.md §1.2):
  *  - per-shingle hash: MurmurHash3_x64_128(word, seed=0x97c29b3a)
  *    (/root/reference/EigenWord.h:23, EigenWord.cpp:17-26);
  *  - signed weight vector: +w where the hash bit is 1, -w where 0
  *    (/root/reference/EigenWord.cpp:39-44);
  *  - fingerprint bit rule: bit = 1 iff the summed weight is **> 1**
  *    (NOT the textbook `> 0`) — /root/reference/EigenWord.cpp:58;
  *  - similarity: Hamming distance of the fingerprints
  *    (/root/reference/SimHasher.cpp:195-198).
  *
  * The graft's production fingerprint is 64-bit (`simhash64`, north_star);
  * `simhash128` keeps the reference's full 128-bit layout (bitset built from
  * `to_string(out0)+to_string(out1)`, weightVec[127-i] = ±w for string bit i,
  * /root/reference/EigenWord.cpp:17-26,39-44) for fidelity tests.
  */
object SimHashCore {

  /** Reference murmur seed — /root/reference/EigenWord.h:23. */
  val Seed: Long = 0x97c29b3aL

  /** Signed bit-counter contribution of one shingle into a 64-lane sum
    * vector. Lane k corresponds to bit k of murmur h1 (a fixed bijective
    * relabeling of the reference's weightVec indices — Hamming distances
    * and bit-rule outcomes are invariant under it).
    */
  def addShingle64(sums: Array[Int], word: String, weight: Int): Unit =
    if (weight != 0) addHashBits64(sums, Murmur3x64.hash64(word, Seed), weight)

  /** Fold an already-computed shingle hash into the 64-lane sum vector —
    * the hash-level half of [[addShingle64]], shared with the
    * allocation-free fingerprint path ([[FingerprintHasher]]).
    */
  def addHashBits64(sums: Array[Int], h: Long, weight: Int): Unit = {
    var k = 0
    while (k < 64) {
      sums(k) += (if (((h >>> k) & 1L) != 0L) weight else -weight)
      k += 1
    }
  }

  /** 128-lane fold of a precomputed (h1, h2) — the hash-level body of
    * [[simhash128]]'s per-shingle step, shared with [[FingerprintHasher]].
    */
  def addHashBits128(sums: Array[Int], h1: Long, h2: Long, weight: Int): Unit = {
    var j = 0
    while (j < 64) {
      sums(j) += (if (((h1 >>> (63 - j)) & 1L) != 0L) weight else -weight)
      j += 1
    }
    while (j < 128) {
      sums(j) += (if (((h2 >>> (127 - j)) & 1L) != 0L) weight else -weight)
      j += 1
    }
  }

  /** Pack 128 summed lanes with the `> 1` bit rule — the finish half of
    * [[simhash128]], shared with [[FingerprintHasher]].
    */
  def finish128(sums: Array[Int]): (Long, Long) = {
    var hi = 0L
    var lo = 0L
    var j = 0
    while (j < 64) {
      if (sums(j) > 1) hi |= (1L << (63 - j))
      j += 1
    }
    while (j < 128) {
      if (sums(j) > 1) lo |= (1L << (127 - j))
      j += 1
    }
    (hi, lo)
  }

  /** Merge two partial sum vectors (associative + commutative — safe as a
    * Spark Aggregator partial/final merge; SURVEY.md §2.5 A1).
    */
  def mergeSums(a: Array[Int], b: Array[Int]): Array[Int] = {
    var k = 0
    while (k < a.length) { a(k) += b(k); k += 1 }
    a
  }

  /** Finish: the reference's `sum <= 1 → 0` rule per lane
    * (/root/reference/EigenWord.cpp:58).
    */
  def finish64(sums: Array[Int]): Long = {
    var fp = 0L
    var k = 0
    while (k < 64) {
      if (sums(k) > 1) fp |= (1L << k)
      k += 1
    }
    fp
  }

  /** Sequential 64-bit fingerprint of a shingle stream. */
  def simhash64(shingles: IterableOnce[(String, Int)]): Long = {
    val sums = new Array[Int](64)
    shingles.iterator.foreach { case (w, wt) => addShingle64(sums, w, wt) }
    finish64(sums)
  }

  /** Reference-exact 128-bit fingerprint, packed as (hi, lo) where
    * hi bit (63-j) == weightVec index j (j in 0..63) and
    * lo bit (127-j) == weightVec index j (j in 64..127) — i.e. the packed
    * words read MSB-first exactly like the reference's concatenated
    * `bitset<64>::to_string` halves (/root/reference/EigenWord.cpp:17-26).
    */
  def simhash128(shingles: IterableOnce[(String, Int)]): (Long, Long) = {
    val sums = new Array[Int](128)
    shingles.iterator.foreach { case (word, weight) =>
      if (weight != 0) {
        // string char j (0-based, MSB-first): j<64 → bit (63-j) of h1;
        // j>=64 → bit (127-j) of h2. weightVec[j] = ±w for string char j
        // (bits[127-j] in bitset order; EigenWord.cpp:39-44 relabeled).
        val (h1, h2) = Murmur3x64.hash128(word, Seed)
        addHashBits128(sums, h1, h2, weight)
      }
    }
    finish128(sums)
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  def hamming128(a: (Long, Long), b: (Long, Long)): Int =
    java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)

  /** Span prefilter ratio, hard-coded 0.3 in the reference's
    * SimHasher.cpp:96-99 (the `dif_config.txt` value 80 is read but unused).
    */
  val SpanRatio: Double = 0.3

  /** Candidate-pair span prefilter (SimHasher.cpp:96-99): reject when
    * |t1 - t2| > [[SpanRatio]] * min(t1, t2).
    */
  def spanCompatible(t1: Int, t2: Int): Boolean =
    math.abs(t1 - t2) <= math.min(t1, t2) * SpanRatio
}
