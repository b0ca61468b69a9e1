package graft.functions

import graft.core.Murmur3x64

/** Word-gram hash keys over a normalized caption's UTF-8 bytes — the pure
  * core behind [[WordGramKeyArray]] and [[LeadingGramKey]] (the substring
  * pass's allocation-free join keys).
  *
  * Contract (shared with [[graft.core.Shingling.normalize]]): the text is
  * single-space separated with no leading/trailing/double spaces, so a word
  * w-gram is EXACTLY a contiguous byte range of the text (the same
  * zero-copy argument as [[graft.core.FingerprintHasher]]), and the space
  * byte 0x20 never occurs inside a multi-byte UTF-8 sequence.
  *
  * Key definition: murmur3_x64_128 h1 of the gram's byte range with
  * seed = gram width in words. Folding the width into the SEED replaces the
  * old (width, gram-string) composite join key with one 64-bit column: a
  * cross-width collision needs equal hashes under different seeds. A key
  * collision can only ADD a join candidate, and the substring pass verifies
  * candidates by full word-aligned containment — a verify-passing pair is a
  * true substring pair regardless of how it was keyed — so the verified
  * output is bit-identical to string-gram keying (see Substring scaladoc).
  */
object GramHash {

  /** Exact boundary-array size for `bytes`: one slot per space + the final
    * end + 1 slack. The previous `length/2 + 2` sizing assumed the
    * Shingling.normalize contract (no consecutive spaces); these functions
    * are SQL-registered, so arbitrary input (e.g. six spaces in a row) must
    * degrade gracefully instead of overrunning the array (round-5 ADVICE).
    * One extra byte scan, no allocation beyond the exact-size array.
    */
  private def boundarySlots(bytes: Array[Byte]): Int = {
    var spaces = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) spaces += 1; i += 1 }
    spaces + 2
  }

  /** Token boundary scan: fills `ends(i)` = byte offset one past token i.
    * Token i's start is `if (i == 0) 0 else ends(i-1) + 1`.
    * @return token count (0 for empty input)
    */
  private def tokenEnds(bytes: Array[Byte], ends: Array[Int]): Int = {
    val n = bytes.length
    if (n == 0) return 0
    var nTok = 0
    var i = 0
    while (i < n) {
      if (bytes(i) == ' '.toByte) { ends(nTok) = i; nTok += 1 }
      i += 1
    }
    ends(nTok) = n
    nTok + 1
  }

  private def startOf(ends: Array[Int], i: Int): Int =
    if (i == 0) 0 else ends(i - 1) + 1

  /** Distinct (sorted) hash keys of every word w-gram for w = 1..min(k, n),
    * restricted to widths set in `widthMask` (bit w-1 = width w; -1 = all).
    * One scan, one output array; per-gram hashing is a ranged murmur over
    * the input bytes (no per-gram string or slice). Sorting + in-place
    * dedupe keeps each key VALUE exactly once — a join on the exploded keys
    * matches iff the value is present, so deduping never loses a match.
    *
    * The width mask exists because keys are SEEDED by width: a width-w
    * anchor key can only ever equal a width-w gram key, so haystack rows of
    * widths no anchor has are dead weight in the join's shuffle — the
    * substring pass measures the anchor widths actually present and emits
    * only those (output provably identical).
    */
  def gramKeys(bytes: Array[Byte], k: Int, widthMask: Int = -1): Array[Long] = {
    val ends = new Array[Int](boundarySlots(bytes))
    val nTok = tokenEnds(bytes, ends)
    if (nTok == 0) return Array.emptyLongArray
    val kEff = math.min(k, nTok)
    var total = 0
    var w = 1
    while (w <= kEff) {
      if ((widthMask & (1 << (w - 1))) != 0) total += nTok - w + 1
      w += 1
    }
    if (total == 0) return Array.emptyLongArray
    val out = new Array[Long](total)
    var m = 0
    w = 1
    while (w <= kEff) {
      if ((widthMask & (1 << (w - 1))) != 0) {
        var i = 0
        val last = nTok - w
        while (i <= last) {
          val from = startOf(ends, i)
          out(m) = Murmur3x64.hash128(bytes, from, ends(i + w - 1) - from, w.toLong)._1
          m += 1
          i += 1
        }
      }
      w += 1
    }
    java.util.Arrays.sort(out)
    var u = 0
    var j = 0
    while (j < total) {
      if (j == 0 || out(j) != out(j - 1)) { out(u) = out(j); u += 1 }
      j += 1
    }
    if (u == total) out else java.util.Arrays.copyOfRange(out, 0, u)
  }

  /** Hash key of the LEADING min(k, n)-word gram (the anchor side): same
    * seed-by-width scheme, so an anchor of width w joins exactly the
    * haystack's width-w gram keys. Empty text hashes the empty range at
    * width min(k, 1) — harmless, since anchors are span-gated upstream.
    */
  def leadingKey(bytes: Array[Byte], k: Int): Long = {
    val ends = new Array[Int](boundarySlots(bytes))
    val nTok = tokenEnds(bytes, ends)
    if (nTok == 0) return Murmur3x64.hash128(bytes, 0, 0, math.min(k, 1).toLong)._1
    val w = math.min(k, nTok)
    Murmur3x64.hash128(bytes, 0, ends(w - 1), w.toLong)._1
  }
}
