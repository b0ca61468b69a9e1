package graft.core

/** Allocation-free per-row fingerprint fold — the hot-loop twin of
  * [[graft.pipeline.Fingerprints.fingerprintOf]], bit-identical by
  * construction (guarded by FastFingerprintSpec's exhaustive property
  * check against the reference implementation).
  *
  * Motivation (round-4 VERDICT #1c): the reference-shaped path builds, per
  * row, an Array[Shingle] of "g:"+gram / "w:"+word / "phI:x" STRINGS (each
  * gram itself a slice+mkString), plus a getBytes byte[] per murmur call —
  * several hundred short-lived objects per row. At 16 executor threads that
  * allocation traffic (TLAB churn + the cache misses of touching fresh
  * memory for every object) inflated summed task time ~1.8-2.3x over the
  * 4-thread leg, which IS the measured scaling-efficiency gap. This class
  * folds the same shingle stream through reusable buffers:
  *
  *  - the normalized caption is UTF-8-encoded ONCE into a scratch buffer
  *    (token boundaries recorded during the encode);
  *  - a word k-gram is a contiguous BYTE RANGE of that buffer (normalize
  *    guarantees single-space joining), so the MinHash gram hash is a
  *    zero-copy ranged murmur, and the "g:" simhash shingle is a 2-byte
  *    prefix + arraycopy into a second reusable buffer;
  *  - per-word "w:" shingles dedupe by their full 128-bit hash (equal to
  *    string-distinct up to murmur3-128 collisions, i.e. never — the fold
  *    only ever consumes the hash, so a colliding pair would have
  *    contributed identically anyway);
  *  - the 256 possible phash nibble tokens ("ph0:0".."ph15:f") have their
  *    hashes precomputed once per JVM.
  *
  * NOT thread-safe (single owner per instance): the Spark stage creates one
  * per partition iterator, the oracle one per call.
  */
final class FingerprintHasher(cfg: GraftConfig) {
  import FingerprintHasher._

  private val k = cfg.shingleK
  private val is128 = cfg.bits == 128
  private val wGram = cfg.weightOf("CAPGRAM")
  private val wWord = cfg.weightOf("CAPWORD")
  private val wPhash = cfg.weightOf("PHASH")

  private val sums = new Array[Int](if (is128) 128 else 64)
  private var normBytes = new Array[Byte](512)
  private var scratch = new Array[Byte](514)
  private var tokStart = new Array[Int](64)
  private var tokEnd = new Array[Int](64)
  private var wordH1 = new Array[Long](64)
  private var wordH2 = new Array[Long](64)
  private var gramH = new Array[Long](64)

  /** Result of one row's fold. `grams` is a fresh per-row array (it lives
    * on in the output row); everything else was folded through the reusable
    * scratch state.
    */
  final case class Fp(simhash: Long, simhashLo: Long, grams: Array[Long],
                      span: Int, norm: String)

  def fingerprint(caption: String, phash: Long): Fp = {
    val norm = Shingling.normalize(caption)
    java.util.Arrays.fill(sums, 0)

    // ---- encode UTF-8 once, recording token byte boundaries ----
    if (normBytes.length < norm.length * 4)
      normBytes = new Array[Byte](norm.length * 4)
    var nTok = 0
    var p = 0
    var i = 0
    val nChars = norm.length
    if (nChars > 0) {
      if (tokStart.length < nChars / 2 + 2) {
        tokStart = new Array[Int](nChars / 2 + 2)
        tokEnd = new Array[Int](nChars / 2 + 2)
      }
      tokStart(0) = 0
      while (i < nChars) {
        val c = norm.charAt(i)
        if (c == ' ') {
          tokEnd(nTok) = p
          nTok += 1
          tokStart(nTok) = p + 1
          normBytes(p) = ' '.toByte; p += 1
        } else if (c < 0x80) {
          normBytes(p) = c.toByte; p += 1
        } else if (c < 0x800) {
          normBytes(p) = (0xc0 | (c >> 6)).toByte
          normBytes(p + 1) = (0x80 | (c & 0x3f)).toByte
          p += 2
        } else if (Character.isHighSurrogate(c) && i + 1 < nChars &&
                   Character.isLowSurrogate(norm.charAt(i + 1))) {
          val cp = Character.toCodePoint(c, norm.charAt(i + 1))
          normBytes(p) = (0xf0 | (cp >> 18)).toByte
          normBytes(p + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
          normBytes(p + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte
          normBytes(p + 3) = (0x80 | (cp & 0x3f)).toByte
          p += 4
          i += 1 // consumed the pair
        } else if (Character.isSurrogate(c)) {
          normBytes(p) = '?'.toByte; p += 1 // unpaired → '?', like getBytes
        } else {
          normBytes(p) = (0xe0 | (c >> 12)).toByte
          normBytes(p + 1) = (0x80 | ((c >> 6) & 0x3f)).toByte
          normBytes(p + 2) = (0x80 | (c & 0x3f)).toByte
          p += 3
        }
        i += 1
      }
      tokEnd(nTok) = p
      nTok += 1
    }
    val normLen = p

    // ---- gram shingles + MinHash gram hashes (byte ranges of normBytes) ----
    val nGrams = if (nTok == 0) 0 else if (nTok <= k) 1 else nTok - k + 1
    if (gramH.length < nGrams) gramH = new Array[Long](nGrams)
    if (scratch.length < normLen + 2) scratch = new Array[Byte](normLen * 2 + 2)
    var g = 0
    while (g < nGrams) {
      val from = if (nTok <= k) 0 else tokStart(g)
      val until = if (nTok <= k) normLen else tokEnd(g + k - 1)
      val len = until - from
      // raw gram hash (MinHash token) — zero-copy ranged murmur
      gramH(g) = Murmur3x64.hash128(normBytes, from, len, SimHashCore.Seed)._1
      if (wGram != 0) {
        scratch(0) = 'g'.toByte; scratch(1) = ':'.toByte
        System.arraycopy(normBytes, from, scratch, 2, len)
        val (h1, h2) = Murmur3x64.hash128(scratch, 0, len + 2, SimHashCore.Seed)
        if (is128) SimHashCore.addHashBits128(sums, h1, h2, wGram)
        else SimHashCore.addHashBits64(sums, h1, wGram)
      }
      g += 1
    }

    // ---- distinct word shingles ----
    if (wWord != 0 && nTok > 0) {
      if (wordH1.length < nTok) {
        wordH1 = new Array[Long](nTok); wordH2 = new Array[Long](nTok)
      }
      var nWords = 0
      var t = 0
      while (t < nTok) {
        val from = tokStart(t)
        val len = tokEnd(t) - from
        scratch(0) = 'w'.toByte; scratch(1) = ':'.toByte
        System.arraycopy(normBytes, from, scratch, 2, len)
        val (h1, h2) = Murmur3x64.hash128(scratch, 0, len + 2, SimHashCore.Seed)
        var seen = false
        var s = 0
        while (s < nWords && !seen) {
          seen = wordH1(s) == h1 && wordH2(s) == h2
          s += 1
        }
        if (!seen) {
          wordH1(nWords) = h1; wordH2(nWords) = h2; nWords += 1
          if (is128) SimHashCore.addHashBits128(sums, h1, h2, wWord)
          else SimHashCore.addHashBits64(sums, h1, wWord)
        }
        t += 1
      }
    }

    // ---- phash nibble tokens (precomputed hash table) ----
    if (wPhash != 0) {
      var pi = 0
      while (pi < 16) {
        val idx = pi * 16 + ((phash >>> (pi * 4)) & 0xfL).toInt
        if (is128) SimHashCore.addHashBits128(sums, PhashH1(idx), PhashH2(idx), wPhash)
        else SimHashCore.addHashBits64(sums, PhashH1(idx), wPhash)
        pi += 1
      }
    }

    val (hi, lo) =
      if (is128) SimHashCore.finish128(sums)
      else (SimHashCore.finish64(sums), 0L)

    // ---- distinct sorted gram hashes ----
    java.util.Arrays.sort(gramH, 0, nGrams)
    var m = 0
    g = 0
    while (g < nGrams) {
      if (g == 0 || gramH(g) != gramH(g - 1)) { gramH(m) = gramH(g); m += 1 }
      g += 1
    }
    Fp(hi, lo, java.util.Arrays.copyOfRange(gramH, 0, m), norm.length, norm)
  }
}

object FingerprintHasher {
  // hash128 of every possible phash nibble token "ph<i>:<hex>" (16 positions
  // x 16 nibble values), indexed i*16+nibble — computed once per JVM
  private val (phashH1Tab, phashH2Tab) = {
    val h1 = new Array[Long](256)
    val h2 = new Array[Long](256)
    var i = 0
    while (i < 16) {
      var nib = 0
      while (nib < 16) {
        val (a, b) = Murmur3x64.hash128(s"ph$i:${nib.toHexString}", SimHashCore.Seed)
        h1(i * 16 + nib) = a
        h2(i * 16 + nib) = b
        nib += 1
      }
      i += 1
    }
    (h1, h2)
  }
  private def PhashH1 = phashH1Tab
  private def PhashH2 = phashH2Tab
}
