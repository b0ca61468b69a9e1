package graft.core

/** Pipeline configuration — the graft analogue of the reference's three
  * text configs + weight table (/root/reference/SimHashConfig.cpp:12-74,
  * node_weight_config.txt, token_boundary_config.txt, dif_config.txt).
  * Loaded on the driver and captured in closures / broadcast; every value
  * that shapes cluster assignment lives here so the Spark pipeline and the
  * sequential oracle provably run "the same shingle/signature config"
  * (BASELINE.json north_rule).
  *
  * @param bits           SimHash fingerprint width: 64 (production default,
  *                       north_star) or 128 (the reference's full
  *                       MurmurHash3_x64_128 layout,
  *                       /root/reference/EigenWord.cpp:17-26 — stored as a
  *                       (simhash=hi, simhash_lo=lo) column pair; Hamming
  *                       verify is bit_count(hi^hi') + bit_count(lo^lo'))
  * @param shingleK       caption word-k-gram size (analogue of per-node
  *                       feature words, SURVEY.md §2.3 G2)
  * @param weights        token-kind → weight; `DEFAULT` fallback mirrors
  *                       /root/reference/EigenWord.cpp:28-37. Weight 0 kinds
  *                       contribute nothing (node_weight_config.txt tier 0).
  * @param minSpan        min normalized-caption char span to fingerprint —
  *                       analogue of the 200-char block gate
  *                       (/root/reference/token_boundary_config.txt,
  *                       EigenWordGenerate.cpp:90-95); default sized for
  *                       captions, reference value kept in
  *                       [[GraftConfig.referenceGate]]
  * @param sigmaHigh      high-tier Hamming threshold (dif_config.txt line 2 = 1)
  * @param minhashK       MinHash signature length
  * @param rowsPerBand    LSH band height (bands = minhashK / rowsPerBand)
  * @param jaccardTau     Jaccard verification threshold for band candidates
  * @param hotBucketCap   bucket size above which salting kicks in (north_rule
  *                       "explicit salting of hot LSH buckets")
  * @param debugDump      flag-gated debug dump sinks (SURVEY.md §2.1 S5):
  *                       when true AND an Audit is attached, the pipeline
  *                       additionally writes `debug_fingerprints` and
  *                       `debug_cluster_info` tables through the TableIO
  *                       seam — the analogue of the reference's
  *                       fingerprints.txt / cset_info.txt text dumps
  *                       (/root/reference/EigenWord.cpp:47-69,
  *                       CloneSet.cpp:174-177), as queryable tables instead
  *                       of driver-local text files
  *
  * Defaults for shingleK/jaccardTau were picked with `graft.tools.Calibrate`
  * (pure-core sweep over planted perturbation families): word-2-gram
  * shingles + tau 0.35 detect 0.97+ of 1-2-word caption edits and 100% of
  * re-encoded images with zero false pairs on 120x119/2 cross-family
  * probes; the SimHash tier keeps the reference's shipped high-tier sigma
  * (1; the shipped normal-tier -1 is [[GraftConfig.referenceSigmaNormal]]).
  * rowsPerBand=2 (32 bands of 2) makes the band-collision probability at
  * J=0.35 about 0.985 (1-(1-J^2)^32), so LSH misses are negligible next to
  * the Jaccard-verify threshold.
  */
final case class GraftConfig(
    bits: Int = 64,
    shingleK: Int = 2,
    weights: Map[String, Int] = GraftConfig.defaultWeights,
    minSpan: Int = 12,
    sigmaHigh: Int = 1,
    minhashK: Int = 64,
    rowsPerBand: Int = 2,
    jaccardTau: Double = 0.35,
    hotBucketCap: Int = 500,
    substringPass: Boolean = true,
    debugDump: Boolean = false
) {
  require(minhashK % rowsPerBand == 0, "minhashK must divide into bands")
  require(bits == 64 || bits == 128, "fingerprint width is 64 (production) or 128 (reference-exact)")

  def weightOf(kind: String): Int =
    weights.getOrElse(kind, weights.getOrElse(GraftConfig.Default, 1))

  def nBands: Int = minhashK / rowsPerBand
}

object GraftConfig {
  val Default = "DEFAULT"

  /** Token-kind weights. Mirrors the reference's tiered table shape
    * (node_weight_config.txt:1-103): a zero tier exists so tests can pin
    * the zero-weight-invariance property (EigenWord.cpp:39-44 with w=0).
    */
  val defaultWeights: Map[String, Int] = Map(
    "CAPGRAM" -> 3, // caption word k-grams — primary signal
    "CAPWORD" -> 1, // single caption words — low-weight smoothing
    "PHASH" -> 2,   // phash nibble tokens — payload fusion (north_star)
    "NOISE" -> 0,   // analogue of ImplicitCastExpr/DeclRefExpr weight-0 tier
    Default -> 1
  )

  /** The reference's shipped gate values, for fidelity tests
    * (/root/reference/token_boundary_config.txt, dif_config.txt).
    */
  val referenceGate: Int = 200
  val referenceSigmaNormal: Int = -1
}
