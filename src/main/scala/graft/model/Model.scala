package graft.model

/** Typed row shapes (SURVEY.md §7.2 step 1). `ImageRow` is exactly
  * BASELINE.json `input_hint`'s schema.
  */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long
)

/** Per-row fingerprint record — the analogue of the reference FingerPrint
  * (/root/reference/EigenWord.h:97-129): simhash (64-bit fingerprint, or
  * the HI word in 128-bit mode with `simhash_lo` carrying the LO word —
  * GraftConfig.bits), the distinct gram hashes, char-span (`m_token_num`
  * analogue), and a group key (file analogue, used by the same/diff-group
  * compare modes). No MinHash signature is stored: it is a pure function of
  * `grams`, and the band pass computes it per collapse representative.
  */
final case class FingerprintRow(
    image_id: String,
    simhash: Long,
    grams: Array[Long], // distinct sorted k-gram hashes: band keys + exact Jaccard verify
    span: Int,
    group: String,
    simhash_lo: Long = 0L, // 128-bit mode only; 0 in 64-bit mode
    // normalized caption, carried so downstream passes (substring anchor
    // join) reuse the fingerprint stage's one normalization instead of
    // re-scanning + re-normalizing the raw captions (round-4 VERDICT #3)
    caption_norm: String = ""
)

final case class VerifiedEdge(a: String, b: String, tier: String, source: String)

// cluster_id is the lexicographic-min member image_id (collision-free string
// label; a 64-bit hash label collides at 10^12-row scale)
final case class ClusterRow(image_id: String, cluster_id: String, tier: String)

/** Audit/lineage row: one per (run, stage[, partition]) — the graft's
  * replacement for the reference's TCP progress events
  * (/root/reference/InfoStruct.h:16-236, SURVEY.md §2.1 S6). Also the
  * checkpoint ledger: a `committed=true` row marks a stage the resume path
  * may skip (north_rule "resumes from its last committed checkpoint").
  */
final case class AuditRow(
    run_id: String,
    stage: String,
    rows_out: Long,
    wall_ms: Long,
    committed: Boolean,
    detail: String
)
