package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraftConfig

/** Exact caption-substring duplicate pass (SURVEY.md §2.4 J5; optional per
  * north_rule). Detects pairs where one row's normalized caption is a
  * verbatim word-aligned substring of another's.
  *
  * Scale shape: a brute-force contains() is O(n²). Instead the SHORTER
  * side's leading word-gram is its anchor: if norm(A) is a word-aligned
  * substring of norm(B), then A's first min(k, |A|) words appear as a
  * consecutive gram of the same width in B. So an equi-join of A's anchor
  * against B's exploded gram set, keyed by (width, gram), gives a complete
  * candidate superset — including captions with FEWER than k words, whose
  * anchor is their whole text at width |A| — and `contains` verifies. Same
  * candidates→verify shape as the LSH passes, with the anchor playing the
  * role of the bucket key.
  *
  * Caption collapse: the anchor join runs over DISTINCT (caption_norm,
  * span) values, not rows. Rows with the same caption and span share one
  * anchor key and the same gram keys, so on rows a group of h identical
  * captions would cost h² join rows, every one rejected by the strict span
  * comparison. Collapsing is exact: the verify reads nothing but the two
  * captions and spans, so a member row inherits its caption's outcome; and
  * identical captions never form a pair, because `a_span < b_span` is
  * strict and a caption never contains itself word-aligned (it would need
  * a space before or after its own full length). Each verified caption pair
  * then joins back to its member rows once per side — a product of the two
  * member sets, never a per-caption id array, so a caption shared by any
  * number of rows stays a join, not one row.
  *
  * Scale notes: the haystack emits grams at widths 1..k (k ≤ 3), a constant
  * ×k row amplification on top of the single-width design; width is part of
  * the join key so buckets stay as selective as the anchor text itself. A
  * hot anchor (captions sharing a leading phrase) is bounded by the gram
  * join's bucket size; the contains() verify is a codegen'd string op.
  */
object Substring {

  /** @param rows (image_id, caption_norm, span) — caption already normalized
    * @param cfg   anchor gram width in words = cfg.shingleK
    * @return (a, b): a's caption is a proper word-aligned substring of b's
    */
  def substringPairs(rows: DataFrame, cfg: GraftConfig): DataFrame = {
    val k = cfg.shingleK
    val spark = rows.sparkSession
    // Anchor-width census (round 6): gram keys are SEEDED by width, so a
    // width-w anchor can only ever join width-w haystack keys — haystack
    // rows of widths no anchor has are dead shuffle weight (the haystack
    // explosion was the pipeline's largest exchange at 1M images, ~2 GB,
    // and widths below k only exist for anchors whose WHOLE caption is
    // shorter than k words yet over minSpan chars — rare to absent). One
    // tiny aggregation measures which widths exist and the explode emits
    // only those; provably output-identical. At most k (≤3) mask bits.
    val widthCol = least(lit(k), size(split(col("caption_norm"), " ")))
    val widthMask = rows
      .filter(col("span") > cfg.minSpan)
      .select(widthCol.as("w"))
      .groupBy("w").agg(count(lit(1)))
      .collect().map(_.getInt(0))
      .foldLeft(0)((m, w) => m | (1 << (w - 1)))
    if (widthMask == 0) { // no anchors at all -> no pairs
      val id = rows.schema("image_id").dataType
      return Materialize.empty(spark, "a" -> id, "b" -> id)
    }
    // anchors: 64-bit key of the first min(k, |words|)-word gram, computed
    // by the codegen'd LeadingGramKey expression in one byte scan — no
    // split(), no token array, no gram string (round-5 JFR: the split-based
    // path spent ~6% of pipeline samples in UTF8String.split/String.split).
    // Width is folded into the key's SEED, collapsing the old
    // (width, gram-string) composite join key into one bigint.
    val anchorKey = graft.functions.GraftExpressions.leadingGramKey(spark, col("caption_norm"), k)
    // One gate for BOTH sides of a pair: b_span > a_span > minSpan, and a
    // null caption (the only one with a null anchor key) pairs with nothing.
    // Stated once here, it keeps the anchor, haystack and member frames on
    // one plan below their exchanges, so each exchange runs once and is
    // reused; gated on the anchor side alone, the optimizer pushes the
    // anchor key's null check under that side only, and the collapse
    // shuffles twice.
    val gated = rows.filter(col("span") > cfg.minSpan && anchorKey.isNotNull)
    // One row per distinct caption: `distinct` is a grouping with map-side
    // partial aggregation, so a hot caption reduces to one row per input
    // partition before its shuffle (a window over the caption would ship
    // the whole group to one task; see Candidates.collapseExact).
    val captions = gated.select(col("caption_norm"), col("span")).distinct()
    val anchors = captions.select(col("caption_norm").as("a_text"), col("span").as("a_span"),
      anchorKey.as("gram_key"))
    // haystack: every word w-gram KEY for w = 1..min(k, |words|), exploded
    // from one sorted-distinct long array per caption (WordGramKeyArray).
    // The full text+span ride on every exploded key row ON PURPOSE: the
    // containment verify then runs INLINE on the join output (same stage,
    // no candidate materialization). The tempting alternative — key-only
    // gram rows + joining text back onto candidates — was measured 2x
    // WORSE (389 → 827 MB shuffle, +80% task time): the anchor-gram
    // candidate superset is ~200x larger than the verified output (common
    // leading phrases), and re-shuffling that fat candidate list costs far
    // more than the text amplification on the gram side, which compresses
    // well (repeated phrases) in the shuffle codec. Both are now paid per
    // distinct caption, not per row.
    //
    // Exactness under hash keying: a key collision only ADDS a candidate,
    // and the verify below checks full word-aligned containment — a
    // verify-passing pair has a's leading gram as a width-aligned gram of
    // b, i.e. is exactly a pair the string-keyed join would also emit — so
    // the verified output is bit-identical to (width, gram-string) keying.
    // Each caption pair still joins at most once: an anchor carries exactly
    // one key and b's key array is value-distinct.
    val grams = captions
      .select(col("caption_norm").as("b_text"), col("span").as("b_span"),
        explode(graft.functions.GraftExpressions
          .wordGramKeys(spark, col("caption_norm"), k, widthMask)).as("gram_key"))
    val captionPairs = anchors.join(grams, Seq("gram_key"))
      .filter(col("a_span") < col("b_span") &&
        // word-aligned verbatim containment of the full shorter caption:
        // prefix+space, space-wrapped infix, or space+suffix
        (col("b_text").startsWith(concat(col("a_text"), lit(" "))) ||
         col("b_text").contains(concat(lit(" "), col("a_text"), lit(" "))) ||
         col("b_text").endsWith(concat(lit(" "), col("a_text")))))
      .select("a_text", "a_span", "b_text", "b_span")
    // Back to rows: every member of a's caption × every member of b's. Each
    // row has one (caption, span), so distinct caption pairs expand to
    // distinct row pairs, and a ≠ b because the two captions differ. Both
    // sides join the one member frame, aliased, so they share its exchange.
    val members = gated.select(col("image_id"), col("caption_norm"), col("span"))
    val (ma, mb) = (members.as("ma"), members.as("mb"))
    captionPairs
      .join(ma, col("a_text") === col("ma.caption_norm") && col("a_span") === col("ma.span"))
      .join(mb, col("b_text") === col("mb.caption_norm") && col("b_span") === col("mb.span"))
      .select(col("ma.image_id").as("a"), col("mb.image_id").as("b"))
  }
}
