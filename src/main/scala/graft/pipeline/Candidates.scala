package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.core.{GraftConfig, MinHashCore, SimHashCore}
import graft.model.FingerprintRow

/** Candidate generation + verification (SURVEY.md §2.4 J2-J4, §2.7).
  *
  * Replaces the reference's O(n²) nested loop
  * (/root/reference/SimHasher.cpp:149-192) with bucketed self-joins:
  *
  *  - SimHash pigeonhole bit-block buckets (Manku et al., WWW'07): split the
  *    64-bit fingerprint into nBlocks ranges; any pair at Hamming <=
  *    nBlocks-1 shares >= 1 identical block → an equi-join on
  *    (blockIdx, blockVal) yields an EXACT candidate superset for the
  *    sigma_high tier, then the reference's own predicates verify:
  *    span prefilter (SimHasher.cpp:96-99) and Hamming <= sigma via
  *    codegen'd `bit_count(a ^ b)` (SimHasher.cpp:195-198) — no UDF in the
  *    hot path.
  *
  *  - MinHash band buckets (Broder '97 / LSH banding): equi-join on
  *    (bandIdx, bandHash), verified by exact Jaccard >= tau on the distinct
  *    gram-hash arrays with built-in `array_intersect`/`array_union`.
  *
  * Skew (north_rule "explicit salting of hot LSH buckets"): bucket keys are
  * counted first; rows in buckets hotter than `hotBucketCap` get a salt
  * `pmod(xxhash64(id), s)` and the pair grid (i, j) is enumerated so every
  * cross-salt pair is still produced exactly once — exactness is preserved,
  * but no single task sees the whole mega-bucket. AQE skew-join handles the
  * residual imbalance.
  */
object Candidates {

  /** (blockIdx, blockVal, id, simhash[, simhash_lo], span, group) exploded
    * view. 64-bit mode: block i covers simhash bits [i*64/n, (i+1)*64/n).
    * 128-bit mode (cfg.bits == 128, nBlocks even): the first n/2 blocks
    * split the HI word, the last n/2 the LO word — a disjoint partition of
    * all 128 bits, so the pigeonhole guarantee (Hamming <= nBlocks-1 ⇒ one
    * whole block identical) holds over the full 128-bit distance. Pure
    * column math, codegen'd.
    */
  private def blockView(fps: DataFrame, cfg: GraftConfig): DataFrame = {
    def wordBlocks(word: Column, n: Int, idxOffset: Int): Seq[Column] =
      (0 until n).map { i =>
        val lo = (i * 64) / n
        val hi = ((i + 1) * 64) / n
        val width = hi - lo
        val mask = if (width == 64) -1L else (1L << width) - 1L
        struct(lit(idxOffset + i).as("blockIdx"),
          (shiftrightunsigned(word, lo).bitwiseAND(lit(mask))).as("blockVal"))
      }
    val blocks =
      if (cfg.bits == 128)
        wordBlocks(col("simhash"), cfg.nBlocks / 2, 0) ++
          wordBlocks(col("simhash_lo"), cfg.nBlocks / 2, cfg.nBlocks / 2)
      else wordBlocks(col("simhash"), cfg.nBlocks, 0)
    fps.select(col("image_id"), col("simhash"), col("simhash_lo"), col("span"),
        col("group"), explode(array(blocks: _*)).as("b"))
      .select(col("image_id"), col("simhash"), col("simhash_lo"), col("span"),
        col("group"), col("b.blockIdx"), col("b.blockVal"))
  }

  /** Codegen'd Hamming distance of an l_/r_ pair at the config's width. */
  private def hammingCol(cfg: GraftConfig): Column = {
    val hi = bit_count(col("l_simhash").bitwiseXOR(col("r_simhash")))
    if (cfg.bits == 128)
      hi + bit_count(col("l_simhash_lo").bitwiseXOR(col("r_simhash_lo")))
    else hi
  }

  /** Generic exact salted self-join on a bucket-keyed view.
    *
    * Cold buckets (<= cap rows) self-join directly on the bucket key. Hot
    * buckets are salted: the LEFT copy of a row gets one deterministic salt
    * `xxhash64(id) % s`; the RIGHT copy is replicated to all s salts
    * (explode). Joining on (key, salt) then produces every unordered pair
    * exactly once (the left row's salt matches exactly one right replica;
    * `l_id < r_id` orders the pair) while splitting a hot bucket into s
    * shuffle keys — no task ever materializes the whole mega-bucket.
    * Replication cost is s× on hot rows only. Single join branch → constant
    * plan size regardless of s.
    *
    * @param keyed   DataFrame with bucket key columns `keyCols` + payload
    *                (must include `image_id`)
    * @param keyCols bucket identity
    * @param cap     rows-per-bucket threshold above which salting applies
    * @return        pairs with all payload columns prefixed l_/r_
    */
  def bucketSelfJoin(keyed: DataFrame, keyCols: Seq[String], cap: Int,
                     nSalts: Int = 8): DataFrame = {
    val key = keyCols.map(col)
    // Hot-key detection on a fixed-fraction SAMPLE: hotness only decides
    // whether the salting rewrite applies (a performance knob — candidate
    // exactness is identical either way), so an estimate suffices. A truly
    // hot bucket (>> cap rows) is caught by the sample with overwhelming
    // probability; the sampled groupBy shuffles 1/8 of the exploded volume.
    // The resulting hot-key set is tiny and broadcast — the full table is
    // never re-shuffled against its own counts.
    val sampleFrac = 0.125
    val hotKeys = keyed.sample(withReplacement = false, sampleFrac, seed = 7L)
      .groupBy(key: _*).agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap * sampleFrac)
      .select((key :+ lit(true).as("is_hot")): _*)
    val tagged = keyed.join(broadcast(hotKeys), keyCols, "left")

    def prefixed(d: DataFrame, p: String): DataFrame =
      d.columns.foldLeft(d)((acc, c) => acc.withColumnRenamed(c, p + c))

    def pairs(l: DataFrame, r: DataFrame, extraKeys: Seq[String]): DataFrame = {
      val lp = prefixed(l, "l_")
      val rp = prefixed(r, "r_")
      val cond = (keyCols ++ extraKeys)
        .map(c => col("l_" + c) === col("r_" + c)).reduce(_ && _)
      lp.join(rp, cond && col("l_image_id") < col("r_image_id"))
    }

    val cold = tagged.filter(col("is_hot").isNull).drop("is_hot")
    val hot = tagged.filter(col("is_hot").isNotNull).drop("is_hot")
    val hotL = hot.withColumn("salt", pmod(xxhash64(col("image_id")), lit(nSalts)).cast("int"))
    val hotR = hot.withColumn("salt", explode(array((0 until nSalts).map(lit): _*)))

    val dropCols = (d: DataFrame) => d.drop("l_salt", "r_salt")
    dropCols(pairs(cold, cold, Nil))
      .unionByName(dropCols(pairs(hotL, hotR, Seq("salt"))))
  }

  /** Exact-identity collapse before a pair join: rows whose `keyCol` value
    * is identical are mutual duplicates BY CONSTRUCTION under the pass's
    * verify predicate (identical gram set → Jaccard 1; identical
    * simhash+span → Hamming 0 and span-compatible), so only one
    * representative (min image_id) enters the quadratic candidate join and
    * the rest attach via linear star edges. This is what keeps a mega-group
    * (e.g. millions of rows sharing one caption at 10^12 scale) LINEAR
    * instead of |group|² — salting only redistributes a clique, collapse
    * removes it. CC over star edges yields exactly the same components as
    * the clique would.
    *
    * @return (representatives, starEdges(a=rep, b=member))
    */
  def collapseExact(fps: DataFrame, keyCols: Seq[String]): (DataFrame, DataFrame) = {
    // Group on the ACTUAL key columns — a 64-bit hash of the key would
    // manufacture false "identical" rows on collision, which at 10^12 rows is
    // a certainty (birthday bound), and each one silently fuses two clusters.
    //
    // Representative = groupBy + min/min_by, NOT a window over the key: the
    // aggregates have map-side partial aggregation, so a mega-identity-group
    // (the very thing this stage exists to defuse) reduces to one row per
    // input partition before the shuffle. A Window.partitionBy(key) would
    // instead ship ALL rows of the group to one window task — a single-task
    // hot spot at scale.
    //
    // NULL keys: groupBy treats NULL as one group, but a plain equi-join for
    // the star edges would DROP those rows — a silent recall loss for a
    // user-supplied group column containing nulls. The star join is
    // therefore null-safe (<=> per key column), which keeps null-keyed rows
    // in the collapse exactly like any other identity group.
    // Representatives come STRAIGHT from the aggregate — min(image_id) picks
    // the rep and min_by(payload, image_id) carries the rep row's remaining
    // columns — so the candidate join's critical path is ONE shuffle (the
    // groupBy), not groupBy + join-back. The join-back below only builds the
    // star edges, which nothing consumes until the CC stage — off the
    // critical path, overlapped by AQE with the candidate stages.
    val payloadCols = fps.columns.filter(c => c != "image_id" && !keyCols.contains(c))
    val repAggs = min("image_id").as("image_id") +:
      payloadCols.map(c => min_by(col(c), col("image_id")).as(c)).toSeq
    val reps = fps.groupBy(keyCols.map(col): _*)
      .agg(repAggs.head, repAggs.tail: _*)
      .select(fps.columns.map(col).toSeq: _*) // original column order
    val repMin = keyCols.foldLeft(
      reps.select((keyCols.map(col) :+ col("image_id").as("rep_id")): _*)
    )((d, c) => d.withColumnRenamed(c, "__rk_" + c))
    val joinCond = keyCols.map(c => col(c) <=> col("__rk_" + c)).reduce(_ && _)
    val star = fps.join(repMin, joinCond)
      .filter(col("image_id") =!= col("rep_id"))
      .select(col("rep_id").as("a"), col("image_id").as("b"))
    (reps, star)
  }

  /** Expand representative-level pairs into the FULL verified pair listing.
    *
    * After [[collapseExact]], the join emits pairs between representatives
    * only; members of an identity group inherit every verified pair of their
    * representative (identical key ⇒ identical verify outcome), and every
    * within-group pair is itself verified (Hamming 0 / Jaccard 1) — exactly
    * the pairs the reference's all-pairs loop would produce
    * (/root/reference/SimHasher.cpp:149-192). QUADRATIC in identity-group
    * size BY DEFINITION (the listing itself is the quadratic object) — this
    * is the query-facing surface; the pipeline clusters on the collapsed
    * star+rep edge set, which is component-equivalent and linear.
    *
    * One join chain expands both kinds: a rep pair (a, b) becomes every
    * (member of a, member of b), and a representative paired with itself
    * becomes its group's clique (x < y). No dedup pass: each member has
    * exactly one representative and the rep pairs are unique with a < b,
    * so no two source pairs expand to the same pair and none expands to a
    * self-pair. least/greatest keeps a < b like the all-pairs loop.
    *
    * @param repPairs (a, b[, extra...]) pairs between representative ids,
    *                 unique with a < b; every extra column (e.g. a verified
    *                 similarity) is carried onto the pair's expansion
    * @param star     (a=rep, b=member) identity edges from [[collapseExact]]
    * @param reps     representative rows (must carry `image_id`)
    * @param within   the extra columns' values for every within-group pair,
    *                 named like the extra columns
    */
  def expandThroughStar(repPairs: DataFrame, star: DataFrame, reps: DataFrame,
                        within: Seq[Column] = Nil): DataFrame = {
    val extras = repPairs.columns.filterNot(c => c == "a" || c == "b").map(col).toSeq
    val members = star.select(col("a").as("rep"), col("b").as("member"))
      .unionByName(reps.select(col("image_id").as("rep"), col("image_id").as("member")))
    val selfPairs = reps.select((col("image_id").as("a") +: col("image_id").as("b") +: within): _*)
    repPairs.unionByName(selfPairs)
      .join(members.select(col("rep").as("a"), col("member").as("x")), "a")
      .join(members.select(col("rep").as("b"), col("member").as("y")), "b")
      .filter(col("a") =!= col("b") || col("x") < col("y"))
      .select((least(col("x"), col("y")).as("a") +:
        greatest(col("x"), col("y")).as("b") +: extras): _*)
  }

  /** SimHash bit-block candidate pairs, verified to Hamming <= sigma with
    * the span prefilter and optional same/diff-group modes
    * (/root/reference/SimHasher.cpp:91-122) in the join output filter.
    *
    * Pair-list contract: with `expandPairs = false` (pipeline default) the
    * output is star edges + representative pairs — complete only UP TO
    * connected-component closure (members of an identity group don't repeat
    * their representative's neighbor pairs). With `expandPairs = true` the
    * full verified pair listing is returned (reference all-pairs semantics;
    * see [[expandThroughStar]]).
    */
  def simhashPairs(fps: Dataset[FingerprintRow], cfg: GraftConfig, sigma: Int,
                   onlyDiffGroup: Boolean = false, onlySameGroup: Boolean = false,
                   expandPairs: Boolean = false): DataFrame = {
    if (sigma < 0) { // sigma_normal = -1 matches nothing (dif_config.txt:3)
      Materialize.empty(fps.sparkSession, "a" -> StringType, "b" -> StringType)
    } else {
      // collapse rows with identical (simhash, span, group) — d=0 and
      // span-compatible by construction — unless a group compare mode needs
      // per-row group checks. Project to the five columns this pass reads
      // BEFORE the collapse: the groupBy+join-back shuffles every row, and
      // the full fingerprint row carries the gram array and caption_norm
      // (a few hundred bytes) vs ~50 B for the simhash columns — the
      // heaviest all-rows exchange of the pipeline stays narrow.
      val groupMode = onlyDiffGroup || onlySameGroup
      val narrow = fps.toDF().select(
        col("image_id"), col("simhash"), col("simhash_lo"), col("span"), col("group"))
      val (base, star) =
        if (groupMode) (narrow, None)
        else {
          val (r, s) = collapseExact(narrow,
            Seq("simhash", "simhash_lo", "span", "group"))
          (r, Some(s))
        }
      val keyed = blockView(base, cfg)
      val raw = bucketSelfJoin(keyed, Seq("blockIdx", "blockVal"), cfg.hotBucketCap)
      val groupCond: Column =
        if (onlyDiffGroup) col("l_group") =!= col("r_group")
        else if (onlySameGroup) col("l_group") === col("r_group")
        else lit(true)
      val joined = raw
        .filter(
          hammingCol(cfg) <= lit(sigma) &&
          abs(col("l_span") - col("r_span")) <= least(col("l_span"), col("r_span")) * cfg.spanRatio &&
          groupCond)
        .select(col("l_image_id").as("a"), col("r_image_id").as("b"))
        .dropDuplicates("a", "b") // same pair can match in several blocks
      star match {
        case None => joined
        case Some(s) if expandPairs => expandThroughStar(joined, s, base)
        case Some(s) => joined.unionByName(s)
      }
    }
  }

  /** MinHash band candidate pairs, verified by exact Jaccard >= tau.
    *
    * Candidate generation is KEY-ONLY: the bucket self-join shuffles just
    * (image_id, bandIdx, bandKey) rows — the gram arrays (the heavy
    * payload) are joined back onto the deduplicated pair list afterwards,
    * so at 10^12 scale the wide data crosses the wire once per verified
    * candidate instead of once per band replica.
    *
    * @param minhashDerived kept only for source compatibility with
    *   `perfbench/src/perfbench/Layers.scala`; must be true.
    */
  def bandPairs(fps: Dataset[FingerprintRow], cfg: GraftConfig,
                expandPairs: Boolean = false,
                minhashDerived: Boolean = true): DataFrame = {
    require(minhashDerived, "the band pass always derives signatures from grams")
    // collapse identical gram sets (Jaccard 1 by construction) to one
    // representative each — a mega-group of equal captions costs O(|group|).
    // Projected to the columns this pass reads (id, grams for key+verify)
    // before the all-rows collapse shuffle.
    val (reps, star) = collapseExact(
      fps.toDF().select(col("image_id"), col("grams")), Seq("grams"))
    // The signature is a pure, order-insensitive min-fold of the gram set,
    // so it is computed here, once per REPRESENTATIVE, and never stored or
    // shuffled. Band key = the shared core's folded 64-bit band hash
    // (MinHashCore.bandHashes — band index mixed into the fold), not the
    // raw lane array: the exploded key rows are the self-join's shuffle
    // payload (nBands rows per rep), and a bigint key shuffles ~40% fewer
    // bytes and sort-merge-compares ~3x faster than an array<bigint>
    // (measured: the band join was the pipeline's largest exchange, 910 MB
    // written at 257k images). A fold collision (p ~ 2^-64 per bucket
    // pair) can only ADD a candidate, which the exact-Jaccard verify
    // rejects — the verified output is identical to lane-array banding.
    val rpb = cfg.rowsPerBand
    val minhashK = cfg.minhashK
    val seed = cfg.seed
    val spark0 = fps.sparkSession
    import spark0.implicits._
    val bandRows = reps.select(col("image_id"), col("grams"))
      .as[(String, Array[Long])]
      .mapPartitions { iter =>
        val perms = MinHashCore.permutations(minhashK, seed)
        iter.map { case (id, grams) =>
          (id, MinHashCore.bandHashes(
            MinHashCore.signature(grams, 0, grams.length, perms), rpb))
        }
      }
    val keyed = bandRows
      .toDF("image_id", "bandhashes")
      .select(col("image_id"),
        posexplode(col("bandhashes")).as(Seq("bandIdx", "bandKey")))
    val cand = bucketSelfJoin(keyed, Seq("bandIdx", "bandKey"), cfg.hotBucketCap)
      .select(col("l_image_id").as("a"), col("r_image_id").as("b"))
      .dropDuplicates("a", "b") // same pair may collide in several bands
    val grams = reps.select(col("image_id"), col("grams"))
    // |∩| via the codegen'd sorted-merge expression (grams are stored
    // sorted-distinct by both fingerprint paths): equal to
    // size(array_intersect(..)) by definition, but zero-allocation — the
    // built-in allocates an OpenHashSet PER ROW, which JFR measured at ~8%
    // of pipeline samples and which feeds the multi-thread allocation
    // contention (BENCH.md §hardware).
    val verified = cand
      .join(grams.select(col("image_id").as("a"), col("grams").as("a_grams")), "a")
      .join(grams.select(col("image_id").as("b"), col("grams").as("b_grams")), "b")
      .withColumn("inter", graft.functions.GraftExpressions.sortedIntersectCount(
        fps.sparkSession, col("a_grams"), col("b_grams")))
      .withColumn("uni", size(col("a_grams")) + size(col("b_grams")) - col("inter"))
      .filter(col("uni") > 0 && col("inter") >= col("uni") * cfg.jaccardTau)
      .select("a", "b")
    if (expandPairs) expandThroughStar(verified, star, reps)
    else verified.unionByName(star)
  }

  /** Union of all generators + pair-level dedup (SURVEY.md §2.7). */
  def allCandidates(fps: Dataset[FingerprintRow], cfg: GraftConfig): DataFrame = {
    val sim = simhashPairs(fps, cfg, cfg.sigmaHigh).withColumn("source", lit("simhash"))
    val band = bandPairs(fps, cfg)
      .withColumn("source", lit("minhash_band"))
    sim.unionByName(band)
      .groupBy("a", "b").agg(min("source").as("source"))
  }
}
