package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.core.{GraftConfig, MinHashCore, SimHashCore}
import graft.model.FingerprintRow

/** Candidate generation + verification (SURVEY.md §2.4 J2-J4, §2.7).
  *
  * Replaces the reference's O(n²) nested loop (CloneBAS
  * `SimHasher.cpp:149-192`) with ONE bucketed self-join that both
  * generators feed:
  *
  *  - SimHash pigeonhole bit-block buckets (Manku et al., WWW'07): split the
  *    fingerprint into sigma + 1 bit ranges; any pair at
  *    Hamming <= sigma shares >= 1 identical block → an equi-join on
  *    (blockIdx, blockVal) yields an EXACT candidate superset for the
  *    sigma_high tier, then the reference's own predicates verify:
  *    span prefilter (SimHasher.cpp:96-99) and Hamming <= sigma via
  *    codegen'd `bit_count(a ^ b)` (SimHasher.cpp:195-198) — no UDF in the
  *    hot path.
  *
  *  - MinHash band buckets (Broder '97 / LSH banding): equi-join on
  *    (bandIdx, bandHash), verified by exact Jaccard >= tau on the distinct
  *    gram-hash arrays.
  *
  * Each generator emits key-only rows of its collapse representatives;
  * [[verifiedPairs]] joins them all in one salted [[bucketSelfJoin]] and
  * verifies by payload join-back. [[simhashPass]]/[[bandPairs]] pass one
  * generator; [[allCandidates]] takes every edge source: simhash, band,
  * substring ([[Substring]]), in one union and one dedup. A
  * [[SimhashPass]] tags each verified pair with its Hamming distance and
  * group test, so one pass at sigma answers every sigma' <= sigma and the
  * cross-group listing by filters.
  * Skew: [[bucketSelfJoin]] is one salted join in which a bucket hotter
  * than `hotBucketCap` gets `NSalts` salts and every other bucket one,
  * exactly; AQE skew-join handles the residual imbalance.
  */
object Candidates {

  /** Salts per hot bucket in [[bucketSelfJoin]]. */
  private val NSalts = 8

  /** One candidate generator over its collapse representatives.
    *
    * @param source the `source` tag of its pairs in [[allCandidates]]
    * @param keys   key-only bucket rows (image_id, idx, key)
    * @param reps   representative rows: `image_id` + the payload `verify` reads
    * @param verify exact predicate over a candidate's l_/r_-prefixed payload
    * @param star   (a=rep, b=member) identity edges
    */
  private case class Generator(source: String, keys: DataFrame, reps: DataFrame,
                               verify: Column, star: DataFrame)

  /** The simhash words at the config's width (LO only in 128-bit mode). */
  private def words(cfg: GraftConfig): Seq[String] =
    Seq("simhash", "simhash_lo").take(cfg.bits / 64)

  /** Hamming distance of a candidate's l_/r_ simhash words, codegen'd. */
  private def hamming(cfg: GraftConfig): Column =
    words(cfg).map(w => bit_count(col("l_" + w).bitwiseXOR(col("r_" + w)))).reduce(_ + _)

  /** Pigeonhole block key rows (image_id, idx, key) of the representatives.
    * The pass splits into b = sigma + 1 blocks: the fewest that make the
    * join exact (Hamming <= sigma ⇒ one whole block identical), and fewer,
    * wider blocks make a smaller candidate superset. Each word splits into
    * n = ceil(b / |words|) bit ranges, block i covering bits
    * [i*64/n, (i+1)*64/n) of its word — a disjoint partition of all 64 or
    * 128 bits into n * |words| >= b blocks, so the guarantee holds over the
    * full distance. Pure column math, codegen'd.
    */
  private def blockView(reps: DataFrame, cfg: GraftConfig, sigma: Int): DataFrame = {
    val b = sigma + 1
    val n = (b + words(cfg).length - 1) / words(cfg).length
    val blocks = for ((w, wi) <- words(cfg).zipWithIndex; i <- 0 until n) yield {
      val lo = (i * 64) / n
      val width = ((i + 1) * 64) / n - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(wi * n + i).as("idx"),
        shiftrightunsigned(col(w), lo).bitwiseAND(lit(mask)).as("key"))
    }
    reps.select(col("image_id"), inline(array(blocks: _*)))
  }

  /** Generic exact salted self-join on a bucket-keyed view: ONE join.
    *
    * Every bucket has a salt count s: `NSalts` for a bucket hotter than
    * `cap` rows, 1 for every other. The LEFT copy of a row gets one
    * deterministic salt `xxhash64(id) % s`; the RIGHT copy is replicated to
    * all s salts (explode). Joining on (key, salt) then produces every
    * unordered pair exactly once (the left row's salt matches exactly one
    * right replica; `l_id < r_id` orders the pair) while splitting a hot
    * bucket into s shuffle keys — no task ever materializes the whole
    * mega-bucket. At s = 1 this is the plain self-join, so cold and hot
    * buckets share one plan; replication cost is s× on hot rows only.
    *
    * @param keyed   DataFrame with bucket key columns `keyCols` + payload
    *                (must include `image_id`)
    * @param keyCols bucket identity
    * @param cap     rows-per-bucket threshold above which salting applies
    * @return        pairs with all payload columns prefixed l_/r_
    */
  def bucketSelfJoin(keyed: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    val key = keyCols.map(col)
    // Hot-key detection on a fixed-fraction SAMPLE: hotness only decides
    // a bucket's salt count (a performance knob — candidate
    // exactness is identical either way), so an estimate suffices. A truly
    // hot bucket (>> cap rows) is caught by the sample with overwhelming
    // probability; the sampled groupBy shuffles 1/8 of the exploded volume.
    // The resulting hot-key set is tiny and broadcast — the full table is
    // never re-shuffled against its own counts.
    val sampleFrac = 0.125
    val hotKeys = keyed.sample(withReplacement = false, sampleFrac, seed = 7L)
      .groupBy(key: _*).agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap * sampleFrac)
      .select((key :+ lit(NSalts).as("n_salts")): _*)
    val salted = keyed.join(broadcast(hotKeys), keyCols, "left")
      .withColumn("n_salts", coalesce(col("n_salts"), lit(1)))

    def side(salt: Column, p: String) = {
      val d = salted.withColumn("salt", salt).drop("n_salts")
      d.select(d.columns.map(c => col(c).as(p + c)).toSeq: _*)
    }
    val cond = (keyCols :+ "salt").map(c => col("l_" + c) === col("r_" + c)).reduce(_ && _)
    side(pmod(xxhash64(col("image_id")), col("n_salts")).cast("int"), "l_")
      .join(side(explode(sequence(lit(0), col("n_salts") - 1)), "r_"),
        cond && col("l_image_id") < col("r_image_id"))
      .drop("l_salt", "r_salt")
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
    * (CloneBAS `SimHasher.cpp:149-192`). QUADRATIC in identity-group
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

  /** The candidate core: the generators' key rows, tagged with their index
    * `gen`, run through ONE [[bucketSelfJoin]] on (gen, idx, key) and one
    * dedup on (gen, a, b). Each candidate joins its generator's payload back
    * by id — a wide payload crosses the wire once per candidate, not once
    * per key row — and is kept iff that generator's predicate holds.
    *
    * @param carry columns over the l_/r_-prefixed payload kept on each pair
    * @return verified representative pairs (a, b, source, carry...), a < b
    */
  private def verifiedPairs(gens: Seq[Generator], cap: Int,
                            carry: Seq[Column] = Nil): DataFrame = {
    def tagged(rows: Generator => DataFrame): DataFrame = gens.zipWithIndex
      .map { case (g, i) => rows(g).withColumn("gen", lit(i)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val cand = bucketSelfJoin(tagged(_.keys), Seq("gen", "idx", "key"), cap)
      .select(col("l_gen").as("gen"), col("l_image_id").as("a"), col("r_image_id").as("b"))
      .dropDuplicates("gen", "a", "b")
    val payload = tagged(_.reps)
    def side(id: String, prefix: String): DataFrame = payload.select(payload.columns.map {
      case "gen" => col("gen")
      case "image_id" => col("image_id").as(id)
      case c => col(c).as(prefix + c)
    }.toSeq: _*)
    val keep = gens.zipWithIndex
      .map { case (g, i) => col("gen") === i && g.verify }.reduce(_ || _)
    cand.join(side("a", "l_"), Seq("gen", "a"))
      .join(side("b", "r_"), Seq("gen", "b"))
      .filter(keep)
      .select((col("a") +: col("b") +:
        element_at(typedLit(gens.map(_.source)), col("gen") + 1).as("source") +: carry): _*)
  }

  /** The SimHash generator: bit-block keys, verified to Hamming <= sigma
    * (>= 0) with the span prefilter (CloneBAS `SimHasher.cpp:91-122`).
    */
  private def simhashGen(fps: Dataset[FingerprintRow], cfg: GraftConfig, sigma: Int): Generator = {
    // collapse rows with identical (simhash, span, group) — d=0 and
    // span-compatible by construction. Projected first: the collapse
    // shuffles every row, at ~50 B instead of the full row's gram array and
    // caption.
    val (reps, star) = collapseExact(fps.toDF().select(
      col("image_id"), col("simhash"), col("simhash_lo"), col("span"), col("group")),
      Seq("simhash", "simhash_lo", "span", "group"))
    val spanOk = abs(col("l_span") - col("r_span")) <=
      least(col("l_span"), col("r_span")) * SimHashCore.SpanRatio
    Generator("simhash", blockView(reps, cfg, sigma), reps,
      hamming(cfg) <= lit(sigma) && spanOk, star)
  }

  /** The MinHash band generator, verified by exact Jaccard >= tau. */
  private def bandGen(fps: Dataset[FingerprintRow], cfg: GraftConfig): Generator = {
    // collapse identical gram sets (Jaccard 1 by construction) to one
    // representative each — a mega-group of equal captions costs O(|group|).
    // Projected to the columns this pass reads (id, grams for key+verify)
    // before the all-rows collapse shuffle.
    val (reps, star) = collapseExact(
      fps.toDF().select(col("image_id"), col("grams")), Seq("grams"))
    // The signature is computed here, once per REPRESENTATIVE, and never
    // stored. Band key = MinHashCore.bandHashes' folded 64-bit hash (band
    // index mixed in), not the lane array: a bigint key shuffles ~40% fewer
    // bytes and compares ~3x faster (the band join was the pipeline's
    // largest exchange, 910 MB at 257k images). A fold collision
    // (p ~ 2^-64) can only ADD a candidate, which the exact verify rejects.
    val (k, rpb) = (cfg.minhashK, cfg.rowsPerBand)
    val spark0 = fps.sparkSession
    import spark0.implicits._
    val keys = reps.as[(String, Array[Long])]
      .mapPartitions { iter =>
        val perms = MinHashCore.permutations(k, MinHashCore.Seed)
        iter.map { case (id, grams) =>
          (id, MinHashCore.bandHashes(MinHashCore.signature(grams, 0, grams.length, perms), rpb))
        }
      }
      .toDF("image_id", "bandhashes")
      .select(col("image_id"), posexplode(col("bandhashes")).as(Seq("idx", "key")))
    // |∩| by the codegen'd sorted merge (grams are stored sorted-distinct):
    // size(array_intersect(..)) allocates an OpenHashSet PER ROW, which JFR
    // measured at ~8% of pipeline samples (BENCH.md §hardware).
    val inter = graft.functions.GraftExpressions.sortedIntersectCount(
      spark0, col("l_grams"), col("r_grams"))
    val uni = size(col("l_grams")) + size(col("r_grams")) - inter
    Generator("minhash_band", keys, reps, uni > 0 && inter >= uni * cfg.jaccardTau, star)
  }

  /** A simhash pass as ONE frame, materialized in one job, of (a, b, d,
    * cross, member) rows: each verified representative pair (a < b, Hamming
    * distance d, cross = the groups differ) and, for every input row b, a
    * member row (a = b's representative, d = 0, cross = false). A member
    * shares its representative's collapse key (simhash, span, group), hence
    * its distance, verify outcome and group test, so a view at any sigma' <=
    * the pass's sigma is exact. `member` is a literal per branch: a view of
    * an unmaterialized pass plans only the branch it reads.
    */
  final case class SimhashPass(rows: DataFrame) {

    /** Star edges + rep pairs: complete only UP TO connected-component
      * closure (members don't repeat their representative's pairs).
      */
    def edges(sigma: Int): DataFrame =
      rows.filter(col("d") <= sigma && col("a") =!= col("b")).select("a", "b")

    /** The full verified pair listing (a, b, cross); see [[expandThroughStar]]. */
    def listing(sigma: Int): DataFrame = {
      val member = rows.filter(col("member"))
      expandThroughStar(
        rows.filter(!col("member") && col("d") <= sigma).select("a", "b", "cross"),
        member.filter(col("a") =!= col("b")).select("a", "b"),
        member.filter(col("a") === col("b")).select(col("a").as("image_id")),
        within = Seq(lit(false).as("cross")))
    }
  }

  /** The [[SimhashPass]] at Hamming <= sigma: one bucket join. */
  def simhashPass(fps: Dataset[FingerprintRow], cfg: GraftConfig, sigma: Int): SimhashPass = {
    require(sigma >= 0, s"simhash sigma must be >= 0, got $sigma")
    val g = simhashGen(fps, cfg, sigma)
    val repPairs = verifiedPairs(Seq(g), cfg.hotBucketCap,
      Seq(hamming(cfg).as("d"), (col("l_group") =!= col("r_group")).as("cross")))
    val members = g.star.unionByName(g.reps.select(col("image_id").as("a"), col("image_id").as("b")))
    SimhashPass(repPairs.select(col("a"), col("b"), col("d"), col("cross"), lit(false).as("member"))
      .unionByName(members.select(col("a"), col("b"),
        lit(0).as("d"), lit(false).as("cross"), lit(true).as("member"))))
  }

  /** SimHash bit-block pairs at Hamming <= sigma: the [[simhashPass]] at
    * sigma, as its [[SimhashPass.edges]] (star edges + rep pairs; the full
    * pair listing is [[SimhashPass.listing]]). Empty for sigma < 0
    * (sigma_normal = -1 matches nothing, dif_config.txt:3).
    */
  def simhashPairs(fps: Dataset[FingerprintRow], cfg: GraftConfig, sigma: Int): DataFrame =
    if (sigma < 0) Materialize.empty(fps.sparkSession, "a" -> StringType, "b" -> StringType)
    else simhashPass(fps, cfg, sigma).edges(sigma)

  /** MinHash band pairs at exact Jaccard >= tau, as star edges + rep pairs
    * or, with `expandPairs = true`, expanded ([[expandThroughStar]]).
    *
    * @param minhashDerived kept only for source compatibility with
    *   `perfbench/src/perfbench/Layers.scala`; must be true.
    */
  def bandPairs(fps: Dataset[FingerprintRow], cfg: GraftConfig,
                expandPairs: Boolean = false,
                minhashDerived: Boolean = true): DataFrame = {
    require(minhashDerived, "the band pass always derives signatures from grams")
    val g = bandGen(fps, cfg)
    val verified = verifiedPairs(Seq(g), cfg.hotBucketCap).select("a", "b")
    if (expandPairs) expandThroughStar(verified, g.star, g.reps) else verified.unionByName(g.star)
  }

  /** Every edge source: simhash, band, substring (if `cfg.substringPass`).
    * Both generators run through ONE candidate core; one union and one
    * pair-level dedup (SURVEY.md §2.7) keep the smallest `source` tag.
    */
  def allCandidates(fps: Dataset[FingerprintRow], cfg: GraftConfig): DataFrame = {
    val gens = Option.when(cfg.sigmaHigh >= 0)(simhashGen(fps, cfg, cfg.sigmaHigh)).toSeq :+
      bandGen(fps, cfg)
    // J5: word-aligned caption-substring pairs from the carried caption_norm
    // (one normalization, no rescan of raw captions). Gated rows lose no
    // pair: a pair needs minSpan < a_span < b_span, so both ends pass the gate.
    val substring = Option.when(cfg.substringPass)(Substring.substringPairs(
      fps.select(col("image_id"), col("caption_norm"), col("span")), cfg)
      .withColumn("source", lit("substring")))
    (gens.map(g => g.star.withColumn("source", lit(g.source))) ++ substring)
      .foldLeft(verifiedPairs(gens, cfg.hotBucketCap))(_ unionByName _)
      .groupBy("a", "b").agg(min("source").as("source"))
  }
}
