package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Candidates, Materialize, Materialized}

/** Text-analysis + dedup operators over the `documents` corpus — the
  * training-data-pipeline operations (dedup, quality, token stats, language
  * heuristics, fingerprinting) expressed as Catalyst column algebra so every
  * step stays inside WholeStageCodegen (no UDFs on these paths).
  *
  * All operators read (doc_id, text[, n_chars]) only — column pruning keeps
  * the scan minimal — and scale by doc count: gram explosion is linear in
  * corpus size and the pair joins are equi-joins on gram/bucket keys.
  */
object TextOps {

  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Scan-parallelism floor (guide §6 `minPartitionNum` made explicit): the
    * sf corpora are sub-megabyte parquet files, so the file-source packer
    * hands the whole table to ONE split and every expensive per-row stage
    * downstream (gram Generate, fingerprint mapPartitions, cosine loops over
    * a BroadcastNestedLoopJoin's stream side) runs serially on one core.
    * A round-robin repartition to `defaultParallelism` distributes that work;
    * the guard makes it SCALE-ADAPTIVE: a production-size input already has
    * >= defaultParallelism splits and is passed through untouched — no
    * shuffle is ever added at scale. Results are partitioning-independent
    * (all consumers are aggregations/equi-joins/per-row maps with a final
    * orderBy).
    */
  private[queries] def scanFloor(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target) else df
  }

  /** Word tokens column (whitespace split of the raw text). */
  def toks: Column = split(col("text"), " ")

  /** Sliding word n-grams as an array column, built with pure column math:
    * transform over 0..len-n of slice+join (codegen'd, no UDF).
    */
  def wordNgrams(tokens: Column, n: Int): Column = {
    // sequence(1, greatest(1, size-n+1)) positions; slice(tokens, p, n) joined
    transform(
      sequence(lit(1), greatest(lit(1), size(tokens) - (n - 1))),
      p => concat_ws(" ", slice(tokens, p, lit(n)))
    )
  }

  /** Exact n-gram Jaccard pairs >= tau (round-6 shape; same output as the
    * round-5 plain gram self-join, proven by the shared DuckDB oracle):
    *
    *  1. ONE gram-construction pass builds the per-doc sorted-distinct gram
    *     SET, materialized eagerly — the old shape re-ran the expensive
    *     split/slice/concat Generate four times per query (both join sides +
    *     two size legs).
    *  2. [[Candidates.collapseExact]] on the gram set: docs with identical
    *     sets are Jaccard-1 cliques BY CONSTRUCTION — one representative
    *     enters the quadratic join, members re-attach linearly afterwards.
    *     A mega-group of identical texts (the 10^12-scale hazard) costs
    *     O(|group|), not |group|².
    *  3. The gram self-join runs through [[Candidates.bucketSelfJoin]] on a
    *     64-bit `xxhash64(gram)` bucket key with the STRING equality kept in
    *     the join filter: the hash only decides bucketing/salting, so a
    *     collision cannot add or merge an intersection row — counts stay
    *     exact — while a hot gram (shared by m docs, m²/2 rows through one
    *     shuffle bucket in the old shape) gets `NSalts` salts in the same
    *     single join as every cold gram (one salt), exactly like the
    *     pipeline's LSH buckets.
    *  4. |A∪B| = |A|+|B|-∩ from the collapsed sets' sizes;
    *     [[Candidates.expandThroughStar]] gives members their
    *     representative's pairs (identical set ⇒ identical j), and
    *     within-group pairs are j = 1.0 exactly — the same values the
    *     all-pairs join produced.
    *
    * The pair frame is returned materialized; the gram-set blocks it was
    * built from are released once it is.
    *
    * @param hotGramCap bucket size above which gram-bucket salting applies
    *                   (tests force the hot path with a tiny cap)
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, tau: Double,
                        hotGramCap: Int = 500): Materialized = {
    // (image_id, gset) — the ONLY pass over the raw text; materializing
    // pins it (collapse, sample, both join sides, sizes and the star
    // expansion all re-read these blocks at scan speed).
    val docSets = Materialize(scanFloor(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id").as("image_id"),
        sort_array(array_distinct(wordNgrams(toks, n))).as("gset")))
    try Materialize(jaccardPairs(docSets.df, tau, hotGramCap))
    finally docSets.release()
  }

  private def jaccardPairs(docSets: DataFrame, tau: Double, hotGramCap: Int): DataFrame = {
    val (reps, star) = Candidates.collapseExact(docSets, Seq("gset"))

    // representative gram rows, bucket-keyed by the 64-bit gram hash; the
    // gram string rides along for the exact equality check
    val keyed = reps
      .select(col("image_id"), explode(col("gset")).as("gram"))
      .select(col("image_id"), xxhash64(col("gram")).as("gh"), col("gram"))
    val inter = Candidates.bucketSelfJoin(keyed, Seq("gh"), hotGramCap)
      .filter(col("l_gram") === col("r_gram")) // hash buckets, strings decide
      .groupBy(col("l_image_id").as("a"), col("r_image_id").as("b"))
      .agg(count(lit(1)).as("inter"))

    val sizes = reps.select(col("image_id"), size(col("gset")).as("n"))
    val repPairs = inter
      .join(sizes.toDF("a", "na"), "a")
      .join(sizes.toDF("b", "nb"), "b")
      .withColumn("j", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("j") >= tau)
      .select("a", "b", "j")

    // members inherit their representative's pairs with j unchanged;
    // within-group pairs are the Jaccard-1 pairs of the identical-set
    // clique, dropped by the filter when tau > 1
    Candidates.expandThroughStar(repPairs, star, reps, within = Seq(lit(1.0).as("j")))
      .filter(col("j") >= tau)
      .select(col("a").as("da"), col("b").as("db"), col("j"))
  }
}
