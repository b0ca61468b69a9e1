package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Iterative Dataset-based connected components (hash-partitioned min-label
  * propagation) — the scalable replacement for the reference's in-memory
  * disjoint set (/root/reference/CloneSet.cpp:22-84; SURVEY.md §7.1.3).
  *
  * Correctness argument for recall (SURVEY.md §7.1.3): the reference only
  * unions verified pairs, so every reference co-cluster pair is connected by
  * verified edges; CC over the full verified-edge set therefore reproduces
  * every reference co-cluster relation → dup-pair recall 1.0 by construction.
  *
  * Labels are the STRING image_id itself (component label = lexicographic
  * min member id). Identity is collision-free by construction — no 64-bit
  * hash stands in for a 10^12-row key space, where the birthday bound gives
  * tens of thousands of colliding pairs, each a silent cluster merge.
  *
  * Algorithm: each round (1) propagates the min label across edges in both
  * directions, then (2) path-compresses: since every label IS a vertex id,
  * a vertex can jump to its current label's label — convergence in
  * O(log diameter) rounds instead of O(diameter). Each round materializes
  * eagerly with ONE driver-side barrier (the changed-label count); all data
  * stays distributed.
  */
object Clustering {

  /** @param labels    (image_id, cluster_id: string = min member image_id)
    * @param iterations rounds run
    * @param converged  false iff maxIter was hit with labels still changing —
    *                   the component partition may then be SPLIT (never
    *                   over-merged); callers must surface this.
    *
    * `labels` is lazy and reads the id dictionary and the final batch;
    * `release()` frees those blocks once `labels` has been materialized.
    */
  final case class CCResult(labels: DataFrame, iterations: Int, converged: Boolean)(
      blocks: Seq[Materialized]) {
    def release(): Unit = blocks.foreach(_.release())
  }

  /** @param edges  (a, b) string-id pairs, each pair once in either order
    * @param vertices single-column "image_id" frame of ALL rows to label
    *                 (singletons keep their own label)
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 30): CCResult = {
    // Dense-long label space (round-6; round-5 JFR named UTF8String
    // materialization in these joins as the top remaining allocation site,
    // and allocation churn is the box's measured multi-thread contention
    // driver — BENCH.md §hardware). Edge-incident ids are dictionary-encoded
    // ONCE into compact longs; every per-round join/aggregation then moves
    // (bigint, bigint) rows instead of string pairs.
    //
    // The rid is the id's RANK in string order (sort + zipWithIndex,
    // materialized through the checkpoint seam so the assignment is stable
    // across subtree re-executions — `monotonically_increasing_id` alone is
    // neither stable nor usable here). ORDER-PRESERVING encoding is
    // load-bearing twice over: (1) min-rid ≡ min-string-id, so decoded
    // labels are bit-identical to the string implementation
    // (CCConvergenceSpec pins cluster_id = min member id); (2) the loop's
    // state trajectory is comparison-only, so rank encoding makes every
    // batch isomorphic to the string run — same batch count, same probe
    // behavior. (A scrambled assignment was measured to break the
    // pointer-jump acceleration on long chains: a 300-vertex path needed
    // O(diameter) batches instead of O(log), and each batch's checkpoint
    // re-inherits the plan's estimated sizeInBytes, whose ~200-leaf product
    // then COMPOUNDS per batch into million-bit BigInts that stall the
    // optimizer's stats visitor — driver-side, before any task runs.)
    val spark = edges.sparkSession
    val dict = {
      import spark.implicits._
      val sortedIds = edges.select(col("a").as("id"))
        .unionByName(edges.select(col("b").as("id")))
        .distinct()
        .orderBy("id")
        .as[String].rdd.zipWithIndex()
      Materialize(sortedIds.toDF("id", "rid"))
    }
    // live batch handles, newest first: a batch's blocks are freed as soon
    // as the next batch is materialized (the next batch's plan scans its OWN
    // checkpoint; kept until session end, they GC-thrashed back-to-back runs
    // to 5x wall). The FINAL batch backs the returned labels. On any failure
    // every handle taken here is released before the error propagates.
    var batches = List.empty[Materialized]
    try {
      // Lineage discipline (plan-explosion gotcha): the pointer-jump step
      // SELF-JOINS each round's frame, so an un-truncated logical plan
      // doubles per round (2^rounds); and `sym` is re-referenced every
      // round. Both are therefore materialized eagerly — the plan each round
      // is then two scans, constant-size, regardless of round count.
      // (Data-wise these frames are edge-incident rows only — tiny next to
      // the corpus.)
      val longEdges = edges
        .join(dict.df.select(col("id").as("a"), col("rid").as("ra")), Seq("a"))
        .join(dict.df.select(col("id").as("b"), col("rid").as("rb")), Seq("b"))
        .select(col("ra"), col("rb"))
      val sym = Materialize(
        longEdges.select(col("ra").as("src"), col("rb").as("dst"))
          .unionByName(longEdges.select(col("rb").as("src"), col("ra").as("dst")))
          .repartition(col("src")))

      // Round-6 floor cut: with AQE on, EVERY exchange in a batch is its own
      // query-stage job with driver/replan turnaround — ~15 stage-jobs per
      // batch of tiny checkpoint-backed CC frames, pure serial-floor latency
      // that does not shrink with cores. The loop therefore runs in a CHILD
      // session (same SparkContext, own SQLConf — no conf set/restore races
      // with concurrently-running tier CCs) with AQE off, so one batch is ONE
      // job with all its stages pipelined by the DAG scheduler. What AQE was
      // providing the loop is replaced explicitly: (a) runtime partition
      // coalescing → a static shuffle width derived from the materialized
      // sym's OWN partition count (AQE already coalesced that exchange to a
      // data-proportional width; floored for multi-core parallelism) —
      // scale-adaptive, not a tuned constant; (b) dynamic broadcast — not
      // applicable: the loop's joins are label-frame ⋈ label-frame/sym, both
      // sides checkpoint-backed with only product-inflated inherited size
      // estimates, so AQE never broadcast them here anyway (and at scale they
      // are not broadcastable). The candidate generators and everything else
      // keep AQE (fully off was measured 3x worse in round 5 — dynamic
      // broadcasts there are load-bearing).
      val loopSession = spark.newSession()
      loopSession.conf.set("spark.sql.adaptive.enabled", "false")
      loopSession.conf.set("spark.sql.shuffle.partitions", math.max(
        sym.df.rdd.getNumPartitions,
        math.min(16, spark.sparkContext.defaultParallelism)).toString)
      // bridge sym into the loop session through a global temp view (public
      // API; same plan + checkpoint blocks, no data conversion)
      val symView = "graft_cc_sym_" + java.util.UUID.randomUUID.toString.replace("-", "_")

      var iter = 0
      var converged = false
      var labels: DataFrame = null
      try {
        sym.df.createOrReplaceGlobalTempView(symView)
        val symLoop = loopSession.table("global_temp." + symView)

        // Only vertices incident to an edge participate in propagation; the
        // (overwhelmingly more numerous, at production dup rates) singletons
        // keep their own label and never enter the loop. Initial labels stay
        // lazy — their plan is one scan of the checkpointed `sym` (constant
        // size), and round 1 materializes them anyway; a separate init job
        // would be a pure extra barrier.
        labels = symLoop.select(col("src").as("vid")).distinct()
          .withColumn("label", col("vid"))

        // One BATCH = two full rounds of (propagate min over edges, then
        // pointer jump x2) PLUS a final convergence-probe propagate, fused
        // into a single materialization. Rationale: every driver barrier is
        // fixed latency that does not shrink with cores (the
        // scaling-efficiency killer); labels shrink ~16x in distance per
        // batch (2 rounds x jump x2), so almost all corpora converge in one
        // batch — and the in-batch probe PROVES it without a second full
        // batch (previously a whole 2-round confirmation batch, ~14 extra
        // shuffles, ran just to observe changed == 0).
        //
        // Probe soundness (why propagate-stability == full convergence):
        // labels only ever decrease, stay within the vertex's own component,
        // and label(v) <= v, so the component min m always keeps
        // label(m) = m. If a propagate changes nothing, then
        // nmin(v) >= label(v) for every v; walking any path
        // m = x0 - x1 - ... - xk: nmin(x1) <= label(m) = m and
        // label(x1) <= nmin(x1) give label(x1) = m, and inductively every
        // label in the component equals m. Uniform root labels also make
        // both jumps no-ops — nothing in a further batch could change any
        // label.
        // probe variant keeps the incoming label as `prev` so the converged
        // test is a filter on the SAME materialized frame (no extra join),
        // and its own min-fold is still applied — probe work is never thrown
        // away
        def propagateProbe(d: DataFrame): DataFrame = {
          val neighborMin = symLoop
            .join(d.select(col("vid").as("src"), col("label")), "src")
            .groupBy(col("dst").as("vid"))
            .agg(min("label").as("nmin"))
          d.join(neighborMin, Seq("vid"), "left")
            .select(col("vid"), col("label").as("prev"),
              least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        }
        def propagate(d: DataFrame): DataFrame =
          propagateProbe(d).select("vid", "label")
        def jump(d: DataFrame): DataFrame = d
          .join(d.select(col("vid").as("label"), col("label").as("ll")),
            Seq("label"), "left")
          .select(col("vid"),
            least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        def round(d: DataFrame): DataFrame = jump(jump(propagate(d)))

        // Empty edge set → nothing propagates: skip the loop entirely
        // instead of paying one full batch to observe it. Not just a test
        // nicety — the tiered surface runs one CC per tier and the reference
        // ships sigma_normal = -1 (an ALWAYS-empty normal tier), so this one
        // limit-1 job on the materialized `sym` saves ~15 shuffles per
        // tiered query. `labels` must then stop referencing `sym` (whose
        // blocks are freed below, and the lazy init plan scans them).
        converged = sym.df.isEmpty
        if (converged)
          labels = Materialize.empty(spark, "vid" -> LongType, "label" -> LongType)
        while (!converged && iter < maxIter) {
          batches = Materialize(propagateProbe(round(round(labels)))) :: batches
          val next = batches.head.df
          val probeChanged = next.filter(col("label") =!= col("prev")).count()
          batches.tail.foreach(_.release())
          batches = batches.take(1)
          labels = next.select("vid", "label")
          converged = probeChanged == 0
          iter += 3 // two full rounds + the probe propagate per batch
        }
      } finally {
        // sym is only referenced inside the loop rounds; the returned plan
        // bottoms out at the final batch's checkpoint + the caller's vertices
        sym.release()
        spark.catalog.dropGlobalTempView(symView)
      }
      if (!converged)
        System.err.println(s"[graft] WARNING: connectedComponents hit maxIter=$maxIter " +
          "with labels still changing — components with diameter > 2^maxIter may be " +
          "returned SPLIT (recall, not precision, is at risk). Raise maxIter.")
      // Decode + re-attach: rids back to ids with two dict joins — the label
      // rid IS the min member's rank, so its decoded id IS the min member id
      // (order-preserving encoding) — and every non-edge input vertex labels
      // itself (singleton clusters).
      val mapped = labels
        .join(dict.df.select(col("rid").as("vid"), col("id").as("image_id")), Seq("vid"))
        .join(dict.df.select(col("rid").as("label"), col("id").as("cluster_id")), Seq("label"))
        .select("image_id", "cluster_id")
      val out = vertices
        .select(col("image_id"))
        .join(mapped, Seq("image_id"), "left")
        .select(col("image_id"), coalesce(col("cluster_id"), col("image_id")).as("cluster_id"))
      CCResult(out, iter, converged)(dict :: batches)
    } catch {
      case e: Throwable =>
        (dict :: batches).foreach(_.release())
        throw e
    }
  }

  /** Cluster statistics (SURVEY.md §2.5 A2): per-cluster member count and
    * span stats — analogue of CloneSetSInfo min/max/avg/total
    * (/root/reference/CloneSet.cpp:292-322).
    */
  def clusterStats(clusters: DataFrame, fps: DataFrame): DataFrame =
    clusters.join(fps.select("image_id", "span"), "image_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min("span").as("min_span"), max("span").as("max_span"),
        avg("span").as("avg_span"), sum("span").as("total_span"))

  /** Cluster-size histogram (A3): size → number of clusters, analogue of
    * nblockAmountMap/hblockAmountMap (/root/reference/CloneSet.cpp:172-231).
    */
  def sizeHistogram(clusters: DataFrame): DataFrame =
    clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** Two-tier clustering surface (reference high-sim vs normal-sim clone-set
    * lists, /root/reference/CloneSet.cpp:86-165, CloneSet.h:59-92): one
    * component run per (tier, edge set), stacked with a `tier` column and
    * materialized; the per-tier CC blocks are released once it is. The
    * shipped reference config has sigma_normal = -1 (normal tier matches
    * nothing — dif_config.txt:3); callers pass a positive sigma to light the
    * tier up. Tier-split size histogram = groupBy(tier, size) downstream.
    */
  def tieredClusters(vertices: DataFrame,
                     edgesByTier: Seq[(String, DataFrame)]): Materialized = {
    val results = tieredClustersResults(vertices, edgesByTier)
    try Materialize(results.map { case (tier, cc) =>
      // surface non-convergence at this level, not just a stderr warning
      // buried in connectedComponents — a split component is a RECALL bug
      // the caller must see (round-2 ADVICE)
      if (!cc.converged)
        throw new IllegalStateException(s"tieredClusters: tier '$tier' did NOT converge in " +
          s"${cc.iterations} rounds — components may be returned split")
      cc.labels.withColumn("tier", lit(tier))
    }.reduce(_.unionByName(_)))
    finally results.foreach(_._2.release())
  }

  /** Per-tier CC runs with full [[CCResult]]s (iterations + converged flag)
    * for callers that need the convergence state per tier.
    *
    * Tiers run CONCURRENTLY from driver threads (guide §2.6): each tier's
    * CC is an independent chain of small jobs whose cost is dominated by
    * driver/AQE barrier latency, not task work (round-6 probe: ~36 jobs and
    * ~3-10 task-core-s per tier at sf0.1) — overlapping them hides one
    * tier's barriers behind the other's, and the later tier's tasks
    * back-fill the earlier tier's idle cores. Safe because [[Materialize]]
    * attributes checkpoint blocks from the frame's own plan
    * (thread-confined), and Spark's scheduler handles concurrent actions
    * from one driver natively. If any tier fails, every tier is awaited and
    * the finished ones are released before the first error is rethrown.
    */
  def tieredClustersResults(vertices: DataFrame,
                            edgesByTier: Seq[(String, DataFrame)])
      : Seq[(String, CCResult)] = {
    if (edgesByTier.size <= 1)
      edgesByTier.map { case (tier, edges) =>
        tier -> connectedComponents(vertices, edges)
      }
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      import scala.util.{Failure, Try}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(edgesByTier.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val futures = edgesByTier.map { case (tier, edges) =>
          Future { tier -> connectedComponents(vertices, edges) }
        }
        val done = futures.map(f => Try(Await.result(f, Duration.Inf)))
        done.collectFirst { case Failure(e) => e }.foreach { e =>
          done.foreach(_.foreach(_._2.release()))
          throw e
        }
        done.map(_.get)
      } finally pool.shutdown()
    }
  }
}
