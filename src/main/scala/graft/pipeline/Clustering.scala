package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed connected components — the scalable replacement for the
  * reference's in-memory disjoint set (CloneSet.cpp:22-84; SURVEY.md
  * §7.1.3).
  *
  * Correctness argument for recall (SURVEY.md §7.1.3): the reference only
  * unions verified pairs, so every reference co-cluster pair is connected by
  * verified edges; CC over the full verified-edge set therefore reproduces
  * every reference co-cluster relation → dup-pair recall 1.0 by construction.
  *
  * Algorithm: alternating large-star / small-star rounds (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014). The edge set
  * is kept as oriented pairs (hi, lo) with hi > lo; self-loops are dropped.
  * With Γ(u) the neighbours of u, one round is
  *  - large-star: for each vertex u, m = min(u, Γ(u)); every neighbour
  *    v > u is linked to m instead of u;
  *  - small-star: for each vertex u, m′ = min of u and its smaller
  *    neighbours; u and each of those neighbours are linked to m′.
  * Neither pass joins two components, splits one or drops a vertex, and the
  * alternation reaches a fixed point in O(log² n) rounds. Both passes are
  * per-vertex min/max over `Window.partitionBy`: a hot star's members are
  * never gathered into one array, and the plan has no join whose estimated
  * size would multiply from round to round.
  *
  * Convergence: the large-star pass counts, through `Dataset.observe`, the
  * edge ends at vertices that have a smaller neighbour and two or more
  * distinct neighbours. The count is read from the round's executed plan,
  * so it costs no extra job. Zero means the round's input is a set of
  * stars, each centred on its component's minimum. Proof sketch: let v have
  * a smaller neighbour u. Then u is v's only neighbour, and u has no
  * smaller neighbour, else u would have two distinct neighbours (that one
  * and v). So every edge links a leaf to a centre smaller than all its
  * leaves; as rounds preserve components, each centre is its component's
  * minimum. Both passes map such a set of stars to itself, so that round's
  * output is the final edge set.
  *
  * Labels are the caller's own ids, of the caller's id type: cluster_id =
  * min member id. No hash or dictionary stands in for an id, so none can
  * collide and merge two clusters.
  */
object Clustering {

  /** @param labels    (image_id, cluster_id = min member image_id)
    * @param iterations rounds run
    * @param converged  false iff maxIter rounds ran without the convergence
    *                   count reaching zero — components may then be
    *                   returned SPLIT (never over-merged); callers must
    *                   surface this.
    *
    * `labels` is lazy and reads the last round's blocks; `release()` frees
    * them once `labels` has been materialized.
    */
  final case class CCResult(labels: DataFrame, iterations: Int, converged: Boolean)(
      blocks: Seq[Materialized]) {
    def release(): Unit = blocks.foreach(_.release())
  }

  private val Unsettled = "graft_cc_unsettled"

  /** Large-star pass over oriented edges (hi, lo); its plan carries the
    * convergence count as the observed metric [[Unsettled]].
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val byVertex = Window.partitionBy("v")
    edges.select(col("hi").as("v"), col("lo").as("n"))
      .unionByName(edges.select(col("lo").as("v"), col("hi").as("n")))
      .withColumn("nmin", min("n").over(byVertex))
      .withColumn("nmax", max("n").over(byVertex))
      .observe(Unsettled,
        count(when(col("nmin") < col("v") && col("nmin") =!= col("nmax"), 1)))
      .where(col("n") > col("v"))
      .select(col("n").as("hi"), least(col("v"), col("nmin")).as("lo"))
  }

  /** Small-star pass: each row emits one edge — (hi, m′) from the row whose
    * lo is m′, (lo, m′) from every other row — then duplicates are dropped.
    */
  private def smallStar(edges: DataFrame): DataFrame =
    edges.withColumn("m", min("lo").over(Window.partitionBy("hi")))
      .select(when(col("lo") === col("m"), col("hi")).otherwise(col("lo")).as("hi"),
        col("m").as("lo"))
      .distinct()

  /** @param edges  (a, b) id pairs, in either order, duplicates and
    *               self-loops allowed; a stored frame (committed table or
    *               [[Materialize]]d), as the first round reads it with AQE off
    * @param vertices single-column "image_id" frame of ALL rows to label
    *                 (singletons keep their own label), same id type as
    *                 the edges
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 30): CCResult = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    val spark = edges.sparkSession
    // The rounds run in a child session (same SparkContext, own SQLConf)
    // with AQE off. Under AQE every exchange of a round is its own
    // query-stage job with a driver replan in between — pure serial latency
    // on these small frames; without it one round is one job. Nothing then
    // coalesces partitions, so a round shuffles to one partition per core:
    // at Spark's default of 200, the rounds at 257k images on 4 cores took
    // 40 s instead of 2 s.
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    session.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toString)
    // the caller's stored edges, oriented (hi, lo) without self-loops, reach
    // the child session through a global temp view (same plan, no copy),
    // dropped once the rounds are done
    val view = "graft_cc_edges_" + java.util.UUID.randomUUID.toString.replace("-", "_")
    // the newest round; it is released once the next one is materialized
    // and backs the returned labels
    var last: Materialized = null
    try {
      var iter = 0
      var converged = false
      try {
        edges.select(greatest(col("a"), col("b")).as("hi"), least(col("a"), col("b")).as("lo"))
          .where(col("hi") =!= col("lo"))
          .createOrReplaceGlobalTempView(view)
        var current = session.table("global_temp." + view)
        while (!converged && iter < maxIter) {
          val round = smallStar(largeStar(current))
          val next = Materialize(round)
          if (last != null) last.release()
          last = next
          current = next.df
          converged = round.queryExecution.observedMetrics(Unsettled).getLong(0) == 0
          iter += 1
        }
      } finally spark.catalog.dropGlobalTempView(view)
      if (!converged)
        System.err.println(s"[graft] WARNING: connectedComponents hit maxIter=$maxIter " +
          "before converging — components may be returned SPLIT (recall, not precision, " +
          "is at risk). Raise maxIter.")
      // converged: one edge per leaf, to its centre; otherwise a leaf may
      // still have several smaller neighbours and takes the least
      val leaves = if (converged) last.df else last.df.groupBy("hi").agg(min("lo").as("lo"))
      val labels = vertices.select(col("image_id"))
        .join(leaves.select(col("hi").as("image_id"), col("lo").as("cluster_id")),
          Seq("image_id"), "left")
        .select(col("image_id"), coalesce(col("cluster_id"), col("image_id")).as("cluster_id"))
      CCResult(labels, iter, converged)(Seq(last))
    } catch {
      case e: Throwable =>
        if (last != null) last.release()
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

  /** Two-tier clustering surface (reference high-sim vs normal-sim clone-set
    * lists, /root/reference/CloneSet.cpp:86-165, CloneSet.h:59-92): one
    * component run per (tier, edge set), stacked with a `tier` column and
    * materialized; the per-tier CC blocks are released once it is. The
    * shipped reference config has sigma_normal = -1 (normal tier matches
    * nothing — dif_config.txt:3); callers pass a positive sigma to light the
    * tier up. Tier-split size histogram = groupBy(tier, size) downstream.
    */
  def tieredClusters(vertices: DataFrame,
                     edgesByTier: Seq[(String, DataFrame)]): Materialized =
    stackTiers(tieredClustersResults(vertices, edgesByTier))

  /** Stacks per-tier labels with a `tier` column and materializes them,
    * failing on a tier that did not converge; releases every tier's CC
    * blocks either way.
    */
  private[graft] def stackTiers(results: Seq[(String, CCResult)]): Materialized =
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

  /** Per-tier CC runs with full [[CCResult]]s (iterations + converged flag)
    * for callers that need the convergence state per tier.
    *
    * Tiers run CONCURRENTLY from driver threads (guide §2.6): each tier's
    * CC is an independent chain of small jobs (one per round) whose cost is
    * dominated by driver barrier latency, not task work — overlapping them
    * hides one tier's barriers behind the other's, and the later tier's tasks
    * back-fill the earlier tier's idle cores. Safe because [[Materialize]]
    * attributes checkpoint blocks from the frame's own plan
    * (thread-confined), and Spark's scheduler handles concurrent actions
    * from one driver natively. If any tier fails, every tier is awaited and
    * the finished ones are released before the first error is rethrown.
    */
  private def tieredClustersResults(vertices: DataFrame,
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
