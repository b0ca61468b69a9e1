package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftConfig
import graft.model.FingerprintRow
import graft.pipeline.Clustering

/** Benchmark process for one workload: set up once (the cold start every
  * run of the job pays), then either measure untraced operations in a
  * closed loop for `--seconds` (end-to-end metrics) or run an untraced, a
  * traced and another untraced operation (per-layer metrics). The last
  * stdout line is `PERFBENCH_RESULT <json>`; `run.py` turns it into the
  * benchmark result.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --warm <corpus dir> --input <corpus or tables dir>
  *   --deadline <epoch s by which the process must have ended>
  *
  * The inputs must already be on disk (`Prepare`, `gen_tables.py`).
  */
object Main {
  val Cores = 4

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, warm: String, input: String, deadline: Double)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m("warm"), m("input"), m("deadline").toDouble)
  }

  /** Pinned session: local[4], AQE on, UTC, UI off, fixed shuffle
    * partitions, and scratch space inside the work directory.
    */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def freeBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(x => { Files.delete(x); () })

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Outcome of one operation. `steal` is the host's stolen share of CPU
    * and `run` the task totals, both over the timed part only; `checks` are
    * (name, passed); `heapMb` is the live heap right after the timed part;
    * `edges` and `clusters` are the pipeline's output counts (-1 for the
    * suite); `layer` holds per-layer metrics when the operation was traced.
    */
  final case class OpResult(wallS: Double, steal: Double, run: Acc, heapMb: Double, rows: Long,
                            failedOps: Int, attemptedOps: Int,
                            checks: Seq[(String, Boolean)], recall: Double, precision: Double,
                            edges: Long = -1L, clusters: Long = -1L,
                            layer: Map[String, Double] = Map.empty,
                            queryRows: Map[String, Long] = Map.empty)

  final case class Timed[T](value: T, wallS: Double, steal: Double, run: Acc)

  /** Runs `f` as the timed part of an operation and returns its wall time,
    * the host's stolen share and the task totals of exactly this interval.
    * Correctness checks run after it, so their jobs are in no metric.
    */
  def timed[T](spark: SparkSession, listener: LayerListener)(f: => T): Timed[T] = {
    Bus.drain(spark)
    val a0 = listener.total()
    val j0 = Steal.jiffies()
    val t0 = System.nanoTime()
    val v = f
    val wall = (System.nanoTime() - t0) / 1e9
    val steal = Steal.share(j0, Steal.jiffies())
    Bus.drain(spark)
    Timed(v, wall, steal, listener.total().minus(a0))
  }

  /** Runs `f` inside a span when tracing. */
  def spanned[T](t: Option[Tracer], name: String)(f: => T): T =
    t.map(_.span(name)(f)).getOrElse(f)

  trait Workload {
    /** First input scan of the setup; returns the input row count. */
    def scan(spark: SparkSession): Long
    def op(spark: SparkSession, tracer: Option[Tracer], listener: LayerListener): OpResult
  }

  /** Pair recall and precision of predicted clusters against truth groups,
    * counted per (group, cluster) cell so a large group costs O(rows).
    * Truth rows without a label count as singleton clusters.
    */
  def pairScores(labels: Map[String, String], truth: Map[String, String]): (Double, Double) = {
    def pairs(n: Long) = n * (n - 1) / 2
    val cells = mutable.HashMap[(String, String), Long]()
    val byCluster = mutable.HashMap[String, Long]()
    truth.foreach { case (id, grp) =>
      val c = labels.getOrElse(id, "\u0000" + id)
      cells((grp, c)) = cells.getOrElse((grp, c), 0L) + 1
      byCluster(c) = byCluster.getOrElse(c, 0L) + 1
    }
    val hit = cells.values.map(pairs).sum
    val planted = truth.values.groupBy(identity).values.map(v => pairs(v.size.toLong)).sum
    val predicted = byCluster.values.map(pairs).sum
    (if (planted == 0) 1.0 else hit.toDouble / planted,
      if (predicted == 0) 1.0 else hit.toDouble / predicted)
  }

  /** Labels must cover each fingerprinted row exactly once, only input ids,
    * and every cluster id must be the smallest member id.
    */
  def labelChecks(labels: Array[(String, String)], nFingerprinted: Long,
                  inputIds: collection.Set[String]): Seq[(String, Boolean)] = {
    val ids = labels.map(_._1)
    val once = ids.length.toLong == nFingerprinted && ids.distinct.length == ids.length &&
      ids.forall(inputIds.contains)
    val minId = labels.groupBy(_._2).forall { case (c, ms) => ms.map(_._1).min == c }
    Seq("labelled_once" -> once, "cluster_id_is_min" -> minId)
  }

  // ------------------------------------------------------------ pipeline

  /** What the traced pipeline leaves for the metrics and checks after its
    * timed part: the labels, the committed fingerprints and output counts.
    */
  final case class TracedRun(labels: DataFrame, fps: DataFrame, cc: Clustering.CCResult,
                             counts: Map[String, Long])

  /** `audited-dupheavy`: the duplicate-heavy corpus through `DedupJob`'s
    * path, every stage committed through an Audit over ParquetTableIO.
    */
  final class DupHeavy(o: Opts) extends Workload {
    private var nInput = 0L
    private var truth: Map[String, String] = Map.empty
    private var inputBytes = 0L
    private var opNo = 0

    private def images(spark: SparkSession): DataFrame =
      Layers.ingest(Layers.tableIO(spark, o.input), "images")

    def scan(spark: SparkSession): Long = {
      nInput = images(spark).count()
      if (truth.isEmpty) {
        // hot-key rows share one caption across families: one truth group
        truth = spark.read.parquet(s"${o.input}/truth").collect().map { r =>
          r.getString(0) -> (if (r.getString(2) == "hot_key") "HOT" else r.getLong(1).toString)
        }.toMap
        inputBytes = dirBytes(Paths.get(s"${o.input}/images"))
      }
      nInput
    }

    def op(spark: SparkSession, tracer: Option[Tracer], listener: LayerListener): OpResult = {
      opNo += 1
      val auditDir = Paths.get(s"${o.work}/audit/op$opNo")
      deleteTree(auditDir)
      val io = Layers.tableIO(spark, auditDir.toString)
      val audit = Layers.audit(spark, io, s"op$opNo")
      val t = timed(spark, listener) {
        tracer match {
          case None => Left(Layers.pipeline(images(spark), Some(audit)))
          case Some(tr) => Right(traced(spark, tr, audit))
        }
      }
      val heap = Heap.liveMb()
      // the collapse probe and the checks run after the timed part
      val layer = t.value.toOption.map(tr => layerMetrics(spark, tracer.get, listener, tr, io, auditDir))
        .getOrElse(Map.empty[String, Double])
      val (labels, edges, clusters) = t.value match {
        case Left(r) => (r.labels, r.edges.count(), r.clusters)
        case Right(tr) => (tr.labels, tr.counts("edges"), tr.counts("clusters"))
      }
      val (checks, (recall, precision)) = spanned(tracer, "checks") {
        val lab = labels.select(col("image_id"), col("cluster_id")).collect()
          .map(r => (r.getString(0), r.getString(1)))
        val nFps = io.read("fingerprints").count()
        (labelChecks(lab, nFps, truth.keySet) :+ ("cc_converged" -> Layers.ccConverged(audit)),
          pairScores(lab.toMap, truth))
      }
      freeBlocks(spark)
      deleteTree(auditDir)
      OpResult(t.wallS, t.steal, t.run, heap, nInput, 0, 1, checks, recall, precision,
        edges, clusters, layer)
    }

    /** The layers of `DedupPipeline.run`, in its order, each materialized
      * inside its own span, all inside the root span `pipeline`. Each stage
      * output is then committed through `Audit.stage` inside an
      * `audit.<stage>` span.
      */
    private def traced(spark: SparkSession, t: Tracer, audit: graft.pipeline.Audit): TracedRun = {
      import spark.implicits._
      val cfg = GraftConfig()
      def cp(df: DataFrame): DataFrame = df.localCheckpoint(true)
      def commit(stage: String, df: DataFrame): DataFrame =
        t.span(s"audit.$stage")(audit.stage(stage)(df))
      val n = mutable.LinkedHashMap[String, Long]()
      def counted(name: String, df: DataFrame): DataFrame = { val d = cp(df); n(name) = d.count(); d }
      t.span("pipeline") {
        val fpsDf = commit("fingerprints", t.span("fingerprints") {
          counted("fingerprints", Layers.fingerprints(images(spark), cfg))
        })
        val fps = fpsDf.as[FingerprintRow]
        val sim = t.span("candidates.simhash")(counted("simhash", Layers.simhashPairs(fps, cfg)))
        val band = t.span("candidates.band")(counted("band", Layers.bandPairs(fps, cfg)))
        val sub = t.span("substring")(counted("substring", Layers.substringPairs(fpsDf, cfg)))
        val edges = commit("edges", t.span("candidates.union") {
          counted("edges", Layers.edgeUnion(Layers.candidateUnion(sim, band), sub))
        })
        var cc: Clustering.CCResult = null
        val labels = commit("clusters", t.span("clustering.cc") {
          cc = Layers.connectedComponents(fpsDf, edges)
          counted("labels", cc.labels)
        })
        commit("cluster_stats", t.span("clustering.stats") {
          val stats = counted("clusters", Layers.clusterStats(labels, fpsDf))
          n("largest") = stats.agg(max("n_members")).head().getLong(0)
          stats
        })
        audit.log("cc_iterations", cc.iterations.toLong, 0L, committed = false,
          detail = s"label propagation ${if (cc.converged) "converged" else "DID NOT CONVERGE"}")
        TracedRun(labels, fpsDf, cc, n.toMap)
      }
    }

    /** Per-layer metrics of a traced operation. Runs the `collapseExact`
      * probe first, in a root span of its own outside the timed part: the
      * pipeline does not materialize the representatives on their own.
      */
    private def layerMetrics(spark: SparkSession, t: Tracer, listener: LayerListener, tr: TracedRun,
                             io: graft.sources.TableIO, auditDir: Path): Map[String, Double] = {
      import spark.implicits._
      val nReps = t.span("candidates.collapse") {
        Layers.gramRepresentatives(tr.fps.as[FingerprintRow]).count()
      }
      Bus.drain(spark)
      val accs = listener.snapshot()
      def acc(s: String) = t.byName(s).map(t.accOf(_, accs)).getOrElse(new Acc)
      def wall(s: String) = t.byName(s).map(_.wallS).getOrElse(0.0)
      def mb(b: Long) = b / 1048576.0
      val c = tr.counts
      val nFps = c("fingerprints")
      val m = mutable.LinkedHashMap[String, Double]()
      m("fingerprints.wall_s") = wall("fingerprints")
      m("fingerprints.task_core_s") = acc("fingerprints").taskCoreS
      m("fingerprints.rows_out") = nFps.toDouble
      m("fingerprints.gated_frac") = 1.0 - nFps.toDouble / math.max(1L, nInput)
      for (g <- Seq("simhash", "band")) {
        val a = acc(s"candidates.$g")
        m(s"candidates.$g.wall_s") = wall(s"candidates.$g")
        m(s"candidates.$g.task_core_s") = a.taskCoreS
        m(s"candidates.$g.shuffle_write_mb") = mb(a.shuffleWrite)
        m(s"candidates.$g.jobs") = a.jobs.toDouble
        m(s"candidates.$g.pairs_out") = c(g).toDouble
      }
      m("candidates.band.max_task_s") = acc("candidates.band").maxTaskMs / 1000.0
      m("candidates.collapse_ratio") = nReps.toDouble / math.max(1L, nFps)
      m("candidates.union.wall_s") = wall("candidates.union")
      m("candidates.union.overlap_frac") =
        1.0 - c("edges").toDouble / math.max(1L, c("simhash") + c("band") + c("substring"))
      m("candidates.edges_out") = c("edges").toDouble
      val sa = acc("substring")
      m("substring.wall_s") = wall("substring")
      m("substring.task_core_s") = sa.taskCoreS
      m("substring.shuffle_write_mb") = mb(sa.shuffleWrite)
      m("substring.pairs_out") = c("substring").toDouble
      val ca = acc("clustering.cc")
      m("clustering.cc.wall_s") = wall("clustering.cc")
      m("clustering.cc.task_core_s") = ca.taskCoreS
      m("clustering.cc.serial_s") = wall("clustering.cc") - ca.taskCoreS / Cores
      m("clustering.cc.jobs") = ca.jobs.toDouble
      m("clustering.cc.iterations") = tr.cc.iterations.toDouble
      m("clustering.cc.converged") = if (tr.cc.converged) 1.0 else 0.0
      m("clustering.stats.wall_s") = wall("clustering.stats")
      m("clustering.clusters_out") = c("clusters").toDouble
      m("clustering.largest_cluster") = c("largest").toDouble
      val stages = Seq("fingerprints", "edges", "clusters", "cluster_stats")
      val committedBytes = stages.filter(io.isCommitted).map(s => dirBytes(auditDir.resolve(s))).sum
      m("audit.write_s") = t.spans.filter(_.name.startsWith("audit.")).map(t.selfS).sum
      m("audit.bytes_written_mb") = mb(dirBytes(auditDir))
      m("audit.write_amp") = committedBytes.toDouble / math.max(1L, inputBytes)
      m("audit.stages_committed") = stages.count(io.isCommitted).toDouble
      m.toMap
    }
  }

  // ---------------------------------------------------------- query suite

  /** The 36 `Queries.queries` after the two shared setups, each to
    * `.count()`. Every query is one operation; a failure is counted, not
    * fatal.
    */
  final class QuerySuite(o: Opts) extends Workload {
    private var truth: Map[String, String] = Map.empty
    private var nInput = 0L

    def scan(spark: SparkSession): Long = {
      if (truth.isEmpty)
        truth = spark.read.parquet(s"${o.input}/documents_truth.parquet").collect()
          .map(r => r.getLong(0).toString -> r.getLong(1).toString).toMap
      nInput = Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region",
        "events", "documents", "embeddings")
        .map(t => spark.read.parquet(s"${o.input}/$t.parquet").count()).sum
      nInput
    }

    def op(spark: SparkSession, tracer: Option[Tracer], listener: LayerListener): OpResult = {
      def span[T](name: String)(f: => T): T = spanned(tracer, name)(f)
      val rows = mutable.LinkedHashMap[String, Long]()
      val m = mutable.LinkedHashMap[String, Double]()
      var failed = 0
      var clusters: Array[(String, String)] = Array.empty
      val t = timed(spark, listener) {
        span("suite") {
          for ((label, q) <- Layers.sharedSetups) {
            val ts = System.nanoTime()
            try span(s"queries.shared.$label")(Layers.query(spark, q, o.input).count())
            catch { case e: Throwable => failed += 1; System.err.println(s"[perfbench] shared $q failed: $e") }
            m(s"queries.shared.${label}_s") = (System.nanoTime() - ts) / 1e9
          }
          for (name <- Layers.queryNames) {
            val tq = System.nanoTime()
            try rows(name) = span(s"query.$name")(Layers.query(spark, name, o.input).count())
            catch { case e: Throwable => failed += 1; System.err.println(s"[perfbench] $name failed: $e") }
            m(s"query.$name.wall_s") = (System.nanoTime() - tq) / 1e9
          }
        }
      }
      val heap = Heap.liveMb()
      // correctness, after the timed part: the shared audited
      // pipeline's clusters against the planted document families
      val check = span("checks")(scala.util.Try {
        clusters = Layers.query(spark, "dedup_clusters", o.input).collect()
          .map(r => (r.getLong(0).toString, r.getString(1)))
      }.isSuccess)
      val (recall, precision) = pairScores(clusters.toMap, truth)
      val minOk = clusters.nonEmpty &&
        clusters.groupBy(_._2).forall { case (c, ms) => ms.map(_._1).min == c }
      Layers.freeSharedCaches()
      freeBlocks(spark)
      if (tracer.isDefined) {
        Bus.drain(spark)
        val tr = tracer.get
        val accs = listener.snapshot()
        m("queries.jobs") = tr.spans.filter(s => s.name.startsWith("query") && s.parent >= 0)
          .map(s => accs.get(s.id).map(_.jobs).getOrElse(0)).sum.toDouble
      }
      OpResult(t.wallS, t.steal, t.run, heap, nInput, failed, Layers.sharedSetups.size + Layers.queryNames.size,
        Seq("dedup_clusters_scored" -> check, "cluster_id_is_min" -> minOk), recall, precision,
        layer = m.toMap, queryRows = rows.toMap)
    }
  }

  // ----------------------------------------------------------------- main

  private def obj(kv: Iterable[(String, Double)]): String =
    kv.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")

  private def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.work))
    val workload: Workload = o.workload match {
      case "audited-dupheavy" => new DupHeavy(o)
      case "query-suite" => new QuerySuite(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    for (d <- Seq(o.warm) ++ (if (o.workload == "query-suite") Nil else Seq(o.input)))
      require(Corpus.ready(d), s"corpus $d is not on disk")

    // set-up: session start, the JIT warm-up of Bench (one tiny pipeline,
    // here audited like both workloads' pipelines) and the first scan of the
    // workload's input, in a cold JVM, from inputs already on disk
    val warmAudit = Paths.get(s"${o.work}/audit/warm-up")
    deleteTree(warmAudit)
    val j0 = Steal.jiffies()
    val t0 = System.nanoTime()
    val spark = session(o.work)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    Layers.pipeline(spark.read.parquet(s"${o.warm}/images"),
      Some(Layers.audit(spark, Layers.tableIO(spark, warmAudit.toString), "warm-up")))
    workload.scan(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupSteal = Steal.share(j0, Steal.jiffies())
    freeBlocks(spark)
    deleteTree(warmAudit)

    val ops = mutable.ArrayBuffer[OpResult]()
    def measure(tracer: Option[Tracer]): OpResult = {
      val r = workload.op(spark, tracer, listener)
      ops += r
      r
    }

    val tLoop = System.nanoTime()
    val layer = mutable.LinkedHashMap[String, Double]()
    if (!o.trace) {
      while (ops.isEmpty || (System.nanoTime() - tLoop) / 1e9 < o.seconds) measure(None)
    } else {
      // untraced, traced, untraced: the first operation after set-up still
      // warms up, so the overhead compares against the second untraced one.
      // When the host is so slow that a third operation would not end by the
      // deadline, it is skipped (ops=2 on the summary line) and the overhead
      // compares against the first, colder one.
      val first = measure(None)
      val tracer = new Tracer(spark.sparkContext, s"${o.workload}-seed${o.seed}")
      val trIdx = ops.size
      val tr = measure(Some(tracer))
      val left = o.deadline - System.currentTimeMillis() / 1000.0
      val plain = if (left > 1.5 * first.wallS + 20) measure(None) else first
      Bus.drain(spark)
      val accs = listener.snapshot()
      // the operation's root span is the first one opened; the probe and
      // check spans that follow it are roots outside the timed part
      val root = tracer.spans.head
      // totals of the traced operation: every task of its timed part,
      // attributed to a span or not
      val d = tr.run
      d.peakMem = tracer.accOf(root, accs).peakMem
      val top = tracer.children(root)
      val layerCore = top.map(s => tracer.accOf(s, accs).taskCoreS).sum
      layer ++= tr.layer
      layer("exec.gc_s") = d.gcMs / 1000.0
      layer("exec.spill_mb") = d.spill / 1048576.0
      layer("exec.shuffle_write_mb") = d.shuffleWrite / 1048576.0
      layer("exec.shuffle_read_mb") = d.shuffleRead / 1048576.0
      layer("exec.peak_task_mem_mb") = d.peakMem / 1048576.0
      layer("exec.offcpu_frac") = 1.0 - (d.cpuNs / 1e6) / math.max(1L, d.taskMs)
      layer("driver.serial_s") = tr.wallS - d.taskCoreS / Cores
      layer("driver.jobs") = d.jobs.toDouble
      layer("driver.stages") = d.stages.toDouble
      layer("driver.tasks") = d.tasks.toDouble
      layer("trace.overhead_frac") = tr.wallS / plain.wallS - 1.0
      layer("trace.coverage_frac") = top.map(_.wallS).sum / root.wallS
      val covered = d.taskMs == 0 || math.abs(layerCore - d.taskCoreS) <= 0.05 * d.taskCoreS
      // the traced layers copy the pipeline's unions: their output must be
      // the pipeline's own
      val same = if (tr.edges < 0) Nil
                 else Seq("traced_matches_pipeline" -> (tr.edges == plain.edges && tr.clusters == plain.clusters))
      ops(trIdx) = tr.copy(checks = tr.checks ++ same :+ ("layer_task_core_sums_to_run" -> covered))
      val traceDir = Paths.get(s"${o.work}/traces")
      Files.createDirectories(traceDir)
      Files.writeString(traceDir.resolve(s"${o.workload}-seed${o.seed}.json"),
        s"""{"run_id":${Json.str(tracer.runId)},"layer_task_core_s":${Json.num(layerCore)},""" +
          s""""run_task_core_s":${Json.num(d.taskCoreS)},"per_layer":${obj(layer)},""" +
          s""""spans":${tracer.toJson}}""" + "\n")
    }
    val loopS = (System.nanoTime() - tLoop) / 1e9

    val results = ops
    val queryRows = results.map(_.queryRows).filter(_.nonEmpty)
    val stability = if (queryRows.size > 1) Seq("query_rows_stable" -> (queryRows.distinct.size == 1))
                    else Nil
    val checks = results.flatMap(_.checks) ++ stability
    val attempted = results.map(_.attemptedOps).sum + checks.size
    val failed = results.map(_.failedOps).sum + checks.count(!_._2)
    val failedChecks = checks.filterNot(_._2).map(_._1).distinct

    spark.stop()

    // Wall times exclude what the host stole: each is scaled by (1 - stolen
    // share) over its own interval, so co-tenants on a shared host do not
    // read as engine cost. task_core_s is executor CPU time, which unlike
    // task run time does not count waits for a CPU.
    val walls = results.map(_.wallS)
    val metrics = mutable.LinkedHashMap[String, Double]()
    metrics("setup_s") = setupS * (1 - setupSteal)
    metrics("suite_s") = median(results.map(r => r.wallS * (1 - r.steal)))
    metrics("rows_per_s") = median(results.map(r => r.rows / (r.wallS * (1 - r.steal))))
    metrics("task_core_s") = median(results.map(r => r.run.cpuNs / 1e9 * (1 - r.steal)))
    metrics("heap_live_mb") = results.map(_.heapMb).max
    metrics("pair_recall") = median(results.map(_.recall))
    metrics("pair_precision") = median(results.map(_.precision))

    val info = Seq(
      "ops" -> ops.size.toString,
      "loop_s" -> Json.num(loopS),
      "setup_raw_s" -> Json.num(setupS),
      "setup_steal" -> Json.num(setupSteal),
      "steal" -> results.map(r => Json.num(r.steal)).mkString("[", ",", "]"),
      "walls_s" -> walls.map(Json.num).mkString("[", ",", "]"),
      "task_s" -> results.map(r => Json.num(r.run.taskCoreS)).mkString("[", ",", "]"),
      "cpu_s" -> results.map(r => Json.num(r.run.cpuNs / 1e9)).mkString("[", ",", "]"),
      "failed_checks" -> failedChecks.map(Json.str).mkString("[", ",", "]"),
      "query_rows" -> queryRows.headOption.map(_.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")).getOrElse("{}"))
    println("PERFBENCH_RESULT {" +
      s""""attempted":$attempted,"failed":$failed,""" +
      s""""end_to_end":${obj(metrics)},"per_layer":${obj(layer)},""" +
      info.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",") + "}")
  }
}
