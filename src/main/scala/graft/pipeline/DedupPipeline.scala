package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.GraftConfig
import graft.model.FingerprintRow

/** End-to-end near-duplicate detection + clustering job (SURVEY.md §3.4):
  *
  *   read → validate/normalize → per-row fingerprint (narrow)
  *        → candidate self-joins (simhash bit-blocks ∪ minhash bands)
  *        → verify (Hamming / Jaccard) → one union+dedup with the
  *          substring pairs ([[Candidates.allCandidates]])
  *        → connected components → cluster stats → sinks + audit.
  *
  * Every stage is DataFrame/Dataset algebra (no RDDs); the only driver-side
  * loop is the CC round loop. Input contract is BASELINE.json
  * `input_hint`'s image table; `run` also accepts any table exposing
  * (image_id, caption, phash) — e.g. the documents corpus with a derived
  * phash — because the pipeline never touches pixel bytes after validation.
  */
object DedupPipeline {

  /** Ingest + validity filter (SURVEY.md §2.2 F1), table resolved through
    * [[graft.sources.TableIO]] (Iceberg-shaped at scale, parquet here):
    * non-null id/caption and, when a bytes column exists, non-null payload.
    * Column pruning: callers select only what they need downstream; the
    * fingerprint stage reads (image_id, caption, phash) and never `bytes`.
    */
  def ingest(io: graft.sources.TableIO, table: String): DataFrame = {
    val df = io.read(table)
    val valid =
      if (df.columns.contains("bytes")) df.filter(col("bytes").isNotNull) else df
    valid.filter(col("image_id").isNotNull && col("caption").isNotNull)
  }

  final case class Result(
      fingerprints: Dataset[FingerprintRow],
      edges: DataFrame,     // (a, b, source)
      clusters: DataFrame,  // (image_id, cluster_id) — every fingerprinted row
      stats: DataFrame,     // per-cluster stats
      ccIterations: Int
  )

  /** Run on an already-loaded image frame. When `audit` is given, every
    * stage is checkpointed + resumable.
    */
  def run(images: DataFrame, cfg: GraftConfig, audit: Option[Audit] = None): Result = {
    val spark = images.sparkSession
    import spark.implicits._

    // Every job runs under its stage's label (guide §1.5), which makes the
    // UI/event log attributable; the caller's label is restored on the way
    // out.
    def labelled[T](name: String)(body: => T): T = {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"graft: stage $name")
      try body
      finally sc.setJobDescription(outer)
    }

    // Each stage is committed to parquet through the Audit (the resumable
    // checkpoint, THE production default at scale) or, without one,
    // materialized through [[Materialize]]; either way downstream stages
    // read a scan of the stored result. The unaudited stage frames back the
    // returned Result and stay with it.
    def staged(name: String)(f: => DataFrame): DataFrame =
      labelled(name)(audit.map(_.stage(name)(f)).getOrElse(Materialize(f).df))
    // a stage that is only ever committed, never materialized on its own
    def committed(a: Audit, name: String)(f: => DataFrame): DataFrame =
      labelled(name)(a.stage(name)(f))

    val fpsDf = staged("fingerprints") {
      Fingerprints.compute(images, cfg).toDF()
    }
    val fps = fpsDf.as[FingerprintRow]

    val edges = staged("edges")(Candidates.allCandidates(fps, cfg))

    var cc: Option[Clustering.CCResult] = None
    val clusters = try staged("clusters") {
      val r = Clustering.connectedComponents(fps.toDF().select("image_id"), edges)
      cc = Some(r)
      audit.foreach(_.log("cc_iterations", r.iterations.toLong, 0L, committed = false,
        detail = s"star contraction ${if (r.converged) "converged" else "DID NOT CONVERGE"}" +
          s" in ${r.iterations} rounds"))
      r.labels
    } finally cc.foreach(_.release()) // the stage now holds its own copy

    // Terminal aggregation over two already-materialized scans: staging it
    // would add a whole extra job to every run for no reuse benefit — with
    // an Audit it still commits (resume contract); otherwise it stays lazy
    // and computes on first access.
    val stats = audit.map(a => committed(a, "cluster_stats") {
      Clustering.clusterStats(clusters, fpsDf)
    }).getOrElse(Clustering.clusterStats(clusters, fpsDf))

    // S5 debug dump sinks (flag-gated; reference fingerprints.txt /
    // cset_info.txt analogues, /root/reference/EigenWord.cpp:47-69,
    // CloneSet.cpp:174-177): queryable tables through the TableIO seam
    // instead of driver-local text files — per-row fingerprint listing and
    // per-member clone-set listing (multi-member sets only, like the
    // reference which never prints singletons). Flat rows, no collect —
    // scales like any other stage output.
    if (cfg.debugDump) audit.foreach { a =>
      // 128-bit mode: full 32-char fingerprint (hi ++ lo) — hexing only the
      // hi word would make the dump lossy vs the reference's fingerprints.txt
      val hexHi = lpad(hex(col("simhash")), 16, "0")
      val hexFp = (if (cfg.bits == 128)
        concat(hexHi, lpad(hex(col("simhash_lo")), 16, "0"))
      else hexHi).as("simhash_hex")
      committed(a, "debug_fingerprints") {
        fpsDf.select(col("image_id"), hexFp, col("span"),
          size(col("grams")).as("n_grams"), col("group"))
      }
      committed(a, "debug_cluster_info") {
        dupClusters(clusters)
          .join(fpsDf.select(col("image_id"), hexFp, col("span")), "image_id")
          .select("cluster_id", "cluster_size", "image_id", "simhash_hex", "span")
      }
    }

    val iters = cc.map(_.iterations).orElse {
      audit.flatMap { a => // resumed run: closure skipped, read the ledger
        labelled("clusters")(scala.util.Try(a.auditRows().filter(col("stage") === "cc_iterations")
          .agg(max("rows_out")).head().getLong(0).toInt).toOption)
      }
    }.getOrElse(-1)

    Result(fps, edges, clusters, stats, iters)
  }

  /** Multi-member duplicate clusters only (the reference reports clone SETS,
    * /root/reference/CloneSet.cpp:170-328; singletons are not clones).
    */
  def dupClusters(clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes.filter(col("cluster_size") > 1), "cluster_id")
      .select("image_id", "cluster_id", "cluster_size")
  }
}
