package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.fixtures.SyntheticImages
import graft.pipeline.DedupPipeline
import graft.queries.Queries

/** Round-6 optimization harness (guide §1: measure first). NOT the driver
  * contract — `graft.Bench` stays the frozen measurement harness; this main
  * exists so each optimization can be measured in minutes instead of a full
  * ~25-minute bench run, with more reps and per-query plan capture.
  *
  * Methodology mirrors the Bench query suite exactly: identical session
  * config (local[SPARK_GRAFT_CPUS], shuffle.partitions = cpus, tmpfs
  * spark.local.dir), identical warm-up (one tiny pipeline + one scan),
  * the same shared-setup order (audited pipeline, then tiered clusters),
  * the same alphabetical query order, and the same `.count()` action — so
  * its numbers are directly comparable to bench.json's `queries` map.
  *
  * Extras over Bench:
  *   - BENCHX_REPS full suite passes (default 3), per-query min + samples
  *     (min is the noise-robust statistic on this steal-prone box);
  *   - BENCHX_PLANS_DIR: write `explain("formatted")` per query;
  *   - BENCHX_QUERIES: comma-separated name filter;
  *   - BENCHX_OUT: JSON out file (default /root/repo/benchextra.json).
  */
object BenchExtra {

  private def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val reps = sys.env.getOrElse("BENCHX_REPS", "3").toInt
    val out = sys.env.getOrElse("BENCHX_OUT", "/root/repo/benchextra.json")
    val plansDir = sys.env.get("BENCHX_PLANS_DIR")
    val filter = sys.env.get("BENCHX_QUERIES").map(_.split(",").map(_.trim).toSet)

    // Session identical to Bench.session(cpus) for the suite (including the
    // tmpfs shuffle dir; AQE/timeZone/UI come from build.sbt -D props there
    // and here alike).
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchx-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    sys.env.get("GRAFT_LOCAL_DIR").orElse(Some("/dev/shm/graft-spark"))
      .filter(_.nonEmpty).foreach { d =>
        new java.io.File(d).mkdirs()
        builder.config("spark.local.dir", d)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: same as Bench (JIT + codegen classes + page cache)
    try {
      val warmDir = Files.createTempDirectory("graft-benchx-warm").toString
      val (warmImg, _) = SyntheticImages.materialize(spark, warmDir, 200)
      DedupPipeline.run(warmImg, graft.core.GraftConfig()).clusters.count()
      spark.read.parquet(s"$sfDir/documents.parquet").count()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    } catch { case e: Throwable => System.err.println(s"[benchx] warm-up failed: $e") }

    // shared setups, timed like Bench (BENCHX_SKIP_SHARED=1 to isolate)
    val shared = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (!sys.env.contains("BENCHX_SKIP_SHARED")) try {
      val t1 = System.nanoTime()
      Queries.queries("dedup_clusters")(spark, sfDir).count()
      shared("shared_audited_pipeline_sec") = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      Queries.queries("dedup_clusters_tiered")(spark, sfDir).count()
      shared("shared_tiered_clusters_sec") = (System.nanoTime() - t2) / 1e9
    } catch { case e: Throwable => System.err.println(s"[benchx] shared setup failed: $e") }

    val names = Queries.queries.keys.toSeq.sorted
      .filter(n => filter.forall(_.contains(n)))

    // optional plan capture (before execution, matching the built DataFrame)
    plansDir.foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      names.foreach { name =>
        try {
          val p = Queries.queries(name)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$dir/$name.txt"), p)
        } catch { case e: Throwable => System.err.println(s"[benchx] explain $name failed: $e") }
      }
      println(s"[benchx] plans written to $dir")
    }

    val samples = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    (1 to reps).foreach { rep =>
      names.foreach { name =>
        val t0 = System.nanoTime()
        try Queries.queries(name)(spark, sfDir).count() catch {
          case e: Throwable => System.err.println(s"[benchx] $name failed: $e")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        samples(name) = samples.getOrElse(name, Nil) :+ dt
        println(f"[benchx] rep $rep $name%-32s ${dt}%8.3f s")
      }
    }
    val mins = samples.map { case (k, v) => k -> v.min }
    // one list of top-level members joined once: an empty section (e.g.
    // BENCHX_SKIP_SHARED=1) leaves no stray comma
    val json = Seq("\"sf\":\"" + sfDir + "\"") ++
      shared.map { case (k, v) => "\"" + k + "\":" + fmt(v) } ++
      Seq("\"total_min\":" + fmt(mins.values.sum),
        mins.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("\"queries_min\":{", ",", "}"),
        samples.map { case (k, v) =>
          "\"" + k + "\":[" + v.map(fmt).mkString(",") + "]" }.mkString("\"queries_samples\":{", ",", "}"))
    Files.writeString(Paths.get(out), json.mkString("{", ",", "}") + "\n")
    println(s"[benchx] total_min=${fmt(mins.values.sum)} written to $out")
    Queries.freeSharedCaches()
    spark.stop()
  }
}
