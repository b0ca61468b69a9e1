package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.GraftConfig
import graft.fixtures.SyntheticImages
import graft.pipeline.{Candidates, Fingerprints, Substring}
import graft.queries.Queries

/** Physical-plan audit: writes `explain("formatted")` for the hot operators
  * to text files under target/plans so pushdown (PushedFilters/ReadSchema),
  * join strategies, and WholeStageCodegen spans can be reviewed after changes.
  * Run: `sbt "runMain graft.tools.ExplainAudit"`.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-explain")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val outDir = "target/plans"
    Files.createDirectories(Paths.get(outDir))

    def dump(name: String, plan: => org.apache.spark.sql.DataFrame): Unit = {
      try {
        val p = plan.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/$name.txt"), p)
        println(s"[explain] wrote $outDir/$name.txt")
      } catch {
        case e: Throwable => println(s"[explain] $name failed: $e")
      }
    }

    val sf = "/root/testdata/sf0.001"
    // fingerprint stage column pruning: must read only id/caption/phash
    val tmp = Files.createTempDirectory("graft-explain").toString
    val (img, _) = SyntheticImages.materialize(spark, tmp, 50)
    val cfg = GraftConfig()
    val imgScan = spark.read.parquet(s"$tmp/images")
    dump("fingerprints", Fingerprints.compute(imgScan, cfg).toDF())
    val fps = Fingerprints.compute(imgScan, cfg)
    dump("simhash_pairs", Candidates.simhashPairs(fps, cfg, cfg.sigmaHigh))
    dump("band_pairs", Candidates.bandPairs(fps, cfg))
    dump("all_candidates", Candidates.allCandidates(fps, cfg))
    // the suite's one distance-tagged pass: 7 blocks (simhash_pairs: 2)
    dump("doc_simhash_pass", Candidates.simhashPass(
      Fingerprints.compute(imgScan, Queries.docCfg), Queries.docCfg, Queries.sigmaTierNormal).rows)
    dump("substring_pairs", Substring.substringPairs(
      fps.toDF().select("image_id", "caption_norm", "span"), cfg))

    Seq("q1_agg", "q2_join", "q3_window", "q6_join_dims", "dedup_ngram_jaccard",
      "sim_cosine_topk", "dedup_exact").foreach { q =>
      dump(q, Queries.queries(q)(spark, sf))
    }
    spark.stop()
  }
}
