package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.Candidates
import graft.queries.TextOps

/** Stage-by-stage timing of the ngram-Jaccard pair operator (round-6
  * optimization probe): where do the seconds go — gram construction,
  * collapse, the bucketed self-join, or the expansion?
  * Run: sbt "runMain graft.tools.NgramProbe [sfDir]"
  */
object NgramProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ngram-probe")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    sys.env.get("GRAFT_LOCAL_DIR").orElse(Some("/dev/shm/graft-spark"))
      .filter(_.nonEmpty).foreach { d =>
        new java.io.File(d).mkdirs(); builder.config("spark.local.dir", d)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val v = f
      println(f"[ngramprobe] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      v
    }

    // plan of the underlying jpairs computation (the query-facing frame is
    // the shared cache read — this is what computes it)
    sys.env.get("NGRAM_PLAN_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        TextOps.ngramJaccardPairs(TextOps.documents(spark, sfDir), 3, 0.5)
          .df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      println(s"[ngramprobe] plan written to $p")
    }

    (1 to 3).foreach { rep =>
      println(s"--- rep $rep ---")
      val docs = TextOps.documents(spark, sfDir)
      val docSets = t("docSets checkpoint") {
        docs.select(col("doc_id").as("image_id"),
            sort_array(array_distinct(TextOps.wordNgrams(TextOps.toks, 3))).as("gset"))
          .localCheckpoint()
      }
      val (reps, star) = Candidates.collapseExact(docSets, Seq("gset"))
      t("reps count")(reps.count())
      t("star count")(star.count())
      val keyed = reps
        .select(col("image_id"), explode(col("gset")).as("gram"))
        .select(col("image_id"), xxhash64(col("gram")).as("gh"), col("gram"))
      val inter = t("bucketSelfJoin+agg count") {
        Candidates.bucketSelfJoin(keyed, Seq("gh"), 500)
          .filter(col("l_gram") === col("r_gram"))
          .groupBy(col("l_image_id").as("da"), col("r_image_id").as("db"))
          .agg(count(lit(1)).as("inter"))
          .count()
      }
      println(s"[ngramprobe] inter pairs: $inter")
      val full = t("full ngramJaccardPairs") {
        TextOps.ngramJaccardPairs(docs, 3, 0.5).df.count()
      }
      println(s"[ngramprobe] jpairs: $full")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
