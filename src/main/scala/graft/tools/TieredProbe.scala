package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.FingerprintRow
import graft.pipeline.{Candidates, Clustering, Fingerprints}
import graft.queries.Queries

/** Round-6 probe: where does the tiered-clusters shared setup spend its
  * time, and how does the doc-scan parallelism floor affect it?
  * Usage: runMain graft.tools.TieredProbe [sfDir] [floor1,floor2,...]
  */
object TieredProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val floors = args.lift(1).getOrElse("0,8,32").split(",").map(_.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-tiered-probe")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    sys.env.get("GRAFT_LOCAL_DIR").orElse(Some("/dev/shm/graft-spark"))
      .filter(_.nonEmpty).foreach { d =>
        new java.io.File(d).mkdirs(); builder.config("spark.local.dir", d)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new ScaleProbe.Meter
    spark.sparkContext.addSparkListener(meter)

    def t[T](name: String)(f: => T): T = {
      meter.reset()
      val t0 = System.nanoTime()
      val v = f
      Thread.sleep(300)
      println(f"[tieredprobe] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s " +
        f"jobs=${meter.jobs.get()}%3d stages=${meter.stages.get()}%3d tasks=${meter.tasks.get()}%5d " +
        f"taskSec=${meter.taskMs.get() / 1000.0}%7.2f gc=${meter.gcMs.get() / 1000.0}%5.2f")
      v
    }

    (1 to 2).foreach { rep =>
      floors.foreach { floor =>
        println(s"--- rep $rep floor=$floor ---")
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val base0 = docs.select(
          col("doc_id").cast("string").as("image_id"),
          col("text").as("caption"), lit(0L).as("phash"))
        val base = if (floor > 0) base0.repartition(floor) else base0
        val fpsC = t("fps compute+checkpoint") {
          Fingerprints.compute(base, Queries.docCfg).toDF()
            .localCheckpoint(true).as[FingerprintRow](
              org.apache.spark.sql.Encoders.product[FingerprintRow])
        }
        val vertices = fpsC.toDF().select("image_id")
        val high = t("simhashPairs high") {
          Candidates.simhashPairs(fpsC, Queries.docCfg, Queries.sigmaTierHigh)
        }
        val normal = t("simhashPairs normal") {
          Candidates.simhashPairs(fpsC,
            Queries.docCfg.copy(nBlocks = 8), Queries.sigmaTierNormal)
        }
        val out = t("tieredClusters (2 CC runs)") {
          Clustering.tieredClusters(vertices, Seq("high" -> high, "normal" -> normal)).df
        }
        t("count")(out.count())
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    spark.stop()
  }
}
