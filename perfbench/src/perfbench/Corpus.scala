package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.fixtures.SyntheticImages
import graft.fixtures.SyntheticImages.{Gen, Row, Truth}

/** Seeded input corpora. Each is written once per (workload, seed) under the
  * work directory as an `images` and a `truth` parquet table, and read back
  * from there by every later run. `Prepare` generates them in a JVM of its
  * own, so generation is outside every measurement and every measured
  * set-up starts from inputs already on disk.
  */
object Corpus {

  /** Caption shared by the hot rows of the duplicate-heavy corpus. */
  val HotCaption = "a photo of a nice day at the old harbour"

  def ready(dir: String): Boolean =
    Files.exists(Paths.get(s"$dir/images/_SUCCESS")) &&
      Files.exists(Paths.get(s"$dir/truth/_SUCCESS"))

  private def write(dir: String, images: DataFrame, truth: DataFrame): Unit = {
    images.write.mode(SaveMode.Overwrite).parquet(s"$dir/images")
    truth.write.mode(SaveMode.Overwrite).parquet(s"$dir/truth")
  }

  /** The fixture's own mix: 5% hot-key families, then exact, near_caption,
    * near_image, substring and distinct families in rotation.
    */
  def fixture(spark: SparkSession, dir: String, families: Long, seed: Long): Unit =
    if (!ready(dir)) {
      val (img, truth) = SyntheticImages.generate(spark, families, seed)
      write(dir, img, truth)
    }

  /** One duplicate-heavy family. About 43% of families are a single row
    * with the hot caption (so roughly a fifth of all rows share it); of the
    * rest, 60% are 2-5 identical rows (same caption, image and phash), 25%
    * are a base row plus 1-2 perturbed captions over the same image, and 15%
    * are distinct single rows.
    */
  def dupHeavyFamily(g: Gen, f: Long): Seq[(Row, Truth)] = {
    val sizes = Array(16, 32, 64)
    val fmts = Array("png", "bmp", "jpeg")
    val w = sizes(g.int(f, 3, 3)); val h = sizes(g.int(f, 4, 3))
    val fmt = fmts(g.int(f, 5, 3))
    val bytes = SyntheticImages.encode(SyntheticImages.pixels(g, f, w, h), w, h, fmt)
    val ph = SyntheticImages.aHash(bytes)
    def id(v: Int) = f"d$f%09d_$v%02d"
    def row(v: Int, cap: String) = Row(id(v), bytes, w, h, fmt, cap, ph)
    val pick = g.int(f, 0, 100)
    val (kind, rows) =
      if (pick < 43) ("hot_key", Seq(row(0, HotCaption)))
      else {
        val cap = SyntheticImages.caption(g, f)
        val k = g.int(f, 99, 100)
        if (k < 60) ("exact", (0 until 2 + g.int(f, 98, 4)).map(row(_, cap)))
        else if (k < 85)
          ("near_caption", row(0, cap) +:
            (1 to 1 + g.int(f, 97, 2)).map(v => row(v, SyntheticImages.perturbCaption(g, f, v, cap))))
        else ("distinct", Seq(row(0, cap)))
      }
    rows.map(r => (r, Truth(r.image_id, f, kind)))
  }

  def dupHeavy(spark: SparkSession, dir: String, families: Long, seed: Long): Unit =
    if (!ready(dir)) {
      import spark.implicits._
      val parts = math.max(1, math.min(16, families / 256)).toInt
      val rows = spark.range(0, families, 1, parts).as[Long].mapPartitions { it =>
        val g = Gen(seed)
        it.flatMap(f => dupHeavyFamily(g, f))
      }.cache()
      write(dir, rows.map(_._1).toDF(), rows.map(_._2).toDF())
      rows.unpersist()
    }
}

/** Generates the corpora a benchmark run needs before its JVM starts.
  *
  * Usage: perfbench.Prepare --work <dir> (--fixture|--dupheavy) <dir> <families> <seed> ...
  */
object Prepare {
  def main(args: Array[String]): Unit = {
    val work = args(args.indexOf("--work") + 1)
    val spark = Main.session(work)
    try
      args.sliding(4).foreach {
        case Array("--fixture", dir, f, seed) => Corpus.fixture(spark, dir, f.toLong, seed.toLong)
        case Array("--dupheavy", dir, f, seed) => Corpus.dupHeavy(spark, dir, f.toLong, seed.toLong)
        case _ =>
      }
    finally spark.stop()
  }
}
