package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.core._
import graft.model.FingerprintRow

/** Fingerprint generation (SURVEY.md §2.3 G2-G6).
  *
  * Production path: the reference fingerprints one code block from the
  * shingles of that block only (/root/reference/EigenWord.cpp:46-74), i.e.
  * the grouping key IS the originating row — so the Spark-first plan fuses
  * shingling + fold into ONE narrow projection per row: no explode, no
  * shuffle, no state. At 10^12 rows this is the difference between a
  * scan-speed stage and a 30x-row-amplification shuffle.
  *
  * Grouped path ([[Fingerprints.simhashAgg]]): the reference's file-based
  * mode folds ALL of a file's shingles into one fingerprint
  * (/root/reference/EigenWordGenerate.cpp:277-318) — a genuine multi-row
  * group — expressed as a typed `Aggregator` whose partial merge is the
  * element-wise sum of the 64 signed counters (associative + commutative,
  * so map-side partial aggregation applies).
  */
object Fingerprints {

  /** Pure per-row fingerprint — the REFERENCE-SHAPED implementation, used
    * by the sequential oracle, Calibrate, and the fidelity goldens, which is
    * what makes "same shingle/signature config" (north_rule) checkable. The
    * Spark stage runs the allocation-free twin [[FingerprintHasher]];
    * FastFingerprintSpec pins the two bit-identical over generated inputs.
    */
  def fingerprintOf(imageId: String, caption: String, phash: Long, group: String,
                    cfg: GraftConfig): FingerprintRow = {
    val norm = Shingling.normalize(caption)
    val sh = Shingling.shingles(norm, phash, cfg)
    val (simhash, simhashLo) =
      if (cfg.bits == 128)
        // reference-exact 128-bit layout (SimHashCore.simhash128 — the same
        // core the fidelity goldens pin), packed as a (hi, lo) column pair
        SimHashCore.simhash128(sh.iterator.map(s => (s.word, s.weight)))
      else {
        val sums = new Array[Int](64)
        var i = 0
        while (i < sh.length) { SimHashCore.addShingle64(sums, sh(i).word, sh(i).weight); i += 1 }
        (SimHashCore.finish64(sums), 0L)
      }
    FingerprintRow(imageId, simhash, Shingling.minhashTokenHashes(norm, cfg).sorted,
      Shingling.span(norm), group, simhashLo, norm)
  }

  /** Fingerprint stage: reads ONLY (image_id, caption, phash[, group]) —
    * the binary payload column is never touched, so parquet/Iceberg column
    * pruning keeps this stage I/O-proportional to metadata, not pixels.
    * Applies the min-span gate (reference EigenWordGenerate.cpp:90-95).
    */
  def compute(images: DataFrame, cfg: GraftConfig, groupCol: Option[String] = None)
      : Dataset[FingerprintRow] = {
    val spark = images.sparkSession
    import spark.implicits._
    val cols = Seq(col("image_id"), col("caption"), col("phash")) ++
      groupCol.map(c => col(c).cast("string").as("group"))
    val withGroup = if (groupCol.isDefined) images.select(cols: _*)
                    else images.select(cols :+ lit("").as("group"): _*)
    withGroup
      .as[(String, String, Long, String)]
      .mapPartitions { iter =>
        // one scratch-buffer hasher per partition (allocation-free hot loop;
        // bit-identical to fingerprintOf — FastFingerprintSpec)
        val hasher = new FingerprintHasher(cfg)
        iter.map { case (id, cap, ph, grp) =>
          val fp = hasher.fingerprint(cap, ph)
          FingerprintRow(id, fp.simhash, fp.grams, fp.span, grp, fp.simhashLo, fp.norm)
        }
      }
      .filter(_.span > cfg.minSpan) // strict '>' like the reference gate
  }

  /** Typed SimHash aggregator over exploded (word, weight) shingles — the
    * reference fold as a distributed partial aggregate (SURVEY.md §2.5 A1).
    */
  class SimHashAgg extends Aggregator[(String, Int), Array[Int], Long] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(buf: Array[Int], s: (String, Int)): Array[Int] = {
      SimHashCore.addShingle64(buf, s._1, s._2); buf
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = SimHashCore.mergeSums(a, b)
    override def finish(buf: Array[Int]): Long = SimHashCore.finish64(buf)
    override def bufferEncoder: Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Group-level fingerprints (file-based mode analogue, G6): explode each
    * row's shingles, group by an arbitrary key, fold with [[SimHashAgg]].
    */
  def groupedSimhash(images: DataFrame, keyCol: String, cfg: GraftConfig): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    val shingled = images
      .select(col(keyCol).cast("string").as("key"), col("caption"), col("phash"))
      .as[(String, String, Long)]
      .flatMap { case (key, cap, ph) =>
        Shingling.shingles(Shingling.normalize(cap), ph, cfg).map(s => (key, s.word, s.weight))
      }
      .toDF("key", "word", "weight")
    val agg = udaf(new SimHashAgg)
    shingled
      .groupBy($"key")
      .agg(agg($"word", $"weight").as("simhash"))
  }
}
