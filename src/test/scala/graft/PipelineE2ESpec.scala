package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftConfig
import graft.fixtures.SyntheticImages
import graft.model.FingerprintRow
import graft.oracle.ReferenceOracle
import graft.pipeline._

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** E2E: synthetic corpus → pipeline → recall vs the sequential reference
  * oracle (BASELINE.json metric: dup-pair recall >= 0.99; design target 1.0
  * per SURVEY.md §7.1.3) + planted-family truth checks (FIXTURES.md §A).
  */
class PipelineE2ESpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark
  lazy val tmp = java.nio.file.Files.createTempDirectory("graft-e2e").toString
  val cfg = GraftConfig()

  lazy val corpus = SyntheticImages.materialize(spark, tmp, nFamilies = 400)

  lazy val result: DedupPipeline.Result = DedupPipeline.run(corpus._1, cfg)

  lazy val predictedLabels: Map[String, String] =
    result.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  lazy val oracleClusters: Vector[Set[String]] = {
    val items = result.fingerprints
      .collect()
      .sortBy(_.image_id)
      .map((f: FingerprintRow) => ReferenceOracle.Item(f.image_id, f.simhash, f.span))
      .toIndexedSeq
    ReferenceOracle.cluster(items, cfg.sigmaHigh)._2
  }

  test("dup-pair recall vs reference oracle is 1.0 (>= 0.99 target)") {
    val recall = ReferenceOracle.dupPairRecall(oracleClusters, predictedLabels)
    info(s"oracle clusters: ${oracleClusters.size}, recall: $recall")
    assert(recall >= 0.99)
    assert(recall === 1.0) // by construction, SURVEY.md §7.1.3
  }

  test("pair precision vs planted truth families (documented per SURVEY §7.1.3)") {
    // fraction of predicted same-cluster pairs whose members were planted in
    // the same family — CC may merge more than the greedy clique (the north
    // rule bounds recall, not precision), so this is reported, and gated
    // only loosely as a regression tripwire.
    // truth group = family, except hot_key rows: they share one caption
    // ACROSS families by construction, so they are genuine duplicates of
    // each other and form a single truth group
    val famOf = corpus._2.collect().map { r =>
      r.getString(0) -> (if (r.getString(2) == "hot_key") "HOT" else r.getLong(1).toString)
    }.toMap
    var hit = 0L; var total = 0L
    predictedLabels.toSeq.groupBy(_._2).values.foreach { members =>
      val ids = members.map(_._1).sorted
      var i = 0
      while (i < ids.length) {
        var j = i + 1
        while (j < ids.length) {
          total += 1
          if (famOf.get(ids(i)) == famOf.get(ids(j))) hit += 1
          j += 1
        }
        i += 1
      }
    }
    val precision = if (total == 0) 1.0 else hit.toDouble / total
    info(f"predicted same-cluster pairs: $total, family precision: $precision%.4f")
    assert(precision >= 0.95, f"precision $precision%.4f regressed")
  }

  test("exact-duplicate families always co-cluster") {
    val truth = corpus._2.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val exactFams = truth.filter(_._3 == "exact").groupBy(_._2)
    assert(exactFams.nonEmpty)
    exactFams.foreach { case (fam, members) =>
      val labels = members.flatMap(m => predictedLabels.get(m._1)).toSet
      assert(labels.size === 1, s"exact family $fam split: $labels")
    }
  }

  test("near-duplicate families (caption/image perturbations) are detected at high rate") {
    val truth = corpus._2.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    Seq("near_caption", "near_image").foreach { kind =>
      val fams = truth.filter(_._3 == kind).groupBy(_._2)
      assert(fams.nonEmpty)
      val detected = fams.count { case (_, members) =>
        members.flatMap(m => predictedLabels.get(m._1)).toSet.size == 1
      }
      val rate = detected.toDouble / fams.size
      info(s"$kind: $detected/${fams.size} families co-clustered (rate $rate)")
      assert(rate >= 0.8, s"$kind detection rate $rate")
    }
  }

  test("distinct families never merge with other families (precision guard)") {
    val truth = corpus._2.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val famOf = truth.map(t => t._1 -> t._2).toMap
    val kindOf = truth.map(t => t._1 -> t._3).toMap
    // for every cluster containing a 'distinct' row, all members share its family
    val byLabel = predictedLabels.toSeq.groupBy(_._2)
    byLabel.values.foreach { members =>
      val ids = members.map(_._1)
      if (ids.exists(id => kindOf.get(id).contains("distinct"))) {
        assert(ids.map(famOf).toSet.size === 1,
          s"distinct row merged across families: $ids")
      }
    }
  }

  test("substring families are detected by the J5 pass") {
    val truth = corpus._2.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val fams = truth.filter(_._3 == "substring").groupBy(_._2)
    assert(fams.nonEmpty)
    val detected = fams.count { case (_, members) =>
      members.flatMap(m => predictedLabels.get(m._1)).toSet.size == 1
    }
    val rate = detected.toDouble / fams.size
    info(s"substring: $detected/${fams.size} families co-clustered (rate $rate)")
    assert(rate >= 0.9, s"substring detection rate $rate")
  }

  test("hot-key mega-bucket rows cluster together (skew/salting path)") {
    val truth = corpus._2.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val hot = truth.filter(_._3 == "hot_key").map(_._1)
    assert(hot.length > 10, s"expected a hot-key population, got ${hot.length}")
    val labels = hot.flatMap(predictedLabels.get).toSet
    assert(labels.size === 1, s"hot-key rows split into ${labels.size} clusters")
  }

  test("cluster stats and size histogram are consistent") {
    val statsN = result.stats.agg(sum("n_members")).head().getLong(0)
    assert(statsN === predictedLabels.size)
  }

  test("clustering is independent of partitioning (2 vs 8 partitions)") {
    val edges = result.edges
    val verts = result.fingerprints.toDF().select("image_id")
    def canonical(labels: Map[String, String]): Set[Set[String]] =
      labels.groupBy(_._2).values.map(_.keySet).filter(_.size > 1).toSet
    val cc2 = Clustering.connectedComponents(verts.repartition(2), edges.repartition(2))
    assert(cc2.converged)
    val c2 = canonical(cc2.labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    assert(c2 === canonical(predictedLabels))
  }
}

/** Resume-from-checkpoint semantics (north_rule; FIXTURES.md §5.2.5). */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("rerun after partial completion skips committed stages and is identical") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val (img, _) = SyntheticImages.materialize(spark, tmp + "/corpus", nFamilies = 60)
    val cfg = GraftConfig()

    val a1 = new Audit(spark, tmp + "/work", "run1")
    val r1 = DedupPipeline.run(img, cfg, audit = Some(a1))
    val clusters1 = r1.clusters.orderBy("image_id").collect().map(_.toSeq)

    // simulate kill after 'edges': delete downstream outputs only
    import scala.reflect.io.Directory
    new Directory(new java.io.File(tmp + "/work/clusters")).deleteRecursively()
    new Directory(new java.io.File(tmp + "/work/cluster_stats")).deleteRecursively()

    val a2 = new Audit(spark, tmp + "/work", "run2")
    val r2 = DedupPipeline.run(img, cfg, audit = Some(a2))
    val clusters2 = r2.clusters.orderBy("image_id").collect().map(_.toSeq)
    assert(clusters2 === clusters1)

    // the audit ledger shows run2 resumed fingerprints+edges instead of recomputing
    val resumed = a2.auditRows()
      .filter(col("run_id") === "run2" && col("detail").contains("resumed"))
      .select("stage").collect().map(_.getString(0)).toSet
    assert(resumed.contains("fingerprints") && resumed.contains("edges"))
  }
}

/** Per-row invariant from BASELINE.json input_hint: decoded-pixel PSNR >=
  * 40 dB for lossy formats, byte equality for lossless, caption equality.
  */
class InvariantSpec extends AnyFunSuite {
  test("lossless formats decode to exact planted pixels; jpeg PSNR >= 40 dB") {
    val g = SyntheticImages.Gen(42L)
    (0L until 30L).foreach { fam =>
      val w = 32; val h = 32
      val px = SyntheticImages.pixels(g, fam, w, h)
      Seq("png", "bmp").foreach { fmt =>
        val bytes = SyntheticImages.encode(px, w, h, fmt)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        val got = img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xffffff)
        assert(got.sameElements(px), s"$fmt roundtrip lossy at family $fam")
      }
      val jb = SyntheticImages.encode(px, w, h, "jpeg", 0.85f)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jb))
      val got = img.getRGB(0, 0, w, h, null, 0, w)
      var mse = 0.0
      var i = 0
      while (i < px.length) {
        Seq(16, 8, 0).foreach { sh =>
          val d = ((px(i) >> sh) & 0xff) - ((got(i) >> sh) & 0xff)
          mse += d * d
        }
        i += 1
      }
      mse /= (px.length * 3)
      val psnr = if (mse == 0) 99.0 else 10 * math.log10(255.0 * 255.0 / mse)
      assert(psnr >= 40.0, s"family $fam jpeg PSNR $psnr < 40 dB")
    }
  }

  test("caption survives the pipeline byte-for-byte (normalization is a derived column)") {
    val spark = SparkTestSession.spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-inv").toString
    val (img, _) = SyntheticImages.materialize(spark, tmp, nFamilies = 20)
    val back = DedupPipeline.ingest(new graft.sources.ParquetTableIO(spark, tmp), "images")
    val orig = img.select("image_id", "caption").orderBy("image_id").collect()
    val after = back.select("image_id", "caption").orderBy("image_id").collect()
    assert(after === orig)
  }
}
