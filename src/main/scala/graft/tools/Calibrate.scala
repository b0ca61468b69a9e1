package graft.tools

import graft.core._
import graft.fixtures.SyntheticImages
import graft.pipeline.Fingerprints

/** Driver-side config calibration: sweeps (shingleK, weights, sigma, tau)
  * over synthetic caption-perturbation families using the pure core
  * functions only (no Spark session) and prints the detection rate of each
  * planted family kind per config. Used to pick GraftConfig defaults; run:
  * `sbt "runMain graft.tools.Calibrate"`.
  */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val g = SyntheticImages.Gen(42L)
    val nFam = 300

    // planted (base, variant, kind) caption/phash triples, no images needed
    case class Item(cap: String, phash: Long, kind: String, fam: Long, variant: Int)
    val items = (0L until nFam.toLong).flatMap { fam =>
      val cap = SyntheticImages.caption(g, fam)
      val ph = g.long(fam, 77)
      val base = Item(cap, ph, "base", fam, 0)
      val nearCap = (1 to 2).map(v =>
        Item(SyntheticImages.perturbCaption(g, fam, v, cap), ph, "near_caption", fam, v))
      val nearImg = (1 to 2).map { v =>
        // phash perturbed by 1-2 bits (decoded-aHash drift analogue)
        val bits = 1 + (v % 2)
        var p2 = ph
        (0 until bits).foreach(b => p2 ^= (1L << g.int(fam * 13 + v, 80 + b, 64)))
        Item(cap, p2, "near_image", fam, v)
      }
      Seq(base) ++ nearCap ++ nearImg
    }

    val configs = for {
      k <- Seq(2, 3)
      capw <- Seq(1, 2, 3)
      sigma <- Seq(1, 3, 5, 7)
      tau <- Seq(0.3, 0.4, 0.5, 0.7)
    } yield GraftConfig(
      shingleK = k,
      weights = Map("CAPGRAM" -> 3, "CAPWORD" -> capw, "PHASH" -> 2, "DEFAULT" -> 1),
      sigmaHigh = sigma, jaccardTau = tau)

    println(f"${"k"}%2s ${"capw"}%4s ${"sig"}%3s ${"tau"}%4s | near_cap  near_img | false_pair_rate")
    configs.foreach { cfg =>
      def fp(it: Item) =
        Fingerprints.fingerprintOf(s"${it.fam}_${it.variant}", it.cap, it.phash, "", cfg)
      val byFam = items.groupBy(_.fam)
      var capHit = 0; var capTot = 0; var imgHit = 0; var imgTot = 0
      byFam.values.foreach { fam =>
        val base = fp(fam.find(_.kind == "base").get)
        fam.filter(_.kind != "base").foreach { it =>
          val v = fp(it)
          val ham = SimHashCore.hamming(base.simhash, v.simhash)
          val j = MinHashCore.jaccard(base.grams.toSet, v.grams.toSet)
          val spanOk = SimHashCore.spanCompatible(base.span, v.span)
          val hit = (spanOk && ham <= cfg.sigmaHigh) || j >= cfg.jaccardTau
          if (it.kind == "near_caption") { capTot += 1; if (hit) capHit += 1 }
          else { imgTot += 1; if (hit) imgHit += 1 }
        }
      }
      // false-pair rate: random cross-family base pairs
      val bases = byFam.toSeq.sortBy(_._1).take(120).map(f => fp(f._2.find(_.kind == "base").get))
      var fp_ = 0; var tot = 0
      for (i <- bases.indices; j <- (i + 1) until bases.length) {
        tot += 1
        val ham = SimHashCore.hamming(bases(i).simhash, bases(j).simhash)
        val jac = MinHashCore.jaccard(bases(i).grams.toSet, bases(j).grams.toSet)
        if ((SimHashCore.spanCompatible(bases(i).span, bases(j).span) && ham <= cfg.sigmaHigh)
            || jac >= cfg.jaccardTau) fp_ += 1
      }
      println(f"${cfg.shingleK}%2d ${cfg.weightOf("CAPWORD")}%4d ${cfg.sigmaHigh}%3d ${cfg.jaccardTau}%4.2f | " +
        f"${capHit.toDouble / capTot}%8.3f ${imgHit.toDouble / imgTot}%9.3f | ${fp_.toDouble / tot}%8.5f")
    }
  }
}
