package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.functions._

import graft.core.GraftConfig
import graft.pipeline.{DedupPipeline, Substring}

class SubstringSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val cfg = GraftConfig()

  private def rows(caps: (String, String)*) =
    caps.toDF("image_id", "caption_norm")
      .withColumn("span", length(col("caption_norm")))

  test("word-aligned substring pairs: prefix, infix, suffix positions") {
    val r = rows(
      "short" -> "alpha beta gamma delta",
      "pre" -> "alpha beta gamma delta and more words here",
      "inf" -> "lead in words alpha beta gamma delta tail words",
      "suf" -> "some leading words alpha beta gamma delta",
      "other" -> "totally unrelated caption about nothing at all")
    val pairs = Substring.substringPairs(r, cfg)
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(pairs === Set(("short", "pre"), ("short", "inf"), ("short", "suf")))
  }

  test("non-word-aligned containment is NOT a match") {
    val r = rows(
      "a" -> "eta beta gamma",
      "b" -> "zeta beta gamma delta") // 'eta beta gamma' is a char substring, not word-aligned
    assert(Substring.substringPairs(r, cfg).count() === 0)
  }

  test("min-span gate applies to the shorter side") {
    val r = rows(
      "tiny" -> "ab cd", // span 5 <= 12: gated
      "big" -> "ab cd plus many other following words")
    assert(Substring.substringPairs(r, cfg).count() === 0)
  }

  test("anchor shorter than k words still matches (short-anchor gap fix)") {
    // k=3 (docCfg): a 2-word 13+-char caption contained in a longer one had
    // no width-3 anchor gram and was silently missed before round 2.
    val k3 = GraftConfig(shingleK = 3)
    val r = rows(
      "two" -> "extraordinary hippopotamus",
      "host" -> "we saw an extraordinary hippopotamus at the river today",
      "one" -> "antidisestablishmentarianism",
      "onehost" -> "the word antidisestablishmentarianism is famously long")
    val pairs = Substring.substringPairs(r, k3)
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(pairs === Set(("two", "host"), ("one", "onehost")))
  }

  test("short anchor must still be word-aligned and verbatim") {
    val k3 = GraftConfig(shingleK = 3)
    val r = rows(
      "two" -> "ordinary hippopotamus",
      "host" -> "we saw an extraordinary hippopotamus at the river") // char substring only
    assert(Substring.substringPairs(r, k3).count() === 0)
  }

  test("width census parity: substringPairs == all-pairs word-aligned containment") {
    // Captions with repeated, leading and trailing spaces. The width census
    // counts words with split(" "), the gram keys with GramHash.tokenEnds;
    // if they disagreed on a caption, the mask would drop a width some
    // anchor has, and its pairs with it.
    val word = Gen.oneOf("a", "to", "cat", "dog", "blue", "red", "moon", "x")
    val gap = Gen.frequency(4 -> " ", 1 -> "  ", 1 -> "   ")
    val edge = Gen.frequency(3 -> "", 1 -> " ", 1 -> "  ")
    val caption = for {
      n <- Gen.choose(1, 8)
      ws <- Gen.listOfN(n, word)
      gs <- Gen.listOfN(n - 1, gap)
      lead <- edge
      trail <- edge
    } yield lead + ws.head + gs.zip(ws.tail).map { case (g, w) => g + w }.mkString + trail
    // a run of another caption's space-separated tokens, spacing kept, so
    // word-aligned containment is common
    def runOf(c: String): Gen[String] = {
      val toks = c.split(" ", -1)
      for {
        i <- Gen.choose(0, toks.length - 1)
        j <- Gen.choose(i + 1, toks.length)
      } yield toks.slice(i, j).mkString(" ")
    }
    val corpus = for {
      base <- Gen.listOfN(12, caption)
      runs <- Gen.listOfN(12, Gen.oneOf(base).flatMap(runOf))
      k <- Gen.choose(1, 3)
    } yield ((base ++ runs).zipWithIndex.map { case (c, i) => s"r$i" -> c }, k)

    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25),
      Prop.forAll(corpus) { case (caps, k) =>
        val cfg = GraftConfig(shingleK = k, minSpan = 4)
        val got = Substring.substringPairs(rows(caps: _*), cfg)
          .collect().map(x => (x.getString(0), x.getString(1))).toSet
        val want = (for {
          (ia, a) <- caps; (ib, b) <- caps
          if ia != ib && a.length > cfg.minSpan && a.length < b.length &&
            (b.startsWith(a + " ") || b.contains(" " + a + " ") || b.endsWith(" " + a))
        } yield (ia, ib)).toSet
        (got == want) :| s"k=$k missing=${want -- got} extra=${got -- want}"
      })
    assert(res.passed, res.status.toString)
  }

  test("caption collapse parity: duplicated captions pair every member") {
    // Each caption, runs included, appears 1-4 times under distinct ids:
    // the anchor join runs once per distinct caption, and every verified
    // caption pair must come back for every member on both sides.
    val word = Gen.oneOf("a", "to", "cat", "dog", "blue", "red", "moon", "x")
    val caption = Gen.choose(1, 8).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    def runOf(c: String): Gen[String] = {
      val toks = c.split(" ")
      for {
        i <- Gen.choose(0, toks.length - 1)
        j <- Gen.choose(i + 1, toks.length)
      } yield toks.slice(i, j).mkString(" ")
    }
    val corpus = for {
      base <- Gen.listOfN(8, caption)
      runs <- Gen.listOfN(8, Gen.oneOf(base).flatMap(runOf))
      copies <- Gen.listOfN(16, Gen.choose(1, 4))
      k <- Gen.choose(1, 3)
    } yield ((base ++ runs).zip(copies).zipWithIndex.flatMap { case ((c, n), i) =>
      (0 until n).map(j => s"r${i}_$j" -> c)
    }, k)

    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25),
      Prop.forAllNoShrink(corpus) { case (caps, k) =>
        val cfg = GraftConfig(shingleK = k, minSpan = 4)
        val got = Substring.substringPairs(rows(caps: _*), cfg)
          .collect().map(x => (x.getString(0), x.getString(1))).toSet
        val want = (for {
          (ia, a) <- caps; (ib, b) <- caps
          if a.length > cfg.minSpan && a.length < b.length &&
            (b.startsWith(a + " ") || b.contains(" " + a + " ") || b.endsWith(" " + a))
        } yield (ia, ib)).toSet
        (got == want) :| s"k=$k missing=${want -- got} extra=${got -- want}"
      })
    assert(res.passed, res.status.toString)
  }

  test("pipeline catches a substring pair invisible to SimHash and MinHash") {
    val noise1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val noise2 = (31 to 60).map(i => s"w$i").mkString(" ")
    val img = Seq(
      ("needle", "alpha beta gamma delta epsilon", 1L),
      ("haystack", s"$noise1 alpha beta gamma delta epsilon $noise2", 2L),
      ("bystander", "completely different text with its own words", 3L)
    ).toDF("image_id", "caption", "phash")
    val res = DedupPipeline.run(img, cfg.copy(weights = cfg.weights + ("PHASH" -> 0)))
    val labels = res.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // Jaccard(needle, haystack) = 4/65 << tau and Hamming is far: only J5 links them
    assert(labels("needle") === labels("haystack"))
    assert(labels("bystander") !== labels("needle"))
    assert(res.edges.filter(col("source") === "substring").count() >= 1)
  }
}
