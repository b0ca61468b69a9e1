package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextOps

/** Round-6 ngram-Jaccard rewrite (round-5 VERDICT #1/"what's wrong"): the
  * gram self-join now runs through the salted/capped bucketSelfJoin on a
  * hashed gram key with identical-gram-set collapse in front. These tests
  * pin the rewrite to a sequential brute force on corpora DESIGNED to hit
  * the new machinery: a planted hot gram (forced over the salting cap) and
  * identical-text groups (forced through the collapse + star expansion).
  */
class TextOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Mirror of the wordNgrams gram-set semantics: distinct word 3-grams; docs
    * with fewer than n words contribute their whole text as one gram
    * (`greatest(1, size - n + 1)` slice semantics).
    */
  private def grams(text: String, n: Int): Set[String] = {
    val toks = text.split(" ", -1).toSeq
    val positions = 1 to math.max(1, toks.length - (n - 1))
    positions.map(p => toks.slice(p - 1, p - 1 + n).mkString(" ")).toSet
  }

  private def round6(v: Double): Double =
    java.math.BigDecimal.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def brute(docs: Seq[(Long, String)], n: Int, tau: Double): Set[(Long, Long, Double)] =
    (for {
      (da, ta) <- docs; (db, tb) <- docs if da < db
      ga = grams(ta, n); gb = grams(tb, n)
      inter = (ga & gb).size if inter > 0
      j = round6(inter.toDouble / (ga.size + gb.size - inter))
      if j >= tau
    } yield (da, db, j)).toSet

  private def run(docs: Seq[(Long, String)], n: Int, tau: Double, cap: Int) = {
    val pairs = TextOps.ngramJaccardPairs(docs.toDF("doc_id", "text"), n, tau, hotGramCap = cap)
    val rows = try pairs.df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      finally pairs.release()
    assert(rows.map(r => (r._1, r._2)).distinct.length === rows.length, "duplicate pairs emitted")
    rows.toSet
  }

  test("planted hot gram: salted (tiny cap) == unsalted == sequential brute force") {
    // 40 docs share the gram "red fox runs"; fillers push pairwise Jaccard
    // around tau so both kept and dropped pairs exist. cap=3 forces the hot
    // path (df=40 >> 3); cap=MaxValue is the plain cold join.
    val hot = (0 until 40).map { i =>
      (i.toLong, s"red fox runs w$i x$i y$i z$i")
    }
    // near-dup pairs across the hot gram: share most filler words too
    val near = Seq(
      (100L, "red fox runs over the old stone wall"),
      (101L, "red fox runs over the old stone wall today"),
      (102L, "blue bird sits on the old stone wall"))
    val docs = hot ++ near
    val expected = brute(docs, 3, 0.5)
    val salted = run(docs, 3, 0.5, cap = 3)
    val unsalted = run(docs, 3, 0.5, cap = Int.MaxValue)
    assert(salted === expected, "salted hot-gram path must be exact")
    assert(unsalted === expected, "cold path must be exact")
    assert(expected.nonEmpty, "fixture must produce pairs or the test is vacuous")
  }

  test("identical-text mega-group: collapse + star expansion emit the full clique") {
    // 25 identical docs (one gram-set identity group) + 2 distinct docs, one
    // of them a near-dup of the group — members must inherit the rep's
    // pairs and the within-group clique must be complete with j = 1.0
    val group = (0 until 25).map(i => (i.toLong, "green boat sails across the calm bay"))
    val others = Seq(
      (200L, "green boat sails across the calm bay at dawn"),
      (201L, "purple train crosses the high mountain pass"))
    val docs = group ++ others
    val expected = brute(docs, 3, 0.5)
    val got = run(docs, 3, 0.5, cap = 500)
    assert(got === expected)
    // the 25-clique alone is 300 pairs — prove the expansion emitted it
    assert(got.count { case (a, b, j) => a < 25 && b < 25 && j == 1.0 } === 300)
  }

  test("tau above 1 yields nothing (within-group pairs respect tau)") {
    val docs = Seq((1L, "same text here"), (2L, "same text here"))
    assert(run(docs, 3, 1.5, cap = 500).isEmpty)
    assert(run(docs, 3, 1.0, cap = 500) === Set((1L, 2L, 1.0)))
  }
}
