package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.core.{GraftConfig, Murmur3x64, Shingling}
import graft.functions.{GraftExpressions, GramHash}

/** Pins the round-5 codegen expressions to their allocation-heavy twins:
  *  - graft_sorted_intersect_count === size(array_intersect) on the
  *    sorted-distinct arrays the fingerprint paths produce;
  *  - GramHash.gramKeys/leadingKey === hashing the split-based gram strings
  *    of Shingling.wordGrams (the substring pass's previous key scheme).
  */
class GraftExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  /** Collects `df` with codegen fallback off, so a generated-code compile
    * failure fails the query, and asserts that its executed plan evaluates
    * each of `exprs` inside a whole-stage-codegen stage. A frame built by
    * `Seq.toDF` alone is folded into a `LocalTableScan` by
    * `ConvertToLocalRelation` and runs the interpreted path; a shuffle
    * before the projection keeps it in generated code.
    */
  private def collectCodegen(df: DataFrame, exprs: Class[_ <: Expression]*): Array[Row] = {
    val saved = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val rows = try df.collect() finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // the operators one generated stage compiles: its subtree down to, not
    // past, its InputAdapter boundaries
    def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(inStage)
    }
    object Plans extends AdaptiveSparkPlanHelper
    val plan = df.queryExecution.executedPlan
    val stages = Plans.collect(plan) { case w: WholeStageCodegenExec => inStage(w.child) }
    for (e <- exprs)
      assert(stages.exists(_.exists(_.expressions.exists(_.find(e.isInstance).isDefined))),
        s"no whole-stage-codegen stage evaluates ${e.getSimpleName}:\n$plan")
    rows
  }

  private val sortedDistinct: Gen[Array[Long]] =
    Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
      .map(_.distinct.sorted.toArray)

  test("sorted_intersect_count matches size(array_intersect) — codegen path") {
    val rows = scala.collection.mutable.ArrayBuffer[(Array[Long], Array[Long])]()
    check(Prop.forAll(sortedDistinct, sortedDistinct) { (a, b) =>
      rows += ((a, b)); true
    })
    // overlap-heavy cases too (random longs rarely collide)
    val base = Array(1L, 5L, 9L, 42L, 77L, 100L)
    rows += ((base, base))
    rows += ((base, base.take(3)))
    rows += ((base.drop(2), base))
    rows += ((Array.emptyLongArray, base))
    val df = rows.toSeq.toDF("a", "b").repartition(2)
    val out = collectCodegen(df.select(
      GraftExpressions.sortedIntersectCount(spark, col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref")),
      classOf[GraftExpressions.SortedIntersectCount])
    assert(out.length === rows.length)
    out.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("sorted_intersect_count: null input -> null") {
    val df = Seq((Some(Array(1L, 2L)), Option.empty[Array[Long]])).toDF("a", "b")
    val r = df.select(GraftExpressions.sortedIntersectCount(spark, col("a"), col("b"))).head()
    assert(r.isNullAt(0))
    // a null ELEMENT is null input too (getLong reads it as 0): the SQL
    // call is constant-folded, so it runs the interpreted path
    assert(spark.sql("SELECT graft_sorted_intersect_count(array(CAST(NULL AS BIGINT)), array(0L))")
      .head().isNullAt(0))
    // ... and a shuffled frame keeps the projection in generated code
    val elems = Seq[(Seq[Option[Long]], Seq[Option[Long]], Option[Int])](
      (Seq(None), Seq(Some(0L)), None),
      (Seq(Some(0L)), Seq(Some(0L), None), None),
      (Seq(Some(1L), None), Seq(Some(1L)), None),
      (Seq(Some(1L), Some(5L)), Seq(Some(1L)), Some(1)))
    val got = elems.toDF("a", "b", "want").repartition(1)
      .select(GraftExpressions.sortedIntersectCount(spark, col("a"), col("b")), col("want"))
      .collect()
    assert(got.length === elems.length)
    got.foreach(r => assert(Option(r.get(0)) === Option(r.get(1)), r.toString))
  }

  /** Reference key scheme: hash each split-based gram STRING of width w with
    * seed w — what the old (width, gram-string) join key keyed on, hashed.
    */
  private def refGramKeys(text: String, k: Int): Set[Long] = {
    val toks = Shingling.tokens(text)
    (1 to math.min(k, toks.length)).flatMap { w =>
      (0 to toks.length - w).map { i =>
        Murmur3x64.hash64(toks.slice(i, i + w).mkString(" "), w.toLong)
      }
    }.toSet
  }

  private val captionGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 12)
    words <- Gen.listOfN(n, Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "x", "y", "führer", "日本語", "12", "a"))
  } yield words.mkString(" ")

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("GramHash.gramKeys === hashed split-based word grams (all widths)") {
    check(Prop.forAll(captionGen, Gen.chooseNum(1, 3)) { (text, k) =>
      val got = GramHash.gramKeys(utf8(text), k)
      got.toSet == refGramKeys(text, k) &&
        got.toSeq == got.toSeq.sorted && got.toSet.size == got.length
    })
  }

  test("GramHash.leadingKey === hash of leading min(k, words) gram") {
    check(Prop.forAll(captionGen, Gen.chooseNum(1, 3)) { (text, k) =>
      text.isEmpty || {
        val toks = Shingling.tokens(text)
        val w = math.min(k, toks.length)
        GramHash.leadingKey(utf8(text), k) ==
          Murmur3x64.hash64(toks.take(w).mkString(" "), w.toLong)
      }
    })
  }

  test("anchor key joins its own haystack keys (substring join invariant)") {
    check(Prop.forAll(captionGen, Gen.chooseNum(1, 3)) { (text, k) =>
      text.isEmpty ||
        GramHash.gramKeys(utf8(text), k).contains(GramHash.leadingKey(utf8(text), k))
    })
  }

  test("SQL-surface hardening: consecutive spaces degrade gracefully (r5 ADVICE)") {
    // six consecutive spaces overran the old length/2+2 boundary array;
    // arbitrary SQL input must not crash the task
    GraftExpressions.ensureRegistered(spark)
    val rows = spark.sql(
      "SELECT graft_word_gram_keys('      ', 2) AS ks, " +
      "graft_leading_gram_key('   a  b ', 3) AS lead").collect()
    assert(rows.length === 1) // no ArrayIndexOutOfBoundsException
    // direct core calls on degenerate byte inputs
    Seq("", " ", "      ", "  a", "a  ", "a     b").foreach { s =>
      val ks = GramHash.gramKeys(s.getBytes("UTF-8"), 3)
      assert(ks.toSeq == ks.toSeq.sorted)
      GramHash.leadingKey(s.getBytes("UTF-8"), 3)
    }
  }

  test("SQL-surface hardening: wrong argument types fail at analysis (r5 ADVICE)") {
    GraftExpressions.ensureRegistered(spark)
    // array<int> would previously be misread via getLong (silent wrong counts)
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_sorted_intersect_count(array(1, 2), array(2, 3))").collect()
    }
    assert(e1.getMessage.toLowerCase.contains("type"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_word_gram_keys(array(1), 2)").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("type"))
  }

  test("SQL-surface hardening: k < 1 and wrong argument counts fail at analysis") {
    GraftExpressions.ensureRegistered(spark)
    // k = 0 read gram end -1 (ArrayIndexOutOfBoundsException in the task); a
    // missing argument threw a bare IndexOutOfBoundsException; an extra one
    // was ignored
    Seq(
      "graft_leading_gram_key" -> "graft_leading_gram_key('a b', 0)",
      "graft_word_gram_keys" -> "graft_word_gram_keys('a b', -1)",
      "graft_leading_gram_key" -> "graft_leading_gram_key('a b')",
      "graft_sorted_intersect_count" -> "graft_sorted_intersect_count(array(1L))",
      "graft_word_gram_keys" -> "graft_word_gram_keys('a b', 2, 3, 4)"
    ).foreach { case (fn, call) =>
      val e = intercept[IllegalArgumentException](spark.sql(s"SELECT $call").collect())
      assert(e.getMessage.contains(fn), call)
    }
  }

  test("expressions survive a DataFrame round trip with codegen") {
    val cfg = GraftConfig()
    val df = Seq(
      ("a", "alpha beta gamma delta"),
      ("b", "alpha beta"),
      ("c", "")).toDF("id", "caption_norm").repartition(2)
    val out = collectCodegen(df.select(col("id"),
      GraftExpressions.leadingGramKey(spark, col("caption_norm"), cfg.shingleK).as("lead"),
      GraftExpressions.wordGramKeys(spark, col("caption_norm"), cfg.shingleK).as("keys")),
      classOf[GraftExpressions.LeadingGramKey], classOf[GraftExpressions.WordGramKeyArray])
      .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(out("a")._2.contains(out("a")._1))
    assert(out("b")._2.contains(out("b")._1))
    assert(out("c")._2.isEmpty)
  }
}
