package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup hot paths (SURVEY.md §2.11):
  * codegen'd scalar functions whose generated code is a static call into the
  * pure [[GramHash]] core (or an inline loop) — no Scala-UDF
  * encode/decode boundary, no per-row boxing, no per-row collection
  * allocation. Round-5 JFR attribution: ~8% of pipeline samples were
  * array_intersect's per-row OpenHashSet construction and ~6%
  * UTF8String.split/String.split churn in the substring pass; these
  * expressions remove both, which also lowers the multi-thread
  * allocation-contention slope (BENCH.md §hardware).
  */
object GraftExpressions {

  /** `graft_sorted_intersect_count(a, b)`: |a ∩ b| of two sorted-distinct
    * long arrays via a zero-allocation merge walk (codegen'd inline loop).
    * Replaces size(array_intersect(a, b)) in the Jaccard verifies — equal
    * by definition on sorted-distinct inputs.
    */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_sorted_intersect_count"
    // SQL-registered: without declared input types, array<int> would be
    // misread via getLong (wrong counts, silently) — fail at analysis
    // instead (round-5 ADVICE)
    override def inputTypes =
      Seq(ArrayType(LongType), ArrayType(LongType))

    // A null element has no value to match, and getLong would read it as
    // 0: an array holding one counts NULL. Checked only where the input
    // type admits null elements, so the pipeline's gram arrays (containsNull
    // = false) run the plain merge walk.
    private def elemNulls(e: Expression): Boolean = e.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    }
    override def nullable: Boolean =
      super.nullable || elemNulls(left) || elemNulls(right)

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      def anyNull(d: ArrayData) = (0 until d.numElements()).exists(d.isNullAt)
      if ((elemNulls(left) && anyNull(x)) || (elemNulls(right) && anyNull(y))) return null
      var i = 0; var j = 0; var c = 0
      val nx = x.numElements(); val ny = y.numElements()
      while (i < nx && j < ny) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      c
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val c = ctx.freshName("c")
        val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        val walk = s"""
           |int $i = 0; int $j = 0; int $c = 0;
           |final int $nx = $a.numElements();
           |final int $ny = $b.numElements();
           |while ($i < $nx && $j < $ny) {
           |  final long $xv = $a.getLong($i);
           |  final long $yv = $b.getLong($j);
           |  if ($xv == $yv) { $c++; $i++; $j++; }
           |  else if ($xv < $yv) { $i++; } else { $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
        val checks = Seq(a -> left, b -> right).collect { case (arr, e) if elemNulls(e) =>
          val k = ctx.freshName("k")
          s"for (int $k = 0; $k < $arr.numElements(); $k++) " +
            s"{ if ($arr.isNullAt($k)) ${ev.isNull} = true; }\n"
        }
        if (checks.isEmpty) walk else checks.mkString + s"if (!${ev.isNull}) {$walk}"
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `graft_word_gram_keys(text, k)`: sorted-distinct 64-bit keys of every
    * word w-gram, w = 1..min(k, words) — see [[GramHash.gramKeys]]. The
    * substring pass explodes this instead of building per-gram strings.
    */
  case class WordGramKeyArray(child: Expression, k: Int, widthMask: Int = -1)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_word_gram_keys"
    override def inputTypes = Seq(StringType)

    override protected def nullSafeEval(t: Any): Any =
      new GenericArrayData(
        GramHash.gramKeys(t.asInstanceOf[UTF8String].getBytes, k, widthMask))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
          s"graft.functions.GramHash.gramKeys($t.getBytes(), $k, $widthMask))")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_leading_gram_key(text, k)`: key of the leading
    * min(k, words)-word gram — the anchor side of the substring join
    * ([[GramHash.leadingKey]]).
    */
  case class LeadingGramKey(child: Expression, k: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_leading_gram_key"
    override def inputTypes = Seq(StringType)

    override protected def nullSafeEval(t: Any): Any =
      GramHash.leadingKey(t.asInstanceOf[UTF8String].getBytes, k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t =>
        s"graft.functions.GramHash.leadingKey($t.getBytes(), $k)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ---- Column surface -------------------------------------------------
  //
  // Columns are built through the session FunctionRegistry + call_function
  // (public API end to end; also makes the functions SQL-addressable).
  // Registration is createOrReplace, hence idempotent per session.

  // Arguments are checked when a call is analysed, so a malformed SQL call
  // fails naming its function instead of crashing a task (k < 1 would read
  // gram end -1 in GramHash.leadingKey).
  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int k, got $other")
  }

  private def kLit(e: Expression, fn: String): Int = intLit(e, fn) match {
    case k if k >= 1 => k
    case k => throw new IllegalArgumentException(s"$fn expects k >= 1, got $k")
  }

  private val fns: Seq[(String, PartialFunction[Seq[Expression], Expression])] = Seq(
    "graft_sorted_intersect_count" -> { case Seq(a, b) => SortedIntersectCount(a, b) },
    "graft_word_gram_keys" -> {
      case Seq(t, k) => WordGramKeyArray(t, kLit(k, "graft_word_gram_keys"))
      case Seq(t, k, mask) => WordGramKeyArray(t, kLit(k, "graft_word_gram_keys"),
        intLit(mask, "graft_word_gram_keys"))
    },
    "graft_leading_gram_key" -> {
      case Seq(t, k) => LeadingGramKey(t, kLit(k, "graft_leading_gram_key"))
    }
  )

  /** Idempotently register the graft functions in `spark`'s session
    * FunctionRegistry. Called by every operator that uses them — cheap
    * (map puts), safe under concurrent sessions (registry is per-session).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      registry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo(GraftExpressions.getClass.getCanonicalName, name),
        (args: Seq[Expression]) => builder.applyOrElse(args, (a: Seq[Expression]) =>
          throw new IllegalArgumentException(s"$name: wrong number of arguments (${a.length})")))
    }
  }

  def sortedIntersectCount(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_sorted_intersect_count", a, b)
  }

  def wordGramKeys(spark: SparkSession, text: Column, k: Int,
                   widthMask: Int = -1): Column = {
    ensureRegistered(spark)
    call_function("graft_word_gram_keys", text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(widthMask))
  }

  def leadingGramKey(spark: SparkSession, text: Column, k: Int): Column = {
    ensureRegistered(spark)
    call_function("graft_leading_gram_key", text, org.apache.spark.sql.functions.lit(k))
  }
}
