package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel of [[TopBigramFrac]], callable from generated code. */
object TopBigramKernel {
  /** Occurrences of the most frequent adjacent token pair over the
    * number of pairs (n - 1); 0.0 below two tokens. Each token gets a
    * dense int id (byte equality, like a string group-by key; null
    * elements share one more id), each pair packs its two ids into a long,
    * and the longest run of the sorted longs is the top count: O(n log
    * n), one map and one long array per row, no per-pair allocation. */
  def frac(w: ArrayData): Double = {
    val n = w.numElements()
    if (n < 2) return 0.0
    // map ids are < n, so n is free for the null element
    val ids = new java.util.HashMap[UTF8String, Integer](n * 2)
    val pairs = new Array[Long](n - 1)
    var prev = 0L
    var i = 0
    while (i < n) {
      val cur: Long =
        if (w.isNullAt(i)) n
        else {
          val t = w.getUTF8String(i)
          val known = ids.get(t)
          if (known != null) known.longValue()
          else { val id = ids.size; ids.put(t, id); id }
        }
      if (i > 0) pairs(i - 1) = (prev << 32) | cur
      prev = cur; i += 1
    }
    java.util.Arrays.sort(pairs)
    var top = 1; var run = 1
    i = 1
    while (i < pairs.length) {
      run = if (pairs(i) == pairs(i - 1)) run + 1 else 1
      if (run > top) top = run
      i += 1
    }
    top.toDouble / (n - 1).toDouble
  }
}

/** Share of a token array's adjacent pairs taken by its most frequent
  * pair — the Gopher `top_bigram_frac` as ONE map-side kernel over the
  * token array ([[TopBigramKernel.frac]]), in place of exploding
  * (doc, bigram) rows, two aggregates and a join back on the doc id.
  *
  * Equal to that formulation on tokenizer output: a bigram string is
  * `w(i) + " " + w(i+1)` and tokens split on whitespace hold no space,
  * so two bigram strings are equal iff their token pairs are. A null
  * array yields 0.0 (no bigrams), so the expression is non-nullable. */
case class TopBigramFrac(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_top_bigram_frac"

  override def eval(input: InternalRow): Any = {
    val w = child.eval(input)
    if (w == null) 0.0 else TopBigramKernel.frac(w.asInstanceOf[ArrayData])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        |${c.code}
        |double ${ev.value} = 0.0;
        |if (!${c.isNull}) {
        |  ${ev.value} = graft.functions.TopBigramKernel.frac(${c.value});
        |}
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopBigramFrac {
  import org.apache.spark.sql.GraftSqlShim

  /** Column form over an array<string> of tokens. */
  def apply(tokens: Column): Column =
    GraftSqlShim.column(TopBigramFrac(GraftSqlShim.expression(tokens)))
}
