package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The ADC lookup table of a query vector against product-quantizer
  * codebooks, as ONE native kernel: entry [s][c] is the squared L2
  * distance from `vector[s*width .. s*width+width)` to `books(s)(c)`.
  * Like [[NearestCentroid]], the codebooks ride the generated class as a
  * referenced flat double[], so one small class serves every codebook
  * of a shape, where a tree of m×k `graft_sqdist(slice(v, …),
  * array(<literals>))` calls inlines every codebook value into its own.
  *
  * BIT-IDENTICAL to that tree: each entry is [[SqDist]]'s ascending-
  * index left fold over `min(width, max(0, v.len - s*width), |centroid|)`
  * elements (the slice-then-sqdist length rule); a NULL vector yields a
  * NULL table; null elements read as 0.0, as in [[SqDist]]. */
case class AdcTable(child: Expression, books: Array[Array[Array[Double]]],
                    width: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(books.nonEmpty && books.forall(_.nonEmpty) && width >= 0,
    "AdcTable: need non-empty codebooks and width >= 0")

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_adc_table"

  // codebook sizes, and the centroids flattened entry by entry (entry e
  // = (s, c) in subspace order) into `width` slots each; a centroid's
  // distance loop is bounded by its own length, capped at `width`
  private lazy val ks: Array[Int] = books.map(_.length)
  private lazy val lens: Array[Int] =
    books.flatMap(_.map(cv => math.min(width, cv.length)))
  private lazy val flat: Array[Double] = {
    val f = new Array[Double](lens.length * width)
    books.iterator.flatten.zipWithIndex.foreach { case (cv, e) =>
      System.arraycopy(cv, 0, f, e * width, lens(e))
    }
    f
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var e = 0
    val tabs = new Array[Any](ks.length)
    var s = 0
    while (s < ks.length) {
      val effW = math.min(width, math.max(0, n - s * width))
      val t = new Array[Double](ks(s))
      var c = 0
      while (c < ks(s)) {
        val cnt = math.min(effW, lens(e))
        var acc = 0.0
        var i = 0
        while (i < cnt) {
          val d = x.getDouble(s * width + i) - flat(e * width + i)
          acc += d * d; i += 1
        }
        t(c) = acc; c += 1; e += 1
      }
      tabs(s) = UnsafeArrayData.fromPrimitiveArray(t)
      s += 1
    }
    new GenericArrayData(tabs)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("books", flat, "double[]")
    val lensRef = ctx.addReferenceObj("lens", lens, "int[]")
    val ksRef = ctx.addReferenceObj("ks", ks, "int[]")
    val m = ks.length
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val e = ctx.freshName("e")
      val tabs = ctx.freshName("tabs")
      val s = ctx.freshName("s")
      val effW = ctx.freshName("effW")
      val t = ctx.freshName("t")
      val c = ctx.freshName("c")
      val cnt = ctx.freshName("cnt")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $x.numElements();
         |int $e = 0;
         |final Object[] $tabs = new Object[$m];
         |for (int $s = 0; $s < $m; $s++) {
         |  final int $effW = java.lang.Math.min($width,
         |    java.lang.Math.max(0, $n - $s * $width));
         |  final double[] $t = new double[$ksRef[$s]];
         |  for (int $c = 0; $c < $ksRef[$s]; $c++) {
         |    final int $cnt = java.lang.Math.min($effW, $lensRef[$e]);
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $cnt; $i++) {
         |      final double $d = $x.getDouble($s * $width + $i)
         |        - $flatRef[$e * $width + $i];
         |      $acc += $d * $d;
         |    }
         |    $t[$c] = $acc;
         |    $e++;
         |  }
         |  $tabs[$s] = ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray($t);
         |}
         |${ev.value} = new ${classOf[GenericArrayData].getName}($tabs);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AdcTable {
  import org.apache.spark.sql.GraftSqlShim

  /** Column form: the m × k ADC table of `v` against `books`, subspace
    * s read from `v[s*width .. s*width+width)`. */
  def adcTable(v: Column, books: Array[Array[Array[Double]]],
               width: Int): Column =
    GraftSqlShim.column(AdcTable(GraftSqlShim.expression(v), books, width))
}
