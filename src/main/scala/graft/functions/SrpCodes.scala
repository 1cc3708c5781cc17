package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** All sign-random-projection band codes of a vector in ONE constant-size
  * generated method — the codegen backbone of the banded ANN path
  * ([[graft.ext.Similarity.annLshPairs]]/annLshTopK).
  *
  * The expression-tree form (one `graft_dot_double` + threshold per
  * plane, summed per band) generates code LINEAR in the plane count: at
  * the sf1 auto geometry (8 planes × 102 bands = 816 plane dots) the
  * generated method crashes Janino outright (round-15 scale probe —
  * `InternalCompilerException`, the same 64 KB-class failure the
  * [[SemanticHit]] rewrite cured for the semantic gate), and the 100 TB
  * geometry only grows with log₂|B|. This expression is a nested loop
  * over a flattened coefficient literal — constant generated-code size
  * at ANY geometry.
  *
  * Bit-identical to the tree it replaces: plane p's projection is the
  * left-to-right double fold Σᵢ vec(i)·coef(p·dims + i) over
  * i < min(|vec|, dims) (the [[ArrayDotDouble]] truncation rule); band
  * b's code packs bits (proj > 0) for its `planesPerBand` planes. A NULL
  * input vector — or one with a null element inside the folded range —
  * yields the ALL-ZERO code array, exactly as the `when(proj > 0, bit)
  * .otherwise(0)` tree coded nulls (null projections landed every plane
  * in the otherwise branch), so null vectors keep banding under code 0
  * rather than silently vanishing from the candidate stream. */
object SrpCodes {
  /** `bandCodes(vec)` → ARRAY<BIGINT> of `bands` codes. `coefsFlat` is
    * the bands·planesPerBand × dims coefficient matrix, plane-major. */
  def bandCodes(vec: Column, coefsFlat: Array[Double], planesPerBand: Int,
      bands: Int, dims: Int): Column = {
    require(planesPerBand > 0 && bands > 0 && dims > 0,
      s"bad geometry: planesPerBand=$planesPerBand bands=$bands dims=$dims")
    require(coefsFlat.length == bands * planesPerBand * dims,
      s"coefsFlat carries ${coefsFlat.length} values for " +
        s"$bands×$planesPerBand×$dims geometry")
    Bridge.column(SrpBandCodes(Bridge.expression(vec), coefsFlat,
      planesPerBand, bands, dims))
  }
}

case class SrpBandCodes(child: Expression, coefsFlat: Array[Double],
    planesPerBand: Int, bands: Int, dims: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT|DOUBLE> input, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_srp_band_codes"

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val out = new Array[Long](bands)
    if (v != null) {
      val x = v.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), dims)
      var nullElem = false
      var i = 0
      while (i < n && !nullElem) { nullElem = x.isNullAt(i); i += 1 }
      if (!nullElem) {
        var b = 0
        while (b < bands) {
          var code = 0L
          var p = 0
          while (p < planesPerBand) {
            val base = (b * planesPerBand + p) * dims
            var acc = 0.0
            var k = 0
            while (k < n) {
              val xv = if (isFloat) x.getFloat(k).toDouble else x.getDouble(k)
              acc += xv * coefsFlat(base + k)
              k += 1
            }
            if (acc > 0) code |= 1L << p
            p += 1
          }
          out(b) = code
          b += 1
        }
      }
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val coefsRef = ctx.addReferenceObj("srpCoefs", coefsFlat, "double[]")
    val childGen = child.genCode(ctx)
    val getX =
      if (isFloat) (i: String) => s"(double) ${childGen.value}.getFloat($i)"
      else (i: String) => s"${childGen.value}.getDouble($i)"
    val (out, n, nullE, b, p, acc, k, code, base) = (ctx.freshName("out"),
      ctx.freshName("n"), ctx.freshName("nullE"), ctx.freshName("b"),
      ctx.freshName("p"), ctx.freshName("acc"), ctx.freshName("k"),
      ctx.freshName("code"), ctx.freshName("base"))
    val body = code"""
      ${childGen.code}
      long[] $out = new long[$bands];
      if (!${childGen.isNull}) {
        int $n = java.lang.Math.min(${childGen.value}.numElements(), $dims);
        boolean $nullE = false;
        for (int $k = 0; $k < $n && !$nullE; $k++) {
          $nullE = ${childGen.value}.isNullAt($k);
        }
        if (!$nullE) {
          for (int $b = 0; $b < $bands; $b++) {
            long $code = 0L;
            for (int $p = 0; $p < $planesPerBand; $p++) {
              int $base = ($b * $planesPerBand + $p) * $dims;
              double $acc = 0.0;
              for (int $k = 0; $k < $n; $k++) {
                $acc += (${getX(k)}) * $coefsRef[$base + $k];
              }
              if ($acc > 0) $code |= 1L << $p;
            }
            $out[$b] = $code;
          }
        }
      }
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
    """
    ev.copy(code = body, isNull = FalseLiteral)
  }

  // plans print the coefficients as `double[N]#<content hash>`, never by
  // JVM identity (`[D@…`, different every run) nor by content; the hash
  // is computed once and also serves hashCode
  private lazy val coefsHash = java.util.Arrays.hashCode(coefsFlat)
  override def hashCode(): Int =
    (child, coefsHash, planesPerBand, bands, dims).##
  override protected def stringArgs: Iterator[Any] = Iterator(child,
    s"double[${coefsFlat.length}]#${Integer.toHexString(coefsHash)}",
    planesPerBand, bands, dims)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
