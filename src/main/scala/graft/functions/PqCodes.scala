package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Per-subspace PQ code assignment as ONE native expression — the r19
  * replacement for the ksub-way replication join `pqAssign` (now the
  * test-side oracle in PqCodesSpec): a trained PQ codebook is m × ksub ×
  * (dim/m) = dim × ksub floats — driver-bounded at ANY corpus size, the
  * same model class as [[NearestCentroid]]'s l1 matrix — so the argmax
  * over codebook entries runs as a fused per-row loop instead of
  * exploding every vector into m slices, replicating each slice ksub
  * times through a join, and re-aggregating through an exchange (2M
  * intermediate rows for 2k vectors at ksub=127; the r18 cold-build
  * profile charged ~7 of the build's ~9.5 s to the two jobs carrying
  * that join).
  *
  * Numerics replicate that join exactly (spec-pinned): per sub, the
  * slice `v[sub·subLen, sub·subLen+subLen)` (bounded by the vector's
  * length, as SQL `slice` is) scores each codebook entry by
  * [[CosineSim]]'s double arithmetic — separate ascending-index dot and
  * norm loops — with ragged slice / zero denominator coalesced to −2.0,
  * and the argmax iterates entries in ascending code order keeping
  * strict improvements only, so exact ties (including ±0.0, equal under
  * SQL ordering) go to the smaller code, exactly the
  * `max(struct(_s, -code))` rule. Output: `array<int>` of length m,
  * index = subspace.
  */
case class PqCodes(child: Expression, codes: Array[Array[Int]],
    cents: Array[Array[Array[Float]]], subLen: Int)
    extends UnaryExpression {

  require(codes.length == cents.length && codes.nonEmpty,
    "pq_codes requires a non-empty aligned (codes, cents) grid")
  require(codes.indices.forall(s => codes(s).length == cents(s).length
      && codes(s).nonEmpty),
    "pq_codes requires at least one codebook entry per subspace")

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_codes requires array<float>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    PqCodes.assign(input.asInstanceOf[ArrayData], codes, cents, subLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val codesRef = ctx.addReferenceObj("codes", codes, "int[][]")
    val centsRef = ctx.addReferenceObj("cents", cents, "float[][][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqCodes.assign($c, (int[][]) $codesRef, " +
        s"(float[][][]) $centsRef, $subLen)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

object PqCodes {

  /** Static helper invoked from generated code — must stay public. */
  def assign(vec: ArrayData, codes: Array[Array[Int]],
      cents: Array[Array[Array[Float]]], subLen: Int): GenericArrayData = {
    val v = vec.toFloatArray()
    val m = codes.length
    val out = new Array[Any](m)
    var sub = 0
    while (sub < m) {
      val start = sub * subLen
      val svLen = math.max(0, math.min(start + subLen, v.length) - start)
      val cs = cents(sub)
      var best = 0
      var bestS = 0.0
      var first = true
      var j = 0
      while (j < cs.length) {
        val cent = cs(j)
        // CosineSim.compute semantics: ragged pair or zero denom → NULL,
        // coalesced to -2.0 by the pipeline; loops replicate its
        // separate ascending-index double accumulation exactly
        var s = -2.0
        if (svLen == cent.length && svLen > 0) {
          var dot = 0.0
          var i = 0
          while (i < svLen) {
            dot += v(start + i).toDouble * cent(i).toDouble; i += 1
          }
          var na = 0.0
          i = 0
          while (i < svLen) {
            val x = v(start + i).toDouble; na += x * x; i += 1
          }
          var nb = 0.0
          i = 0
          while (i < svLen) {
            val y = cent(i).toDouble; nb += y * y; i += 1
          }
          val denom = math.sqrt(na) * math.sqrt(nb)
          if (denom != 0.0) s = dot / denom
        }
        // strict > : ties (incl. ±0.0 — equal under SQL ordering) keep
        // the earlier = smaller code, the max(struct(_s, -code)) rule
        if (first || s > bestS) { bestS = s; best = codes(sub)(j); first = false }
        j += 1
      }
      out(sub) = best
      sub += 1
    }
    new GenericArrayData(out)
  }

  def apply(col: Column, codes: Array[Array[Int]],
      cents: Array[Array[Array[Float]]], subLen: Int): Column =
    GraftShim.column(PqCodes(GraftShim.expression(col), codes, cents, subLen))
}
