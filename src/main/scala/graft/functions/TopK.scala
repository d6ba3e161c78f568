package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: entries ordered best-first by EXACTLY the window
  * order the two-phase rank used — `ord` DESC NULLS LAST with Spark's
  * `SortOrder` double semantics (SQLOrderingUtil.compareDoubles: NaN
  * greatest, ±0.0 EQUAL — r19 fix; raw Double.compare put 0.0 strictly
  * above -0.0, which could reorder an unrounded-cosine boundary vs the
  * old window), ties by `nbr` ASC. Kept sorted descending; the common
  * full-buffer update is an O(1) rejection against the current worst,
  * merge is one sorted walk.
  *
  * Arrays are sized to the entries actually seen (grown geometrically up
  * to `k`, r19): the ADC/rerank paths aggregate with k = max(rerank, k),
  * where eager k-sized allocation per group held multiples of the real
  * buffer footprint in the hash aggregate for sparse groups.
  */
private[functions] final class TopKBuf(val k: Int) {
  // parallel arrays, sorted best-first; hasOrd=false entries (NULL order
  // key) sort after every real score, mirroring NULLS LAST
  var n: Int = 0
  private var cap: Int = 0
  var ords: Array[Double] = TopKBuf.emptyD
  var hasOrd: Array[Boolean] = TopKBuf.emptyB
  var nbrs: Array[Long] = TopKBuf.emptyL
  var c1s: Array[Int] = TopKBuf.emptyI
  var c2s: Array[Int] = TopKBuf.emptyI
  var auxs: Array[Long] = TopKBuf.emptyL

  /** Grow to hold at least `need` entries (≤ k). */
  def ensure(need: Int): Unit = {
    if (need <= cap) return
    val nc = math.min(k, math.max(need, math.max(8, cap * 2)))
    ords = java.util.Arrays.copyOf(ords, nc)
    hasOrd = java.util.Arrays.copyOf(hasOrd, nc)
    nbrs = java.util.Arrays.copyOf(nbrs, nc)
    c1s = java.util.Arrays.copyOf(c1s, nc)
    c2s = java.util.Arrays.copyOf(c2s, nc)
    auxs = java.util.Arrays.copyOf(auxs, nc)
    cap = nc
  }

  /** negative → entry a sorts BEFORE (is better than) the entry at
    * buffer slot i. */
  @inline private def cmp(aHas: Boolean, aOrd: Double, aNbr: Long,
      i: Int): Int = {
    val c =
      if (aHas && hasOrd(i)) {
        // ±0.0 compare equal (fall to the nbr tie-break), NaN == NaN too —
        // exactly SQLOrderingUtil.compareDoubles' total order, which is
        // what the window rank this aggregate replaced sorted by
        if (aOrd == ords(i)) 0
        else -java.lang.Double.compare(aOrd, ords(i))
      }
      else if (aHas) -1 // real score before NULL
      else if (hasOrd(i)) 1
      else 0
    if (c != 0) c else java.lang.Long.compare(aNbr, nbrs(i))
  }

  /** Returns false iff the buffer was full and the entry did not beat its
    * worst (nothing inserted). */
  def insert(has: Boolean, ord: Double, nbr: Long, c1: Int, c2: Int,
      aux: Long): Boolean = {
    if (n == k && cmp(has, ord, nbr, n - 1) >= 0) return false
    ensure(math.min(k, n + 1))
    var pos = n
    while (pos > 0 && cmp(has, ord, nbr, pos - 1) < 0) pos -= 1
    val last = if (n < k) n else k - 1
    var i = last
    while (i > pos) {
      ords(i) = ords(i - 1); hasOrd(i) = hasOrd(i - 1); nbrs(i) = nbrs(i - 1)
      c1s(i) = c1s(i - 1); c2s(i) = c2s(i - 1); auxs(i) = auxs(i - 1)
      i -= 1
    }
    ords(pos) = ord; hasOrd(pos) = has; nbrs(pos) = nbr
    c1s(pos) = c1; c2s(pos) = c2; auxs(pos) = aux
    if (n < k) n += 1
    true
  }

  /** Merge `other` in: one walk inserting its (already sorted) entries —
    * stops at the first rejection, since every later entry of a sorted
    * input is worse and would be rejected too. */
  def mergeIn(other: TopKBuf): Unit = {
    var i = 0
    while (i < other.n) {
      if (!insert(other.hasOrd(i), other.ords(i), other.nbrs(i),
        other.c1s(i), other.c2s(i), other.auxs(i))) return
      i += 1
    }
  }
}

/** Top-k per group as ONE bounded aggregate — the r18 replacement for the
  * two-phase window rank ([[graft.pipeline.Similarity]]'s topKPerQuery and
  * the quantized/ADC serve paths' inline window pairs): instead of
  * sorting every scored candidate row twice (local sort + WindowGroupLimit,
  * exchange, global sort + Window), candidates stream through a bounded
  * per-group buffer (map-side partial aggregation — each input partition
  * contributes ≤ k entries per group to the exchange) and the merge is a
  * sorted walk. The emitted array is ordered best-first, so
  * `posexplode` position + 1 IS the row_number the window produced —
  * row-identical by construction (same total order: ord DESC NULLS LAST
  * with SortOrder's double comparison — NaN greatest, ±0.0 equal —
  * `nbr` ASC ties).
  *
  * Generic payload: `(nbr, sim, c1, c2, aux)` — the float paths use
  * (sim, nbr) and pass zero literals for the rest; the quantized/ADC
  * paths carry their (c1, c2) partition key (for the pruned float
  * fetch-back join) and the ADC path its exact integer score in `aux`.
  *
  * NOTE ObjectHashAggregateExec's sort-based fallback (default 128
  * DISTINCT KEYS per task) is calibrated for unbounded sketch buffers,
  * pessimal here where a buffer is ≤ k·33 bytes: [[graft.GraftSession]]
  * raises it so high-cardinality query batches aggregate by hash, not by
  * sort (the whole point of replacing the windows).
  */
private[functions] object TopKBuf {
  // shared zero-length seeds so an empty buffer allocates nothing
  val emptyD: Array[Double] = new Array[Double](0)
  val emptyB: Array[Boolean] = new Array[Boolean](0)
  val emptyL: Array[Long] = new Array[Long](0)
  val emptyI: Array[Int] = new Array[Int](0)
}

case class TopKEntries(ord: Expression, nbr: Expression, c1: Expression,
    c2: Expression, aux: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuf] {

  require(k > 0, s"top_k_entries requires k > 0, got $k")

  override def children: Seq[Expression] = Seq(ord, nbr, c1, c2, aux)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_entries"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("nbr", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = true),
    StructField("c1", IntegerType, nullable = false),
    StructField("c2", IntegerType, nullable = false),
    StructField("aux", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val expect = Seq(DoubleType, LongType, IntegerType, IntegerType, LongType)
    val actual = children.map(_.dataType)
    if (actual == expect) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"top_k_entries requires (double, bigint, int, int, bigint), got " +
        actual.map(_.catalogString).mkString("(", ", ", ")"))
  }

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val nbrV = nbr.eval(input)
    if (nbrV == null) throw new IllegalArgumentException(
      "top_k_entries: NULL nbr (candidate ids are non-null by construction)")
    val ordV = ord.eval(input)
    buf.insert(ordV != null,
      if (ordV == null) 0d else ordV.asInstanceOf[Double],
      nbrV.asInstanceOf[Long],
      c1.eval(input).asInstanceOf[Int], c2.eval(input).asInstanceOf[Int],
      aux.eval(input).asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuf, other: TopKBuf): TopKBuf = {
    buf.mergeIn(other); buf
  }

  override def eval(buf: TopKBuf): Any = {
    val out = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      out(i) = InternalRow(buf.nbrs(i),
        if (buf.hasOrd(i)) java.lang.Double.valueOf(buf.ords(i)) else null,
        buf.c1s(i), buf.c2s(i), buf.auxs(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + buf.n * 33)
    bb.putInt(buf.k).putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.put(if (buf.hasOrd(i)) 1.toByte else 0.toByte)
      bb.putDouble(buf.ords(i)).putLong(buf.nbrs(i))
      bb.putInt(buf.c1s(i)).putInt(buf.c2s(i)).putLong(buf.auxs(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new TopKBuf(bb.getInt())
    val n = bb.getInt()
    buf.ensure(n)
    var i = 0
    while (i < n) { // entries arrive sorted; append preserves order
      buf.hasOrd(i) = bb.get() == 1
      buf.ords(i) = bb.getDouble(); buf.nbrs(i) = bb.getLong()
      buf.c1s(i) = bb.getInt(); buf.c2s(i) = bb.getInt()
      buf.auxs(i) = bb.getLong()
      i += 1
    }
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKEntries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKEntries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKEntries =
    copy(ord = newChildren(0), nbr = newChildren(1), c1 = newChildren(2),
      c2 = newChildren(3), aux = newChildren(4))
}

object TopKEntries {
  def apply(ord: Column, nbr: Column, c1: Column, c2: Column, aux: Column,
      k: Int): Column =
    GraftShim.column(TopKEntries(GraftShim.expression(ord),
      GraftShim.expression(nbr), GraftShim.expression(c1),
      GraftShim.expression(c2), GraftShim.expression(aux), k)
      .toAggregateExpression())
}

/** The indices of the top-`p` centroids by dot product (same normalized
  * matrix and accumulation order as [[CentroidDots]] — score-identical),
  * ties to the smaller index, as `array<int>` — the probe-side
  * selection `posexplode(CentroidDots) → row_number window → filter`
  * performed per row with NO exchange and NO sort (r18: that window was
  * the first shuffle of every serve query's probe plan; the selection is
  * a per-vector argmax loop exactly like [[NearestCentroid]], which is
  * the p = 1 case). Ordering parity with the window's
  * (`_score` DESC, `_cell` ASC): dots of finite float inputs are never
  * NaN, and primitive `>` treats -0.0 == 0.0 exactly as the normalized
  * sort key did, with the index tie-break deciding.
  */
case class TopPCentroids(child: Expression, centroids: Array[Array[Float]],
    p: Int) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(p > 0, s"top_p_centroids requires p > 0, got $p")

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "top_p_centroids"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"top_p_centroids requires array<float>, got ${other.catalogString}")
  }

  @transient private lazy val normalized: Array[Array[Float]] =
    NearestCentroid.normalize(centroids)

  override protected def nullSafeEval(input: Any): Any =
    TopPCentroids.select(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      normalized, p)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("centroids", normalized, "float[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TopPCentroids.select($c, (float[][]) $ref, $p)")
  }

  override protected def withNewChildInternal(newChild: Expression): TopPCentroids =
    copy(child = newChild)
}

object TopPCentroids {

  /** Static helper invoked from generated code — must stay public. */
  def select(vec: org.apache.spark.sql.catalyst.util.ArrayData,
      centroids: Array[Array[Float]], p: Int): GenericArrayData = {
    val v = vec.toFloatArray()
    val n = centroids.length
    val scores = new Array[Double](n)
    var c = 0
    while (c < n) {
      val cent = centroids(c)
      var dot = 0.0
      var i = 0
      val d = math.min(v.length, cent.length)
      while (i < d) { dot += v(i).toDouble * cent(i); i += 1 }
      scores(c) = dot
      c += 1
    }
    val take = math.min(p, n)
    val out = new Array[Any](take)
    val used = new Array[Boolean](n)
    var r = 0
    while (r < take) {
      var best = -1
      var bestScore = 0.0
      c = 0
      while (c < n) {
        if (!used(c) && (best < 0 || scores(c) > bestScore)) {
          best = c; bestScore = scores(c)
        }
        c += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  def apply(col: Column, centroids: Array[Array[Float]], p: Int): Column =
    GraftShim.column(TopPCentroids(GraftShim.expression(col), centroids, p))
}
