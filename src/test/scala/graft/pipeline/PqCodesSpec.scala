package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.TestSpark

/** Pins the r19 native PQ kernels ([[graft.functions.PqCodes]] and the
  * driver-held trainer in [[Similarity.pqCodebook]]) bit-identical to the
  * join/window pipeline they replaced:
  *  - pqEncode (native argmax) vs the reference `pqAssign` kept here
  *    (slice-explode → ksub-way join → struct-max argmax) on adversarial
  *    inputs: duplicate vectors (exact score ties → smaller code), zero
  *    slices (cosine NULL → −2.0 → deterministic smallest code), ragged
  *    short vectors (slice shorter than subLen → NULL → −2.0);
  *  - pqCodebook (TakeOrdered seeds + native assignment + collected
  *    decimal means) vs the legacy window-seeded, join-refined trainer,
  *    reproduced verbatim here as the reference implementation.
  */
class PqCodesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dim = 12
  private val m = 4 // subLen 3

  private def corpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val rows = (0L until 80L).map { id =>
      val v: Seq[Float] =
        if (id % 17 == 0) Seq.fill(5)(rnd.nextGaussian().toFloat) // ragged
        else if (id % 13 == 0) Seq.fill(dim)(0f) // all-zero slices
        else if (id % 7 == 0)
          // duplicates of a fixed vector → exact score ties
          (0 until dim).map(i => (i % 3 - 1).toFloat)
        else Seq.fill(dim)(rnd.nextGaussian().toFloat)
      (id, v)
    }
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  /** Assign each slice to its best codebook entry WITHIN its subspace —
    * the join path [[graft.functions.PqCodes]] replaced: a join on `sub`
    * replicates each slice ksub times, cosine-scored, argmax with
    * smaller-code tie-breaks. Zero-norm slices (cosine NULL) coalesce
    * below any real score and land in code 0 deterministically.
    */
  private def pqAssign(slices: DataFrame, codebook: DataFrame): DataFrame =
    slices.join(codebook, Seq("sub"))
      .withColumn("_s",
        coalesce(Similarity.cosine(col("sv"), col("cent")), lit(-2d)))
      .groupBy(col("nbr"), col("sub"))
      .agg(first(col("sv")).as("sv"),
        max(struct(col("_s").as("s"), (-col("code")).as("n"))).as("_b"))
      .select(col("nbr"), col("sub"), col("sv"), (-col("_b.n")).as("code"))

  /** The legacy trainer, verbatim (window seeds + pqAssign refinement). */
  private def legacyCodebook(c: DataFrame, ksub: Int, iters: Int): DataFrame = {
    val subLen = dim / m
    val slices = Similarity.pqSlices(c, "vec_id", "embedding", m, subLen)
    val seeds = slices.withColumn("_rn", row_number().over(
        Window.partitionBy("sub").orderBy(xxhash64(col("nbr")), col("nbr"))))
      .where(col("_rn") <= ksub)
      .select(col("sub"), (col("_rn") - 1).as("code"), col("sv").as("cent"))
    var cb = seeds
    for (_ <- 1 to math.max(iters, 0)) {
      cb = pqAssign(slices, cb)
        .select(col("sub"), col("code"),
          posexplode(col("sv")).as(Seq("_dim", "_x")))
        .groupBy("sub", "code", "_dim")
        .agg(avg(col("_x").cast("decimal(38,18)")).as("_m"))
        .groupBy("sub", "code")
        .agg(array_sort(collect_list(struct(col("_dim"), col("_m")))).as("_dm"))
        .select(col("sub"), col("code"),
          expr("transform(_dm, p -> cast(p._m as float))").as("cent"))
    }
    cb
  }

  private def centKey(df: DataFrame): Seq[String] = df
    .select(col("sub"), col("code"), col("cent"))
    .collect()
    .map(r => s"${r.getInt(0)}|${r.getInt(1)}|" +
      // bit-exact float comparison via the raw int bits
      r.getSeq[Float](2).map(java.lang.Float.floatToRawIntBits).mkString(","))
    .sorted.toSeq

  test("pqCodebook == legacy window/join trainer (bit-exact centroids)") {
    for (iters <- Seq(0, 1, 2)) {
      val now = Similarity.pqCodebook(corpus, "vec_id", "embedding",
        dim, m, ksub = 7, iters = iters)
      val legacy = legacyCodebook(corpus, ksub = 7, iters = iters)
      assert(centKey(now) === centKey(legacy), s"iters=$iters")
    }
  }

  test("pqEncode (native) == pqAssign join path (ties, zeros, ragged)") {
    val cb = Similarity.pqCodebook(corpus, "vec_id", "embedding",
      dim, m, ksub = 7, iters = 1)
    val native = Similarity.pqEncode(corpus, "vec_id", "embedding", cb, dim, m)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    val joined = pqAssign(
      Similarity.pqSlices(corpus, "vec_id", "embedding", m, dim / m), cb)
      .select(col("nbr"), col("sub"), col("code"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    assert(native === joined)
    assert(native.nonEmpty)
  }
}
