package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.TestSpark

/** Drives every SQL-registered native function through the SQL surface
  * (GraftExtensions.register → spark.sql) and cross-checks against the
  * Column API — the two entry points must be the same expression.
  */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    GraftExtensions.register(s)
    s
  }

  test("SQL surface == Column API for simhash64 / minhash_sigs / shingles") {
    import spark.implicits._
    Seq(("a b c d e", 1L), ("c d e f g", 2L), ("", 3L))
      .toDF("text", "id").createOrReplaceTempView("fx_docs")
    val toks = graft.pipeline.TextAnalysis.tokens(col("text"))
    val viaCol = spark.table("fx_docs")
      .select(col("id"), SimHash64(toks).as("sh"),
        MinHashSigs(Shingles(toks, 2), 8).as("mh"),
        Shingles(toks, 2).as("sg"))
      .orderBy("id").collect()
    val viaSql = spark.sql(
      """SELECT id,
        |  simhash64(filter(split(trim(text), '\\s+'), t -> t != '')) AS sh,
        |  minhash_sigs(shingles(filter(split(trim(text), '\\s+'), t -> t != ''), 2), 8) AS mh,
        |  shingles(filter(split(trim(text), '\\s+'), t -> t != ''), 2) AS sg
        |FROM fx_docs ORDER BY id""".stripMargin).collect()
    assert(viaCol.map(_.toString).toSeq === viaSql.map(_.toString).toSeq)
  }

  test("SQL surface == Column API for cosine_sim / hash_sketch") {
    import spark.implicits._
    Seq((1L, Array(1f, 0f, 1f), Array(1f, 1f, 0f), Seq("x y", "y z")),
      (2L, Array(0.5f, 2f, -1f), Array(0.5f, 2f, -1f), Seq.empty[String]))
      .toDF("id", "a", "b", "arr").createOrReplaceTempView("fx_vecs")
    val viaCol = spark.table("fx_vecs")
      .select(col("id"), round(CosineSim(col("a"), col("b")), 6).as("cs"),
        HashSketch(col("arr")).as("hs"))
      .orderBy("id").collect()
    val viaSql = spark.sql(
      """SELECT id, round(cosine_sim(a, b), 6) AS cs, hash_sketch(arr) AS hs
        |FROM fx_vecs ORDER BY id""".stripMargin).collect()
    assert(viaCol.map(_.toString).toSeq === viaSql.map(_.toString).toSeq)
    // identical vectors → cosine 1.0; empty array → null min/max, card 0
    assert(math.abs(viaCol(1).getDouble(1) - 1.0) < 1e-9)
    val hs = viaCol(1).getStruct(2)
    assert(hs.isNullAt(0) && hs.isNullAt(1) && hs.getLong(2) === 0L)
  }

  test("shingles_bag preserves duplicates in order; shingles is its distinct form") {
    import spark.implicits._
    val df = Seq((1L, Seq("a", "b", "a", "b", "a")), (2L, Seq("x")), (3L, Seq.empty[String]))
      .toDF("id", "toks")
    val rows = df.select(col("id"),
      ShinglesBag(col("toks"), 2).as("bag"),
      Shingles(col("toks"), 2).as("set"))
      .orderBy("id")
      .as[(Long, Seq[String], Seq[String])].collect().toSeq
    assert(rows(0)._2 === Seq("a b", "b a", "a b", "b a"))
    assert(rows(0)._3 === Seq("a b", "b a"))
    assert(rows(1)._2 === Nil && rows(2)._2 === Nil)
    // SQL surface agrees with the Column API
    df.createOrReplaceTempView("fx_bag")
    val viaSql = spark.sql(
      "SELECT shingles_bag(toks, 2) AS bag FROM fx_bag ORDER BY id").collect()
    assert(viaSql(0).getSeq[String](0) === Seq("a b", "b a", "a b", "b a"))
  }

  test("minhash_bands matches the transform/slice/concat_ws composition it replaced") {
    import spark.implicits._
    val df = Seq(Seq("a b c", "b c d", "c d e"), Seq("x y z"))
      .toDF("sh")
    val (numHashes, bands) = (64, 16)
    val rows = numHashes / bands
    val sig = MinHashSigs(col("sh"), numHashes)
    val composed = df.select(
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",",
          transform(slice(sig, b * rows + 1, lit(rows)), x => x.cast("string"))))).as("bh"))
      .collect().map(_.getSeq[Long](0))
    val native = df.select(MinHashBands(col("sh"), numHashes, bands).as("bh"))
      .collect().map(_.getSeq[Long](0))
    assert(native.toSeq === composed.toSeq)
    // and the SQL registration resolves to the same expression
    df.createOrReplaceTempView("fx_bands")
    val viaSql = spark.sql(s"SELECT minhash_bands(sh, $numHashes, $bands) FROM fx_bands")
      .collect().map(_.getSeq[Long](0))
    assert(viaSql.toSeq === native.toSeq)
  }

  test("cosine_sim matches the interpreted fold it replaced") {
    import spark.implicits._
    val df = Seq((Array(0.3f, -1.2f, 2.5f, 0f), Array(1.1f, 0.4f, -0.2f, 3f)))
      .toDF("a", "b")
    val native = df.select(CosineSim(col("a"), col("b"))).head().getDouble(0)
    val folded = df.select(
      aggregate(zip_with(col("a"), col("b"), (p, q) => p.cast("double") * q.cast("double")),
        lit(0d), (acc, v) => acc + v) /
        (sqrt(aggregate(zip_with(col("a"), col("a"), (p, q) => p.cast("double") * q.cast("double")),
          lit(0d), (acc, v) => acc + v)) *
          sqrt(aggregate(zip_with(col("b"), col("b"), (p, q) => p.cast("double") * q.cast("double")),
            lit(0d), (acc, v) => acc + v)))).head().getDouble(0)
    assert(native === folded, "native must be bit-identical to the column fold")
  }

  test("dot_i64 matches the zip_with fold; NULL on ragged or null inputs") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),      // 4+10+18 = 32
      (Seq(-2L, 7L), Seq(3L, -1L)),            // -6-7 = -13
      (Seq.empty[Long], Seq.empty[Long]))      // 0
      .toDF("a", "b")
    val native = df.select(graft.functions.DotI64(col("a"), col("b"))).as[Long].collect().toSeq
    val folded = df.select(
      aggregate(zip_with(col("a"), col("b"), _ * _), lit(0L), _ + _))
      .as[Long].collect().toSeq
    assert(native === folded && native === Seq(32L, -13L, 0L))
    val ragged = Seq((Seq(1L, 2L), Seq(1L)))
      .toDF("a", "b")
      .select(graft.functions.DotI64(col("a"), col("b")).as("d"))
    assert(ragged.collect().head.isNullAt(0), "ragged lengths must be NULL")
    val nullIn = Seq((Some(Seq(1L)), Option.empty[Seq[Long]]))
      .toDF("a", "b")
      .select(graft.functions.DotI64(col("a"), col("b")).as("d"))
    assert(nullIn.collect().head.isNullAt(0), "null input must null-propagate")
  }

  test("pack_i8 round-trips codes exactly through dot_i8; loud on out-of-range") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, -2L, 127L, -127L, 0L), Seq(3L, 5L, -1L, 2L, 9L)),
      (Seq.empty[Long], Seq.empty[Long]))
      .toDF("a", "b")
    // the packed-binary dot must equal the array<bigint> dot it compresses
    val viaI8 = df.select(
      DotI8(PackI8(col("a")), PackI8(col("b")))).as[Long].collect().toSeq
    val viaI64 = df.select(DotI64(col("a"), col("b"))).as[Long].collect().toSeq
    assert(viaI8 === viaI64 && viaI8 === Seq(1L * 3 - 2 * 5 - 127 + (-127) * 2, 0L))
    // ragged binary pair → NULL, like dot_i64
    val ragged = Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
      .select(DotI8(PackI8(col("a")), PackI8(col("b"))).as("d"))
    assert(ragged.collect().head.isNullAt(0))
    // silent byte wrap would corrupt every downstream dot — must throw
    val bad = Seq(Tuple1(Seq(128L))).toDF("a").select(PackI8(col("a")))
    val e = intercept[Exception](bad.collect())
    assert(e.getMessage != null)
  }

  test("SQL surface == Column API for pack_i8 / dot_i8 / dot_i64") {
    import spark.implicits._
    Seq((Seq(1L, -2L, 127L), Seq(3L, 5L, -1L)), (Seq.empty[Long], Seq.empty[Long]))
      .toDF("a", "b").createOrReplaceTempView("fx_codes")
    val viaSql = spark.sql(
      "SELECT dot_i8(pack_i8(a), pack_i8(b)) AS d8, dot_i64(a, b) AS d64 FROM fx_codes")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaCol = spark.table("fx_codes")
      .select(DotI8(PackI8(col("a")), PackI8(col("b"))).as("d8"),
        DotI64(col("a"), col("b")).as("d64"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql === viaCol && viaSql === Seq((1L * 3 - 2 * 5 - 127, 1L * 3 - 2 * 5 - 127), (0L, 0L)))
  }

  test("SQL builders refuse wrong argument counts with a typed analysis error") {
    import spark.implicits._
    Seq(Tuple1(Seq(1L, 2L))).toDF("a").createOrReplaceTempView("fx_arity")
    // positional children(i) access would throw IndexOutOfBounds (or
    // silently ignore extras) without the arity gate — every registered
    // function must raise Spark's standard WRONG_NUM_ARGS analysis error
    for (sql <- Seq(
        "SELECT dot_i8(pack_i8(a)) FROM fx_arity",          // too few
        "SELECT dot_i64(a, a, a) FROM fx_arity",            // too many
        "SELECT pack_i8(a, a) FROM fx_arity",
        "SELECT simhash64() FROM fx_arity",
        "SELECT cosine_sim(a) FROM fx_arity",
        "SELECT minhash_bands(a, 4) FROM fx_arity")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql))
      assert(e.getMessage.toUpperCase.contains("WRONG_NUM_ARGS") ||
        e.getMessage.toLowerCase.contains("requires"),
        s"expected a wrong-arg-count analysis error for: $sql, got: ${e.getMessage}")
    }
  }

  test("cosine_sim is NULL for ragged or zero-norm vectors (no silent garbage)") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1f, 2f, 3f), Array(1f, 2f)),        // ragged → NULL
      (2L, Array(0f, 0f, 0f), Array(1f, 2f, 3f)))    // zero norm → NULL
      .toDF("id", "a", "b")
    val out = df.select(CosineSim(col("a"), col("b"))).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("IntCodes / QScale == legacy lambda chains bit-for-bit") {
    // adversarial vectors: normal, zero, empty, single, huge/tiny floats,
    // negatives, a NULL element, NaN, +Inf, -Inf, and NaN beside a NULL
    // (array SQL-built so floats stay floats)
    val df = spark.range(0, 1).select(
      expr("""array(
        array(cast(1.5 as float),  cast(-2.25 as float), cast(0.1 as float)),
        array(cast(0.0 as float),  cast(0.0 as float)),
        array(cast(1e30 as float), cast(-1e-30 as float)),
        array(cast(-3.0 as float)),
        array(cast(null as float), cast(4.0 as float)),
        array(cast(null as float), cast(null as float)),
        array(cast(127.0 as float), cast(-127.0 as float), cast(63.5 as float)),
        array(cast('NaN' as float), cast(1.0 as float)),
        array(cast('Infinity' as float), cast(2.0 as float)),
        array(cast('-Infinity' as float), cast(-2.0 as float)),
        array(cast('NaN' as float), cast(null as float), cast(3.0 as float))
      ) as vs"""))
      .select(posexplode(col("vs")).as(Seq("i", "v")))
    // the exact lambda chains IntCodes/QScale replaced (r19)
    val vd = transform(col("v"), x => x.cast("double"))
    val ma = array_max(transform(vd, x => abs(x)))
    val legacyCodes = when(ma > 0d,
      transform(vd, x => floor(x * lit(127.0d) / ma + lit(0.5d))))
      .otherwise(transform(vd, _ => lit(0L)))
    val legacyScale = when(ma > 0d,
      ma / (lit(127.0d) * sqrt(aggregate(transform(vd, x => x * x),
        lit(0d), _ + _))))
      .otherwise(lit(0d))
    val rows = df.select(col("i"),
      IntCodes(col("v")).as("nc"), legacyCodes.as("lc"),
      QScale(col("v")).as("ns"), legacyScale.as("ls"))
      .orderBy("i").collect()
    assert(rows.length === 11)
    rows.foreach { r =>
      assert(r.get(1) === r.get(2), s"codes differ at ${r.getInt(0)}")
      val (n, l) = (r.isNullAt(3), r.isNullAt(4))
      assert(n === l, s"scale null mismatch at ${r.getInt(0)}")
      if (!n) assert(
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)) ===
          java.lang.Double.doubleToRawLongBits(r.getDouble(4)),
        s"scale bits differ at ${r.getInt(0)}")
    }
  }
}
