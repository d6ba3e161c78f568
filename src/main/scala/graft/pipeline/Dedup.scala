package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact → n-gram Jaccard → MinHash-LSH → SimHash.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup is one hash-shuffle on the key — the minimum possible;
  *  - n-gram Jaccard generates candidates from a shingle inverted index
  *    (pairs must share ≥1 shingle — exact, no recall loss) and supports a
  *    document-frequency cap to drop stop-shingles, which is what bounds
  *    the worst-case bucket blowup on skewed corpora;
  *  - MinHash-LSH replaces the shingle index with b banded signature
  *    buckets, making candidate volume independent of shingle frequency —
  *    the standard web-scale near-dup design (b·r permutations tuned to the
  *    target threshold);
  *  - SimHash reduces each document to 64 bits; banding the bits into
  *    (maxHamming+1) chunks guarantees (pigeonhole) every pair within the
  *    hamming radius shares a chunk, so candidate generation is again an
  *    equi-join, verified by bit_count(xor).
  * All candidate generation is equi-join-shaped (shuffle on a synthetic
  * key), all verification is per-pair expressions — nothing quadratic
  * except within a bucket, which the banding/DF-cap parameters bound.
  */
object Dedup {

  /** Exact dedup: one representative id (min) per distinct key. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(min(col(idCol)).as(idCol))

  /** Incremental dedup of a NEW batch against an EXISTING corpus — the
    * continuous-ingest shape: keep only batch documents whose key does not
    * already exist. A Bloom filter over the existing keys (Spark's own
    * BloomFilterAggregate / BloomFilterMightContain — the machinery behind
    * its runtime row-group filtering) prefilters the batch:
    * bloom-NEGATIVE rows are definitively new (no false negatives) and
    * bypass the join entirely; only bloom-positive candidates (true dups +
    * the fpp sliver) reach the exact anti-join. At 100 TB that join
    * shuffles ~dup-rate·batch instead of the whole batch, and the existing
    * corpus ships as one bounded bitmap (numBits/8 bytes through the
    * driver — same bounded-collect class as Decontaminate's broadcast
    * guard), never as a shuffled side.
    *
    * Exactness does not depend on the bloom (candidates are anti-joined
    * against the real keys), so the result equals a plain anti-join —
    * which is the px41 oracle and a spec property.
    */
  def incrementalNew(existing: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val h = xxhash64(col(textCol))
    val bloomAgg = GraftShim.column(
      new BloomFilterAggregate(GraftShim.expression(h),
        Literal(expectedItems), Literal(math.max(expectedItems * 8L, 64L)))
        .toAggregateExpression())
    val bloomBytes = existing.select(bloomAgg.as("_bf")).head().getAs[Array[Byte]]("_bf")
    if (bloomBytes == null) {
      // empty existing corpus → aggregate yields NULL → everything is new
      batch.select(col(idCol))
    } else {
      val might = GraftShim.column(BloomFilterMightContain(
        Literal.create(bloomBytes, BinaryType), GraftShim.expression(h)))
      val definiteNew = batch.where(not(might)).select(col(idCol))
      val survivors = batch.where(might)
        .join(existing.select(col(textCol)).distinct(), Seq(textCol), "left_anti")
        .select(col(idCol))
      definiteNew.unionByName(survivors)
    }
  }

  /** Default document-frequency cap for [[ngramJaccardPairs]]: a shingle in
    * more than this many documents is a stop-shingle (boilerplate) carrying
    * no near-dup signal, and every document pair inside its bucket is a
    * candidate — the cap is what keeps the inverted-index self-join from
    * going quadratic on skewed corpora, so it is ON by default.
    */
  val DefaultMaxDF: Int = 1000

  /** Span-level (substring) duplication signals — the "repeated n-token
    * window" method of span-dedup pipelines: for each document, how many of
    * its distinct n-token windows also occur in at least `minDocs`
    * documents (itself included). Catches boilerplate spans and cross-doc
    * copied passages that whole-document Jaccard ([[ngramJaccardPairs]])
    * dilutes away, and is the corpus-level analog of line-dedup for
    * corpora without line structure.
    *
    * Scale design: fully LINEAR, unlike every pair-generating operator
    * here — the window frequency table is one groupBy (map-side partial
    * agg), and the join-back is 1:1 per (doc, window) row, so hot
    * boilerplate windows cost their row count, never a pairwise blowup.
    * No DF cap needed: frequency IS the signal.
    *
    * Output: `(idCol, n_windows, n_shared, repeated)` per document, where
    * `repeated` = shared windows exceed 10% of the doc's windows, computed
    * in exact integer arithmetic (10·n_shared > n_windows).
    */
  def sharedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    val win = df.select(col(idCol),
      explode(TextAnalysis.shingles(col(textCol), n)).as("w"))
    // windows are DISTINCT per doc (Shingles dedups), so count(*) per
    // window == number of documents containing it
    val freq = win.groupBy("w").agg(count(lit(1)).as("_nd"))
    val per = win.join(freq, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("_nd") >= minDocs, 1L).otherwise(0L)).as("n_shared"))
    df.select(col(idCol))
      .join(per, Seq(idCol), "left_outer") // sub-n-token docs keep a row
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("repeated", col("n_shared") * 10 > col("n_windows"))
  }

  /** N-gram Jaccard near-duplicate pairs with similarity ≥ threshold over
    * the DF-capped shingle space. Exact over that space: J(a,b) > 0 ⟹ the
    * pair shares a surviving shingle ⟹ it appears in the inverted-index
    * candidates. Pass `maxDF = None` for exact-over-all-shingles semantics
    * (safe only on corpora known to be free of hot shingles).
    *
    * Intersection sizes come straight from the inverted index — count of
    * co-occurrences per pair (one shuffle on the pair key) — NOT from
    * joining the shingle arrays back and running array_intersect per
    * candidate: on corpora with hot shingles the array join re-ships every
    * document's full shingle set once per candidate pair, which is the
    * difference between seconds and minutes at sf0.1.
    *
    * MEASURED ANTI-RESULT (r14): PPJoin-style prefix filtering
    * (df-ascending global order, both-side ⌊(1−t)s⌋+1 prefixes, then a
    * candidate-restricted verify join à la minhashPairs) was built and
    * rehearsed at 100× — 81× time ratio vs this plan's 6.4× on the same
    * synthetic corpus. Two compounding causes: a near-dup-heavy corpus
    * defeats the prefix (near-duplicates share exactly their rarest
    * shingles, so prefix-df ≈ df for the colliding keys), and the verify
    * join re-expands every candidate pair by its full shingle list — an
    * intermediate this direct-from-index intersection never materializes.
    * Do not re-attempt without a candidate-count measurement first.
    *
    * That measurement now exists (r14, SCALE_r14 phase attribution):
    * every intermediate's row count grows exactly 100.00× at 100× data
    * (capped index 260k→26.0M, candidates 1.27M→126.6M, pairs
    * 1.13M→113.1M) — the DF cap holds per-doc candidate degree constant,
    * so the plan carries ZERO super-linear volume; and a within-process
    * shuffle-partition sweep (16/64/128 → 13.3/14.6/21.3 s on the
    * dominant pair-groupby) shows the phase is compute-bound, not
    * partition- or spill-bound. The ~6.4× time ratio at 100× is the
    * fixed-box core count amortizing, and disappears when executors
    * scale with data. This operator's perf story is CLOSED.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6,
      maxDF: Option[Int] = Some(DefaultMaxDF)): DataFrame = {
    // r19: single-row-group inputs scan as ONE partition, serializing the
    // shingle explode (measured 1.42 s on one task at sf0.1) — spread to
    // the core budget first; a no-op on multi-split inputs (guide §2.5)
    val dfP = graft.Tables.spread(df)
    // materialize the shingle sets once: the plan references them 4× (both
    // self-join sides + both size lookups) and Catalyst does not reuse
    // non-exchange subtrees, so without this the corpus is scanned and
    // re-shingled four times per run. localCheckpoint, NOT persist(): a
    // persist entry lives in the session's CacheManager until an explicit
    // unpersist nobody is positioned to call, so every invocation would
    // leak a MEMORY_AND_DISK entry for the session's lifetime; checkpoint
    // blocks are owned by the returned plan and are GC-reclaimed with it
    val sh = dfP.select(col(idCol).as("_id"),
      TextAnalysis.shingles(col(textCol), n).as("_sh"))
      .where(size(col("_sh")) > 0)
      .localCheckpoint(true)
    val inv = sh.select(col("_id"), explode(col("_sh")).as("_k"))
    // document frequency via groupBy (map-side partial agg: a hot shingle's
    // count combines per-partition before the shuffle), then anti-join away
    // the hot shingles. A Window.partitionBy("_k") count would land every
    // row of a hot shingle on ONE task — the exact skew the cap exists to
    // bound. The hot set has at most |inv|/cap keys, so AQE broadcasts it
    // in the common case; when it is genuinely large the anti-join is a
    // plain shuffle join, still skew-free.
    val capped = maxDF.fold(inv) { cap =>
      val hot = inv.groupBy("_k").agg(count(lit(1)).as("_df"))
        .where(col("_df") > cap).select("_k")
      inv.join(hot, Seq("_k"), "left_anti")
    }
    // sizes from the SAME (possibly DF-capped) shingle space as the
    // intersections: mixing capped intersections with uncapped sizes would
    // yield a hybrid ratio that misses even exact duplicates whose shared
    // shingles are mostly hot — with a cap, the similarity is Jaccard over
    // the capped space, consistently
    val sizes = capped.groupBy("_id").agg(count(lit(1)).as("_n"))
    val shared = capped.as("a")
      .join(capped.as("b"), col("a._k") === col("b._k") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id1"), col("b._id").as("id2"))
      .agg(count(lit(1)).as("_shared"))
    shared
      .join(sizes.select(col("_id").as("id1"), col("_n").as("_n1")), "id1")
      .join(sizes.select(col("_id").as("id2"), col("_n").as("_n2")), "id2")
      // threshold on the RAW ratio (rounding first would admit pairs just
      // under the threshold that round up — and diverge from the oracle,
      // which also filters raw); the rounded value is display-only
      .withColumn("_j", col("_shared").cast("double") /
        (col("_n1") + col("_n2") - col("_shared")))
      .where(col("_j") >= threshold)
      .withColumn("jaccard", round(col("_j"), 4))
      .select("id1", "id2", "jaccard")
  }

  /** Representative selection — the step that turns pairwise near-dup
    * DETECTION into an actual deduplicated corpus: connected components
    * over the (undirected) pair graph, keep the minimum id per cluster,
    * drop the rest. Pairs can come from any of the detectors above
    * (transitivity is deliberate: if A~B and B~C, one representative
    * survives for {A,B,C} even when A~C is below threshold — the standard
    * near-dup clustering semantics). Components come from the
    * alternating-star DataFrame algorithm
    * (GraphAnalytics.connectedComponentsDF) so the WHOLE dedup pipeline is
    * Catalyst end-to-end — no RDD conversion, no GraphX fixed overhead —
    * and labels every vertex with its component's minimum vertex id, so
    * the kept id per cluster IS the label; docs in no pair survive
    * untouched via the anti-join. (AnalyticsSpec proves DF CC == GraphX
    * CC.)
    */
  def keepRepresentatives(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val cc = graft.analytics.GraphAnalytics.connectedComponentsDF(
      pairs.select(col("id1").as("src"), col("id2").as("dst")))
    val dupes = cc.where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(dupes, Seq(idCol), "left_anti")
  }

  /** Banded LSH bucket hashes, fused with the signature in one native pass
    * (graft.functions.MinHashBands) — band hashes bit-identical to the
    * previous transform/slice/concat_ws composition.
    */
  private[pipeline] def minhashBands(sh: Column, numHashes: Int, bands: Int): Column =
    graft.functions.MinHashBands(sh, numHashes, bands)

  /** MinHash+LSH near-dup pairs, exact-Jaccard-verified at `threshold`.
    * Probabilistic candidate recall tuned by (numHashes, bands): with
    * b=16 bands of r=4 rows the S-curve midpoint is (1/16)^(1/4) ≈ 0.5 —
    * ≈89% recall at J=0.6 and ≈100% at J≥0.8, with candidate volume that
    * stays near-linear (32 bands of r=2 would admit ~s² of ALL pairs as
    * candidates — quadratic blowup on weakly-similar corpora).
    * Every emitted pair is exactly verified, so precision is 1.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    // r19: spread before the shingle pass — see ngramJaccardPairs
    val dfP = graft.Tables.spread(df)
    // materialized once — referenced by banding, the inverted index, and
    // the size lookups (see ngramJaccardPairs, incl. why this is a
    // localCheckpoint and not a CacheManager-leaking persist). The trade:
    // checkpoint truncates lineage, so an executor loss re-runs the job
    // instead of recomputing the lost partitions — acceptable for a
    // bounded-size intermediate; the alternative leaks storage memory on
    // every call
    val sh = dfP.select(col(idCol).as("_id"),
      TextAnalysis.shingles(col(textCol), n).as("_sh"))
      .where(size(col("_sh")) > 0)
      .localCheckpoint(true)
    // bucket = (band position, band hash); pairs within a bucket
    val withBand = sh
      .select(col("_id"), posexplode(minhashBands(col("_sh"), numHashes, bands)))
      .select(col("_id"), struct(col("pos"), col("col").as("h")).as("_b"))
    // lazily checkpointed: the candidate set now has three consumers (the
    // id-restriction below reads it twice, the verify join once) — the
    // banding self-join must run once, not per consumer
    val cand = withBand.as("a")
      .join(withBand.as("b"),
        col("a._b") === col("b._b") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id1"), col("b._id").as("id2")).distinct()
      .localCheckpoint(false)
    // exact verify via co-occurrence counts on the candidate set only.
    // The inverted index is first SEMI-JOINED down to docs that appear in
    // some candidate pair: without this, the (id2, _k) join shuffled the
    // FULL corpus-sized index even though only candidate docs can match —
    // at 100× that full-index exchange was the dominant cost of the whole
    // pairs pipeline (21.5 s of 21.5 s profiled); candIds is
    // candidate-bounded (≤ 2·|cand| rows), so AQE broadcasts it and the
    // restriction costs no shuffle at all
    val candIds = cand.select(col("id1").as("_id"))
      .union(cand.select(col("id2").as("_id"))).distinct()
    val inv = sh.select(col("_id"), explode(col("_sh")).as("_k"))
      .join(candIds, Seq("_id"), "left_semi")
    val sizes = sh.select(col("_id"), size(col("_sh")).cast("long").as("_n"))
    val shared = inv.select(col("_id").as("id1"), col("_k"))
      .join(cand, "id1")
      .join(inv.select(col("_id").as("id2"), col("_k")), Seq("id2", "_k"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("_shared"))
    shared
      .join(sizes.select(col("_id").as("id1"), col("_n").as("_n1")), "id1")
      .join(sizes.select(col("_id").as("id2"), col("_n").as("_n2")), "id2")
      .withColumn("_j", col("_shared").cast("double") /
        (col("_n1") + col("_n2") - col("_shared")))
      .where(col("_j") >= threshold)
      .withColumn("jaccard", round(col("_j"), 4))
      .select("id1", "id2", "jaccard")
  }

  /** SimHash near-dup pairs within `maxHamming` bits. Banding the 64-bit
    * hash into maxHamming+1 chunks guarantees every qualifying pair shares
    * a chunk (pigeonhole) — candidate generation stays an equi-join.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val bits = 64 / chunks
    val sim = df.select(col(idCol).as("_id"),
      graft.functions.SimHash64(TextAnalysis.tokens(col(textCol))).as("_h"))
    val banded = sim.withColumn("_c", explode(array(
      (0 until chunks).map(c => struct(lit(c).as("pos"),
        shiftrightunsigned(col("_h"), c * bits)
          .bitwiseAND(lit((1L << bits) - 1)).as("v"))): _*)))
    banded.as("a")
      .join(banded.as("b"), col("a._c") === col("b._c") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id1"), col("b._id").as("id2"),
        col("a._h").as("_h1"), col("b._h").as("_h2"))
      .distinct()
      .withColumn("hamming", bit_count(col("_h1").bitwiseXOR(col("_h2"))))
      .where(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

}
