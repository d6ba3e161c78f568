package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative analytics over graft graph state — the side that one
  * Catalyst plan can't express (SURVEY §4.2): BFS depths, connected
  * components, PageRank, triangle counting. The reference's only
  * iterative computation is its BFS serialize/stats walk
  * (/root/reference/library/GraphDB/Graph.hs:82-118,145-195); everything
  * else here is capability the reference lacks but a graph analytics user
  * expects.
  *
  * Every algorithm is plain DataFrame dataflow: each superstep is a join
  * plus a group-by (the Pregelix posture), so a 1000-executor run behaves
  * like any iterative shuffle workload, with no RDD conversion. GraphX's
  * built-ins are the specs' oracle (`GraphXOracle` in the tests), not a
  * production path.
  */
object GraphAnalytics {

  /** BFS depths via a DataFrame frontier loop — the fast route for graphs
    * of KNOWN small diameter (this schema's geo graph is depth ≤ 3).
    * GraphX Pregel carries a ~3-5 s fixed overhead (RDD conversion +
    * per-superstep vertex/edge joins) regardless of input size; the
    * frontier loop is the same dataflow as graft.graph.Reachability — a
    * broadcast semi-join per level while the frontier is small, shuffle
    * when it is not — and costs only what the levels cost. Semantically
    * exact when the true eccentricity of `root` is ≤ `maxDepth`; the loop
    * stops early on an empty frontier, and `maxDepth` is the safety bound
    * for callers who misjudge the diameter.
    */
  def bfsDepthsBounded(edges: DataFrame, root: Long, maxDepth: Int = 16): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    var visited = Seq((root, 0L)).toDF("id", "depth").localCheckpoint(true)
    var frontier = visited.select("id")
    var depth = 0L
    var frontierSize = 1L
    while (frontierSize > 0 && depth < maxDepth) {
      depth += 1
      val fr = if (frontierSize <= 5_000_000L) broadcast(frontier) else frontier
      val next = edges
        .join(fr, edges("src") === fr("id"), "left_semi")
        .select(col("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .localCheckpoint(true)
      frontierSize = next.count()
      if (frontierSize > 0) {
        // r19: no per-level eager checkpoint of the union — `visited` is
        // only ever a union of ≤ maxDepth ALREADY-checkpointed frontiers
        // (each `next` above is materialized for its count anyway), so
        // its lineage stays flat without paying one extra eager job per
        // level; rows identical
        visited = visited
          .unionByName(next.withColumn("depth", lit(depth)))
        frontier = next
      }
    }
    visited
  }

  /** Undirected connected components as a pure DataFrame loop — the
    * alternating large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). Output:
    * DataFrame(id, component) with component = min vertex id of the
    * component, every endpoint labeled — GraphX's contract
    * (AnalyticsSpec cross-checks DF == GraphX on chains, cliques, stars
    * and random graphs).
    *
    * Why DataFrames and not GraphX: a dedup pipeline's pair graph is an
    * induced subgraph of a larger Catalyst plan — staying in DataFrames
    * avoids the RDD conversion + GraphX fixed superstep overhead
    * (~3-5 s on this box), keeps one lineage for the whole pipeline, and
    * converges in O(log n) rounds regardless of component diameter
    * (plain min-label propagation needs O(diameter)). Each round is two
    * groupBy-join steps over the current edge set — shuffle-bound,
    * skew-tolerant (a hub's neighborhood is one group with map-side
    * partial min), no driver state beyond the convergence fingerprint.
    */
  /** Edge-count ceiling for [[connectedComponentsDF]]'s driver fast
    * path: at or below it the (already materialized, distinct) pair set
    * is union-found ON THE DRIVER — ≤ ~16 MB of (long, long) rows, the
    * same bounded-collect class as the IVF centroid matrix and the
    * incremental-dedup bloom bitmap — because the alternating-star loop
    * costs a scheduler-floor-bound JOB PER ROUND regardless of input
    * size (measured r18, sf0.1 px18: 3.05 s of CC rounds for a
    * 256-edge pair graph, ~0 s union-find). Above the ceiling the
    * distributed loop runs exactly as before — the 100 TB posture is
    * unchanged (a 100× corpus measured 113M near-dup pairs, r14), and
    * the gate is the edge COUNT the convergence fingerprint computes
    * anyway, so the fast path costs zero extra jobs.
    */
  val DriverCCMaxEdges: Long = 1L << 20

  def connectedComponentsDF(edges: DataFrame, maxIter: Int = 64,
      driverMaxEdges: Long = DriverCCMaxEdges): DataFrame = {
    // ONE scan of the (possibly expensive) upstream edge plan: canonical
    // pairs are lazily checkpointed — the first fingerprint action
    // materializes them — and vertices derive from the cached pairs
    // (BEFORE the self-loop filter, so a self-loop-only vertex still gets
    // its own component, like GraphX's fromEdges endpoints)
    val raw = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .distinct().localCheckpoint(false)
    val verts = raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id"))).distinct()
    def undirect(e: DataFrame): DataFrame =
      e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    // m(u) = min(Γ(u) ∪ {u}) over the current edge set
    def minNbr(all: DataFrame): DataFrame =
      all.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    // large-star(u): every strictly LARGER neighbor links to m(u)
    def largeStar(e: DataFrame): DataFrame = {
      val all = undirect(e)
      all.join(minNbr(all), "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
    }
    // small-star(u): every ≤ neighbor AND u itself link to m(u)
    def smallStar(e: DataFrame): DataFrame = {
      val all = undirect(e)
      val m = minNbr(all)
      all.join(m, "u").where(col("v") < col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(m.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
    }
    def fingerprint(e: DataFrame): (Long, Long, Long) = {
      // bit_xor, not sum: order-independent AND overflow-free under ANSI
      // (hash values are uniform longs — a sum overflows immediately).
      // TWO independent 64-bit xors (different seed mixes) in the SAME
      // agg: a silent-early-exit set collision now needs both to collide
      // (~2^-128/round) at zero extra jobs — strictly cheaper than the
      // one-off exact exceptAll confirmation it replaces, which cost one
      // whole extra Spark job at the fixed point
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))"),
        expr("bit_xor(xxhash64(v, u, 87))")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var e = raw.where(col("u") =!= col("v"))
    var fp = fingerprint(e)
    if (fp._1 <= driverMaxEdges) {
      // driver union-find over the cached pair set (`raw` is
      // checkpoint-cached, so the collect re-reads cached blocks, not the
      // upstream pair plan). ONE collect of `raw` yields both the edges
      // and the vertex set: its rows are the fingerprint's edge count
      // plus at most one self-loop per vertex. Same output contract:
      // every endpoint labeled with its component's MIN vertex id —
      // identical rows to the loop below (AnalyticsSpec pins driver ==
      // loop == GraphX on the same graphs).
      val spark = edges.sparkSession
      import spark.implicits._
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val next = parent.get(c); parent.put(c, r); c = next
        }
        r
      }
      val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
      raw.collect().foreach { row =>
        val (u, v) = (row.getLong(0), row.getLong(1))
        ids += u += v
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
      }
      val minOfRoot = new java.util.HashMap[Long, Long]()
      ids.foreach { id =>
        val r = find(id)
        minOfRoot.merge(r, id, (a, b) => math.min(a, b))
      }
      return ids.toSeq.map(id => (id, minOfRoot.get(find(id)).longValue()))
        .toDF("id", "component")
    }
    var it = 0
    var converged = fp._1 == 0L // edgeless graph: nothing to iterate
    while (!converged && it < maxIter) {
      // LAZY checkpoints: each round runs exactly ONE Spark job — the
      // fingerprint agg — which materializes the large-star and small-star
      // sets as cache-backed lineage cuts on the way (an eager checkpoint
      // per stage was 3 jobs/round; at ~0.3-0.8 s scheduler floor per job
      // on small inputs that tripled wall time for nothing)
      val next = smallStar(largeStar(e).localCheckpoint(false))
        .localCheckpoint(false)
      val nfp = fingerprint(next)
      // set-equality check via (count, xor, xor') fingerprint: cheap (one
      // agg per round) and cross-checked by the GraphX-equality spec; at
      // the fixed point smallStar∘largeStar is the identity on the star
      // edge set, which then maps every vertex to its component min.
      // Two independent 64-bit xors make a silent early exit require a
      // simultaneous double collision (~2^-128/round) — the failure mode
      // ADVICE r6 flagged, closed without the extra exact-check job.
      converged = nfp == fp
      fp = nfp
      e = next
      it += 1
    }
    require(converged, s"connectedComponentsDF did not converge in $maxIter rounds")
    verts.join(e, verts("id") === e("u"), "left_outer")
      .select(col("id"), coalesce(col("v"), col("id")).as("component"))
  }

  /** Fixed-iteration PageRank as a pure DataFrame power method —
    * deterministic by construction (a fixed N of identical IEEE-double
    * steps), which is what makes it ORACLE-REPLICABLE: the same N
    * iterations expressed as chained CTEs in any SQL engine produce
    * bit-compatible ranks (AnalyticsQueries ga3 does exactly that in
    * DuckDB). Per-iteration semantics mirror GraphX's `staticPageRank`:
    * rank₀(v) = 1.0; rankᵢ₊₁(v) = resetProb + damping · Σ_{u→v}
    * rankᵢ(u)/outdeg(u); dangling mass is not redistributed; multi-edges
    * contribute once per edge. The one deliberate difference: GraphX
    * rescales final ranks to sum to N (SPARK-18847) — a global float
    * reduction whose summation order no SQL oracle can replicate
    * bit-stably — so this returns the raw power-method ranks
    * (AnalyticsSpec cross-checks DF == GraphX modulo that rescale).
    *
    * Scale shape: each iteration is one equi-join (edges ⋈ ranks on src,
    * both pre-partitioned by the same key) + one map-side-combined
    * groupBy(dst) — the canonical iterative-shuffle workload; no driver
    * state beyond the loop counter. Edges, vertices, and out-degrees are
    * checkpointed ONCE and re-read by every iteration. For small `iters`
    * the loop stays one lazy Catalyst plan (a single job); for long runs
    * pass `ckptEvery` to truncate lineage every k iterations, else plan
    * depth grows linearly with N.
    */
  def pageRankFixed(edges: DataFrame, iters: Int, resetProb: Double = 0.15,
      damping: Double = 0.85, ckptEvery: Int = 0,
      danglingRedistribute: Boolean = false): DataFrame = {
    // LAZY checkpoints: shared inputs are still computed once and cached
    // (every iteration re-reads them), but no job runs until the caller's
    // single action — three eager checkpoints here cost three scheduler
    // floors before the query even started
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint(false) // referenced by every iteration + the degree agg
    val verts = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(false)
    val withDeg = e.join(e.groupBy("src").agg(count(lit(1)).as("_deg")), "src")
      .localCheckpoint(false)
    // dangling handling is opt-in: the default mirrors GraphX's
    // staticPageRank (mass at out-degree-0 vertices evaporates), keeping
    // ga3's oracle arithmetic bit-identical. With redistribution ON, each
    // iteration adds the dangling mass / |V| to every vertex's damped sum
    // — the variant ranking users usually want (total mass conserved).
    // The per-iteration mass is a 1-row aggregate cross-joined in-plan
    // (broadcast), so the loop still runs as ONE lazy Catalyst plan.
    lazy val srcs = e.select(col("src").as("id")).distinct()
      .localCheckpoint(false)
    val nVerts = if (danglingRedistribute) verts.count().toDouble else 0d
    var ranks = verts.select(col("id"), lit(1.0).as("rank"))
    for (i <- 1 to iters) {
      // r19 (default branch): vertices with no in-edges used to be
      // re-attached through a per-iteration LEFT OUTER join against
      // `verts` (8 extra joins in ga3's plan — pure plan depth and
      // scheduler floor at small scale, an extra shuffle per step at
      // large). Instead every vertex contributes one literal 0.0 into
      // the SAME per-dst sum, so the aggregation itself re-emits all
      // vertices. Bit-identical: contributions are strictly positive
      // (rank ≥ resetProb > 0, _deg ≥ 1), and s + 0.0 == s bitwise for
      // every non-(-0.0) partial regardless of where the 0.0 lands in
      // the partial-aggregation order; a no-contribution vertex sums to
      // 0.0 exactly as coalesce(NULL, 0) did. AnalyticsSpec pins DF ==
      // GraphX on every test graph either way.
      if (!danglingRedistribute) {
        ranks = withDeg.join(ranks, withDeg("src") === ranks("id"))
          .select(col("dst"), (col("rank") / col("_deg")).as("_c"))
          .unionByName(verts.select(col("id").as("dst"), lit(0d).as("_c")))
          .groupBy("dst").agg(sum("_c").as("_s"))
          .select(col("dst").as("id"),
            (lit(resetProb) + lit(damping) * col("_s")).as("rank"))
      } else {
        val contrib = withDeg.join(ranks, withDeg("src") === ranks("id"))
          .select(col("dst"), (col("rank") / col("_deg")).as("_c"))
          .groupBy("dst").agg(sum("_c").as("_s"))
        val base = verts.join(contrib, verts("id") === contrib("dst"), "left_outer")
        ranks = {
          val dm = ranks.join(srcs, Seq("id"), "left_anti")
            .agg(coalesce(sum("rank"), lit(0d)).as("_dm"))
          base.crossJoin(dm).select(verts("id"),
            (lit(resetProb) + lit(damping) *
              (coalesce(col("_s"), lit(0d)) + col("_dm") / lit(nVerts)))
              .as("rank"))
        }
      }
      if (ckptEvery > 0 && i % ckptEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Triangle count as a pure Catalyst plan — DEGREE-ORIENTED wedge
    * counting (Chiba–Nishizeki / Schank–Wagner "forward" algorithm as a
    * join): canonicalize edges to a simple undirected set, then orient
    * every edge from its lower to its higher endpoint under the total
    * order (degree, id). Each triangle then has exactly ONE vertex with
    * out-edges to the other two, so counting (wedge at a) ⋈ (closing
    * oriented edge) counts each triangle exactly once — no /3, and EXACT
    * (same answer as GraphX's triangleCount; AnalyticsSpec cross-checks).
    *
    * Why orientation and not the naive u<v wedge join: wedge rows are
    * Σ outdeg², and orienting by degree bounds every out-degree by
    * O(√m), so the wedge join materializes O(m^1.5) rows instead of
    * Σ deg² — on a power-law graph the difference between a plan that
    * survives 100× and one whose hottest hub alone generates 10^12
    * wedges. The 30× scale rehearsal is the receipt: the naive form was
    * the suite's only super-linear query (11.6× at 30×).
    *
    * Preferable to GraphX when the graph is an induced subgraph of a
    * larger query (stays one Catalyst plan, no RDD conversion, joins
    * broadcast/reorder under AQE). The `maxDegree` hub cap remains as an
    * explicitly-approximate ceiling for adversarial skew, but exactness
    * no longer needs it.
    */
  def triangleCountDF(edges: DataFrame, maxDegree: Option[Int] = None): Long = {
    val e0 = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    // LAZY checkpoints (connectedComponentsDF pattern): the final count()
    // is the plan's ONLY job and materializes both cuts on the way — the
    // eager form cost 2 extra scheduler floors (~0.3-0.8 s each) at small
    // scale for identical lineage truncation
    val canonical = maxDegree.fold(e0)(cap => dropHubs(e0, cap))
      .localCheckpoint(false) // referenced by the degree agg + orientation
    // simple-graph degrees (map-side partial agg; a hub is one group)
    val deg = canonical.select(col("u").as("id"))
      .unionAll(canonical.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    // orient low → high under (degree, id) — a total order, since ids are
    // unique. The head's order key rides along as TWO flat long columns
    // (bd, b) rather than a struct: struct LessThan drops the comparison
    // out of simple codegen into a generated comparator call per row, and
    // this predicate runs once per O(m^1.5) wedge candidate
    val lowFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = canonical
      .join(deg.select(col("id").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("d").as("dv")), "v")
      .select(
        when(lowFirst, col("u")).otherwise(col("v")).as("a"),
        when(lowFirst, col("v")).otherwise(col("u")).as("b"),
        when(lowFirst, col("dv")).otherwise(col("du")).as("bd"))
      .localCheckpoint(false) // referenced 3× by the wedge joins
    // wedge (a→b1, a→b2) with (db1,b1) < (db2,b2) closes iff b1→b2 exists
    // (the closing edge is oriented that way BY construction of the order)
    oriented.as("e1")
      .join(oriented.as("e2"),
        col("e2.a") === col("e1.a") &&
          (col("e1.bd") < col("e2.bd") ||
            (col("e1.bd") === col("e2.bd") && col("e1.b") < col("e2.b"))))
      .join(oriented.as("e3"),
        col("e3.a") === col("e1.b") && col("e3.b") === col("e2.b"))
      .count()
  }

  /** DOULION edge sparsification (Tsourakakis et al., KDD '09): keep each
    * canonical edge independently with probability 1/keepMod, here as the
    * DETERMINISTIC Bernoulli trial xxhash64(u, v, seed) ≡ 0 (mod keepMod)
    * — a pure map-side filter over the canonicalized edge set, and
    * replayable by an oracle from the exported sample (no engine RNG).
    * Returns canonical `(u, v)` with u < v. Triangles counted on the
    * sample scale by keepMod³ ([[triangleCountApprox]]).
    */
  def sampleCanonical(edges: DataFrame, keepMod: Int, seed: Long): DataFrame = {
    require(keepMod >= 1, s"keepMod must be >= 1, got $keepMod")
    edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .where(pmod(xxhash64(col("u"), col("v"), lit(seed)),
        lit(keepMod.toLong)) === 0L)
  }

  /** Approximate triangle count via DOULION: sparsify with
    * [[sampleCanonical]], count EXACTLY on the sample (the same
    * degree-oriented wedge join as [[triangleCountDF]]), scale by
    * keepMod³. This is what makes full-graph triangle counting 100×-safe
    * on a densifying graph: exact counting is inherently O(m^1.5), but
    * the sample's m is m/keepMod, so the wedge join shrinks by
    * keepMod^1.5 while the estimator stays unbiased
    * (E[t_sample·keepMod³] = t). Relative error falls as the true count
    * grows (σ/t ≈ √(keepMod³/t) plus a shared-edge covariance term), so
    * the estimator gets TIGHTER exactly where the exact plan gets
    * expensive — the right asymmetry for scale. Unlike [[dropHubs]] this
    * is unbiased: hub triangles are sampled, not excluded.
    */
  def triangleCountApprox(edges: DataFrame, keepMod: Int, seed: Long): Long = {
    val samp = sampleCanonical(edges, keepMod, seed)
      .select(col("u").as("src"), col("v").as("dst"))
    triangleCountDF(samp) * keepMod.toLong * keepMod * keepMod
  }

  /** Drop every edge incident to a vertex of degree > `cap` from a
    * canonicalized (u < v, distinct) edge set — the standard
    * approximate-triangle trick that makes the wedge join 100×-safe
    * unconditionally: afterwards every vertex has degree ≤ cap, so wedge
    * rows are bounded by |V|·cap²/2 (linear in vertices for fixed cap)
    * instead of Σ deg² (quadratic in the hottest hub). The trade is
    * explicit and caller-chosen: triangles THROUGH a dropped hub are not
    * counted — on power-law graphs hub triangles are dominated by
    * wedge-noise anyway, and the exact variant stays the default.
    */
  private[analytics] def dropHubs(canonical: DataFrame, cap: Int): DataFrame = {
    val deg = canonical.select(col("u").as("id"))
      .unionAll(canonical.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("_deg")) // map-side partial agg
      .where(col("_deg") > cap)
      .select("id")
    // hub set has ≤ 2|E|/cap vertices — broadcast-sized in the common case,
    // and a plain shuffled anti-join (still skew-free) when it is not
    canonical
      .join(deg.withColumnRenamed("id", "u"), Seq("u"), "left_anti")
      .join(deg.withColumnRenamed("id", "v"), Seq("v"), "left_anti")
      .select("u", "v")
  }
}
