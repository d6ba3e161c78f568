package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.graph.TestSpark

/** Cross-checks for the hash-based pipeline operators that have no SQL
  * oracle: MinHash vs exact Jaccard, SimHash radius guarantees, LSH vs
  * brute-force similarity, fingerprint determinism, multimodal plumbing.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.Tables.load(spark, sf, "documents")
  private def embs = graft.Tables.load(spark, sf, "embeddings")

  test("exact dedup keeps min id per duplicated key") {
    import spark.implicits._
    val df = Seq((3L, "x"), (1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val out = Dedup.exact(df, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 2L))
  }

  test("minhash-LSH pairs equal exact n-gram Jaccard pairs (full recall here)") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
      .select("id1", "id2", "jaccard").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mh = Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.6, 64, 16)
      .select("id1", "id2", "jaccard").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mh.subsetOf(exact), "minhash must never emit a non-qualifying pair (exact verify)")
    assert(mh === exact, s"recall loss: ${exact.size - mh.size} of ${exact.size} pairs missed")
  }

  test("maxDF cap yields consistent capped-Jaccard: exact dups still found") {
    import spark.implicits._
    // two identical docs whose shingles are ALL document-frequency-hot
    // (shared with many other docs): with inconsistent (uncapped) sizes the
    // identical pair would score far below 1.0 and vanish
    val hot = "alpha beta gamma delta epsilon zeta"
    val docs = (1L to 8L).map(i => (i, hot)).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.99, maxDF = Some(4))
      .collect()
    // every shingle exceeds the cap of 4 (8 identical docs), so the capped
    // space is empty → no candidates, but ALSO no sizes to divide by —
    // must yield an empty result, not a crash or spurious pairs
    assert(pairs.isEmpty)
    val mixed = ((1L to 2L).map(i => (i, "unique one " + hot + " tail " + i)) ++
      Seq((3L, hot))).toDF("doc_id", "text")
    // docs 1,2 share low-DF shingles; capped-Jaccard over the surviving
    // space must still be computed consistently (no hybrid ratio)
    val p2 = Dedup.ngramJaccardPairs(mixed, "doc_id", "text",
      n = 3, threshold = 0.1, maxDF = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2.contains((1L, 2L)))
  }

  test("representative selection: one survivor per near-dup cluster (transitive)") {
    import spark.implicits._
    val doc = Seq(1L, 2L, 3L, 4L, 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // A~B and B~C but NOT A~C: transitivity must still collapse {1,2,3}
    // to one representative; 4 and 5 are untouched singletons
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val kept = Dedup.keepRepresentatives(doc, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 4L, 5L))
    // empty pair set: corpus unchanged
    val none = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.keepRepresentatives(doc, "doc_id", none).count() === 5L)
  }

  test("dedup operators leave no session-lifetime cache entries") {
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6).count()
    Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.6, 64, 16).count()
    // the shingle materialization must be plan-owned (localCheckpoint),
    // not a CacheManager persist() nobody is positioned to release —
    // otherwise every invocation leaks MEMORY_AND_DISK storage for the
    // session's lifetime
    assert(spark.sharedState.cacheManager.isEmpty,
      "pipeline operators must not register unreleased cache entries")
  }

  test("simhash pairs respect the hamming radius and are found via banding") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).collect()
    assert(pairs.forall(_.getAs[Number]("hamming").longValue <= 3))
    assert(pairs.nonEmpty, "corpus has near-dups; simhash should find some")
  }

  test("fingerprints are deterministic and equal for identical texts") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d X"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(fp(0).getLong(1) === fp(1).getLong(1)) // fp_min equal for dup
    assert(fp(0).getLong(2) === fp(1).getLong(2)) // fp_max equal for dup
    assert((fp(0).getLong(1) != fp(2).getLong(1)) ||
      (fp(0).getLong(2) != fp(2).getLong(2)))
    val fp2 = TextAnalysis.fingerprint(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(fp.map(_.toSeq).toSeq === fp2.map(_.toSeq).toSeq)
  }

  test("LSH top-k returns true neighbors with correctly ordered ranks") {
    // k covers the whole corpus → bf holds the exact sim for EVERY pair
    val bf = Similarity.bruteForceTopK(
      embs.select(col("vec_id"), col("embedding")),
      embs.where(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val lsh = Similarity.lshTopK(
      embs.select(col("vec_id"), col("embedding")),
      embs.where(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", k = 5, dim = 64)
      .collect()
    assert(lsh.nonEmpty)
    // every LSH hit's sim must equal the brute-force sim for that pair
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bf.contains(key) && math.abs(bf(key) - r.getDouble(3)) < 1e-9,
        s"pair $key sim mismatch vs brute force")
    }
    // ranks strictly ordered by sim desc within each query
    lsh.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(2))
      assert(sorted.map(_.getDouble(3)).toSeq ===
        sorted.map(_.getDouble(3)).sortBy(-(_: Double)).toSeq)
    }
  }

  test("IVF top-k: exact sims within probed cells, decent recall vs brute force") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val bfTop5 = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(math.abs(bf(key) - r.getDouble(3)) < 1e-9, s"sim mismatch for $key")
    }
    val hits = ivf.map(r => (r.getLong(0), r.getLong(1))).count(bfTop5.contains)
    // nprobe=4/nlist=16 probes 25% of cells; on near-random vectors recall
    // tracks coverage — just require it's clearly above a broken index
    assert(hits >= bfTop5.size / 5, s"recall@5 too low: $hits/${bfTop5.size}")
  }

  test("two-level IVF: exact sims in probed cells, recall, distributed l2, determinism") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val bfTop5 = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tl = Similarity.twoLevelTopK(corpus, queries, "vec_id", "embedding",
      k = 5, nlist1 = 4, k2 = 4, p1 = 2, nprobe = 4).collect()
    assert(tl.nonEmpty)
    // every served sim is the exact cosine (the rerank is exact; only
    // the candidate scope is approximate)
    tl.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(math.abs(bf(key) - r.getDouble(3)) < 1e-9, s"sim mismatch for $key")
    }
    // same coverage contract as the flat px13 spec: 16 cells, 2×4
    // subcells probed — clearly above a broken index
    val hits = tl.map(r => (r.getLong(0), r.getLong(1))).count(bfTop5.contains)
    assert(hits >= bfTop5.size / 5, s"recall@5 too low: $hits/${bfTop5.size}")
    // the level-2 centroid table is DISTRIBUTED state: a DataFrame whose
    // plan contains no driver-collected centroid literal (the flat
    // trainer's nlist×dim matrix) — the point of the two-level design
    val m = Similarity.twoLevelCentroids(corpus, "vec_id", "embedding",
      nlist1 = 4, k2 = 4)
    assert(m.l1.length === 4)
    val l2rows = m.l2.collect()
    assert(l2rows.length > 4 && l2rows.length <= 16,
      s"expected (4, 16] sub-centroids, got ${l2rows.length}")
    // every sub-centroid is dim-64 and belongs to a valid level-1 cell
    l2rows.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) < 4)
      assert(r.getInt(1) >= 0 && r.getInt(1) < 4)
      assert(r.getSeq[Float](2).length === 64)
    }
    // the full build is deterministic: a second train + assignment run
    // produces identical compound cells (what the px60 oracle relies on)
    def cellsOf(): Seq[(Long, Int, Int)] = {
      val (cells, _) = Similarity.twoLevelModelFor(corpus, queries,
        "vec_id", "embedding", nlist1 = 4, k2 = 4, p1 = 2, nprobe = 4)
      cells.select(col("nbr"), col("_c1"), col("_c2")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1).toSeq
    }
    val c1 = cellsOf()
    assert(c1 === cellsOf())
    assert(c1.map(_._1).toSet === corpus.collect().map(_.getLong(0)).toSet)
  }

  test("semantic prune append: survivors-only compare, batch min-id, replay parity") {
    import spark.implicits._
    // constructed single-cell case (nlist=1) pinning the three rules:
    //   base: b1 kept, b2 near-dup of b1 -> pruned
    //   batch: w1 near ONLY b2 (the pruned one) -> KEPT (incremental
    //          semantics: new relative to the kept corpus)
    //          w2 near b1 (kept)              -> pruned
    //          w3, w4 mutual near-dups        -> w3 kept, w4 pruned
    //          w5 near nothing                -> kept
    // dim-4 unit vectors in a plane: the angle controls cosine; at
    // threshold 0.9, pi/8 apart (cos ~0.924) is "near", pi/4 (0.707) is
    // not. b1=0, b2=pi/8 (near b1, pruned); w1=pi/4 (near b2 only);
    // w2=-pi/8 (near b1); w3=pi/2, w4=pi/2+pi/8 (mutual); w5=pi (alone)
    def ang(a: Double) = Array(math.cos(a).toFloat, math.sin(a).toFloat, 0f, 0f)
    val base = Seq((1L, ang(0)), (2L, ang(Math.PI / 8)))
      .toDF("vec_id", "embedding")
    val batch = Seq(
      (11L, ang(Math.PI / 4)), (12L, ang(-Math.PI / 8)),
      (13L, ang(Math.PI / 2)), (14L, ang(Math.PI / 2 + Math.PI / 8)),
      (15L, ang(Math.PI))).toDF("vec_id", "embedding")
    val got = Similarity.semanticPruneAppend(base, batch,
      "vec_id", "embedding", nlist = 1, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(got === Map(11L -> false, 12L -> true, 13L -> false,
      14L -> true, 15L -> false))
    // real-corpus replay parity: verdicts == an independent quadratic
    // recomputation from the shared cell assignments
    val e = embs.select(col("vec_id"), col("embedding"))
    val b0 = e.where(col("vec_id") % 2 === 0)
    val b1 = e.where(col("vec_id") % 2 === 1)
    val t = 0.3
    val verdicts = Similarity.semanticPruneAppend(b0, b1,
      "vec_id", "embedding", threshold = t)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(verdicts.keySet ===
      b1.select("vec_id").collect().map(_.getLong(0)).toSet)
    val (cb, cn) = Similarity.semanticAppendCells(b0, b1,
      "vec_id", "embedding")
    def pairsOver(l: org.apache.spark.sql.DataFrame,
        r: org.apache.spark.sql.DataFrame, ltId: Boolean) = {
      val cond0 = col("a._cell") === col("b._cell")
      val cond = if (ltId) cond0 && col("a._id") < col("b._id") else cond0
      l.as("a").join(r.as("b"), cond)
        .where(round(Similarity.cosine(col("a._v"), col("b._v")), 6) >= t)
        .select(col("b._id")).collect().map(_.getLong(0)).toSet
    }
    val basePruned = pairsOver(cb, cb, ltId = true)
    val kept = cb.collect().map(_.getLong(0)).toSet -- basePruned
    val keptCells = cb.where(col("_id").isin(kept.toSeq: _*))
    val expectPruned = pairsOver(keptCells, cn, ltId = false) ++
      pairsOver(cn, cn, ltId = true)
    verdicts.foreach { case (id, p) =>
      assert(p === expectPruned.contains(id), s"batch vec $id verdict")
    }
    assert(verdicts.values.exists(identity) &&
      verdicts.values.exists(!_), "both classes present at this threshold")
  }

  test("IVF multi-iteration Lloyd is deterministic and serves the same contract") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
    def assignments(): Seq[(Long, Int)] = {
      val (cells, _) = Similarity.ivfModel(corpus, queries,
        "vec_id", "embedding", nlist = 8, nprobe = 2, iters = 3)
      cells.select(col("nbr"), col("_cell")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    }
    // decimal accumulation ⇒ partition-order-independent: two runs agree
    // exactly even after 3 refinement passes
    assert(assignments() === assignments())
    // and the search contract holds with refined centroids: exact sims
    // inside probed cells (spot-check against brute force)
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding",
      k = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val (cells3, probes3) = Similarity.ivfModel(corpus, queries,
      "vec_id", "embedding", nlist = 8, nprobe = 2, iters = 3)
    val ivf = cells3.join(probes3, Seq("_cell"))
      .where(col("qid") =!= col("nbr"))
      .withColumn("sim", round(Similarity.cosine(col("qv"), col("cv")), 6))
      .select("qid", "nbr", "sim").collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      assert(math.abs(bf((r.getLong(0), r.getLong(1))) - r.getDouble(2)) < 1e-9)
    }
  }

  test("semantic decontamination: exact dup flags 1.0, orthogonal stays low") {
    val s = spark
    import s.implicits._
    // corpus vec 100 IS bench vec 1 (paraphrase-free worst case); corpus
    // 101 is orthogonal to both bench vectors
    val bench = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),
      (101L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Decontaminate.semanticOverlap(corpus, bench,
      "vec_id", "embedding", threshold = 0.9)
      .orderBy("vec_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(100L, 101L))
    assert(out(0).getDouble(1) === 1.0 && out(0).getBoolean(2))
    assert(out(1).getDouble(1) === 0.0 && !out(1).getBoolean(2))
  }

  test("IVF persisted index: save→load→search == refit search, pruned scan") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    try {
      // the flat IVF index (px53): one sub-cell per level-1 cell
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 16, k2 = 1, iters = 1, pqM = 0)
      // the save publishes the cells dir as manifest generation 1
      assert(Similarity.cellsSubdir(spark, dir) === "manifest:_manifest_g1")
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      // the level-1 matrix IS the flat centroid matrix, round-tripped
      // through parquet bit-exactly
      val fresh = Similarity.ivfCentroids(corpus, "vec_id", "embedding", nlist = 16)
      assert(idx.l1.length === fresh.length)
      idx.l1.zip(fresh).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
      assert(idx.l2.select("_c2").distinct().collect().map(_.getInt(0))
        .toSeq === Seq(0))
      // on-disk layout is partitioned by cell (the pruning unit)
      val cellDirs = new java.io.File(s"$dir/cells").listFiles()
        .filter(_.getName.startsWith("_c1=")).map(_.getName).toSet
      assert(cellDirs.nonEmpty)
      // served results identical to the refit flat search, row for row
      // (p1 = nprobe with one sub-cell per cell keeps every probed,
      // non-empty cell)
      val served = Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5, p1 = 4, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq
      val refit = Similarity.ivfTopK(corpus, queries,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq
      assert(served.nonEmpty)
      assert(served === refit)
      // the probe join prunes the cells scan: the physical plan carries a
      // dynamic-pruning partition filter on _c1
      val plan = Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5, p1 = 4, nprobe = 4)
        .queryExecution.executedPlan.toString
      assert("dynamicpruningexpression\\(_c1#".r.findFirstIn(plan).isDefined,
        s"expected a dynamic-pruning filter on _c1, got:\n$plan")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("runtime partition pruning: a single-query serve READS fewer cell files than exist") {
    // regression guard for the r15 finding: with Spark's default
    // reuseBroadcastOnly=true the cells scan's dynamicpruning filters
    // silently degrade to literal TRUE — the STATIC plan still prints
    // them, so only the executed scan's own metrics can prove pruning.
    // TestSpark (like every session builder) sets the standalone-DPP conf.
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_dpp").toString
    // at THIS fixture's size Spark's benefit estimate correctly rejects
    // the standalone pruning subquery (the scan is a few hundred KB);
    // force the estimate so the spec exercises the MECHANISM — the 30×
    // receipt (SERVE_r15: 8/484 files) covers the realistic sizes
    val prevRatio = spark.conf.getOption(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    val prevStats = spark.conf.getOption(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "10000")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      val one = embs.where(col("vec_id") === 0).select(col("vec_id"), col("embedding"))
      val served = Similarity.twoLevelTopKFromIndex(idx, one,
        "vec_id", "embedding", k = 5, p1 = 1, nprobe = 2)
      served.collect()
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: QueryStageExec => q +: allNodes(q.plan)
        case r: ReusedExchangeExec => r +: allNodes(r.child)
        case other => other +: other.children.flatMap(allNodes)
      }
      val scans = allNodes(served.queryExecution.executedPlan).collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("/cells")) => s
      }
      assert(scans.nonEmpty)
      val read = scans.map(_.metrics("numFiles").value).sum
      val total = scans.map(s =>
        s.metrics.get("staticFilesNum").map(_.value).getOrElse(0L)).sum
      assert(total > 0,
        "staticFilesNum missing — the dynamic filter was dropped before execution")
      assert(read < total,
        s"scan read $read of $total cell files — runtime pruning is not happening")
    } finally {
      def restore(k: String, prev: Option[String]): Unit = prev match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
      restore("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio",
        prevRatio)
      restore("spark.sql.optimizer.dynamicPartitionPruning.useStats", prevStats)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("two-level persisted index: save→load→serve == refit, compound-pruned scan") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_spec").toString
    try {
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      // level-1 matrix round-trips parquet bit-exactly
      val fresh = Similarity.twoLevelCentroids(corpus, "vec_id", "embedding",
        nlist1 = 4, k2 = 4)
      assert(idx.l1.length === fresh.l1.length)
      idx.l1.zip(fresh.l1).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
      // ... and so does the cluster-written level-2 table
      def l2Of(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getInt(0), r.getInt(1)),
          r.getSeq[Float](2).toSeq)).toMap
      assert(l2Of(idx.l2) === l2Of(fresh.l2))
      // on-disk layout is partitioned by the COMPOUND cell (nested dirs)
      val c1Dirs = new java.io.File(s"$dir/cells").listFiles()
        .filter(_.getName.startsWith("_c1=")).toSeq
      assert(c1Dirs.nonEmpty)
      assert(c1Dirs.forall(d => Option(d.listFiles()).exists(
        _.exists(_.getName.startsWith("_c2=")))))
      // served results identical to the refit two-level search
      val served = Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq
      val refit = Similarity.twoLevelTopK(corpus, queries,
        "vec_id", "embedding", k = 5, nlist1 = 4, k2 = 4, p1 = 2, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq
      assert(served === refit)
      // the probe join prunes the cells scan on the partition columns
      val plan = Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") ||
        plan.contains("PartitionFilters: [isnotnull(_c1"),
        s"expected a partition-pruned cells scan, got:\n$plan")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("quantized serving from the persisted index: codes-only scan, rerank-all == float path") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_pq").toString
    try {
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      // integer serving scores with the exact int8 dot and RANKS on the
      // scale-corrected qsim ≈ cosine (ties on nbr)
      val served = Similarity.quantizedTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq
      assert(served.nonEmpty)
      assert(served.forall(_.getLong(3) <= 5L))
      // qsim approximates cosine: every served score within quantization
      // noise of the true cosine of that (query, neighbor) pair
      val vecs = corpus.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0d; var na = 0d; var nb = 0d
        for (i <- a.indices) {
          d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i)
        }
        d / math.sqrt(na * nb)
      }
      served.foreach { r =>
        val err = math.abs(r.getDouble(2) -
          cos(vecs(r.getLong(0)), vecs(r.getLong(1))))
        assert(err < 0.02,
          s"qsim must track cosine (err $err for ${r.getLong(0)}->${r.getLong(1)})")
      }
      // RECALL of the pure integer path (rerank = 0) vs the float serving
      // path over the same probed candidates — the corrected ranking must
      // recover nearly all of the float path's top-5 (per-vector-scaled
      // raw dots, the r15 ADVICE finding, lose systematically here)
      val idxR = Similarity.loadTwoLevelIndex(spark, dir)
      val floatTop = Similarity.twoLevelTopKFromIndex(idxR, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .select("qid", "nbr").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val intTop = served.map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (floatTop & intTop).size.toDouble / floatTop.size
      assert(recall >= 0.9,
        s"corrected integer ranking recall@5 vs float path = $recall (< 0.9)")
      // the rerank-covering-all-candidates variant EQUALS the float path:
      // same candidate set (same probes, same cells), same cosine ranking
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      val full = Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .select("qid", "nbr", "rank").orderBy("qid", "rank").collect().toSeq
      val rerankAll = Similarity.quantizedTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4,
        rerank = corpus.count().toInt)
        .select("qid", "nbr", "rank").orderBy("qid", "rank").collect().toSeq
      assert(rerankAll === full,
        "exact re-rank over the full probed candidate set must equal the float serving path")
      // the broadcast guard: a probes side whose size estimate exceeds
      // the cap loses the FORCED broadcast hint (Spark's own size
      // protection then decides the join) — same answer either way, and
      // a corpus-sized batch can no longer OOM executors through the
      // unconditional hint
      val guardedOff = Similarity.quantizedTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4,
        maxBroadcastProbesBytes = 0L)
        .orderBy("qid", "rank").collect().toSeq
      assert(guardedOff.map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        === served.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))),
        "dropping the broadcast hint must not change the answer")
      // the integer path's cells scan reads the packed codes column and
      // its 8-byte scale correction, NOT the float vectors, and prunes
      // to the probed compound partitions
      val plan = Similarity.quantizedTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") ||
        plan.contains("PartitionFilters: [isnotnull(_c1"),
        s"expected a partition-pruned cells scan, got:\n$plan")
      val cellScans = plan.linesIterator
        .filter(l => l.contains("ReadSchema") && l.contains("/cells"))
        .toSeq
      assert(cellScans.nonEmpty && cellScans.forall(l =>
        l.contains("codes:binary") && l.contains("qscale:double") &&
          !l.contains("cv:")),
        s"integer serving must scan codes+qscale, never cv:\n${cellScans.mkString("\n")}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("batched ANN serving: whole-corpus batch == per-query serves, one cells scan") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_batch").toString
    try {
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      val batch = Similarity.twoLevelTopKFromIndex(idx, corpus,
        "vec_id", "embedding", k = 3, p1 = 2, nprobe = 4)
        .select("qid", "nbr", "rank").collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq)
        .toMap
      // per-query equality (the px48/px45 proof pattern): the batch's rows
      // for a sampled qid equal a dedicated single-query serve
      val sample = batch.keys.toSeq.sorted.take(5)
      sample.foreach { qid =>
        val solo = Similarity.twoLevelTopKFromIndex(idx,
          corpus.where(col("vec_id") === qid),
          "vec_id", "embedding", k = 3, p1 = 2, nprobe = 4)
          .select("qid", "nbr", "rank").collect()
          .map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
        assert(batch(qid) === solo, s"batched result for qid=$qid diverges")
      }
      // the whole batch is ONE pass: exactly one scan of the cells table
      val plan = Similarity.twoLevelTopKFromIndex(idx, corpus,
        "vec_id", "embedding", k = 3, p1 = 2, nprobe = 4)
        .queryExecution.executedPlan.toString
      val cellScans = plan.linesIterator.count(l =>
        l.contains("Scan parquet") && l.contains("/cells"))
      assert(cellScans === 1,
        s"expected exactly one cells scan for the whole batch, got $cellScans:\n$plan")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("product quantization: deterministic codebook, complete codes, exact full-coverage ADC") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val n = corpus.count()
    // refit determinism — the px60 discipline at PQ depth (hash seeds,
    // decimal Lloyd, tie-broken argmax)
    def cbOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getInt(0), r.getInt(1)),
        r.getSeq[Float](2).toSeq)).toMap
    val cb1 = Similarity.pqCodebook(corpus, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16, iters = 1)
    assert(cbOf(cb1) === cbOf(Similarity.pqCodebook(corpus, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16, iters = 1)))
    // every vector encodes to exactly m codes, all inside the codebook
    val codes = Similarity.pqEncode(corpus, "vec_id", "embedding", cb1,
      dim = 64, m = 8)
    assert(codes.count() === n * 8)
    assert(codes.groupBy("nbr").count().where(col("count") =!= 8).count() === 0L)
    assert(codes.where(col("code") < 0 || col("code") >= 16).count() === 0L)
    // exact ADC check: with a FULL-COVERAGE codebook (ksub = n, pqIters =
    // 0 — the seeds ARE the corpus slices) every slice's entry is an
    // exact copy of itself, so each candidate's LUT entries are the
    // rounded float dots against its OWN slices and the ADC score must
    // equal the same formula computed directly, with no codebook in the
    // loop: per-slice round(dot, 6), ONE shared per-query scale over the
    // whole LUT domain (all m × ksub entries — i.e. all corpus slices,
    // not just the probed candidates'), floor(·127/max + 0.5), sum
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_adc").toString
    try {
      // full coverage needs ksub = |corpus| ≤ 127 (the int8 pack bound) —
      // use the first 100 vectors as the corpus for this part
      val sub = embs.where(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding"))
      // pqResidual = false: this check pins the RAW encoding's exact ADC
      // arithmetic (the residual form has its own lifecycle spec)
      Similarity.saveTwoLevelIndex(sub, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1,
        pqM = 8, pqKsub = sub.count().toInt, pqIters = 0,
        pqResidual = false)
      val queries = embs.where(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding"))
      val served = Similarity.pqAdcTopKFromIndex(spark, dir,
        queries, "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .select("qid", "nbr", "score", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      // the direct computation: same probed candidates, rounded float
      // slice dots, shared per-query LUT scale, integer floor, exact sum
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      val probes = Similarity.twoLevelProbes(queries, "vec_id", "embedding",
        Similarity.TwoLevelModel(idx.l1, idx.l2), p1 = 2, nprobe = 4)
      def sliced(df: org.apache.spark.sql.DataFrame, id: String) =
        df.select(col(id), explode(sequence(lit(0), lit(7))).as("sub"),
          col("embedding").as("v"))
          .select(col(id), col("sub"), expr("slice(v, sub * 8 + 1, 8)").as("c"))
      val qs = sliced(embs.where(col("vec_id") < 5), "vec_id")
        .withColumnRenamed("vec_id", "qid").withColumnRenamed("c", "qc")
      val cs = sliced(embs.where(col("vec_id") < 100), "vec_id")
        .withColumnRenamed("vec_id", "nbr").withColumnRenamed("c", "cc")
      // LUT domain = every (query slice, corpus slice) pair — the shared
      // scale is the max over the WHOLE per-query table
      val parts = qs.join(cs, Seq("sub"))
        .select(col("qid"), col("nbr"), col("sub"),
          round(Similarity.dotD(col("qc"), col("cc")), 6).as("fpart"))
      val lm = parts.groupBy("qid").agg(max(abs(col("fpart"))).as("_lm"))
      val quant = parts.join(lm, Seq("qid"))
        .select(col("qid"), col("nbr"), col("sub"),
          when(col("_lm") > 0d,
            floor(col("fpart") * lit(127.0d) / col("_lm") + lit(0.5d)))
            .otherwise(lit(0L)).cast("long").as("part"))
      val expected = idx.cells.select("nbr", "_c1", "_c2")
        .join(probes.select("qid", "_c1", "_c2"), Seq("_c1", "_c2"))
        .where(col("qid") =!= col("nbr")).select("qid", "nbr").distinct()
        .join(quant, Seq("qid", "nbr"))
        .groupBy("qid", "nbr")
        .agg(sum(col("part")).as("score"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("score").desc, col("nbr"))).cast("bigint"))
        .where(col("rank") <= 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      assert(served === expected,
        "full-coverage ADC must equal the direct per-slice quantized-LUT score")
      assert(served.nonEmpty)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("two-level incremental append: union served == same-quantizer full assignment") {
    val partA = embs.where(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding"))
    val partB = embs.where(col("vec_id") % 2 === 1).select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_append").toString
    try {
      Similarity.saveTwoLevelIndex(partA, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      val idxA = Similarity.loadTwoLevelIndex(spark, dir)
      Similarity.appendToTwoLevelIndex(spark, dir, partB, "vec_id", "embedding")
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      // both quantizer levels untouched by the append
      idx.l1.zip(idxA.l1).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
      def l2Of(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getInt(0), r.getInt(1)),
          r.getSeq[Float](2).toSeq)).toMap
      assert(l2Of(idx.l2) === l2Of(idxA.l2))
      assert(idx.cells.count() === embs.count())
      val served = Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq
      // reference: assign the FULL corpus to the SAME loaded quantizer
      val full = embs.select(col("vec_id").as("nbr"), col("embedding").as("cv"))
        .withColumn("_c1", graft.functions.NearestCentroid(col("cv"), idxA.l1))
      val expected = Similarity.twoLevelTopKFromIndex(
        Similarity.TwoLevelIndex(idxA.l1, idxA.l2,
          Similarity.assignToL2(full, idxA.l2)),
        queries, "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq
      assert(served === expected)
      // retry idempotence: re-appending the same batch adds nothing
      Similarity.appendToTwoLevelIndex(spark, dir, partB, "vec_id", "embedding")
      assert(Similarity.loadTwoLevelIndex(spark, dir).cells.count()
        === embs.count())
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("PQ codes are index-lifecycle state: append encodes with the frozen codebook") {
    val partA = embs.where(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    val partB = embs.where(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_pqapp").toString
    try {
      // pqResidual = false: the direct-pqEncode comparison below is
      // against the RAW vectors (the residual form's append parity is
      // spec-pinned separately)
      Similarity.saveTwoLevelIndex(partA, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1, pqResidual = false)
      val frozen = spark.read.parquet(s"$dir/pq_cb")
      Similarity.appendToTwoLevelIndex(spark, dir, partB, "vec_id", "embedding")
      // every row's in-index codes (build-time for partA, append-time for
      // partB) equal a direct pqEncode of the full corpus against the
      // FROZEN half-trained codebook — appends encode with exactly the
      // persisted artifacts, the scalar-codes discipline at PQ depth
      val fromIndex = Similarity.pqCodesFromIndex(spark, dir)
        .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
      val direct = Similarity.pqEncode(
        embs.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
        frozen, dim = 64, m = 8)
        .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getInt(2).toLong)).toMap
      assert(fromIndex.size === embs.count() * 8)
      assert(fromIndex === direct,
        "in-index PQ codes must equal a direct encode with the frozen codebook")
      // an appended vector is immediately servable by the ADC path
      val served = Similarity.pqAdcTopKFromIndex(spark, dir,
        embs.where(col("vec_id") < 5).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .collect()
      assert(served.nonEmpty)
      assert(served.exists(_.getLong(1) % 2 === 1),
        "appended (odd-id) vectors must be reachable by ADC serving")
      // retry idempotence covers the PQ column too: re-append changes nothing
      val before = Similarity.pqCodesFromIndex(spark, dir).count()
      Similarity.appendToTwoLevelIndex(spark, dir, partB, "vec_id", "embedding")
      assert(Similarity.pqCodesFromIndex(spark, dir).count() === before)
      // ADC + exact refine covering the whole probed candidate set EQUALS
      // the float serving path (same probes, same candidates, same final
      // cosine ranking) — the px67 rerank-all invariant
      val q5 = embs.where(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding"))
      def rows3(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "nbr", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._3)).toSeq
      val fullFloat = rows3(Similarity.twoLevelTopKFromIndex(
        Similarity.loadTwoLevelIndex(spark, dir), q5,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4))
      val adcAll = rows3(Similarity.pqAdcTopKFromIndex(spark, dir, q5,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4,
        rerank = embs.count().toInt))
      assert(adcAll === fullFloat,
        "ADC rerank over the full probed candidate set must equal the float path")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("ADC serving: broadcast guard drops hints above the cap, same answer; pq_cb resolves through Hadoop paths") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_guard").toString
    try {
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "nbr", "rank").orderBy("qid", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // the guard: a probes estimate above the cap loses EVERY forced
      // broadcast hint on the ADC path (probes, LUT, rerank candidates,
      // rerank queries — the four r16 unguarded hints); Spark then picks
      // the join itself — same answer, no executor-OOM shape left
      val default0 = rows(Similarity.pqAdcTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4))
      val guarded0 = rows(Similarity.pqAdcTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4,
        maxBroadcastProbesBytes = 0L))
      assert(guarded0 === default0,
        "dropping the ADC broadcast hints must not change the rerank=0 answer")
      val defaultR = rows(Similarity.pqAdcTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4, rerank = 25))
      val guardedR = rows(Similarity.pqAdcTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4, rerank = 25,
        maxBroadcastProbesBytes = 0L))
      assert(guardedR === defaultR,
        "dropping the ADC broadcast hints must not change the rerank answer")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("self-sizing probe knobs: non-positive p1/nprobe derive from the index and lift recall on a grown index") {
    // the coincidence property: at the occupancy floor (side 4 → 16
    // cells) the derived knobs ARE the oracle-pinned (2, 4)
    assert(Similarity.probeKnobs(4, 16) === ((2, 4)))
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 16)
      .select(col("vec_id"), col("embedding"))
    // a GROWN index (side 8 → 64 cells): the pinned (2, 4) budget probes
    // 4/16 of the reachable sub-cells — the shape the r16 ladder measured
    // recall collapse on; the derived knobs hold the probed fraction
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_knobs").toString
    try {
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 8, k2 = 8, iters = 1)
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      val (ap1, anp) = Similarity.probeKnobs(8, idx.l2.count().toInt)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "nbr", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._3)).toSeq
      // resolution is exact: self-sized == the same knobs passed explicitly
      assert(rows(Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5, p1 = -1, nprobe = -1))
        === rows(Similarity.twoLevelTopKFromIndex(idx, queries,
          "vec_id", "embedding", k = 5, p1 = ap1, nprobe = anp)))
      assert(rows(Similarity.quantizedTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 0, nprobe = 0))
        === rows(Similarity.quantizedTopKFromIndex(spark, dir, queries,
          "vec_id", "embedding", k = 5, p1 = ap1, nprobe = anp)))
      assert(rows(Similarity.pqAdcTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 0, nprobe = 0, rerank = 25))
        === rows(Similarity.pqAdcTopKFromIndex(spark, dir, queries,
          "vec_id", "embedding", k = 5, p1 = ap1, nprobe = anp, rerank = 25)))
      // and the derived budget beats (or at worst matches) the pinned one
      // on recall@5 vs exact brute force — the point of self-sizing
      val truth = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", k = 5)
        .select("qid", "nbr").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      def recall(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.select("qid", "nbr").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        truth.map { case (q, t) =>
          got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
        }.sum / truth.size
      }
      val pinned = recall(Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5))
      val derived = recall(Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5, p1 = -1, nprobe = -1))
      assert(derived >= pinned,
        s"derived-knob recall $derived must be >= pinned-knob recall $pinned")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("append detects pq_cb through the Hadoop FileSystem: a file:-scheme dir still encodes pqcodes") {
    val partA = embs.where(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    val partB = embs.where(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_uri").toString
    try {
      Similarity.saveTwoLevelIndex(partA, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      // append through a NON-plain-path dir string: a java.nio existence
      // probe on "file:/..." answers false (the r16 finding) and would
      // silently append rows WITHOUT pqcodes — which ADC serving then
      // silently drops. Through the Hadoop FileSystem the codebook is
      // found and every appended row is encoded.
      Similarity.appendToTwoLevelIndex(spark, s"file:$dir", partB,
        "vec_id", "embedding")
      val n = embs.count()
      assert(Similarity.loadTwoLevelIndex(spark, dir).cells.count() === n)
      assert(Similarity.pqCodesFromIndex(spark, dir).count() === n * 8,
        "every appended row must carry PQ codes when the dir is a file: URI")
      assert(spark.read.parquet(s"$dir/cells")
        .where(col("pqcodes").isNull).count() === 0L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("a cells root spelled /x and file:/x is one root: compaction reclaims every superseded file") {
    val partA = embs.where(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    val partB = embs.where(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_spelling").toString
    def serve() = Similarity.twoLevelTopKFromIndex(
      Similarity.loadTwoLevelIndex(spark, dir), queries,
      "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
      .orderBy("qid", "rank").collect().toSeq
    // the local files a manifest generation names, whatever the spelling
    def files(m: CellsManifest): Set[String] = m.entries.flatMap { case (r, fs) =>
      fs.map(f => new org.apache.hadoop.fs.Path(s"$r/$f").toUri.getPath)
    }.toSet
    def onDisk(): Set[String] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try w.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") && p.stripPrefix(dir).startsWith("/cells")).toSet
      finally w.close()
    }
    try {
      Similarity.saveTwoLevelIndex(partA, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      Similarity.appendToTwoLevelIndex(spark, s"file:$dir", partB,
        "vec_id", "embedding", autoCompact = false)
      val appended = CellsLayout.resolve(spark, dir)
      assert(appended.entries.map(_._1) === Seq(s"$dir/cells"),
        "the save's and the append's spellings must record one root")
      val before = serve()
      Similarity.compactTwoLevelIndex(spark, dir)
      val compacted = CellsLayout.resolve(spark, dir)
      // the next publish reclaims what the compaction superseded (its
      // deferred gc list), under the other spelling of the index dir
      Similarity.compactTwoLevelIndex(spark, s"file:$dir")
      val superseded = files(appended)
      assert(superseded.nonEmpty)
      assert(superseded.filter(f => new java.io.File(f).exists()) === Set.empty[String],
        "every file the first compaction superseded must be deleted")
      // left on disk: the live generation and the one in its grace window
      assert(onDisk() === files(CellsLayout.resolve(spark, dir)) ++ files(compacted))
      assert(serve() === before)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("compactTwoLevelIndex: appends fragment cells into many files; compaction restores one per cell, serving unchanged") {
    val base = embs.where(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_compact").toString
    // files per cell from the LIVE view (the current manifest)
    def liveFilesPerCell(): Map[Vector[Int], Int] =
      CellsLayout.resolve(spark, dir).entries
        .flatMap(_._2).groupBy(CellsLayout.cellValuesOf)
        .map { case (k, v) => k -> v.size }
    def serveAll() = (
      Similarity.twoLevelTopKFromIndex(
        Similarity.loadTwoLevelIndex(spark, dir), queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq,
      Similarity.quantizedTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq,
      Similarity.pqAdcTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4, rerank = 10)
        .orderBy("qid", "rank").collect().toSeq)
    try {
      Similarity.saveTwoLevelIndex(base, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      (1 to 3).foreach { b =>
        Similarity.appendToTwoLevelIndex(spark, dir,
          embs.where(col("vec_id") % 4 === b)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", autoCompact = false)
      }
      assert(liveFilesPerCell().values.exists(_ > 1),
        "precondition: appends must have fragmented at least one cell")
      // pick one file the compaction will supersede to observe the
      // DEFERRED reclamation
      val preCompactFile = CellsLayout.resolve(spark, dir).entries
        .flatMap { case (r, fs) => fs.map(f => s"$r/$f") }.head
      val before = serveAll()
      Similarity.compactTwoLevelIndex(spark, dir)
      assert(Similarity.cellsSubdir(spark, dir).startsWith("manifest:"))
      // deferred reclamation: the superseded files survive ONE further
      // maintenance generation (a reader that resolved just before the
      // swap still finds them), invisible to serving
      assert(new java.io.File(preCompactFile).exists(),
        "superseded files must survive the grace window")
      val fpc = liveFilesPerCell()
      assert(fpc.nonEmpty && fpc.values.forall(_ === 1),
        s"every cell must hold exactly one live file after compaction: $fpc")
      assert(serveAll() === before,
        "serving from the compacted generation must be row-identical")
      assert(Similarity.loadTwoLevelIndex(spark, dir).cells.count()
        === embs.count())
      // appends land in the CURRENT generation and chain into the next
      // compaction; the append's publish reclaims the grace-window files
      val extra = embs.where(col("vec_id") < 4)
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      Similarity.appendToTwoLevelIndex(spark, dir, extra,
        "vec_id", "embedding", autoCompact = false)
      assert(!new java.io.File(preCompactFile).exists(),
        "the next maintenance publish must reclaim the superseded files")
      assert(Similarity.loadTwoLevelIndex(spark, dir).cells.count()
        === embs.count() + 4)
      val afterAppend = serveAll()
      Similarity.compactTwoLevelIndex(spark, dir)
      assert(serveAll() === afterAppend)
      // after the final compaction the live view is ONE root with one
      // file per cell again
      assert(liveFilesPerCell().values.forall(_ === 1))
      assert(CellsLayout.resolve(spark, dir).entries
        .count(_._2.nonEmpty) === 1)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("removeFromTwoLevelIndex: touched-cells-only rewrite, serve == never-contained, retry-idempotent, re-add works") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_remove").toString
    // the LIVE view: cell -> absolute live file paths (manifest-resolved)
    def liveCellFiles(): Map[Vector[Int], Set[String]] =
      CellsLayout.resolve(spark, dir).entries
        .flatMap { case (r, fs) => fs.map(f => (CellsLayout.cellValuesOf(f),
          s"$r/$f")) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    try {
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      val rmIds = embs.where(col("vec_id") % 7 === 0).select(col("vec_id"))
      val rmSet = rmIds.collect().map(_.getLong(0)).toSet
      val touchedCells = Similarity.loadTwoLevelIndex(spark, dir).cells
        .where(col("nbr").isin(rmSet.toSeq: _*))
        .select("_c1", "_c2").distinct().collect()
        .map(r => Vector(r.getInt(0), r.getInt(1))).toSet
      val filesBefore = liveCellFiles()
      val mtimesBefore = filesBefore.values.flatten
        .map(f => f -> new java.io.File(f).lastModified()).toMap
      Similarity.removeFromTwoLevelIndex(spark, dir, rmIds, "vec_id")
      // untouched cells keep their EXACT files — same paths, never
      // rewritten or even re-staged (the rewrite is pruned to the ids'
      // own cells); touched cells' superseded files survive the grace
      // window on disk but leave the live view at the pointer swap
      val filesAfter = liveCellFiles()
      filesBefore.keySet.filterNot(touchedCells).foreach { cell =>
        assert(filesAfter(cell) === filesBefore(cell),
          s"untouched cell $cell must keep its exact files")
        filesAfter(cell).foreach(f =>
          assert(new java.io.File(f).lastModified() === mtimesBefore(f),
            s"untouched file $f must not be rewritten"))
      }
      touchedCells.foreach { cell =>
        filesBefore(cell).foreach { f =>
          assert(new java.io.File(f).exists(),
            s"superseded file $f must survive the grace window")
          assert(!filesAfter.getOrElse(cell, Set.empty).contains(f),
            s"superseded file $f must leave the live view")
        }
      }
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      assert(idx.cells.count() === embs.count() - rmSet.size)
      assert(idx.cells.where(col("nbr").isin(rmSet.toSeq: _*)).count() === 0L)
      // serving == an index that NEVER contained the ids: same loaded
      // quantizer over the kept corpus's own assignment (the append
      // spec's proof pattern, inverted)
      def rows3(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "nbr", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._3)).toSeq
      val kept = embs.where(col("vec_id") % 7 =!= 0)
        .select(col("vec_id").as("nbr"), col("embedding").as("cv"))
        .withColumn("_c1", graft.functions.NearestCentroid(col("cv"), idx.l1))
      val expected = rows3(Similarity.twoLevelTopKFromIndex(
        Similarity.TwoLevelIndex(idx.l1, idx.l2,
          Similarity.assignToL2(kept, idx.l2)),
        queries, "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4))
      assert(rows3(Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)) === expected)
      // the integer serving paths see the removal too (their code
      // columns rode the rewrite), and never surface a removed id
      assert(Similarity.quantizedTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5).collect()
        .forall(r => !rmSet(r.getLong(1))))
      assert(Similarity.pqAdcTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, rerank = 10).collect()
        .forall(r => !rmSet(r.getLong(1))))
      // retry idempotence: the same remove again is a no-op
      Similarity.removeFromTwoLevelIndex(spark, dir, rmIds, "vec_id")
      assert(Similarity.loadTwoLevelIndex(spark, dir).cells.count()
        === embs.count() - rmSet.size)
      // a removed id can RE-ENTER via append (the dedupe anti-join no
      // longer sees it) and is searchable again
      Similarity.appendToTwoLevelIndex(spark, dir,
        embs.where(col("vec_id") % 7 === 0)
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding")
      assert(Similarity.loadTwoLevelIndex(spark, dir).cells.count()
        === embs.count())
      // emptying a whole cell drops it from the live view at the pointer
      // swap; vacuumIndex then reclaims every unreferenced file AND the
      // emptied partition dirs
      val c0 = Similarity.loadTwoLevelIndex(spark, dir).cells
        .groupBy("_c1", "_c2").count().orderBy("_c1", "_c2").head()
      val (c1v, c2v) = (c0.getInt(0), c0.getInt(1))
      val cellIds = Similarity.loadTwoLevelIndex(spark, dir).cells
        .where(col("_c1") === c1v && col("_c2") === c2v).select(col("nbr"))
      val cellN = cellIds.count()
      Similarity.removeFromTwoLevelIndex(spark, dir, cellIds, "nbr")
      assert(!liveCellFiles().contains(Vector(c1v, c2v)),
        "an emptied cell must leave the live view")
      assert(Similarity.loadTwoLevelIndex(spark, dir).cells
        .where(col("_c1") === c1v && col("_c2") === c2v).count() === 0L)
      val liveNow = liveCellFiles().values.flatten.toSet
      Similarity.vacuumIndex(spark, dir)
      assert(!new java.io.File(s"$dir/cells/_c1=$c1v/_c2=$c2v").exists(),
        "vacuum must reclaim an emptied cell's partition dir")
      // vacuum keeps every live file and the index still serves
      liveNow.foreach(f => assert(new java.io.File(f).exists(),
        s"vacuum must keep live file $f"))
      assert(Similarity.loadTwoLevelIndex(spark, dir).cells.count()
        === embs.count() - cellN)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("remove then compact compose: the maintenance ops chain and serving stays never-contained-equal") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_rmcpt").toString
    try {
      Similarity.saveTwoLevelIndex(
        embs.where(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", dir, nlist1 = 4, k2 = 4, iters = 1)
      Similarity.appendToTwoLevelIndex(spark, dir,
        embs.where(col("vec_id") % 2 === 1).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding")
      val rmIds = embs.where(col("vec_id") % 5 === 0).select(col("vec_id"))
      val rmSet = rmIds.collect().map(_.getLong(0)).toSet
      Similarity.removeFromTwoLevelIndex(spark, dir, rmIds, "vec_id")
      Similarity.compactTwoLevelIndex(spark, dir)
      assert(Similarity.cellsSubdir(spark, dir).startsWith("manifest:"))
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      assert(idx.cells.count() === embs.count() - rmSet.size)
      assert(idx.cells.where(col("nbr").isin(rmSet.toSeq: _*)).count() === 0L)
      // ALL THREE serving paths over the removed+compacted generation
      // equal the never-contained construction
      def rows3(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "nbr", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._3)).toSeq
      val kept = embs.where(col("vec_id") % 5 =!= 0)
        .select(col("vec_id").as("nbr"), col("embedding").as("cv"))
        .withColumn("_c1", graft.functions.NearestCentroid(col("cv"), idx.l1))
      val expected = rows3(Similarity.twoLevelTopKFromIndex(
        Similarity.TwoLevelIndex(idx.l1, idx.l2,
          Similarity.assignToL2(kept, idx.l2)),
        queries, "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4))
      assert(rows3(Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)) === expected)
      // and a REMOVE against the compacted generation works too (the
      // dynamic overwrite targets cells_g2 through the pointer)
      val rm2 = embs.where(col("vec_id") % 5 === 1).select(col("vec_id"))
      Similarity.removeFromTwoLevelIndex(spark, dir, rm2, "vec_id")
      assert(Similarity.loadTwoLevelIndex(spark, dir).cells.count()
        === embs.where(col("vec_id") % 5 >= 2).count())
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("cloneIndex: O(metadata) copy-on-write — clone serves identically, mutations never touch the source, compaction localizes") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    val src = java.nio.file.Files.createTempDirectory("graft_clone_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_clone_dst").toString + "/idx"
    def serveAll(dir: String) = (
      Similarity.twoLevelTopKFromIndex(
        Similarity.loadTwoLevelIndex(spark, dir), queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq,
      Similarity.quantizedTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq,
      Similarity.pqAdcTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4, rerank = 10)
        .orderBy("qid", "rank").collect().toSeq)
    def fileSig(root: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root)).map(f =>
        f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    try {
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", src,
        nlist1 = 4, k2 = 4, iters = 1)
      val srcServe = serveAll(src)
      val srcSig = fileSig(src)
      Similarity.cloneIndex(spark, src, dst)
      // the clone holds NO cell data of its own — only the manifest (+
      // copied model artifacts); the data is referenced, not copied
      assert(CellsLayout.listRelParquet(spark, s"$dst/cells").isEmpty &&
        !new java.io.File(s"$dst/cells").exists())
      assert(serveAll(dst) === srcServe, "a fresh clone must serve identically")
      // mutate the CLONE: remove a small id set (a few touched cells —
      // most cells must stay source-referenced to exercise the
      // multi-root read below); survivors land under dst, the source is
      // never touched (same files, sizes, mtimes)
      val rmIds = embs.where(col("vec_id") < 5).select(col("vec_id"))
      val rmSet = rmIds.collect().map(_.getLong(0)).toSet
      Similarity.removeFromTwoLevelIndex(spark, dst, rmIds, "vec_id")
      assert(fileSig(src) === srcSig,
        "clone-side mutation must leave the source byte-identical")
      assert(serveAll(src) === srcServe)
      val idx = Similarity.loadTwoLevelIndex(spark, dst)
      assert(idx.cells.count() === embs.count() - rmSet.size)
      assert(idx.cells.where(col("nbr").isin(rmSet.toSeq: _*)).count() === 0L)
      // the mutated clone reads from BOTH roots (source untouched cells +
      // its own survivors) through one partitioned relation
      val roots = CellsLayout.resolve(spark, dst).entries
        .filter(_._2.nonEmpty).map(_._1)
      assert(roots.size === 2, s"expected src+dst roots, got $roots")
      val postRemove = serveAll(dst)
      assert(postRemove._1.nonEmpty)
      // compaction LOCALIZES: one root under the clone's own dir, serving
      // unchanged — and the source can now disappear entirely
      Similarity.compactTwoLevelIndex(spark, dst)
      val rootsAfter = CellsLayout.resolve(spark, dst).entries
        .filter(_._2.nonEmpty).map(_._1)
      assert(rootsAfter.size === 1 && rootsAfter.head.startsWith(dst))
      assert(serveAll(dst) === postRemove)
      assert(fileSig(src) === srcSig)
      def rmAll(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmAll)); f.delete(); ()
      }
      rmAll(new java.io.File(src))
      assert(serveAll(dst) === postRemove,
        "a localized clone must survive the source's deletion")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(src)); rm(new java.io.File(dst).getParentFile)
    }
  }

  test("manifest publish is crash-atomic: staged-but-unpublished files are invisible and vacuum reclaims them") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_idx").toString
    try {
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      // one real append so the index is manifest-mode
      Similarity.appendToTwoLevelIndex(spark,  dir,
        embs.where(col("vec_id") < 4)
          .select((col("vec_id") + 50000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding", autoCompact = false)
      val n0 = Similarity.loadTwoLevelIndex(spark, dir).cells.count()
      val serve0 = Similarity.twoLevelTopKFromIndex(
        Similarity.loadTwoLevelIndex(spark, dir), queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq
      // SIMULATED CRASH mid-append: a batch is staged and its files moved
      // into the local root, but the process dies BEFORE the manifest
      // publish — exactly the window parquet's append mode used to leave
      // half-visible partial files in
      embs.where(col("vec_id") >= 4 && col("vec_id") < 8)
        .select((col("vec_id") + 60000L).as("vec_id"),
          col("embedding").as("cv"), lit(0).as("_c1"), lit(0).as("_c2"))
        .repartition(col("_c1"), col("_c2"))
        .write.mode("overwrite").partitionBy("_c1", "_c2")
        .parquet(s"$dir/_append_staging")
      val orphans = CellsLayout.moveInto(spark, s"$dir/_append_staging",
        s"$dir/cells").map(f => s"$dir/cells/$f")
      assert(orphans.nonEmpty)
      orphans.foreach(f => assert(new java.io.File(f).exists()))
      // the orphans are INVISIBLE: same count, same serve
      assert(Similarity.loadTwoLevelIndex(spark, dir).cells.count() === n0)
      assert(Similarity.twoLevelTopKFromIndex(
        Similarity.loadTwoLevelIndex(spark, dir), queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq === serve0)
      // the RETRY (same rows, fresh ids not yet visible → not deduped)
      // appends them properly; the orphans stay invisible
      Similarity.appendToTwoLevelIndex(spark, dir,
        embs.where(col("vec_id") >= 4 && col("vec_id") < 8)
          .select((col("vec_id") + 60000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding", autoCompact = false)
      assert(Similarity.loadTwoLevelIndex(spark, dir).cells.count() === n0 + 4)
      // vacuum reclaims the orphan files and live serving is unaffected
      val n1 = Similarity.loadTwoLevelIndex(spark, dir).cells.count()
      Similarity.vacuumIndex(spark, dir)
      orphans.foreach(f => assert(!new java.io.File(f).exists(),
        s"vacuum must reclaim orphan $f"))
      assert(Similarity.loadTwoLevelIndex(spark, dir).cells.count() === n1)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("graph-node removal maintains the ANN index: session remove unlinks the vectors, serve == never-contained") {
    import PipelineQueries.{VecNode, VecRoot, VecDoc}
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_gx_idx").toString
    try {
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      val g = graft.graph.GraphSession.inMemory(spark,
        PipelineQueries.vecNodeModel, VecRoot: VecNode)
      val nodes = (0L until 40L).map(i => i -> g.newNode(VecDoc(i)))
      nodes.foreach { case (_, n) => g.addTarget(g.root, n) }
      // one node with NO embedding id — removed from the graph only
      val plain = g.newNode(VecRoot: VecNode)
      g.addTarget(g.root, plain)
      val doomedIds = nodes.collect { case (i, _) if i % 6 == 1 => i }
      val doomed = nodes.collect { case (i, n) if i % 6 == 1 => n }
      val removed = GraphIndexMaintenance.removeNodes(g,
        doomed :+ plain, dir, "vec_id") {
        case VecDoc(id) => Some(id)
        case _ => None
      }
      // the session reported exactly the vector-carrying nodes' ids
      assert(removed === doomedIds.sorted)
      // graph side: the removed nodes are detached from the root, the
      // survivors are still linked
      val rootTargets = g.targets(g.root).toSet
      doomed.foreach(n => assert(!rootTargets.contains(n)))
      assert(!rootTargets.contains(plain))
      nodes.collect { case (i, n) if i % 6 != 1 => n }
        .foreach(n => assert(rootTargets.contains(n)))
      // index side: the ids are gone, serving equals an index that never
      // contained them (same loaded quantizer over the kept assignment)
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      assert(idx.cells.where(col("nbr").isin(removed: _*)).count() === 0L)
      assert(idx.cells.count() === embs.count() - removed.size)
      def rows3(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "nbr", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._3)).toSeq
      val kept = embs.where(!col("vec_id").isin(removed: _*))
        .select(col("vec_id").as("nbr"), col("embedding").as("cv"))
        .withColumn("_c1", graft.functions.NearestCentroid(col("cv"), idx.l1))
      val expected = rows3(Similarity.twoLevelTopKFromIndex(
        Similarity.TwoLevelIndex(idx.l1, idx.l2,
          Similarity.assignToL2(kept, idx.l2)),
        queries, "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4))
      assert(rows3(Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)) === expected)
      // a node id that does not exist refuses loudly (nothing is half-done)
      intercept[IllegalArgumentException] {
        GraphIndexMaintenance.removeNodes(g, Seq(999999L), dir, "vec_id") {
          case VecDoc(id) => Some(id)
          case _ => None
        }
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("rerank sentinel: rerank < 0 self-sizes from the probed-mass estimate; caches invalidate on re-save") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_autorr").toString
    try {
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      // at this scale the derived budget is autoRerank(n·(2/4)·(4/16))
      // = autoRerank(n/8) — compute it the same way and pin equality
      val n = embs.count()
      val expectedRerank = Similarity.autoRerank(
        math.ceil(n.toDouble * (2.0 / 4) * (4.0 / 16)).toLong, k = 5)
      def rows(r: Int) = Similarity.pqAdcTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4, rerank = r)
        .orderBy("qid", "rank").collect().toSeq
      assert(rows(-1) === rows(expectedRerank),
        s"sentinel serve must equal the explicitly sized rerank=$expectedRerank")
      // rerank = 0 stays 'no refine' — distinct output shape (score col)
      assert(Similarity.pqAdcTopKFromIndex(spark, dir, queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4, rerank = 0)
        .columns.contains("score"))
      // cache invalidation: a re-save with PQ raw encoding flips the
      // cached residual flag (mtime-stamped keys, no eviction protocol)
      assert(Similarity.pqIsResidual(spark, dir))
      Thread.sleep(1100) // local-FS mtime granularity can be 1s
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1, pqResidual = false)
      assert(!Similarity.pqIsResidual(spark, dir),
        "re-save must invalidate the cached residual flag")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("a manifest read runs no Spark job, past Spark's 32-path listing threshold") {
    // `spark.read` over more than 32 explicit files lists them with a
    // parallel-listing job, and infers the schema with another, on every
    // read; the manifest already names every file
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_nolist").toString
    try {
      Similarity.saveTwoLevelIndex(
        embs.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
        dir, nlist1 = 8, k2 = 8, iters = 1, pqM = 0)
      val m = CellsLayout.resolve(spark, dir)
      assert(m.fileCount > 32, s"only ${m.fileCount} cell files")
      var df: org.apache.spark.sql.DataFrame = null
      val cost = graft.tools.CostProbe.costOf(spark) { df = m.df(spark) }
      assert(cost.jobs === 0, cost.toString)
      assert(df.count() === embs.count())
      assert(df.inputFiles.length === m.fileCount)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("cells manifest: render/parse round-trip and pointer discipline") {
    val m = CellsManifest(7,
      entries = Seq("/a/cells" -> Seq("_c1=0/_c2=1/x.parquet",
        "_c1=2/_c2=3/y.parquet"), "/b/cells_g3" -> Seq("_c1=0/_c2=0/z.parquet")),
      gc = Seq("/a/cells" -> Seq("_c1=0/_c2=1/old.parquet")))
    val rt = CellsLayout.parse(CellsLayout.render(m))
    assert(rt === m)
    assert(m.fileCount === 3)
    assert(m.cellCount === 3)
    assert(CellsLayout.cellValuesOf("_c1=4/_c2=11/p.parquet") === Vector(4, 11))
    intercept[IllegalArgumentException] {
      CellsLayout.parse("not-a-manifest\n")
    }
  }

  test("residual PQ lifecycle: codes approximate v − centroid, appends encode residuals with the frozen codebook") {
    val partA = embs.where(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    val partB = embs.where(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_resid").toString
    val rawDir = java.nio.file.Files.createTempDirectory("graft_ivf2_rawpq").toString
    try {
      // the DEFAULT save is residual-encoded, flagged in-dir
      Similarity.saveTwoLevelIndex(partA, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      assert(Similarity.pqIsResidual(spark, dir),
        "default-saved index must flag residual encoding in pq_meta")
      val frozen = spark.read.parquet(s"$dir/pq_cb")
      Similarity.appendToTwoLevelIndex(spark, dir, partB, "vec_id", "embedding")
      // every row's in-index codes (build-time partA, append-time partB)
      // equal a direct pqEncode of the RESIDUAL v − centroid(c1,c2),
      // computed from the LOADED (parquet-round-tripped) centroids and
      // the index's own assignments, against the frozen codebook
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      val resid = idx.cells
        .join(idx.l2.select(col("_c1"), col("_c2"), col("_cent")),
          Seq("_c1", "_c2"))
        .select(col("nbr"),
          zip_with(col("cv"), col("_cent"), (a, b) => a - b).as("rv"))
      val direct = Similarity.pqEncode(resid, "nbr", "rv", frozen,
        dim = 64, m = 8)
        .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getInt(2).toLong)).toMap
      val fromIndex = Similarity.pqCodesFromIndex(spark, dir)
        .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
      assert(fromIndex.size === embs.count() * 8)
      assert(fromIndex === direct,
        "in-index codes must equal a direct residual encode with the frozen codebook")
      // retry idempotence covers the residual column too
      Similarity.appendToTwoLevelIndex(spark, dir, partB, "vec_id", "embedding")
      assert(Similarity.pqCodesFromIndex(spark, dir).count()
        === embs.count() * 8)
      // ADC + exact refine covering the whole probed candidate set EQUALS
      // the float serving path — the rerank-all invariant holds for the
      // residual form too (the offset changes the PRUNING order only)
      val q5 = embs.where(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding"))
      def rows3(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "nbr", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._3)).toSeq
      assert(rows3(Similarity.pqAdcTopKFromIndex(spark, dir, q5,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4,
        rerank = embs.count().toInt))
        === rows3(Similarity.twoLevelTopKFromIndex(idx, q5,
          "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)),
        "residual ADC rerank over the full candidate set must equal the float path")
      // backward compatibility: a dir saved BEFORE the flag existed (no
      // pq_meta) is raw-encoded by construction and must serve exactly
      // as a pq_meta(residual=false) dir does
      Similarity.saveTwoLevelIndex(partA, "vec_id", "embedding", rawDir,
        nlist1 = 4, k2 = 4, iters = 1, pqResidual = false)
      val withMeta = rows3(Similarity.pqAdcTopKFromIndex(spark, rawDir, q5,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4))
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(s"$rawDir/pq_meta"))
      assert(!Similarity.pqIsResidual(spark, rawDir))
      assert(rows3(Similarity.pqAdcTopKFromIndex(spark, rawDir, q5,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)) === withMeta,
        "a pre-flag (no pq_meta) dir must serve as raw-encoded")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir)); rm(new java.io.File(rawDir))
    }
  }

  test("two-level append: vectors landing in an L2-less cell are re-routed, not dropped") {
    import spark.implicits._
    // two tight clusters along e1 and e2 — every trained cell is populated
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0.95f, 0f, 0.05f, 0f)), (4L, Array(0f, 1f, 0f, 0f)),
      (5L, Array(0.1f, 0.9f, 0f, 0f)), (6L, Array(0f, 0.95f, 0.05f, 0f))
    ).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_l2less").toString
    try {
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
        nlist1 = 2, k2 = 2, iters = 1)
      // simulate the flat trainer's retained-empty-cell shape (ivfCentroids
      // keeps an empty cell's centroid — Similarity.scala "empty cell keeps
      // its centroid"): hand-add a level-1 centroid along e3 that has NO
      // level-2 rows, then append a vector nearest to exactly that cell
      val l1Rows = spark.read.parquet(s"$dir/l1")
        .select("_c1", "centroid").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1)))
      (l1Rows :+ ((l1Rows.length, Seq(0f, 0f, 0f, 1f)))).toSeq
        .toDF("_c1", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/l1")
      val before = Similarity.loadTwoLevelIndex(spark, dir)
      assert(before.l1.length === l1Rows.length + 1)
      assert(!before.l2.select("_c1").distinct().collect()
        .map(_.getInt(0)).contains(l1Rows.length),
        "precondition: the added cell must have no level-2 rows")
      val novel = Seq((100L, Array(0f, 0f, 0.1f, 0.99f))).toDF("vec_id", "embedding")
      Similarity.appendToTwoLevelIndex(spark, dir, novel, "vec_id", "embedding")
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      // the vector was NOT silently dropped: it landed in a populated cell
      val got = idx.cells.where(col("nbr") === 100L).collect()
      assert(got.length === 1, "appended vector must be written to the index")
      assert(got.head.getAs[Int]("_c1") !== l1Rows.length,
        "must be re-routed to a POPULATED cell, not the L2-less one")
      // retry idempotence still holds for the re-routed row
      Similarity.appendToTwoLevelIndex(spark, dir, novel, "vec_id", "embedding")
      assert(Similarity.loadTwoLevelIndex(spark, dir)
        .cells.where(col("nbr") === 100L).count() === 1L)
      // and the row is reachable by search when the probes cover its cell
      val q = Seq((200L, Array(0f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
      val served = Similarity.twoLevelTopKFromIndex(idx, q,
        "vec_id", "embedding", k = 3, p1 = 3, nprobe = 4)
        .select("nbr").collect().map(_.getLong(0)).toSet
      assert(served.contains(100L))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("IVF incremental append: union served == same-centroid full assignment") {
    val partA = embs.where(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding"))
    val partB = embs.where(col("vec_id") % 2 === 1).select(col("vec_id"), col("embedding"))
    val queries = embs.where(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString
    try {
      // build the flat index (px55) on A only, then append B without
      // retraining
      Similarity.saveTwoLevelIndex(partA, "vec_id", "embedding", dir,
        nlist1 = 16, k2 = 1, iters = 1, pqM = 0)
      val centsA = Similarity.loadTwoLevelIndex(spark, dir).l1
      Similarity.appendToTwoLevelIndex(spark, dir, partB, "vec_id", "embedding")
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      // centroids untouched by the append
      idx.l1.zip(centsA).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
      assert(idx.cells.count() === embs.count())
      val served = Similarity.twoLevelTopKFromIndex(idx, queries,
        "vec_id", "embedding", k = 5, p1 = 4, nprobe = 4)
        .orderBy("qid", "rank").collect().toSeq
      // reference: assign the FULL corpus to the SAME centroid matrix
      val full = embs.select(col("vec_id").as("nbr"), col("embedding").as("cv"))
        .withColumn("_cell", graft.functions.NearestCentroid(col("cv"), centsA))
      val probes = Similarity.ivfProbes(queries, "vec_id", "embedding", centsA, nprobe = 4)
      val expected = full.join(probes, Seq("_cell"))
        .where(col("qid") =!= col("nbr"))
        .withColumn("sim", round(Similarity.cosine(col("qv"), col("cv")), 6))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("sim").desc, col("nbr"))).cast("bigint"))
        .where(col("rank") <= 5)
        .select("qid", "nbr", "rank", "sim")
        .orderBy("qid", "rank").collect().toSeq
      assert(served === expected)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("sequence packing: conservation, monotone bins, straddling docs") {
    val df = docs
    val bins = Packing.packBins(df, "doc_id", "lang", "text",
      budget = 256, shards = 4).collect()
    // conservation: every document lands in exactly one bin, tokens intact
    assert(bins.length === df.count())
    val totalTokens = df.select(
      org.apache.spark.sql.functions.sum(
        TextAnalysis.tokenCount(col("text")))).head().getLong(0)
    assert(bins.map(_.getAs[Long]("n_tokens")).sum === totalTokens)
    // per stream, bins are non-decreasing in doc order and start at 0
    bins.groupBy(r => (r.getAs[String]("lang"), r.getAs[Long]("shard")))
      .foreach { case (_, rows) =>
        val ordered = rows.sortBy(_.getAs[Long]("doc_id"))
        val bs = ordered.map(_.getAs[Long]("bin")).toSeq
        assert(bs.head === 0L)
        assert(bs === bs.sorted)
      }
    // a document longer than the budget must NOT break assignment: with a
    // tiny budget every doc still gets the bin of its start offset
    val tiny = Packing.packBins(df, "doc_id", "lang", "text",
      budget = 8, shards = 4).collect()
    assert(tiny.length === df.count())
  }

  test("MinHashMerge aggregator: merged signature == signature of the union") {
    import spark.implicits._
    val df = Seq(
      ("s1", "the quick brown fox jumps over the lazy dog"),
      ("s1", "a quick brown fox leaps over a sleepy cat"),
      ("s2", "completely different text about spark engines here"))
      .toDF("source", "text")
    val sig = graft.functions.MinHashSigs(TextAnalysis.shingles(col("text"), 2), 16)
    val merged = df.select(col("source"), sig.as("sig"))
      .groupBy("source")
      .agg(graft.functions.MinHashMerge(16)(col("sig")).as("m"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // signature of each source's concatenated shingle UNION, computed directly
    val direct = df.groupBy("source")
      .agg(flatten(collect_list(TextAnalysis.shingles(col("text"), 2))).as("sh"))
      .select(col("source"), graft.functions.MinHashSigs(array_distinct(col("sh")), 16).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(merged === direct)
    // same-source docs share shingles → estimated Jaccard must exceed the
    // cross-source estimate
    val j11 = graft.functions.MinHashMerge.estimateJaccard(merged("s1"), merged("s1"))
    val j12 = graft.functions.MinHashMerge.estimateJaccard(merged("s1"), merged("s2"))
    assert(j11 === 1.0 && j12 < 1.0)
  }

  test("approx sketches bound the exact answers (HLL distinct, percentile)") {
    // the declared px16 now emits the bound BOOLEANS themselves (the
    // driver oracles them as all-TRUE); assert them here too
    val flags = PipelineQueries.all.find(_.name == "px16_approx_stats").get
      .run(spark, sf).collect()
    assert(flags.nonEmpty)
    flags.foreach { r =>
      assert(r.getBoolean(1), s"${r.getString(0)}: HLL 5% bound violated")
      assert(r.getBoolean(2), s"${r.getString(0)}: p50 rank bound violated")
    }
    // and keep the raw sketch-vs-exact comparison independent of the
    // query's own bound arithmetic
    val approx = docs.groupBy("lang")
      .agg(approx_count_distinct(col("text"), rsd = 0.02).as("u"),
        expr("approx_percentile(n_chars, 0.5, 1000)").as("p"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = docs.groupBy("lang")
      .agg(countDistinct(col("text")).as("u"),
        expr("percentile(n_chars, 0.5)").as("p"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (lang, (uEst, pEst)) =>
      val (u, p) = exact(lang)
      assert(math.abs(uEst - u).toDouble / u <= 0.05,
        s"$lang: HLL distinct $uEst vs exact $u exceeds 5% error")
      assert(math.abs(pEst - p) / math.max(p, 1.0) <= 0.1,
        s"$lang: approx p50 $pEst vs exact $p exceeds 10% error")
    }
  }

  test("hash split: layout-independent, growth-stable, bernoulli-monotone") {
    val fr = Seq("val" -> 0.05, "test" -> 0.15)
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Sampling.hashSplit(df, "doc_id", fr)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s1 = labels(docs)
    // membership depends only on row identity, not physical layout
    assert(labels(docs.repartition(13)) === s1)
    // corpus growth never moves an old document between splits: the
    // labels of any SUBSET equal the full corpus's labels
    labels(docs.where(col("doc_id") % 2 === 0)).foreach { case (id, l) =>
      assert(s1(id) === l, s"doc $id moved split under corpus change")
    }
    assert(s1.values.toSet === Set("train", "val", "test"))
    // a sub-half-bucket fraction gets an explicit ZERO-width bucket
    // (cumulative rounding) — never a silently widened neighbor
    val tiny = Sampling.hashSplit(docs, "doc_id", Seq("a" -> 0.00004))
      .where(col("split") === "a").count()
    assert(tiny === 0L)
    // bernoulli membership is monotone in rate (same hash, same seed)
    def kept(rate: Double): Set[Long] =
      Sampling.bernoulli(docs, "doc_id", rate)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val (k10, k25) = (kept(0.10), kept(0.25))
    assert(k10.subsetOf(k25))
    assert(k10.nonEmpty && k25.size > k10.size)
  }

  test("budgeted sample: two-phase == global cumsum; layout-independent; prefix-stable") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val corpus = (1L to 300L).map(i => (i, 10L + i % 37)).toDF("id", "w")
    val budget = 1800L

    // naive single-window global cumsum in (bucket, hash, id) order — the
    // semantics budgetedSample's two-phase bucket prefix sum must equal
    def naive(df: org.apache.spark.sql.DataFrame, buckets: Int): Set[Long] = {
      val h = xxhash64(col("id"), lit(42L))
      val gw = Window.orderBy(pmod(h, lit(buckets.toLong)), h, col("id"))
      df.withColumn("_cum", sum(col("w").cast("long")).over(gw))
        .where(col("_cum") <= budget)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    def sampled(df: org.apache.spark.sql.DataFrame, buckets: Int): Set[Long] =
      Sampling.budgetedSample(df, "id", "w", budget, buckets = buckets)
        .select("id").collect().map(_.getLong(0)).toSet

    for (buckets <- Seq(1, 16, 64)) {
      val got = sampled(corpus, buckets)
      assert(got === naive(corpus, buckets),
        s"two-phase selection must equal the global-order cumsum (buckets=$buckets)")
      assert(got.nonEmpty && got.size < 300,
        "budget must cut the corpus, not keep or drop everything")
    }
    // membership depends only on identity + weights, never physical layout
    assert(sampled(corpus.repartition(17), 16) === sampled(corpus, 16))
    // weights actually bound the take: total selected weight ≤ budget, and
    // the next row in selection order would overflow it (tight prefix)
    val sel = Sampling.budgetedSample(corpus, "id", "w", budget, buckets = 16)
      .agg(sum(col("w").cast("long"))).head().getLong(0)
    assert(sel <= budget && sel > budget - 47L,
      s"selected weight $sel must fill the budget up to one straddling row")
    // degenerate budgets
    assert(sampled(corpus, 16).nonEmpty)
    assert(Sampling.budgetedSample(corpus, "id", "w", 0L).count() === 0L)

    // zero-weight rows at the exact budget boundary: empty documents
    // (n_chars = 0) whose inclusive cumsum EQUALS the budget are kept by
    // the global-order semantics — a bucket holding only zero-weight rows
    // sits at offset == budget and must not be pruned away
    val withZeros = ((1L to 200L).map(i => (i, 5L)) ++
      (201L to 260L).map(i => (i, 0L))).toDF("id", "w")
    val full = 1000L // == total weight: EVERY row's inclusive cumsum fits
    for (buckets <- Seq(8, 64)) {
      val kept = Sampling.budgetedSample(withZeros, "id", "w", full,
        buckets = buckets).count()
      assert(kept === 260L,
        s"budget == total weight must keep all rows incl. zero-weight ones " +
          s"(buckets=$buckets, kept $kept)")
    }
    // negative weights make prefix-budget selection ill-defined (the
    // bucket prune becomes unsound) — typed refusal, not silent divergence
    val eNeg = intercept[IllegalArgumentException] {
      Sampling.budgetedSample(
        corpus.withColumn("w", col("w") - 20L), "id", "w", budget)
    }
    assert(eNeg.getMessage.contains("non-negative"))
    // NULL (or non-long-castable) weights would silently act as zero in
    // the cumsum — typed refusal, same posture as negative weights
    val eNull = intercept[IllegalArgumentException] {
      Sampling.budgetedSample(
        corpus.withColumn("w", when(col("id") % 50 === 0, lit(null)).otherwise(col("w"))),
        "id", "w", budget)
    }
    assert(eNull.getMessage.contains("NULL"))
    val eCast = intercept[IllegalArgumentException] {
      Sampling.budgetedSample(
        corpus.withColumn("w", lit("not a number")), "id", "w", budget)
    }
    assert(eCast.getMessage.contains("NULL"),
      "a non-castable weight column is the same refusal as NULL")

    // the deterministic boundary form: all-zero weights, zero budget —
    // every bucket offset == budget, every inclusive cumsum == budget
    val allZero = (1L to 50L).map(i => (i, 0L)).toDF("id", "w")
    assert(Sampling.budgetedSample(allZero, "id", "w", 0L).count() === 50L,
      "offset-equals-budget buckets must not be pruned (zero-weight rows fit)")

    // property sweep: random weights (zeros included) × random budgets —
    // the two-phase selection must equal the global cumsum on every seed
    val rnd = new scala.util.Random(4242L)
    (1 to 5).foreach { trial =>
      val rows = (1L to 120L).map(i =>
        (i * 7919L % 100003L, // non-contiguous ids: hash order ≠ id order
          if (rnd.nextInt(5) == 0) 0L else rnd.nextInt(50).toLong + 1L))
      val df = rows.toDF("id", "w")
      val total = rows.map(_._2).sum
      val b = (rnd.nextDouble() * total * 1.1).toLong // sometimes > total
      def naiveB(buckets: Int): Set[Long] = {
        val h = xxhash64(col("id"), lit(42L))
        val gw = Window.orderBy(pmod(h, lit(buckets.toLong)), h, col("id"))
        df.withColumn("_cum", sum(col("w").cast("long")).over(gw))
          .where(col("_cum") <= b).select("id").collect().map(_.getLong(0)).toSet
      }
      val buckets = Seq(4, 32)(trial % 2)
      val got = Sampling.budgetedSample(df, "id", "w", b, buckets = buckets)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got === naiveB(buckets),
        s"trial $trial (budget $b, buckets $buckets): two-phase ≠ global order")
    }
  }

  test("mixToShares: binding group kept, proportions hit targets, deterministic") {
    import spark.implicits._
    // 400 a / 100 b / 300 c; targets (a 1/2, b 1/4, c 1/4) → binding group
    // is b (100 / 0.25 = 400 < a's 800, c's 1200): T = 400, rates
    // a = 200/400, b = 1, c = 100/300
    val corpus = ((1L to 400L).map(i => (i, "a")) ++
      (401L to 500L).map(i => (i, "b")) ++
      (501L to 800L).map(i => (i, "c"))).toDF("id", "grp")
    val shares = Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)
    val out = Sampling.mixToShares(corpus, "grp", "id", shares)
      .select("id", "grp").collect().map(r => (r.getLong(0), r.getString(1)))
    val byGrp = out.groupBy(_._2).view.mapValues(_.length).toMap
    // the binding group keeps everything (rate exactly 1 only drops a row
    // hashing to u == 1.0, which cannot occur: u < 1 by construction)
    assert(byGrp("b") === 100, s"binding group must survive whole, got $byGrp")
    // expected output ~400 rows at (1/2, 1/4, 1/4): hash-bernoulli keeps
    // each non-binding group within binomial noise of its target
    assert(math.abs(byGrp("a") - 200) <= 45, s"a off target: $byGrp")
    assert(math.abs(byGrp("c") - 100) <= 35, s"c off target: $byGrp")
    // content-determinism: layout never changes membership
    val again = Sampling.mixToShares(corpus.repartition(13), "grp", "id", shares)
      .select("id", "grp").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(again.toSet === out.toSet)
    // groups without a share are dropped entirely
    val extra = corpus.union(Seq((900L, "junk")).toDF("id", "grp"))
    assert(Sampling.mixToShares(extra, "grp", "id", shares)
      .where(col("grp") === "junk").count() === 0L)
    // a share group absent from the data is a typed error, not a silent 0
    val e = intercept[IllegalArgumentException] {
      Sampling.mixToShares(corpus, "grp", "id",
        Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.125, "ghost" -> 0.125))
    }
    assert(e.getMessage.contains("ghost"))
    // a null-keyed row belongs to no share group — typed refusal, not the
    // silent drop it used to be (and never an NPE)
    val withNull = corpus.union(Seq((901L, null: String)).toDF("id", "grp"))
    val eNullKey = intercept[IllegalArgumentException] {
      Sampling.mixToShares(withNull, "grp", "id", shares)
    }
    assert(eNullKey.getMessage.contains("non-null group keys"))
    // a non-string group column is a typed refusal too, not a ClassCast
    val eType = intercept[IllegalArgumentException] {
      Sampling.mixToShares(corpus.withColumn("grp2", col("id") % 3), "grp2",
        "id", Map("0" -> 1.0))
    }
    assert(eType.getMessage.contains("STRING group column"))

    // weighted mixing: targets are TOKEN shares — group a has 10x heavier
    // rows, so hitting a 50% token share needs ~10x fewer a-DOCS than the
    // doc-share mix would keep
    val weighted = corpus.withColumn("tok",
      when(col("grp") === "a", 100L).otherwise(10L))
    val wOut = Sampling.mixToShares(weighted, "grp", "id", shares,
      weightCol = Some("tok"))
      .groupBy("grp").agg(sum("tok").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // binding group by MASS: a = 40000/0.5 = 80000, b = 1000/0.25 = 4000,
    // c = 3000/0.25 = 12000 → b binds, T = 4000 tokens: targets
    // a 2000, b 1000 (whole), c 1000 tokens
    assert(wOut("b") === 1000L, s"binding group must survive whole: $wOut")
    assert(math.abs(wOut("a") - 2000L) <= 900L, s"a token mass off: $wOut")
    assert(math.abs(wOut("c") - 1000L) <= 450L, s"c token mass off: $wOut")
  }

  test("reservoir sampling is content-deterministic and layout-independent") {
    val k = 7
    val s1 = Sampling.reservoirPerKey(docs, "lang", "doc_id", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.reservoirPerKey(docs.repartition(13), "lang", "doc_id", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 === s2, "sample must not depend on physical layout")
    val perKey = Sampling.reservoirPerKey(docs, "lang", "doc_id", k)
      .groupBy("lang").count().collect()
    perKey.foreach(r => assert(r.getLong(1) <= k))
    val s3 = Sampling.reservoirPerKey(docs, "lang", "doc_id", k, seed = 43L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 !== s3, "different seed must give a different sample")
  }

  test("multimodal decode preserves rows, nulls, and batch schema") {
    import spark.implicits._
    val media = Seq(
      (1L, Array[Byte](0, 1, 2, 3, -1), ("jpeg", 2, 2)),
      (2L, null.asInstanceOf[Array[Byte]], ("png", 1, 1)),
      (3L, Array[Byte](), ("gif", 0, 0)))
      .toDF("media_id", "media", "m")
      .select(col("media_id"), col("media"),
        struct(col("m._1").as("format"), col("m._2").as("width"),
          col("m._3").as("height")).as("meta"))
    val out = Multimodal.decodeFeatures(media).orderBy("media_id").collect()
    assert(out.length === 3)
    assert(out(0).getLong(1) === 5L)
    assert(out(0).getString(2) === "jpeg")
    val hist = out(0).getSeq[Double](3)
    assert(hist.length === 8 && math.abs(hist.sum - 1.0) < 1e-9)
    assert(out(1).isNullAt(3), "null media must keep its row with null feature")
    assert(out(2).getSeq[Double](3).sum === 0.0)
  }

  test("real ImageIO decode: BMP pixels round-trip exactly, PNG losslessly") {
    import spark.implicits._
    val payload = Array.tabulate[Byte](70)(i => (i * 3).toByte) // 70 bytes -> 64x2
    val rows: Seq[(Long, Array[Byte])] =
      Seq((2L, payload), (3L, payload), (4L, null))
    val images = Multimodal.toImages(
      rows.toDF("media_id", "media"), width = 64, pngForOdd = true)
      .orderBy("media_id").collect()
    // formats: even -> raw BMP, odd -> real PNG codec round-trip
    assert(images(0).getString(2) === "bmp")
    assert(images(1).getString(2) === "png")
    assert(images(2).isNullAt(1) && images(2).isNullAt(2), "null row preserved")
    val bmpBytes = images(0).getAs[Array[Byte]](1)
    assert(bmpBytes(0) === 'B'.toByte && bmpBytes(1) === 'M'.toByte)

    val decoded = Multimodal.decodeImages(
      Multimodal.toImages(rows.toDF("media_id", "media"), 64))
      .orderBy("media_id").collect()
    // 70 payload bytes at width 64 -> 64x2 image, 128-70=58 zero pad pixels
    val expected = new Array[Long](8)
    payload.foreach(b => expected((b & 0xff) >>> 5) += 1)
    expected(0) += 128 - 70
    Seq(0, 1).foreach { i =>
      assert(decoded(i).getInt(2) === 64 && decoded(i).getInt(3) === 2)
      assert(decoded(i).getSeq[Long](4) === expected.toSeq,
        s"${decoded(i).getString(1)} luminance histogram must replay the payload exactly")
    }
    assert(decoded(2).isNullAt(1) && decoded(2).isNullAt(4), "null row preserved")

    // undecodable payload is a typed error on the strict path
    val bad: Seq[(Long, Array[Byte])] = Seq((9L, "not an image".getBytes))
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeImages(bad.toDF("media_id", "media")).collect()
    }
    assert(err.getMessage.contains("not a BMP/PNG") ||
      Option(err.getCause).exists(_.getMessage.contains("not a BMP/PNG")))
  }

  test("real javax.sound decode: WAV samples round-trip exactly") {
    import spark.implicits._
    val payload = Array.tabulate[Byte](100)(i => (i * 5).toByte)
    val rows: Seq[(Long, Array[Byte])] =
      Seq((1L, payload), (2L, Array.empty[Byte]), (3L, null))
    val wavs = Multimodal.toWavs(rows.toDF("media_id", "media"), sampleRate = 8000)
      .orderBy("media_id").collect()
    assert(wavs(0).getString(2) === "wav")
    assert(wavs(2).isNullAt(1) && wavs(2).isNullAt(2), "null row preserved")
    val wavBytes = wavs(0).getAs[Array[Byte]](1)
    assert(wavBytes.length === 44 + 200, "44-byte canonical header + 2 bytes/sample")

    val decoded = Multimodal.decodeAudio(
      Multimodal.toWavs(rows.toDF("media_id", "media"), 8000))
      .orderBy("media_id").collect()
    val expected = new Array[Long](8)
    payload.foreach(b => expected((b & 0xff) >>> 5) += 1)
    assert(decoded(0).getInt(2) === 8000 && decoded(0).getInt(3) === 1)
    assert(decoded(0).getLong(4) === 100L)
    assert(decoded(0).getSeq[Long](5) === expected.toSeq,
      "amplitude histogram must replay the payload bytes exactly (bucket = b >> 5)")
    // empty payload: a VALID zero-sample WAV, not an error
    assert(decoded(1).getLong(4) === 0L)
    assert(decoded(1).getSeq[Long](5).sum === 0L)
    assert(decoded(2).isNullAt(1) && decoded(2).isNullAt(5), "null row preserved")

    // undecodable payload is a typed error on the strict path
    val bad: Seq[(Long, Array[Byte])] = Seq((9L, "not audio at all".getBytes))
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAudio(bad.toDF("media_id", "media")).collect()
    }
    assert(err.getMessage.contains("not a RIFF/WAVE") ||
      Option(err.getCause).exists(_.getMessage.contains("not a RIFF/WAVE")))
  }

  test("codec stages widen a narrow scan; cheap stages and wide inputs stay put") {
    import spark.implicits._
    val rows: Seq[(Long, Array[Byte])] =
      (0L until 64L).map(i => (i, Array.tabulate[Byte](40)(j => (i + j).toByte)))
    val p = spark.sparkContext.defaultParallelism
    // a single-split source (the one-59MB-file shape that ran the 100x
    // decode on one task) must fan out to the session's parallelism
    val narrow = rows.toDF("media_id", "media").coalesce(1)
    assert(Multimodal.toWavs(narrow).rdd.getNumPartitions === p,
      "codec synthesis on a narrow scan must widen to defaultParallelism")
    assert(Multimodal.decodeAudio(Multimodal.toWavs(narrow)).rdd.getNumPartitions === p,
      "the downstream decode must inherit the widened partitioning, not re-shuffle")
    // an input already wider than the session keeps its partitioning
    val wide = rows.toDF("media_id", "media").repartition(p + 3)
    assert(Multimodal.toImages(wide, width = 8).rdd.getNumPartitions === p + 3,
      "widen must be a no-op when splits >= cores (no shuffle added at corpus scale)")
    // scan-cost stages take no widen stage at all
    assert(Multimodal.resize(narrow, outLen = 4).rdd.getNumPartitions === 1,
      "resize is scan-cost work and must not pay a widen shuffle")
  }

  test("strict sniff: RIFF prefix alone cannot false-positive as WAV; dispatch is real") {
    val trap = ("RIFF" + "x" * 100).getBytes // magic but inconsistent size field
    assert(Multimodal.sniffWav(trap) === None)
    val wav = Multimodal.encodeWav(Array[Byte](1, 2, 3), 8000)
    assert(Multimodal.sniffWav(wav) === Some("wav"))
    assert(Multimodal.sniffImage(wav) === None, "formats must not cross-sniff")
    assert(Multimodal.sniffWav(Multimodal.encodeBmp(Array[Byte](1, 2, 3), 4)) === None)
    // dispatch: a real WAV through decodeFeatures uses javax.sound
    // (histogram over 16-bit SAMPLES), not the byte-histogram fallback —
    // all-100 payload bytes land the whole mass in amplitude bucket 3,
    // while the byte fallback would see the RIFF header bytes too
    import spark.implicits._
    val rows = Seq((1L, Multimodal.encodeWav(Array.fill[Byte](8)(100), 8000), ("wav", 0, 0)))
      .toDF("media_id", "media", "m")
      .select(col("media_id"), col("media"),
        struct(col("m._1").as("format"), col("m._2").as("width"),
          col("m._3").as("height")).as("meta"))
    val feat = Multimodal.decodeFeatures(rows).collect()(0).getSeq[Double](3)
    assert(feat(100 >>> 5) === 1.0,
      "all-100 samples must land the whole mass in amplitude bucket 3")
  }

  test("strict sniff: text starting with BM cannot false-positive as an image") {
    val trap = ("BM" + "x" * 100).getBytes // magic but inconsistent size fields
    assert(Multimodal.sniffImage(trap) === None)
    assert(Multimodal.sniffImage(Multimodal.encodeBmp(Array[Byte](1, 2, 3), 4))
      === Some("bmp"))
    assert(Multimodal.sniffImage(
      Multimodal.transcodePng(Multimodal.encodeBmp(Array[Byte](1, 2, 3), 4)))
      === Some("png"))
    // dispatch: a real BMP through decodeFeatures uses ImageIO (histogram
    // over PIXELS incl. padding), not the byte-histogram fallback
    import spark.implicits._
    val bmp = Multimodal.encodeBmp(Array.fill[Byte](8)(100), 8) // 8x1, all 100
    val rows = Seq((1L, bmp, ("bmp", 8, 1)))
      .toDF("media_id", "media", "m")
      .select(col("media_id"), col("media"),
        struct(col("m._1").as("format"), col("m._2").as("width"),
          col("m._3").as("height")).as("meta"))
    val feat = Multimodal.decodeFeatures(rows).collect()(0).getSeq[Double](3)
    assert(feat(100 >>> 5) === 1.0,
      "all-100 pixels must land the whole mass in luminance bucket 3")
  }

  test("resize subsamples uniformly; null and empty rows preserved") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array.tabulate(16)(_.toByte)),       // 16 -> 4: indices 0,4,8,12
      (2L, null.asInstanceOf[Array[Byte]]),
      (3L, Array.empty[Byte]),
      (4L, Array[Byte](7)))                     // 1 -> 4: all index 0
    val out = Multimodal.resize(rows.toDF("media_id", "media"), outLen = 4)
      .orderBy("media_id").collect()
    assert(out(0).getAs[Array[Byte]]("media").toSeq === Seq[Byte](0, 4, 8, 12))
    assert(out(1).isNullAt(1), "null media row preserved as null")
    assert(out(2).getAs[Array[Byte]]("media").isEmpty, "empty stays empty")
    assert(out(3).getAs[Array[Byte]]("media").toSeq === Seq[Byte](7, 7, 7, 7),
      "upsampling repeats source bytes (nearest neighbor)")
  }

  test("frame sampling chunks binary payloads deterministically") {
    import spark.implicits._
    val media = Seq((1L, Array.tabulate[Byte](10)(_.toByte)))
      .toDF("media_id", "media")
    val frames = Multimodal.sampleFrames(media, chunkBytes = 4, stride = 1)
      .orderBy("frame_idx").collect()
    assert(frames.length === 3) // 10 bytes / 4 = 3 chunks
    assert(frames(0).getAs[Array[Byte]]("frame").toSeq === Seq[Byte](0, 1, 2, 3))
    assert(frames(2).getAs[Array[Byte]]("frame").toSeq === Seq[Byte](8, 9))

    // null media keeps its row (null frame); empty media keeps its row and
    // emits no bogus frame — same row-preservation invariant as decode
    val rows: Seq[(Long, Array[Byte])] =
      Seq((1L, Array[Byte](1, 2, 3)), (2L, null), (3L, Array.empty[Byte]))
    val edge = Multimodal.sampleFrames(rows.toDF("media_id", "media"), 2, 1)
      .orderBy("media_id", "frame_idx").collect()
    val byId = edge.groupBy(_.getLong(0))
    assert(byId(1L).length === 2 && byId(1L).forall(!_.isNullAt(1)))
    assert(byId(2L).length === 1 && byId(2L).head.isNullAt(1), "null media row preserved")
    assert(byId(3L).length === 1 && byId(3L).head.isNullAt(1), "empty media row preserved, no bogus frame")
  }

  test("repetition signals: exact fractions, integer flag, degenerate docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a a"),          // 4 tokens, 1 distinct; 3 2grams, 1 distinct
      (2L, "a b c d"),          // no repetition
      (3L, "a b a b a b"),      // 5 2grams, 2 distinct -> dup frac 0.6
      (4L, "solo"),             // 1 token: zero 2grams, flag false
      (5L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_tokens") === 4L)
    assert(r(0).getAs[Long]("n_distinct_words") === 1L)
    assert(r(0).getAs[Long]("n_distinct_2grams") === 1L)
    assert(r(0).getAs[Double]("dup_word_frac") === 0.75)
    assert(r(0).getAs[Double]("dup_2gram_frac") === 0.6667)
    assert(r(0).getAs[Boolean]("repetitive"))
    assert(!r(1).getAs[Boolean]("repetitive") &&
      r(1).getAs[Double]("dup_2gram_frac") === 0.0)
    assert(r(2).getAs[Double]("dup_2gram_frac") === 0.6 &&
      r(2).getAs[Boolean]("repetitive"))
    assert(r(3).getAs[Long]("n_2grams") === 0L &&
      r(3).getAs[Double]("dup_2gram_frac") === 0.0 &&
      !r(3).getAs[Boolean]("repetitive"))
    assert(r(4).getAs[Long]("n_tokens") === 0L && !r(4).getAs[Boolean]("repetitive"))
    assert(r(4).getAs[Double]("dup_word_frac") === 0.0, "empty doc is not 'all duplicates'")
    // flag boundary is strict: exactly at the threshold does not fire
    // (dup=1 of 20 2grams = 0.05, flagPermille default 50)
    val edge = Seq((9L, (1 to 20).map(i => s"w$i").mkString(" ") + " w1 w2"))
      .toDF("doc_id", "text") // 22 tokens, 21 2grams, 1 duplicate ("w1 w2")
    val er = TextAnalysis.repetition(edge, "text", "doc_id").collect()(0)
    assert(er.getAs[Long]("n_2grams") === 21L)
    assert(er.getAs[Long]("n_distinct_2grams") === 20L)
    assert(!er.getAs[Boolean]("repetitive"), "1000/21000 < 50/1000·21 — below threshold")
  }

  test("bpe-ish tokens: maximal letter/digit/symbol runs") {
    import spark.implicits._
    val df = Seq(("""{"k": 69}""", 1), ("a1b--2", 2), ("", 3), ("   ", 4))
      .toDF("s", "i")
    val out = df.orderBy("i")
      .select(TextAnalysis.bpeTokens(col("s"))).as[Seq[String]].collect()
    assert(out(0) === Seq("{\"", "k", "\":", "69", "}"))
    assert(out(1) === Seq("a", "1", "b", "--", "2"))
    assert(out(2) === Seq.empty && out(3) === Seq.empty)
  }

  test("distinctive terms: rarity-weighted ranking with term tiebreak") {
    import spark.implicits._
    val df = Seq(
      (1L, "apple apple banana common"),  // apple tf=2 df=1 -> 2.0 wins
      (2L, "banana cherry common common"),
      (3L, "common common common date")).toDF("doc_id", "text")
    // dfs: apple 1, banana 2, cherry 1, common 3, date 1
    val out = TextAnalysis.distinctiveTerms(df, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out(0) === ((1L, "apple", 2L, 1L, 1L)))   // 2/1 = 2.0
    assert(out(1) === ((1L, "banana", 1L, 2L, 2L)))  // 0.5 > common 1/3
    assert(out(2) === ((2L, "cherry", 1L, 1L, 1L)))  // 1.0
    // doc 2: common tf=2 df=3 = 0.667 beats banana 0.5
    assert(out(3) === ((2L, "common", 2L, 3L, 2L)))
    assert(out(4) === ((3L, "common", 3L, 3L, 1L)))  // 1.0, beats date on tie? 3/3 vs 1/1
    // tie 1.0 vs 1.0 -> term asc: "common" < "date"
    assert(out(5) === ((3L, "date", 1L, 1L, 2L)))
  }

  test("shared spans: cross-doc windows count, intra-doc repeats don't") {
    import spark.implicits._
    val common = "a b c d e f g h" // one 8-token window
    val df = Seq(
      (1L, s"$common x1 y1"),                   // 3 windows, 1 shared w/ doc 2
      (2L, s"z2 $common"),                      // 2 windows, 1 shared w/ doc 1
      (3L, "q r s t u v w aa bb"),              // 2 windows, nothing shared
      (4L, "too short"),                        // < 8 tokens: zero windows
      (5L, "p1 p2 p3 p4 p5 p6 p7 p8 gap p1 p2 p3 p4 p5 p6 p7 p8")
      // the same window twice WITHIN one doc: distinct-per-doc, so its
      // corpus doc-count is 1 — intra-doc repetition is px23's business
    ).toDF("doc_id", "text")
    val out = Dedup.sharedSpans(df, "doc_id", "text", n = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out(0) === ((1L, 3L, 1L, true)))  // 10 > 3
    assert(out(1) === ((2L, 2L, 1L, true)))
    assert(out(2) === ((3L, 2L, 0L, false)))
    assert(out(3) === ((4L, 0L, 0L, false)))
    assert(out(4)._3 === 0L, "intra-doc repeat must not count as shared")
  }

  test("decontamination: per-single-bench max overlap; hot-shingle cap") {
    import spark.implicits._
    val bench = Seq(
      (100L, "alpha beta gamma delta"),        // shingles: ab g, b g d
      (101L, "one two three four five")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares both 3-gram shingles of bench 100 -> overlap 2
      (1L, "alpha beta gamma delta extra"),
      // shares 1 shingle with EACH bench doc -> max_overlap 1 (not summed)
      (2L, "alpha beta gamma zz one two three"),
      (3L, "nothing shared here at all")).toDF("doc_id", "text")
    val out = Decontaminate.overlap(corpus, bench, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 2L), (2L, 1L)), "per-single-bench-doc max, zero-overlap docs absent")

    // a shingle present in > maxBenchDF bench docs is dropped before the join
    val hotBench = Seq(
      (200L, "the common phrase one"),
      (201L, "the common phrase two"),
      (202L, "the common phrase three")).toDF("doc_id", "text")
    val probe = Seq((10L, "the common phrase xyz")).toDF("doc_id", "text")
    val capped = Decontaminate.overlap(probe, hotBench, "doc_id", "text",
      n = 3, maxBenchDF = Some(2)).collect()
    assert(capped.isEmpty, "'the common phrase' occurs in 3 bench docs > cap 2")
    val uncapped = Decontaminate.overlap(probe, hotBench, "doc_id", "text", n = 3)
      .collect()
    assert(uncapped.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((10L, 1L)))

    // guarded broadcast: above the threshold the FORCED broadcast hint is
    // dropped — Spark's own statistics-based (and size-protected) join
    // choice takes over — with identical answers. (On this tiny fixture
    // Spark still auto-broadcasts; the point is the hint no longer
    // overrides its size protection.)
    val big = Decontaminate.overlap(probe, hotBench, "doc_id", "text", n = 3,
      maxBroadcastShingleRows = 0L)
    assert(big.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((10L, 1L)))

    // the guard costs exactly ONE job per overlap() call, cap or no cap
    // (with a cap, the broadcast-row count folds into the cap aggregation)
    val actions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def settledCount(): Int = {
      var prev = -1; var cur = actions.get(); var spins = 0
      while (cur != prev || spins < 3) {
        prev = cur; Thread.sleep(200); cur = actions.get(); spins += 1
      }
      cur
    }
    spark.listenerManager.register(listener)
    // the listener bus delivers queued events to listeners registered at
    // DELIVERY time — a late event from the preceding collect() can land
    // in the counter. Settle once and RESET before the first assertion so
    // only jobs triggered below are counted.
    settledCount(); actions.set(0)
    try {
      Decontaminate.overlap(probe, hotBench, "doc_id", "text", n = 3,
        maxBenchDF = Some(2)) // plan construction only — no collect
      assert(settledCount() === 1,
        "capped guard must fold the broadcast-row count into ONE aggregation job")
      actions.set(0)
      Decontaminate.overlap(probe, hotBench, "doc_id", "text", n = 3)
      assert(settledCount() === 1, "uncapped guard must cost ONE count job")
      // the SEMANTIC guard reads Catalyst's size estimate — zero jobs at
      // plan-construction time (it used to pay an eager bench.count())
      actions.set(0)
      import spark.implicits._
      val benchV = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
      val corpusV = Seq((2L, Array(0f, 1f))).toDF("vec_id", "embedding")
      Decontaminate.semanticOverlap(corpusV, benchV,
        "vec_id", "embedding", threshold = 0.9)
      assert(settledCount() === 0,
        "semantic guard must not run any job at plan-construction time")
    } finally spark.listenerManager.unregister(listener)
  }

  test("token/quality/langid edge cases: empty and whitespace-only text") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "   "), (3L, "the quick fox"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val toks = df.where(col("text").isNotNull)
      .select(TextAnalysis.tokenCount(col("text"))).as[Long]
      .collect().toSeq
    assert(toks === Seq(0L, 0L, 3L))
    // NULL text classifies as 'und', as the CASE cascade StopLang replaced did
    val lang = TextAnalysis.langId(df, "text", "doc_id").orderBy("doc_id")
      .select("lang_pred").as[String].collect().toSeq
    assert(lang === Seq("und", "und", "en", "und"))
    val q = TextAnalysis.quality(df, "text", "doc_id").orderBy("doc_id").collect()
    assert(q(0).getAs[Long]("n_tokens") === 0L)
    assert(q(2).getAs[Double]("stop_ratio") === 0.3333)
  }

  test("redactPii masks email/ip/phone and counts match hand-count") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a.b@x.co and c@y.org then 10.0.0.1 call 555-0199"),
      (2L, "no pii here"),
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_email") === 2L)
    assert(out(0).getAs[Long]("n_ipv4") === 1L)
    assert(out(0).getAs[Long]("n_phone") === 1L)
    // masks really replaced the matches: redacted length = template length
    val expected = "mail <EMAIL> and <EMAIL> then <IP> call <PHONE>".length.toLong
    assert(out(0).getAs[Long]("redacted_len") === expected)
    assert(out(1).getAs[Long]("n_email") === 0L)
    assert(out(2).getAs[Long]("redacted_len") === 0L)
  }

  test("chunk covers every char, overlaps by chunk-stride, and is exact on boundaries") {
    import spark.implicits._
    // len 350 = 200 + exactly one stride → 2 chunks, second is full-width
    // len 120 < chunk → 1 chunk; empty text → 1 empty chunk
    val df = Seq(
      (1L, "a" * 350), (2L, "b" * 120), (3L, ""), (4L, "c" * 351))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunk(df, "text", "doc_id", 200, 150)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "chunk_chars")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, 0L, 200L), (1L, 1L, 200L),
      (2L, 0L, 120L),
      (3L, 0L, 0L),
      (4L, 0L, 200L), (4L, 1L, 200L), (4L, 2L, 51L)))
  }

  test("quantizedTopK ranks by integer dot with deterministic ties") {
    import spark.implicits._
    // unit-ish vectors chosen so quantized dots have a known order;
    // vec 1 queries the rest
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),    // codes (127, 0)
      (2L, Array(1.0f, 1.0f)),    // codes (127, 127) → dot 16129
      (3L, Array(0.5f, 0.0f)),    // codes (127, 0)   → dot 16129 (tie → nbr)
      (4L, Array(0.0f, 1.0f)),    // codes (0, 127)   → dot 0
      (5L, Array(-1.0f, 0.0f)))   // codes (-127, 0)  → dot -16129
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizedTopK(df, df.where(col("vec_id") === 1),
      "vec_id", "embedding", k = 4)
      .orderBy("rank")
      .select("nbr", "dot", "rank")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (2L, 16129L, 1L), (3L, 16129L, 2L), (4L, 0L, 3L), (5L, -16129L, 4L)))
  }

  test("quantizeInt8: extremes hit ±127, zero vector yields all-zero codes") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f)),   // ma=2 → codes 64,-127,32
      (2L, Array(0.0f, 0.0f, 0.0f)),    // zero vector → 0,0,0
      (3L, Array(-3.0f))                // single negative → -127
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .orderBy("vec_id")
      .select("vec_id", "n_dims", "code_sum", "code_min", "code_max")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // 1.0*127/2+0.5 → floor(64.0)=64 ; -2*127/2+0.5 → floor(-126.5)=-127 ;
    // 0.5*127/2+0.5 → floor(32.25)=32
    assert(out === Seq(
      (1L, 3L, 64L - 127L + 32L, -127L, 64L),
      (2L, 3L, 0L, 0L, 0L),
      (3L, 1L, -127L, -127L, -127L)))
  }

  test("bpeTrain learns hand-computed merges and stops when no pairs remain") {
    import spark.implicits._
    // corpus: "aaab" x3, "ab" x2
    // step 1: (a,a) appears twice per aaab -> 6  > (a,b) 3+2=5    -> merge aa
    // step 2: syms aaab=[aa,a,b]: (aa,a)=3, (a,b)=3+2=5           -> merge ab
    // step 3: [aa,ab]: (aa,ab)=3                                  -> merge aaab
    // step 4: no adjacent pairs left anywhere -> early stop at 3 rules
    val df = Seq((1L, "aaab aaab"), (2L, "aaab ab ab"))
      .toDF("doc_id", "text")
    val rules = TextAnalysis.bpeTrain(df, "text", merges = 5)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(rules === Seq(
      (1L, "a", "a", 6L),
      (2L, "a", "b", 5L),
      (3L, "aa", "ab", 3L)))
  }

  test("bpeEncode compresses: symbols shrink by exactly the merged pairs") {
    import spark.implicits._
    val df = Seq((1L, "aaab aaab"), (2L, "aaab ab ab"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(df, "text", "doc_id", merges = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_words", "n_symbols", "n_chars")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // after 3 merges (aa, ab, aa+ab) every "aaab" is ONE symbol and every
    // "ab" is one symbol
    assert(out === Seq(
      (1L, 2L, 2L, 8L),
      (2L, 3L, 3L, 8L)))
  }

  test("incrementalNew == plain anti-join; empty corpus keeps everything") {
    import spark.implicits._
    val existing = Seq((0L, "alpha"), (2L, "beta"), (4L, "gamma"))
      .toDF("doc_id", "text")
    val batch = Seq((1L, "alpha"), (3L, "delta"), (5L, "beta"), (7L, "epsilon"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalNew(existing, batch, "doc_id", "text",
      expectedItems = 100L)
      .as[Long].collect().sorted.toSeq
    assert(kept === Seq(3L, 7L), "dups vs existing must be dropped")
    val plain = batch.join(existing.select("text"), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === plain, "bloom prefilter must not change the result")
    val all = Dedup.incrementalNew(existing.limit(0), batch, "doc_id", "text",
      expectedItems = 100L)
      .as[Long].collect().sorted.toSeq
    assert(all === Seq(1L, 3L, 5L, 7L), "empty corpus → whole batch is new")
  }

  test("oovBigrams: top-k membership, zero-bigram docs, majority flag") {
    import spark.implicits._
    // "a b" appears 3x (in-vocab at k=1); everything else is OOV
    val df = Seq(
      (1L, "a b a b"),   // bigrams: a b, b a, a b → 1 OOV of 3
      (2L, "a b"),       // 1 bigram, in vocab → 0 OOV
      (3L, "x y z"),     // 2 bigrams, both OOV → mostly_oov
      (4L, "solo"))      // 0 bigrams
      .toDF("doc_id", "text")
    val out = TextAnalysis.oovBigrams(df, "text", "doc_id", k = 1)
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "n_oov", "mostly_oov")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out === Seq(
      (1L, 3L, 1L, false),
      (2L, 1L, 0L, false),
      (3L, 2L, 2L, true),
      (4L, 0L, 0L, false)))
  }

  test("lengthOutliers: integer flags around an exact group median") {
    import spark.implicits._
    val df = Seq(
      ("a", 10L), ("a", 20L), ("a", 30L), ("a", 100L), // median 25 → m2 50
      ("b", 5L), ("b", 7L), ("b", 9L))                 // median 7  → m2 14
      .toDF("source", "n_chars")
    val out = TextAnalysis.lengthOutliers(df, "n_chars", "source")
      .orderBy("source")
      .select("source", "n_docs", "n_high", "n_low")
      .as[(String, Long, Long, Long)].collect().toSeq
    // a: high ⟺ len > 37.5 (only 100); low ⟺ len < 12.5 (only 10)
    assert(out === Seq(("a", 4L, 1L, 1L), ("b", 3L, 0L, 0L)))
  }

  test("searchConjunctive: tf ranking, conjunction filter, k cut") {
    import spark.implicits._
    val df = Seq(
      (1L, "join hash scan join"),            // tf (2,1,1) score 4
      (2L, "join hash"),                      // missing scan → excluded
      (3L, "scan hash join"),                 // (1,1,1) score 3
      (4L, "join join hash hash scan scan"),  // (2,2,2) score 6
      (5L, "nothing relevant here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.searchConjunctive(df, "text", "doc_id",
      Seq("join", "hash", "scan"), k = 2)
      .select("doc_id", "tf_join", "tf_hash", "tf_scan", "score")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((4L, 2L, 2L, 2L, 6L), (1L, 2L, 1L, 1L, 4L)),
      "rank by total tf desc, doc_id tiebreak, top-k cut")
  }

  test("searchMany == searchConjunctive per query on a random corpus") {
    import spark.implicits._
    val vocab = Vector("join", "hash", "scan", "sort", "agg", "row", "x")
    val rnd = new scala.util.Random(11)
    val docs = (1L to 120L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val queries = Seq(
      1L -> Seq("join", "hash"),
      2L -> Seq("scan", "sort", "agg"),
      3L -> Seq("row"),
      4L -> Seq("join", "join", "hash")) // dup terms must not change results
    val many = TextAnalysis.searchMany(docs, "text", "doc_id", queries, k = 7)
      .select("query_id", "doc_id", "score", "rank")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    queries.foreach { case (qid, terms) =>
      val scan = TextAnalysis.searchConjunctive(docs, "text", "doc_id",
        terms.distinct, k = 7)
        .select(col("doc_id"), col("score"))
        .as[(Long, Long)].collect().toSeq
      assert(many.getOrElse(qid, Seq.empty) === scan,
        s"query $qid: index form must equal scan form")
    }
    // a query containing a term absent from the corpus matches nothing
    val absent = TextAnalysis.searchMany(docs, "text", "doc_id",
      Seq(9L -> Seq("join", "zzz_not_in_corpus")), k = 7)
    assert(absent.count() === 0L, "absent term must fail the conjunction")
  }

  test("noveltyVsReference: distinct-bigram novelty, zero-bigram docs, majority flag") {
    import spark.implicits._
    val ref = Seq((0L, "a b c")).toDF("doc_id", "text")       // vocab: a b, b c
    val batch = Seq(
      (1L, "a b x"),    // {a b, b x} → 1 novel of 2, not mostly
      (3L, "z z z"),    // {z z} → 1 of 1, mostly
      (5L, "a b c"),    // fully covered → 0 of 2
      (7L, "solo"))     // no bigrams
      .toDF("doc_id", "text")
    val out = TextAnalysis.noveltyVsReference(batch, ref, "text", "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "n_novel", "mostly_novel")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out === Seq(
      (1L, 2L, 1L, false),
      (3L, 1L, 1L, true),
      (5L, 2L, 0L, false),
      (7L, 0L, 0L, false)))
  }

  test("heavyHitters: exact, layout-independent, bounded candidates catch spread items") {
    import spark.implicits._
    // heavy item "h" spread uniformly so no single partition sees it
    // concentrated; plus medium and noise items around the threshold
    val rows = (Seq.fill(300)("h") ++ Seq.fill(80)("m") ++
      (1 to 600).map(i => s"n$i")).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }
    val rnd = new scala.util.Random(3)
    val shuffled = rnd.shuffle(rows)
    val exact = shuffled.groupBy(_._2).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * 8 > rows.size }.toMap // support 8: > 122.5
    for (parts <- Seq(1, 4, 13)) {
      val df = shuffled.toDF("id", "item").repartition(parts)
      val got = TextAnalysis.heavyHitters(df, "item", support = 8, counters = 16)
        .as[(String, Long)].collect().toMap
      assert(got === exact, s"parts=$parts: must equal the exact answer")
    }
    assert(exact === Map("h" -> 300L), "fixture sanity: only h is heavy")
  }

  test("curation export sink: partitionBy(split) layout, lossless round-trip") {
    // the SINK end of the pipeline: hash-split the corpus and write it as
    // a training-ready partitioned dataset. partitionBy gives one
    // directory per split so a trainer reads its slice with partition
    // pruning (no full scan) — the layout a 100 TB export needs.
    import spark.implicits._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val split = Sampling.hashSplit(docs, "doc_id",
      Seq("val" -> 0.1, "test" -> 0.1))
    val out = java.nio.file.Files.createTempDirectory("graft-export-").toString
    split.write.mode("overwrite").partitionBy("split").parquet(out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs === Set("split=train", "split=val", "split=test"),
      s"one directory per split, got $dirs")
    val back = spark.read.parquet(out)
    // partition pruning must reach the file index: one split's read plan
    // lists only its own directory
    val pruned = back.where(col("split") === "val")
      .queryExecution.executedPlan.toString
    assert(!pruned.contains("split=train"),
      s"reading one split must prune the others:\n$pruned")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(key(back) === key(split), "round-trip must be lossless")
  }

  test("corpusAgreement: identical groups agree on all slots; == independent re-merge") {
    import spark.implicits._
    val shared = Seq("alpha beta gamma delta", "the quick brown fox jumps")
    val df = (
      shared.map(t => ("s1", t)) ++ shared.map(t => ("s2", t)) ++
        Seq(("s3", "completely different words here entirely")))
      .zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    val got = Similarity.corpusAgreement(df, "text", "source", slots = 16)
      .orderBy("s1", "s2")
      .as[(String, String, Long)].collect().toSeq
    // independent re-merge: elementwise MIN of per-doc signatures, then
    // slot-by-slot compare (the px49 oracle's computation, in-plan)
    val merged = df.select(col("source"),
      posexplode(graft.functions.MinHashSigs(
        TextAnalysis.shingles(col("text"), 3), 16)).as(Seq("pos", "h")))
      .groupBy("source", "pos").agg(min("h").as("mh"))
    val want = merged.as("a").join(merged.as("b"),
        col("a.pos") === col("b.pos") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(sum(when(col("a.mh") === col("b.mh"), 1L).otherwise(0L)).as("n"))
      .orderBy("s1", "s2")
      .as[(String, String, Long)].collect().toSeq
    assert(got === want, "UDAF merge must equal the independent re-merge")
    val m = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(m(("s1", "s2")) === 16L, "identical corpora agree on every slot")
    assert(m(("s1", "s3")) < 16L, "disjoint corpora must not fully agree")
  }

  test("collocations: exact integer-derived lift, minCount prune") {
    import spark.implicits._
    val df = Seq(
      (1L, "big data big data"), // bigrams: big data ×2, data big ×1
      (2L, "big data rocks"))    // big data ×1, data rocks ×1
      .toDF("doc_id", "text")
    // unigrams: big 3, data 3, rocks 1 → N = 7; only "big data" (3) ≥ 2
    val out = TextAnalysis.collocations(df, "text", k = 10, minCount = 2L)
      .select("bigram", "pair_count", "left_count", "right_count", "lift")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq(("big data", 3L, 3L, 3L, (3L * 7L).toDouble / (3L * 3L).toDouble)))
  }

  test("bigramCounts: bag semantics, lowercase, <2-token docs contribute nothing") {
    import spark.implicits._
    val df = Seq(
      (1L, "The cat sat"), (2L, "the cat"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramCounts(df, "text")
      .orderBy(col("cnt").desc, col("bigram"))
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("the cat", 2L), ("cat sat", 1L)))
  }

  test("shuffleShard: deterministic permutation, dense per-shard positions, seed-sensitive") {
    val out = Sampling.shuffleShard(docs, "doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val n = docs.count()
    assert(out.length === n)
    assert(out.map(_._1).distinct.length === n, "every doc exactly once")
    out.groupBy(_._2).foreach { case (s, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq,
        s"shard $s positions must be dense 0..${rows.length - 1}")
    }
    val again = Sampling.shuffleShard(docs, "doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSet === again.toSet, "same seed must be bit-identical")
    val other = Sampling.shuffleShard(docs, "doc_id", seed = 7L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(other.map(_._1).sorted.toSeq === out.map(_._1).sorted.toSeq,
      "an epoch re-shuffle permutes, never drops")
    assert(other.toSet !== out.toSet, "a new seed is a new permutation")
    val sizes = out.groupBy(_._2).values.map(_.length)
    assert(sizes.max <= 2 * (n / Sampling.ShuffleShards).toInt + 8,
      s"hash sharding must stay near-uniform, got $sizes")
  }

  test("c4Clean: full C4 rules line by line on constructed prose") {
    import spark.implicits._
    val df = Seq(
      (1L, "This is a good sentence.\nshort one.\nno punct at all here\n" +
        "Another proper sentence here!\nthis line mentions JavaScript sadly."),
      (2L, "lorem ipsum dolor sit amet.\nA fine long sentence right here."),
      (3L, "A fine long sentence right here. { code }"),
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.c4Clean(df, "doc_id", "text").orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getBoolean(3)))
    // doc 1: keeps the two proper sentences; drops the short line (<3
    // words), the unterminated line, and the javascript line
    assert(out(0) === ((1L, 2L,
      "This is a good sentence.\nAnother proper sentence here!", true)))
    // doc 2: both lines survive the LINE rules, the DOC is dropped by
    // the lorem-ipsum rule
    assert(out(1) === ((2L, 2L,
      "lorem ipsum dolor sit amet.\nA fine long sentence right here.", false)))
    // doc 3: brace doc, and its only line ends in '}' — nothing survives
    assert(out(2) === ((3L, 0L, "", false)))
    // doc 4: empty text cleans to empty, dropped
    assert(out(3) === ((4L, 0L, "", false)))
  }

  test("qualityClassifier: logit == independent explode-plan dot product; empty doc scores 0") {
    import spark.implicits._
    // independent computation: explode the same feature set, hash, weight,
    // sum per doc — a different Spark plan (shuffle agg) must agree with
    // the aggregate() map-stage exactly, integer for integer
    val expected = docs
      .select(col("doc_id"),
        explode_outer(TextAnalysis.classifierFeatures(col("text"))).as("g"))
      .select(col("doc_id"),
        when(col("g").isNull, lit(0L)).otherwise(TextAnalysis.bucketWeight(
          pmod(xxhash64(col("g")),
            lit(TextAnalysis.ClassifierBuckets.toLong)))).as("w"))
      .groupBy("doc_id").agg(sum("w").as("logit"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = TextAnalysis.qualityClassifier(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.nonEmpty)
    got.foreach { case (id, logit, q) =>
      assert(logit === expected(id), s"doc $id logit mismatch")
      assert(q === (logit > 0L))
    }
    assert(got.map(_._1).toSet === expected.keySet)
    // both quality classes occur on the corpus (the weights are not
    // degenerate) and an empty document scores exactly 0 / false
    assert(got.exists(_._3) && got.exists(!_._3))
    val empty = TextAnalysis.qualityClassifier(
      Seq((9L, ""), (10L, "   ")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(empty === Set((9L, 0L, false), (10L, 0L, false)))
  }

  test("semantic cluster prune: verdicts == quadratic within-cell replay") {
    val e = embs.select(col("vec_id"), col("embedding"))
    val t = 0.3
    val got = Similarity.semanticClusterPrune(e, "vec_id", "embedding",
      nlist = 16, threshold = t)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(got.length === e.count())
    // independent replay: same deterministic assignment, then a plain
    // quadratic pair join per cell and the min-id prune rule
    val cells = Similarity.clusterAssignments(e, "vec_id", "embedding",
      nlist = 16)
    val prunedExpected = cells.as("a").join(cells.as("b"),
        col("a._cell") === col("b._cell") && col("a._id") < col("b._id"))
      .where(round(Similarity.cosine(col("a._v"), col("b._v")), 6) >= t)
      .select(col("b._id")).distinct()
      .collect().map(_.getLong(0)).toSet
    got.foreach { case (id, _, pruned) =>
      assert(pruned === prunedExpected.contains(id), s"vec $id verdict")
    }
    // the corpus exercises both classes at this threshold
    assert(got.exists(_._3) && got.exists(!_._3))
    // the min id of every cell is never pruned (it has no smaller-id
    // neighbor) — the representative always survives
    got.groupBy(_._2).foreach { case (cell, members) =>
      val minId = members.map(_._1).min
      assert(!members.find(_._1 == minId).get._3, s"cell $cell min id pruned")
    }
    // determinism: a second full run (fresh Lloyd train included) agrees
    val again = Similarity.semanticClusterPrune(e, "vec_id", "embedding",
      nlist = 16, threshold = t)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(again.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
  }
}
