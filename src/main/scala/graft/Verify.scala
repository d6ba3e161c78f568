package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (comma-separated query names) = local-iteration
    // filter; the driver always calls with exactly (sfDir, outDir)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = GraftSession(GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Auxiliary oracle inputs: hash signatures DuckDB cannot recompute
    // (xxhash64 / seeded-hyperplane based). Dumped NEXT TO outDir (a child
    // dir would be swept up by the driver's per-query result glob) and
    // referenced from the oracle SQL via PipelineQueries.AuxToken, which is
    // substituted with this run's absolute path below — so concurrent or
    // stale runs against different sfDirs can never cross-feed signatures.
    // The oracle re-derives the banding joins and exact verifies
    // QUADRATICALLY in DuckDB — independent ground truth for the banded
    // equi-join implementations.
    // normalize() so an outDir like 'results/.' still yields a SIBLING
    // 'results_aux' (un-normalized it would be 'results/._aux' — a child
    // the driver's per-query result glob would sweep up)
    val auxDir = Paths.get(outDir).toAbsolutePath.normalize().toString + "_aux"
    // each export is isolated like the query loop above: one failed export
    // must cost only its own queries, never abort main() before
    // oracle_sql.json is written (which would zero the whole round)
    def auxExport(names: String*)(subdirs: Seq[String])(write: => Unit): Unit =
      if (names.exists(n => only.forall(_.contains(n))))
        try write
        catch { case e: Throwable =>
          System.err.println(
            s"[verify] aux export for ${names.mkString(",")} failed: ${e.getMessage}")
          // a failed (or half-overwritten) export must leave NO readable
          // parquet behind: stale signatures from a previous run would turn
          // this export error into a confusing downstream DuckDB mismatch
          // instead of a clear missing-input failure
          subdirs.foreach { sub =>
            try store.GraphStore.deleteRecursively(Paths.get(s"$auxDir/$sub"))
            catch { case e2: Throwable =>
              System.err.println(
                s"[verify] cleanup of $auxDir/$sub failed: ${e2.getMessage}")
            }
          }
        }
    locally {
      import org.apache.spark.sql.functions.col
      auxExport("px8_text_fingerprint")(Seq("px8_shingle_hashes")) {
        // per-(doc, shingle) xxhash64 rows; DuckDB re-aggregates them into
        // min/max/count independently, checking the single-pass HashSketch
        // against Spark's own xxhash64 column function (same seed 42).
        // explode_outer keeps sub-3-token docs as a NULL-hash row so the
        // oracle's COUNT(h)=0 / NULL min/max matches fp_card=0 rows.
        Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), org.apache.spark.sql.functions.explode_outer(
            pipeline.TextAnalysis.shingles(col("text"), 3)).as("g"))
          .select(col("doc_id"),
            // xxhash64(NULL) returns the SEED (42), not NULL — guard, or
            // every empty doc would sketch as {42, 42, 1}
            org.apache.spark.sql.functions.when(col("g").isNotNull,
              org.apache.spark.sql.functions.xxhash64(col("g"))).as("h"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$auxDir/px8_shingle_hashes")
      }
      auxExport("px21_hash_split", "px29_composed", "px30_char_budget",
        "px31_mix_shares", "x4_multimodal_curation")(Seq("px21_buckets")) {
        // per-doc (bucket, raw hash) rows — DuckDB replays hashSplit's
        // integer threshold CASE and bernoulli's normalized threshold
        // from these, pinning every document's split membership
        pipeline.Sampling.splitBuckets(
          Tables.load(spark, sfDir, "documents"), "doc_id")
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px21_buckets")
      }
      auxExport("px58_shuffle_shard")(Seq("px58_hashes")) {
        // the per-doc seeded shuffle keys — DuckDB re-derives shard
        // membership and within-shard rank from them independently
        Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"),
            org.apache.spark.sql.functions.xxhash64(col("doc_id"),
              org.apache.spark.sql.functions.lit(
                pipeline.Sampling.ShuffleShardSeed)).as("h"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$auxDir/px58_hashes")
      }
      auxExport("px56_quality_classifier")(Seq("px56_features")) {
        // per-(doc, hashed feature bucket) rows — DuckDB re-derives the
        // LCG bucket weights, per-doc logit sums, and the quality
        // threshold independently (exact int64 arithmetic throughout).
        // explode_outer keeps featureless docs as NULL-bucket rows
        // (logit 0), matching the aggregate()-over-empty-array zero
        Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), org.apache.spark.sql.functions.explode_outer(
            pipeline.TextAnalysis.classifierFeatures(col("text"))).as("g"))
          .select(col("doc_id"),
            // xxhash64(NULL) hashes to the seed, not NULL — keep the
            // featureless sentinel NULL explicitly
            org.apache.spark.sql.functions.when(col("g").isNull,
              org.apache.spark.sql.functions.lit(null)).otherwise(
              org.apache.spark.sql.functions.pmod(
                org.apache.spark.sql.functions.xxhash64(col("g")),
                org.apache.spark.sql.functions.lit(
                  pipeline.TextAnalysis.ClassifierBuckets.toLong)))
              .as("bucket"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$auxDir/px56_features")
      }
      auxExport("ga6_triangle_approx")(Seq("ga6_sample")) {
        // ga6's DETERMINISTIC DOULION edge sample (xxhash64 trial, not
        // recomputable in DuckDB) — the oracle recounts triangles on
        // exactly these rows and bound-checks the scaled estimate against
        // its own exact count on the full co-supplier graph
        analytics.AnalyticsQueries.ga6SampledEdges(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/ga6_sample")
      }
      auxExport("px16_approx_stats")(Seq("px16_estimates")) {
        // the per-lang sketch ESTIMATES themselves (HLL++ distinct count,
        // rank-sketch median) — DuckDB checks them against its OWN exact
        // COUNT(DISTINCT) / quantiles, making the error-bound oracle fully
        // cross-engine (the booleans are re-derived, not pinned)
        Tables.load(spark, sfDir, "documents")
          .groupBy(col("lang"))
          .agg(
            org.apache.spark.sql.functions
              .approx_count_distinct(col("text"), rsd = 0.02).as("uniq_est"),
            org.apache.spark.sql.functions
              .expr("approx_percentile(n_chars, 0.5, 1000)").as("p50_est"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$auxDir/px16_estimates")
      }
      auxExport("px17_corpus_minhash", "px49_source_similarity")(Seq("px17_sigs")) {
        // per-doc minhash signatures, one row per (source, slot) — DuckDB
        // recomputes the per-source elementwise-min merged signature as an
        // independent check of the MinHashMerge Aggregator. Empty shingle
        // sets export their Long.MaxValue sentinels, matching zero()
        Tables.load(spark, sfDir, "documents")
          .select(col("source"),
            org.apache.spark.sql.functions.posexplode(
              functions.MinHashSigs(
                pipeline.TextAnalysis.shingles(col("text"), 3), 32))
              .as(Seq("pos", "h")))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px17_sigs")
      }
      auxExport("px4_dedup_simhash")(Seq("px4_simhash")) {
        Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"),
            functions.SimHash64(pipeline.TextAnalysis.tokens(col("text"))).as("h"))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px4_simhash")
      }
      def embs = Tables.load(spark, sfDir, "embeddings")
      auxExport("px10_sim_lsh")(Seq("px10_sigs")) {
        pipeline.Similarity.lshSignatures(embs, "vec_id", "embedding", dim = 64)
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px10_sigs")
      }
      auxExport("px11_embed_neardup")(Seq("px11_sigs")) {
        pipeline.Similarity.lshSignatures(embs, "vec_id", "embedding", dim = 64,
          bits = pipeline.Similarity.autoBits(embs.count()),
          tables = 8) // px11's banding parameters (occupancy-auto-sized)
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px11_sigs")
      }
      auxExport("px13_sim_ivf", "px53_sim_ivf_persist")(
          Seq("px13_cells", "px13_probes")) {
        // px13: the IVF model is deterministic (decimal Lloyd accumulation),
        // so exporting (cells, probes) lets the oracle recompute the
        // probed-cell search quadratically
        val (cells, probes) = pipeline.Similarity.ivfModel(
          embs.select(col("vec_id"), col("embedding")),
          embs.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", nlist = 16, nprobe = 4)
        cells.select(col("nbr"), col("_cell"))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px13_cells")
        probes.select(col("qid"), col("_cell"))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px13_probes")
      }
      auxExport("px66_sim_pq_adc", "px67_sim_adc_rerank")(
          Seq("px66_codes", "px66_cb", "px66_l2")) {
        // px66: the long-form PQ codes (unpacked back out of the
        // persisted index's own cells table — the exact bytes the query
        // serves from), the FLOAT codebook the per-query LUT dots
        // against, and the level-2 centroids the residual decomposition's
        // per-(query, probed cell) offset dots against — all read from
        // the same index dir
        val dir = pipeline.PipelineQueries.twoLevelIndexDir(spark, sfDir)
        pipeline.Similarity.pqCodesFromIndex(spark, dir)
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px66_codes")
        spark.read.parquet(s"$dir/pq_cb").select("sub", "code", "cent")
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px66_cb")
        spark.read.parquet(s"$dir/l2").select("_c1", "_c2", "_cent")
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px66_l2")
      }
      auxExport("px60_sim_ivf_twolevel", "px62_sim_twolevel_persist",
          "px63_sim_pq_serve", "px65_sim_pq_rerank", "px66_sim_pq_adc",
          "px67_sim_adc_rerank")(
          Seq("px60_cells", "px60_probes")) {
        // px60: the two-level model is deterministic end-to-end (hash
        // seeds, decimal refinement, tie-broken argmax), so exporting the
        // compound (c1, c2) cells and probes lets the oracle recompute
        // the probed-cell search quadratically. Same occupancy-scaled
        // side as the declared query and the shared persisted index
        // (floors to 4×4 at oracle scales).
        val side = pipeline.PipelineQueries.twoLevelSideFor(spark, sfDir)
        val (cells, probes) = pipeline.Similarity.twoLevelModelFor(
          embs.select(col("vec_id"), col("embedding")),
          embs.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", nlist1 = side, k2 = side, p1 = 2, nprobe = 4)
        cells.select(col("nbr"), col("_c1"), col("_c2"))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px60_cells")
        probes.select(col("qid"), col("_c1"), col("_c2"))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px60_probes")
      }
      auxExport("px64_sim_batch_serve")(Seq("px64_cells", "px64_probes")) {
        // px64: the OCCUPANCY-SIZED index's cell assignments plus the
        // probed (c1,c2) pairs for the WHOLE corpus as the query batch —
        // both from the same persisted index the declared query serves
        // from (shared memoized builder — the px55 pattern)
        val idx = pipeline.Similarity.loadTwoLevelIndex(spark,
          pipeline.PipelineQueries.twoLevelIndexDir(spark, sfDir))
        idx.cells.select(col("nbr"), col("_c1"), col("_c2"))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px64_cells")
        pipeline.Similarity.twoLevelProbes(
          embs.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding",
          pipeline.Similarity.TwoLevelModel(idx.l1, idx.l2),
          p1 = 2, nprobe = 4)
          .select(col("qid"), col("_c1"), col("_c2"))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px64_probes")
      }
      auxExport("px61_semantic_prune_append")(
          Seq("px61_cells_base", "px61_cells_new")) {
        // px61: both halves' (id, cell) assignments against the
        // BASE-trained centroids — same shared code path as the query
        val (cb, cn) = pipeline.Similarity.semanticAppendCells(
          embs.where(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding")),
          embs.where(col("vec_id") % 2 === 1).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding")
        cb.select(col("_id"), col("_cell"))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px61_cells_base")
        cn.select(col("_id"), col("_cell"))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px61_cells_new")
      }
      auxExport("px68_sim_index_remove")(Seq("px68_removed")) {
        // px68: the removed-id set — px59's deterministic prune verdicts
        // through the SAME shared helper the removal-index builder used,
        // so the oracle excludes exactly the ids the query removed; the
        // oracle's candidate base stays px60's independent cells export
        pipeline.PipelineQueries.px59PrunedIds(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px68_removed")
      }
      auxExport("px69_sim_graph_unlink")(Seq("px69_removed")) {
        // px69: the ids the graph SESSION actually removed (returned by
        // GraphIndexMaintenance.removeNodes and memoized with the index
        // clone it maintained) — the oracle excludes exactly what the
        // session unlinked, not a re-evaluated predicate
        import spark.implicits._
        val removed = pipeline.PipelineQueries.px69RemovedIds(spark, sfDir)
        // r19 hardening (VERDICT r18 item 3): the export-replay set is
        // trusted from the engine, so pin it here to the deterministic
        // predicate px69's builder constructed it from (ids 0..99 with
        // i % 9 == 3) — a session that silently dropped or added a
        // removal now fails Verify loudly instead of skewing the oracle
        val expected = (0L until 100L).filter(_ % 9 == 3)
        require(removed.sorted == expected,
          s"px69 removed-id export drifted from its constructing " +
            s"predicate: got ${removed.sorted.mkString(",")}")
        removed
          .toDF("vec_id")
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px69_removed")
      }
      auxExport("px59_semantic_prune")(Seq("px59_cells")) {
        // px59: the deterministic (id, cell) k-means assignment — same
        // shared code path the query clusters with — lets the oracle
        // replay the within-cell quadratic compare + min-id prune rule
        pipeline.Similarity.clusterAssignments(
          embs.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding")
          .select(col("_id"), col("_cell"))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px59_cells")
      }
      auxExport("px55_sim_ivf_append")(Seq("px55_cells", "px55_probes")) {
        // px55: the appended index (built on the even half, odd half
        // assigned to the SAME centroids) — the exact index the query
        // serves from, via the shared memoized builder; one sub-cell per
        // cell, so the level-1 cell IS the flat cell the oracle joins on
        val idx = pipeline.PipelineQueries.ivfAppendIndex(spark, sfDir)
        idx.cells.select(col("nbr"), col("_c1").as("_cell"))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px55_cells")
        pipeline.Similarity.ivfProbes(
          embs.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", idx.l1, nprobe = 4)
          .select(col("qid"), col("_cell"))
          .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/px55_probes")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(pipeline.PipelineQueries.AuxToken, auxDir))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
