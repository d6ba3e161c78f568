package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal: synthesize a K× blowup of sf0.1 (TPC-H-style — facts
  * and the big dimensions replicate with shifted keys, region/nation stay
  * fixed; K = 10 → sf1, K = 30 → sf3, K = 100 → sf10), then run the most
  * expensive queries at both scales and report per-query blowup ratios. A
  * query whose ratio is far above K has super-linear behavior a
  * 1000-executor run would hit as a straggler or an OOM; ~K or below means
  * the plan scales with the data.
  * Usage: runMain graft.tools.ScaleRehearsal [dstDir] [K] [targetsCsv]
  *
  * `targetsCsv` restricts the run to a subset of [[Targets]] (the 100×
  * stretch uses the 4 hottest); only the tables that subset reads are
  * synthesized. Embedding copies are orthogonal transforms (rotation ×
  * Walsh sign flips), so K up to 64·64 = 4096 keeps copies disjoint.
  *
  * Text copies suffix every token with the copy index and embedding copies
  * rotate the vector, so each copy is a DISJOINT shard with the original's
  * internal structure (near-dup pairs preserved within a copy, zero
  * similarity across copies) — i.e. "10× more data drawn from the same
  * process". Two rejected alternatives, both measured: identical copies
  * turn every doc into a 10-clique of true near-dups (output grows
  * 45-100×, time 18-24× — output semantics, not plan pathology), and
  * token-permuted copies collapse into this corpus's tiny trigram space
  * (avg shingle DF ~100 vs ~10 — Σdf² grew 90×, an artifact of the
  * synthetic vocabulary, not of scale).
  *
  * Emits one BENCH-style JSON line with both timings and ratios.
  */
object ScaleRehearsal {

  // the most expensive queries of the sf0.1 bench (plus the graph trio
  // that shares the geo-graph build, in bench order so attribution of the
  // build matches the bench)
  val Targets: Seq[String] = Seq(
    "ga1_pregel_bfs_depths", "ga2_connected_components", "ga4_triangle_count",
    "gq3_graph_stats", "px2_dedup_ngram", "px3_dedup_minhash",
    "px10_sim_lsh", "px11_embed_neardup", "px15_vocab_topk",
    "px18_dedup_representatives", "px24_decontaminate",
    "r10_multiway_join_agg", "r12_rollup")

  /** Tables each target's plan reads — drives subset synthesis. */
  private val TablesOf: Map[String, Set[String]] = Map(
    "ga1_pregel_bfs_depths" -> Set("region", "nation", "customer", "orders"),
    "ga2_connected_components" -> Set("region", "nation", "customer", "orders"),
    "ga3_pagerank" -> Set("region", "nation", "customer", "orders"),
    "ga4_triangle_count" -> Set("lineitem", "part"),
    "ga6_triangle_approx" -> Set("lineitem", "part"),
    "gq3_graph_stats" -> Set("region", "nation", "customer", "orders"),
    "px2_dedup_ngram" -> Set("documents"),
    "px3_dedup_minhash" -> Set("documents"),
    "px10_sim_lsh" -> Set("embeddings"),
    "px59_semantic_prune" -> Set("embeddings"),
    "px60_sim_ivf_twolevel" -> Set("embeddings"),
    "px61_semantic_prune_append" -> Set("embeddings"),
    "px62_sim_twolevel_persist" -> Set("embeddings"),
    "px63_sim_pq_serve" -> Set("embeddings"),
    "px64_sim_batch_serve" -> Set("embeddings"),
    "px65_sim_pq_rerank" -> Set("embeddings"),
    "px66_sim_pq_adc" -> Set("embeddings"),
    "px67_sim_adc_rerank" -> Set("embeddings"),
    "px68_sim_index_remove" -> Set("embeddings"),
    "px11_embed_neardup" -> Set("embeddings"),
    "px15_vocab_topk" -> Set("documents"),
    "px18_dedup_representatives" -> Set("documents"),
    "px24_decontaminate" -> Set("documents"),
    "px56_quality_classifier" -> Set("documents"),
    "px57_c4_line_clean" -> Set("documents"),
    "px58_shuffle_shard" -> Set("documents"),
    "px25_shared_spans" -> Set("documents"),
    "px32_imageio_decode" -> Set("documents"),
    "px33_audio_decode" -> Set("documents"),
    "px34_frame_sample" -> Set("documents"),
    "px35_pii_redact" -> Set("documents"),
    "px36_chunk_overlap" -> Set("documents"),
    "px37_bigram_topk" -> Set("documents"),
    "px38_embed_quantize" -> Set("embeddings"),
    "px44_sim_quantized" -> Set("embeddings"),
    "px53_sim_ivf_persist" -> Set("embeddings"),
    "px54_semantic_decontam" -> Set("embeddings"),
    "px55_sim_ivf_append" -> Set("embeddings"),
    "px13_sim_ivf" -> Set("embeddings"),
    "px40_oov_bigrams" -> Set("documents"),
    "px41_incremental_dedup" -> Set("documents"),
    "px42_bpe_train" -> Set("documents"),
    "px43_bpe_encode" -> Set("documents"),
    "px45_search_conjunctive" -> Set("documents"),
    "px46_collocations" -> Set("documents"),
    "px48_search_many" -> Set("documents"),
    "px49_source_similarity" -> Set("documents"),
    "px50_heavy_hitters" -> Set("documents"),
    "px51_novelty_vs_reference" -> Set("documents"),
    "ga5_degree_distribution" -> Set("orders"),
    "r26_ntile_quartiles" -> Set("orders"),
    "r27_cube" -> Set("lineitem"),
    "r29_moving_avg" -> Set("orders"),
    "gq4_search_term_index" -> Set("part"),
    "px52_multimodal_assembly" -> Set("documents", "embeddings"),
    "px16_approx_stats" -> Set("documents"),
    "px29_composed" -> Set("documents"),
    "px30_char_budget" -> Set("documents"),
    "px31_mix_shares" -> Set("documents"),
    "r10_multiway_join_agg" ->
      Set("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
    "r12_rollup" -> Set("region", "nation", "customer", "orders"),
    "r15_percentiles" -> Set("lineitem"),
    "r11_asof_join" -> Set("events", "orders"))

  private var K = 10 // blowup factor (arg 2)

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = args.headOption.getOrElse("/tmp/graft_sf1")
    K = if (args.length > 1) args(1).toInt else 10
    val targets =
      if (args.length > 2) args(2).split(",").toSeq.filter(_.nonEmpty)
      else Targets
    require(targets.forall(TablesOf.contains),
      s"unknown targets: ${targets.filterNot(TablesOf.contains).mkString(",")}")
    val tables = targets.flatMap(TablesOf).toSet ++ Set("region", "nation")
    require(K >= 2 && (K <= 4096 || !tables("embeddings")),
      s"blowup $K out of range (embedding copies = rotations × sign " +
        "patterns cover K ≤ 64·64)")
    val spark = graft.GraftSession(graft.GraftSession.cpus(32))

    synthesize(spark, src, dst, tables)

    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // warmup both directions — on a table the chosen subset actually
    // synthesized (a documents-only subset has no lineitem in dst)
    val warmTable =
      if (tables("lineitem")) "lineitem"
      else tables.diff(Set("region", "nation")).headOption.getOrElse("nation")
    run(graft.Tables.load(spark, src, warmTable).groupBy(lit(1)).count())
    run(graft.Tables.load(spark, dst, warmTable).groupBy(lit(1)).count())

    // best-of-2: a single cold run conflates the query with JIT/codegen
    // warmup and one-off GC flukes — a measured 4× swing on identical
    // code+data. The min of two runs is the plan's cost; ratios computed
    // from one-shot numbers mis-rank which queries actually scale badly.
    def timeAll(dir: String): Seq[(String, Double)] =
      targets.map { name =>
        // release the previous query's plan-owned localCheckpoint blocks:
        // they are freed by the ContextCleaner only after their RDDs are
        // garbage-collected, and a measurement harness running 2×13 heavy
        // queries in one JVM accumulates them into an OOM otherwise
        System.gc()
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val ok =
            try { run(graft.SparkEntry.queries(name)(spark, dir)); true }
            catch { case e: Throwable =>
              System.err.println(s"[scale] $name @$dir failed: ${e.getMessage}")
              false
            }
          if (ok) (System.nanoTime() - t0) / 1e9 else -1d
        }
        val dt = if (times.exists(_ < 0)) -1d else times.min
        System.err.println(s"[scale] $name @$dir ${fmt(dt)} s (runs ${times.map(fmt).mkString("/")})")
        name -> dt
      }

    val base = timeAll(src)
    val scaled = timeAll(dst)
    val ratios = base.zip(scaled).map { case ((n, b), (_, s)) =>
      n -> (if (b > 0 && s > 0) s / b else -1d)
    }
    val qs = scaled.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val bs = base.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val rs = ratios.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = scaled.map(_._2).filter(_ >= 0).sum
    println(s"""{"metric":"scale_rehearsal_total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf01_queries":$bs,"ratios":$rs,"blowup":$K,"sf":"$dst"}""")
    spark.stop()
  }

  /** Build the 10× dataset once (idempotent via a _DONE marker). Key shifts
    * keep every foreign key consistent within a copy; region/nation are
    * fixed dimensions exactly as TPC-H scaling treats them.
    */
  private def synthesize(spark: SparkSession, src: String, dst: String,
      tables: Set[String]): Unit = {
    // the marker records (K, tables): a dst dir synthesized for a different
    // blowup or table subset must be rebuilt, not silently reused
    val stamp = s"ok K=$K tables=${tables.toSeq.sorted.mkString(",")}"
    val done = Paths.get(dst, "_DONE")
    if (Files.exists(done) &&
      Files.readString(done).split("\n").head.startsWith(stamp)) return
    Files.deleteIfExists(done)
    Files.createDirectories(Paths.get(dst))

    def copies(df: DataFrame, shifts: (String, Long)*): DataFrame =
      (0 until K).map { i =>
        shifts.foldLeft(df) { case (d, (c, off)) =>
          d.withColumn(c, col(c) + lit(i * off))
        }
      }.reduce(_ unionByName _)
    def write(df: => DataFrame, name: String): Unit =
      if (tables(name)) df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    val rd = (t: String) => spark.read.parquet(s"$src/$t.parquet")
    write(rd("region"), "region")
    write(rd("nation"), "nation")
    write(copies(rd("customer"), "c_custkey" -> 1000000L), "customer")
    write(copies(rd("supplier"), "s_suppkey" -> 1000000L), "supplier")
    write(copies(rd("part"), "p_partkey" -> 1000000L), "part")
    write(copies(rd("orders"),
      "o_orderkey" -> 10000000L, "o_custkey" -> 1000000L), "orders")
    write(copies(rd("lineitem"), "l_orderkey" -> 10000000L,
      "l_partkey" -> 1000000L, "l_suppkey" -> 1000000L), "lineitem")
    // events.ts is TIMESTAMP(NANOS) in the source; read it as a raw LONG
    // and write the LONG back so Tables.events' nanos conversion still
    // applies to the synthesized dir
    if (tables("events")) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      write(copies(rd("events"),
        "event_id" -> 10000000L, "user_id" -> 1000000L), "events")
    }
    // documents: copy i > 0 suffixes every token with the copy index —
    // intra-copy structure (and its near-dup pairs) preserved exactly,
    // cross-copy shingle overlap zero, df distribution per copy identical
    // to the original
    write((0 until K).map { i =>
      val d = rd("documents").withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
      if (i == 0) d
      else d.withColumn("text", expr(
        s"""array_join(transform(
           |  filter(split(trim(text), '\\\\s+'), x -> x <> ''),
           |  x -> concat(x, '_$i')), ' ')""".stripMargin))
    }.reduce(_ unionByName _), "documents")
    // embeddings: copy i applies an ORTHOGONAL transform — rotate by
    // (i mod 64) positions, then flip signs by the Walsh pattern of
    // s = i / 64 (element j negated iff popcount(j & s) is odd; s = 0 is
    // the identity). Each copy is norm-preserving with the original's
    // internal cluster structure intact, distinct copies are
    // near-orthogonal shards (rotation alone capped K < 64 — the r15
    // bound; the sign dimension extends the family to 64·64 copies for
    // the 100× ANN receipts)
    write((0 until K).map { i =>
      val d = rd("embeddings").withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
      val r = i % 64
      val s = i / 64
      val rotated =
        if (r == 0) d
        else d.withColumn("embedding",
          expr(s"concat(slice(embedding, ${r + 1}, ${64 - r}), slice(embedding, 1, $r))"))
      if (s == 0) rotated
      else rotated.withColumn("embedding", expr(
        s"""transform(embedding,
           |  (x, j) -> CASE WHEN bit_count(j & $s) % 2 = 1
           |            THEN -x ELSE x END)""".stripMargin))
    }.reduce(_ unionByName _), "embeddings")
    Files.writeString(done, stamp)
  }
}
