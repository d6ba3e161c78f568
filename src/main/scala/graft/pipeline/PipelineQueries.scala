package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Declared.Q

/** Declared queries for the training-data pipeline operators, each backed
  * by an operator in Dedup / TextAnalysis / Similarity / Multimodal /
  * Decontaminate / Sampling / Packing.
  *
  * Every query carries oracle SQL (hash-checked by the driver). Ops whose
  * values DuckDB cannot recompute (xxhash64 / seeded hyperplanes / the
  * IVF model) are oracled via graft.Verify's aux exports: the hash inputs
  * are dumped as parquet and the oracle re-derives the banding joins /
  * merges / thresholds independently — plus ScalaTest cross-checks against
  * exact counterparts (e.g. minhash pairs ⊆/= exact Jaccard pairs).
  */
object PipelineQueries {

  // The persisted indexes' once-per-(JVM, data dir) build guard (see
  // px53): maps a logical index key to the concrete on-disk dir this JVM
  // built.
  private val ivfSaved =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** On-disk location for a persisted serving index. Keyed by the
    * SANITIZED ABSOLUTE data path — not its 32-bit hashCode, where a
    * collision across data dirs would silently serve the wrong index —
    * and suffixed with this JVM's pid, so two processes running against
    * the same data dir concurrently (bench vs Verify) each build and
    * serve their own complete copy instead of racing one overwrite
    * against the other's read. The build is deterministic, so per-process
    * copies are identical.
    */
  private def indexDir(prefix: String, d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/$prefix" +
      new java.io.File(d).getAbsolutePath.replaceAll("[^A-Za-z0-9._-]", "_") +
      "_p" + ProcessHandle.current().pid()

  /** Persist the flat IVF index px53/px55 serve: the two-level index
    * with ONE sub-cell per cell over px13's 16-cell `ivfCentroids`
    * matrix, no PQ codebook. */
  private def saveFlatIndex(corpus: DataFrame, dir: String): Unit =
    Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
      nlist1 = 16, k2 = 1, iters = 1, pqM = 0)

  /** Serve a flat index (see [[saveFlatIndex]]) with px13's probe budget:
    * the 4 best level-1 cells, each its own single sub-cell. */
  private def flatTopK(idx: Similarity.TwoLevelIndex,
      queries: DataFrame): DataFrame =
    Similarity.twoLevelTopKFromIndex(idx, queries,
      idCol = "vec_id", vecCol = "embedding", k = 5, p1 = 4, nprobe = 4)
      .select("qid", "nbr", "rank")
      .orderBy("qid", "rank")

  /** The px55 index: built ONCE per (JVM, data dir) from the even-id half
    * of the embeddings, then the odd half APPENDED without retraining
    * (Similarity.appendToTwoLevelIndex). Deterministic end-to-end
    * (hash-ordered seed sample on the even half, decimal Lloyd, bit-exact
    * parquet float round-trip), so graft.Verify can export this exact
    * index's (cells, probes) for the DuckDB oracle — shared here so the
    * declared query and the Verify aux export cannot drift apart.
    */
  private[graft] def ivfAppendIndex(s: org.apache.spark.sql.SparkSession,
      d: String): Similarity.TwoLevelIndex = {
    val e = embs(s, d)
    val dir = ivfSaved.computeIfAbsent(indexDir("graft_ivf_append_", d), k => {
      saveFlatIndex(
        e.where(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding")),
        k)
      Similarity.appendToTwoLevelIndex(s, k,
        e.where(col("vec_id") % 2 === 1).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding")
      k
    })
    Similarity.loadTwoLevelIndex(s, dir)
  }

  /** The px29 composed curation pipeline over an arbitrary documents
    * table: decontaminate → near-dup representatives → deterministic hash
    * split → per-(lang, split) counts, chained as ONE lazy Catalyst plan.
    * Factored out so the SAME code serves the declared batch query and
    * the incremental foreachBatch re-curation StreamingSpec proves equal
    * on every streamed prefix.
    */
  def curateText(doc: DataFrame): DataFrame = {
    val corpus = doc.where(col("doc_id") % 50 =!= 0)
    val bench = doc.where(col("doc_id") % 50 === 0)
    val contaminated =
      Decontaminate.overlap(corpus, bench, "doc_id", "text", n = 3)
        .where(col("max_overlap") >= 8)
        .select("doc_id")
    // the decontaminated corpus is consumed THREE times (pair
    // generation, representative anti-join, split aggregation) — a
    // lazy lineage cut materializes the broadcast-join subplan once
    // on first use instead of re-running it per consumer (measured
    // best-of-2: 4.9 → 3.7 s at sf0.1, 23.4 → 11.9 s at 30×; the
    // composition stays one lazy plan)
    val clean = corpus.join(contaminated, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    val pairs = Dedup.minhashPairs(clean, "doc_id", "text",
      n = 3, threshold = 0.6, numHashes = 64, bands = 16)
    val reps = Dedup.keepRepresentatives(clean, "doc_id", pairs)
    Sampling.hashSplit(reps, "doc_id", Seq("val" -> 0.05, "test" -> 0.15))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "split")
  }

  /** The x4 multimodal curation pipeline over arbitrary documents +
    * embeddings tables: modality assembly by id → integer quality gate →
    * hash split → per-(lang, split) counts, one lazy plan. Factored out
    * for the same batch/stream sharing as [[curateText]].
    */
  def curateMultimodal(doc0: DataFrame, emb: DataFrame): DataFrame = {
    // r19: spread the docs scan before the tokenize pass (single-row-group
    // inputs scan as ONE partition — measured 0.59 s on one task at sf0.1;
    // no-op on multi-split inputs, guide §2.5)
    val doc = graft.Tables.spread(doc0).select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val codes = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .withColumnRenamed("vec_id", "doc_id")
    val gated = doc.join(codes, "doc_id")
      .where(col("n_tokens") >= 20 &&
        (col("code_max") === 127L || col("code_min") === -127L))
    Sampling.hashSplit(gated, "doc_id", Seq("val" -> 0.05, "test" -> 0.15))
      .groupBy("lang", "split").agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "split")
  }

  /** Placeholder for the auxiliary oracle-input directory in oracle SQL.
    * graft.Verify exports hash signatures DuckDB cannot recompute (xxhash64
    * / seeded hyperplanes) and substitutes the actual absolute path — a
    * sibling of its outDir, so each verify run reads its OWN exports (a
    * fixed /tmp path let a stale or concurrent run against a different
    * sfDir leave mismatched signatures behind).
    */
  val AuxToken: String = "__GRAFT_AUX_DIR__"

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Tables.load(s, d, "documents")
  private def embs(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Tables.load(s, d, "embeddings")

  /** The ONE persisted two-level index px60/px62/px63/px64/px65/px66 all
    * key off: built ONCE per (JVM, data dir) over the full embeddings
    * corpus, OCCUPANCY-SIZED (Similarity.twoLevelSide — the px64 fix:
    * fixed cell counts make whole-corpus batch joins n²·nprobe/cells,
    * measured 104× at 30×), shared between the declared queries and
    * graft.Verify's aux exports so the served index and the oracle's
    * exports can never drift apart (the px55 pattern). At the driver's
    * oracle scales the sizing floors at side 4, i.e. the historical
    * fixed 4×4 index — which is what let r16 collapse the two separate
    * builds (fixed + sized) Verify/Bench used to pay into this one. The
    * PQ codebook + packed codes are part of the same build
    * (saveTwoLevelIndex trains and persists them in-dir).
    */
  private[graft] def twoLevelIndexDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    ivfSaved.computeIfAbsent(indexDir("graft_ivf2_index_", d), k => {
      val corpus = embs(s, d).select(col("vec_id"), col("embedding"))
      val side = Similarity.twoLevelSide(corpus.count())
      Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", k,
        nlist1 = side, k2 = side, iters = 1)
      k
    })

  /** The occupancy-scaled side the shared index (and px60's refit query)
    * uses for this data dir — memoized next to the dir itself so the
    * count job is paid once per (JVM, data dir).
    */
  private[graft] def twoLevelSideFor(s: org.apache.spark.sql.SparkSession,
      d: String): Int =
    ivfSaved.computeIfAbsent(indexDir("graft_ivf2_side_", d), _ =>
      Similarity.twoLevelSide(
        embs(s, d).select(col("vec_id")).count()).toString).toInt

  /** px59's deterministic prune verdicts as an id set — shared by the
    * px68 removal-index builder and graft.Verify's px68_removed export so
    * the removed set the query served and the one the oracle excludes
    * cannot drift (same params as the px59 declared query).
    */
  private[graft] def px59PrunedIds(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Similarity.semanticClusterPrune(
      embs(s, d).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", threshold = 0.35)
      .where(col("pruned")).select(col("vec_id"))

  /** The px68 removal index: a copy-on-write CLONE of the shared
    * two-level index ([[Similarity.cloneIndex]] — an O(metadata)
    * manifest publish, not a file copy) with px59's pruned ids REMOVED
    * via Similarity.removeFromTwoLevelIndex — dedup verdicts composed
    * with index maintenance, the curate-then-serve lifecycle. The clone
    * mutates only its own dir, so the shared index every OTHER declared
    * query serves from is never touched (spec-pinned byte-identical);
    * built once per (JVM, data dir) like every persisted index here.
    */
  private[graft] def removalIndexDir(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    // resolve the shared index OUTSIDE the memo lambda: a nested
    // computeIfAbsent on the same map throws "Recursive update" whenever
    // this builder runs before the shared one (filtered Verify runs)
    val shared = twoLevelIndexDir(s, d)
    ivfSaved.computeIfAbsent(indexDir("graft_ivf2_rmidx_", d), k => {
      val conf = s.sparkContext.hadoopConfiguration
      val dp = new org.apache.hadoop.fs.Path(k)
      val fs = dp.getFileSystem(conf)
      if (fs.exists(dp)) fs.delete(dp, true)
      Similarity.cloneIndex(s, shared, k)
      Similarity.removeFromTwoLevelIndex(s, k, px59PrunedIds(s, d), "vec_id")
      k
    })
  }

  // ------------------------------------------------------------- px69
  /** The px69 value model: graph nodes that CARRY embedding ids — the
    * minimal shape of the reference's indexed-node posture (a node's
    * value determines its index entries, Model.hs:36-39) with the ANN
    * index as the index being maintained. */
  private[graft] sealed trait VecNode
  private[graft] case object VecRoot extends VecNode
  private[graft] final case class VecDoc(vecId: Long) extends VecNode

  private[graft] lazy val vecNodeModel: graft.graph.GraphModel[VecNode] =
    graft.graph.GraphModel.derive[VecNode](
      indexesFn = (t, _) => t match {
        case VecDoc(id) => Seq(graft.graph.IndexKey("Vec_Id", id.toString))
        case _ => Nil
      })

  private val px69RemovedMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()

  /** The px69 index: a copy-on-write clone of the shared index whose
    * removals flow THROUGH THE GRAPH SESSION API — a graph of 100 nodes
    * each carrying an embedding id is built, a deterministic subset is
    * removed with [[GraphIndexMaintenance.removeNodes]] (session remove
    * + index remove in one gesture, the reference's
    * maintain-indexes-on-unlink), and the clone serves the survivors.
    * The removed ids are whatever the SESSION reported (exported for the
    * oracle by graft.Verify — the export-replay pattern), not the
    * predicate re-evaluated, so the query and oracle cannot drift.
    */
  private[graft] def graphRemovalIndexDir(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    // shared index resolved OUTSIDE the memo lambda — see removalIndexDir
    val shared = twoLevelIndexDir(s, d)
    ivfSaved.computeIfAbsent(indexDir("graft_ivf2_gxidx_", d), k => {
      val conf = s.sparkContext.hadoopConfiguration
      val dp = new org.apache.hadoop.fs.Path(k)
      val fs = dp.getFileSystem(conf)
      if (fs.exists(dp)) fs.delete(dp, true)
      Similarity.cloneIndex(s, shared, k)
      val g = graft.graph.GraphSession.inMemory(s, vecNodeModel,
        VecRoot: VecNode)
      val nodes = (0L until 100L).map(i => i -> g.newNode(VecDoc(i)))
      nodes.foreach { case (_, n) => g.addTarget(g.root, n) }
      val doomed = nodes.collect { case (i, n) if i % 9 == 3 => n }
      val removed = GraphIndexMaintenance.removeNodes(g, doomed, k,
        "vec_id") {
        case VecDoc(id) => Some(id)
        case _ => None
      }
      px69RemovedMemo.put(k, removed)
      k
    })
  }

  /** The ids px69's session-driven removal ACTUALLY removed — shared by
    * the declared query's index builder and graft.Verify's px69_removed
    * export (same JVM, same memo). */
  private[graft] def px69RemovedIds(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[Long] =
    px69RemovedMemo.get(graphRemovalIndexDir(s, d))

  val all: Seq[Q] = Seq(
    // -------------------------------------------------------- exact dedup
    Q("px1_dedup_exact",
      (s, d) => Dedup.exact(docs(s, d), Seq("text"), "doc_id")
        .select("doc_id").orderBy("doc_id"),
      Some("""SELECT MIN(doc_id) AS doc_id FROM documents
             |GROUP BY text ORDER BY doc_id""".stripMargin)),

    // --------------------------------------- n-gram Jaccard near-dup
    // DF cap active (the default): the oracle filters hot shingles with the
    // same `HAVING COUNT(*) <= cap` predicate, so both sides compute
    // Jaccard over the identical capped shingle space.
    Q("px2_dedup_ngram",
      (s, d) => Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
        n = 3, threshold = 0.6, maxDF = Some(Dedup.DefaultMaxDF))
        .orderBy("id1", "id2"),
      Some(s"""WITH sh0 AS (
             |  SELECT doc_id,
             |    unnest(list_distinct(list_transform(
             |      range(1, len(t) - 1),
             |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
             |  FROM (SELECT doc_id,
             |          list_filter(string_split_regex(trim(text), '\\s+'),
             |                      x -> x <> '') AS t
             |        FROM documents)
             |  WHERE len(t) >= 3
             |), hot AS (
             |  SELECT g FROM sh0 GROUP BY g
             |  HAVING COUNT(*) > ${Dedup.DefaultMaxDF}
             |), sh AS (
             |  SELECT doc_id, g FROM sh0 WHERE g NOT IN (SELECT g FROM hot)
             |), sizes AS (
             |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
             |), shared AS (
             |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |)
             |SELECT id1, id2,
             |  ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
             |FROM shared
             |JOIN sizes sa ON sa.doc_id = id1
             |JOIN sizes sb ON sb.doc_id = id2
             |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6
             |ORDER BY id1, id2""".stripMargin)),

    // ----------------------------------- near-dup clustering → representatives
    // The pipeline's actual dedup OUTPUT: MinHash-LSH near-dup pairs →
    // connected components → keep min doc id per cluster — the textbook
    // web-scale dedup pipeline (banded candidates, exact verify, cluster,
    // collapse). Oracle recomputes the closure with a recursive CTE over
    // the exact n-gram pair derivation (== the LSH pairs here: every
    // emitted pair is exactly verified, and banding recall is
    // deterministically 1 on this corpus — the same equivalence px3's
    // oracle asserts).
    Q("px18_dedup_representatives",
      (s, d) => {
        val doc = docs(s, d)
        val pairs = Dedup.minhashPairs(doc, "doc_id", "text",
          n = 3, threshold = 0.6, numHashes = 64, bands = 16)
        Dedup.keepRepresentatives(doc, "doc_id", pairs)
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH RECURSIVE sh AS (
             |  SELECT doc_id,
             |    unnest(list_distinct(list_transform(
             |      range(1, len(t) - 1),
             |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
             |  FROM (SELECT doc_id,
             |          list_filter(string_split_regex(trim(text), '\s+'),
             |                      x -> x <> '') AS t
             |        FROM documents)
             |  WHERE len(t) >= 3
             |), sizes AS (
             |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
             |), shared AS (
             |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |), p AS (
             |  SELECT id1, id2 FROM shared
             |  JOIN sizes sa ON sa.doc_id = id1
             |  JOIN sizes sb ON sb.doc_id = id2
             |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6
             |), und AS (
             |  SELECT id1 AS a, id2 AS b FROM p
             |  UNION SELECT id2, id1 FROM p
             |), reach(id, r) AS (
             |  SELECT a, a FROM (SELECT DISTINCT a FROM und)
             |  UNION
             |  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id
             |), comp AS (
             |  SELECT id, MIN(r) AS root FROM reach GROUP BY id
             |)
             |SELECT doc_id FROM documents
             |WHERE doc_id NOT IN (SELECT id FROM comp WHERE root <> id)
             |ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------- MinHash+LSH (verified)
    // Oracle = the UNCAPPED exact n-gram Jaccard pairs: every emitted pair
    // is exactly verified (precision 1 by construction), and on this corpus
    // the 16×4 banding's recall is exactly 1 — deterministic (the hashes
    // are seeded xxhash64, no RNG), so the oracle asserts the strong
    // statement "the LSH path returns precisely the true pairs here".
    // PipelineSpec independently cross-checks minhash == exact at sf0.001.
    Q("px3_dedup_minhash",
      (s, d) => Dedup.minhashPairs(docs(s, d), "doc_id", "text",
        n = 3, threshold = 0.6, numHashes = 64, bands = 16)
        .orderBy("id1", "id2"),
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |    unnest(list_distinct(list_transform(
             |      range(1, len(t) - 1),
             |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
             |  FROM (SELECT doc_id,
             |          list_filter(string_split_regex(trim(text), '\s+'),
             |                      x -> x <> '') AS t
             |        FROM documents)
             |  WHERE len(t) >= 3
             |), sizes AS (
             |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
             |), shared AS (
             |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |)
             |SELECT id1, id2,
             |  ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
             |FROM shared
             |JOIN sizes sa ON sa.doc_id = id1
             |JOIN sizes sb ON sb.doc_id = id2
             |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6
             |ORDER BY id1, id2""".stripMargin)),

    // --------------------------------------------------------- SimHash
    // Oracle reads the per-doc 64-bit simhash exported by graft.Verify
    // (DuckDB has no xxhash64) and recomputes the radius search as a FULL
    // O(n²) hamming join — independent ground truth proving the pigeonhole
    // chunk-banding equi-join finds exactly the pairs within the radius.
    Q("px4_dedup_simhash",
      (s, d) => Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 3)
        .select(col("id1"), col("id2"), col("hamming").cast("bigint").as("hamming"))
        .orderBy("id1", "id2"),
      Some(s"""WITH h AS (
             |  SELECT * FROM '${AuxToken}/px4_simhash/*.parquet')
             |SELECT a.doc_id AS id1, b.doc_id AS id2,
             |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
             |FROM h a JOIN h b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.h, b.h)) <= 3
             |ORDER BY id1, id2""".stripMargin)),

    // ---------------------------------------------------- token counting
    Q("px5_text_tokens",
      (s, d) => docs(s, d)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  len(list_filter(string_split_regex(trim(text), '\s+'),
             |      x -> x <> '')) AS n_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // --------------------------------------------------- quality scoring
    Q("px6_text_quality",
      (s, d) => TextAnalysis.quality(docs(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents
             |), m AS (
             |  SELECT doc_id,
             |    len(toks) AS n_tokens,
             |    -- COALESCE: DuckDB list_sum([]) is NULL while Spark's
             |    -- aggregate over an empty array is 0 — a zero-token doc
             |    -- must score 0.0 on both engines, not NULL vs 0.0
             |    ROUND(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) * 1.0
             |          / GREATEST(len(toks), 1), 4) AS avg_token_len,
             |    ROUND(len(list_filter(toks,
             |        x -> list_contains(['the','a','and','of','to'], x))) * 1.0
             |          / GREATEST(len(toks), 1), 4) AS stop_ratio
             |  FROM t)
             |SELECT doc_id, n_tokens, avg_token_len, stop_ratio,
             |  ROUND(LEAST(n_tokens / 500.0, 1.0) * (1.0 - stop_ratio), 4)
             |    AS quality_score
             |FROM m ORDER BY doc_id""".stripMargin)),

    // --------------------------------------------------- quality filtering
    // The curation step that CONSUMES the quality scores: keep documents
    // above a score floor with a minimum token count — the standard
    // pre-training corpus filter, expressed as a pushdown-friendly
    // filter over the scored projection.
    Q("px19_quality_filter",
      (s, d) => TextAnalysis.quality(docs(s, d), "text", "doc_id")
        .where(col("quality_score") >= 0.08 && col("n_tokens") >= 30)
        .select("doc_id")
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents
             |), m AS (
             |  SELECT doc_id,
             |    len(toks) AS n_tokens,
             |    ROUND(len(list_filter(toks,
             |        x -> list_contains(['the','a','and','of','to'], x))) * 1.0
             |          / GREATEST(len(toks), 1), 4) AS stop_ratio
             |  FROM t)
             |SELECT doc_id FROM m
             |WHERE ROUND(LEAST(n_tokens / 500.0, 1.0) * (1.0 - stop_ratio), 4) >= 0.08
             |  AND n_tokens >= 30
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------- language ID
    Q("px7_text_langid",
      (s, d) => TextAnalysis.langId(docs(s, d), "text", "doc_id")
        .groupBy("lang_pred").agg(count(lit(1)).as("cnt"))
        .orderBy("lang_pred"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |                x -> x <> '') AS toks
             |  FROM documents
             |), c AS (
             |  SELECT doc_id,
             |    len(list_filter(toks, x -> list_contains(['the','a','and','of','to'], x))) AS en,
             |    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS de,
             |    len(list_filter(toks, x -> list_contains(['el','la','los','y','que'], x))) AS es,
             |    len(list_filter(toks, x -> list_contains(['le','les','et','des','une'], x))) AS fr
             |  FROM t)
             |SELECT CASE
             |    WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
             |    WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
             |    WHEN es >= fr AND es > 0 THEN 'es'
             |    WHEN fr > 0 THEN 'fr'
             |    ELSE 'und' END AS lang_pred,
             |  COUNT(*) AS cnt
             |FROM c GROUP BY 1 ORDER BY lang_pred""".stripMargin)),

    // -------------------------------------------------- doc fingerprinting
    // Oracle via the aux-export pattern: graft.Verify dumps one
    // (doc_id, xxhash64(shingle)) row per shingle — Spark's own xxhash64
    // COLUMN function, not HashSketch — and DuckDB independently
    // re-aggregates min/max/count per doc, proving the single-pass native
    // sketch against a two-step derivation it never shares code with.
    Q("px8_text_fingerprint",
      (s, d) => TextAnalysis.fingerprint(docs(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some(s"""WITH h AS (
             |  SELECT * FROM '${AuxToken}/px8_shingle_hashes/*.parquet')
             |SELECT doc_id, MIN(h) AS fp_min, MAX(h) AS fp_max,
             |  COUNT(h) AS fp_card
             |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------- similarity: brute force
    Q("px9_sim_bruteforce",
      (s, d) => {
        val e = embs(s, d)
        Similarity.bruteForceTopK(
          corpus = e.select(col("vec_id"), col("embedding")),
          queries = e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 5)
          .select("qid", "nbr", "rank")
          .orderBy("qid", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
             |          FROM embeddings WHERE vec_id < 20),
             |     c AS (SELECT vec_id AS nbr, embedding::DOUBLE[] AS cv
             |          FROM embeddings),
             |scored AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(qv, cv), 6) DESC, nbr) AS rank
             |  FROM q JOIN c ON qid <> nbr)
             |SELECT qid, nbr, rank FROM scored WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------------- similarity: IVF scale path
    // Oracle: the IVF model (cells + probes) is exported by graft.Verify —
    // deterministic because the Lloyd refinement accumulates in decimal —
    // and DuckDB recomputes the probed-cell search + exact rerank.
    Q("px13_sim_ivf",
      (s, d) => {
        val e = embs(s, d)
        Similarity.ivfTopK(
          corpus = e.select(col("vec_id"), col("embedding")),
          queries = e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 5, nlist = 16, nprobe = 4)
          .select("qid", "nbr", "rank")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px13_cells/*.parquet'),
             |probes AS (
             |  SELECT * FROM '${AuxToken}/px13_probes/*.parquet'),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cand AS (
             |  SELECT DISTINCT p.qid, c.nbr
             |  FROM probes p JOIN cells c ON c._cell = p._cell
             |  WHERE p.qid <> c.nbr),
             |scored AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6) DESC,
             |               nbr) AS rank
             |  FROM cand
             |  JOIN e eq ON eq.vec_id = qid
             |  JOIN e ec ON ec.vec_id = nbr)
             |SELECT qid, nbr, rank FROM scored WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------- similarity: persisted-index IVF path
    // The build-once/serve-many shape: px13's IVF index is written to disk
    // as a two-level index with one sub-cell per cell (the same 16-cell
    // centroid matrix and cell assignment, corpus PARTITIONED BY CELL),
    // reloaded, and the search is served from the loaded artifact —
    // proving persisted-index results == refit results (identical
    // oracle: the centroid floats round-trip parquet bit-exactly, and
    // with one sub-cell per cell the level-2 step keeps every probed,
    // non-empty cell, so cells and probes are the same rows). The on-disk
    // cell partitioning is the scale win: the probe join dynamically
    // prunes to nprobe cells, so a serving query reads
    // corpus·nprobe/nlist — and the Lloyd training cost is paid once at
    // build, not per query.
    Q("px53_sim_ivf_persist",
      (s, d) => {
        val e = embs(s, d)
        val corpus = e.select(col("vec_id"), col("embedding"))
        // build-once/serve-many: the index is written once per (JVM, data
        // dir) — exactly the persistent-store posture the query exists to
        // prove — so repeated runs (bench best-of-3) measure load+search,
        // not a redundant retrain
        val dir = ivfSaved.computeIfAbsent(indexDir("graft_ivf_index_", d),
          k => { saveFlatIndex(corpus, k); k })
        flatTopK(Similarity.loadTwoLevelIndex(s, dir),
          e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")))
      },
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px13_cells/*.parquet'),
             |probes AS (
             |  SELECT * FROM '${AuxToken}/px13_probes/*.parquet'),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cand AS (
             |  SELECT DISTINCT p.qid, c.nbr
             |  FROM probes p JOIN cells c ON c._cell = p._cell
             |  WHERE p.qid <> c.nbr),
             |scored AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6) DESC,
             |               nbr) AS rank
             |  FROM cand
             |  JOIN e eq ON eq.vec_id = qid
             |  JOIN e ec ON ec.vec_id = nbr)
             |SELECT qid, nbr, rank FROM scored WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // --------------------------- similarity: incremental index update
    // Build px53's flat index on the even-id half, APPEND the odd half
    // without retraining (assign to the existing centroids, append to
    // the cell-partitioned codes table — the periodic-retrain serving
    // posture), serve from the updated index. Oracle: the appended
    // index's (cells, probes) are exported by graft.Verify (the whole
    // build is deterministic) and DuckDB recomputes the probed-cell
    // search quadratically — px13's oracle pattern over the UPDATED
    // index.
    Q("px55_sim_ivf_append",
      (s, d) => {
        val e = embs(s, d)
        flatTopK(ivfAppendIndex(s, d),
          e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")))
      },
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px55_cells/*.parquet'),
             |probes AS (
             |  SELECT * FROM '${AuxToken}/px55_probes/*.parquet'),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cand AS (
             |  SELECT DISTINCT p.qid, c.nbr
             |  FROM probes p JOIN cells c ON c._cell = p._cell
             |  WHERE p.qid <> c.nbr),
             |scored AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6) DESC,
             |               nbr) AS rank
             |  FROM cand
             |  JOIN e eq ON eq.vec_id = qid
             |  JOIN e ec ON ec.vec_id = nbr)
             |SELECT qid, nbr, rank FROM scored WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // --------------------------- similarity: two-level IVF (driver-free)
    // The coarse quantizer that removes flat IVF's driver bound: level-1
    // centroids on the driver (nlist1 ≈ √nlist), level-2 sub-centroids a
    // DISTRIBUTED table trained per level-1 cell (hash-seeded, one
    // decimal-Lloyd groupBy pass — never collected). Same total cell
    // count as px13 (4×4 = 16), √-scale driver memory and per-vector
    // assignment work. Oracle: the whole build is deterministic, so
    // Verify exports the final (id, c1, c2) cells and the probed (c1,c2)
    // pairs, and DuckDB recomputes the probed-cell search + exact rerank
    // — px13's oracle over the compound cell key.
    Q("px60_sim_ivf_twolevel",
      (s, d) => {
        val e = embs(s, d)
        // occupancy-scaled side (floors to the historical 4×4 at oracle
        // scales) — the SAME parameters the shared persisted index and
        // the Verify exports use, so px60's refit answer, px62's served
        // answer, and the oracle exports stay one model at any scale
        val side = twoLevelSideFor(s, d)
        Similarity.twoLevelTopK(
          corpus = e.select(col("vec_id"), col("embedding")),
          queries = e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 5,
          nlist1 = side, k2 = side, p1 = 2, nprobe = 4)
          .select("qid", "nbr", "rank")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px60_cells/*.parquet'),
             |probes AS (
             |  SELECT * FROM '${AuxToken}/px60_probes/*.parquet'),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cand AS (
             |  SELECT DISTINCT p.qid, c.nbr
             |  FROM probes p JOIN cells c
             |    ON c._c1 = p._c1 AND c._c2 = p._c2
             |  WHERE p.qid <> c.nbr),
             |scored AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6) DESC,
             |               nbr) AS rank
             |  FROM cand
             |  JOIN e eq ON eq.vec_id = qid
             |  JOIN e ec ON ec.vec_id = nbr)
             |SELECT qid, nbr, rank FROM scored WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // --------------------- similarity: persisted two-level index path
    // px53's build-once/serve-many posture for the two-level quantizer:
    // the index (level-1 parquet, cluster-written level-2 table, corpus
    // PARTITIONED BY the compound (c1,c2) cell) is written once per
    // (JVM, data dir), reloaded, and served — the probe join dynamically
    // prunes to the probed sub-cells' files. Identical parameters to
    // px60 and floats round-trip parquet bit-exactly, so the served
    // answer equals the refit px60 against the SAME oracle exports.
    Q("px62_sim_twolevel_persist",
      (s, d) => {
        val e = embs(s, d)
        val idx = Similarity.loadTwoLevelIndex(s, twoLevelIndexDir(s, d))
        Similarity.twoLevelTopKFromIndex(idx,
          e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 5, p1 = 2, nprobe = 4)
          .select("qid", "nbr", "rank")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px60_cells/*.parquet'),
             |probes AS (
             |  SELECT * FROM '${AuxToken}/px60_probes/*.parquet'),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cand AS (
             |  SELECT DISTINCT p.qid, c.nbr
             |  FROM probes p JOIN cells c
             |    ON c._c1 = p._c1 AND c._c2 = p._c2
             |  WHERE p.qid <> c.nbr),
             |scored AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6) DESC,
             |               nbr) AS rank
             |  FROM cand
             |  JOIN e eq ON eq.vec_id = qid
             |  JOIN e ec ON ec.vec_id = nbr)
             |SELECT qid, nbr, rank FROM scored WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // ------------------ similarity: quantized serving (IVF-SQ shape)
    // Serve top-k from the int8 codes stored INSIDE px62's persisted
    // two-level index: the probed partitions' scan reads the packed
    // binary `codes` column plus the 8-byte `qscale` correction (~4×
    // fewer bytes than the float32 `cv` the px62 path reads; parquet
    // column pruning makes the modes coexist in ONE cells table).
    // Scoring is the all-integer DotI8 kernel; RANKING is on the
    // scale-corrected qsim = round(dot·qscale_c·qscale_q, 6) ≈ cosine —
    // raw integer dots of per-vector-scaled codes are not mutually
    // comparable across candidates (the r15 ADVICE finding). The oracle
    // replays quantization (px44's half-up rounding), the stored scale
    // (ma/(127·‖v‖), recomputed from the same floats), and the corrected
    // ranking. Same index dir, same (cells, probes) exports as px60/px62.
    Q("px63_sim_pq_serve",
      (s, d) => {
        val e = embs(s, d)
        Similarity.quantizedTopKFromIndex(s, twoLevelIndexDir(s, d),
          e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 5, p1 = 2, nprobe = 4)
          .select("qid", "nbr", "qsim", "rank")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px60_cells/*.parquet'),
             |probes AS (
             |  SELECT * FROM '${AuxToken}/px60_probes/*.parquet'),
             |v AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |), mx AS (
             |  SELECT vec_id, e,
             |    list_max(list_transform(e, x -> abs(x))) AS ma
             |  FROM v
             |), c AS (
             |  SELECT vec_id,
             |    CASE WHEN ma > 0 THEN list_transform(e,
             |           x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT))
             |         ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END
             |      AS codes,
             |    CASE WHEN ma > 0 THEN ma / (127.0 * sqrt(
             |           list_sum(list_transform(e, x -> x * x))))
             |         ELSE 0.0 END AS qs
             |  FROM mx
             |), cand AS (
             |  SELECT DISTINCT p.qid, cl.nbr
             |  FROM probes p JOIN cells cl
             |    ON cl._c1 = p._c1 AND cl._c2 = p._c2
             |  WHERE p.qid <> cl.nbr
             |), scored AS (
             |  SELECT qid, nbr,
             |    ROUND((CAST(list_dot_product(cq.codes, cn.codes) AS DOUBLE)
             |           * cn.qs) * cq.qs, 6) AS qsim
             |  FROM cand
             |  JOIN c cq ON cq.vec_id = qid
             |  JOIN c cn ON cn.vec_id = nbr
             |), ranked AS (
             |  SELECT qid, nbr, qsim,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY qsim DESC, nbr) AS rank
             |  FROM scored)
             |SELECT qid, nbr, qsim, rank FROM ranked WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // ------------------- similarity: quantized serve + exact re-rank
    // The full quantize-then-refine pipeline: scale-corrected integer-dot
    // top-25 candidates per query from the codes+qscale columns of the
    // probed partitions (px63's scan), then ONLY those 25 rows' float
    // vectors fetched back on the (partition, id) key and exact-cosine
    // re-ranked to the final top-5. The oracle replays both stages:
    // px44's quantization + the corrected-score ranking to 25, then
    // DuckDB's own cosine over the survivors — every stage deterministic
    // (6dp rounding before each ranking; nbr tie-breaks).
    Q("px65_sim_pq_rerank",
      (s, d) => {
        val e = embs(s, d)
        Similarity.quantizedTopKFromIndex(s, twoLevelIndexDir(s, d),
          e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 5, p1 = 2, nprobe = 4,
          rerank = 25)
          .select("qid", "nbr", "rank")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px60_cells/*.parquet'),
             |probes AS (
             |  SELECT * FROM '${AuxToken}/px60_probes/*.parquet'),
             |v AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |), mx AS (
             |  SELECT vec_id, e,
             |    list_max(list_transform(e, x -> abs(x))) AS ma
             |  FROM v
             |), c AS (
             |  SELECT vec_id,
             |    CASE WHEN ma > 0 THEN list_transform(e,
             |           x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT))
             |         ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END
             |      AS codes,
             |    CASE WHEN ma > 0 THEN ma / (127.0 * sqrt(
             |           list_sum(list_transform(e, x -> x * x))))
             |         ELSE 0.0 END AS qs
             |  FROM mx
             |), cand AS (
             |  SELECT DISTINCT p.qid, cl.nbr
             |  FROM probes p JOIN cells cl
             |    ON cl._c1 = p._c1 AND cl._c2 = p._c2
             |  WHERE p.qid <> cl.nbr
             |), coarse AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND((CAST(list_dot_product(cq.codes, cn.codes)
             |          AS DOUBLE) * cn.qs) * cq.qs, 6) DESC, nbr) AS crank
             |  FROM cand
             |  JOIN c cq ON cq.vec_id = qid
             |  JOIN c cn ON cn.vec_id = nbr
             |), refined AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(eq.e, ec.e), 6) DESC,
             |               nbr) AS rank
             |  FROM coarse
             |  JOIN v eq ON eq.vec_id = qid
             |  JOIN v ec ON ec.vec_id = nbr
             |  WHERE crank <= 25)
             |SELECT qid, nbr, rank FROM refined WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // -------------------- similarity: IVF-PQ with integer ADC (px66)
    // TRUE product quantization served from the persisted index's OWN
    // artifacts: the vector splits into 8 subspaces, each with its own
    // 16-entry trained codebook (8 codes = 8 bytes/vector — 8x smaller
    // than the scalar int8 codes, 32x smaller than the floats), persisted
    // in-dir at build and maintained on append with the frozen codebook;
    // candidates come from the probed (c1,c2) partitions' (nbr, pqcodes)
    // scan — no vector column is ever read. Scoring is asymmetric
    // distance with the r15 ADVICE fix: each query's LUT entries are
    // FLOAT dots (slice · centroid, rounded 6dp), and the finished
    // m×ksub table is integer-quantized with ONE shared scale — entries
    // of different codes are mutually comparable, and everything after
    // the rounded dots is exact integer arithmetic the oracle replays
    // from the exported float codebook + codes.
    //
    // r17: the codes are RESIDUAL-encoded (IVF-PQ proper — the codebook
    // approximates v − centroid(c1,c2)), so the score adds the exact
    // per-(query, probed cell) centroid dot back, quantized on the same
    // shared per-query scale; the oracle replays the offset from the
    // exported level-2 centroids + the same rounded-float-dot recipe.
    Q("px66_sim_pq_adc",
      (s, d) => {
        val e = embs(s, d)
        Similarity.pqAdcTopKFromIndex(s, twoLevelIndexDir(s, d),
          e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 5, p1 = 2, nprobe = 4)
          .select("qid", "nbr", "score", "rank")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px60_cells/*.parquet'),
             |probes AS (
             |  SELECT * FROM '${AuxToken}/px60_probes/*.parquet'),
             |codes AS (
             |  SELECT * FROM '${AuxToken}/px66_codes/*.parquet'),
             |cb AS (
             |  SELECT sub, code, cent::DOUBLE[] AS cent
             |  FROM '${AuxToken}/px66_cb/*.parquet'),
             |l2c AS (
             |  SELECT _c1, _c2, _cent::DOUBLE[] AS cent
             |  FROM '${AuxToken}/px66_l2/*.parquet'),
             |v AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |), cand AS (
             |  SELECT DISTINCT p.qid, c.nbr, c._c1, c._c2
             |  FROM probes p JOIN cells c
             |    ON c._c1 = p._c1 AND c._c2 = p._c2
             |  WHERE p.qid <> c.nbr
             |), qsl AS (
             |  SELECT vec_id, s.sub,
             |    e[CAST(s.sub * 8 + 1 AS BIGINT):CAST(s.sub * 8 + 8 AS BIGINT)] AS sv
             |  FROM v, (SELECT UNNEST(range(8)) AS sub) s
             |  WHERE vec_id < 20
             |), lutf AS (
             |  SELECT q.vec_id AS qid, cb.sub, cb.code,
             |    ROUND(list_dot_product(q.sv, cb.cent), 6) AS fpart
             |  FROM qsl q JOIN cb ON cb.sub = q.sub
             |), lmax AS (
             |  SELECT qid, MAX(ABS(fpart)) AS lm FROM lutf GROUP BY qid
             |), lut AS (
             |  SELECT l.qid, l.sub, l.code,
             |    CASE WHEN m.lm > 0
             |      THEN CAST(floor(l.fpart * 127.0 / m.lm + 0.5) AS BIGINT)
             |      ELSE 0 END AS part
             |  FROM lutf l JOIN lmax m ON m.qid = l.qid
             |), offq AS (
             |  SELECT p.qid, p._c1, p._c2,
             |    CASE WHEN m.lm > 0
             |      THEN CAST(floor(ROUND(list_dot_product(q.e, l2c.cent), 6)
             |        * 127.0 / m.lm + 0.5) AS BIGINT)
             |      ELSE 0 END AS opart
             |  FROM probes p
             |  JOIN v q ON q.vec_id = p.qid
             |  JOIN l2c ON l2c._c1 = p._c1 AND l2c._c2 = p._c2
             |  JOIN lmax m ON m.qid = p.qid
             |), scored AS (
             |  SELECT cand.qid, cand.nbr,
             |    oq.opart + CAST(SUM(l.part) AS BIGINT) AS score
             |  FROM cand
             |  JOIN codes ON codes.nbr = cand.nbr
             |  JOIN lut l ON l.qid = cand.qid AND l.sub = codes.sub
             |    AND l.code = codes.code
             |  JOIN offq oq ON oq.qid = cand.qid AND oq._c1 = cand._c1
             |    AND oq._c2 = cand._c2
             |  GROUP BY cand.qid, cand.nbr, oq.opart
             |), ranked AS (
             |  SELECT qid, nbr, score,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY score DESC, nbr) AS rank
             |  FROM scored)
             |SELECT qid, nbr, score, rank FROM ranked WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // ---------------- similarity: PQ-ADC prune + exact refine (px67)
    // The measured recommendation of SERVE_r16's recall ladder made an
    // operator: raw ADC ranking at 8 bytes/vector is lossy (recall 0.12
    // vs the float path's 0.503 at sf0.1), so the ADC top-25 per query
    // is treated as a PRUNING stage and only those survivors' float
    // vectors are fetched back (probed-cells pre-join keeps the fetch
    // partition-pruned — the px65 lesson) and exact-cosine re-ranked to
    // the final top-5. The oracle replays both stages: the px66 integer
    // ADC (residual-encoded since r17 — centroid-dot offset + LUT parts)
    // to crank ≤ 25, then DuckDB's own cosine over the survivors.
    Q("px67_sim_adc_rerank",
      (s, d) => {
        val e = embs(s, d)
        Similarity.pqAdcTopKFromIndex(s, twoLevelIndexDir(s, d),
          e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 5, p1 = 2, nprobe = 4,
          rerank = 25)
          .select("qid", "nbr", "rank")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px60_cells/*.parquet'),
             |probes AS (
             |  SELECT * FROM '${AuxToken}/px60_probes/*.parquet'),
             |codes AS (
             |  SELECT * FROM '${AuxToken}/px66_codes/*.parquet'),
             |cb AS (
             |  SELECT sub, code, cent::DOUBLE[] AS cent
             |  FROM '${AuxToken}/px66_cb/*.parquet'),
             |l2c AS (
             |  SELECT _c1, _c2, _cent::DOUBLE[] AS cent
             |  FROM '${AuxToken}/px66_l2/*.parquet'),
             |v AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |), cand AS (
             |  SELECT DISTINCT p.qid, c.nbr, c._c1, c._c2
             |  FROM probes p JOIN cells c
             |    ON c._c1 = p._c1 AND c._c2 = p._c2
             |  WHERE p.qid <> c.nbr
             |), qsl AS (
             |  SELECT vec_id, s.sub,
             |    e[CAST(s.sub * 8 + 1 AS BIGINT):CAST(s.sub * 8 + 8 AS BIGINT)] AS sv
             |  FROM v, (SELECT UNNEST(range(8)) AS sub) s
             |  WHERE vec_id < 20
             |), lutf AS (
             |  SELECT q.vec_id AS qid, cb.sub, cb.code,
             |    ROUND(list_dot_product(q.sv, cb.cent), 6) AS fpart
             |  FROM qsl q JOIN cb ON cb.sub = q.sub
             |), lmax AS (
             |  SELECT qid, MAX(ABS(fpart)) AS lm FROM lutf GROUP BY qid
             |), lut AS (
             |  SELECT l.qid, l.sub, l.code,
             |    CASE WHEN m.lm > 0
             |      THEN CAST(floor(l.fpart * 127.0 / m.lm + 0.5) AS BIGINT)
             |      ELSE 0 END AS part
             |  FROM lutf l JOIN lmax m ON m.qid = l.qid
             |), offq AS (
             |  SELECT p.qid, p._c1, p._c2,
             |    CASE WHEN m.lm > 0
             |      THEN CAST(floor(ROUND(list_dot_product(q.e, l2c.cent), 6)
             |        * 127.0 / m.lm + 0.5) AS BIGINT)
             |      ELSE 0 END AS opart
             |  FROM probes p
             |  JOIN v q ON q.vec_id = p.qid
             |  JOIN l2c ON l2c._c1 = p._c1 AND l2c._c2 = p._c2
             |  JOIN lmax m ON m.qid = p.qid
             |), scored AS (
             |  SELECT cand.qid, cand.nbr,
             |    oq.opart + CAST(SUM(l.part) AS BIGINT) AS score
             |  FROM cand
             |  JOIN codes ON codes.nbr = cand.nbr
             |  JOIN lut l ON l.qid = cand.qid AND l.sub = codes.sub
             |    AND l.code = codes.code
             |  JOIN offq oq ON oq.qid = cand.qid AND oq._c1 = cand._c1
             |    AND oq._c2 = cand._c2
             |  GROUP BY cand.qid, cand.nbr, oq.opart
             |), coarse AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY score DESC, nbr) AS crank
             |  FROM scored
             |), refined AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(eq.e, ec.e), 6) DESC,
             |               nbr) AS rank
             |  FROM coarse
             |  JOIN v eq ON eq.vec_id = qid
             |  JOIN v ec ON ec.vec_id = nbr
             |  WHERE crank <= 25)
             |SELECT qid, nbr, rank FROM refined WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // ------------- similarity: remove from the persisted index (px68)
    // The maintenance-on-unlink half of the index lifecycle (the
    // reference deletes index keys on removeTarget, Graph.hs:63-67),
    // composed with dedup curation: px59's semantic prune verdicts are
    // REMOVED from (a copy of) the shared persisted index — an anti-join
    // rewrite of ONLY the cells the pruned ids live in — and the float
    // path serves the survivors. The oracle recomputes the probed-cell
    // search quadratically over px60's INDEPENDENT cells export minus
    // the exported removed-id set: serving after a remove must equal an
    // index that never contained the ids.
    Q("px68_sim_index_remove",
      (s, d) => {
        val e = embs(s, d)
        val idx = Similarity.loadTwoLevelIndex(s, removalIndexDir(s, d))
        Similarity.twoLevelTopKFromIndex(idx,
          e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 5, p1 = 2, nprobe = 4)
          .select("qid", "nbr", "rank")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px60_cells/*.parquet'),
             |probes AS (
             |  SELECT * FROM '${AuxToken}/px60_probes/*.parquet'),
             |removed AS (
             |  SELECT * FROM '${AuxToken}/px68_removed/*.parquet'),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |kept AS (
             |  SELECT c.nbr, c._c1, c._c2 FROM cells c
             |  WHERE c.nbr NOT IN (SELECT vec_id FROM removed)),
             |cand AS (
             |  SELECT DISTINCT p.qid, k.nbr
             |  FROM probes p JOIN kept k
             |    ON k._c1 = p._c1 AND k._c2 = p._c2
             |  WHERE p.qid <> k.nbr),
             |scored AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6) DESC,
             |               nbr) AS rank
             |  FROM cand
             |  JOIN e eq ON eq.vec_id = qid
             |  JOIN e ec ON ec.vec_id = nbr)
             |SELECT qid, nbr, rank FROM scored WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // ---- similarity: graph-node removal maintains the ANN index (px69)
    // The reference's maintain-indexes-on-unlink (Graph.hs:63-67,
    // 126-127) composed END TO END from the session API: graph nodes
    // carry embedding ids, a deterministic subset is removed THROUGH the
    // session (GraphIndexMaintenance.removeNodes — one gesture removes
    // the node from the graph and its vector from a clone of the shared
    // index), and the float path serves the survivors. The oracle
    // recomputes the probed-cell search over px60's independent exports
    // minus the ids the SESSION reported removing (px69_removed): serve
    // after unlink must equal an index that never contained them.
    Q("px69_sim_graph_unlink",
      (s, d) => {
        val e = embs(s, d)
        val idx = Similarity.loadTwoLevelIndex(s, graphRemovalIndexDir(s, d))
        Similarity.twoLevelTopKFromIndex(idx,
          e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 5, p1 = 2, nprobe = 4)
          .select("qid", "nbr", "rank")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px60_cells/*.parquet'),
             |probes AS (
             |  SELECT * FROM '${AuxToken}/px60_probes/*.parquet'),
             |removed AS (
             |  SELECT * FROM '${AuxToken}/px69_removed/*.parquet'),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |kept AS (
             |  SELECT c.nbr, c._c1, c._c2 FROM cells c
             |  WHERE c.nbr NOT IN (SELECT vec_id FROM removed)),
             |cand AS (
             |  SELECT DISTINCT p.qid, k.nbr
             |  FROM probes p JOIN kept k
             |    ON k._c1 = p._c1 AND k._c2 = p._c2
             |  WHERE p.qid <> k.nbr),
             |scored AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6) DESC,
             |               nbr) AS rank
             |  FROM cand
             |  JOIN e eq ON eq.vec_id = qid
             |  JOIN e ec ON ec.vec_id = nbr)
             |SELECT qid, nbr, rank FROM scored WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // ---------------------- similarity: whole-corpus batched ANN serving
    // The one-scan-answers-all-queries posture (px48's proof pattern) for
    // ANN: EVERY corpus vector queries the persisted two-level index in
    // ONE pass — the whole batch's probes join the cell-partitioned table
    // once and the per-query top-k is the two-phase rank, so per-query
    // cost amortizes to ~0 marginal scans (SERVE_r15's batch curve is the
    // receipt). This is the kNN-graph / all-pairs ANN maintenance
    // workload, and the batched counterpart of px62's 20-query serve.
    Q("px64_sim_batch_serve",
      (s, d) => {
        val e = embs(s, d)
        val idx = Similarity.loadTwoLevelIndex(s, twoLevelIndexDir(s, d))
        Similarity.twoLevelTopKFromIndex(idx,
          e.select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 3, p1 = 2, nprobe = 4,
          // whole-corpus batch: the probes cover every cell, so the DPP
          // subqueries would re-run the batch probes plan twice to prune
          // nothing (the r19 receipt on twoLevelTopKFromIndex)
          pruneProbedCells = false)
          .select("qid", "nbr", "rank")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px64_cells/*.parquet'),
             |probes AS (
             |  SELECT * FROM '${AuxToken}/px64_probes/*.parquet'),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cand AS (
             |  SELECT DISTINCT p.qid, c.nbr
             |  FROM probes p JOIN cells c
             |    ON c._c1 = p._c1 AND c._c2 = p._c2
             |  WHERE p.qid <> c.nbr),
             |scored AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6) DESC,
             |               nbr) AS rank
             |  FROM cand
             |  JOIN e eq ON eq.vec_id = qid
             |  JOIN e ec ON ec.vec_id = nbr)
             |SELECT qid, nbr, rank FROM scored WHERE rank <= 3
             |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------ semantic cluster dedup (SemDeDup)
    // Cluster the embeddings into k-means cells (the px13 IVF training,
    // deterministic decimal Lloyd; cell count occupancy-auto-sized à la
    // Similarity.autoBits so the within-cell pair join stays linear —
    // fixed nlist measured 15.4x at 30x), compare ONLY within cells, prune every
    // vector with a smaller-id same-cell neighbor at cosine ≥ 0.35 (the
    // corpus's ≈99.9th pairwise percentile — the synthetic fixtures carry
    // no true near-dups, so this exercises the exact plan a 0.95-threshold
    // run has on a real corpus). One keep/prune verdict PER VECTOR — the
    // curation form, vs px11's global near-dup PAIRS. Oracle: Verify
    // exports the deterministic (id, cell) assignment; DuckDB replays the
    // within-cell quadratic compare and the min-id prune rule, pinning
    // every verdict.
    Q("px59_semantic_prune",
      (s, d) => Similarity.semanticClusterPrune(
        embs(s, d).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", threshold = 0.35)
        .orderBy("vec_id"),
      Some(s"""WITH cells AS (
             |  SELECT * FROM '${AuxToken}/px59_cells/*.parquet'),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |pr AS (
             |  SELECT DISTINCT b._id AS vec_id
             |  FROM cells a JOIN cells b
             |    ON a._cell = b._cell AND a._id < b._id
             |  JOIN e ea ON ea.vec_id = a._id
             |  JOIN e eb ON eb.vec_id = b._id
             |  WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35)
             |SELECT c._id AS vec_id, c._cell AS cell,
             |  (pr.vec_id IS NOT NULL) AS pruned
             |FROM cells c LEFT JOIN pr ON pr.vec_id = c._id
             |ORDER BY vec_id""".stripMargin)),

    // ----------------------------- incremental semantic dedup (append)
    // The dedup-maintained-on-write posture for the semantic family
    // (px55's stale-centroid append + px41's incremental-ingest shape):
    // the odd-id half arrives as a batch against the even-id base —
    // assigned to the BASE-trained centroids, pruned iff near a SURVIVING
    // base representative or a smaller-id batch neighbor in the same
    // cell. A batch vector near only a PRUNED base vector is kept (the
    // incremental semantics — it is new relative to the kept corpus).
    // Oracle: Verify exports both halves' deterministic (id, cell)
    // assignments; DuckDB replays the base min-id rule, the kept set,
    // and both batch prune rules — every batch verdict pinned.
    Q("px61_semantic_prune_append",
      (s, d) => {
        val e = embs(s, d)
        Similarity.semanticPruneAppend(
          base = e.where(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding")),
          batch = e.where(col("vec_id") % 2 === 1).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", threshold = 0.35)
          .orderBy("vec_id")
      },
      Some(s"""WITH cb AS (
             |  SELECT * FROM '${AuxToken}/px61_cells_base/*.parquet'),
             |cn AS (
             |  SELECT * FROM '${AuxToken}/px61_cells_new/*.parquet'),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |prb AS (
             |  SELECT DISTINCT b._id AS vec_id
             |  FROM cb a JOIN cb b ON a._cell = b._cell AND a._id < b._id
             |  JOIN e ea ON ea.vec_id = a._id
             |  JOIN e eb ON eb.vec_id = b._id
             |  WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35),
             |kept AS (
             |  SELECT c._id, c._cell FROM cb c
             |  LEFT JOIN prb ON prb.vec_id = c._id
             |  WHERE prb.vec_id IS NULL),
             |prn AS (
             |  SELECT DISTINCT n._id AS vec_id
             |  FROM cn n JOIN kept k ON n._cell = k._cell
             |  JOIN e en ON en.vec_id = n._id
             |  JOIN e ek ON ek.vec_id = k._id
             |  WHERE ROUND(list_cosine_similarity(en.v, ek.v), 6) >= 0.35
             |  UNION
             |  SELECT DISTINCT b._id AS vec_id
             |  FROM cn a JOIN cn b ON a._cell = b._cell AND a._id < b._id
             |  JOIN e ea ON ea.vec_id = a._id
             |  JOIN e eb ON eb.vec_id = b._id
             |  WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35)
             |SELECT c._id AS vec_id, c._cell AS cell,
             |  (prn.vec_id IS NOT NULL) AS pruned
             |FROM cn c LEFT JOIN prn ON prn.vec_id = c._id
             |ORDER BY vec_id""".stripMargin)),

    // ------------------------------------- semantic decontamination
    // The embedding-space counterpart of px24: per corpus vector, the max
    // cosine to any single benchmark vector (bench = vec_id < 20,
    // broadcast), flagged at 0.9 — catches paraphrased eval contamination
    // that shares no n-grams. Corpus scanned once, no vector shuffle;
    // scores rounded at 6dp before max/threshold (the px9/px13
    // cross-engine convention, oracled directly in DuckDB).
    Q("px54_semantic_decontam",
      (s, d) => {
        val e = embs(s, d)
        Decontaminate.semanticOverlap(
          corpus = e.where(col("vec_id") >= 20).select(col("vec_id"), col("embedding")),
          bench = e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", threshold = 0.9)
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 20),
             |b AS (SELECT vec_id AS bid, v AS bv FROM e WHERE vec_id < 20),
             |m AS (
             |  SELECT c.vec_id,
             |    MAX(ROUND(list_cosine_similarity(c.v, b.bv), 6)) AS max_sim
             |  FROM c JOIN b ON c.vec_id <> b.bid
             |  GROUP BY c.vec_id)
             |SELECT vec_id, max_sim, max_sim >= 0.9 AS contaminated
             |FROM m ORDER BY vec_id""".stripMargin)),

    // --------------------------------- deterministic shuffle + sharding
    // The epoch-ordering staple: a reproducible seeded permutation of the
    // corpus, sharded for parallel readers — shard = hash mod N, pos =
    // rank within shard under (hash, id). NO global sort: the one
    // exchange partitions by shard and each shard sorts independently
    // (shards ~ reader count at 100 TB keeps every sort executor-sized).
    // Oracle: Verify exports the per-doc hash keys (xxhash64 is
    // engine-local); DuckDB re-derives shard and position from them with
    // its own modulo and window — the permutation itself is checked, not
    // a summary.
    Q("px58_shuffle_shard",
      (s, d) => Sampling.shuffleShard(docs(s, d), "doc_id")
        .orderBy("shard", "pos"),
      Some(s"""WITH h AS (SELECT doc_id, h
             |  FROM '$AuxToken/px58_hashes/*.parquet')
             |SELECT doc_id,
             |  CAST(((h % ${Sampling.ShuffleShards}) + ${Sampling.ShuffleShards})
             |       % ${Sampling.ShuffleShards} AS INT) AS shard,
             |  CAST(ROW_NUMBER() OVER (
             |    PARTITION BY ((h % ${Sampling.ShuffleShards})
             |                  + ${Sampling.ShuffleShards}) % ${Sampling.ShuffleShards}
             |    ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
             |FROM h ORDER BY shard, pos""".stripMargin)),

    // ------------------------------------------ C4-style line cleaning
    // The published C4 heuristics as one per-row array pipeline
    // (split → filter → re-join): terminal punctuation, ≥3 words, no
    // "javascript" per line; "lorem ipsum" / "{" / empty-after-cleaning
    // per document. FULLY cross-engine — every rule is a string op DuckDB
    // re-runs verbatim, and the cleaned TEXT itself is hash-compared byte
    // for byte (the px35 convention), not a summary statistic.
    // The fixtures are punctuation-free single-line word soup, so the
    // declared query runs the word-count (≥ 60) + blocklist rules — the
    // punctuation rule is exercised in PipelineSpec on constructed prose
    Q("px57_c4_line_clean",
      (s, d) => TextAnalysis.c4Clean(docs(s, d), "doc_id", "text",
        minWords = 60, requireTerminalPunct = false)
        .orderBy("doc_id"),
      Some("""WITH l AS (
             |  SELECT doc_id, text,
             |    list_filter(string_split(text, chr(10)), x ->
             |      len(string_split_regex(trim(x), '\s+')) >= 60
             |      AND NOT contains(lower(x), 'javascript')) AS kl
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(kl) AS BIGINT) AS n_kept,
             |  COALESCE(array_to_string(kl, chr(10)), '') AS cleaned,
             |  (NOT contains(lower(text), 'lorem ipsum')
             |   AND NOT contains(text, '{')
             |   AND len(kl) >= 1) AS kept
             |FROM l ORDER BY doc_id""".stripMargin)),

    // ------------------------------------ quality-classifier scoring
    // fastText-style linear scoring: hashed unigram+bigram presence
    // features, a deterministic integer weight table, per-doc logit sum —
    // ONE aggregate() higher-order function per row, a pure map stage
    // with no shuffle (the plan a trained classifier would run at 100 TB;
    // the weight table swaps for a broadcast lookup). Integer-exact end
    // to end, so the oracle is a hash match: Verify exports the
    // per-(doc, bucket) feature rows (xxhash64 is engine-local) and
    // DuckDB re-derives the LCG weights, logit sums, and threshold
    // independently in exact int64 arithmetic.
    Q("px56_quality_classifier",
      (s, d) => TextAnalysis.qualityClassifier(docs(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH f AS (SELECT doc_id, bucket
             |  FROM '$AuxToken/px56_features/*.parquet'),
             |s AS (SELECT doc_id,
             |  CAST(COALESCE(SUM(CASE WHEN bucket IS NULL THEN 0
             |    ELSE (bucket * 1103515245 + 12345) % 101 - 50 END), 0)
             |    AS BIGINT) AS logit
             |  FROM f GROUP BY doc_id)
             |SELECT doc_id, logit, logit > 0 AS quality
             |FROM s ORDER BY doc_id""".stripMargin)),

    // ---------------------------------------------- similarity: LSH path
    // Oracle reads the per-(vector, table) bucket signatures exported by
    // graft.Verify and re-derives the SAME candidate set quadratically in
    // DuckDB, then reranks by exact cosine with identical tie-breaking —
    // ground truth for the bucketed equi-join + windowed top-k pipeline.
    Q("px10_sim_lsh",
      (s, d) => {
        val e = embs(s, d)
        Similarity.lshTopK(
          corpus = e.select(col("vec_id"), col("embedding")),
          queries = e.where(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 5, dim = 64)
          .select("qid", "nbr", "rank")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH sig AS (
             |  SELECT * FROM '${AuxToken}/px10_sigs/*.parquet'),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cand AS (
             |  SELECT DISTINCT q.id AS qid, c.id AS nbr
             |  FROM sig q JOIN sig c ON q.t = c.t AND q.b = c.b
             |  WHERE q.id < 20 AND q.id <> c.id),
             |scored AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6) DESC,
             |               nbr) AS rank
             |  FROM cand
             |  JOIN e eq ON eq.vec_id = qid
             |  JOIN e ec ON ec.vec_id = nbr)
             |SELECT qid, nbr, rank FROM scored WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------- embedding-cosine near-dup pairs
    // threshold 0.35 ≈ the 99.9th percentile of pairwise cosine in this
    // corpus (synthetic embeddings have no true near-dups; this exercises
    // the same plan a 0.95-threshold run has on a real corpus)
    // Oracle: same aux-export pattern as px10 — DuckDB re-derives the
    // bucket candidates quadratically and applies the exact cosine
    // threshold, verifying the full bucketed near-dup join. Signature
    // width is occupancy-auto-sized (Similarity.autoBits) so the bucket
    // space grows with the corpus; the exported sigs use the same sizing.
    Q("px11_embed_neardup",
      (s, d) => Similarity.embeddingNearDupPairs(
        embs(s, d), "vec_id", "embedding", dim = 64, threshold = 0.35,
        tables = 8)
        .select("id1", "id2").orderBy("id1", "id2"),
      Some(s"""WITH sig AS (
             |  SELECT * FROM '${AuxToken}/px11_sigs/*.parquet'),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cand AS (
             |  SELECT DISTINCT a.id AS id1, b.id AS id2
             |  FROM sig a JOIN sig b ON a.t = b.t AND a.b = b.b AND a.id < b.id)
             |SELECT id1, id2
             |FROM cand
             |JOIN e e1 ON e1.vec_id = id1
             |JOIN e e2 ON e2.vec_id = id2
             |WHERE ROUND(list_cosine_similarity(e1.v, e2.v), 6) >= 0.35
             |ORDER BY id1, id2""".stripMargin)),

    // --------------------------------------------------- sequence packing
    // Start-offset binning of documents into 2048-token windows over 8
    // deterministic per-language streams (id % 8) — all integer arithmetic,
    // so the oracle replays it verbatim with a DuckDB window.
    Q("px20_pack_sequences",
      (s, d) => Packing.binStats(docs(s, d), "doc_id", "lang", "text",
        budget = 2048, shards = 8)
        .orderBy("lang", "shard", "bin"),
      Some("""WITH t AS (
             |  SELECT lang, doc_id, doc_id % 8 AS shard,
             |    len(list_filter(string_split_regex(trim(text), '\s+'),
             |        x -> x <> '')) AS n
             |  FROM documents
             |), c AS (
             |  SELECT lang, shard, doc_id, n,
             |    SUM(n) OVER (PARTITION BY lang, shard ORDER BY doc_id) - n
             |      AS start
             |  FROM t)
             |SELECT lang, shard, CAST(FLOOR(start / 2048) AS BIGINT) AS bin,
             |  COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
             |FROM c GROUP BY 1, 2, 3
             |ORDER BY lang, shard, bin""".stripMargin)),

    // ------------------------------------------- deterministic sampling
    // The sampled ROWS are hash-chosen (Spark-only); the oracle checks the
    // defining property the driver can verify: exactly min(k, |group|)
    // rows per key survive.
    Q("px14_sample_counts",
      (s, d) => Sampling.reservoirPerKey(docs(s, d), "lang", "doc_id", k = 50)
        .groupBy("lang").agg(count(lit(1)).as("sampled"))
        .orderBy("lang"),
      Some("""SELECT lang, LEAST(COUNT(*), 50) AS sampled FROM documents
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ----------------------------------- deterministic train/val/test split
    // Both content-hash assignment modes in one query: hashSplit's bucket
    // thresholds (val 5% / test 15% / train rest) and bernoulli's
    // normalized-hash threshold (25%), counted per (lang, mode). The
    // oracle replays BOTH from the (doc_id, bucket, h) rows graft.Verify
    // exports — the integer CASE verbatim, and the bernoulli threshold as
    // the same IEEE long→double normalize-and-compare — so membership of
    // every document is pinned, not just the aggregate shape.
    Q("px21_hash_split",
      (s, d) => {
        val doc = docs(s, d)
        val splits = Sampling.hashSplit(doc, "doc_id",
            Seq("val" -> 0.05, "test" -> 0.15))
          .groupBy(col("lang"), col("split").as("mode"))
          .agg(count(lit(1)).as("cnt"))
        val bern = Sampling.bernoulli(doc, "doc_id", rate = 0.25)
          .groupBy("lang").agg(count(lit(1)).as("cnt"))
          .withColumn("mode", lit("bern25"))
          .select("lang", "mode", "cnt")
        splits.unionByName(bern).orderBy("lang", "mode")
      },
      Some(s"""WITH b AS (
             |  SELECT * FROM '${AuxToken}/px21_buckets/*.parquet'),
             |j AS (
             |  SELECT d.lang, b.bucket, b.h
             |  FROM b JOIN documents d ON d.doc_id = b.doc_id),
             |sc AS (
             |  SELECT lang,
             |    CASE WHEN bucket >= 0    AND bucket < 500  THEN 'val'
             |         WHEN bucket >= 500  AND bucket < 2000 THEN 'test'
             |         ELSE 'train' END AS mode,
             |    COUNT(*) AS cnt
             |  FROM j GROUP BY 1, 2),
             |bc AS (
             |  SELECT lang, 'bern25' AS mode, COUNT(*) AS cnt FROM j
             |  WHERE (h / 9223372036854775807.0 + 1.0) / 2.0 < 0.25
             |  GROUP BY 1)
             |SELECT lang, mode, cnt FROM sc
             |UNION ALL SELECT lang, mode, cnt FROM bc
             |ORDER BY lang, mode""".stripMargin)),

    // -------------------------------------- budget-bounded subsample
    // A reproducible ~120k-char slice of the corpus in content-hash order
    // (two-phase bucket prefix sum — no global sort window; see
    // Sampling.budgetedSample). The oracle replays the selection from the
    // px21 hash export: same xxhash64(doc_id, 42), bucket = pmod(h, 256)
    // recomputed in SQL, one global window cumsum — pinning every
    // document's membership and proving two-phase == global-order.
    Q("px30_char_budget",
      (s, d) => Sampling.budgetedSample(docs(s, d), "doc_id", "n_chars",
        budget = 120000L, buckets = 256)
        .select(col("doc_id"), col("n_chars").cast("bigint").as("n_chars"))
        .orderBy("doc_id"),
      Some(s"""WITH bk AS (
             |  SELECT doc_id, h FROM '$AuxToken/px21_buckets/*.parquet'),
             |j AS (
             |  SELECT d.doc_id, d.n_chars, bk.h,
             |    ((bk.h % 256) + 256) % 256 AS b
             |  FROM documents d JOIN bk ON bk.doc_id = d.doc_id),
             |c AS (
             |  SELECT doc_id, n_chars,
             |    SUM(n_chars) OVER (ORDER BY b, h, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM j)
             |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
             |FROM c WHERE cum <= 120000 ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------ mixture-to-shares sampling
    // The data-mix operator: the largest subsample whose lang proportions
    // hit (en 1/2, de/es/fr/zh 1/8 each) in expectation — per-group
    // hash-threshold bernoulli with rates s*T/n, T = min n/s. Exact binary
    // fractions as shares + fixed IEEE evaluation order make membership
    // replayable: the oracle recomputes T and every rate from its own
    // GROUP BY counts and applies the same threshold to the exported
    // hashes, pinning every selected document.
    Q("px31_mix_shares",
      (s, d) => Sampling.mixToShares(docs(s, d), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.125, "es" -> 0.125,
          "fr" -> 0.125, "zh" -> 0.125))
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some(s"""WITH bk AS (
             |  SELECT doc_id, h FROM '$AuxToken/px21_buckets/*.parquet'),
             |sh(lang, s) AS (VALUES ('en', 0.5), ('de', 0.125),
             |  ('es', 0.125), ('fr', 0.125), ('zh', 0.125)),
             |n AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
             |t AS (SELECT MIN(n / CAST(s AS DOUBLE)) AS t
             |      FROM n JOIN sh USING (lang)),
             |r AS (SELECT lang, CAST(s AS DOUBLE) * t.t / n.n AS rate
             |      FROM n JOIN sh USING (lang), t)
             |SELECT d.doc_id, d.lang FROM documents d
             |JOIN r ON r.lang = d.lang
             |JOIN bk ON bk.doc_id = d.doc_id
             |WHERE (bk.h / 9223372036854775807.0 + 1.0) / 2.0 < r.rate
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------- repetition quality gate
    // Gopher-style duplicate-word / duplicate-2gram signals. The query
    // hash-checks the INTEGER counts and the integer-arithmetic flag only
    // (the double fractions ride in the operator's API output) — immune to
    // the cross-engine double-rounding tie class ADVICE r6 flagged.
    Q("px23_repetition",
      (s, d) => TextAnalysis.repetition(docs(s, d), "text", "doc_id")
        .select("doc_id", "n_tokens", "n_distinct_words",
          "n_distinct_2grams", "repetitive")
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'),
             |                x -> x <> '') AS t
             |  FROM documents)
             |SELECT doc_id,
             |  len(t) AS n_tokens,
             |  len(list_distinct(t)) AS n_distinct_words,
             |  CASE WHEN len(t) < 2 THEN 0 ELSE
             |    len(list_distinct(list_transform(range(1, len(t)),
             |        i -> t[i] || ' ' || t[i+1]))) END AS n_distinct_2grams,
             |  CASE WHEN len(t) < 2 THEN FALSE ELSE
             |    ((len(t) - 1) - len(list_distinct(list_transform(range(1, len(t)),
             |        i -> t[i] || ' ' || t[i+1])))) * 1000
             |      > (len(t) - 1) * 50 END AS repetitive
             |FROM t ORDER BY doc_id""".stripMargin)),

    // --------------------------------------- benchmark decontamination
    // Eval set = every 50th document (deterministic); a corpus doc is
    // contaminated when it shares >= 8 distinct 3-gram shingles with any
    // SINGLE eval doc. Broadcast the eval shingles — the corpus is scanned
    // once, no corpus-side shuffle before the bounded pair aggregation.
    Q("px24_decontaminate",
      (s, d) => {
        val doc = docs(s, d)
        Decontaminate.overlap(
          corpus = doc.where(col("doc_id") % 50 =!= 0),
          bench = doc.where(col("doc_id") % 50 === 0),
          idCol = "doc_id", textCol = "text", n = 3)
          .where(col("max_overlap") >= 2)
          .withColumn("contaminated", col("max_overlap") >= 8)
          .orderBy("doc_id")
      },
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |    unnest(list_distinct(list_transform(
             |      range(1, len(t) - 1),
             |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
             |  FROM (SELECT doc_id,
             |          list_filter(string_split_regex(trim(text), '\s+'),
             |                      x -> x <> '') AS t
             |        FROM documents)
             |  WHERE len(t) >= 3
             |), b AS (SELECT doc_id AS bench_id, g FROM sh WHERE doc_id % 50 = 0),
             |   c AS (SELECT doc_id, g FROM sh WHERE doc_id % 50 <> 0),
             |   o AS (
             |  SELECT c.doc_id, b.bench_id, COUNT(*) AS ov
             |  FROM c JOIN b USING (g) GROUP BY 1, 2
             |), m AS (SELECT doc_id, MAX(ov) AS max_overlap FROM o GROUP BY 1)
             |SELECT doc_id, max_overlap, max_overlap >= 8 AS contaminated
             |FROM m WHERE max_overlap >= 2 ORDER BY doc_id""".stripMargin)),

    // ------------------------------------ composed pipeline (end-to-end)
    // The north-star composition: decontaminate → near-dup representatives
    // → deterministic hash split, emitting per-(lang, split) surviving-doc
    // counts — the three stages chain as ONE lazy Catalyst plan with no
    // materialization seams (each stage is individually oracled as
    // px24/px18/px21; this query proves they compose). The oracle is the
    // corresponding WITH-chain of those queries' SQL fragments, with the
    // split replayed from the px21 bucket export (DuckDB has no xxhash64).
    Q("px29_composed",
      (s, d) => curateText(docs(s, d)),
      Some(s"""WITH RECURSIVE sh AS (
             |  SELECT doc_id,
             |    unnest(list_distinct(list_transform(
             |      range(1, len(t) - 1),
             |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
             |  FROM (SELECT doc_id,
             |          list_filter(string_split_regex(trim(text), '\\s+'),
             |                      x -> x <> '') AS t
             |        FROM documents)
             |  WHERE len(t) >= 3
             |), bsh AS (SELECT doc_id AS bench_id, g FROM sh WHERE doc_id % 50 = 0),
             |   csh0 AS (SELECT doc_id, g FROM sh WHERE doc_id % 50 <> 0),
             |   contam AS (
             |  SELECT doc_id FROM (
             |    SELECT csh0.doc_id, bsh.bench_id, COUNT(*) AS ov
             |    FROM csh0 JOIN bsh USING (g) GROUP BY 1, 2)
             |  GROUP BY doc_id HAVING MAX(ov) >= 8
             |), clean AS (
             |  SELECT d.doc_id, d.lang FROM documents d
             |  WHERE d.doc_id % 50 <> 0
             |    AND d.doc_id NOT IN (SELECT doc_id FROM contam)
             |), csh AS (
             |  SELECT csh0.doc_id, csh0.g FROM csh0
             |  JOIN clean ON clean.doc_id = csh0.doc_id
             |), sizes AS (
             |  SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY doc_id
             |), shared AS (
             |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
             |  FROM csh a JOIN csh b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |), p AS (
             |  SELECT id1, id2 FROM shared
             |  JOIN sizes sa ON sa.doc_id = id1
             |  JOIN sizes sb ON sb.doc_id = id2
             |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6
             |), und AS (
             |  SELECT id1 AS a, id2 AS b FROM p
             |  UNION SELECT id2, id1 FROM p
             |), reach(id, r) AS (
             |  SELECT a, a FROM (SELECT DISTINCT a FROM und)
             |  UNION
             |  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id
             |), comp AS (
             |  SELECT id, MIN(r) AS root FROM reach GROUP BY id
             |), reps AS (
             |  SELECT doc_id, lang FROM clean
             |  WHERE doc_id NOT IN (SELECT id FROM comp WHERE root <> id)
             |), bk AS (SELECT * FROM '$AuxToken/px21_buckets/*.parquet')
             |SELECT reps.lang,
             |  CASE WHEN bk.bucket >= 0    AND bk.bucket < 500  THEN 'val'
             |       WHEN bk.bucket >= 500  AND bk.bucket < 2000 THEN 'test'
             |       ELSE 'train' END AS split,
             |  COUNT(*) AS cnt
             |FROM reps JOIN bk ON bk.doc_id = reps.doc_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // --------------------------------------------- multimodal resize
    // The resize stub's uniform index subsampling (out[i] = in[(i*n) div
    // 64]) is pure integer arithmetic, so DuckDB replays the resized
    // payload byte-for-byte from code points (ASCII corpus: byte == code
    // point) and the 8-bucket histogram of the RESIZED bytes pins every
    // sampled index.
    Q("px28_multimodal_resize",
      (s, d) => {
        val media = docs(s, d).select(
          col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("media"))
        // the composed pipeline: resize -> batch decode; the histogram
        // counts are exact because 64 = 2^6 makes count/64 dyadic
        val resized = Multimodal.resize(media, outLen = 64)
          .withColumn("meta", struct(lit("txt").as("format"),
            lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height")))
        val decoded = Multimodal.decodeFeatures(resized)
        val counts = (0 until 8).map(j =>
          round(element_at(col("feature"), j + 1) * col("n_bytes"))
            .cast("bigint").as(s"c$j"))
        decoded
          .select(col("media_id") +: col("n_bytes").as("n_out") +: counts: _*)
          .orderBy("media_id")
      },
      Some("""WITH src AS (
             |  SELECT doc_id, encode(text) AS b,
             |         octet_length(encode(text)) AS n
             |  FROM documents
             |), ch AS (
             |  SELECT doc_id,
             |    unicode(text[CAST((j * n) // 64 AS BIGINT) + 1]) // 32 AS bk
             |  FROM src JOIN documents USING (doc_id), range(64) t(j)
             |  WHERE n > 0
             |)
             |SELECT s.doc_id AS media_id,
             |  CAST(CASE WHEN s.n > 0 THEN 64 ELSE 0 END AS BIGINT) AS n_out,
             |  CAST(COALESCE(SUM(CASE WHEN bk = 0 THEN 1 END), 0) AS BIGINT) AS c0,
             |  CAST(COALESCE(SUM(CASE WHEN bk = 1 THEN 1 END), 0) AS BIGINT) AS c1,
             |  CAST(COALESCE(SUM(CASE WHEN bk = 2 THEN 1 END), 0) AS BIGINT) AS c2,
             |  CAST(COALESCE(SUM(CASE WHEN bk = 3 THEN 1 END), 0) AS BIGINT) AS c3,
             |  CAST(COALESCE(SUM(CASE WHEN bk = 4 THEN 1 END), 0) AS BIGINT) AS c4,
             |  CAST(COALESCE(SUM(CASE WHEN bk = 5 THEN 1 END), 0) AS BIGINT) AS c5,
             |  CAST(COALESCE(SUM(CASE WHEN bk = 6 THEN 1 END), 0) AS BIGINT) AS c6,
             |  CAST(COALESCE(SUM(CASE WHEN bk = 7 THEN 1 END), 0) AS BIGINT) AS c7
             |FROM src s LEFT JOIN ch ON ch.doc_id = s.doc_id
             |GROUP BY 1, 2 ORDER BY media_id""".stripMargin)),

    // --------------------------------------- BPE-ish regex tokenization
    // The GPT-style pre-tokenizer over the JSON-structured props column
    // (letters / digit runs / symbol runs), where whitespace splitting
    // under-segments. Character-class regex -> Java and RE2 agree exactly.
    Q("px27_bpe_tokens",
      (s, d) => {
        val ev = graft.Tables.events(s, d)
        ev.select(col("event_type"), col("props"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_events"),
            sum(size(TextAnalysis.bpeTokens(col("props"))))
              .cast("bigint").as("n_tokens"),
            sum(size(regexp_extract_all(col("props"), lit("[A-Za-z]+"), lit(0))))
              .cast("bigint").as("n_alpha"),
            sum(size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0))))
              .cast("bigint").as("n_num"),
            sum(size(regexp_extract_all(col("props"),
              lit("[^A-Za-z0-9\\s]+"), lit(0))))
              .cast("bigint").as("n_punct"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n_events,
             |  CAST(SUM(len(regexp_extract_all(props,
             |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))) AS BIGINT) AS n_tokens,
             |  CAST(SUM(len(regexp_extract_all(props, '[A-Za-z]+'))) AS BIGINT) AS n_alpha,
             |  CAST(SUM(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT) AS n_num,
             |  CAST(SUM(len(regexp_extract_all(props,
             |    '[^A-Za-z0-9\s]+'))) AS BIGINT) AS n_punct
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------ distinctive terms (TF-IDF)
    // Top-3 rarity-weighted terms per document. Ordering is tf/df via IEEE
    // division of identical integers (correctly rounded -> identical in
    // both engines); output is integers + the term, so the hash compare
    // has no float-formatting surface at all.
    Q("px26_distinctive_terms",
      (s, d) => TextAnalysis.distinctiveTerms(docs(s, d), "doc_id", "text",
        k = 3)
        .orderBy("doc_id", "rnk"),
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |           x -> x <> '')) AS term
             |  FROM documents
             |), tf AS (
             |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
             |), dfq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
             |r AS (
             |  -- CAST, not * 1.0: a DECIMAL literal would make the quotient
             |  -- DECIMAL division, which is not guaranteed to round like the
             |  -- IEEE-double division Spark performs on near-tie ratios
             |  SELECT doc_id, term, tf, dfreq,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id
             |      ORDER BY CAST(tf AS DOUBLE) / dfreq DESC, term) AS rnk
             |  FROM tf JOIN dfq USING (term))
             |SELECT doc_id, term, tf, dfreq, rnk FROM r WHERE rnk <= 3
             |ORDER BY doc_id, rnk""".stripMargin)),

    // --------------------------------------------- span-level duplication
    // Repeated 8-token windows across the corpus (span-dedup signal,
    // distinct from whole-doc Jaccard). Linear plan: window frequency is
    // one groupBy, the join-back is 1:1 — hot boilerplate windows cost
    // their row count, never a pairwise blowup. Integer output only.
    Q("px25_shared_spans",
      (s, d) => Dedup.sharedSpans(docs(s, d), "doc_id", "text", n = 8)
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'),
             |                x -> x <> '') AS t
             |  FROM documents
             |), w AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    range(1, len(t) - 6),
             |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
             |         t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' ' ||
             |         t[i+6] || ' ' || t[i+7]))) AS w
             |  FROM t WHERE len(t) >= 8
             |), d AS (SELECT w, COUNT(*) AS nd FROM w GROUP BY w),
             |per AS (
             |  SELECT doc_id, COUNT(*) AS nw,
             |    COUNT(*) FILTER (nd >= 2) AS ns
             |  FROM w JOIN d USING (w) GROUP BY doc_id)
             |SELECT doc.doc_id,
             |  COALESCE(nw, 0) AS n_windows,
             |  COALESCE(ns, 0) AS n_shared,
             |  COALESCE(ns, 0) * 10 > COALESCE(nw, 0) AS repeated
             |FROM documents doc LEFT JOIN per ON per.doc_id = doc.doc_id
             |ORDER BY doc.doc_id""".stripMargin)),

    // ------------------------------ X3: exact cosine top-k (SURVEY §2.D note)
    Q("x3_sim_exact_topk",
      (s, d) => {
        val e = embs(s, d)
        Similarity.bruteForceTopK(
          corpus = e.select(col("vec_id"), col("embedding")),
          queries = e.where(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 3)
          .select("qid", "nbr", "rank")
          .orderBy("qid", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
             |          FROM embeddings WHERE vec_id < 10),
             |     c AS (SELECT vec_id AS nbr, embedding::DOUBLE[] AS cv
             |          FROM embeddings),
             |scored AS (
             |  SELECT qid, nbr,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY ROUND(list_cosine_similarity(qv, cv), 6) DESC, nbr) AS rank
             |  FROM q JOIN c ON qid <> nbr)
             |SELECT qid, nbr, rank FROM scored WHERE rank <= 3
             |ORDER BY qid, rank""".stripMargin)),

    // --------------------------------------------------- multimodal plumbing
    // Binary column built from text bytes (no codec libs in-env); metadata
    // extraction is deterministic and oracle-checked; the batch decode path
    // (mapPartitions) is exercised in MultimodalSpec.
    // ------------------------------------------ vocabulary building (top-k)
    // The tokenizer-training primitive: per-language token counts, top-20
    // per language, computed as a TWO-PHASE top-k. A single window
    // partitioned only by `lang` would sort each language's entire
    // vocabulary on one task (|langs| ≈ 5 → parallelism 5 — a straggler/OOM
    // machine at 100 TB). Instead: rank locally within each pre-shuffle
    // partition (every global-top-20 row has local rank ≤ its global rank,
    // so phase 1 never drops a winner), then rank the ≤ 20×P survivors
    // globally — the only lang-partitioned sort runs on a provably tiny
    // input regardless of corpus size.
    Q("px15_vocab_topk",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
        val counts = docs(s, d)
          .select(col("lang"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
          .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
        counts
          .withColumn("_b", spark_partition_id())
          .withColumn("_lr", row_number().over(
            w.partitionBy("lang", "_b")
              .orderBy(col("cnt").desc, col("word"))))
          .where(col("_lr") <= 20)
          .withColumn("rnk", row_number().over(
            w.partitionBy("lang")
              .orderBy(col("cnt").desc, col("word"))).cast("bigint"))
          .where(col("rnk") <= 20)
          .select("lang", "word", "cnt", "rnk")
          .orderBy("lang", "rnk")
      },
      Some("""WITH tok AS (
             |  SELECT lang,
             |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |           x -> x <> '')) AS word
             |  FROM documents
             |), c AS (
             |  SELECT lang, word, COUNT(*) AS cnt FROM tok GROUP BY lang, word
             |), r AS (
             |  SELECT lang, word, cnt,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY cnt DESC, word) AS rnk
             |  FROM c)
             |SELECT lang, word, cnt, rnk FROM r WHERE rnk <= 20
             |ORDER BY lang, rnk""".stripMargin)),

    // ------------------------------------------- sketch aggregates (scale)
    // The 100 TB forms of COUNT(DISTINCT) and percentile: HyperLogLog++ and
    // a quantile sketch — single-pass, fixed-size state, mergeable across
    // partitions (exact distinct shuffles every distinct value; exact
    // percentile buffers the group). The sketch VALUES are engine-specific,
    // but their error BOUNDS are not: the query emits per-lang booleans —
    // HLL estimate within 5% of exact (rsd=0.02, so 5% is >2 sigma), and
    // the rank-sketch median between the exact 0.45/0.55 quantiles
    // (accuracy=1000 bounds rank error by 0.001, so 0.05 is 50x margin) —
    // and the oracle pins every boolean TRUE from DuckDB's exact side.
    // The exact aggregations ride along only to make the bound checkable
    // in-plan; a production pipeline runs the sketches alone.
    Q("px16_approx_stats",
      (s, d) => docs(s, d)
        .groupBy("lang")
        .agg(
          approx_count_distinct(col("text"), rsd = 0.02).as("uniq_est"),
          countDistinct(col("text")).as("uniq_exact"),
          expr("approx_percentile(n_chars, 0.5, 1000)").as("p50_est"),
          expr("percentile(n_chars, 0.45)").as("p45"),
          expr("percentile(n_chars, 0.55)").as("p55"),
          count(lit(1)).as("_n"))
        .select(col("lang"),
          (abs(col("uniq_est") - col("uniq_exact"))
            <= col("uniq_exact") * 0.05).as("uniq_within_5pct"),
          // the rank-error margin argument only holds once the group is
          // big enough that rank 0.5n clears the INTERPOLATION between
          // the exact 0.45/0.55 quantiles (approx_percentile returns an
          // actual element; percentile interpolates — at n=4 the sketch
          // can be EXACT yet sit outside the interpolated band). Tiny
          // groups are vacuously in-bounds rather than false alarms.
          (col("_n") < 20 ||
            (col("p50_est") >= col("p45") && col("p50_est") <= col("p55")))
            .as("p50_within_rank_bounds"))
        .orderBy("lang"),
      Some(s"""-- Fully cross-engine: Spark's sketch ESTIMATES are exported
             |-- (Verify aux) and DuckDB re-derives both booleans against its
             |-- OWN exact COUNT(DISTINCT) and quantiles — a broken HLL or
             |-- rank sketch fails here on DuckDB's ground truth, not on a
             |-- pinned expectation.
             |WITH est AS (SELECT * FROM '$AuxToken/px16_estimates/*.parquet'),
             |ex AS (
             |  SELECT lang, COUNT(DISTINCT text) AS uniq_exact,
             |    quantile_cont(n_chars, 0.45) AS p45,
             |    quantile_cont(n_chars, 0.55) AS p55,
             |    COUNT(*) AS n
             |  FROM documents GROUP BY lang)
             |SELECT ex.lang,
             |  (ABS(est.uniq_est - ex.uniq_exact) <= 0.05 * ex.uniq_exact)
             |    AS uniq_within_5pct,
             |  (ex.n < 20 OR (est.p50_est >= ex.p45 AND est.p50_est <= ex.p55))
             |    AS p50_within_rank_bounds
             |FROM ex JOIN est ON est.lang = ex.lang
             |ORDER BY ex.lang""".stripMargin)),

    // ------------------------------------- corpus-level minhash (typed UDAF)
    // One merged signature per source via the MinHashMerge Aggregator —
    // map-side partial merge like any built-in agg; cross-source Jaccard is
    // then estimable from the merged sigs alone. Fully oracled: Verify
    // exports the per-doc signatures (posexploded), and DuckDB recomputes
    // the per-source elementwise MIN independently — checking the
    // Aggregator's zero/reduce/merge path against a flat re-aggregation
    // (PipelineSpec additionally proves merged == signature-of-union).
    Q("px17_corpus_minhash",
      (s, d) => {
        val merge = graft.functions.MinHashMerge(32)
        docs(s, d)
          .select(col("source"),
            graft.functions.MinHashSigs(
              TextAnalysis.shingles(col("text"), 3), 32).as("sig"))
          .groupBy("source")
          .agg(merge(col("sig")).as("merged"))
          .select(col("source"),
            expr("array_join(transform(merged, x -> cast(x as string)), ',')")
              .as("sig"))
          .orderBy("source")
      },
      Some(s"""WITH s AS (SELECT * FROM '${AuxToken}/px17_sigs/*.parquet'),
             |m AS (SELECT source, pos, MIN(h) AS mh FROM s GROUP BY 1, 2)
             |SELECT source,
             |  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY pos) AS sig
             |FROM m GROUP BY source ORDER BY source""".stripMargin)),

    // --------------------------------- multimodal curation flagship (x4)
    // Assembly (documents ⋈ embeddings by id) → integer quality gate
    // (token floor + non-degenerate embedding: quantization pins an
    // extreme code to ±127 whenever the vector is nonzero) → train/val/
    // test hash split → per-(lang, split) counts, chained as ONE lazy
    // Catalyst plan (the px29 posture for the multimodal path — no
    // materialization seams). Oracle: the px52 quantization replay + the
    // px21 bucket export.
    Q("x4_multimodal_curation",
      (s, d) => curateMultimodal(docs(s, d), embs(s, d)),
      Some(s"""WITH v AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |), m AS (
             |  SELECT vec_id, e,
             |    list_max(list_transform(e, x -> abs(x))) AS ma
             |  FROM v
             |), c AS (
             |  SELECT vec_id,
             |    CASE WHEN ma > 0 THEN list_transform(e,
             |           x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT))
             |         ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END
             |      AS codes
             |  FROM m
             |), q AS (
             |  SELECT vec_id, list_min(codes) AS code_min,
             |    list_max(codes) AS code_max
             |  FROM c
             |), t AS (
             |  SELECT doc_id, lang,
             |    CAST(len(list_filter(
             |      string_split_regex(trim(text), '\\s+'), x -> x <> ''))
             |      AS BIGINT) AS n_tokens
             |  FROM documents
             |), g AS (
             |  SELECT t.doc_id, t.lang FROM t
             |  JOIN q ON t.doc_id = q.vec_id
             |  WHERE t.n_tokens >= 20
             |    AND (q.code_max = 127 OR q.code_min = -127)
             |), b AS (
             |  SELECT * FROM '$AuxToken/px21_buckets/*.parquet')
             |SELECT g.lang,
             |  CASE WHEN b.bucket >= 0   AND b.bucket < 500  THEN 'val'
             |       WHEN b.bucket >= 500 AND b.bucket < 2000 THEN 'test'
             |       ELSE 'train' END AS split,
             |  COUNT(*) AS cnt
             |FROM g JOIN b ON g.doc_id = b.doc_id
             |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // --------------------------------------- cross-modal record assembly
    // Pair each document with its embedding by id and emit per-record
    // features from BOTH modalities (token count; int8 code sum/extremes
    // from px38's quantization) — the modality-pairing join every
    // multimodal training-data build runs. All outputs integer-exact.
    // Scale: an id-equi join of two co-partitionable tables — bucket both
    // by id at persist time and it is a zero-exchange sort-merge join
    // (BucketingSpec proves that pattern).
    Q("px52_multimodal_assembly",
      (s, d) => {
        val doc = docs(s, d).select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        val codes = Similarity.quantizeInt8(embs(s, d), "vec_id", "embedding")
          .withColumnRenamed("vec_id", "doc_id")
        doc.join(codes, "doc_id")
          .select("doc_id", "lang", "n_tokens",
            "n_dims", "code_sum", "code_min", "code_max")
          .orderBy("doc_id")
      },
      Some("""WITH v AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |), m AS (
             |  SELECT vec_id, e,
             |    list_max(list_transform(e, x -> abs(x))) AS ma
             |  FROM v
             |), c AS (
             |  SELECT vec_id,
             |    CASE WHEN ma > 0 THEN list_transform(e,
             |           x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT))
             |         ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END
             |      AS codes
             |  FROM m
             |), q AS (
             |  SELECT vec_id, CAST(len(codes) AS BIGINT) AS n_dims,
             |    CAST(list_sum(codes) AS BIGINT) AS code_sum,
             |    list_min(codes) AS code_min, list_max(codes) AS code_max
             |  FROM c
             |), t AS (
             |  SELECT doc_id, lang,
             |    CAST(len(list_filter(
             |      string_split_regex(trim(text), '\s+'), x -> x <> ''))
             |      AS BIGINT) AS n_tokens
             |  FROM documents)
             |SELECT t.doc_id, t.lang, t.n_tokens,
             |  q.n_dims, q.code_sum, q.code_min, q.code_max
             |FROM t JOIN q ON t.doc_id = q.vec_id
             |ORDER BY t.doc_id""".stripMargin)),

    // ------------------------------------------- cross-corpus novelty
    // Batch (odd doc ids) scored against the reference corpus (even ids):
    // per doc, distinct bigrams absent from the reference vocabulary.
    // Completes the contamination family: px24 flags eval overlap, px40
    // scores own-corpus OOV, px41 exact-dedups, px51 measures freshness
    // against a DIFFERENT corpus. Integer counts — exact oracle.
    Q("px51_novelty_vs_reference",
      (s, d) => {
        val all = docs(s, d)
        TextAnalysis.noveltyVsReference(
          batch = all.where(col("doc_id") % 2 === 1),
          reference = all.where(col("doc_id") % 2 === 0),
          textCol = "text", idCol = "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))
             |    AS gs
             |  FROM (SELECT doc_id, list_filter(
             |          string_split_regex(trim(lower(text)), '\s+'),
             |          x -> x <> '') AS toks
             |        FROM documents)
             |), ref AS (
             |  SELECT DISTINCT unnest(gs) AS g FROM t WHERE doc_id % 2 = 0
             |), b AS (
             |  SELECT doc_id, unnest(gs) AS g FROM t WHERE doc_id % 2 = 1
             |), nov AS (
             |  SELECT doc_id, count(*) AS n_novel FROM b
             |  WHERE g NOT IN (SELECT g FROM ref) GROUP BY doc_id
             |)
             |SELECT t.doc_id, CAST(len(t.gs) AS BIGINT) AS n_bigrams,
             |  COALESCE(nov.n_novel, 0) AS n_novel,
             |  (COALESCE(nov.n_novel, 0) * 2 > len(t.gs)) AS mostly_novel
             |FROM t LEFT JOIN nov ON t.doc_id = nov.doc_id
             |WHERE t.doc_id % 2 = 1
             |ORDER BY t.doc_id""".stripMargin)),

    // ----------------------------------------------- exact heavy hitters
    // Every bigram above 1/1000 corpus frequency, found via per-partition
    // Misra-Gries summaries (hard 2000-entry memory bound — the shape for
    // corpora whose distinct set outgrows the agg hash map) + exact
    // candidate recount. The bounded phase is an implementation detail
    // exactness never depends on, so the oracle is the plain HAVING form.
    Q("px50_heavy_hitters",
      (s, d) => TextAnalysis.heavyHitters(
        docs(s, d).select(explode(graft.functions.ShinglesBag(
          TextAnalysis.tokens(lower(col("text"))), 2)).as("item")),
        "item", support = 1000, counters = 2000)
        .orderBy("item"),
      Some("""WITH b AS (
             |  SELECT toks[i] || ' ' || toks[i + 1] AS item
             |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i
             |        FROM (SELECT list_filter(
             |                string_split_regex(trim(lower(text)), '\s+'),
             |                x -> x <> '') AS toks
             |              FROM documents)
             |        WHERE len(toks) >= 2)
             |), n AS (SELECT COUNT(*) AS n FROM b)
             |SELECT item, COUNT(*) AS cnt FROM b, n
             |GROUP BY item, n.n HAVING COUNT(*) * 1000 > n.n
             |ORDER BY item""".stripMargin)),

    // ------------------------------------- cross-source similarity matrix
    // "How similar are my data sources?" — the corpus-composition
    // diagnostic: per-source merged minhash signatures (px17's UDAF, one
    // map-side-combined aggregation), then pairwise slot-agreement counts
    // (n_agree/32 estimates the shingle-set Jaccard between sources).
    // The pair join runs over |sources| rows — model-sized, never corpus.
    // n_agree is an INTEGER, and the oracle re-merges the exported per-doc
    // signatures independently, so the whole matrix is value-exact.
    Q("px49_source_similarity",
      (s, d) => Similarity.corpusAgreement(docs(s, d), "text", "source",
        slots = 32)
        .orderBy("s1", "s2"),
      Some(s"""WITH s AS (SELECT * FROM '${AuxToken}/px17_sigs/*.parquet'),
             |m AS (SELECT source, pos, MIN(h) AS mh FROM s GROUP BY 1, 2)
             |SELECT a.source AS s1, b.source AS s2,
             |  CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_agree
             |FROM m a JOIN m b ON a.pos = b.pos AND a.source < b.source
             |GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin)),

    Q("px12_multimodal_meta",
      (s, d) => docs(s, d)
        .select(col("doc_id").as("media_id"), encode(col("text"), "UTF-8").as("media"))
        .select(col("media_id"),
          octet_length(col("media")).cast("bigint").as("n_bytes"),
          (octet_length(col("media")).cast("bigint") % 640).as("fake_width"),
          ((octet_length(col("media")).cast("bigint") * 7) % 480).as("fake_height"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id,
             |  octet_length(encode(text)) AS n_bytes,
             |  octet_length(encode(text)) % 640 AS fake_width,
             |  (octet_length(encode(text)) * 7) % 480 AS fake_height
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ------------------------------------------- multimodal batch decode
    // The ACTUAL decode path as a declared query (px12 covers only
    // metadata arithmetic): binary media → Multimodal.decodeFeatures
    // (mapPartitions batch shape, one decoder init per partition) → the
    // 8-bucket byte histogram. The stub decoder is deterministic byte
    // arithmetic — bucket = byte >> 5, normalized by length — so the
    // integer bucket COUNTS are exactly recoverable as round(f_j·n) and
    // DuckDB replays them from the text's code points (the corpus is
    // ASCII, so byte == code point; TESTDATA is generated that way).
    Q("px22_multimodal_decode",
      (s, d) => {
        val media = docs(s, d).select(
          col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("media"),
          struct(lit("txt").as("format"),
            lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height")).as("meta"))
        val decoded = Multimodal.decodeFeatures(media)
        val counts = (0 until 8).map(j =>
          round(element_at(col("feature"), j + 1) * col("n_bytes"))
            .cast("bigint").as(s"c$j"))
        decoded.select(col("media_id") +: col("n_bytes") +: counts: _*)
          .orderBy("media_id")
      },
      Some("""WITH ch AS (
             |  SELECT doc_id, unicode(c) // 32 AS b
             |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
             |        FROM documents)
             |  WHERE c <> ''
             |)
             |SELECT d.doc_id AS media_id,
             |  octet_length(encode(d.text)) AS n_bytes,
             |  CAST(COALESCE(SUM(CASE WHEN b = 0 THEN 1 END), 0) AS BIGINT) AS c0,
             |  CAST(COALESCE(SUM(CASE WHEN b = 1 THEN 1 END), 0) AS BIGINT) AS c1,
             |  CAST(COALESCE(SUM(CASE WHEN b = 2 THEN 1 END), 0) AS BIGINT) AS c2,
             |  CAST(COALESCE(SUM(CASE WHEN b = 3 THEN 1 END), 0) AS BIGINT) AS c3,
             |  CAST(COALESCE(SUM(CASE WHEN b = 4 THEN 1 END), 0) AS BIGINT) AS c4,
             |  CAST(COALESCE(SUM(CASE WHEN b = 5 THEN 1 END), 0) AS BIGINT) AS c5,
             |  CAST(COALESCE(SUM(CASE WHEN b = 6 THEN 1 END), 0) AS BIGINT) AS c6,
             |  CAST(COALESCE(SUM(CASE WHEN b = 7 THEN 1 END), 0) AS BIGINT) AS c7
             |FROM documents d LEFT JOIN ch ON ch.doc_id = d.doc_id
             |GROUP BY 1, 2 ORDER BY media_id""".stripMargin)),

    // ----------------------------------------- REAL ImageIO image decode
    // No stub anywhere on this path: each doc's text bytes become a real
    // grayscale 24-bit BMP (width 64, bottom-up rows, zero padding); odd
    // ids additionally round-trip through the PNG codec (deflate — a real
    // compressed format); decode is JDK javax.imageio (Multimodal
    // .decodeImages, mapPartitions batch shape, format re-sniffed from the
    // bytes). Because encodeBmp's pixel mapping is pure integer
    // arithmetic and PNG is lossless, DuckDB replays width, height, and
    // every luminance-histogram count from the text's code points (ASCII
    // corpus: byte == code point): pixel count = 64·h, the w·h − n padding
    // pixels are zero (bucket 0), and text byte b lands in bucket b>>5.
    Q("px32_imageio_decode",
      (s, d) => {
        val media = docs(s, d).select(
          col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("media"))
        val decoded = Multimodal.decodeImages(
          Multimodal.toImages(media, width = 64, pngForOdd = true))
        val counts = (0 until 8).map(j =>
          element_at(col("lum_hist"), j + 1).as(s"c$j"))
        decoded.select(
          Seq(col("media_id"), col("format"),
            col("img_w").cast("bigint").as("img_w"),
            col("img_h").cast("bigint").as("img_h")) ++ counts: _*)
          .orderBy("media_id")
      },
      Some("""WITH src AS (
             |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
             |), ch AS (
             |  SELECT doc_id, unicode(c) // 32 AS b
             |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
             |        FROM documents)
             |  WHERE c <> ''
             |)
             |SELECT s.doc_id AS media_id,
             |  CASE WHEN s.doc_id % 2 = 1 THEN 'png' ELSE 'bmp' END AS format,
             |  CAST(64 AS BIGINT) AS img_w,
             |  CAST(GREATEST(1, (s.n + 63) // 64) AS BIGINT) AS img_h,
             |  CAST(64 * GREATEST(1, (s.n + 63) // 64) - s.n
             |    + COALESCE(SUM(CASE WHEN b = 0 THEN 1 END), 0) AS BIGINT) AS c0,
             |  CAST(COALESCE(SUM(CASE WHEN b = 1 THEN 1 END), 0) AS BIGINT) AS c1,
             |  CAST(COALESCE(SUM(CASE WHEN b = 2 THEN 1 END), 0) AS BIGINT) AS c2,
             |  CAST(COALESCE(SUM(CASE WHEN b = 3 THEN 1 END), 0) AS BIGINT) AS c3,
             |  CAST(COALESCE(SUM(CASE WHEN b = 4 THEN 1 END), 0) AS BIGINT) AS c4,
             |  CAST(COALESCE(SUM(CASE WHEN b = 5 THEN 1 END), 0) AS BIGINT) AS c5,
             |  CAST(COALESCE(SUM(CASE WHEN b = 6 THEN 1 END), 0) AS BIGINT) AS c6,
             |  CAST(COALESCE(SUM(CASE WHEN b = 7 THEN 1 END), 0) AS BIGINT) AS c7
             |FROM src s LEFT JOIN ch ON ch.doc_id = s.doc_id
             |GROUP BY 1, 2, 3, 4, s.n ORDER BY media_id""".stripMargin)),

    // --------------------------------------- REAL javax.sound audio decode
    // No stub anywhere on this path: each doc's text bytes become a real
    // RIFF/WAVE file (PCM_SIGNED 16-bit mono, sample = (byte-128)·256 —
    // Multimodal.encodeWav), decoded through JDK javax.sound.sampled
    // (Multimodal.decodeAudio, mapPartitions batch shape, format
    // re-sniffed from the bytes). Because the sample mapping is pure
    // integer arithmetic, DuckDB replays sample count, rate, channels and
    // every amplitude-histogram count from the text's code points (ASCII
    // corpus: byte == code point): n_samples = octet_length, and byte b's
    // sample lands in amplitude bucket (b·256 + 32768) >> 13 = b >> 5.
    Q("px33_audio_decode",
      (s, d) => {
        val media = docs(s, d).select(
          col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("media"))
        val decoded = Multimodal.decodeAudio(Multimodal.toWavs(media, sampleRate = 8000))
        val counts = (0 until 8).map(j =>
          element_at(col("amp_hist"), j + 1).as(s"c$j"))
        decoded.select(
          Seq(col("media_id"), col("format"),
            col("sample_rate").cast("bigint").as("sample_rate"),
            col("channels").cast("bigint").as("channels"),
            col("n_samples")) ++ counts: _*)
          .orderBy("media_id")
      },
      Some("""WITH src AS (
             |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
             |), ch AS (
             |  SELECT doc_id, unicode(c) // 32 AS b
             |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
             |        FROM documents)
             |  WHERE c <> ''
             |)
             |SELECT s.doc_id AS media_id, 'wav' AS format,
             |  CAST(8000 AS BIGINT) AS sample_rate,
             |  CAST(1 AS BIGINT) AS channels,
             |  CAST(s.n AS BIGINT) AS n_samples,
             |  CAST(COALESCE(SUM(CASE WHEN b = 0 THEN 1 END), 0) AS BIGINT) AS c0,
             |  CAST(COALESCE(SUM(CASE WHEN b = 1 THEN 1 END), 0) AS BIGINT) AS c1,
             |  CAST(COALESCE(SUM(CASE WHEN b = 2 THEN 1 END), 0) AS BIGINT) AS c2,
             |  CAST(COALESCE(SUM(CASE WHEN b = 3 THEN 1 END), 0) AS BIGINT) AS c3,
             |  CAST(COALESCE(SUM(CASE WHEN b = 4 THEN 1 END), 0) AS BIGINT) AS c4,
             |  CAST(COALESCE(SUM(CASE WHEN b = 5 THEN 1 END), 0) AS BIGINT) AS c5,
             |  CAST(COALESCE(SUM(CASE WHEN b = 6 THEN 1 END), 0) AS BIGINT) AS c6,
             |  CAST(COALESCE(SUM(CASE WHEN b = 7 THEN 1 END), 0) AS BIGINT) AS c7
             |FROM src s LEFT JOIN ch ON ch.doc_id = s.doc_id
             |GROUP BY 1, 2, 3, 4, 5 ORDER BY media_id""".stripMargin)),

    // ------------------------------------------- video-shaped frame sampling
    // sampleFrames chunking as a declared query: every 2nd 32-byte chunk
    // of each doc's payload becomes a frame row (posexplode over a
    // computed chunk index — where a real demuxer's keyframe offsets
    // would go). Pure integer arithmetic + substring, so DuckDB replays
    // every frame's index, length, and content from the text itself
    // (ASCII corpus: byte == char). Empty payloads keep their row with
    // null frame columns (the row-preservation invariant, explode_outer).
    Q("px34_frame_sample",
      (s, d) => {
        val media = docs(s, d).select(
          col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("media"))
        Multimodal.sampleFrames(media, chunkBytes = 32, stride = 2)
          .select(col("media_id"),
            col("frame_idx").cast("bigint").as("frame_idx"),
            octet_length(col("frame")).cast("bigint").as("frame_len"),
            decode(col("frame"), "UTF-8").as("frame_text"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH src AS (
             |  SELECT doc_id, text,
             |    CAST(CEIL(octet_length(encode(text)) / 32.0) AS BIGINT) AS n_chunks
             |  FROM documents
             |), idx AS (
             |  SELECT doc_id, UNNEST(range(0, n_chunks, 2)) AS fi
             |  FROM src WHERE n_chunks > 0
             |)
             |SELECT s.doc_id AS media_id,
             |  CAST(i.fi AS BIGINT) AS frame_idx,
             |  CAST(octet_length(encode(substring(s.text, i.fi * 32 + 1, 32)))
             |    AS BIGINT) AS frame_len,
             |  substring(s.text, i.fi * 32 + 1, 32) AS frame_text
             |FROM src s LEFT JOIN idx i ON i.doc_id = s.doc_id
             |ORDER BY media_id, frame_idx""".stripMargin)),

    // ------------------------------------------------------ PII redaction
    // The corpus is synthetic word-salad with no natural PII, so the query
    // plants deterministic PII derived from doc_id (same pattern as the
    // px32/px33 codec payloads) and both engines scrub the identical dirty
    // text: counts from the pre-redaction text, then email→ip→phone masks
    // applied in sequence. Hash-checks the full redacted output via md5.
    Q("px35_pii_redact",
      (s, d) => {
        val dirty = concat(col("text"),
          lit(" reach user"), col("doc_id").cast("string"),
          lit("@mail"), (col("doc_id") % 7).cast("string"),
          lit(".org via 10."), (col("doc_id") % 200).cast("string"),
          lit("."), ((col("doc_id") * 7) % 250).cast("string"),
          lit(".9 tel 555-"),
          lpad(((col("doc_id") * 31) % 10000).cast("string"), 4, "0"))
        TextAnalysis.redactPii(
          docs(s, d).select(col("doc_id"), dirty.as("text")), "text", "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH dirty AS (
             |  SELECT doc_id,
             |    text || ' reach user' || doc_id || '@mail' || (doc_id % 7)
             |      || '.org via 10.' || (doc_id % 200) || '.'
             |      || ((doc_id * 7) % 250) || '.9 tel 555-'
             |      || lpad(CAST((doc_id * 31) % 10000 AS VARCHAR), 4, '0')
             |      AS t
             |  FROM documents
             |), red AS (
             |  SELECT doc_id, t,
             |    regexp_replace(
             |      regexp_replace(
             |        regexp_replace(t,
             |          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             |        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
             |      '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS r
             |  FROM dirty)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t,
             |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
             |  CAST(len(regexp_extract_all(t,
             |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
             |  CAST(len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phone,
             |  length(r) AS redacted_len,
             |  md5(r) AS redacted_hash
             |FROM red ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------- RAG chunking/overlap
    Q("px36_chunk_overlap",
      (s, d) => TextAnalysis.chunk(docs(s, d), "text", "doc_id",
          chunkChars = 200, stride = 150)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH e AS (
             |  SELECT doc_id, text,
             |    unnest(range(0,
             |      1 + (greatest(length(text) - 200, 0) + 149) // 150))
             |      AS chunk_idx
             |  FROM documents)
             |SELECT doc_id, chunk_idx,
             |  length(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200))
             |    AS chunk_chars,
             |  md5(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200))
             |    AS chunk_hash
             |FROM e ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ------------------------------------------------- bigram LM counts
    Q("px37_bigram_topk",
      (s, d) => TextAnalysis.bigramCounts(docs(s, d), "text")
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20),
      Some("""WITH t AS (
             |  SELECT list_filter(
             |    string_split_regex(trim(lower(text)), '\s+'),
             |    x -> x <> '') AS toks
             |  FROM documents
             |), b AS (
             |  SELECT unnest(list_transform(range(1, len(toks)),
             |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
             |  FROM t WHERE len(toks) >= 2)
             |SELECT bigram, count(*) AS cnt FROM b
             |GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin)),

    // -------------------------------------------- int8 embedding quantize
    // Codes are bit-exact across engines because the scale arithmetic is
    // written with one operand order ((x*127.0)/maxAbs + 0.5, floored) —
    // IEEE ops on identical doubles are correctly rounded, so no rounding
    // fudge is needed: the oracle compares raw integer code sums/extremes.
    Q("px38_embed_quantize",
      (s, d) => Similarity.quantizeInt8(embs(s, d), "vec_id", "embedding")
        .orderBy("vec_id"),
      Some("""WITH v AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |), m AS (
             |  SELECT vec_id, e,
             |    list_max(list_transform(e, x -> abs(x))) AS ma
             |  FROM v
             |), c AS (
             |  SELECT vec_id,
             |    CASE WHEN ma > 0 THEN list_transform(e,
             |           x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT))
             |         ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END
             |      AS codes
             |  FROM m)
             |SELECT vec_id,
             |  CAST(len(codes) AS BIGINT) AS n_dims,
             |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
             |  CAST(list_min(codes) AS BIGINT) AS code_min,
             |  CAST(list_max(codes) AS BIGINT) AS code_max
             |FROM c ORDER BY vec_id""".stripMargin)),

    // -------------------------------------------- robust length outliers
    Q("px39_length_outliers",
      (s, d) => TextAnalysis.lengthOutliers(docs(s, d), "n_chars", "source")
        .orderBy("source"),
      Some("""WITH m AS (
             |  SELECT source, CAST(median(n_chars) * 2 AS BIGINT) AS m2
             |  FROM documents GROUP BY source)
             |SELECT d.source,
             |  count(*) AS n_docs,
             |  CAST(sum(CASE WHEN d.n_chars * 4 > m.m2 * 3 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_high,
             |  CAST(sum(CASE WHEN d.n_chars * 4 < m.m2 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_low
             |FROM documents d JOIN m ON d.source = m.source
             |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // --------------------------------------------- OOV-bigram surprisal
    Q("px40_oov_bigrams",
      (s, d) => TextAnalysis.oovBigrams(docs(s, d), "text", "doc_id", k = 200)
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(trim(lower(text)), '\s+'),
             |    x -> x <> '') AS toks
             |  FROM documents
             |), b AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
             |  FROM t WHERE len(toks) >= 2
             |), top AS (
             |  SELECT bigram FROM (
             |    SELECT bigram, count(*) AS c FROM b
             |    GROUP BY 1 ORDER BY c DESC, bigram LIMIT 200)
             |), oov AS (
             |  SELECT doc_id, count(*) AS n_oov FROM b
             |  WHERE bigram NOT IN (SELECT bigram FROM top)
             |  GROUP BY doc_id
             |), n AS (
             |  SELECT doc_id, greatest(len(toks) - 1, 0) AS n_bigrams FROM t)
             |SELECT n.doc_id, n.n_bigrams,
             |  COALESCE(oov.n_oov, 0) AS n_oov,
             |  (COALESCE(oov.n_oov, 0) * 2 > n.n_bigrams) AS mostly_oov
             |FROM n LEFT JOIN oov ON n.doc_id = oov.doc_id
             |ORDER BY n.doc_id""".stripMargin)),

    // --------------------------------------------- incremental ingest dedup
    // Split the corpus by id parity (scale-factor-independent): evens are
    // the EXISTING corpus, odds the NEW batch. The bloom prefilter is an
    // implementation detail exactness never depends on, so the oracle is
    // the plain NOT IN form.
    Q("px41_incremental_dedup",
      (s, d) => {
        val all = docs(s, d)
        Dedup.incrementalNew(
          existing = all.where(col("doc_id") % 2 === 0),
          batch = all.where(col("doc_id") % 2 === 1),
          idCol = "doc_id", textCol = "text",
          expectedItems = 100000L)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id FROM documents
             |WHERE doc_id % 2 = 1
             |  AND text NOT IN
             |    (SELECT text FROM documents WHERE doc_id % 2 = 0)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------- BPE merge training
    // The oracle REPLAYS the training loop: 5 chained stages, each picking
    // the argmax pair from the current word table and re-merging via plain
    // leftmost-non-overlapping replace() — semantics shared exactly by
    // both engines (see TextAnalysis.bpeTrain).
    Q("px42_bpe_train",
      (s, d) => TextAnalysis.bpeTrain(docs(s, d), "text", merges = 5),
      Some {
        val base =
          """WITH wc AS (
            |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
            |    SELECT unnest(list_filter(
            |      string_split_regex(trim(lower(text)), '\s+'),
            |      x -> x <> '')) AS w
            |    FROM documents) GROUP BY w
            |), w0 AS (
            |  SELECT '#' || array_to_string(
            |      list_filter(string_split_regex(w, ''), x -> x <> ''), '##')
            |    || '#' AS repr, cnt
            |  FROM wc
            |)""".stripMargin
        def stage(k: Int) =
          s""", p$k AS (
             |  SELECT syms[gi] AS pl, syms[gi + 1] AS pr,
             |    CAST(SUM(cnt) AS BIGINT) AS c
             |  FROM (
             |    SELECT syms, cnt, unnest(range(1, len(syms))) AS gi FROM (
             |      SELECT string_split(trim(repr, '#'), '##') AS syms, cnt
             |      FROM w${k - 1} WHERE len(repr) > 0))
             |  GROUP BY pl, pr ORDER BY c DESC, pl, pr LIMIT 1
             |), w$k AS (
             |  SELECT replace(repr,
             |    '#' || (SELECT pl FROM p$k) || '##' || (SELECT pr FROM p$k) || '#',
             |    '#' || (SELECT pl FROM p$k) || (SELECT pr FROM p$k) || '#') AS repr,
             |    cnt
             |  FROM w${k - 1}
             |)""".stripMargin
        val stages = (1 to 5).map(stage).mkString
        val out = (1 to 5).map(k =>
          s"SELECT CAST($k AS BIGINT) AS step, pl, pr, c AS pair_count FROM p$k")
          .mkString("\n", "\nUNION ALL\n", "\nORDER BY step")
        base + stages + out
      }),

    // ------------------------------------------ quantized similarity search
    // All-integer search over px38's int8 codes: quantization and ranking
    // replay exactly in SQL (codes are deterministic, dots are integer,
    // ties break on nbr) — no rounding fudge anywhere in the oracle.
    Q("px44_sim_quantized",
      (s, d) => {
        val e = embs(s, d)
        Similarity.quantizedTopK(
          corpus = e.select(col("vec_id"), col("embedding")),
          queries = e.where(col("vec_id") < 20)
            .select(col("vec_id"), col("embedding")),
          idCol = "vec_id", vecCol = "embedding", k = 5)
          .orderBy("qid", "rank")
      },
      Some("""WITH v AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |), m AS (
             |  SELECT vec_id, e,
             |    list_max(list_transform(e, x -> abs(x))) AS ma
             |  FROM v
             |), c AS (
             |  SELECT vec_id,
             |    CASE WHEN ma > 0 THEN list_transform(e,
             |           x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT))
             |         ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END
             |      AS codes
             |  FROM m
             |), scored AS (
             |  SELECT q.vec_id AS qid, t.vec_id AS nbr,
             |    CAST(list_dot_product(q.codes, t.codes) AS BIGINT) AS dot
             |  FROM c q JOIN c t ON q.vec_id < 20 AND q.vec_id <> t.vec_id
             |), ranked AS (
             |  SELECT qid, nbr, dot,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY dot DESC, nbr) AS rank
             |  FROM scored)
             |SELECT qid, nbr, dot, rank FROM ranked WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // --------------------------------------------------- BPE encode/apply
    // Tokenize the corpus with the px42-fitted merges: per document,
    // word/symbol/char counts through the final vocabulary. The oracle
    // re-runs the same 5-stage replay (carrying the word column) and joins
    // it back onto the exploded corpus.
    Q("px43_bpe_encode",
      (s, d) => TextAnalysis.bpeEncode(docs(s, d), "text", "doc_id", merges = 5)
        .orderBy("doc_id"),
      Some {
        val base =
          """WITH wc AS (
            |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
            |    SELECT unnest(list_filter(
            |      string_split_regex(trim(lower(text)), '\s+'),
            |      x -> x <> '')) AS w
            |    FROM documents) GROUP BY w
            |), w0 AS (
            |  SELECT w, '#' || array_to_string(
            |      list_filter(string_split_regex(w, ''), x -> x <> ''), '##')
            |    || '#' AS repr, cnt
            |  FROM wc
            |)""".stripMargin
        def stage(k: Int) =
          s""", p$k AS (
             |  SELECT syms[gi] AS pl, syms[gi + 1] AS pr, SUM(cnt) AS c
             |  FROM (
             |    SELECT syms, cnt, unnest(range(1, len(syms))) AS gi FROM (
             |      SELECT string_split(trim(repr, '#'), '##') AS syms, cnt
             |      FROM w${k - 1}))
             |  GROUP BY pl, pr ORDER BY c DESC, pl, pr LIMIT 1
             |), w$k AS (
             |  SELECT w, replace(repr,
             |    '#' || (SELECT pl FROM p$k) || '##' || (SELECT pr FROM p$k) || '#',
             |    '#' || (SELECT pl FROM p$k) || (SELECT pr FROM p$k) || '#') AS repr,
             |    cnt
             |  FROM w${k - 1}
             |)""".stripMargin
        val stages = (1 to 5).map(stage).mkString
        val tail =
          """, vocab AS (
            |  SELECT w, CAST(len(string_split(trim(repr, '#'), '##')) AS BIGINT)
            |    AS syms
            |  FROM w5
            |), tok AS (
            |  SELECT doc_id, unnest(list_filter(
            |    string_split_regex(trim(lower(text)), '\s+'),
            |    x -> x <> '')) AS w
            |  FROM documents)
            |SELECT t.doc_id,
            |  COUNT(*) AS n_words,
            |  CAST(SUM(v.syms) AS BIGINT) AS n_symbols,
            |  CAST(SUM(length(t.w)) AS BIGINT) AS n_chars
            |FROM tok t JOIN vocab v ON t.w = v.w
            |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
        base + stages + tail
      }),

    // ----------------------------------------------- conjunctive keyword search
    // Topic-slice retrieval: every document containing ALL query terms,
    // ranked by total term frequency. Integer tfs, integer score — exact.
    Q("px45_search_conjunctive",
      (s, d) => TextAnalysis.searchConjunctive(docs(s, d), "text", "doc_id",
        terms = Seq("join", "hash", "scan"), k = 25)
        .orderBy(col("score").desc, col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(trim(lower(text)), '\s+'),
             |    x -> x <> '') AS toks
             |  FROM documents
             |), tf AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf_join,
             |    CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT) AS tf_hash,
             |    CAST(len(list_filter(toks, x -> x = 'scan')) AS BIGINT) AS tf_scan
             |  FROM t)
             |SELECT doc_id, tf_join, tf_hash, tf_scan,
             |  tf_join + tf_hash + tf_scan AS score
             |FROM tf
             |WHERE tf_join > 0 AND tf_hash > 0 AND tf_scan > 0
             |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // -------------------------------------------------- PMI-lift collocations
    // Phrase mining: bigrams ranked by lift = pair·N / (left·right). Every
    // factor is an exact integer and the score is ONE IEEE double division
    // (correctly rounded ⇒ bit-identical across engines) — no rounding
    // class in the oracle at all.
    Q("px46_collocations",
      (s, d) => TextAnalysis.collocations(docs(s, d), "text",
        k = 50, minCount = 5L),
      Some("""WITH t AS (
             |  SELECT list_filter(
             |    string_split_regex(trim(lower(text)), '\s+'),
             |    x -> x <> '') AS toks
             |  FROM documents
             |), uc AS (
             |  SELECT w, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
             |), n AS (
             |  SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc
             |), bc AS (
             |  SELECT bigram, CAST(count(*) AS BIGINT) AS pair_count
             |  FROM (
             |    SELECT toks[i] || ' ' || toks[i + 1] AS bigram
             |    FROM (SELECT toks, unnest(range(1, len(toks))) AS i
             |          FROM t WHERE len(toks) >= 2))
             |  GROUP BY bigram HAVING count(*) >= 5
             |), parts AS (
             |  SELECT bigram, pair_count,
             |    string_split(bigram, ' ')[1] AS w1,
             |    string_split(bigram, ' ')[2] AS w2
             |  FROM bc)
             |SELECT p.bigram, p.pair_count,
             |  u1.c AS left_count, u2.c AS right_count,
             |  (CAST(p.pair_count AS DOUBLE) * CAST(n.n AS DOUBLE)) /
             |    (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS lift
             |FROM parts p
             |JOIN uc u1 ON u1.w = p.w1
             |JOIN uc u2 ON u2.w = p.w2
             |CROSS JOIN n
             |ORDER BY lift DESC, p.bigram LIMIT 50""".stripMargin)),

    // ---------------------------------------------- inverted-index search
    // The many-query serving form of px45: ONE corpus scan answers all
    // three queries through a query-vocabulary-bounded posting table.
    // Conjunction is an integer hit count, score an integer tf sum —
    // exact. PipelineSpec additionally proves per-query equality with
    // the px45 scan form.
    Q("px48_search_many",
      (s, d) => TextAnalysis.searchMany(docs(s, d), "text", "doc_id",
        queries = Seq(
          1L -> Seq("join", "hash", "scan"),
          2L -> Seq("spark", "table"),
          3L -> Seq("customer", "order")),
        k = 10)
        .orderBy("query_id", "rank"),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_filter(
             |    string_split_regex(trim(lower(text)), '\s+'),
             |    x -> x <> '')) AS term
             |  FROM documents
             |), q(query_id, term) AS (
             |  VALUES (1, 'join'), (1, 'hash'), (1, 'scan'),
             |         (2, 'spark'), (2, 'table'),
             |         (3, 'customer'), (3, 'order')
             |), nq AS (
             |  SELECT query_id, COUNT(*) AS n FROM q GROUP BY query_id
             |), p AS (
             |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
             |  WHERE term IN (SELECT term FROM q)
             |  GROUP BY doc_id, term
             |), h AS (
             |  SELECT q.query_id, p.doc_id,
             |    COUNT(*) AS nh, CAST(SUM(p.tf) AS BIGINT) AS score
             |  FROM p JOIN q ON p.term = q.term
             |  GROUP BY q.query_id, p.doc_id
             |), m AS (
             |  SELECT h.query_id, h.doc_id, h.score,
             |    ROW_NUMBER() OVER (PARTITION BY h.query_id
             |      ORDER BY h.score DESC, h.doc_id) AS rank
             |  FROM h JOIN nq ON h.query_id = nq.query_id
             |  WHERE h.nh = nq.n)
             |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank
             |FROM m WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    // --------------------------------------------------- integer centroids
    // The assignment-fixed half of a k-means/IVF training step over the
    // px38 int8 codes: per-(label, dim) code sums. Integer sums are exact
    // and accumulation-order-independent, so the oracle replays the
    // quantization and the sums value-identically (a float centroid could
    // not be hash-compared across engines at all).
    Q("px47_code_centroids",
      (s, d) => Similarity.codeCentroids(embs(s, d),
        "vec_id", "embedding", "label")
        .orderBy("label", "dim"),
      Some("""WITH v AS (
             |  SELECT label, embedding::DOUBLE[] AS e FROM embeddings
             |), m AS (
             |  SELECT label, e,
             |    list_max(list_transform(e, x -> abs(x))) AS ma
             |  FROM v
             |), c AS (
             |  SELECT label,
             |    CASE WHEN ma > 0 THEN list_transform(e,
             |           x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT))
             |         ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END
             |      AS codes
             |  FROM m
             |), x AS (
             |  SELECT label, unnest(range(1, len(codes) + 1)) AS i, codes
             |  FROM c)
             |SELECT label, CAST(i - 1 AS BIGINT) AS dim,
             |  COUNT(*) AS n_vecs, CAST(SUM(codes[i]) AS BIGINT) AS code_sum
             |FROM x GROUP BY label, dim
             |ORDER BY label, dim""".stripMargin))
  )
}
