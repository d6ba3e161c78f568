package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query side is broadcast
  *    (queries ≪ corpus is the normal shape), so the corpus is scanned once
  *    with no shuffle; top-k per query is a windowed rank over the
  *    candidate set. Exact baseline + the right plan when queries fit in
  *    memory — even at 100 TB corpus the scan parallelizes per split.
  *  - [[lshTopK]]: random-hyperplane LSH — each vector gets a b-bit
  *    signature; only same-bucket pairs are scored. Bucket count 2^b bounds
  *    candidate volume; recall is tuned by `tables` independent hash
  *    tables. This is the scale path when queries are also huge: both
  *    sides shuffle once on the bucket key, turning all-pairs into an
  *    equi-join.
  *
  * Dot products use `aggregate(zip_with(...))` over doubles — codegen'd
  * built-ins, deterministic sequential accumulation order (stable hashes).
  */
object Similarity {

  /** Cosine similarity of two float-array columns, accumulated in double.
    * Native expression (graft.functions.CosineSim): the previous
    * `aggregate(zip_with(...))` composition ran 3 interpreted lambda passes
    * per pair and dominated every similarity query's runtime; scores are
    * bit-identical (same sequential double accumulation).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  /** [[cosine]] with per-ROW pre-computed norms (r18, guide §1.2 step 2):
    * candidate-pair scoring recomputed both operands' norm loops per
    * PAIR — ⅔ of the kernel's arithmetic, paid ~(candidates/rows)× per
    * vector (≈2500× in px64's batch serve). Callers attach
    * `VecNorm(vec)` once per side before the candidate join and score
    * pairs with the single dot loop; values are bit-for-bit CosineSim
    * (same loops, same operand order, same NULL semantics —
    * FunctionsSpec pins it), so no oracle can move.
    */
  private def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    graft.functions.CosineSimPre(a, b, na, nb)

  private def vecNorm(v: Column): Column = graft.functions.VecNorm(v)

  /** Existence check through the session's Hadoop FileSystem — the same
    * path resolution every index read/write uses (`spark.read.parquet`
    * accepts any Hadoop URI), so probing for an optional index artifact
    * answers correctly for `hdfs://`/`s3a://`-style dirs too. A raw
    * `java.nio.file.Files.exists` on the dir STRING is silently false for
    * any non-local URI — the silent-wrong-data shape this exists to close.
    */
  private[graft] def hadoopExists(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
      path: String): (org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** A save defines generation 1: drop the cells pointer, every stale
    * generation dir except `cells` itself (the save overwrites it),
    * every manifest file, and staging leftovers, before the save
    * publishes its own generation-1 manifest over the fresh `cells` dir.
    */
  private def resetCellsState(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val (fs, _) = hadoopFs(spark, dir)
    def del(p: org.apache.hadoop.fs.Path, recursive: Boolean): Unit = {
      scala.util.Try(fs.delete(p, recursive)); ()
    }
    del(new org.apache.hadoop.fs.Path(s"$dir/_cells"), false)
    del(new org.apache.hadoop.fs.Path(s"$dir/_cells.tmp"), false)
    del(new org.apache.hadoop.fs.Path(s"$dir/_rm_staging"), true)
    del(new org.apache.hadoop.fs.Path(s"$dir/_append_staging"), true)
    Seq(s"$dir/cells_g*", s"$dir/_manifest_g*").foreach { g =>
      scala.util.Try(
        fs.globStatus(new org.apache.hadoop.fs.Path(g))
          .foreach(st => del(st.getPath, true)))
    }
  }

  /** The `_cells` pointer's raw content, `manifest:_manifest_gN` — the
    * index's current file-listing manifest ([[CellsLayout]]). One FS
    * metadata probe per serve; the pointer file is a few bytes.
    */
  private[graft] def cellsSubdir(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    CellsLayout.pointer(spark, dir)

  /** The index's CURRENT cells table as a source of fresh DataFrames —
    * every reader and maintainer resolves through this ONCE per call, so
    * multi-scan serves read one consistent generation even if a
    * maintainer publishes mid-call.
    */
  private[pipeline] def resolveCells(
      spark: org.apache.spark.sql.SparkSession, dir: String): CellsManifest =
    CellsLayout.resolve(spark, dir)

  /** Rewrite the cells table into a fresh generation with exactly ONE
    * file per cell and atomically switch readers to it — the compaction
    * [[appendToTwoLevelIndex]] schedules (and, by default, runs itself:
    * `autoCompact` — see [[shouldCompact]]): each append writes one file
    * per TOUCHED cell per batch, so after K batches a hot cell holds K
    * files and the tasks×cells file-count pathology the build path
    * eliminated (7.7k 4 KB files; file listing + footer overhead
    * dominating the serve — measured 3.9 → 0.7 s in r15; 50.4k files /
    * 25.1 s serve after 32 appends at 200k vectors, 1.9 s after one
    * compaction — SERVE_r17) re-accumulates incrementally.
    *
    * Publishes through the manifest protocol ([[CellsLayout.publish]]):
    * the new generation is written COMPLETELY beside the live files, one
    * atomic pointer swap switches readers, and the files it superseded
    * are deleted one maintenance generation LATER (a reader that
    * resolved just before the swap still finds every file it needs).
    * On a CLONE ([[cloneIndex]]) compaction also LOCALIZES the index:
    * the rewrite lands under the clone's own dir and the published
    * manifest no longer references the source. Retry-safe at every
    * step: a re-run after a crash rewrites the staged generation and
    * publishes under a fresh generation number; orphans are reclaimed
    * by [[vacuumIndex]] or the next save. Floats round-trip parquet
    * bit-exactly, so serving from the compacted generation equals
    * serving from the fragmented one row for row (spec-pinned).
    * Reference anchor: checkpoint-and-archive compaction,
    * /root/reference/library/GraphDB/Storage.hs:171-207.
    *
    * SINGLE-MAINTAINER: see [[CellsLayout]]'s concurrency contract —
    * mutations on one index dir must be serialized by the caller;
    * readers are always safe.
    */
  def compactTwoLevelIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val src = resolveCells(spark, dir)
    val gen = CellsLayout.nextGen(spark, dir)
    val outDir = s"$dir/cells_g$gen"
    src.df(spark)
      .repartition(col("_c1"), col("_c2"))
      .write.mode("overwrite").partitionBy(CellCols: _*)
      .parquet(outDir)
    val files = CellsLayout.listRelParquet(spark, outDir)
    CellsLayout.publish(spark, dir,
      CellsManifest(gen, Seq(CellsLayout.canonicalRoot(spark, outDir) -> files),
        gc = src.entries), Some(src))
  }

  /** The cells table's partition columns: the compound (level-1,
    * level-2) cell every save, append, remove and compaction writes. */
  private val CellCols = Seq("_c1", "_c2")

  /** Whether the index's cells table has fragmented past
    * `maxFilesPerCell` live files per live cell — the compaction trigger
    * [[appendToTwoLevelIndex]] consults when `autoCompact` is on —
    * answered from the manifest alone (zero file listings). The default
    * threshold is set from the measured
    * serve-decay curve (SERVE_r17, 200k vectors: 1 file/cell → 1.9 s,
    * ~8 append batches → 5.5 s, 32 → 25.1 s): compacting every ~8
    * batches bounds serve latency at <3× floor for an amortized ~1/8 of
    * a full rewrite per append.
    */
  def shouldCompact(spark: org.apache.spark.sql.SparkSession, dir: String,
      maxFilesPerCell: Double = DefaultCompactFilesPerCell): Boolean = {
    val m = resolveCells(spark, dir)
    m.cellCount > 0 && m.fileCount.toDouble / m.cellCount > maxFilesPerCell
  }

  /** See [[shouldCompact]]. */
  val DefaultCompactFilesPerCell: Double = 8.0

  /** The live generation's cells-table file count (manifest-aware) —
    * the fragmentation number [[shouldCompact]] thresholds on, exposed
    * for receipts (tools/CompactionRehearsal). */
  def liveCellFileCount(spark: org.apache.spark.sql.SparkSession,
      dir: String): Long =
    resolveCells(spark, dir).fileCount.toLong

  /** Remove vectors from a persisted two-level index WITHOUT retraining —
    * the maintenance-on-unlink half of the lifecycle (the reference
    * deletes index keys on removeTarget, /root/reference/library/
    * GraphDB/Graph.hs:63-67; here a vector pruned by dedup — px59's
    * verdicts — or a removed graph node leaves the ANN index the same
    * way): the ids' own cell assignments name the TOUCHED cells (one
    * column-pruned (nbr, c1, c2) scan against the id set), survivors of
    * only those cells are staged as NEW files, and one atomic manifest
    * publish ([[CellsLayout.publish]]) swaps exactly the touched cells'
    * entries — untouched cells' files are never read, rewritten, or even
    * renamed (byte-identical, spec-pinned). Serving after a remove
    * equals serving an index whose cells table never contained the ids
    * (same quantizer — the centroids are untouched; spec-pinned), and
    * every code column (`codes`, `qscale`, `pqcodes`) survives for the
    * kept rows.
    *
    * ATOMIC at every step (the r17 dynamic-partition-overwrite crash
    * window is closed): survivors are staged outside the table, moved in
    * under fresh names, and become visible only at the pointer swap; the
    * superseded files are deleted one maintenance generation later. A
    * crash anywhere leaves the previous generation fully intact —
    * serving reads old-or-new, never a mixture. Retry-idempotent: a
    * re-run of the same remove finds the ids gone (touched = ∅) and
    * no-ops; a crash before publish leaves only invisible orphan files
    * ([[vacuumIndex]] reclaims). Driver footprint: the touched (c1, c2)
    * list — bounded by the id count; removals of a large corpus
    * fraction belong to a rebuild ([[saveTwoLevelIndex]]), which also
    * refreshes the then-stale centroids. SINGLE-MAINTAINER — see
    * [[CellsLayout]]'s concurrency contract.
    */
  def removeFromTwoLevelIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, ids: DataFrame, idCol: String): Unit = {
    val src = resolveCells(spark, dir)
    val cells = src.df(spark)
    val rm = ids.select(col(idCol).as("nbr")).distinct()
    val touched = cells.select("nbr", CellCols: _*)
      .join(rm, Seq("nbr")).select(col("_c1"), col("_c2")).distinct()
      .collect().map(r => Vector(r.getInt(0), r.getInt(1))).toSeq
    if (touched.isEmpty) return
    val touchedDf = broadcast(
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          touched.map(v => org.apache.spark.sql.Row.fromSeq(v)), 1),
        org.apache.spark.sql.types.StructType(CellCols.map(c =>
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.IntegerType)))))
    val staging = s"$dir/_rm_staging"
    // stage the touched cells' survivors OUTSIDE the table as a
    // partitioned write (fresh task-UUID file names, partition values in
    // the dir structure exactly as the live files carry them), then MOVE
    // them in — renames, not copies — and publish
    cells.join(touchedDf, CellCols)
      .join(rm, Seq("nbr"), "left_anti")
      .repartition(col("_c1"), col("_c2"))
      .write.mode("overwrite").partitionBy(CellCols: _*).parquet(staging)
    val localRoot = CellsLayout.canonicalRoot(spark, s"$dir/cells")
    val moved = CellsLayout.moveInto(spark, staging, localRoot)
    val touchedSet = touched.toSet
    val (gcE, keptE) = src.entries.map { case (root, files) =>
      val (g, k) = files.partition(f =>
        touchedSet.contains(CellsLayout.cellValuesOf(f)))
      (root -> g, root -> k)
    }.unzip
    CellsLayout.publish(spark, dir,
      CellsManifest(CellsLayout.nextGen(spark, dir),
        CellsLayout.mergeRoots(spark, keptE :+ (localRoot -> moved)),
        gc = gcE.filter(_._2.nonEmpty)),
      Some(src))
    val (fs, _) = hadoopFs(spark, staging)
    scala.util.Try(fs.delete(new org.apache.hadoop.fs.Path(staging), true))
    ()
  }

  /** Clone a persisted index in O(metadata): the model artifacts (l1/l2
    * or centroids, pq_cb, pq_meta — KB-sized) are copied, and the cells
    * table — the data — is cloned by publishing a manifest in `dst` that
    * REFERENCES the source's current files (copy-on-write: a later
    * remove/append on the clone writes only its own new files under
    * `dst`, and a [[compactTwoLevelIndex]] on the clone localizes it
    * completely). This turns a multi-second recursive file
    * copy into milliseconds of metadata (clone receipt in
    * tools/CompactionRehearsal → SERVE_r18).
    *
    * A clone is a POINT-IN-TIME SNAPSHOT: the source's own maintenance
    * deletes superseded files after its one-generation grace window and
    * does not know about clones, so mutate-the-source-then-serve-the-
    * clone is undefined past that window — compact the clone first if
    * the source stays live. The clone's own maintenance NEVER deletes
    * files outside its dir ([[CellsLayout.publish]]), so the source is
    * byte-identical under any clone-side mutation (spec-pinned).
    */
  def cloneIndex(spark: org.apache.spark.sql.SparkSession,
      src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (dfs, dp) = hadoopFs(spark, dst)
    require(!dfs.exists(dp), s"cloneIndex destination $dst already exists")
    dfs.mkdirs(dp)
    Seq("l1", "l2", "pq_cb", "pq_meta").foreach { a =>
      val ap = new org.apache.hadoop.fs.Path(s"$src/$a")
      val afs = ap.getFileSystem(conf)
      if (afs.exists(ap))
        org.apache.hadoop.fs.FileUtil.copy(afs, ap, dfs,
          new org.apache.hadoop.fs.Path(s"$dst/$a"), false, conf)
    }
    val entries = resolveCells(spark, src).entries
    CellsLayout.publish(spark, dst,
      CellsManifest(CellsLayout.nextGen(spark, dst), entries, gc = Nil),
      prev = None)
  }

  /** Reclaim everything under the index dir the CURRENT manifest does
    * not reference: orphan files from crashed mutations, superseded
    * files whose deferred deletion was lost to a crash, staging
    * leftovers, and old manifest files. Runs under the single-maintainer
    * rule (a concurrent mutation's staged-but-unpublished files WOULD be
    * reclaimed — serialize with mutations exactly like compact).
    */
  def vacuumIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val m = resolveCells(spark, dir)
    val (fs, _) = hadoopFs(spark, dir)
    def del(p: String, recursive: Boolean): Unit = {
      scala.util.Try(
        fs.delete(new org.apache.hadoop.fs.Path(p), recursive)); ()
    }
    del(s"$dir/_rm_staging", true)
    del(s"$dir/_append_staging", true)
    val live = m.entries.flatMap { case (root, files) =>
      files.map(f => s"$root/$f")
    }.map(p => fs.makeQualified(
      new org.apache.hadoop.fs.Path(p)).toString).toSet
    fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/cells*"))
      .filter(_.isDirectory).foreach { st =>
        val it = fs.listFiles(st.getPath, true)
        val doomed = Vector.newBuilder[org.apache.hadoop.fs.Path]
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && !live.contains(f.getPath.toString))
            doomed += f.getPath
        }
        doomed.result().foreach(p => scala.util.Try(fs.delete(p, false)))
        // reap emptied dirs bottom-up (partition dirs whose every file
        // was unreferenced, then the root itself)
        def sweep(p: org.apache.hadoop.fs.Path): Boolean = {
          val children = fs.listStatus(p)
          val kept = children.count { c =>
            if (c.isDirectory) !sweep(c.getPath) else true
          }
          if (kept == 0) { scala.util.Try(fs.delete(p, true)); true }
          else false
        }
        scala.util.Try(sweep(st.getPath))
      }
    fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/_manifest_g*"))
      .foreach { st =>
        if (st.getPath.getName != m.name) del(st.getPath.toString, false)
      }
  }

  /** Top-k per query over scored candidates (`qid, nbr, sim`) as ONE
    * bounded aggregate ([[graft.functions.TopKEntries]], r18 — guide
    * §1.2/§2.4): candidates stream through a ≤ k-entry per-query buffer
    * with map-side partial aggregation, so no task ever SORTS a
    * candidate set and the exchange carries ≤ k entries per (query,
    * input partition) — strictly less data and work than the former
    * two-phase window rank (local sort + WindowGroupLimit + exchange +
    * global sort), whose straggler-safety argument (no single task holds
    * one query's corpus-sized candidate list) the partial aggregation
    * inherits. Results are row-identical: the buffer orders by exactly
    * the window's (sim DESC NULLS LAST, nbr ASC) total order — raw IEEE
    * double comparison semantics included — and posexplode position + 1
    * is the row_number.
    *
    * Rounding note: `sim` is rounded to 6 digits BEFORE ranking so
    * last-ulp accumulation differences between engines collapse to the
    * same order key (the DuckDB oracles rerank independently); the
    * residual is a value within one ulp of a rounding boundary — never
    * observed on the driver corpora, and pinned by the per-round oracle
    * gate rather than assumed.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("qid")
      .agg(graft.functions.TopKEntries(col("sim"), col("nbr"),
        lit(0), lit(0), lit(0L), k).as("_top"))
      .select(col("qid"), posexplode(col("_top")).as(Seq("_r", "_e")))
      .select(col("qid"), col("_e.nbr").as("nbr"),
        (col("_r") + 1).cast("bigint").as("rank"), col("_e.sim").as("sim"))

  /** Exact top-k neighbors per query vector. `corpus` and `queries` carry
    * (idCol, vecCol); self-matches are excluded when ids collide. The
    * query side broadcasts (queries ≪ corpus is the normal shape), so the
    * corpus is scanned once with no shuffle; ranking is the two-phase
    * [[topKPerQuery]] — corpus-sized candidate sets never sort on one task.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("_qn", vecNorm(col("qv")))
    val c = corpus.select(col(idCol).as("nbr"), col(vecCol).as("cv"))
      .withColumn("_cn", vecNorm(col("cv")))
    topKPerQuery(
      c.join(broadcast(q), col("qid") =!= col("nbr"))
        .withColumn("sim",
          round(cosinePre(col("qv"), col("cv"), col("_qn"), col("_cn")), 6)),
      k)
  }

  /** Deterministic random hyperplanes (seeded) as literal arrays — shipped
    * with the plan, no driver state on executors.
    */
  private def hyperplanes(dim: Int, bits: Int, table: Int): Seq[Array[Double]] = {
    val rnd = new Random(42L + table * 1000L)
    Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def signature(vec: Column, planes: Seq[Array[Double]]): Column =
    graft.functions.HyperplaneSig(vec, planes.toArray)

  /** All `tables` bucket signatures of a vector in ONE projection —
    * `posexplode` position = table index, so joining on `(_t, _b)` over
    * this shape equals the per-table bucket join over `tables` separate
    * passes. Signatures are bit-identical to [[signature]] per table
    * (same seeded [[hyperplanes]]); only the PLAN shape changes: one
    * corpus scan instead of `tables` scans, one join instead of
    * `tables` joins (r18, guide §2.4 — the union-of-branches plan paid
    * 8 scans + 8 joins + a SortAggregate dedup over vector payloads).
    */
  private def sigRows(df: DataFrame, idCol: String, vecCol: String,
      outId: String, dim: Int, bits: Int, tables: Int): DataFrame =
    df.select(col(idCol).as(outId),
      posexplode(array((0 until tables).map(t =>
        signature(col(vecCol), hyperplanes(dim, bits, t))): _*))
        .as(Seq("_t", "_b")))

  /** Approximate top-k via multi-table hyperplane LSH, exact-reranked
    * within buckets. Emits ≤ k rows per query (fewer when buckets are
    * sparse — the recall/efficiency tradeoff).
    *
    * Plan shape (r18): candidates are generated from SKINNY signature
    * rows (id, table, bucket) — one corpus pass computing all `tables`
    * signatures, one equi-join on (table, bucket), pair dedup on pure
    * (qid, nbr) pairs (hash-aggregatable — no array columns in the
    * dedup) — and the vectors are attached to the ≤ |candidates|
    * surviving pairs afterwards (guide §8: decide on lightweight
    * proxies, move heavy payloads once). Candidate set and scores are
    * identical to the former 8-branch union plan.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, bits: Int = 8,
      tables: Int = 8): DataFrame = {
    val cSig = sigRows(corpus, idCol, vecCol, "nbr", dim, bits, tables)
    val qSig = sigRows(queries, idCol, vecCol, "qid", dim, bits, tables)
    val cand = cSig.join(qSig, Seq("_t", "_b"))
      .where(col("qid") =!= col("nbr"))
      .select("qid", "nbr").dropDuplicates("qid", "nbr")
    val withVecs = cand
      .join(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
        .withColumn("_qn", vecNorm(col("qv"))), "qid")
      .join(corpus.select(col(idCol).as("nbr"), col(vecCol).as("cv"))
        .withColumn("_cn", vecNorm(col("cv"))), "nbr")
    topKPerQuery(
      withVecs.withColumn("sim",
        round(cosinePre(col("qv"), col("cv"), col("_qn"), col("_cn")), 6)), k)
  }

  /** Per-table LSH bucket signatures as rows (id, t, b) — the audit export
    * that lets an external checker recompute the bucketed candidate join
    * independently (graft.Verify dumps this so the DuckDB oracle of
    * px10_sim_lsh can re-derive candidates QUADRATICALLY and rerank them
    * exactly — ground truth for the whole bucket-join + rank pipeline).
    * Must stay parameter-compatible with [[lshTopK]]: same seeded
    * hyperplanes per (table, dim, bits).
    */
  def lshSignatures(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      bits: Int = 8, tables: Int = 8): DataFrame =
    (0 until tables).map { t =>
      df.select(col(idCol).as("id"), lit(t).as("t"),
        signature(col(vecCol), hyperplanes(dim, bits, t)).as("b"))
    }.reduce(_ unionByName _)

  /** IVF-flat ANN: the coarse-quantizer scale path (FAISS-style).
    *
    * Train: `nlist` centroids = deterministic corpus sample (smallest
    * xxhash64(id)) refined by one distributed Lloyd iteration
    * (assign via the native NearestCentroid expression, then
    * posexplode + groupBy(cell, dim) mean — no driver-side math over the
    * corpus, only the nlist×dim centroid matrix ever reaches the driver).
    *
    * Search: corpus partitioned by cell (ONE shuffle at index build);
    * queries probe their `nprobe` highest-scoring cells and rerank
    * exactly within them. Candidate volume ≈ corpus·nprobe/nlist per
    * query — tunable recall/cost, independent of corpus skew.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val (cells, probes) = ivfModel(corpus, queries, idCol, vecCol, nlist, nprobe)
    topKPerQuery(
      cells.withColumn("_cn", vecNorm(col("cv")))
        .join(probes.withColumn("_qn", vecNorm(col("qv"))), Seq("_cell"))
        .where(col("qid") =!= col("nbr"))
        .withColumn("sim",
          round(cosinePre(col("qv"), col("cv"), col("_qn"), col("_cn")), 6)),
      k)
  }

  /** The IVF index + probe assignment underlying [[ivfTopK]]: corpus rows
    * with their cell (`nbr, cv, _cell`) and query rows with their probed
    * cells (`qid, qv, _cell`). DETERMINISTIC end-to-end: the seed sample
    * orders by hash with an id tie-break, and the Lloyd refinement
    * accumulates in decimal — exact, associative addition, so the result
    * is independent of partition merge order (a double `avg` varies in the
    * low bits run-to-run, which can flip borderline cell assignments).
    * Determinism is what lets graft.Verify export (cells, probes) and the
    * px13 oracle recompute the probed-cell search quadratically in DuckDB.
    */
  def ivfModel(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nlist: Int = 16, nprobe: Int = 4,
      iters: Int = 1): (DataFrame, DataFrame) = {
    import graft.functions.NearestCentroid
    val c = corpus.select(col(idCol).as("nbr"), col(vecCol).as("cv"))
    val refined = ivfCentroids(corpus, idCol, vecCol, nlist, iters)
    val cells = c.withColumn("_cell", NearestCentroid(col("cv"), refined))
    (cells, ivfProbes(queries, idCol, vecCol, refined, nprobe))
  }

  /** Centroid training factored out of [[ivfModel]] (identical numerics):
    * deterministic seed sample (smallest xxhash64(id), id tie-break),
    * then `iters` distributed Lloyd refinements with decimal accumulation
    * — floats are exactly representable in decimal(38,18), so the mean is
    * exact up to the final division and independent of partition merge
    * order. Per iteration only the nlist×dim centroid matrix reaches the
    * driver — the right shape at any corpus size.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, iters: Int = 1): Array[Array[Float]] = {
    import graft.functions.NearestCentroid
    val c = corpus.select(col(idCol).as("nbr"), col(vecCol).as("cv"))
    val seed = c.orderBy(xxhash64(col("nbr")), col("nbr")).limit(nlist)
      .select(col("cv")).collect()
      .map(_.getSeq[Float](0).toArray)
    var refined = seed
    for (_ <- 1 to math.max(iters, 0)) {
      val assigned = c.withColumn("_cell", NearestCentroid(col("cv"), refined))
      val refinedRows = assigned
        .select(col("_cell"), posexplode(col("cv")).as(Seq("_dim", "_x")))
        .groupBy("_cell", "_dim")
        .agg(avg(col("_x").cast("decimal(38,18)")).as("_m"))
        .collect()
      val prev = refined
      refined = seed.indices.map { cell =>
        val dims = refinedRows.filter(_.getInt(0) == cell)
        if (dims.isEmpty) prev(cell) // empty cell keeps its centroid
        else dims.sortBy(_.getInt(1)).map(_.getDecimal(2).doubleValue.toFloat).toArray
      }.toArray
    }
    refined
  }

  /** Query→probed-cells assignment for a given centroid matrix (factored
    * out of [[ivfModel]]): each query scores all nlist centroids in one
    * native expression and keeps its `nprobe` best cells.
    */
  def ivfProbes(queries: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], nprobe: Int): DataFrame =
    // r18: the top-nprobe selection happens INSIDE one native expression
    // ([[graft.functions.TopPCentroids]] — same normalized matrix and
    // dot accumulation as CentroidDots, ties to the smaller cell), so
    // the probe side has NO exchange and NO sort at all; the former
    // posexplode → window rank shuffled batch × nlist rows (each
    // carrying the query vector) just to keep nprobe of them.
    queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .select(col("qid"), col("qv"),
        explode(graft.functions.TopPCentroids(col("qv"), centroids, nprobe))
          .as("_cell"))

  /** A two-level IVF coarse quantizer: the level-1 centroid matrix on the
    * driver, the level-2 centroids as a DISTRIBUTED table
    * (`_c1, _c2, _cent`) — never collected.
    */
  final case class TwoLevelModel(l1: Array[Array[Float]], l2: DataFrame)

  /** Train a two-level IVF quantizer — the structure that removes the flat
    * design's driver bound. Flat IVF holds nlist×dim floats on the driver
    * ([[ivfCentroids]]) and scores every vector against all nlist
    * centroids: at nlist = 10⁶, dim = 64 that is ~2 GB of driver matrix
    * and 10⁶ dots per vector. Two-level holds only nlist1 ≈ √nlist
    * level-1 centroids on the driver; each level-1 cell trains k2
    * sub-centroids DISTRIBUTED (seeded by the cell's own hash-smallest
    * members, refined by one decimal-Lloyd pass as a groupBy — the
    * refined level-2 table never reaches the driver), and assignment
    * costs nlist1 + k2 ≈ 2√nlist dots per vector. Same total cell count,
    * √-scale driver memory and per-vector work.
    *
    * Deterministic end-to-end for the same reasons as [[ivfCentroids]]:
    * hash-ordered seeds with id tie-breaks, decimal accumulation in the
    * refinement (exact, partition-order independent), and the level-2
    * argmax breaks score ties toward the smaller sub-cell id. Sub-cells
    * left empty by the refinement pass are dropped (not retained as in
    * the flat trainer) — the documented divergence.
    */
  def twoLevelCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist1: Int = 4, k2: Int = 4, iters: Int = 1): TwoLevelModel = {
    import graft.functions.NearestCentroid
    val l1 = ivfCentroids(corpus, idCol, vecCol, nlist1, iters)
    val assigned = corpus.select(col(idCol).as("nbr"), col(vecCol).as("cv"))
      .withColumn("_c1", NearestCentroid(col("cv"), l1))
    val seeds = assigned.withColumn("_rn", row_number().over(
        Window.partitionBy("_c1").orderBy(xxhash64(col("nbr")), col("nbr"))))
      .where(col("_rn") <= k2)
      .select(col("_c1"), (col("_rn") - 1).as("_c2"), col("cv").as("_cent"))
    var l2 = seeds
    for (_ <- 1 to math.max(iters, 0)) {
      l2 = assignToL2(assigned, l2)
        .select(col("_c1"), col("_c2"),
          posexplode(col("cv")).as(Seq("_dim", "_x")))
        .groupBy("_c1", "_c2", "_dim")
        .agg(avg(col("_x").cast("decimal(38,18)")).as("_m"))
        .groupBy("_c1", "_c2")
        .agg(array_sort(collect_list(struct(col("_dim"), col("_m")))).as("_dm"))
        .select(col("_c1"), col("_c2"),
          expr("transform(_dm, p -> cast(p._m as float))").as("_cent"))
    }
    // the refined table has two consumers (corpus assignment + query
    // probes) and its lineage re-executes for each — a lazy
    // localCheckpoint was A/B'd (the minhashPairs precedent) and did NOT
    // win here: the recompute is cheaper than the extra materialization
    // job at every scale tried, so the plan stays pure. Persist-once
    // serving belongs to saveTwoLevelIndex, not the trainer.
    TwoLevelModel(l1, l2)
  }

  /** Assign each level-1-assigned vector (`nbr, cv, _c1`) to its nearest
    * level-2 sub-centroid WITHIN its level-1 cell: a join on `_c1`
    * replicates each vector k2 times (k2 is a constant — this is the
    * bounded explode that replaces the flat design's nlist-wide driver
    * matrix scan), cosine-scored, argmax by lexicographic struct max —
    * score first, smaller `_c2` on ties (cosine argmax selects the same
    * sub-cell as the normalized-centroid dot NearestCentroid uses, since
    * the query-side norm is constant per vector).
    */
  private[pipeline] def assignToL2(vecs: DataFrame, l2: DataFrame): DataFrame =
    vecs.join(l2, Seq("_c1"))
      .withColumn("_s", cosine(col("cv"), col("_cent")))
      .groupBy(col("nbr"))
      .agg(first(col("cv")).as("cv"), first(col("_c1")).as("_c1"),
        max(struct(col("_s").as("s"), (-col("_c2")).as("n"))).as("_b"))
      .select(col("nbr"), col("cv"), col("_c1"), (-col("_b.n")).as("_c2"))

  /** Query→probed-(c1,c2) assignment: score the driver-held level-1
    * matrix (one native expression), keep the best `p1` level-1 cells,
    * then score ONLY those cells' sub-centroids via a join against the
    * distributed level-2 table and keep the best `nprobe` (c1,c2) pairs
    * per query.
    */
  def twoLevelProbes(queries: DataFrame, idCol: String, vecCol: String,
      model: TwoLevelModel, p1: Int, nprobe: Int): DataFrame = {
    // r18 probe-plan reshape (identical probes): the level-1 top-p1 is
    // one native per-row expression ([[graft.functions.TopPCentroids]] —
    // score- and tie-identical to the posexplode → window rank it
    // replaces), and the level-2 top-nprobe is the bounded
    // [[graft.functions.TopKEntries]] aggregate. The probe plan now has
    // ONE exchange (the qid aggregation, carrying ≤ nprobe entries +
    // one query vector per query) and ZERO sorts — the window form
    // exchanged batch × nlist1 vector-carrying rows and sorted twice.
    // The (c1, c2) tie order rides the single long (c1 << 32 | c2)
    // (cells are non-negative ints, so the packed long preserves the
    // lexicographic (_c1, _c2) order), and `first(qv)` is well-defined:
    // qv is functionally dependent on qid.
    val scored = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .select(col("qid"), col("qv"),
        explode(graft.functions.TopPCentroids(col("qv"), model.l1, p1))
          .as("_c1"))
      .join(model.l2, Seq("_c1"))
      .withColumn("_s2", cosine(col("qv"), col("_cent")))
    scored.groupBy("qid")
      .agg(first(col("qv")).as("qv"),
        graft.functions.TopKEntries(col("_s2"),
          shiftleft(col("_c1").cast("long"), 32)
            .bitwiseOR(col("_c2").cast("long")),
          col("_c1"), col("_c2"), lit(0L), nprobe).as("_top"))
      .select(col("qid"), col("qv"), explode(col("_top")).as("_e"))
      .select(col("qid"), col("qv"),
        col("_e.c1").as("_c1"), col("_e.c2").as("_c2"))
  }

  /** The two-level model + probe assignment underlying [[twoLevelTopK]]
    * — (cells `nbr, cv, _c1, _c2`, probes `qid, qv, _c1, _c2`).
    * Deterministic, so graft.Verify exports (cells, probes) and the px60
    * oracle recomputes the probed-cell search quadratically in DuckDB —
    * the px13 pattern over the compound cell key.
    */
  def twoLevelModelFor(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nlist1: Int = 4, k2: Int = 4, p1: Int = 2,
      nprobe: Int = 4, iters: Int = 1): (DataFrame, DataFrame) = {
    import graft.functions.NearestCentroid
    val m = twoLevelCentroids(corpus, idCol, vecCol, nlist1, k2, iters)
    val assigned = corpus.select(col(idCol).as("nbr"), col(vecCol).as("cv"))
      .withColumn("_c1", NearestCentroid(col("cv"), m.l1))
    (assignToL2(assigned, m.l2),
      twoLevelProbes(queries, idCol, vecCol, m, p1, nprobe))
  }

  /** ANN top-k served from the two-level index: probed (c1,c2) cells
    * joined on the compound key, exact cosine rerank, two-phase top-k.
    */
  def twoLevelTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist1: Int = 4, k2: Int = 4, p1: Int = 2,
      nprobe: Int = 4, iters: Int = 1): DataFrame = {
    val (cells, probes) = twoLevelModelFor(corpus, queries, idCol, vecCol,
      nlist1, k2, p1, nprobe, iters)
    topKPerQuery(
      cells.withColumn("_cn", vecNorm(col("cv")))
        .join(probes.withColumn("_qn", vecNorm(col("qv"))), Seq("_c1", "_c2"))
        .where(col("qid") =!= col("nbr"))
        .withColumn("sim",
          round(cosinePre(col("qv"), col("cv"), col("_qn"), col("_cn")), 6)),
      k)
  }

  /** A persisted two-level index, reloaded: the driver-side level-1
    * matrix, the level-2 centroid table, and the compound-cell-partitioned
    * codes table (`nbr, cv, _c1, _c2`).
    */
  final case class TwoLevelIndex(l1: Array[Array[Float]], l2: DataFrame,
    cells: DataFrame)

  /** The number of PQ subspaces actually used for a given dim and
    * requested `pqM`: the largest divisor of `dim` that is ≤ `pqM`
    * (slices must split the vector evenly), or 0 when `pqM ≤ 0` (PQ
    * disabled). Always ≥ 1 for positive requests — m = 1 is one
    * whole-vector subspace, still a valid (degenerate) codebook.
    */
  def pqSubspaces(dim: Int, pqM: Int): Int =
    if (pqM <= 0) 0
    else (math.min(pqM, dim) to 1 by -1).find(dim % _ == 0).getOrElse(1)

  /** Persist a two-level index: the tiny level-1 matrix and the level-2
    * centroid table as parquet, and the assigned corpus PARTITIONED BY
    * the compound (c1, c2) cell so a probe join dynamically prunes to the
    * probed sub-cells' files. Train is paid ONCE here, not per query (the
    * reference's persistent-store posture: build once, serve many); note
    * the level-2 table is written by the CLUSTER (it was never on the
    * driver) — at nlist = 10⁶ it is a 10⁶-row parquet, not a driver
    * matrix. `k2 = 1` is the flat IVF index: one sub-cell per level-1
    * cell, the same `ivfCentroids` matrix and `NearestCentroid`
    * assignment as [[ivfModel]] (px53/px55 serve it). The cells table is
    * published as manifest generation 1 ([[CellsLayout]]), the one
    * layout every later mutation extends.
    *
    * `pqKsub` defaults to 127 — the int8-pack bound: codes are stored as
    * one signed byte PER SUBSPACE regardless of ksub, so a 16-entry
    * codebook uses 4 of the byte's 8 bits and a 127-entry one costs the
    * SAME 8 B/vec with 8× the resolution. MEASURED (SERVE_r17, 200k
    * vectors, scaled probe budget): residual m8 recall@10 0.047 at
    * ksub=16 → 0.150 at ksub=127 (= m16/ksub16's 0.147 at HALF the
    * bytes); with the 2%-of-candidates refine 0.292 → 0.500 (75% of the
    * float ceiling at 8 B/vec). The price is train-time only: the
    * codebook-assignment join replicates each slice ksub times — linear
    * in ksub, paid once at build (and re-train cadence).
    */
  def saveTwoLevelIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nlist1: Int = 4, k2: Int = 4, iters: Int = 1,
      pqM: Int = 8, pqKsub: Int = 127, pqIters: Int = -1,
      pqResidual: Boolean = true): Unit = {
    import graft.functions.NearestCentroid
    val spark = corpus.sparkSession
    import spark.implicits._
    // a SAVE defines generation 1: reset the cells-generation pointer and
    // reclaim any stale generations/PQ artifacts a previous index at this
    // dir left behind (a lingering pq_cb after a pqM = 0 re-save would
    // make appends encode with a DEAD codebook — silent wrong data)
    resetCellsState(spark, dir)
    locally {
      val (fs, _) = hadoopFs(spark, dir)
      def del(p: String, recursive: Boolean): Unit = {
        scala.util.Try(
          fs.delete(new org.apache.hadoop.fs.Path(p), recursive)); ()
      }
      // pqSubspaces(dim, pqM) == 0 ⟺ pqM <= 0 — PQ disabled
      if (pqM <= 0) {
        del(s"$dir/pq_cb", true)
        del(s"$dir/pq_meta", true)
      }
    }
    // phase labels (guide §1.5): the build is a chain of driver-blocking
    // actions — labeling each lets `graft.tools.Inspect … jobs` (and the
    // UI) attribute the cold-build wall clock per phase
    def phase[T](name: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(s"ivf2-build: $name")
      try f finally spark.sparkContext.setJobDescription(null)
    }
    val m = phase("l1 train")(
      twoLevelCentroids(corpus, idCol, vecCol, nlist1, k2, iters))
    phase("l1 write")(
      m.l1.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("_c1", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/l1"))
    phase("l2 refine+write")(
      m.l2.select(col("_c1"), col("_c2"), col("_cent"))
        .write.mode("overwrite").parquet(s"$dir/l2"))
    // PQ is part of the index LIFECYCLE, not an aux artifact: the trained
    // per-subspace codebook persists next to l1/l2, the packed codes live
    // as a column INSIDE the cells table (exactly like the scalar int8
    // `codes`), and appendToTwoLevelIndex encodes arriving vectors with
    // the FROZEN codebook — the reference's index-maintained-on-write
    // posture (/root/reference/library/GraphDB/Graph.hs:57-61). The
    // codebook is round-tripped through parquet BEFORE encoding so the
    // codes in the cells table are derived from exactly the floats a
    // later load (or append) will read.
    //
    // `pqResidual` (the default) trains and encodes on the RESIDUAL
    // `cv − centroid(c1, c2)` instead of the raw vector — IVF-PQ proper
    // (the published FAISS shape, Jégou et al. 2011, "Product
    // quantization for nearest neighbor search"): the coarse quantizer
    // already explains the centroid component, so the codebook's m×ksub
    // entries spend their precision on the (much smaller) remainder —
    // which is where PQ's recall at small m comes from. The serve side
    // ([[pqAdcTopKFromIndex]]) adds the per-(query, probed cell)
    // centroid dot back: dot(q, v) = dot(q, c) + dot(q, v − c), exact in
    // the decomposition — the approximation stays confined to the
    // codebook. The flag persists in-dir (`pq_meta`) so append and serve
    // read the encoding they must reproduce; `false` keeps the r16 raw
    // encoding (and a dir with no pq_meta — an older index — serves raw).
    val dim = m.l1.head.length
    val mSub = pqSubspaces(dim, pqM)
    // r19: every downstream consumer (cell assignment, PQ residuals)
    // reads the level-2 table BACK from the parquet just written instead
    // of re-deriving the refinement subtree — floats round-trip parquet
    // bit-exactly (the same guarantee loadTwoLevelIndex serves on), and
    // the old plan recomputed the seeds-window + decimal-Lloyd chain once
    // for the cells table and once more inside the PQ residual input.
    val l2df = readL2(spark, dir)
    val assigned = corpus.select(col(idCol).as("nbr"), col(vecCol).as("cv"))
      .withColumn("_c1", NearestCentroid(col("cv"), m.l1))
    // the cells table carries THREE precisions: `cv` (float32) for exact
    // scoring / re-rank, `codes` + `qscale` (packed int8, 1 byte/dim,
    // plus the per-row scale correction) for the scalar-quantized serving
    // path ([[quantizedTopKFromIndex]]), and `pqcodes` (m bytes/vector)
    // for the PQ-ADC path ([[pqAdcTopKFromIndex]]). Parquet is columnar,
    // so each serving mode's scan reads only its own columns — the
    // integer paths never pay for the floats they skip.
    //
    // repartition on the partition columns BEFORE the partitioned write:
    // without it every write task emits a file into every cell it holds
    // rows for (tasks × cells files — measured 7.7k ~4 KB files at 484
    // cells × 32 tasks, where per-file footer overhead swamps column
    // pruning and file-listing dominates the serve; at 10⁶ cells × 1000
    // tasks it is fatal metadata pressure). Hash-clustered, each cell is
    // exactly ONE file sized by its occupancy.
    val base = assignToL2(assigned, l2df)
      .withColumn("codes", packedCodes(col("cv")))
      .withColumn("qscale", qscaleOf(col("cv")))
    val codebook =
      if (mSub == 0) None
      else {
        val pqInput =
          if (pqResidual) pqResiduals(base, l2df)
          else base.select(col("nbr"), col("cv").as("_pqv"))
        // pqIters < 0 → inherit the coarse trainer's iteration count
        phase("pq codebook train+write")(
          pqCodebook(pqInput, "nbr", "_pqv", dim, mSub, pqKsub,
            if (pqIters < 0) iters else pqIters)
            .write.mode("overwrite").parquet(s"$dir/pq_cb"))
        phase("pq meta write")(
          Seq(pqResidual).toDF("residual")
            .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_meta"))
        Some(spark.read.parquet(s"$dir/pq_cb"))
      }
    phase("cells encode+write")(
      codebook.fold(base)(cb =>
        withPackedPqCodes(base, cb,
          if (pqResidual) Some(l2df) else None, dim, mSub))
        .repartition(col("_c1"), col("_c2"))
        .write.mode("overwrite").partitionBy(CellCols: _*)
        .parquet(s"$dir/cells"))
    CellsLayout.publish(spark, dir,
      CellsManifest(1,
        Seq(CellsLayout.canonicalRoot(spark, s"$dir/cells") ->
          CellsLayout.listRelParquet(spark, s"$dir/cells")),
        gc = Nil),
      prev = None)
  }

  /** Residual rows (`nbr, _pqv = cv − centroid(c1, c2)`) for PQ training
    * and encoding — the IVF-PQ decomposition: the coarse cell's centroid
    * is subtracted BEFORE quantization, in float32 (both operands are
    * parquet-round-trip-exact floats, so residuals computed at save time
    * from the in-memory centroids equal residuals computed at append
    * time from the loaded ones, bit for bit — the append-parity spec
    * pins it). One bounded join against the model-sized level-2 table.
    */
  private def pqResiduals(cells: DataFrame, l2: DataFrame): DataFrame =
    cells.join(l2.select(col("_c1"), col("_c2"), col("_cent")),
        Seq("_c1", "_c2"))
      .select(col("nbr"),
        zip_with(col("cv"), col("_cent"), (a, b) => a - b).as("_pqv"))

  // Point-serving caches (the r17 advice: pqIsResidual re-ran a head()
  // job and resolvedKnobs a count() job on EVERY serve call — avoidable
  // driver latency on the hot path Wire.handleAnn exposes per request).
  // Keys carry the artifact's modification time, so a re-save (new
  // pq_meta / l2) or maintenance publish (pointer rewrite) naturally
  // invalidates without any eviction protocol; one FS metadata probe
  // replaces one Spark job per serve.
  private val pqResidualCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Boolean]()
  private val l2CountCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Integer]()
  private val corpusCountCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Long]()
  // r18: the driver-held centroid matrices are model artifacts written
  // once at save time — the per-serve collect() job (one Spark job +
  // parquet read per loadTwoLevelIndex call) joins the same
  // mtime-stamped cache family; a re-save invalidates via the stamp.
  // r19 (ADVICE): keyed by PATH with the mtime in the VALUE, so a
  // re-train in a long-lived serving JVM REPLACES the previous matrix
  // instead of leaking it — the cache is bounded to one matrix per index
  // path. (mtime granularity caveat unchanged: two rewrites within the
  // same stamp serve the first — the same exposure every cache in this
  // family documents.)
  private val l1MatrixCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Array[Array[Float]])]()

  /** One cached driver matrix per index path, refreshed when the
    * artifact's mtime moves. */
  private def cachedL1(spark: org.apache.spark.sql.SparkSession,
      path: String)(load: => Array[Array[Float]]): Array[Array[Float]] = {
    val mt = mtimeOf(spark, path)
    l1MatrixCache.compute(path, (_, old) =>
      if (old != null && old._1 == mt) old else (mt, load))._2
  }
  // (mSub, subLen, ksubStride, denseGrid) of a persisted PQ codebook —
  // see pqAdcTopKFromIndex
  private val pqCbMetaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), (Int, Int, Int, Boolean)]()

  /** mtime of `path`, −1 if absent — the cache-invalidation stamp. */
  private def mtimeOf(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val (fs, p) = hadoopFs(spark, path)
    try fs.getFileStatus(p).getModificationTime
    catch { case _: java.io.FileNotFoundException => -1L }
  }

  /** Whether a persisted index's PQ codes are RESIDUAL-encoded — read
    * from the in-dir `pq_meta` written at save time; an index persisted
    * before the flag existed (no pq_meta) is raw-encoded by construction.
    * Cached per (dir, pq_meta mtime) — one metadata probe per serve, the
    * head() job only on first touch or after a re-save.
    */
  private[pipeline] def pqIsResidual(
      spark: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    val mt = mtimeOf(spark, s"$dir/pq_meta")
    mt >= 0 && pqResidualCache.computeIfAbsent((dir, mt), _ =>
      spark.read.parquet(s"$dir/pq_meta")
        .select("residual").head().getBoolean(0))
  }

  /** Long-form PQ codes (`nbr, sub, code`) packed to one `pqcodes` binary
    * per id — codes ordered by subspace, one signed byte each (`ksub ≤
    * 127` is enforced at train time, [[pqCodebook]]).
    */
  private[pipeline] def packedPqCodes(longForm: DataFrame): DataFrame =
    longForm.groupBy("nbr")
      .agg(graft.functions.PackI8(
        expr("transform(array_sort(collect_list(struct(sub, code))), " +
          "p -> cast(p.code as bigint))")).as("pqcodes"))

  /** `cells` rows (`nbr, cv, _c1, _c2, ...`) with their packed `pqcodes`
    * column computed IN-PLAN (r19): the residual subtraction is the same
    * zip_with as [[pqResiduals]] (one model-sized join), the assignment
    * is the native [[graft.functions.PqCodes]] argmax, and the m codes
    * pack directly in subspace order — replacing slice-explode →
    * ksub-way replication join → argmax exchange → pack groupBy →
    * join-back-on-nbr with ZERO added shuffles. Bytes identical to
    * `packedPqCodes(pqEncode(...))` (PqCodesSpec pins it).
    */
  private def withPackedPqCodes(cells: DataFrame, codebook: DataFrame,
      residualL2: Option[DataFrame], dim: Int, m: Int): DataFrame = {
    val (codes, cents) = pqGrid(codebook, m)
    val withPqv = residualL2 match {
      case Some(l2) => cells
        .join(l2.select(col("_c1"), col("_c2"), col("_cent")),
          Seq("_c1", "_c2"))
        .withColumn("_pqv", zip_with(col("cv"), col("_cent"), (a, b) => a - b))
        .drop("_cent")
      case None => cells.withColumn("_pqv", col("cv"))
    }
    withPqv
      .withColumn("pqcodes", graft.functions.PackI8(
        transform(
          graft.functions.PqCodes(col("_pqv"), codes, cents, dim / m),
          c => c.cast("long"))))
      .drop("_pqv")
  }

  /** The persisted level-2 centroid table (`_c1, _c2, _cent`), read with
    * its known schema — inferring it would cost a Spark job per load. */
  private def readL2(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.schema(
      "_c1 INT, _c2 INT, _cent ARRAY<FLOAT>").parquet(s"$dir/l2")

  /** Reload a persisted two-level index. Floats round-trip parquet
    * bit-exactly — level-1, level-2, AND the assigned cells are
    * identical to the freshly trained model's, so probes and serves from
    * a loaded index equal the refit path row for row (the px62 oracle
    * shares px60's exports on that basis). The compound partition
    * columns must come back as ints so the probe join key stays the
    * partition column and dynamic partition pruning applies.
    */
  def loadTwoLevelIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): TwoLevelIndex = {
    val l1 = cachedL1(spark, s"$dir/l1")(
      spark.read.parquet(s"$dir/l1")
        .select("_c1", "centroid").orderBy("_c1").collect()
        .map(_.getSeq[Float](1).toArray))
    val l2 = readL2(spark, dir)
    val raw = resolveCells(spark, dir).df(spark)
    Seq("_c1", "_c2").foreach { c =>
      require(raw.schema(c).dataType ==
        org.apache.spark.sql.types.IntegerType,
        s"unexpected $c partition type: ${raw.schema(c).dataType}")
    }
    TwoLevelIndex(l1, l2, raw.select("nbr", "cv", "_c1", "_c2"))
  }

  /** Incrementally add vectors to a persisted two-level index WITHOUT
    * retraining: new rows are assigned level-1 against the loaded driver
    * matrix and level-2 against the loaded (distributed) centroid table
    * — two bounded map/join passes, the IVF update posture (centroids
    * drift slowly, assignment is cheap) — and appended to the
    * compound-partitioned codes table. Idempotent under retries: by
    * default the new ids are anti-joined against a column-pruned `nbr`
    * scan, so a re-submitted batch does not duplicate rows. Searches
    * over the appended index equal an index whose cells were assigned
    * from the same centroids over the full corpus (spec-pinned); recall
    * degrades only as far as the centroids go stale — re-train
    * ([[saveTwoLevelIndex]]) on a cadence.
    *
    * WHEN to retrain — the measured rule (tools/RetrainCadence,
    * SCALE_r15): appending drifted batches (whole-corpus 30°-per-batch
    * rotations) to fixed centroids did NOT degrade recall vs a same-data
    * refit (coherent drift moves queries and their neighbors together,
    * so any fixed Voronoi keeps co-locating them — recall parity at
    * K = 0/2/8 appended batches under a 4%-of-cells probe budget), but
    * the stale index's CELL-OCCUPANCY SKEW (max/mean cell size) ran
    * ~30% above the refit's at every K — drifted mass piles into the few
    * nearest stale cells, which is a serving-cost/straggler problem, not
    * a correctness one. The operational trigger: record max/mean
    * occupancy at train time, recompute it after appends (one groupBy
    * over the cells table), and retrain when it exceeds ~1.3× the
    * trained value.
    */
  def appendToTwoLevelIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, newRows: DataFrame, idCol: String, vecCol: String,
      dedupeIds: Boolean = true, autoCompact: Boolean = true): Unit = {
    import graft.functions.NearestCentroid
    val idx = loadTwoLevelIndex(spark, dir)
    val base = newRows.select(col(idCol).as("nbr"), col(vecCol).as("cv"))
    val fresh =
      if (dedupeIds) base.join(idx.cells.select("nbr"), Seq("nbr"), "left_anti")
      else base
    // Assign level-1 against ONLY the cells that have level-2 rows: the
    // flat trainer retains empty cells' centroids in l1, such cells have
    // no sub-centroids, and assignToL2's inner join on _c1 would silently
    // DROP any vector landing in one (the dedupeIds anti-join would then
    // drop it again on every retry). Restricting the matrix sends those
    // vectors to the best POPULATED cell instead — nothing is lost, and
    // when every cell is populated the restricted matrix IS the full
    // matrix, so the common path is unchanged. `populated` is bounded by
    // nlist1 — the same √-scale driver budget that holds l1 itself.
    val populated = idx.l2.select("_c1").distinct()
      .collect().map(_.getInt(0)).sorted
    require(populated.nonEmpty,
      s"two-level index at $dir has no level-2 cells")
    val l1p = populated.map(idx.l1)
    val assigned = assignToL2(
      fresh.withColumn("_c1p", NearestCentroid(col("cv"), l1p))
        .withColumn("_c1",
          element_at(array(populated.toSeq.map(c => lit(c)): _*),
            col("_c1p") + 1))
        .drop("_c1p"),
      idx.l2)
      .withColumn("codes", packedCodes(col("cv")))
      .withColumn("qscale", qscaleOf(col("cv")))
    // PQ maintenance-on-write: arriving vectors are encoded with the
    // FROZEN codebook persisted at train time — exactly how the scalar
    // codes above are packed with the frozen quantizer arithmetic — so an
    // appended vector is immediately servable by the ADC path and its
    // codes equal a direct pqEncode against the same codebook
    // (append-parity spec-pinned). Codebook staleness is the same
    // documented tradeoff as the centroids': re-train on the occupancy
    // cadence above. Indexes saved with pqM = 0 carry no codebook and
    // append without the column. The existence check goes through the
    // session's Hadoop FileSystem — every other index artifact resolves
    // its path that way, and a java.nio check against an hdfs://-style
    // dir would silently answer "no codebook" and append rows WITHOUT
    // pqcodes (the r16 silent-wrong-data finding).
    val withPq =
      if (!hadoopExists(spark, s"$dir/pq_cb"))
        assigned
      else {
        val cb = spark.read.parquet(s"$dir/pq_cb")
        val meta = cb.agg(max(col("sub")), min(size(col("cent")))).head()
        val mSub = meta.getInt(0) + 1
        val dim = mSub * meta.getInt(1)
        // residual-encoded indexes subtract the (loaded, round-trip-exact)
        // assigned cell centroid before encoding — the same decomposition
        // the save path used, so appended codes equal save-time codes for
        // the same vector (append-parity spec)
        withPackedPqCodes(assigned, cb,
          if (pqIsResidual(spark, dir)) Some(idx.l2) else None, dim, mSub)
      }
    appendCells(spark, dir, withPq, autoCompact)
  }

  /** The shared append commit: stage the batch as a partitioned write,
    * MOVE the staged files into the index's local root (renames — one
    * per touched cell after the repartition), and publish the manifest
    * that adds them ([[CellsLayout.publish]]). The batch becomes visible
    * at the atomic pointer swap — a crash anywhere before it leaves the
    * served table EXACTLY as it was (the r17 "parquet append is not
    * atomic / partial part-files" caveat is gone; orphans from a crashed
    * move are invisible and reclaimed by [[vacuumIndex]]). An empty
    * batch (all ids deduped away) publishes nothing. With `autoCompact`
    * (the default) the append then runs [[shouldCompact]] — one manifest
    * read, zero listings — and compacts past the measured fragmentation
    * threshold, so serve latency stays bounded across an append-heavy
    * lifetime without any scheduled maintenance (receipt: SERVE_r18).
    * SINGLE-MAINTAINER — see [[CellsLayout]]'s concurrency contract.
    */
  private def appendCells(spark: org.apache.spark.sql.SparkSession,
      dir: String, rows: DataFrame, autoCompact: Boolean): Unit = {
    val src = resolveCells(spark, dir)
    val staging = s"$dir/_append_staging"
    rows
      .repartition(col("_c1"), col("_c2")) // one file per touched cell
      .write.mode("overwrite").partitionBy(CellCols: _*).parquet(staging)
    val localRoot = CellsLayout.canonicalRoot(spark, s"$dir/cells")
    val moved = CellsLayout.moveInto(spark, staging, localRoot)
    val (fs, _) = hadoopFs(spark, staging)
    if (moved.nonEmpty) {
      CellsLayout.publish(spark, dir,
        CellsManifest(CellsLayout.nextGen(spark, dir),
          CellsLayout.mergeRoots(spark, src.entries :+ (localRoot -> moved)),
          gc = Nil),
        Some(src))
    }
    scala.util.Try(fs.delete(new org.apache.hadoop.fs.Path(staging), true))
    if (autoCompact && moved.nonEmpty && shouldCompact(spark, dir))
      compactTwoLevelIndex(spark, dir)
  }

  /** ANN top-k served from a persisted two-level index — [[twoLevelTopK]]
    * minus the training cost; the cells scan prunes to the probed
    * compound partitions.
    *
    * Pass `p1 ≤ 0` / `nprobe ≤ 0` to SELF-SIZE that knob from the loaded
    * index ([[probeKnobs]] at [[DefaultProbeFraction]]) — the measured
    * two-knob rule as the default path; positive values pin the budget
    * (the declared oracle queries use (2, 4) for export determinism,
    * which IS the derived point at oracle scales).
    *
    * Session requirement: the dynamic-partition-pruning setting of
    * [[graft.GraftSession]]. With Spark's default the planner silently
    * degrades the cells scan's dynamicpruning filters to literal TRUE
    * whenever it cannot reuse the probe-side broadcast — the STATIC plan
    * still prints the filters, but the executed scan reads every
    * partition (measured: 484/484 files at batch=1 vs 8/484 with the
    * conf; PipelineSpec pins the runtime metrics). The standalone pruning subquery re-runs only
    * the tiny probes plan — always worth it against a corpus-sized scan.
    */
  def twoLevelTopKFromIndex(index: TwoLevelIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, p1: Int = 2,
      nprobe: Int = 4, pruneProbedCells: Boolean = true): DataFrame = {
    val (p1R, nprobeR) = resolvedKnobs(index, p1, nprobe)
    val probes = twoLevelProbes(queries, idCol, vecCol,
      TwoLevelModel(index.l1, index.l2), p1R, nprobeR)
    val cellsSide = index.cells.withColumn("_cn", vecNorm(col("cv")))
    val probesSide = probes.withColumn("_qn", vecNorm(col("qv")))
    // r19 (px64): `pruneProbedCells = false` is for callers that declare a
    // whole-corpus batch — the batch's probes cover essentially every
    // cell, so the TWO standalone DPP subqueries re-run the full-batch
    // probes plan single-threaded to prune NOTHING (measured: 2 × 0.86 s
    // per px64 run to keep 16/16 partitions — the query's two dominant
    // jobs). Joining on the packed compound key (bijective for the
    // non-negative cell ints — the same packing twoLevelProbes orders by)
    // keeps rows and join strategy identical while taking the partition
    // columns out of the equi-join keys. Packing alone still left ONE
    // pruning subquery (Spark prunes through expressions OVER partition
    // columns), so the cells-side key mixes in the no-op `nbr & 0`: a
    // non-partition reference the PartitionPruning rule cannot strip,
    // value-identical (x & 0 = 0; a NULL nbr would null the key and drop
    // the row, but such a row is already dropped by the qid =!= nbr
    // filter below). Small-batch serves keep the default (8/484 files
    // read — the r18 DPP receipt).
    val joined =
      if (pruneProbedCells)
        cellsSide.join(probesSide, Seq("_c1", "_c2"))
      else {
        def pk(c1: Column, c2: Column): Column =
          shiftleft(c1.cast("long"), 32).bitwiseOR(c2.cast("long"))
        // pin the stream side's parallelism to the session's core budget
        // (an explicit-N repartition is exempt from AQE coalescing):
        // AQE sizes the probes-exchange read by BYTES (~2.4 MB → 1
        // partition) and cannot see the join's fan-out multiplier, so
        // the corpus-sized cosine scoring ran as ONE task (~0.9 s of
        // px64's 2.4 s; 16-task A/B: 0.16 s wall). defaultParallelism
        // tracks the cluster's cores at any scale — the right divisor
        // for a compute-bound broadcast-join stage, where shuffle bytes
        // are the wrong signal.
        val n = queries.sparkSession.sparkContext.defaultParallelism
        // ... but ONLY in the small-bytes regime where AQE actually
        // under-partitions: coalescing clamps at minPartitionSize (1 MB
        // default), so a batch under ~n MB reads back as ~1 task, while
        // a big batch already fans out and an unconditional repartition
        // just re-shuffles the whole vector-carrying probes side for
        // nothing (measured at 100x: 10.76 s with vs 7.5 s without the
        // extra shuffle). The gate reads the optimizer's size estimate
        // of the query batch (driver-side file-size stats, zero jobs).
        // threshold = n x AQE's coalescePartitions.minPartitionSize
        // (1 MB): below it the coalesced read is provably narrower than
        // the core budget; above it AQE already yields >= n partitions
        val estBytes = queries.queryExecution.optimizedPlan.stats.sizeInBytes
        val smallBatch = estBytes < BigInt(n) * (1L << 20)
        val probesKeyed = probesSide
          .withColumn("_cc", pk(col("_c1"), col("_c2")))
          .drop("_c1", "_c2")
        // (qid, _cc): NOT qid alone — the probes agg already hash-
        // partitions by qid, so a same-key repartition is optimized away
        // as redundant and the coalescing returns. The top-k agg behind
        // the join re-establishes qid clustering through its map-side
        // partial (≤ k entries per query per task cross the wire).
        cellsSide.withColumn("_cc",
            pk(col("_c1"), col("_c2")).bitwiseOR(col("nbr").bitwiseAND(lit(0L))))
          .drop("_c1", "_c2")
          .join(if (smallBatch) probesKeyed.repartition(n, col("qid"), col("_cc"))
                else probesKeyed, Seq("_cc"))
          .drop("_cc")
      }
    topKPerQuery(
      joined
        .where(col("qid") =!= col("nbr"))
        .withColumn("sim",
          round(cosinePre(col("qv"), col("cv"), col("_qn"), col("_cn")), 6)),
      k)
  }

  /** The int8 quantization of a float vector column, packed to binary
    * (1 byte/dim) — numerics IDENTICAL to [[withCodes]] / [[quantizeInt8]]
    * (scale by 127/max|x|, half-up rounding written with the one operand
    * order both engines reproduce bit-exactly; zero vectors → all-zero
    * codes), so codes packed at index-build time equal codes the px44
    * oracle re-derives from the floats.
    */
  private[pipeline] def packedCodes(vec: Column): Column =
    graft.functions.PackI8(intCodes(vec))

  /** Double dot product of two float-array columns — sequential
    * left-to-right accumulation, the operand order DuckDB's
    * `list_dot_product` reproduces; consumers round to 6dp before any
    * comparison/ranking so residual last-ulp differences collapse (the
    * cosine convention, [[topKPerQuery]]'s rounding note).
    */
  private[pipeline] def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(transform(a, x => x.cast("double")),
      transform(b, x => x.cast("double")), (x, y) => x * y),
      lit(0d), _ + _)

  /** Per-row scale correction for the packed int8 codes:
    * `maxAbs/(127·‖v‖)` (0 for zero vectors, whose codes are all zero).
    * The quantizer scales EACH vector by its own `127/maxAbs`, so a raw
    * `DotI8(qc, cc)` of two vectors' codes carries BOTH per-vector
    * factors — integer scores of DIFFERENT candidates are not mutually
    * comparable, and ranking on them is biased toward small-maxAbs
    * vectors (the r15 ADVICE finding). Multiplying the integer dot by
    * both rows' `qscale` divides the factors back out AND normalizes:
    * `dot · qscale_c · qscale_q ≈ cosine(q, c)` up to quantization
    * noise, which is the quantity the serving path should rank on.
    * Stored as a column next to `codes` at index build/append time —
    * 8 bytes/row against the 4·dim-byte float column the integer path
    * exists to avoid reading.
    */
  private[pipeline] def qscaleOf(vec: Column): Column =
    // r19: native one-pass kernel, same numerics as the lambda chain it
    // replaces (FunctionsSpec pins bit equality incl. the zero-vector 0)
    graft.functions.QScale(vec)

  /** ANN top-k served from the QUANTIZED codes inside a persisted
    * two-level index — the IVF-SQ serving shape for a 100 TB store: the
    * probed partitions' scan reads the packed int8 `codes` column plus
    * the 8-byte `qscale` correction (1 byte/dim + 8 — ~4× fewer bytes
    * than the float32 `cv` column the float path reads), scoring is the
    * all-integer [[graft.functions.DotI8]] kernel, and RANKING is on the
    * scale-corrected `qsim = round(dot · qscale_c · qscale_q, 6)` —
    * ≈ cosine up to quantization noise. Ranking on the raw integer dot
    * would compare scores carrying each candidate's own 127/maxAbs
    * quantizer factor (systematically biased toward small-maxAbs
    * vectors — the r15 ADVICE finding); the stored per-row scale divides
    * that factor back out and normalizes, so scores of different
    * candidates are mutually comparable. Determinism: the integer dot is
    * exact; the correction is two IEEE multiplies in a fixed order on
    * parquet-round-tripped doubles, collapsed to 6dp before ranking (the
    * cosine convention), so the px63 oracle replays value-identically.
    *
    * `rerank > 0` adds the optional exact re-rank: the corrected-score
    * top-`rerank` candidates per query are joined back against the SAME
    * cells table on the full (partition, id) key — so the float fetch
    * also prunes to the probed partitions — and the final top-k ranks on
    * float cosine exactly as [[twoLevelTopKFromIndex]] does. With
    * `rerank` covering the whole probed candidate set the result EQUALS
    * the float serving path row for row (PipelineSpec pins it); smaller
    * values trade recall for reading fewer float rows, the standard
    * quantize-then-refine tradeoff.
    *
    * Pass `p1 ≤ 0` / `nprobe ≤ 0` to SELF-SIZE that knob from the loaded
    * index ([[probeKnobs]]) — see [[twoLevelTopKFromIndex]].
    *
    * MEASURED operating points (SERVE_r16 recall ladder, recall@10 vs
    * exact brute force, 64 queries, p1=2/nprobe=4, 2000×64f corpus):
    * float serving 0.503 at 256 B/vec (the coarse probe budget is the
    * ceiling — all IVF modes share it); THIS path (rerank=0) 0.503 at
    * 72 B/vec — the scale-corrected integer ranking matched the float
    * path's top-10 EXACTLY, i.e. int8+scale costs no recall here, so
    * rerank buys nothing at this scale and the recommendation is
    * rerank=0 for serving, rerank≈25 as cheap insurance when the
    * corpus's dynamic range is wider than the driver fixtures'. The
    * parity held again at 100× (200k vectors, 1600 cells: 0.056 ==
    * 0.056) — there the low absolute recall is the fixed probe budget,
    * which has TWO knobs: scaling nprobe alone to 25% of cells
    * ([[autoNprobe]]) lifted recall to 0.206, and scaling p1 to the
    * same fraction (p1 ≈ side/4) restored and exceeded the small-index
    * law at 0.664 — both knobs must track the cell count (SERVE_r16).
    *
    * Same session requirement as [[twoLevelTopKFromIndex]]
    * ([[graft.GraftSession]]'s pruning setting), or both scans here degrade to full
    * reads at runtime. The probes side (batch × nprobe rows, each
    * carrying the query vector and its packed codes) is broadcast —
    * right for the query-serving shape this implements (batch ≪
    * corpus), and GUARDED: above `maxBroadcastProbesBytes` (Catalyst's
    * own size estimate × the deserialization factor, the semanticOverlap
    * pattern) the hint is dropped and Spark picks the join — same
    * answer, no executor OOM; corpus-sized batches belong on
    * [[twoLevelTopKFromIndex]] (px64's path) anyway.
    */
  def quantizedTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, p1: Int = 2, nprobe: Int = 4, rerank: Int = 0,
      maxBroadcastProbesBytes: Long = 512L << 20): DataFrame = {
    val idx = loadTwoLevelIndex(spark, dir)
    val (p1R, nprobeR) = resolvedKnobsFor(spark, dir, idx, p1, nprobe)
    // resolve the cells generation ONCE per call: both scans (codes +
    // optional float fetch) must read the SAME generation even if a
    // compaction swaps the pointer mid-call
    val cellsSrc = resolveCells(spark, dir)
    val codes = cellsSrc.df(spark)
      .select(col("nbr"), col("codes"), col("qscale"), col("_c1"), col("_c2"))
    val probes0 = twoLevelProbes(queries, idCol, vecCol,
      TwoLevelModel(idx.l1, idx.l2), p1R, nprobeR)
      .withColumn("_qc", packedCodes(col("qv")))
      .withColumn("_qs", qscaleOf(col("qv")))
    // ONE guard decision from the probes plan's own size estimate covers
    // every batch-sized broadcast below (the rerank candidate set `top`
    // is ≤ batch × rerank rows — same scaling dimension; its own stats
    // pass through two windows and are not trustworthy). Zero jobs at
    // plan time, the semanticOverlap mechanism.
    val bcastOk = probes0.queryExecution.optimizedPlan.stats.sizeInBytes *
      Decontaminate.BroadcastExpansionFactor <= maxBroadcastProbesBytes
    def guarded(df: DataFrame): DataFrame = if (bcastOk) broadcast(df) else df
    val probes = guarded(probes0)
    val m = if (rerank > 0) math.max(rerank, k) else k
    // r18: the two-phase window rank over the integer-scored candidates
    // is the bounded TopKEntries aggregate (see topKPerQuery — same
    // order key, map-side partial, zero sorts); the (c1, c2) partition
    // key rides the entry payload so the pruned float fetch-back join
    // below keeps its full (partition, id) key.
    val top = codes.join(probes, Seq("_c1", "_c2"))
      .where(col("qid") =!= col("nbr"))
      .withColumn("dot", graft.functions.DotI8(col("_qc"), col("codes")))
      .withColumn("qsim",
        round((col("dot").cast("double") * col("qscale")) * col("_qs"), 6))
      .groupBy("qid")
      .agg(graft.functions.TopKEntries(col("qsim"), col("nbr"),
        col("_c1"), col("_c2"), lit(0L), m).as("_top"))
      .select(col("qid"), posexplode(col("_top")).as(Seq("_r", "_e")))
      .select(col("qid"), col("_e.nbr").as("nbr"), col("_e.c1").as("_c1"),
        col("_e.c2").as("_c2"), col("_e.sim").as("qsim"),
        (col("_r") + 1).cast("bigint").as("rank"))
    if (rerank <= 0) top.select("qid", "nbr", "qsim", "rank")
    else {
      // restrict the float fetch by the PROBED cells first: joining the
      // scan with the (small, broadcast) distinct probe cells is the same
      // shape that gives the coarse codes scan its runtime dynamic
      // partition pruning — joined directly against the window-derived
      // candidates the planner degrades the pruning filter to TRUE and
      // the fetch reads the whole cv column (plan-audited in r15); the
      // candidate restriction then lands in the second, row-level join.
      // The query vector is re-attached from the (batch-sized, guarded)
      // queries side — the aggregate dropped it from the candidate rows.
      val probedCells = probes0.select("_c1", "_c2").distinct()
      val floats = cellsSrc.df(spark)
        .select(col("nbr"), col("cv"), col("_c1"), col("_c2"))
        .join(broadcast(probedCells), Seq("_c1", "_c2"))
      val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
        .withColumn("_qn", vecNorm(col("qv")))
      topKPerQuery(
        floats.withColumn("_cn", vecNorm(col("cv")))
          .join(guarded(top.select("qid", "nbr", "_c1", "_c2")),
            Seq("_c1", "_c2", "nbr"))
          .join(guarded(q), Seq("qid"))
          .withColumn("sim",
            round(cosinePre(col("qv"), col("cv"), col("_qn"), col("_cn")), 6)),
        k)
    }
  }

  // ------------------------------------------------ product quantization

  /** Per-vector slice rows (`id, sub, sv`): the vector split into `m`
    * contiguous subspaces of `dim / m` dims each — the decomposition PQ
    * codebooks train on. `dim % m == 0` is required loudly.
    */
  private[pipeline] def pqSlices(df: DataFrame, idCol: String, vecCol: String,
      m: Int, subLen: Int): DataFrame =
    df.select(col(idCol).as("nbr"), col(vecCol).as("v"))
      .select(col("nbr"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("v"))
      .select(col("nbr"), col("sub"),
        expr(s"slice(v, sub * $subLen + 1, $subLen)").as("sv"))

  /** Train per-subspace PQ codebooks — TRUE product quantization (the
    * FAISS PQ shape), vs [[quantizeInt8]]'s scalar quantization: the
    * vector splits into `m` subspaces and each subspace learns its own
    * `ksub`-entry codebook, so a vector compresses to m small codes
    * (log2(ksub) bits each) instead of dim scalars. Training is the same
    * deterministic discipline as [[ivfCentroids]] — hash-ordered seeds
    * with id tie-breaks per subspace, `iters` decimal-Lloyd refinements
    * as ONE groupBy across all subspaces (the codebook is model-sized:
    * m × ksub × dim/m = dim × ksub floats) — so a refit reproduces the
    * codebook exactly (spec-pinned). Entries left empty by a refinement
    * pass are dropped, as in [[twoLevelCentroids]].
    */
  def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 8, ksub: Int = 16, iters: Int = 1): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    require(ksub >= 1 && ksub <= 127, s"ksub $ksub outside [1, 127] (codes pack to int8)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val subLen = dim / m
    // r19 reshape (identical codebook, PqCodesSpec pins it): the model is
    // driver-bounded (dim × ksub floats — the l1-matrix class), so train
    // holds it on the driver and assigns natively instead of through the
    // ksub-way replication join (guide §1.2 step 1 / §2.4).
    //
    // Seeds: every id contributes exactly one slice per sub, so the old
    // per-sub window rank over (xxhash64(nbr), nbr) equals the GLOBAL id
    // rank — one driver-bounded TakeOrdered of the ksub hash-smallest
    // vectors replaces the all-slices exchange + sort.
    val seedVecs = corpus
      .select(col(idCol).as("nbr"), col(vecCol).as("v"))
      .orderBy(xxhash64(col("nbr")), col("nbr")).limit(ksub)
      .select(col("v")).collect().map(_.getSeq[Float](0).toArray)
    var codes: Array[Array[Int]] =
      Array.fill(m)(seedVecs.indices.toArray)
    var cents: Array[Array[Array[Float]]] = Array.tabulate(m)(sub =>
      seedVecs.map(v => v.slice(sub * subLen, sub * subLen + subLen)))
    for (_ <- 1 to math.max(iters, 0)) {
      // decimal-Lloyd refinement: native assignment (one map pass, zero
      // joins), exact decimal means per (sub, code, dim), floats cast
      // IN-PLAN (Spark's decimal→float cast, bit-identical to the old
      // transform) and collected — the refined model is m·ksub·subLen
      // floats, the same driver budget the seeds already hold
      val refined = corpus
        .select(col(idCol).as("nbr"), col(vecCol).as("v"))
        .select(posexplode(graft.functions.PqCodes(col("v"), codes, cents,
          subLen)).as(Seq("sub", "code")), col("v"))
        .select(col("sub"), col("code"),
          posexplode(expr(s"slice(v, sub * $subLen + 1, $subLen)"))
            .as(Seq("_dim", "_x")))
        .groupBy("sub", "code", "_dim")
        .agg(avg(col("_x").cast("decimal(38,18)")).as("_m"))
        .select(col("sub"), col("code"), col("_dim"),
          col("_m").cast("float").as("_f"))
        .collect()
      // entries left empty by the pass are dropped (absent from the
      // groups), as before
      val bySub = refined.groupBy(_.getInt(0))
      val subsKept = (0 until m).filter(bySub.contains)
      val newCodes = Array.ofDim[Array[Int]](m)
      val newCents = Array.ofDim[Array[Array[Float]]](m)
      (0 until m).foreach { sub =>
        val entries = bySub.getOrElse(sub, Array.empty[org.apache.spark.sql.Row])
          .groupBy(_.getInt(1)).toSeq.sortBy(_._1)
        newCodes(sub) = entries.map(_._1).toArray
        newCents(sub) = entries.map { case (_, dims) =>
          dims.sortBy(_.getInt(2)).map(_.getFloat(3))
        }.toArray
      }
      require(subsKept.size == m,
        s"PQ refinement left subspace(s) ${(0 until m).diff(subsKept).mkString(",")} empty")
      codes = newCodes
      cents = newCents
    }
    val rows = for {
      sub <- 0 until m
      j <- codes(sub).indices
    } yield (sub, codes(sub)(j), cents(sub)(j).toSeq)
    rows.toDF("sub", "code", "cent")
  }

  /** PQ-encode a corpus against a trained codebook: long-form
    * (`id, sub, code`) rows — m rows per vector, each code < ksub. The
    * long form is what the integer-ADC join consumes and what the oracle
    * export pins; pack to m bytes with [[graft.functions.PackI8]] when a
    * columnar layout is wanted.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, dim: Int, m: Int = 8): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    // r19: one native argmax pass (see pqCodebook) — no slice explode, no
    // ksub-way join, no exchange; codes identical (PqCodesSpec)
    val (codes, cents) = pqGrid(codebook, m)
    corpus.select(col(idCol).as("nbr"),
      posexplode(graft.functions.PqCodes(col(vecCol), codes, cents, dim / m))
        .as(Seq("sub", "code")))
  }

  /** A persisted/trained PQ codebook collected to the driver as aligned
    * (codes, cents) per-subspace arrays, entries in ascending code order
    * — the iteration order that reproduces the `max(struct(_s, -code))`
    * tie rule. Model-sized by construction: m × ksub × (dim/m) = dim ×
    * ksub floats, the same driver budget as the l1 centroid matrix.
    */
  private def pqGrid(codebook: DataFrame,
      m: Int): (Array[Array[Int]], Array[Array[Array[Float]]]) = {
    val rows = codebook
      .select(col("sub").cast("int"), col("code").cast("int"), col("cent"))
      .collect()
    val bySub = rows.groupBy(_.getInt(0))
    val missing = (0 until m).filterNot(bySub.contains)
    require(missing.isEmpty,
      s"PQ codebook has no entries for subspace(s) ${missing.mkString(",")}")
    val codes = Array.ofDim[Array[Int]](m)
    val cents = Array.ofDim[Array[Array[Float]]](m)
    (0 until m).foreach { sub =>
      val entries = bySub(sub).sortBy(_.getInt(1))
      codes(sub) = entries.map(_.getInt(1))
      cents(sub) = entries.map(_.getSeq[Float](2).toArray)
    }
    (codes, cents)
  }

  /** The int8 quantization of a float vector column as `array<bigint>`
    * codes — the arithmetic [[packedCodes]] packs; factored out so PQ's
    * per-slice quantization shares the exact (px44-replayable) numerics.
    */
  private[graft] def intCodes(vec: Column): Column =
    // r19: one native codegen'd pass ([[graft.functions.IntCodes]]) —
    // the transform/array_max lambda chain it replaces evaluates
    // interpreted per element; numerics bit-identical (FunctionsSpec)
    graft.functions.IntCodes(vec)

  /** Integer asymmetric-distance (ADC) top-k served from a persisted
    * two-level index's OWN PQ artifacts — IVF-PQ proper: the coarse
    * quantizer prunes candidates to the probed (c1,c2) partitions, whose
    * scan reads ONLY (nbr, pqcodes) — m bytes of codes per vector, never
    * a float vector — and scoring is table lookup: each query builds an
    * m × ksub lookup table and a candidate's score is the sum of its m
    * codes' LUT entries.
    *
    * LUT numerics (the r15 ADVICE fix): entries are computed as FLOAT
    * dots (query slice · codebook centroid, rounded to 6dp — the
    * cross-engine collapse), then the finished per-query table is
    * quantized with ONE shared scale, `floor(x·127/max|table| + 0.5)` —
    * so entries for different codes are on the SAME scale and the summed
    * ADC score preserves the float ranking up to LUT quantization noise.
    * (The previous form int8-quantized each codebook entry by its own
    * 127/maxAbs before an integer dot — per-entry scales made LUT values
    * mutually incomparable within a subspace.) Everything downstream of
    * the rounded float dots is deterministic integer arithmetic, so the
    * px66 oracle replays LUT construction, scoring, and ranking exactly
    * from the exported float codebook + codes.
    *
    * The codebook + codes come from the index dir itself ([[
    * saveTwoLevelIndex]] trains and persists them; [[
    * appendToTwoLevelIndex]] encodes arrivals with the frozen codebook),
    * so a vector appended to the index is immediately servable here —
    * no side-channel DataFrames. Same session requirement as
    * [[twoLevelTopKFromIndex]].
    *
    * RESIDUAL indexes (the [[saveTwoLevelIndex]] default, flagged in-dir
    * by `pq_meta`): the codes approximate `v − centroid(c1, c2)`, so the
    * ADC score adds the exact per-(query, probed cell) centroid dot back
    * — `dot(q, v) = dot(q, c) + dot(q, v − c)` — quantized on the same
    * shared per-query scale as the LUT parts. The coarse quantizer
    * explains the centroid component exactly and the m×ksub codebook
    * spends its precision on the (much smaller) remainder — the
    * published IVF-PQ shape and where PQ recall at small m comes from.
    * Raw-encoded dirs (pqResidual = false, or saved before the flag
    * existed) serve exactly as before.
    *
    * Scale shape: candidates ≈ batch × nprobe × occupancy rows; the
    * UnpackI8 explode fans them × m but the (qid, nbr) hash-agg combines
    * map-side, and both the LUT and the probes are broadcast
    * (model/batch-sized). The corpus's float column is never read.
    *
    * MEASURED operating points (SERVE_r17 recall ladder, recall@10 vs
    * exact brute force, 64 queries). At 200k vectors / 1600 cells under
    * the SCALED two-knob budget (p1=10, nprobe=400 — [[probeKnobs]];
    * float/int8 ceiling 0.664): residual m=8 → 0.047 (vs raw 0.027 —
    * residual nearly doubles it), +rerank=25 → 0.081, +rerank=100 →
    * 0.181, residual m=16 → 0.147; at 2000 vectors / 16 cells the
    * residual gain is small (0.128 vs 0.120 raw; rerank=100 → 0.409)
    * because 16 coarse centroids explain little variance — the residual
    * win GROWS with cell count, the published IVF-PQ property. The
    * operating recommendation: PQ at 8-16 B/vec is a CANDIDATE-PRUNING
    * stage, not a final ranking — serve with [[quantizedTopKFromIndex]]
    * (72 B/vec, zero recall loss vs float — it reaches the probe-budget
    * ceiling exactly) unless storage/scan bytes are the binding
    * constraint; and when they are, pass `rerank` (the px67 form) and
    * SCALE it with the candidate pool: under a fraction-f two-knob
    * budget each query sees ≈ n·f² candidates, and recall tracks the
    * rerank/candidates coverage (25/12500 = 0.2% → 0.081; 100 → 0.181;
    * 2% = 250 → 0.292; 10% = 1250 → 0.495), so size rerank with
    * [[autoRerank]] (fraction of probed mass), not a constant. The ADC
    * top-`rerank` survivors are exact-cosine refined from a float fetch
    * that reads ONLY those rows of the probed partitions.
    *
    * Pass `p1 ≤ 0` / `nprobe ≤ 0` to SELF-SIZE that knob from the loaded
    * index ([[probeKnobs]]) — see [[twoLevelTopKFromIndex]] — and
    * `rerank < 0` to SELF-SIZE the refine budget from the probed-mass
    * estimate ([[autoRerank]] at its default 2%-coverage knee):
    * n·(p1/side)·(nprobe/cells) candidates per query, every factor a
    * cached lookup. `rerank = 0` stays "no refine" (the raw ADC
    * ordering); positive values pin the budget (the declared oracle
    * queries pin 25 for export determinism).
    */
  def pqAdcTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, p1: Int = 2, nprobe: Int = 4, rerank: Int = 0,
      maxBroadcastProbesBytes: Long = 512L << 20): DataFrame = {
    val idx = loadTwoLevelIndex(spark, dir)
    val codebook = spark.read.parquet(s"$dir/pq_cb")
    // m, the slice width, and the grid shape from the (model-sized)
    // codebook itself — count == m·(maxCode+1) with unique (sub, code)
    // rows means every subspace carries the full dense code range, which
    // is what lets serving lay the per-query LUT out POSITIONALLY (r18).
    // Cached per (dir, pq_cb mtime) like pqIsResidual — the agg head()
    // was one Spark job on EVERY ADC serve call (the Wire.handleAnn hot
    // path); a re-train rewrites pq_cb and invalidates via the stamp.
    val (mSub, subLen, ksubStride, denseGrid) =
      pqCbMetaCache.computeIfAbsent((dir, mtimeOf(spark, s"$dir/pq_cb")), _ => {
        // r19 (ADVICE): the dense gate also requires (sub, code) UNIQUE —
        // a corrupted codebook with duplicates plus holes totalling
        // m·stride rows would otherwise pass and mis-score every
        // candidate through a misaligned positional LUT
        val meta = codebook.agg(max(col("sub")), min(size(col("cent"))),
          count(lit(1)), max(col("code")),
          countDistinct(col("sub"), col("code"))).head()
        val m = meta.getInt(0) + 1
        val stride = meta.getInt(3) + 1
        (m, meta.getInt(1), stride,
          meta.getLong(2) == m.toLong * stride &&
            meta.getLong(4) == meta.getLong(2))
      })
    val (p1R, nprobeR) = resolvedKnobsFor(spark, dir, idx, p1, nprobe)
    // one generation resolution per call — see quantizedTopKFromIndex
    val cellsSrc = resolveCells(spark, dir)
    // rerank < 0 → SELF-SIZE from the probed-mass estimate (the measured
    // r17 law: refine recall tracks rerank/candidates COVERAGE, so a
    // fixed rerank decays as the corpus grows — [[autoRerank]]'s scaladoc
    // has the curve). candidates/query ≈ n·(p1/side)·(nprobe/cells); all
    // three factors are cached model/state-sized lookups.
    val rerankR =
      if (rerank >= 0) rerank
      else {
        val n = corpusCountFor(spark, dir, cellsSrc)
        val cells = cellCountFor(spark, dir, idx)
        autoRerank(math.ceil(
          n.toDouble * (math.min(p1R, idx.l1.length).toDouble / idx.l1.length)
            * (math.min(nprobeR, cells).toDouble / cells)).toLong,
          k = k)
      }
    val probes = twoLevelProbes(queries, idCol, vecCol,
      TwoLevelModel(idx.l1, idx.l2), p1R, nprobeR)
    // ONE guard decision from the probes plan's size estimate covers every
    // batch-scaled broadcast below — probes themselves, the per-query LUT
    // (batch × m × ksub rows), and the rerank candidates/queries (≤ batch ×
    // rerank rows). All scale with the SAME dimension (the batch), so the
    // probes estimate × the deserialization expansion factor is the one
    // plan-time decision (zero jobs — the quantizedTopKFromIndex pattern);
    // above the cap the hints are dropped and Spark picks the join — same
    // answer, no executor OOM. The codebook broadcast stays unconditional:
    // it is model-sized (dim × ksub floats) by construction.
    val bcastOk = probes.queryExecution.optimizedPlan.stats.sizeInBytes *
      Decontaminate.BroadcastExpansionFactor <= maxBroadcastProbesBytes
    def guarded(df: DataFrame): DataFrame = if (bcastOk) broadcast(df) else df
    // fail LOUDLY on a cells row without PQ codes: a null pqcodes row
    // (e.g. rows appended by a build that could not see the codebook)
    // would otherwise posexplode to zero rows and silently VANISH from
    // ADC serving — the worst failure shape. raise_error surfaces the
    // first offending id instead.
    val checkedCodes = when(col("pqcodes").isNull,
      raise_error(concat(lit("cells row "), col("nbr").cast("string"),
        lit(s" has no pqcodes — the index at $dir was appended to without " +
          "its PQ codebook; re-encode (or rebuild) before ADC serving")))
        .cast("binary"))
      .otherwise(col("pqcodes"))
    val lutF = pqSlices(queries, idCol, vecCol, mSub, subLen)
      .select(col("nbr").as("qid"), col("sub"), col("sv"))
      .join(broadcast(codebook.select(col("sub"), col("code"), col("cent"))),
        Seq("sub"))
      .select(col("qid"), col("sub"), col("code"),
        round(dotD(col("sv"), col("cent")), 6).as("fpart"))
    val lm = lutF.groupBy("qid").agg(max(abs(col("fpart"))).as("_lm"))
    val lut = lutF
      .join(lm, Seq("qid"))
      .select(col("qid"), col("sub"), col("code").cast("long").as("code"),
        when(col("_lm") > 0d,
          floor(col("fpart") * lit(127.0d) / col("_lm") + lit(0.5d)))
          .otherwise(lit(0L)).cast("long").as("part"))
    val probedCand = cellsSrc.df(spark)
      .select(col("nbr"), col("pqcodes"), col("_c1"), col("_c2"))
      .join(guarded(probes.select("qid", "_c1", "_c2")), Seq("_c1", "_c2"))
      .where(col("qid") =!= col("nbr"))
    val partSums =
      if (denseGrid) {
        // r18 dense-grid fast path: the per-query LUT is laid out as ONE
        // positional array (sub-major, code-minor — the sorted collect
        // below; (sub, code) is unique per query so the order is total)
        // and each candidate row is scored by a single codegen'd
        // [[graft.functions.AdcSum]] pass over its packed codes. Sums
        // are the identical exact integers the former plan produced by
        // posexploding every candidate m× and re-aggregating through an
        // exchange — that plan survives below only for sparse codebook
        // grids (a refinement pass dropped entries), where positional
        // layout has holes.
        val lutArr = lut
          .groupBy("qid")
          .agg(array_sort(collect_list(
            struct(col("sub"), col("code"), col("part")))).as("_ps"))
          .select(col("qid"),
            expr("transform(_ps, x -> x.part)").as("_parts"))
        probedCand
          .join(guarded(lutArr), Seq("qid"))
          .select(col("qid"), col("nbr"), col("_c1"), col("_c2"),
            graft.functions.AdcSum(checkedCodes, col("_parts"), ksubStride)
              .as("_sp"))
      } else {
        val cand = probedCand
          .select(col("qid"), col("nbr"), col("_c1"), col("_c2"),
            posexplode(graft.functions.UnpackI8(checkedCodes))
              .as(Seq("sub", "code")))
        cand.join(guarded(lut), Seq("qid", "sub", "code"))
          // the partition cols are functionally dependent on nbr — grouping
          // by them costs nothing and keeps the (c1,c2,nbr) key the optional
          // float fetch below joins (and prunes) on, the px65 lesson
          .groupBy("qid", "nbr", "_c1", "_c2")
          .agg(sum("part").as("_sp"))
      }
    val scored =
      if (!pqIsResidual(spark, dir)) partSums.withColumnRenamed("_sp", "score")
      else {
        // RESIDUAL decomposition: dot(q, v) = dot(q, centroid) +
        // dot(q, v − centroid); the LUT parts approximate the second
        // term, and the first is EXACT — one float dot per (query,
        // probed cell), batch × nprobe rows against the model-sized
        // level-2 table. The offset is quantized with the SAME shared
        // per-query scale as the LUT parts (integer sums stay mutually
        // comparable and the oracle replays everything after the rounded
        // float dots exactly); offsets may exceed ±127 — they are longs,
        // and keeping the scale parts-derived preserves the parts' full
        // 7-bit precision instead of ceding it to the larger centroid
        // term. lm = 0 (every residual dot zero) degenerates ALL scores
        // to 0 deterministically — ranking falls to the nbr tie-break,
        // same rule both engines.
        val offQ = probes.select(col("qid"), col("qv"), col("_c1"), col("_c2"))
          .join(idx.l2.select(col("_c1"), col("_c2"), col("_cent")),
            Seq("_c1", "_c2"))
          .select(col("qid"), col("_c1"), col("_c2"),
            round(dotD(col("qv"), col("_cent")), 6).as("_foff"))
          .join(lm, Seq("qid"))
          .select(col("qid"), col("_c1"), col("_c2"),
            when(col("_lm") > 0d,
              floor(col("_foff") * lit(127.0d) / col("_lm") + lit(0.5d)))
              .otherwise(lit(0L)).cast("long").as("_op"))
        partSums.join(guarded(offQ), Seq("qid", "_c1", "_c2"))
          .select(col("qid"), col("nbr"), col("_c1"), col("_c2"),
            (col("_sp") + col("_op")).as("score"))
      }
    val m = if (rerankR > 0) math.max(rerankR, k) else k
    // r18: bounded TopKEntries aggregate instead of the two-phase window
    // rank (see topKPerQuery). The ordering key is the integer score
    // cast to double — exact and order-preserving (|score| ≤ m·127 +
    // |offset| ≪ 2⁵³ by construction), while the EXACT long score rides
    // the `aux` payload and is what the result emits.
    val top = scored
      .groupBy("qid")
      .agg(graft.functions.TopKEntries(col("score").cast("double"),
        col("nbr"), col("_c1"), col("_c2"), col("score"), m).as("_top"))
      .select(col("qid"), posexplode(col("_top")).as(Seq("_r", "_e")))
      .select(col("qid"), col("_e.nbr").as("nbr"), col("_e.c1").as("_c1"),
        col("_e.c2").as("_c2"), col("_e.aux").as("score"),
        (col("_r") + 1).cast("bigint").as("rank"))
    if (rerankR <= 0) top.select(col("qid"), col("nbr"), col("score"), col("rank"))
    else {
      // exact refine — the measured recommendation above: ADC prunes the
      // probed candidates to `rerank` survivors per query, and ONLY those
      // rows' float vectors are read back, on the full (partition, id)
      // key with the probed-cells pre-join so the fetch's dynamic
      // partition pruning survives (joined directly against the
      // window-derived candidates the planner degrades it to literal
      // TRUE — the px65 plan audit). Final ranking is exact cosine.
      val probedCells = probes.select("_c1", "_c2").distinct()
      val floats = cellsSrc.df(spark)
        .select(col("nbr"), col("cv"), col("_c1"), col("_c2"))
        .join(broadcast(probedCells), Seq("_c1", "_c2"))
      val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
        .withColumn("_qn", vecNorm(col("qv")))
      topKPerQuery(
        floats.withColumn("_cn", vecNorm(col("cv")))
          .join(guarded(top.select("qid", "nbr", "_c1", "_c2")),
            Seq("_c1", "_c2", "nbr"))
          .join(guarded(q), Seq("qid"))
          .withColumn("sim",
            round(cosinePre(col("qv"), col("cv"), col("_qn"), col("_cn")), 6)),
        k)
    }
  }

  /** Long-form PQ codes (`nbr, sub, code`) unpacked back out of a
    * persisted index's cells table — the oracle-export / audit shape.
    * Codes round-trip PackI8 → parquet → UnpackI8 exactly (signed bytes),
    * so this equals the pqEncode long form the index was built from.
    */
  def pqCodesFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    resolveCells(spark, dir).df(spark)
      .select(col("nbr"),
        posexplode(graft.functions.UnpackI8(col("pqcodes")))
          .as(Seq("sub", "code")))

  /** Probe budget for a target fraction of the index's cells —
    * the recall/cost knob the r16 ladder measured (SERVE_r16): with
    * nprobe FIXED, recall falls as the occupancy-sized cell count grows
    * with the corpus (4/16 cells = 25% probed → recall 0.503; 4/1600 =
    * 0.25% → 0.056 on the same data law). Probing a constant FRACTION
    * holds the probed-mass — and therefore the recall law — constant at
    * any corpus size, at candidate cost fraction·n per query; smaller
    * fractions trade recall for cost exactly like nprobe itself.
    * MEASURED caveat (SERVE_r16): on a two-level index the LEVEL-1
    * budget `p1` caps reachable mass at p1/side regardless of nprobe —
    * scale BOTH to the fraction (p1 ≈ side·fraction, nprobe =
    * autoNprobe): at 200k vectors that took recall@10 from 0.206
    * (nprobe only) to 0.664, above the small-index 0.503. The declared
    * oracle queries pin (p1=2, nprobe=4) for export determinism.
    */
  def autoNprobe(totalCells: Int, fraction: Double = 0.25): Int =
    math.max(1, math.ceil(totalCells * fraction).toInt)

  /** The default probed fraction for self-sized serving — the operating
    * point the r16 ladder measured at 200k vectors (both knobs at 25% →
    * recall 0.664, above the small-index 0.503; nprobe-only 0.206;
    * neither 0.056). */
  val DefaultProbeFraction: Double = 0.25

  /** BOTH probe knobs derived from the index's own cell structure for a
    * target probed fraction — the measured two-knob sizing rule made the
    * default path (the r16 verdict: every serve signature defaulted to
    * the oracle-pinned (2,4), so a caller serving a grown index got
    * 0.056 recall unless they read the scaladoc). `p1` scales with the
    * level-1 side (p1 ≈ side·fraction, floored at 2 — below that the
    * reachable mass cap p1/side dominates nprobe entirely), `nprobe`
    * with the total cell count ([[autoNprobe]]). At the occupancy floor
    * (side 4, 16 cells) the derived knobs ARE the historical pinned
    * (2, 4) — so the declared oracle queries and a self-sized caller
    * coincide exactly at oracle scales.
    */
  def probeKnobs(nlist1: Int, totalCells: Int,
      fraction: Double = DefaultProbeFraction): (Int, Int) =
    (math.max(2, math.ceil(nlist1 * fraction).toInt),
      autoNprobe(totalCells, fraction))

  /** Rerank budget for a target fraction of the probed candidate mass —
    * the r17 measured rule for [[pqAdcTopKFromIndex]]'s refine stage.
    * Under a two-knob probe budget each query sees ≈ n·(p1/side)·
    * (nprobe/totalCells) candidates, and refine recall tracks the
    * rerank/candidates COVERAGE, not any absolute rerank value
    * (MEASURED at 200k vectors / 1600 cells, scaled budget, int8/float
    * ceiling 0.664: rerank 25 → 0.081, 100 → 0.181, 2% = 250 → 0.292,
    * 10% = 1250 → 0.495 — SERVE_r17). A fixed rerank therefore decays
    * as the corpus grows; size it as a fraction of the probed mass.
    * The default 2% is the knee of the measured curve (diminishing
    * recall per float row read beyond it); pass 0.1 when the 8-byte
    * scan savings still dominate reading 10% of candidates back.
    */
  def autoRerank(candidatesPerQuery: Long, fraction: Double = 0.02,
      k: Int = 10): Int =
    math.max(k, math.ceil(candidatesPerQuery * fraction).toInt)

  /** Resolve a serve call's (p1, nprobe): positive values pass through
    * (the declared queries pin (2, 4) for export determinism); any
    * non-positive knob is derived from the LOADED index via
    * [[probeKnobs]] — one model-sized count over the level-2 centroid
    * table, only when actually needed.
    */
  private def resolvedKnobs(idx: TwoLevelIndex, p1: Int,
      nprobe: Int): (Int, Int) =
    if (p1 > 0 && nprobe > 0) (p1, nprobe)
    else {
      val (ap1, anp) = probeKnobs(idx.l1.length, idx.l2.count().toInt)
      (if (p1 > 0) p1 else ap1, if (nprobe > 0) nprobe else anp)
    }

  /** The index's total cell count, cached per (dir, l2 mtime) — the
    * count() job runs once per saved model, not per serve. */
  private def cellCountFor(spark: org.apache.spark.sql.SparkSession,
      dir: String, idx: TwoLevelIndex): Int =
    l2CountCache.computeIfAbsent((dir, mtimeOf(spark, s"$dir/l2")), _ =>
      idx.l2.count().toInt)

  /** [[resolvedKnobs]] for dir-backed serves — same semantics, the cell
    * count cached per (dir, l2 mtime). */
  private def resolvedKnobsFor(spark: org.apache.spark.sql.SparkSession,
      dir: String, idx: TwoLevelIndex, p1: Int, nprobe: Int): (Int, Int) =
    if (p1 > 0 && nprobe > 0) (p1, nprobe)
    else {
      val (ap1, anp) = probeKnobs(idx.l1.length, cellCountFor(spark, dir, idx))
      (if (p1 > 0) p1 else ap1, if (nprobe > 0) nprobe else anp)
    }

  /** The index's corpus row count, cached per (dir, cells-state stamp):
    * the `_cells` pointer file is rewritten at every save and
    * maintenance publish, so a mutation bumps the stamp and the count job
    * re-runs once. Used by
    * the [[autoRerank]] sentinel's probed-mass estimate — an estimate,
    * so a racing concurrent publish (reader resolved old, stamp already
    * new) only perturbs the rerank budget, never correctness.
    */
  private def corpusCountFor(spark: org.apache.spark.sql.SparkSession,
      dir: String, src: CellsManifest): Long =
    corpusCountCache.computeIfAbsent((dir, mtimeOf(spark, s"$dir/_cells")),
      _ => src.df(spark).count())

  /** Per-level side of an occupancy-scaled √/√ two-level split: each
    * level gets ⌈√autoNlist(n)⌉ cells (floor 4), so total cell count
    * tracks the corpus and per-cell occupancy stays ~constant — the px64
    * fix (fixed cell count made the whole-corpus batch join n²·nprobe/
    * cells; MEASURED 104× at 30× before sizing, 17.1× after,
    * SCALE_r15). At the oracle scales (≤ 2048 vectors) autoNlist floors
    * at 16 → side 4, coinciding with the historical fixed 4×4 index.
    */
  def twoLevelSide(n: Long): Int =
    math.max(4, math.ceil(math.sqrt(autoNlist(n).toDouble)).toInt)

  /** Signature width that targets a constant expected bucket occupancy:
    * bits = log2(n / target), clamped. With FIXED bits the bucket count is
    * constant, occupancy grows linearly with the corpus, and the
    * within-bucket candidate join grows QUADRATICALLY — the sf1 rehearsal
    * measured exactly that (px11 at 10× data ran ~24× the time with
    * bits=6). Occupancy-targeted sizing keeps candidates ≈ n·occupancy·
    * tables/2 — linear at any corpus size (at n=10^9, bits≈26).
    */
  def autoBits(n: Long, targetOccupancy: Int = 16): Int = {
    val b = math.ceil(math.log(math.max(n, 1).toDouble / targetOccupancy)
      / math.log(2.0)).toInt
    math.min(24, math.max(4, b))
  }

  /** Embedding-cosine near-duplicate pairs (sim ≥ threshold), LSH-bucketed
    * candidates, exact-verified — the embedding analog of Dedup.minhashPairs.
    * `bits ≤ 0` (the default) auto-sizes the signature width from the
    * corpus count via [[autoBits]]; recall per table falls as bits grow,
    * compensated by `tables` (every emitted pair is exactly verified, so
    * precision is 1 regardless).
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.95, bits: Int = 0,
      tables: Int = 6): DataFrame = {
    val useBits = if (bits > 0) bits else autoBits(df.count())
    // r18 plan reshape (identical pairs — see [[sigRows]]): candidates
    // come from one skinny (id, table, bucket) self-join instead of
    // `tables` vector-carrying self-joins unioned + SortAggregate'd;
    // the two 256-byte vectors are attached per SURVIVING candidate
    // pair only (guide §2.3: project before the exchange / §8: shuffle
    // metadata, attach payloads once). The exact-cosine verify and the
    // threshold are unchanged.
    val sig = sigRows(df, idCol, vecCol, "_id", dim, useBits, tables)
    val cand = sig.as("a").join(sig.as("b"),
      col("a._t") === col("b._t") && col("a._b") === col("b._b") &&
        col("a._id") < col("b._id"))
      .select(col("a._id").as("id1"), col("b._id").as("id2"))
      .dropDuplicates("id1", "id2")
    val v = df.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .withColumn("_n", vecNorm(col("_v")))
    cand
      .join(v.select(col("_id").as("id1"), col("_v").as("_v1"),
        col("_n").as("_n1")), "id1")
      .join(v.select(col("_id").as("id2"), col("_v").as("_v2"),
        col("_n").as("_n2")), "id2")
      .withColumn("sim",
        round(cosinePre(col("_v1"), col("_v2"), col("_n1"), col("_n2")), 6))
      .where(col("sim") >= threshold)
      .select("id1", "id2", "sim")
  }

  /** Occupancy-targeted cluster count — the [[autoBits]] discipline for
    * k-means cells: nlist ≈ n/occupancy (floor 16) keeps expected cell
    * size CONSTANT as the corpus grows. With nlist fixed instead, the
    * within-cell pair join is Σ|cell|²/2 ∝ n²/nlist — measured: px59 at
    * fixed nlist=16 ran 15.4× at 30× blowup; occupancy-sized it is the
    * linear n·occupancy/2. The driver holds nlist×dim floats (SemDeDup
    * itself ran 100k clusters; at n=10⁹, dim=64 that is ~2 GB — beyond
    * that a two-level coarse quantizer replaces the flat matrix).
    */
  def autoNlist(n: Long, targetOccupancy: Int = 128): Int =
    // clamp: past ~4M cells the flat driver matrix (and the int cell id
    // arithmetic) is the binding constraint — that regime belongs to the
    // two-level quantizer (twoLevelCentroids), not a bigger flat matrix.
    // Clamp in LONG arithmetic before narrowing: n/occupancy can exceed
    // Int.MaxValue (n ≳ 2.7e11 at the default 128), where .toInt would
    // wrap negative and max(16, ·) would yield 16 cells — the quadratic
    // regime the clamp exists to prevent.
    math.min(1L << 22,
      math.max(16L, n / math.max(targetOccupancy, 1))).toInt

  /** Deterministic cluster assignment shared by [[semanticClusterPrune]]
    * and graft.Verify's px59 aux export: the [[ivfCentroids]] matrix
    * (hash-ordered seed sample, decimal Lloyd — partition-order
    * independent), then one NearestCentroid map pass. Returns
    * (`_id`, `_v`, `_cell`). `nlist ≤ 0` auto-sizes via [[autoNlist]]
    * (one count job) — the scale-correct default.
    */
  def clusterAssignments(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 0, iters: Int = 1): DataFrame = {
    import graft.functions.NearestCentroid
    val useNlist = if (nlist > 0) nlist else autoNlist(df.count())
    val cents = ivfCentroids(df, idCol, vecCol, useNlist, iters)
    df.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .withColumn("_cell", NearestCentroid(col("_v"), cents))
  }

  /** SemDeDup-style semantic pruning (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embeddings (k-means cells via
    * [[clusterAssignments]]), compare vectors ONLY within their cell, and
    * prune every vector that has a same-cell neighbor of smaller id with
    * cosine ≥ threshold — the deterministic min-id representative rule
    * (the paper keeps the member farthest from the centroid; any fixed
    * deterministic choice yields the same dedup rate, and min-id is
    * exactly replayable by the DuckDB oracle). Complements
    * [[embeddingNearDupPairs]]: LSH finds global near-dup PAIRS; this is
    * the curation form — a per-document keep/prune verdict whose
    * candidate scope is the semantic cluster, catching paraphrase-level
    * duplicates LSH bit-signatures miss at moderate thresholds.
    *
    * Scale: the only shuffle is the self-join's exchange on `_cell`.
    * `nlist ≤ 0` (the default) auto-sizes via [[autoNlist]] so cell
    * occupancy stays constant and the within-cell pair count is
    * n·occupancy/2 — linear in the corpus (fixed nlist is quadratic;
    * measured, see [[autoNlist]]). The driver holds only the nlist×dim
    * centroid matrix. The prune verdict joins back a DISTINCT pruned-id
    * set — bounded by the corpus, broadcast by AQE when small.
    *
    * Returns one row per input vector: (idCol, cell, pruned).
    */
  def semanticClusterPrune(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 0, threshold: Double = 0.95,
      iters: Int = 1): DataFrame = {
    // per-row norm attached once before the within-cell pair join — the
    // pair compare is then one dot loop per pair (CosineSimPre, r18;
    // values bit-identical)
    val cells = clusterAssignments(df, idCol, vecCol, nlist, iters)
      .withColumn("_n", vecNorm(col("_v")))
    val pruned = cells.as("a").join(cells.as("b"),
        col("a._cell") === col("b._cell") && col("a._id") < col("b._id"))
      .where(round(cosinePre(col("a._v"), col("b._v"),
        col("a._n"), col("b._n")), 6) >= threshold)
      .select(col("b._id").as("_id")).distinct()
      .withColumn("_pruned", lit(true))
    cells.join(pruned, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("_cell").as("cell"),
        coalesce(col("_pruned"), lit(false)).as("pruned"))
  }

  /** Cluster assignment of a base corpus AND an arriving batch against
    * centroids trained on the BASE ONLY (the stale-centroid append
    * posture of [[appendToTwoLevelIndex]]) — shared by [[semanticPruneAppend]]
    * and graft.Verify's px61 aux export so the query and its oracle
    * cannot drift. Returns (baseCells, batchCells), each
    * (`_id`, `_v`, `_cell`).
    */
  def semanticAppendCells(base: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, nlist: Int = 0,
      iters: Int = 1): (DataFrame, DataFrame) = {
    import graft.functions.NearestCentroid
    val useNlist = if (nlist > 0) nlist else autoNlist(base.count())
    val cents = ivfCentroids(base, idCol, vecCol, useNlist, iters)
    def assign(df: DataFrame) =
      df.select(col(idCol).as("_id"), col(vecCol).as("_v"))
        .withColumn("_cell", NearestCentroid(col("_v"), cents))
    (assign(base), assign(batch))
  }

  /** Incremental SemDeDup — the dedup-maintained-on-write posture
    * ([[appendToTwoLevelIndex]]'s analog for [[semanticClusterPrune]], and the
    * embedding-space sibling of Dedup.incrementalNew): an arriving batch
    * is assigned to the EXISTING base centroids (no retrain — one map
    * pass) and each batch vector is pruned iff, within its cell, it has
    * (a) a SURVIVING base representative at cosine ≥ threshold, or (b) a
    * smaller-id batch neighbor at cosine ≥ threshold. Comparing against
    * survivors only — not pruned base vectors — is the incremental
    * semantics: a batch vector near-duplicate ONLY of an already-pruned
    * base vector is genuinely new relative to the kept corpus and is
    * kept (the spec pins this case). Base verdicts are recomputed here
    * for self-containment; a production pipeline persists the kept set
    * and pays only the batch-side cost — batch × occupancy comparisons
    * plus one batch×batch within-cell pass, never a base re-pairing.
    * Centroid staleness is the same documented tradeoff as
    * [[appendToTwoLevelIndex]]: re-train ([[semanticClusterPrune]] from scratch)
    * on a cadence, not per batch. Cell occupancy is sized from the BASE
    * corpus — a base far smaller than the batch (degenerate: empty)
    * collapses the batch into few cells and the batch-internal compare
    * toward quadratic; seed from [[semanticClusterPrune]] over the first
    * corpus instead of appending onto a near-empty base.
    *
    * Returns one row per BATCH vector: (idCol, cell, pruned).
    */
  def semanticPruneAppend(base: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, nlist: Int = 0, threshold: Double = 0.95,
      iters: Int = 1): DataFrame = {
    val (baseCells0, newCells0) =
      semanticAppendCells(base, batch, idCol, vecCol, nlist, iters)
    // per-row norms once per side; pair compares are single dot loops
    // (CosineSimPre, r18; values bit-identical)
    val baseCells = baseCells0.withColumn("_n", vecNorm(col("_v")))
    val newCells = newCells0.withColumn("_n", vecNorm(col("_v")))
    val basePruned = baseCells.as("a").join(baseCells.as("b"),
        col("a._cell") === col("b._cell") && col("a._id") < col("b._id"))
      .where(round(cosinePre(col("a._v"), col("b._v"),
        col("a._n"), col("b._n")), 6) >= threshold)
      .select(col("b._id").as("_id")).distinct()
    val kept = baseCells.join(basePruned, Seq("_id"), "left_anti")
    val vsKept = newCells.as("n").join(kept.as("k"),
        col("n._cell") === col("k._cell"))
      .where(round(cosinePre(col("n._v"), col("k._v"),
        col("n._n"), col("k._n")), 6) >= threshold)
      .select(col("n._id").as("_id"))
    val vsBatch = newCells.as("a").join(newCells.as("b"),
        col("a._cell") === col("b._cell") && col("a._id") < col("b._id"))
      .where(round(cosinePre(col("a._v"), col("b._v"),
        col("a._n"), col("b._n")), 6) >= threshold)
      .select(col("b._id").as("_id"))
    val pruned = vsKept.unionByName(vsBatch).distinct()
      .withColumn("_pruned", lit(true))
    newCells.join(pruned, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("_cell").as("cell"),
        coalesce(col("_pruned"), lit(false)).as("pruned"))
  }

  /** Symmetric per-vector int8 quantization — the compression step a
    * 100 TB embedding store runs before ANN serving: each vector is scaled
    * by 127/max|x| and rounded to [-127, 127] codes (zero vectors → all-0
    * codes). Rounding is `floor(x·127/maxAbs + 0.5)` — half-up, written
    * with ONE operand order so Spark and DuckDB produce bit-identical
    * doubles and therefore identical codes (the px38 oracle hash-checks
    * per-vector code sums/extremes, which pin every code).
    *
    * Pure per-row array expressions — no shuffle; at scale this is a map
    * stage fused into the scan, and the 4×-smaller codes column is the
    * point: it's what ships to the ANN index.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    withCodes(df, idCol, vecCol)
      .select(col(idCol),
        size(col("codes")).cast("bigint").as("n_dims"),
        aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"))

  /** (id[, kept cols], codes: array<bigint>) — the quantized form
    * [[quantizeInt8]], [[quantizedTopK]] and [[codeCentroids]] build on.
    */
  private[pipeline] def withCodes(df: DataFrame, idCol: String,
      vecCol: String, keep: Seq[String] = Nil): DataFrame =
    // r19: the two-select lambda pipeline collapsed to the shared native
    // kernel — same codes bit-for-bit (FunctionsSpec)
    df.select((col(idCol) +: keep.map(col)) :+
      intCodes(col(vecCol)).as("codes"): _*)

  /** Per-label centroids of the int8 codes — the assignment-fixed half of
    * a k-means/IVF training step (sum vectors per cell, divide by count).
    * Sums are INTEGERS, so unlike float centroids they are exact and
    * independent of partition/accumulation order — which is what makes the
    * px47 oracle a value-identical cross-engine check (float centroid sums
    * differ per reduction tree). The caller derives the mean as
    * code_sum / n_vecs at whatever precision it wants.
    *
    * Scale: quantize is per-row; posexplode fans each vector into dim rows
    * but the (label, dim) hash agg combines map-side to |labels|·dim cells
    * per task, so the shuffle payload is model-sized, not corpus-sized.
    */
  def codeCentroids(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame =
    withCodes(df, idCol, vecCol, keep = Seq(labelCol))
      .select(col(labelCol), posexplode(col("codes")).as(Seq("dim", "code")))
      .groupBy(col(labelCol), col("dim").cast("bigint").as("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum("code").as("code_sum"))

  /** Cross-group corpus similarity — per-group merged minhash signatures
    * (MinHashMerge UDAF: map-side partial elementwise-min), then pairwise
    * slot-agreement counts: `n_agree / slots` estimates the shingle-set
    * Jaccard between the two groups' corpora. The pair join runs over
    * |groups| rows — model-sized; the corpus is scanned exactly once.
    * n_agree is an integer, so the px49 oracle (which re-merges exported
    * per-doc signatures independently) is value-exact.
    */
  def corpusAgreement(df: DataFrame, textCol: String, groupCol: String,
      slots: Int = 32): DataFrame = {
    val merge = graft.functions.MinHashMerge(slots)
    val sigs = df
      .select(col(groupCol),
        graft.functions.MinHashSigs(
          TextAnalysis.shingles(col(textCol), 3), slots).as("sig"))
      .groupBy(groupCol)
      .agg(merge(col("sig")).as("merged"))
    sigs.as("a").join(sigs.as("b"),
        col(s"a.$groupCol") < col(s"b.$groupCol"))
      .select(col(s"a.$groupCol").as("s1"), col(s"b.$groupCol").as("s2"),
        aggregate(
          zip_with(col("a.merged"), col("b.merged"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), _ + _).as("n_agree"))
  }

  /** Quantized similarity search — brute-force top-k by INTEGER dot
    * product over int8 codes: the serving-side shape once px38 has
    * compressed the store. Scores, ranks, and therefore the whole result
    * are integers (native DotI64 kernel — one codegen'd pass per pair), so
    * the px44 oracle replays quantization and ranking exactly, with no
    * rounding class anywhere. Same two-phase top-k as the float path:
    * per-partition rank caps candidates at k×partitions before the global
    * per-query rank.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = withCodes(corpus, idCol, vecCol)
      .select(col(idCol).as("nbr"), col("codes").as("_cc"))
    val q = withCodes(queries, idCol, vecCol)
      .select(col(idCol).as("qid"), col("codes").as("_qc"))
    val scored = c.join(broadcast(q), col("qid") =!= col("nbr"))
      .select(col("qid"), col("nbr"),
        graft.functions.DotI64(col("_qc"), col("_cc")).as("dot"))
    val part = Window.partitionBy(col("qid"), spark_partition_id())
      .orderBy(col("dot").desc, col("nbr"))
    val global = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("nbr"))
    scored
      .withColumn("_pr", row_number().over(part))
      .where(col("_pr") <= k)
      .withColumn("rank", row_number().over(global).cast("bigint"))
      .where(col("rank") <= k)
      .select("qid", "nbr", "dot", "rank")
  }
}
