package graft.tools

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

/** ANN serving receipts over a persisted two-level index:
  *
  *  1. the BATCH AMORTIZATION curve — wall-clock and queries/sec for
  *     query batches of 1, 64 and 1024 served in ONE pass each (px64's
  *     one-scan-answers-all posture; the ANN analog of SERVE_r14's
  *     batched_speedup story),
  *  2. the SCAN-BYTE REDUCTION of quantized serving (px63) — executor
  *     input bytes of the int8-codes scan vs the float-vector scan for
  *     the same probes, measured by a task-metrics listener, and
  *  3. the RECALL LADDER — recall@10 vs exact brute-force cosine for
  *     every serving mode at its DECLARED operating points (p1=2,
  *     nprobe=4): px62 float IVF, px63 scale-corrected int8 (rerank=0),
  *     px65 at rerank ∈ {10, 25, 100}, px66 PQ-ADC at (m=8, ksub=16)
  *     and (m=16, ksub=16) — each next to its bytes-per-vector, the
  *     number that justifies (or refuses) each compression step.
  *
  * Reads `embeddings.parquet` under the given data dir (use a
  * ScaleRehearsal output dir for the 30× corpus) WITHOUT touching its
  * _DONE stamp. Emits ONE JSON line; record it in SERVE_r{N}.json.
  *
  * Usage: runMain graft.tools.AnnServeRehearsal [dataDir] [k]
  */
object AnnServeRehearsal {

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/tmp/graft_sf3_r13")
    val k = if (args.length > 1) args(1).toInt else 10
    val spark = graft.GraftSession(graft.GraftSession.cpus(32))

    val corpus = graft.Tables.load(spark, dataDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = corpus.count()
    // occupancy-sized total cell count, split √/√ across the two levels —
    // the sizing rule autoNlist/twoLevelCentroids document
    val side = math.max(4,
      math.ceil(math.sqrt(Similarity.autoNlist(n).toDouble)).toInt)

    val dir = Files.createTempDirectory("graft_ann_serve_").toString
    val tTrain0 = System.nanoTime()
    // pqKsub pinned to 16 here: the primary dir's ladder rows are the
    // historical (r16-comparable) baseline; the ksub=127 default gets
    // its own explicit comparison index below
    Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir,
      nlist1 = side, k2 = side, iters = 1, pqKsub = 16)
    val trainSec = (System.nanoTime() - tTrain0) / 1e9

    // executor input bytes, accumulated per measured window
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) { bytesRead.addAndGet(m.inputMetrics.bytesRead); () }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // the listener bus is async — settle (value stable across 3 polls)
    // before reading or resetting the counter
    def settled(): Long = {
      var prev = -1L; var cur = bytesRead.get(); var spins = 0
      while (cur != prev || spins < 3) {
        prev = cur; Thread.sleep(200); cur = bytesRead.get(); spins += 1
      }
      cur
    }
    // files/bytes the CELLS scan actually read, from the executed plan's
    // own scan metrics: `numFiles`/`filesSize` are post-dynamic-pruning,
    // `staticFilesNum`/`staticFilesSize` (present when a dynamicpruning
    // filter applies) are the pre-pruning totals — together they receipt
    // BOTH levers: partition pruning (files skipped) and column pruning
    // (bytes per file read, vs the task-level input bytes)
    def cellScanStats(df: DataFrame): (Long, Long, Long, Long) = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      // SparkPlan.collect does NOT descend into AQE query stages (they are
      // leaf nodes wrapping their materialized subplan) — walk explicitly
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: QueryStageExec => q +: allNodes(q.plan)
        case r: ReusedExchangeExec => r +: allNodes(r.child)
        case other => other +: other.children.flatMap(allNodes)
      }
      val scans = allNodes(df.queryExecution.executedPlan).collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("/cells")) => s
      }
      def m(s: FileSourceScanExec, k: String): Long =
        s.metrics.get(k).map(_.value).getOrElse(0L)
      (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "filesSize")).sum,
        scans.map(m(_, "staticFilesNum")).sum,
        scans.map(m(_, "staticFilesSize")).sum)
    }

    // per-column ON-DISK bytes of the cells table, from the parquet
    // footers: at production file sizes the scan stream reads only the
    // projected column's chunks, so codes-vs-cv chunk totals ARE the
    // quantized path's byte reduction. (Stream-level input bytes cannot
    // show it at this toy scale — occupancy-sized cell files are ~40 KB
    // and the reader's buffer swallows whole files regardless of
    // projection; measured and documented here rather than assumed.)
    def columnBytes(dir: String): Map[String, Long] = {
      import org.apache.hadoop.fs.{FileSystem, Path => HPath}
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = FileSystem.get(conf)
      val acc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val it = fs.listFiles(new HPath(dir), true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          val md = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            conf, f.getPath,
            org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
          md.getBlocks.forEach(b => b.getColumns.forEach { c =>
            acc(c.getPath.toDotString) += c.getTotalSize; ()
          })
        }
      }
      acc.toMap
    }
    final case class Point(sec: Double, rows: Long, taskBytes: Long,
      files: Long, fileBytes: Long, staticFiles: Long, staticBytes: Long)
    def measured(df: DataFrame): Point = {
      settled(); bytesRead.set(0L)
      val t0 = System.nanoTime()
      val rows = df.collect().length.toLong
      val sec = (System.nanoTime() - t0) / 1e9
      val (nf, fb, snf, sfb) = cellScanStats(df)
      Point(sec, rows, settled(), nf, fb, snf, sfb)
    }

    // query batches are materialized OUTSIDE the measured window — the
    // serve receipts must not pay (or count scan bytes for) the query
    // selection itself
    val batches = Seq(1, 64, 1024).filter(_ <= n)
    val queryBatch: Map[Int, DataFrame] = batches.map(b =>
      b -> corpus.orderBy("vec_id").limit(b).localCheckpoint(true)).toMap
    def queriesOf(b: Int): DataFrame = queryBatch(b)

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // warmup: touch both columns once so first-scan costs (footer reads,
    // codegen) don't pollute the batch-1 point
    measured(Similarity.twoLevelTopKFromIndex(
      Similarity.loadTwoLevelIndex(spark, dir), queriesOf(1),
      "vec_id", "embedding", k = k))
    measured(Similarity.quantizedTopKFromIndex(spark, dir, queriesOf(1),
      "vec_id", "embedding", k = k))

    val floatCurve = batches.map { b =>
      val idx = Similarity.loadTwoLevelIndex(spark, dir)
      b -> measured(Similarity.twoLevelTopKFromIndex(idx, queriesOf(b),
        "vec_id", "embedding", k = k))
    }
    val quantCurve = batches.map { b =>
      b -> measured(Similarity.quantizedTopKFromIndex(spark, dir, queriesOf(b),
        "vec_id", "embedding", k = k))
    }

    def curveJson(c: Seq[(Int, Point)]): String =
      c.map { case (b, p) =>
        s"""{"batch":$b,"sec":${fmt(p.sec)},"qps":${fmt(b / p.sec)},""" +
          s""""rows":${p.rows},"task_input_bytes":${p.taskBytes},""" +
          s""""cells_files_read":${p.files},"cells_bytes_read":${p.fileBytes},""" +
          s""""cells_files_total":${p.staticFiles},""" +
          s""""cells_bytes_total":${p.staticBytes}}"""
      }.mkString("[", ",", "]")

    // ---- recall ladder: every serving mode vs exact brute force @10 ----
    val rk = 10
    val rQueries = queriesOf(batches.filter(_ <= 64).max)
    val nQ = rQueries.count()
    def topSets(df: DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "nbr").collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
    val exactTop = topSets(Similarity.bruteForceTopK(corpus, rQueries,
      "vec_id", "embedding", k = rk))
    def recallOf(df: DataFrame): Double = {
      val got = topSets(df)
      val per = exactTop.map { case (q, truth) =>
        got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      per.sum / math.max(per.size, 1)
    }
    val idxR = Similarity.loadTwoLevelIndex(spark, dir)
    val rFloat = recallOf(Similarity.twoLevelTopKFromIndex(idxR, rQueries,
      "vec_id", "embedding", k = rk))
    val rInt8 = recallOf(Similarity.quantizedTopKFromIndex(spark, dir,
      rQueries, "vec_id", "embedding", k = rk))
    val rRerank = Seq(10, 25, 100).map { r =>
      r -> recallOf(Similarity.quantizedTopKFromIndex(spark, dir, rQueries,
        "vec_id", "embedding", k = rk, rerank = r))
    }
    // the recall-restoration points: the probe budget has TWO knobs —
    // nprobe (sub-cells) and p1 (level-1 cells). Scaling nprobe alone to
    // a constant fraction (autoNprobe) lifts recall but p1=2 still caps
    // the reachable mass at 2/side of the corpus; scaling BOTH to the
    // same fraction holds the probed-mass (and the recall law) constant
    // as the index grows
    val autoNp = Similarity.autoNprobe(side * side)
    val rInt8Auto = recallOf(Similarity.quantizedTopKFromIndex(spark, dir,
      rQueries, "vec_id", "embedding", k = rk, nprobe = autoNp))
    val autoP1 = math.max(2, math.ceil(side / 4.0).toInt)
    val rInt8AutoP1 = recallOf(Similarity.quantizedTopKFromIndex(spark, dir,
      rQueries, "vec_id", "embedding", k = rk, p1 = autoP1, nprobe = autoNp))
    // the DEFAULT index is residual-encoded (r17 — IVF-PQ proper); the
    // raw (r16) encoding is kept as an explicit comparison point below
    val rPq8 = recallOf(Similarity.pqAdcTopKFromIndex(spark, dir,
      rQueries, "vec_id", "embedding", k = rk))
    // px67: ADC prune to 25, exact refine — the 8-byte codes' recall
    // recovery path (reads 25 float rows/query instead of zero)
    val rPq8r25 = recallOf(Similarity.pqAdcTopKFromIndex(spark, dir,
      rQueries, "vec_id", "embedding", k = rk, rerank = 25))
    // THE r16-VERDICT receipt: px66/px67 at the SCALED two-knob probe
    // budget (p1, nprobe both at 25% of cells — the operating point the
    // float/int8 paths were measured at), for rerank 0/25/100 — what
    // 8 B/vec actually buys when the probe budget is not the binding
    // constraint
    val rPq8Auto = recallOf(Similarity.pqAdcTopKFromIndex(spark, dir,
      rQueries, "vec_id", "embedding", k = rk, p1 = autoP1, nprobe = autoNp))
    val rPq8AutoR25 = recallOf(Similarity.pqAdcTopKFromIndex(spark, dir,
      rQueries, "vec_id", "embedding", k = rk, p1 = autoP1, nprobe = autoNp,
      rerank = 25))
    val rPq8AutoR100 = recallOf(Similarity.pqAdcTopKFromIndex(spark, dir,
      rQueries, "vec_id", "embedding", k = rk, p1 = autoP1, nprobe = autoNp,
      rerank = 100))
    // rerank scaled WITH the probed mass (the r17 question: what must
    // rerank scale TO) — 2% and 10% of the expected per-query candidate
    // count n·(p1/side)·(nprobe/cells)
    val candScaled = (n.toDouble * autoP1 / side * autoNp / (side * side)).toLong
    val (r2pct, r10pct) = (Similarity.autoRerank(candScaled, 0.02, rk),
      Similarity.autoRerank(candScaled, 0.10, rk))
    val rPq8AutoR2p = recallOf(Similarity.pqAdcTopKFromIndex(spark, dir,
      rQueries, "vec_id", "embedding", k = rk, p1 = autoP1, nprobe = autoNp,
      rerank = r2pct))
    val rPq8AutoR10p = recallOf(Similarity.pqAdcTopKFromIndex(spark, dir,
      rQueries, "vec_id", "embedding", k = rk, p1 = autoP1, nprobe = autoNp,
      rerank = r10pct))
    // RAW (non-residual) m=8 comparison index — the r16 encoding, same
    // coarse quantizer params: residual-vs-raw at both probe budgets
    val dirRaw = Files.createTempDirectory("graft_ann_serveraw_").toString
    Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dirRaw,
      nlist1 = side, k2 = side, iters = 1, pqKsub = 16, pqResidual = false)
    val rPq8Raw = recallOf(Similarity.pqAdcTopKFromIndex(spark, dirRaw,
      rQueries, "vec_id", "embedding", k = rk))
    val rPq8RawAuto = recallOf(Similarity.pqAdcTopKFromIndex(spark, dirRaw,
      rQueries, "vec_id", "embedding", k = rk, p1 = autoP1, nprobe = autoNp))
    val rPq8RawAutoR25 = recallOf(Similarity.pqAdcTopKFromIndex(spark, dirRaw,
      rQueries, "vec_id", "embedding", k = rk, p1 = autoP1, nprobe = autoNp,
      rerank = 25))
    // a second index whose PQ uses 16 subspaces (4-dim slices, 16 B/vec)
    val dir16 = Files.createTempDirectory("graft_ann_serve16_").toString
    Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir16,
      nlist1 = side, k2 = side, iters = 1, pqM = 16, pqKsub = 16)
    val rPq16 = recallOf(Similarity.pqAdcTopKFromIndex(spark, dir16,
      rQueries, "vec_id", "embedding", k = rk))
    val rPq16Auto = recallOf(Similarity.pqAdcTopKFromIndex(spark, dir16,
      rQueries, "vec_id", "embedding", k = rk, p1 = autoP1, nprobe = autoNp))
    // ksub = 127: codes are stored as one signed byte regardless, so a
    // 16-entry codebook uses 4 of its 8 bits — 127 entries cost the SAME
    // 8 B/vec with 8x the codebook resolution (the int8-pack bound)
    val dir127 = Files.createTempDirectory("graft_ann_serve127_").toString
    Similarity.saveTwoLevelIndex(corpus, "vec_id", "embedding", dir127,
      nlist1 = side, k2 = side, iters = 1, pqM = 8, pqKsub = 127)
    val rK127 = recallOf(Similarity.pqAdcTopKFromIndex(spark, dir127,
      rQueries, "vec_id", "embedding", k = rk, p1 = autoP1, nprobe = autoNp))
    val rK127r2p = recallOf(Similarity.pqAdcTopKFromIndex(spark, dir127,
      rQueries, "vec_id", "embedding", k = rk, p1 = autoP1, nprobe = autoNp,
      rerank = r2pct))
    val dim = idxR.l1.head.length
    val recallJson =
      s"""{"k":$rk,"queries":$nQ,"p1":2,"nprobe":4,""" +
        s""""px62_float":{"recall":${fmt(rFloat)},"bytes_per_vec":${4 * dim}},""" +
        s""""px63_int8":{"recall":${fmt(rInt8)},"bytes_per_vec":${dim + 8}},""" +
        s""""px63_int8_autonprobe":{"recall":${fmt(rInt8Auto)},"nprobe":$autoNp,"bytes_per_vec":${dim + 8}},""" +
        s""""px63_int8_autop1_autonprobe":{"recall":${fmt(rInt8AutoP1)},"p1":$autoP1,"nprobe":$autoNp,"bytes_per_vec":${dim + 8}},""" +
        rRerank.map { case (r, v) =>
          s""""px65_rerank$r":{"recall":${fmt(v)},"bytes_per_vec":${dim + 8}}"""
        }.mkString("", ",", ",") +
        s""""px66_pq_m8_residual":{"recall":${fmt(rPq8)},"bytes_per_vec":8},""" +
        s""""px67_adc_rerank25_residual":{"recall":${fmt(rPq8r25)},"bytes_per_vec":8},""" +
        s""""px66_pq_m8_residual_scaled":{"recall":${fmt(rPq8Auto)},"p1":$autoP1,"nprobe":$autoNp,"bytes_per_vec":8},""" +
        s""""px67_adc_rerank25_residual_scaled":{"recall":${fmt(rPq8AutoR25)},"p1":$autoP1,"nprobe":$autoNp,"bytes_per_vec":8},""" +
        s""""px67_adc_rerank100_residual_scaled":{"recall":${fmt(rPq8AutoR100)},"p1":$autoP1,"nprobe":$autoNp,"bytes_per_vec":8},""" +
        s""""px67_adc_rerank2pct_residual_scaled":{"recall":${fmt(rPq8AutoR2p)},"rerank":$r2pct,"p1":$autoP1,"nprobe":$autoNp,"bytes_per_vec":8},""" +
        s""""px67_adc_rerank10pct_residual_scaled":{"recall":${fmt(rPq8AutoR10p)},"rerank":$r10pct,"p1":$autoP1,"nprobe":$autoNp,"bytes_per_vec":8},""" +
        s""""px66_pq_m8_raw":{"recall":${fmt(rPq8Raw)},"bytes_per_vec":8},""" +
        s""""px66_pq_m8_raw_scaled":{"recall":${fmt(rPq8RawAuto)},"p1":$autoP1,"nprobe":$autoNp,"bytes_per_vec":8},""" +
        s""""px67_adc_rerank25_raw_scaled":{"recall":${fmt(rPq8RawAutoR25)},"p1":$autoP1,"nprobe":$autoNp,"bytes_per_vec":8},""" +
        s""""px66_pq_m16_residual":{"recall":${fmt(rPq16)},"bytes_per_vec":16},""" +
        s""""px66_pq_m16_residual_scaled":{"recall":${fmt(rPq16Auto)},"p1":$autoP1,"nprobe":$autoNp,"bytes_per_vec":16},""" +
        s""""px66_pq_m8_ksub127_residual_scaled":{"recall":${fmt(rK127)},"p1":$autoP1,"nprobe":$autoNp,"bytes_per_vec":8},""" +
        s""""px67_m8_ksub127_rerank2pct_residual_scaled":{"recall":${fmt(rK127r2p)},"rerank":$r2pct,"p1":$autoP1,"nprobe":$autoNp,"bytes_per_vec":8}}"""

    // ---- wire serving: the same quantized path through serveAnn/TCP ----
    // one warmup round trip (socket + codegen), then batch 1 and 64 —
    // the marginal wire cost vs the in-process curve is the receipt that
    // the thin-client path is usable, not just reachable
    val wireCurve = {
      val server = graft.store.Wire.serveAnn(spark, dir)
      val client = new graft.store.Wire.AnnClient(spark, server.host, server.port)
      try {
        client.topK(queriesOf(1), k = k).collect()
        (batches.filter(_ <= 64).map { b =>
          val t0 = System.nanoTime()
          val rows = client.topK(queriesOf(b), k = k).collect().length
          val sec = (System.nanoTime() - t0) / 1e9
          s"""{"op":"quantized","batch":$b,"sec":${fmt(sec)},""" +
            s""""qps":${fmt(b / sec)},"rows":$rows}"""
        } ++ batches.filter(_ <= 64).map { b =>
          // the ADC op rides the same frame — its wire row next to the
          // quantized one (r16 verdict item 7)
          val t0 = System.nanoTime()
          val rows = client.topK(queriesOf(b), k = k, rerank = 25, op = "adc")
            .collect().length
          val sec = (System.nanoTime() - t0) / 1e9
          s"""{"op":"adc_rerank25","batch":$b,"sec":${fmt(sec)},""" +
            s""""qps":${fmt(b / sec)},"rows":$rows}"""
        }).mkString("[", ",", "]")
      } finally { client.close(); server.close() }
    }

    val colBytes = columnBytes(s"$dir/cells")
    val cvB = colBytes.getOrElse("cv.list.element", colBytes.getOrElse("cv", 0L))
    val codesB = colBytes.getOrElse("codes", 0L)
    println(
      s"""{"metric":"ann_serve","n_vectors":$n,"nlist1":$side,"k2":$side,""" +
        s""""k":$k,"train_sec":${fmt(trainSec)},""" +
        s""""float":${curveJson(floatCurve)},""" +
        s""""quantized":${curveJson(quantCurve)},""" +
        s""""recall":$recallJson,""" +
        s""""wire":$wireCurve,""" +
        s""""cv_bytes_on_disk":$cvB,"codes_bytes_on_disk":$codesB,""" +
        s""""column_byte_ratio":${fmt(cvB.toDouble / math.max(codesB, 1L))},""" +
        s""""column_bytes":${colBytes.toSeq.sortBy(_._1).map { case (c, b) =>
          s"""{"column":"$c","bytes":$b}""" }.mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
