package graft

import org.apache.spark.sql.DataFrame

/** Benchmark main — driver contract: ONE JSON line on stdout with
  * per-query wall seconds at SPARK_GRAFT_SF_DIR.
  *
  * Queries execute through the `noop` v2 sink so the FULL physical plan
  * runs (a bare `count()` would let Catalyst eliminate sorts and column
  * projections — benchmarking a plan that never materializes its result is
  * self-deception). One untimed warmup query first absorbs JVM/codegen
  * startup so per-query numbers measure the plan, not the JIT.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession(cpus)

    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Locale.ROOT: the default-locale `f` interpolator emits comma decimal
    // separators on e.g. de_DE, which breaks the one-JSON-line contract
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // warmup: JVM + codegen + parquet footer caches
    run(Tables.load(spark, sfDir, "lineitem").groupBy("l_returnflag").count())

    // Best-of-N per query: this box swings ±30% under load, which has
    // repeatedly confused round-over-round adjudication — the per-query MIN
    // of 3 runs measures the plan, the recorded spread (max-min) shows how
    // noisy the box was. A query that fails is reported as -1 immediately
    // (no pointless retries of a broken plan).
    val Runs = 3
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // release the previous query's plan-owned localCheckpoint blocks
      // (CC loops, px29's lineage cut): the ContextCleaner frees them only
      // after their RDDs are garbage-collected, and 71 queries × 3 runs in
      // one JVM otherwise accumulate blocks toward eviction pressure — the
      // same mitigation ScaleRehearsal applies, for the same reason
      System.gc()
      val times = Iterator.continually(()).take(Runs).map { _ =>
        val t0 = System.nanoTime()
        try { run(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1d
        }
      }.takeWhile(_ >= 0).toSeq
      val (best, spread) =
        if (times.length < Runs) (-1d, -1d) // a run failed
        else (times.min, times.max - times.min)
      System.err.println(s"[bench] $name ${fmt(best)} s (spread ${fmt(spread)})")
      (name, best, spread)
    }
    def obj(f: ((String, Double, Double)) => Double): String =
      results.map(r => "\"" + r._1 + "\":" + fmt(f(r))).mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$Runs,"queries":${obj(_._2)},"spread":${obj(_._3)},"sf":"$sfDir"}"""
    println(fullLine)
    // Durable per-query record: the stdout line above exceeds the driver's
    // ~4 KB tail window (r7 and r8 both lost the per-query map to it),
    // making round-over-round per-query adjudication impossible from the
    // round record alone. A file survives truncation; written atomically
    // so a crashed bench never leaves a half-record behind, and keyed by
    // the core count so runs at different core counts do not overwrite
    // each other. Best-effort: a read-only cwd must not fail the bench.
    try {
      val detail = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", s"bench_detail_c$cpus.json"))
      store.GraphStore.writeJsonAtomic(detail, fullLine + "\n")
      System.err.println(s"[bench] per-query detail -> $detail")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] detail file write failed (non-fatal): $e")
    }
    // A caller that keeps only the last 2,000 characters of stdout never
    // sees the full line whole. This line carries every query's best
    // time, values only, in the sorted-name order of the full line's
    // `queries` map (-1.000 = failed): 118 values take about 750 B, so it
    // and the trailer below always survive the tail.
    println(s"""{"metric":"per_query","order":"sorted_names","values":${results.map(r => fmt(r._2)).mkString("[", ",", "]")}}""")
    // tail-truncation insurance: the full line above exceeds the driver's
    // ~4 KB tail window once per-query maps grow, and round 6 lost its
    // headline number exactly that way ("parsed": null). This compact
    // trailer always fits, so the round record always carries the total.
    println(s"""{"metric":"total_compact","value":${fmt(total)},"unit":"sec","n_queries":${results.length},"failed":${results.count(_._2 < 0)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
