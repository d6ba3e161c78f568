package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds its Spark session. Every main and the spec
  * session go through it, so the settings below are the engine's
  * configuration and are written down only here.
  */
object GraftSession {

  /** The core count of a deployment: `SPARK_GRAFT_CPUS`, else `default`
    * (each main keeps its own default).
    */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** A local session on `cpus` cores (`getOrCreate`: a session that
    * already exists is reused, with the SQL settings below applied to it).
    */
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // one shuffle partition per core: at graft's table sizes the jobs
      // are bound by fixed per-task cost, not by data per task
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // timestamps render and truncate the same on every machine, as the
      // DuckDB oracle computes them
      .config("spark.sql.session.timeZone", "UTC")
      // probed-partition serving (px62/px63/px64): with the default
      // reuseBroadcastOnly=true the planner degrades the cells scan's
      // dynamicpruning filters to literal TRUE when it cannot reuse the
      // probe-side broadcast (measured: 484/484 files read at batch=1);
      // standalone DPP subqueries re-run only the tiny probes plan and
      // cut the scan to the probed cells (measured: 8/484 files)
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
        "false")
      // top-k serving: per-query ranking is a bounded
      // TypedImperativeAggregate (ObjectHashAggregateExec). The default
      // 128-distinct-keys sort-fallback is calibrated for unbounded
      // sketch buffers; TopKEntries buffers are ≤ k·33 B, so hash-agg a
      // ≤ 1M-query batch per task (≤ ~400 MB at serving k ≤ 10) before
      // falling back. Scale-independent: bounds memory by BATCH size,
      // not corpus size.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 20).toString)
      // no web UI: nothing serves it, and it costs a port and a thread pool
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // warnings and errors only: INFO lines would bury a tool's own output
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
