package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adversarial-skew receipt for the graph hop join (the `getTargets`
  * plan fragment, graft/graph/GraphQueries.hop): ONE hot node owns 50%
  * of all edges, and the frontier is LARGE — too big to broadcast — so
  * the semi join must shuffle on `src` and the hot key lands on one
  * task. This is the shape a 1000-executor hop over a power-law graph
  * actually hits (the declared queries g2/gq2 never do: their frontiers
  * are small and broadcast, so scan-side skew rides file-split
  * parallelism and never concentrates).
  *
  * Measures the hop at n and Kn edges, twice each:
  *  - `aqe`: the production plan — AQE skew-join splits the hot
  *    partition at runtime (spark.sql.adaptive.skewJoin, on by default).
  *  - `noaqe`: the same plan with skew handling OFF — the straggler
  *    floor, reported so the receipt quantifies what AQE buys.
  *
  * Emits one JSON line:
  *   {"metric":"skewed_hop", "base_aqe":…, "scaled_aqe":…, "ratio_aqe":…,
  *    "base_noaqe":…, …, "hot_share":0.5, "edges":n, "blowup":K}
  */
object SkewedHopRehearsal {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000000L
    val k = if (args.length > 1) args(1).toInt else 100
    val spark = graft.GraftSession(graft.GraftSession.cpus(32))

    // edge table shaped like the graph store's index ((src, kkind, key) →
    // dst): even rows all hang off the hot node 0, odd rows spread over
    // n/20 cold sources. dst ids are unique per edge.
    def edges(rows: Long): DataFrame =
      spark.range(rows).select(
        when(col("id") % 2 === 0, 0L)
          .otherwise(pmod(xxhash64(col("id")), lit(rows / 20L)) + 1L)
          .as("src"),
        lit("T").as("kkind"),
        (col("id") + 1000000000L).as("dst"))

    // frontier = every distinct source — millions of rows at the scaled
    // size, far past any broadcast threshold, forcing the shuffle join
    def frontier(rows: Long): DataFrame =
      spark.range(rows / 20L + 1L).select(col("id"))

    def hop(e: DataFrame, f: DataFrame): DataFrame =
      e.join(f, e("src") === f("id"), "left_semi")
        .select(col("dst").as("id")).distinct()

    def run(df: DataFrame): Long = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1000000L
    }
    def fmt(ms: Long): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(ms / 1e3))

    def timeHop(rows: Long, skewJoin: Boolean): Long = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
      // forbid the broadcast fallback so the measurement is the shuffle
      // join the large-frontier hop actually runs (AQE would otherwise
      // broadcast the base-size frontier and hide the skew entirely)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val times = (1 to 2).map { _ => run(hop(edges(rows), frontier(rows))) }
      times.min
    }

    // warm up codegen/JIT on a small instance
    timeHop(100000L, skewJoin = true)

    val baseAqe = timeHop(n, skewJoin = true)
    val scaledAqe = timeHop(n * k, skewJoin = true)
    val baseNo = timeHop(n, skewJoin = false)
    val scaledNo = timeHop(n * k, skewJoin = false)

    def ratio(b: Long, s: Long): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(s.toDouble / b))
    println(s"""{"metric":"skewed_hop","base_aqe":${fmt(baseAqe)},""" +
      s""""scaled_aqe":${fmt(scaledAqe)},"ratio_aqe":${ratio(baseAqe, scaledAqe)},""" +
      s""""base_noaqe":${fmt(baseNo)},"scaled_noaqe":${fmt(scaledNo)},""" +
      s""""ratio_noaqe":${ratio(baseNo, scaledNo)},""" +
      s""""hot_share":0.5,"edges":$n,"blowup":$k,"unit":"sec"}""")
    spark.stop()
  }
}
