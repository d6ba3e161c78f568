package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM: session start, the workload's set-up, the
  * timed closed loop, then a raw record of every unit (and, when traced,
  * every job, stage and query execution) written as JSON to `--out`.
  * `perfbench/run.py` turns the record into metrics. A traced run attaches
  * the listeners for the whole loop.
  *
  * Usage: Main --workload suite_sweep|graph_txn --seed N --seconds S
  *             --trace 0|1 --out FILE --work DIR --data DIR --bench DIR
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val cpus = math.min(Runtime.getRuntime.availableProcessors(), 4)

    DirTree.delete(work)
    Files.createDirectories(Paths.get(work))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.build(cpus, work)
    val sessionMs = (System.currentTimeMillis() - jvmStart).toDouble

    def lines(f: String): Seq[String] =
      Files.readAllLines(Paths.get(opt("bench"), f)).toArray.toSeq.map(_.toString.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
    val data = opt("data")
    val w: Workload = workload match {
      case "suite_sweep" => new SuiteSweep(spark, data, seed, lines("queries.txt"),
        lines("warmup.txt"))
      case "graph_txn" => new GraphTxn(spark, data, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set up several times (when that is cheap) and keep the median
    val prepareMs = (1 to w.setupReps).map { rep =>
      val t0 = System.nanoTime()
      w.prepare(rep)
      (System.nanoTime() - t0) / 1e6
    }

    val warmRec = new Recorder(spark, "perfbench-warm")
    w.warm(warmRec)
    val rec = new Recorder(spark)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val cpu0 = CpuStat.read()
    val proc0 = Recorder.processCpuNs()
    val loopMs = w.loop(rec, seconds)
    val loopCpuMs = (Recorder.processCpuNs() - proc0) / 1e6
    val cpu1 = CpuStat.read()
    tracer.foreach(_.settle())
    val extra = w.finish()

    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val out = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "traced" -> traced,
      "session_ms" -> sessionMs, "prepare_ms" -> prepareMs,
      "loop_ms" -> loopMs, "loop_cpu_ms" -> loopCpuMs, "heap_live_mb" -> heapMb,
      "cpu_steal_frac" -> CpuStat.stealFrac(cpu0, cpu1),
      "warmup_units" -> warmRec.units.size,
      "warmup_failed" -> warmRec.units.count(u => u.error != null || u.wrong != null),
      "extra" -> extra, "units" -> rec.json,
      "trace" -> tracer.map(_.json).orNull)
    Files.writeString(Paths.get(opt("out")), Recorder.toJson(out))
    spark.stop()
  }
}

/** The machine's CPU time counters from /proc/stat, to tell how much of the
  * loop's time a virtual machine's CPUs were taken by its host (steal).
  */
object CpuStat {
  /** (steal, total) jiffies over all CPUs, when /proc/stat is readable. */
  def read(): Option[(Long, Long)] = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    // cpu user nice system idle iowait irq softirq steal ...
    val v = f.slice(1, 9).map(_.toLong)
    (v(7), v.sum)
  }.toOption

  def stealFrac(a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[Double] =
    for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0)
}
