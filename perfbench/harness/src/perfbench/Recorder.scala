package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Times the benchmark's own calls into the system under test. A unit is
  * one query, request or operation; its phases are the calls the client
  * makes (the DataFrame-building call, the action, a commit, a read). Each
  * unit runs under its own Spark job group, so a traced run can tie every
  * job to the unit that caused it. Codegen compile counts and time come
  * from Spark's process-wide counters, and CPU time from the JVM's, read
  * before and after the unit.
  * `prefix` names the job groups, so units of two recorders never share one.
  */
final class Recorder(spark: SparkSession, prefix: String = "perfbench") {
  import Recorder._

  val units = ArrayBuffer.empty[UnitRec]

  /** Runs `body` as one unit. A throwing body marks the unit failed and
    * yields None; a body that sets `wrong` marks its output wrong.
    */
  def unit[T](name: String, layer: String, kind: String)(body: UnitRec => T): Option[T] = {
    val u = new UnitRec(s"$prefix-${units.size}", units.size, name, layer, kind)
    units += u
    val sc = spark.sparkContext
    sc.setJobGroup(u.group, name, interruptOnCancel = false)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = CodeGenerator.compileTime
    u.startMs = System.currentTimeMillis()
    val cpu0 = processCpuNs()
    val n0 = System.nanoTime()
    val out =
      try Some(body(u))
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          u.error = Option(e.getMessage).getOrElse(e.toString).linesIterator
            .nextOption().getOrElse("").take(300)
          None
      }
    u.ns = System.nanoTime() - n0
    u.cpuNs = processCpuNs() - cpu0
    u.endMs = System.currentTimeMillis()
    u.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    u.compileNs = CodeGenerator.compileTime - t0
    sc.clearJobGroup()
    out
  }

  /** Times one call inside a unit. */
  def phase[T](u: UnitRec, name: String)(body: => T): T = {
    val startMs = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally u.phases += Phase(name, startMs, System.currentTimeMillis(),
      System.nanoTime() - n0)
  }

  def json: Seq[Any] = units.toSeq.map(_.json)
}

object Recorder {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (every thread, GC and JIT included). */
  def processCpuNs(): Long = os.getProcessCpuTime

  final case class Phase(name: String, startMs: Long, endMs: Long, ns: Long)

  final class UnitRec(val group: String, val idx: Int, val name: String,
      val layer: String, val kind: String) {
    var startMs = 0L
    var endMs = 0L
    var ns = 0L
    var cpuNs = 0L
    var compiles = 0L
    var compileNs = 0L
    var error: String = null
    /** Why the output was judged wrong (null when it was right). */
    var wrong: String = null
    val phases = ArrayBuffer.empty[Phase]
    /** Catalyst phases of plans the client built but never ran itself. */
    var planPhases: Map[String, (Long, Long)] = Map.empty
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    def json: Map[String, Any] = Map(
      "idx" -> idx, "name" -> name, "layer" -> layer, "kind" -> kind,
      "group" -> group, "start_ms" -> startMs, "end_ms" -> endMs,
      "ms" -> ns / 1e6, "cpu_ms" -> cpuNs / 1e6, "compiles" -> compiles,
      "compile_ms" -> compileNs / 1e6,
      "error" -> error, "wrong" -> wrong,
      "phases" -> phases.toSeq.map(p => Map("name" -> p.name,
        "start_ms" -> p.startMs, "end_ms" -> p.endMs, "ms" -> p.ns / 1e6)),
      "plan_phases" -> planPhases.map { case (k, (s, e)) =>
        k -> Seq(s, e) },
      "extra" -> extra.toMap)
  }

  /** Minimal JSON encoder for maps, sequences, strings, numbers, booleans. */
  def toJson(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => toJson(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => toJson(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + toJson(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(toJson).mkString("[", ",", "]")
    case a: Array[_] => toJson(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
