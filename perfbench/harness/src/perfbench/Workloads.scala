package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One closed-loop client per workload: every call waits for its reply
  * before the next one is issued.
  *  - `prepare` is the system's set-up (index build, store preload,
  *    warm-up); each call sets up afresh, and the loop runs against the
  *    last one.
  *  - `warm` issues untimed requests before the loop.
  *  - `loop` issues requests for `seconds` and returns its wall time in ms.
  *  - `finish` runs the checks that follow the loop and returns the facts
  *    measured there.
  */
trait Workload {
  def prepare(rep: Int): Unit
  /** How many times a run sets up; the median is reported. */
  def setupReps: Int = 3
  /** Untimed requests between the set-up and the loop, recorded apart. */
  def warm(rec: Recorder): Unit = ()
  def loop(rec: Recorder, seconds: Double): Double
  def finish(): Map[String, Any] = Map.empty
}

object Workloads {
  def deadline(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong

  /** Catalyst phases the client's DataFrame went through while it was
    * built (the action may plan it again under its own execution).
    */
  def notePlan(u: Recorder.UnitRec, df: DataFrame): Unit = {
    u.planPhases = df.queryExecution.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs, p.endTimeMs) }
    u.extra("qe") = df.queryExecution.id
  }
}

// ---------------------------------------------------------------- suite_sweep

/** A fixed set of registered declared queries (`queries.txt`), the same
  * in every run so runs differ only in order: each pass takes the set in
  * a seeded order. The client runs whole passes until the time is up,
  * and starts another only when it should end in time.
  * Each query is built, then run to the `noop` sink with an order-free
  * fingerprint (row count, sum of row hashes) observed on the same action.
  */
final class SuiteSweep(spark: SparkSession, data: String, seed: Long,
    queries: Seq[String], warmup: Seq[String]) extends Workload {
  private val registry: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries
  private val layerOf: Map[String, String] =
    (graft.queries.Declared.all.map(_.name -> "queries") ++
      graft.pipeline.PipelineQueries.all.map(_.name -> "pipeline") ++
      graft.graph.GraphQueries.all.map(_.name -> "graph") ++
      graft.analytics.AnalyticsQueries.all.map(_.name -> "analytics")).toMap
  require(queries.forall(registry.contains),
    s"unknown queries: ${queries.filterNot(registry.contains).mkString(" ")}")

  // the system keeps its artifacts per JVM and data path, so a second
  // set-up in the same JVM would not be a cold one
  override def setupReps: Int = 1

  def prepare(rep: Int): Unit = {
    // warm-up as graft.Bench, plus the queries whose first run builds an
    // artifact shared with other queries, so no timed query pays for
    // another's build
    noop(graft.Tables.load(spark, data, "lineitem").groupBy("l_returnflag").count())
    warmup.foreach(n => noop(registry(n)(spark, data)))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val rnd = new Random(seed)

  def loop(rec: Recorder, seconds: Double): Double = {
    val t0 = System.nanoTime()
    var lastPass = 0L
    while (System.nanoTime() - t0 + lastPass <= seconds * 1e9) {
      val p0 = System.nanoTime()
      rnd.shuffle(queries).foreach(query(rec, _))
      lastPass = System.nanoTime() - p0
    }
    (System.nanoTime() - t0) / 1e6
  }

  private def query(rec: Recorder, name: String): Unit =
    rec.unit(name, layerOf(name), "query") { u =>
      val df = rec.phase(u, "build")(registry(name)(spark, data))
      Workloads.notePlan(u, df)
      val obs = Observation(s"fp${u.idx}")
      rec.phase(u, "action")(noop(SuiteSweep.observed(df, obs)))
      val r = obs.get
      u.extra("rows") = r("rows").asInstanceOf[Long]
      u.extra("hash_sum") = r("hash_sum").asInstanceOf[Long]
    }
}

object SuiteSweep {
  /** Floating-point columns enter the hash at 6 significant digits, so a
    * different summation order cannot change the fingerprint; maps enter
    * as JSON, which `hash` accepts.
    */
  def normalized(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    val c = col(s"`${f.name}`")
    f.dataType match {
      case DoubleType | FloatType => format_string("%.6g", c.cast(DoubleType))
      case _: MapType => to_json(c)
      case _ => c
    }
  }

  def observed(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(hash(normalized(df): _*).cast(LongType)), lit(0L)).as("hash_sum"))
}

// ------------------------------------------------------------------ graph_txn

/** A durable store with a synchronous WAL over the geo model, preloaded
  * with root → 5 regions → 25 nations → customers. Each cycle is one write
  * transaction (a new customer under a seeded nation, then commit) and four
  * reads on the same session (a node's value, then the three hops root →
  * region → nations → customers, the first of which is the lookup by
  * region name), each checked against a model of the writes the store has
  * acknowledged. After the loop the store
  * directory is copied without closing it (WAL only, no checkpoint) and
  * the copy is reopened: every acknowledged node and edge must be there.
  */
final class GraphTxn(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  import graft.graph.GraphQueries.{CustomerV, GeoModel, GeoRoot, GeoV, NationV, RegionV}
  import graft.graph.IndexKey
  import graft.store.GraphStore
  private var dir = ""
  private var store: GraphStore[GeoV] = _
  // the acknowledged state: node values and edges
  private val values = scala.collection.mutable.Map.empty[Long, GeoV]
  private val edges = scala.collection.mutable.Set.empty[(Long, Long)]
  private val regionIds = scala.collection.mutable.Map.empty[String, Long]
  private val nationsOf = scala.collection.mutable.Map.empty[Long, Vector[Long]]
  private val customersOf = scala.collection.mutable.Map.empty[Long, Set[Long]]

  def prepare(rep: Int): Unit = {
    dir = s"$work/store-$rep"
    Seq(values, edges, regionIds, nationsOf, customersOf).foreach(_.clear())
    store = GraphStore.open(spark, GeoModel, GeoRoot: GeoV, dir)
    val s = store.session
    values(s.root) = GeoRoot
    val load = (t: String) => graft.Tables.load(spark, data, t).collect()
    val nationByKey = scala.collection.mutable.Map.empty[Int, Long]
    val regionByKey = load("region").map { r =>
      val id = s.newNode(RegionV(r.getString(1)))
      values(id) = RegionV(r.getString(1))
      regionIds(r.getString(1)) = id
      link(s.root, id)
      r.getInt(0) -> id
    }.toMap
    load("nation").foreach { r =>
      val id = s.newNode(NationV(r.getString(1)))
      values(id) = NationV(r.getString(1))
      nationByKey(r.getInt(0)) = id
      link(regionByKey(r.getInt(2)), id)
    }
    load("customer").foreach { r =>
      val id = s.newNode(CustomerV(r.getLong(0)))
      values(id) = CustomerV(r.getLong(0))
      link(nationByKey(r.getInt(2)), id)
    }
    store.commit()
    // warm the read and write paths once
    s.getValue(regionByKey(0))
    s.getTargets(s.root, IndexKey("Region_Name", "ASIA"))
  }

  private def link(src: Long, dst: Long): Unit = {
    store.session.addTarget(src, dst)
    edges += (src -> dst)
    values(src) match {
      case RegionV(_) => nationsOf(src) = nationsOf.getOrElse(src, Vector.empty) :+ dst
      case NationV(_) => customersOf(src) = customersOf.getOrElse(src, Set.empty) + dst
      case _ =>
    }
  }

  private def walBytes(): Long = {
    val root = java.nio.file.Paths.get(dir)
    val w = java.nio.file.Files.walk(root)
    try w.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        root.relativize(p).toString.split("/").head.endsWith(".events"))
      .map(java.nio.file.Files.size).sum
    finally w.close()
  }

  private val rnd = new Random(seed)
  private var wal0 = 0L
  private var writes = 0
  private var i = 0

  /** Four untimed cycles, so the timed ones run on a warm JIT and a store
    * past its first commits: the CPU time of a cycle falls by about a
    * quarter over the first four cycles of a run. */
  override def warm(rec: Recorder): Unit = (1 to 4).foreach(_ => cycle(rec))

  def loop(rec: Recorder, seconds: Double): Double = {
    wal0 = walBytes()
    writes = 0
    val end = Workloads.deadline(seconds)
    val t0 = System.nanoTime()
    while (System.nanoTime() < end) cycle(rec)
    (System.nanoTime() - t0) / 1e6
  }

  private def cycle(rec: Recorder): Unit = {
    val s = store.session
    val regions = regionIds.keys.toVector.sorted
    val nations = nationsOf.values.flatten.toVector.sorted
    i += 1
    // write: one new customer under a seeded nation
    val nation = nations(rnd.nextInt(nations.size))
    val value = CustomerV(10000000L + seed * 100000L + i)
    rec.unit("insert", "store", "write") { u =>
      val id = rec.phase(u, "ops") {
        val id = s.newNode(value)
        s.addTarget(nation, id)
        id
      }
      rec.phase(u, "commit")(store.commit())
      values(id) = value
      edges += (nation -> id)
      customersOf(nation) = customersOf(nation) + id
      writes += 1
    }
    // read 1: a seeded existing node's value
    val node = values.keys.toVector(rnd.nextInt(values.size))
    rec.unit("get_value", "graph", "read") { u =>
      val v = rec.phase(u, "read")(s.getValue(node))
      if (v != values(node)) u.wrong = s"node $node: $v, want ${values(node)}"
    }
    // reads 2-4: the three hops root → region → nations → customers,
    // one getTargets call each; the first is the lookup by region name,
    // and each later hop starts from a node of the previous (checked)
    // answer. Five operations a cycle, an odd number of kinds of unlike
    // latency, put the median inside one kind rather than between two.
    val region = regions(rnd.nextInt(regions.size))
    val pick = rnd.nextInt(5)
    val r = regionIds(region)
    rec.unit("lookup_by_name", "graph", "read") { u =>
      val got = rec.phase(u, "read")(s.getTargets(s.root, IndexKey("Region_Name", region)))
      if (got != Seq(r)) u.wrong = s"region $region: $got"
    }
    val want = nationsOf(r).sorted
    rec.unit("hop_nations", "graph", "read") { u =>
      val got = rec.phase(u, "read")(s.getTargets(r, IndexKey("Nation"))).sorted
      if (got != want) u.wrong = s"nations of $region: $got, want $want"
    }
    rec.unit("hop_customers", "graph", "read") { u =>
      val got = rec.phase(u, "read")(s.getTargets(want(pick), IndexKey("Nation_Customer")))
      if (got.toSet != customersOf(want(pick)) || got.size != got.toSet.size)
        u.wrong = s"customers of nation ${want(pick)}: ${got.size}, " +
          s"want ${customersOf(want(pick)).size}"
    }
  }

  override def finish(): Map[String, Any] = {
    val walPerOp = (walBytes() - wal0).toDouble / math.max(writes, 1)
    // recovery: copy the live directory (no close, so no checkpoint) and
    // reopen the copy from its WAL
    val copy = s"$work/store_copy"
    DirTree.copy(dir, copy, skip = Set("lock"))
    val r0 = System.nanoTime()
    val reopened = GraphStore.open(spark, GeoModel, GeoRoot: GeoV, copy)
    val st = reopened.session.applied()
    val gotEdges = st.edges.select("src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val gotNodes = st.nodes.select("id", "kind", "value").collect()
      .map(r => r.getLong(0) -> GeoModel.fromValueRow(r.getString(1), r.getStruct(2))).toMap
    val recoverMs = (System.nanoTime() - r0) / 1e6
    val missingNodes = values.count { case (id, v) => !gotNodes.get(id).contains(v) }
    val missingEdges = edges.count(e => !gotEdges(e))
    Map("wal_bytes_per_op" -> walPerOp, "recover_ms" -> recoverMs,
      "writes" -> writes, "recovered_nodes" -> gotNodes.size,
      "recovery_missing_nodes" -> missingNodes, "recovery_missing_edges" -> missingEdges,
      "recovery_ok" -> (missingNodes == 0 && missingEdges == 0))
  }
}

object DirTree {
  def copy(from: String, to: String, skip: Set[String]): Unit = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val w = Files.walk(src)
    try w.iterator().asScala.foreach { p =>
      val rel = src.relativize(p)
      if (!skip(rel.toString)) {
        val t = dst.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    } finally w.close()
  }

  def delete(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
  }
}
