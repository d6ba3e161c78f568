package graft.graph

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.functions.Param

/** Immutable graph state as three DataFrames — the Spark mapping of the
  * reference's per-node `Refs` structure
  * (/root/reference/library/GraphDB/Graph.hs:27-34):
  *
  *  - `nodes(id, kind, value)`   ← `refsValue` (Graph.hs:29)
  *  - `edges(src, dst)`          ← `refsSources` reverse sets (Graph.hs:31);
  *                                  set semantics (addTarget is idempotent,
  *                                  GraphTests.hs:147-152)
  *  - `index(src, kkind, key, dst)` ← the `refsTargets` multimap
  *                                  (Graph.hs:30): one row per emitted key
  *
  * State transitions are whole-DataFrame transformations (union /
  * anti-join), mirroring the reference's own WAL-replay model where state =
  * checkpoint ⊕ replay(ops) (Persistent/Log.hs:38-52). Driver-issued op
  * batches carry driver-sized deltas: they enter plans as local relations,
  * and addTarget derives its index rows on the driver after one lookup job
  * ([[GraphState.withTargets]]).
  *
  * Each table is a materialized base plus a TAIL of rows appended on the
  * driver ([[GraphState.Table]]); readers see base ∪ tail as one
  * DataFrame, the tail entering the plan as one local relation scanned as
  * one partition. NewNode and AddTarget append to the tail and copy
  * nothing; a table materializes (through [[checkpointedSince]]) when its
  * tail would pass [[GraphState.TailBound]] rows, or when a run that is not
  * append-only (SetValue, RemoveTarget, RemoveNode, a bulk edge delta)
  * changes it. The tail is part of this immutable value, so an aborted
  * batch discards it with the rest of its local copy.
  *
  * Point reads ([[getValue]], [[getTargets]], [[targets]], [[sources]])
  * run one Spark job each and bind their ids by reference
  * ([[graft.functions.Param]]), so a read of a new id compiles no class.
  *
  * At 100 TB the bulk paths run as batch jobs: deltas arrive as DataFrames
  * (see [[GraphState.bulkLoad]], [[GraphState.withTargetsDF]]), index
  * derivation is a join + flatMap over the delta only, and the bulk-loaded
  * tables are partitioned by their join key (`src`) so chained hops don't
  * re-shuffle.
  */
object GraphState {

  val edgesSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  val indexSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("kkind", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  def nodesSchema(model: GraphModel[_]): StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("value", model.valueSchema, nullable = true)))

  /** Most rows a table's tail holds: an append that would pass it
    * materializes the table instead. Reads filter the tail on the driver
    * (the optimizer evaluates a filter over a local relation in place), so
    * the bound keeps that work and the plan's size small.
    */
  private[graft] val TailBound = 1024

  /** One table of a state: a base plan plus the rows appended to it on the
    * driver since it last materialized. `df` is base ∪ tail; the tail
    * enters it as ONE local relation, scanned as one partition.
    */
  final class Table private[GraphState] (
      val base: DataFrame, val tail: Vector[Row], schema: StructType) {

    lazy val df: DataFrame = withTail(_.coalesce(1))

    private def withTail(scan: DataFrame => DataFrame): DataFrame =
      if (tail.isEmpty) base
      else base.unionByName(scan(base.sparkSession.createDataFrame(tail.asJava, schema)))

    private[GraphState] def appended(rows: Seq[Row]): Table =
      if (rows.isEmpty) this else new Table(base, tail ++ rows, schema)

    /** A change that is not an append: `plan` becomes the base, to be
      * materialized by the next [[GraphState.checkpointedSince]].
      */
    private[GraphState] def replaced(plan: DataFrame): Table =
      new Table(plan, Vector.empty, schema)

    /** Base ∪ tail as a new materialized base, coalesced to `partitions`.
      * The tail is scanned in parallel here, not as one partition: one
      * batch past the bound (a bulk replay) must not shrink the table to a
      * single partition.
      */
    private[GraphState] def materialized(partitions: Option[Int]): Table =
      replaced(partitions.fold(df)(withTail(identity).coalesce).localCheckpoint(true))
  }

  def apply[V](spark: SparkSession, model: GraphModel[V],
      nodes: DataFrame, edges: DataFrame, index: DataFrame): GraphState[V] =
    GraphState(spark, model,
      new Table(nodes, Vector.empty, nodesSchema(model)),
      new Table(edges, Vector.empty, edgesSchema),
      new Table(index, Vector.empty, indexSchema))

  def empty[V](spark: SparkSession, model: GraphModel[V]): GraphState[V] = {
    def e(s: StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    GraphState(spark, model, e(nodesSchema(model)), e(edgesSchema), e(indexSchema))
  }

  /** One-shot distributed load — the 100 TB ingest path. Index entries are
    * derived in a single pass: edges ⋈ nodes(dst) ⋈ nodes(src) → flatMap
    * over the model's key emission (the reference does the same work
    * edge-at-a-time in `addTarget`, Graph.hs:57-61).
    *
    * The three tables materialize CONCURRENTLY (independent jobs submitted
    * from separate threads — Spark's scheduler interleaves them): the
    * wall-clock of the load is max(nodes, edges, index) instead of their
    * sum. Each job scans the ingest input independently, trading one extra
    * read for full overlap — on a cluster the scans are the same parquet
    * splits server-side cached anyway.
    */
  def bulkLoad[V](
      spark: SparkSession,
      model: GraphModel[V],
      nodes: DataFrame,
      edges: DataFrame): GraphState[V] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val dedupEdges = edges.select(
      col("src").cast(LongType), col("dst").cast(LongType)).distinct()
    val nodesF = Future(nodes.localCheckpoint(true))
    val edgesF = Future(
      dedupEdges.repartition(col("src")).localCheckpoint(true))
    val indexF = Future(deriveIndex(model, nodes, dedupEdges)
      .repartition(col("src")).localCheckpoint(true))
    GraphState(spark, model,
      Await.result(nodesF, Duration.Inf),
      Await.result(edgesF, Duration.Inf),
      Await.result(indexF, Duration.Inf))
  }

  /** Index rows for an edge delta: one row per key the model emits for
    * (targetValue, sourceValue). Runs as a distributed join + flatMap.
    */
  private[graft] def deriveIndex[V](
      model: GraphModel[V], nodes: DataFrame, edgeDelta: DataFrame): DataFrame = {
    val dstVals = nodes.select(col("id").as("dst"),
      col("kind").as("_dk"), col("value").as("_dv"))
    val srcVals = nodes.select(col("id").as("src"),
      col("kind").as("_sk"), col("value").as("_sv"))
    edgeDelta
      .join(dstVals, "dst")
      .join(srcVals, "src")
      .flatMap { r =>
        val tgt = model.fromValueRow(r.getAs[String]("_dk"), r.getAs[Row]("_dv"))
        val src = model.fromValueRow(r.getAs[String]("_sk"), r.getAs[Row]("_sv"))
        val srcId = r.getAs[Long]("src")
        val dstId = r.getAs[Long]("dst")
        model.indexes(tgt, src).map(k => Row(srcId, k.kind, k.key, dstId))
      }(Encoders.row(indexSchema))
  }
}

final case class GraphState[V](
    spark: SparkSession,
    model: GraphModel[V],
    nodeTable: GraphState.Table,
    edgeTable: GraphState.Table,
    indexTable: GraphState.Table) {

  import GraphState._

  def nodes: DataFrame = nodeTable.df
  def edges: DataFrame = edgeTable.df
  def index: DataFrame = indexTable.df

  /** Driver-held rows as a local relation: they enter a plan as data (a
    * LocalTableScan), never as literals, so a plan's size and its generated
    * code do not depend on the ids a batch carries.
    */
  private def localDF(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Append freshly allocated nodes (op #1, Graph.hs:40-41). Unlinked nodes
    * are invisible to stats/persistence until an edge reaches them —
    * reachability scoping preserves the reference's "not persisted unless
    * linked" doc (GraphDB.hs:296-300).
    */
  def withNewNodes(vs: Seq[(Long, V)]): GraphState[V] = copy(nodeTable =
    nodeTable.appended(vs.map { case (id, v) => Row(id, model.kindOf(v), model.toValueRow(v)) }))

  /** addTarget (op #6, Graph.hs:57-61): idempotent edge insert + index key
    * emission for the new edges only — the driver-issued path, whose cost
    * follows the delta, not the tables.
    *
    * One lookup job fetches both things the delta needs: the endpoints'
    * `(id, kind, value)` rows, and the existing edges among those endpoints
    * (a superset of the requested pairs that already exist). The batch's
    * ids enter as ONE local relation, broadcast once and reused by all
    * three semi-joins. The edge and index deltas are then computed here,
    * the index rows by the model's own `indexes(target, source)` — the
    * function [[GraphState.deriveIndex]] runs on the executors for the
    * bulk paths — and appended to the tables' tails.
    *
    * Endpoint ids of new edges are validated: the reference errors on an
    * invalid node ref, and without the check a typo'd id would silently
    * create a phantom edge — counted by stats/reachability but invisible to
    * getTargets (no index keys for it), WAL-logged and replayed into every
    * follower, and persisted dangling by the checkpoint. NodeId is a plain
    * Long, so the typed API cannot make bad refs unrepresentable the way
    * the reference's model typeclass does — the apply must. An unknown id
    * raises IllegalArgumentException before any table changes.
    *
    * `validate = false` is for FOLLOWER replay (OplogStream): a follower
    * bootstrapped mid-history legitimately lacks nodes its WAL suffix
    * references (e.g. a checkpoint-less replica of an events-only store) —
    * the edge is still added, with no index rows for it. Tolerance there is
    * the documented eventual-consistency posture, while the WRITER session
    * path always validates (the reference server is what refuses invalid
    * refs).
    */
  def withTargets(pairs: Seq[(Long, Long)],
      validate: Boolean = true): GraphState[V] = {
    val wanted = pairs.distinct
    val ids = localDF(wanted.flatMap(p => Seq(p._1, p._2)).distinct.map(Row(_)),
      StructType(Seq(StructField("id", LongType, nullable = false))))
    def idsAs(c: String) = ids.select(col("id").as(c))
    val hits = nodes.join(ids, Seq("id"), "left_semi")
      .select(col("id"), lit(null).cast(LongType).as("dst"),
        col("kind"), col("value"))
      .unionByName(edges
        .join(idsAs("src"), Seq("src"), "left_semi")
        .join(idsAs("dst"), Seq("dst"), "left_semi")
        .select(col("src").as("id"), col("dst"),
          lit(null).cast(StringType).as("kind"),
          lit(null).cast(model.valueSchema).as("value")))
      .collect()
    val (nodeHits, edgeHits) = hits.partition(_.isNullAt(1))
    val present = edgeHits.map(r => (r.getLong(0), r.getLong(1))).toSet
    val delta = wanted.filterNot(present)
    if (delta.isEmpty) return this
    val known: Map[Long, V] = nodeHits.map(r =>
      r.getLong(0) -> model.fromValueRow(r.getString(2), r.getStruct(3))).toMap
    if (validate) for ((s, d) <- delta; (side, id) <- Seq("src" -> s, "dst" -> d)
        if !known.contains(id))
      throw new IllegalArgumentException(
        s"addTarget $side references unknown node id $id — nodes must be created first")
    val newIndex = delta.flatMap { case (s, d) =>
      (known.get(d), known.get(s)) match {
        case (Some(tgt), Some(src)) =>
          model.indexes(tgt, src).map(k => Row(s, k.kind, k.key, d))
        case _ => Nil
      }
    }
    copy(
      edgeTable = edgeTable.appended(delta.map(p => Row(p._1, p._2))),
      indexTable = indexTable.appended(newIndex))
  }

  /** In-plan endpoint validation for the bulk path: any edge whose src/dst
    * is not a known node id raises at execution time. Two left joins
    * against the node id set + a null check — at ingest scale that is two
    * hash joins on a bigint key, map-side combined by AQE when the node
    * table broadcasts.
    */
  private def guardEndpoints(delta: DataFrame): DataFrame = {
    def guard(side: String) = {
      val known = nodes.select(col("id").as(side), lit(true).as("_k" + side))
      (known, when(col("_k" + side).isNull,
        raise_error(concat(
          lit(s"addTarget $side references unknown node id "),
          col(side).cast("string"),
          lit(" — nodes must be created first"))).cast(LongType))
        .otherwise(col(side)).as(side))
    }
    val (kSrc, srcCol) = guard("src")
    val (kDst, dstCol) = guard("dst")
    delta
      .join(kSrc, Seq("src"), "left")
      .join(kDst, Seq("dst"), "left")
      .select(srcCol, dstCol)
  }

  /** addTarget in bulk from a DataFrame delta — the distributed form of
    * [[withTargets]] for ingest volumes that must never touch the driver.
    * Same semantics: idempotent (anti-join pre-filter), index keys derived
    * for the new edges only. UNLIKE the driver-op path, endpoint ids are
    * NOT validated here — a 10^9-edge ingest pays for no per-edge guard;
    * the bulk caller owns referential integrity (documented contract), and
    * edges referencing unknown ids simply emit no index rows.
    */
  def withTargetsDF(delta: DataFrame): GraphState[V] = {
    val d = delta
      .select(col("src").cast(LongType), col("dst").cast(LongType))
      .distinct()
      .join(edges, Seq("src", "dst"), "left_anti")
    copy(
      edgeTable = edgeTable.replaced(edges.unionByName(d)),
      indexTable = indexTable.replaced(index.unionByName(deriveIndex(model, nodes, d))))
  }

  /** [[withTargetsDF]] WITH the writer-path endpoint guard: every edge
    * endpoint is validated in-plan against the node set (unknown id →
    * raise_error at execution). The unguarded default stays the
    * contract for trusted re-ingest (replay, replication, ETL whose
    * upstream already joined against nodes); this variant is for
    * untrusted bulk input, and its cost is a measured tradeoff — two
    * extra hash joins on the edge delta, ~1.2× end-to-end at 50M edges
    * (SCALE_r13 bulk_ingest_guard receipt) — not an assertion.
    */
  def withTargetsDFGuarded(delta: DataFrame): GraphState[V] = {
    val d = guardEndpoints(delta
      .select(col("src").cast(LongType), col("dst").cast(LongType))
      .distinct()
      .join(edges, Seq("src", "dst"), "left_anti"))
    copy(
      edgeTable = edgeTable.replaced(edges.unionByName(d)),
      indexTable = indexTable.replaced(index.unionByName(deriveIndex(model, nodes, d))))
  }

  /** removeTarget (op #7, Graph.hs:63-67): unlink + drop the edge's keys. */
  def withoutTargets(pairs: Seq[(Long, Long)]): GraphState[V] = {
    val delta = localDF(pairs.map(p => Row(p._1, p._2)), edgesSchema)
    copy(
      edgeTable = edgeTable.replaced(edges.join(delta, Seq("src", "dst"), "left_anti")),
      indexTable = indexTable.replaced(index.join(delta, Seq("src", "dst"), "left_anti")))
  }

  /** remove (op #8, Graph.hs:126-127): detach from ALL sources — incoming
    * edges and their index entries die; outgoing edges remain until the
    * orphaned subgraph is vacuumed at checkpoint (reachability scoping,
    * Graph.hs:145-195).
    */
  def withoutNodes(ids: Seq[Long]): GraphState[V] = {
    val delta = localDF(ids.map(Row(_)), StructType(Seq(
      StructField("dst", LongType, nullable = false))))
    copy(
      edgeTable = edgeTable.replaced(edges.join(delta, Seq("dst"), "left_anti")),
      indexTable = indexTable.replaced(index.join(delta, Seq("dst"), "left_anti")))
  }

  /** setValue (op #3, Graph.hs:46-55): replace the value and re-derive the
    * index entries of all INCOMING edges (keys are functions of the target
    * value — outgoing entries keep their keys, mirroring the reference).
    */
  def withValues(vs: Seq[(Long, V)]): GraphState[V] = {
    val rows = vs.map { case (id, v) => Row(id, model.kindOf(v), model.toValueRow(v)) }
    val delta = localDF(rows, nodesSchema(model))
    // the reference errors on an invalid node ref; without this check a
    // typo'd id would silently FABRICATE a node row (and its WAL'd 'set'
    // op would replay the phantom into every follower). The check is IN
    // THE PLAN (raise_error fused into the delta's kind column), not an
    // eager anti-join count(): the eager form ran one extra distributed
    // job per SetValue batch on the session, replay, AND follower paths.
    // It fires on materialization — immediate in practice, because every
    // session-path withValues is followed by checkpointedSince(), which
    // materializes the changed nodes table eagerly, all columns (so
    // pruning cannot elide it).
    val known = nodes.select(col("id"), lit(true).as("_known"))
    val checked = delta
      .join(known, Seq("id"), "left")
      .select(col("id"),
        when(col("_known").isNull,
          raise_error(concat(
            lit("setValue on unknown node id "), col("id").cast("string"),
            lit(" — nodes must be created first"))).cast(StringType))
          .otherwise(col("kind")).as("kind"),
        col("value"))
    val newNodes = nodes
      .join(delta.select(col("id")), Seq("id"), "left_anti")
      .unionByName(checked)
    val touched = delta.select(col("id").as("dst"))
    val incoming = edges.join(touched, Seq("dst"))
    copy(
      nodeTable = nodeTable.replaced(newNodes),
      indexTable = indexTable.replaced(index.join(touched, Seq("dst"), "left_anti")
        .unionByName(deriveIndex(model, newNodes, incoming))))
  }

  /** Materialize all three tables as they are — for state just loaded from
    * a checkpoint, whose files a later close() may move to the archive.
    */
  def checkpointed(): GraphState[V] = copy(
    nodeTable = nodeTable.materialized(None),
    edgeTable = edgeTable.materialized(None),
    indexTable = indexTable.materialized(None))

  /** The checkpoint rule of every op applier: settle the tables this state
    * changed against `prev` (the state the step started from) and keep the
    * others as they are. A table that only gained tail rows stays as it is
    * while its tail holds at most [[GraphState.TailBound]] rows — no Spark
    * job. Past the bound, or after a change that is not an append, it
    * materializes: that truncates lineage (without it a long mutation
    * session accumulates an unbounded plan), and the table is coalesced
    * back to at most max(the partition count of `prev`'s base,
    * `spark.sql.shuffle.partitions`), so neither a stream of small deltas
    * nor the tail's own partition adds a task to every later scan of it.
    */
  def checkpointedSince(prev: GraphState[V]): GraphState[V] = {
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def settle(was: Table, now: Table): Table =
      if (now eq was) was
      else if ((now.base eq was.base) && now.tail.size <= TailBound) now
      else now.materialized(Some(math.max(partitions(was.base), shufflePartitions)))
    copy(
      nodeTable = settle(prev.nodeTable, nodeTable),
      edgeTable = settle(prev.edgeTable, edgeTable),
      indexTable = settle(prev.indexTable, indexTable))
  }

  /** Partition count of a table, read from its physical RDD: planning only,
    * no action (`Dataset.rdd` would register one).
    */
  private def partitions(df: DataFrame): Int =
    df.queryExecution.toRdd.getNumPartitions

  // ------------------------------------------------------------ point reads
  // One Spark job each: the filter is collected (`head()` would scan one
  // partition, then the rest, in two jobs) and ids are deduped on the
  // driver (a planned `distinct()` runs as a map job plus a result job
  // under AQE). Ids and keys bind as [[Param]]s, so every id shares one
  // generated class.

  /** getValue (op #2). Throws NoSuchElementException for an unknown id (the
    * reference's invalid-ref failure).
    */
  def getValue(n: Long): V = {
    val rows = nodes.where(col("id") === Param(n))
      .select(col("kind"), col("value")).collect()
    if (rows.isEmpty) throw new NoSuchElementException(s"no node with id $n")
    model.fromValueRow(rows(0).getString(0), rows(0).getStruct(1))
  }

  /** getTargets (op #5, Graph.hs:69-70): nodes reachable from `n` via
    * index key `k`. Distinct per key (the multimap holds a set per key).
    */
  def getTargets(n: Long, k: IndexKey): Seq[Long] = distinctIds(keyed(n, k))

  /** Dataset form of [[getTargets]] — the composable hop for analytics
    * plans, deduped in the plan.
    */
  def targetsDF(n: Long, k: IndexKey): DataFrame = keyed(n, k).distinct()

  /** Distinct targets regardless of key (traverseTargets, Graph.hs:72-77). */
  def targets(n: Long): Seq[Long] =
    distinctIds(edges.where(col("src") === Param(n)).select(col("dst")))

  /** Sources of a node (traverseSources/getSources, Graph.hs:79-80,135-139). */
  def sources(n: Long): Seq[Long] =
    distinctIds(edges.where(col("dst") === Param(n)).select(col("src")))

  private def keyed(n: Long, k: IndexKey): DataFrame =
    index.where(col("src") === Param(n) && col("kkind") === Param(k.kind) &&
        col("key") === Param(k.key))
      .select(col("dst"))

  private def distinctIds(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).distinct.toSeq

  /** getStats (op #9, Graph.hs:82-118): (reachable nodes, distinct edges
    * among them, index entries among them), scoped by BFS from `from`.
    * The three counts are independent jobs over the one materialized
    * reachable set — submitted concurrently so the stats wall-clock is
    * max(n, e, i), not their sum.
    */
  def stats(from: Long): (Long, Long, Long) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val reach = Reachability.reachable(edges, Seq(from)).select(col("id").as("src"))
    val n = Future(nodes.join(reach, nodes("id") === reach("src"), "left_semi").count())
    val e = Future(edges.join(reach, Seq("src"), "left_semi").count())
    val i = Future(index.join(reach, Seq("src"), "left_semi").count())
    (Await.result(n, Duration.Inf),
      Await.result(e, Duration.Inf),
      Await.result(i, Duration.Inf))
  }
}
