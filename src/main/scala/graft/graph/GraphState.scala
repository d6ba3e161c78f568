package graft.graph

import org.apache.spark.{BlockShim, HashPartitioner, Partitioner, TaskContext}
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, Encoders, GraftShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.RDDBlockId
import org.apache.spark.unsafe.types.UTF8String

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
  * and addTarget derives its index rows on the driver after one lookup
  * ([[GraphState.withTargets]]).
  *
  * Each table is a materialized base plus a TAIL of rows appended on the
  * driver ([[GraphState.Table]]), held in Catalyst's internal row form.
  * DataFrame readers (`nodes`, `edges`, `index`, [[targetsDF]], the bulk
  * paths) see base ∪ tail as one DataFrame, the tail entering the plan as
  * one local relation scanned as one partition. NewNode and AddTarget
  * append to the tail and copy nothing; a table materializes (through
  * [[checkpointedSince]]) when its tail would pass [[GraphState.TailBound]]
  * rows, or when a run that is not append-only (SetValue, RemoveTarget,
  * RemoveNode, a bulk edge delta) changes it. The tail is part of this
  * immutable value, so an aborted batch discards it with the rest of its
  * local copy.
  *
  * Point reads ([[getValue]], [[getValues]], [[getTargets]], [[targets]],
  * [[sources]]) and addTarget's lookup build no DataFrame. A materialized
  * base is KEYED: its physical rows are hash-partitioned by the table's
  * lookup key (nodes by `id`, edges and index by `src`), held as unsafe
  * rows by a local checkpoint, with the partitioner that placed them kept
  * beside them and carried through appends. A read is one row predicate
  * over the partitions that own its ids and over the tail ([[probe]]): a
  * single-id read scans one partition, whatever the partition count.
  * [[sources]] tests `dst`, which no base is keyed by, so it scans every
  * partition. A partition whose block the driver's own block manager
  * holds (every one, on `local[N]`) is scanned in place on the calling
  * thread, with no Spark job; the rest run as one Spark job. A read
  * makes no Catalyst pass and compiles no class, whatever its id — the
  * keyed vertex partitions of Pregelix (VLDB 2014), served where they
  * are kept, in place of the reference's per-node hash maps
  * (Graph.hs:27-34).
  *
  * Every function a read, a commit lookup or a materialization hands to
  * Spark is a named `Serializable` class ([[GraphState.KeepRows]],
  * [[GraphState.CollectRows]], [[GraphState.KeyRows]],
  * [[GraphState.DropKeys]]), never a Scala lambda. Spark's
  * `ClosureCleaner` reads and parses the class file that declares each
  * lambda it is given, on every call; a named class it passes over at
  * once. With lambdas, that parsing was most of a warm point read's
  * driver CPU. Serializability is still checked, when the scheduler
  * serializes the task.
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

  def nodesSchema(model: GraphModel[_]): StructType = nodesSchema(model.valueSchema)

  private def nodesSchema(value: DataType): StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("value", value, nullable = true)))

  /** Ordinals of the columns the point reads test in a table's physical
    * rows, which [[Planned]] and the tail hold in the schema's order.
    */
  private val NodeId = nodesSchema(NullType).fieldIndex("id")
  private val EdgeSrc = edgesSchema.fieldIndex("src")
  private val EdgeDst = edgesSchema.fieldIndex("dst")
  private val IndexSrc = indexSchema.fieldIndex("src")
  private val IndexKind = indexSchema.fieldIndex("kkind")
  private val IndexKeyAt = indexSchema.fieldIndex("key")
  private val IndexDst = indexSchema.fieldIndex("dst")

  /** Most rows a table's tail holds: an append that would pass it
    * materializes the table instead. Every point read and commit lookup
    * tests each tail row on the driver, and `df` carries the tail as one
    * local relation, so the bound keeps both small.
    */
  private[graft] val TailBound = 1024

  /** One table of a state: a base plan plus the rows appended to it on the
    * driver since it last materialized, held in Catalyst's internal row
    * form (converted once, at append). `df` is base ∪ tail; the tail
    * enters it as ONE local relation, scanned as one partition. `key` is
    * the ordinal of the column the point reads look rows up by: the
    * column a materialized base is hash-partitioned by.
    */
  final class Table private[GraphState] (
      val base: DataFrame, val tail: Vector[InternalRow], schema: StructType,
      private[graft] val key: Int, rows: Rows) {

    lazy val df: DataFrame = withTail(_.coalesce(1))

    private def withTail(scan: DataFrame => DataFrame): DataFrame =
      if (tail.isEmpty) base
      else base.unionByName(scan(GraftShim.localRelation(base.sparkSession, schema, tail)))

    /** The base's physical rows in `schema`'s column order, shared by
      * every table appended from it.
      */
    private[graft] def baseRows: RDD[InternalRow] = rows.rdd

    /** The partitioner that placed the base's rows by `key` when it
      * materialized; None for a base that has not (a bulk load, a loaded
      * checkpoint, a replaced plan).
      */
    private[graft] def partitioner: Option[Partitioner] = rows.partitioner

    private[GraphState] def appended(rows: Seq[Row]): Table =
      if (rows.isEmpty) this
      else {
        val internal = CatalystTypeConverters.createToCatalystConverter(schema)
        new Table(base, tail ++ rows.map(internal(_).asInstanceOf[InternalRow]), schema, key,
          this.rows)
      }

    /** A change that is not an append: `plan` becomes the base, to be
      * materialized by the next [[GraphState.checkpointedSince]].
      */
    private[GraphState] def replaced(plan: DataFrame): Table = Table(plan, schema, key)

    /** Base ∪ tail as a new keyed base: its physical rows hash-partitioned
      * by `key` into `partitions` partitions (a `HashPartitioner`, kept
      * beside the rows) and held by a local checkpoint, as unsafe rows in
      * `schema`'s order that a read scans with no projection. One job,
      * described [[GraphState.MaterializeJob]], runs the shuffle and
      * counts the rows; the count sizes the base's relation for the
      * DataFrame readers. The tail is scanned in parallel here, not as
      * one partition.
      */
    private[GraphState] def materialized(partitions: Int): Table = {
      val part = new HashPartitioner(partitions)
      val keyed = physical(withTail(identity), schema)
        .map(new KeyRows(key))
        .partitionBy(part)
        .mapPartitions(DropKeys, preservesPartitioning = true)
        .localCheckpoint()
      val sc = base.sparkSession.sparkContext
      val description = sc.getLocalProperty(JobDescription)
      sc.setLocalProperty(JobDescription, MaterializeJob)
      val count = try keyed.count() finally sc.setLocalProperty(JobDescription, description)
      new Table(GraftShim.rddRelation(base.sparkSession, schema, keyed, count), Vector.empty,
        schema, key, new Rows(keyed, Some(part)))
    }
  }

  private object Table {
    def apply(base: DataFrame, schema: StructType, key: Int): Table =
      new Table(base, Vector.empty, schema, key, new Rows(physical(base, schema), None))
  }

  /** A base's physical rows, computed on first use, and the partitioner
    * that placed them, if any.
    */
  private final class Rows(plan: => RDD[InternalRow], val partitioner: Option[Partitioner]) {
    lazy val rdd: RDD[InternalRow] = plan
  }

  /** `df`'s physical rows in `schema`'s column order: its plan run through
    * Catalyst once.
    */
  private def physical(df: DataFrame, schema: StructType): RDD[InternalRow] =
    df.select(schema.fieldNames.toIndexedSeq.map(col): _*).queryExecution.toRdd

  private val JobDescription = "spark.job.description"

  /** The `spark.job.description` of the job that materializes a table. */
  private[graft] val MaterializeJob = "graft: materialize a keyed base"

  /** A row's lookup key beside a copy of the row: the pairs a keyed base
    * is shuffled by.
    */
  private final class KeyRows(key: Int)
      extends (InternalRow => (Long, InternalRow)) with Serializable {
    def apply(r: InternalRow): (Long, InternalRow) = (r.getLong(key), r.copy())
  }

  /** The rows of a partition of shuffled `(key, row)` pairs. */
  private object DropKeys
      extends (Iterator[(Long, InternalRow)] => Iterator[InternalRow]) with Serializable {
    def apply(pairs: Iterator[(Long, InternalRow)]): Iterator[InternalRow] = pairs.map(_._2)
  }

  /** A lookup of a [[GraphState.probe]] over one base partition: the rows
    * that pass `keep`, copied off the scan's reused buffers.
    */
  private[graft] final class KeepRows(keep: InternalRow => Boolean)
      extends (Iterator[InternalRow] => Iterator[InternalRow]) with Serializable {
    def apply(rows: Iterator[InternalRow]): Iterator[InternalRow] = rows.filter(keep).map(_.copy())
  }

  /** The task function of a probe's job: one partition's kept rows. */
  private[graft] object CollectRows
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
    def apply(task: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] = rows.toArray
  }

  /** A membership test of ids that tasks can carry: the sorted ids ride
    * in the task closure, which Spark ships to each executor once per job
    * inside the broadcast task binary.
    */
  private final class IdSet(ids: Iterable[Long]) extends (Long => Boolean) with Serializable {
    val sorted: Array[Long] = ids.toArray.distinct.sorted
    def apply(id: Long): Boolean = java.util.Arrays.binarySearch(sorted, id) >= 0
  }

  /** One lookup of a [[GraphState.probe]]: the rows of `table` whose
    * `column` holds one of `ids` and that pass `and`.
    */
  private final case class Lookup(table: Table, column: Int, ids: IdSet,
      and: InternalRow => Boolean = _ => true) {
    val keep: InternalRow => Boolean = {
      val (c, in, p) = (column, ids, and)
      r => in(r.getLong(c)) && p(r)
    }

    /** The base partitions that can hold a match, in index order: those
      * that own `ids` when `column` is the key the base was partitioned
      * by — computed by the partitioner that placed the rows — else every
      * partition.
      */
    def partitions: Seq[Int] = table.partitioner match {
      case Some(p) if column == table.key =>
        ids.sorted.iterator.map(id => p.getPartition(id)).toSeq.distinct.sorted
      case _ => 0 until table.baseRows.getNumPartitions
    }
  }

  /** The rows of base partition `p` of `rows` that `lookup` keeps,
    * scanned on this thread from the block this JVM's block manager holds
    * for the partition; None when it holds none — a base that was never
    * stored as blocks (a planned base), a block held by another
    * executor's block manager, or a lost one.
    */
  private[graft] def scanInPlace(rows: RDD[InternalRow], p: Int, lookup: KeepRows)
      : Option[Array[InternalRow]] =
    BlockShim.scan(RDDBlockId(rows.id, p))((values: Iterator[InternalRow]) => lookup(values).toArray)

  def apply[V](spark: SparkSession, model: GraphModel[V],
      nodes: DataFrame, edges: DataFrame, index: DataFrame): GraphState[V] =
    GraphState(spark, model, Table(nodes, nodesSchema(model), NodeId),
      Table(edges, edgesSchema, EdgeSrc), Table(index, indexSchema, IndexSrc))

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
    * One lookup fetches both things the delta needs: the endpoints'
    * `(id, kind, value)` rows, and the existing edges among those endpoints
    * (a superset of the requested pairs that already exist). It is one
    * [[probe]] over the nodes and edges tables, testing `id ∈ S` on nodes
    * and `src ∈ S ∧ dst ∈ S` on edges for the batch's id set `S`
    * ([[GraphState.IdSet]]), on the partitions that own `S` of each keyed
    * base: no join, no Catalyst pass and no generated class.
    * The edge and index deltas are then computed here, the index rows by
    * the model's own `indexes(target, source)` — the function
    * [[GraphState.deriveIndex]] runs on the executors for the bulk paths —
    * and appended to the tables' tails.
    *
    * Endpoint ids of new edges are validated: the reference errors on an
    * invalid node ref, and without the check a typo'd id would silently
    * create a phantom edge — counted by stats/reachability but invisible to
    * getTargets (no index keys for it), WAL-logged and replayed into every
    * follower, and persisted dangling by the checkpoint. NodeId is a plain
    * Long, so the typed API cannot make bad refs unrepresentable the way
    * the reference's model typeclass does — the apply must. An unknown id
    * raises IllegalArgumentException before any table changes — in a
    * session, in the writer's WAL recovery and in a replica's catch-up
    * alike, since all three apply ops through [[graft.graph.GraphSession]].
    */
  def withTargets(pairs: Seq[(Long, Long)]): GraphState[V] = {
    val wanted = pairs.distinct
    val in = new IdSet(wanted.flatMap(p => Seq(p._1, p._2)))
    val Seq(nodeHits, edgeHits) = probe(Lookup(nodeTable, NodeId, in),
      Lookup(edgeTable, EdgeSrc, in, r => in(r.getLong(EdgeDst))))
    val present = edgeHits.map(r => (r.getLong(EdgeSrc), r.getLong(EdgeDst))).toSet
    val delta = wanted.filterNot(present)
    if (delta.isEmpty) return this
    val known: Map[Long, V] = nodeHits.map(r => r.getLong(NodeId) -> valueOf(r)).toMap
    for ((s, d) <- delta; (side, id) <- Seq("src" -> s, "dst" -> d)
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

  /** Materialize all three tables as they are, as keyed bases of as many
    * partitions as each loaded base has (at least one) — for state just
    * loaded from a checkpoint, whose files a later close() may move to the
    * archive.
    */
  def checkpointed(): GraphState[V] = {
    def keyed(t: Table) = t.materialized(math.max(1, partitions(t)))
    copy(nodeTable = keyed(nodeTable), edgeTable = keyed(edgeTable), indexTable = keyed(indexTable))
  }

  /** The checkpoint rule of every op applier: settle the tables this state
    * changed against `prev` (the state the step started from) and keep the
    * others as they are. A table that only gained tail rows stays as it is
    * while its tail holds at most [[GraphState.TailBound]] rows — no Spark
    * job. Past the bound, or after a change that is not an append, it
    * materializes as a keyed base: that truncates lineage (without it a
    * long mutation session accumulates an unbounded plan), and the rows
    * are hash-partitioned by the table's key into max(the partition count
    * of `prev`'s base, `spark.sql.shuffle.partitions`) partitions, so
    * neither a stream of small deltas nor the tail's own partition adds a
    * partition, and a point read still scans one partition per owning id.
    */
  def checkpointedSince(prev: GraphState[V]): GraphState[V] = {
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def settle(was: Table, now: Table): Table =
      if (now eq was) was
      else if ((now.base eq was.base) && now.tail.size <= TailBound) now
      else now.materialized(math.max(partitions(was), shufflePartitions))
    copy(
      nodeTable = settle(prev.nodeTable, nodeTable),
      edgeTable = settle(prev.edgeTable, edgeTable),
      indexTable = settle(prev.indexTable, indexTable))
  }

  /** Partition count of a table's base, read from its physical RDD:
    * planning only, no action (`Dataset.rdd` would register one).
    */
  private def partitions(t: Table): Int = t.baseRows.getNumPartitions

  // ------------------------------------------------------------ point reads
  // Each read is one [[probe]]: a scan of the owning partitions of the
  // table's keyed base, in place where this JVM holds their blocks and
  // else in one Spark job, with no Catalyst pass and no generated class,
  // and the same row predicate over the tail on the driver. Ids are
  // deduped on the driver. Each read has one implementation, its batched
  // form; a single-id read is the batched form over one id.

  /** The rows each lookup finds, in lookup order: each lookup's base
    * partitions that can hold a match, in index order, then its tail. A
    * lookup by the column its base is keyed by reads only the partitions
    * that the base's partitioner assigns its ids to; a lookup by another
    * column (`sources`, by `dst`) or of a base with no partitioner (a bulk
    * load) reads every partition.
    *
    * A partition whose block this JVM's block manager holds — every
    * partition of a keyed base on `local[N]`, where the local checkpoint
    * stored them — is scanned here, on the calling thread, with no Spark
    * job ([[GraphState.scanInPlace]]). The others — a planned base, blocks
    * held by remote executors, a lost block — run as ONE Spark job over
    * the union of those partitions (`PartitionPruningRDD`), which fails
    * for a lost block as any read of it does. Bases with no partition (a
    * store that has never materialized a table) are left out, so a probe
    * of tails alone reads no block and runs no job. Base rows are copied
    * off the scan's buffers either way.
    *
    * Spark gets named task functions only ([[GraphState.KeepRows]],
    * [[GraphState.CollectRows]]), so its `ClosureCleaner` reads no class
    * file for the call. The job goes through the `runJob(rdd, func,
    * partitions, resultHandler)` overload, the one that wraps `func` in no
    * lambda of its own: the others build one inside `SparkContext`, whose
    * class file the cleaner would parse on every call. The result handler
    * runs here on the driver and is not cleaned.
    */
  private def probe(lookups: Lookup*): Seq[Seq[InternalRow]] = {
    val kept = lookups.map(l => new KeepRows(l.keep))
    // each lookup's partitions, with their rows where this JVM holds the block
    val inPlace = lookups.indices.map(i =>
      lookups(i).partitions.map(p => p -> scanInPlace(lookups(i).table.baseRows, p, kept(i))))
    // (lookup, partition) of each partition left to the job, in the
    // order of the job's partitions
    val away = for (i <- inPlace.indices; (p, None) <- inPlace(i)) yield (i, p)
    val fetched: Map[(Int, Int), Array[InternalRow]] =
      if (away.isEmpty) Map.empty
      else {
        val sc = spark.sparkContext
        val scans = away.groupMap(_._1)(_._2).toSeq.sortBy(_._1).map { case (i, ps) =>
          PartitionPruningRDD.create(lookups(i).table.baseRows, ps.toSet).mapPartitions(kept(i))
        }
        val rdd = if (scans.size == 1) scans.head else sc.union(scans)
        val parts = new Array[Array[InternalRow]](away.size)
        sc.runJob(rdd, CollectRows, parts.indices,
          (k: Int, rows: Array[InternalRow]) => parts(k) = rows)
        away.zip(parts).toMap
      }
    lookups.indices.map { i =>
      inPlace(i).flatMap { case (p, rows) => rows.getOrElse(fetched((i, p))) } ++
        lookups(i).table.tail.filter(lookups(i).keep)
    }
  }

  private lazy val nodeRow = CatalystTypeConverters.createToScalaConverter(nodesSchema(model))

  /** The value of a nodes row in internal form. */
  private def valueOf(r: InternalRow): V = {
    val row = nodeRow(r).asInstanceOf[Row]
    model.fromValueRow(row.getAs[String]("kind"), row.getAs[Row]("value"))
  }

  /** getValue (op #2). Throws NoSuchElementException for an unknown id (the
    * reference's invalid-ref failure).
    */
  def getValue(n: Long): V =
    getValues(Seq(n)).getOrElse(n, throw new NoSuchElementException(s"no node with id $n"))

  /** Batched getValue: the values of the known ids among `ids`, in one
    * probe whatever their number ([[GraphState.IdSet]]), on the
    * partitions that own them. Unknown ids are absent.
    */
  def getValues(ids: Iterable[Long]): Map[Long, V] =
    if (ids.isEmpty) Map.empty
    else {
      probe(Lookup(nodeTable, NodeId, new IdSet(ids))).head
        .map(r => r.getLong(NodeId) -> valueOf(r)).toMap
    }

  /** getTargets (op #5, Graph.hs:69-70): nodes reachable from `n` via
    * index key `k`. Distinct per key (the multimap holds a set per key).
    */
  def getTargets(n: Long, k: IndexKey): Seq[Long] = getTargets(Seq(n -> k)).getOrElse(n -> k, Nil)

  /** Batched getTargets: the distinct targets of each (node, key) pair, in
    * one probe. Pairs without a target are absent.
    */
  def getTargets(keys: Iterable[(Long, IndexKey)]): Map[(Long, IndexKey), Seq[Long]] =
    if (keys.isEmpty) Map.empty
    else {
      val wanted = keys.iterator.map { case (n, k) =>
        (n, UTF8String.fromString(k.kind), UTF8String.fromString(k.key)) }.toSet
      val keyOf = (r: InternalRow) =>
        (r.getLong(IndexSrc), r.getUTF8String(IndexKind), r.getUTF8String(IndexKeyAt))
      val hits = probe(Lookup(indexTable, IndexSrc, new IdSet(keys.map(_._1)), r => wanted(keyOf(r))))
      grouped(hits.head, IndexDst) { r =>
        val (n, kind, key) = keyOf(r)
        n -> IndexKey(kind.toString, key.toString)
      }
    }

  /** Dataset form of [[getTargets]] — the composable hop for analytics
    * plans, deduped in the plan. Ids and keys bind as [[Param]]s, so every
    * id shares one generated class.
    */
  def targetsDF(n: Long, k: IndexKey): DataFrame =
    index.where(col("src") === Param(n) && col("kkind") === Param(k.kind) &&
        col("key") === Param(k.key))
      .select(col("dst")).distinct()

  /** Distinct targets regardless of key (traverseTargets, Graph.hs:72-77). */
  def targets(n: Long): Seq[Long] = targets(Seq(n)).getOrElse(n, Nil)

  /** Batched [[targets]], in one probe; ids without a target are absent. */
  def targets(ns: Iterable[Long]): Map[Long, Seq[Long]] = hop(ns, EdgeSrc, EdgeDst)

  /** Sources of a node (traverseSources/getSources, Graph.hs:79-80,135-139). */
  def sources(n: Long): Seq[Long] = sources(Seq(n)).getOrElse(n, Nil)

  /** Batched [[sources]], in one probe; ids without a source are absent. */
  def sources(ns: Iterable[Long]): Map[Long, Seq[Long]] = hop(ns, EdgeDst, EdgeSrc)

  /** The distinct `to` ends of the edges whose `from` end is in `ns`, per
    * `from` id.
    */
  private def hop(ns: Iterable[Long], from: Int, to: Int): Map[Long, Seq[Long]] =
    if (ns.isEmpty) Map.empty
    else grouped(probe(Lookup(edgeTable, from, new IdSet(ns))).head, to)(_.getLong(from))

  /** The distinct ids at `column` of `rows`, per `key`. */
  private def grouped[K](rows: Seq[InternalRow], column: Int)(key: InternalRow => K): Map[K, Seq[Long]] =
    rows.groupMap(key)(_.getLong(column)).map { case (k, ids) => k -> ids.distinct }

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
