package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.graph._
import graft.store.{GraphReplica, GraphStore}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** A follower's state after catching up on a store's whole WAL. */
  private def caughtUp(dir: String): GraphState[Cat] = {
    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    replica.catchUp()
    replica.currentState
  }

  test("streaming hourly windows equal the batch R9 aggregation") {
    // file streams need a directory source
    val srcDir = Files.createTempDirectory("graft-stream-r9-")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"))
    val q = EventStreams.hourlyCounts(
      EventStreams.readEvents(spark, srcDir.toString))
      .writeStream.format("memory").queryName("hourly")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // watermark-append emits only windows the watermark passed; with
    // AvailableNow the final watermark stops short of the last window(s) —
    // so compare on the emitted prefix
    val streamed = spark.table("hourly")
      .select("h", "event_type", "cnt", "sv").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val batch = graft.Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(streamed.nonEmpty, "stream must emit closed windows")
    streamed.foreach { case (k, v) =>
      assert(batch.contains(k) && batch(k) === v, s"window $k mismatch")
    }
    assert(streamed.size >= batch.size / 2, "most windows should be closed")
  }

  test("repetition quality gate runs unchanged on a stream (== batch)") {
    // the px23 operator is a stateless per-row projection, so the same
    // code path must serve a Structured Streaming ingest pipeline
    // verbatim — filter-at-ingest is how a production corpus applies it
    val srcDir = Files.createTempDirectory("graft-stream-px23-")
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      srcDir.resolve("documents.parquet"))
    val batch = graft.Tables.load(spark, sf, "documents")
    val stream = spark.readStream.schema(batch.schema)
      .parquet(srcDir.toString)
    val q = graft.pipeline.TextAnalysis.repetition(stream, "text", "doc_id")
      .writeStream.format("memory").queryName("rep_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6), r.getBoolean(7))
    val streamed = spark.table("rep_stream").collect().map(key).toMap
    val expected = graft.pipeline.TextAnalysis.repetition(batch, "text", "doc_id")
      .collect().map(key).toMap
    assert(streamed === expected, "stateless gate: stream must equal batch")
  }

  test("PII scrub and chunking run unchanged on a stream (== batch)") {
    // px35/px36 are stateless per-row transforms (chunking is a per-row
    // generator), so the exact operator code must serve a readStream
    // ingest path verbatim — scrub-then-chunk at ingest is the standard
    // corpus ETL shape.
    val srcDir = Files.createTempDirectory("graft-stream-px3536-")
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      srcDir.resolve("documents.parquet"))
    val batch = graft.Tables.load(spark, sf, "documents")
    val stream = spark.readStream.schema(batch.schema)
      .parquet(srcDir.toString)
    val q1 = graft.pipeline.TextAnalysis.redactPii(stream, "text", "doc_id")
      .writeStream.format("memory").queryName("scrub_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val q2 = graft.pipeline.TextAnalysis.chunk(stream, "text", "doc_id", 200, 150)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(120000); q2.awaitTermination(120000)
    def scrubKey(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))
    def chunkKey(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))
    val scrubStreamed = spark.table("scrub_stream").collect().map(scrubKey).toMap
    val scrubExpected = graft.pipeline.TextAnalysis.redactPii(batch, "text", "doc_id")
      .collect().map(scrubKey).toMap
    assert(scrubStreamed === scrubExpected, "stateless scrub: stream must equal batch")
    val chunkStreamed = spark.table("chunk_stream").collect().map(chunkKey).toMap
    val chunkExpected = graft.pipeline.TextAnalysis.chunk(batch, "text", "doc_id", 200, 150)
      .collect().map(chunkKey).toMap
    assert(chunkStreamed === chunkExpected, "per-row chunk generator: stream must equal batch")
    assert(chunkExpected.nonEmpty && scrubExpected.nonEmpty)
  }

  test("sliding 2h/1h windows run unchanged on a stream (== batch r28)") {
    val srcDir = Files.createTempDirectory("graft-stream-r28-")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"))
    val q = EventStreams.slidingCounts(
      EventStreams.readEvents(spark, srcDir.toString))
      .writeStream.format("memory").queryName("sliding")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))
    val streamed = spark.table("sliding").collect().map(key).toMap
    val batch = EventStreams.slidingCounts(graft.Tables.events(spark, sf))
      .collect().map(key).toMap
    assert(streamed.nonEmpty, "stream must emit closed windows")
    // append mode emits only watermark-closed windows — a prefix of batch
    streamed.foreach { case (k, v) =>
      assert(batch.contains(k) && batch(k) === v, s"window $k mismatch")
    }
    assert(streamed.size >= batch.size / 2, "most windows should be closed")
  }

  test("incremental ingest dedup runs unchanged on a stream (== batch px41)") {
    // the px41 operator is exactly the streaming-ingest shape: the EXISTING
    // corpus is static (its bloom is built once, eagerly), the NEW batch
    // arrives as a stream — bloom-negative rows pass with zero join work,
    // bloom-positive rows verify via a stream-static left_anti join. The
    // identical operator code must serve both paths.
    import org.apache.spark.sql.functions.col
    val all = graft.Tables.load(spark, sf, "documents")
    val existing = all.where(col("doc_id") % 2 === 0)
    val newDocs = all.where(col("doc_id") % 2 === 1)
    val srcDir = Files.createTempDirectory("graft-stream-px41-")
    newDocs.coalesce(1).write.mode("overwrite")
      .parquet(srcDir.resolve("batch").toString)
    val stream = spark.readStream.schema(all.schema)
      .parquet(srcDir.resolve("batch").toString)
    val q = graft.pipeline.Dedup.incrementalNew(existing, stream,
      "doc_id", "text", expectedItems = 100000L)
      .writeStream.format("memory").queryName("px41_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("px41_stream").collect()
      .map(_.getLong(0)).toSet
    val expected = graft.pipeline.Dedup.incrementalNew(existing, newDocs,
      "doc_id", "text", expectedItems = 100000L)
      .collect().map(_.getLong(0)).toSet
    assert(streamed === expected, "ingest dedup: stream must equal batch")
    assert(expected.nonEmpty)
  }

  test("sessionization via flatMapGroupsWithState") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val evs = Seq(
      EventStreams.Ev(1, ts(0), "a"), EventStreams.Ev(1, ts(10), "b"),
      EventStreams.Ev(1, ts(100), "c"), EventStreams.Ev(1, ts(105), "d"),
      EventStreams.Ev(1, ts(300), "e"),
      EventStreams.Ev(2, ts(5), "x")).toDS()
    // batch Dataset path: same state function, deterministic check of the
    // session splits (30-min gap → user 1: [0,10], [100,105], open [300])
    val sessions = EventStreams.sessionize(evs, gapMinutes = 30)
      .collect().map(s => (s.user_id, s.events, s.start.getTime / 60000, s.end.getTime / 60000))
      .toSet
    assert(sessions === Set((1L, 2L, 0L, 10L), (1L, 2L, 100L, 105L)))
  }

  test("sessionize flushes idle sessions via processing-time timeout (live stream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val ckpt = Files.createTempDirectory("graft-sess-ckpt-").toString
    // run 1: user 9 opens a session (timeout duration 1ms armed)
    val in1 = MemoryStream[EventStreams.Ev]
    in1.addData(EventStreams.Ev(9, ts(0), "x"))
    val q1 = EventStreams.sessionize(in1.toDS(), gapMinutes = 0)
      .writeStream.format("memory").queryName("sess_t1")
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    // The wrap-up batch that fires expired timers can hit SPARK's
    // "SparkPlan.session() is null" planning race (upstream bug, observed
    // intermittently on local[4]); the data batches are already committed
    // when it happens, so tolerate the exception and let run 2 (fresh query,
    // same checkpoint) fire the timer instead.
    scala.util.Try(q1.awaitTermination(120000))
    // stop explicitly so a straggling wrap-up batch isn't torn down with
    // the SparkSession at suite end (logs a spurious INTERNAL_ERROR)
    scala.util.Try(q1.stop())
    val run1 = spark.table("sess_t1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flushed =
      if (run1.contains((9L, 1L))) run1 // timer fired in run 1's wrap-up batch
      else {
        Thread.sleep(50)
        // run 2 (same checkpoint → state restored): a batch for ANOTHER
        // user advances processing time, firing user 9's expired timer
        val in2 = MemoryStream[EventStreams.Ev]
        in2.addData(EventStreams.Ev(8, ts(99), "poke"))
        val q2 = EventStreams.sessionize(in2.toDS(), gapMinutes = 0)
          .writeStream.format("memory").queryName("sess_t2")
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q2.awaitTermination(120000)
        scala.util.Try(q2.stop())
        run1 ++ spark.table("sess_t2").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
    assert(flushed.contains((9L, 1L)),
      s"idle user 9's session must be flushed by timeout; got ${flushed.mkString(",")}")
  }

  test("watermarked streaming dedup drops duplicate event_ids (== batch distinct)") {
    // duplicate the whole events file: every event arrives exactly twice
    val srcDir = Files.createTempDirectory("graft-stream-dedup-")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("a.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("b.parquet"))
    val q = EventStreams.dedupEvents(
      EventStreams.readEvents(spark, srcDir.toString))
      .writeStream.format("memory").queryName("dedup_ev")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("dedup_ev")
    val batchDistinct = graft.Tables.events(spark, sf)
      .select("event_id").distinct().count()
    assert(streamed.count() === batchDistinct)
    assert(streamed.select("event_id").distinct().count() === batchDistinct)
  }

  test("sessionize agrees with the oracle-checked relational form (r24)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf)
    // closed sessions from the state machine (its last session per user
    // stays open and is not emitted by the batch path)
    val closed = EventStreams.sessionize(
      ev.select(col("user_id"), col("ts"), col("event_type"))
        .as[EventStreams.Ev], gapMinutes = 30)
      .groupByKey(_.user_id).count().collect().toMap
    // total sessions per user, gaps-and-islands (the r24 oracle shape)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val total = ev
      .withColumn("_prev", lag(col("ts"), 1).over(w))
      .withColumn("_brk", when(col("_prev").isNull ||
        (unix_millis(col("ts")) - unix_millis(col("_prev"))) > 1800000L, 1L)
        .otherwise(0L))
      .groupBy("user_id").agg(sum("_brk").as("sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(total.nonEmpty)
    total.foreach { case (user, n) =>
      assert(closed.getOrElse(user, 0L) === n - 1,
        s"user $user: $n total sessions must mean ${n - 1} closed ones")
    }
  }

  test("stream-stream interval join == batch interval join") {
    val srcDir = Files.createTempDirectory("graft-stream-ssj-")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"))
    def clicksOf(df: org.apache.spark.sql.DataFrame) =
      df.where(col("event_type") === "click")
    def purchasesOf(df: org.apache.spark.sql.DataFrame) =
      df.where(col("event_type") === "purchase")

    val stream = EventStreams.readEvents(spark, srcDir.toString)
    val q = EventStreams.clickPurchaseJoin(
      clicksOf(stream), purchasesOf(stream), withinMinutes = 30)
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("ssj")
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev = graft.Tables.events(spark, sf)
    val batch = EventStreams.clickPurchaseJoin(
      clicksOf(ev), purchasesOf(ev), withinMinutes = 30)
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(batch.nonEmpty, "fixture must contain click→purchase pairs")
    assert(streamed === batch)
  }

  test("foreachBatch streaming edge ingest == one-shot bulk load (store state)") {
    // the WRITE side of streaming integration: an edge stream lands in the
    // persistent store through commitBulk per microbatch (each microbatch
    // is one atomic `-bulk` WAL publish — the distributed ingest path, no
    // driver collect). End state must equal a single one-shot bulk load of
    // the same delta, because commitBulk is set-wise idempotent like
    // addTarget (Graph.hs:57-61 semantics).
    import spark.implicits._
    val nArtists = 12
    def freshStore(dir: java.nio.file.Path) = {
      val s = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir.toString)
      val ids = (1 to nArtists).map(i => s.session.newNode(Artist(i, s"a$i")))
      s.commit()
      (s, ids)
    }
    val streamDir = Files.createTempDirectory("graft-ingest-store-")
    val (streamed, ids) = freshStore(streamDir)
    val edges = ids.map(n => (streamed.session.root, n)) ++
      ids.sliding(2).map(p => (p(0), p(1))) ++
      ids.sliding(2).map(p => (p(0), p(1)))   // dups: ingest must dedupe
    // three parquet files drip-fed one per microbatch
    val srcDir = Files.createTempDirectory("graft-ingest-src-")
    edges.grouped(edges.size / 3 + 1).zipWithIndex.foreach { case (g, i) =>
      val tmp = Files.createTempDirectory("graft-ingest-part-")
      g.toSeq.toDF("src", "dst").coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, srcDir.resolve(s"batch-$i.parquet"))
    }
    val stream = spark.readStream
      .schema("src LONG, dst LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed.commitBulk(batch)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val refDir = Files.createTempDirectory("graft-ingest-ref-")
    val (ref, refIds) = freshStore(refDir)
    ref.commitBulk(edges.map { case (s0, d0) =>
      // same graph shape over the reference store's own ids
      def m(x: Long) = if (x == streamed.session.root) ref.session.root
        else refIds(ids.indexOf(x))
      (m(s0), m(d0))
    }.toSeq.toDF("src", "dst"))

    assert(streamed.session.getStats() === ref.session.getStats(),
      "streamed ingest must reach the one-shot bulk-load state")
    assert(streamed.session.targets(ids.head).toSet ===
      Set(ids(1)), "adjacency must match")
    // WAL carries one -bulk batch per microbatch, each atomically published
    val bulkDirs = Files.list(streamDir.resolve("1.events"))
      .iterator().asScala.map(_.getFileName.toString)
      .count(_.endsWith("-bulk"))
    assert(bulkDirs === 3, "one bulk WAL batch per microbatch")
    streamed.close(); ref.close()
  }

  test("op-log streaming follower converges to the writer's state") {
    val dir = Files.createTempDirectory("graft-oplog-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val m = g.newNode(Artist(1, "Michael Jackson"))
    val s1 = g.newNode(Song("Billie Jean"))
    g.addTarget(g.root, m); g.addTarget(g.root, s1); g.addTarget(s1, m)
    store.commit()
    g.remove(m)
    store.commit()

    // follower state must fully match the writer's applied state (the WAL
    // contains every op including the root's NewNode)
    val st = caughtUp(dir)
    assert(st.nodes.count() === g.applied().nodes.count())
    assert(st.edges.count() === g.applied().edges.count())
    assert(st.index.count() === g.applied().index.count())
    store.close()
  }

  test("follower applies bulk WAL batches set-wise (node-less edge ids allowed)") {
    val dir = Files.createTempDirectory("graft-oplog-bulk-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val hub = g.newNode(Artist(1, "Hub"))
    g.addTarget(g.root, hub)
    store.commit()
    import spark.implicits._
    // bulk edges to ids WITHOUT node rows — commitBulk's documented
    // contract; the follower must route them through the UNGUARDED
    // set-wise path (the session-op guard would raise on 100/101/102)
    store.commitBulk(Seq((hub, 100L), (hub, 101L), (hub, 102L)).toDF("src", "dst"))
    g.setValue(hub, Artist(1, "Hub2")) // an op batch AFTER the bulk batch
    store.commit()

    val st = caughtUp(dir)
    assert(st.edges.count() === g.applied().edges.count())
    assert(st.edges.where(col("src") === hub).count() === 3L)
    assert(st.nodes.count() === g.applied().nodes.count())
    store.close()
  }

  test("committed batch dirs resolve through the writer's archive (close race)") {
    // the writer's close() MOVES events dirs into archive/ while a
    // follower may still be checking their _SUCCESS markers — a committed
    // batch must resolve in EITHER location, only marker-in-neither is torn
    val base = Files.createTempDirectory("graft-oplog-arch-")
    val live = base.resolve("1.events").resolve("batch-000000")
    Files.createDirectories(live)
    Files.writeString(live.resolve("_SUCCESS"), "")
    def committed = GraphStore.committedBatches(base, (0L, Long.MaxValue)).map(_._2)
    assert(committed === Seq(live))
    // writer archives the whole events dir (GraphStore.cleanUp shape)
    val archived = base.resolve("archive").resolve("1.events")
    Files.createDirectories(archived.getParent)
    Files.move(base.resolve("1.events"), archived)
    assert(committed === Seq(archived.resolve("batch-000000")),
      "a batch moved to archive/ is still committed")
    // marker in neither location: genuinely torn
    val torn = base.resolve("2.events").resolve("batch-000000")
    Files.createDirectories(torn)
    assert(committed === Seq(archived.resolve("batch-000000")))
  }

  test("follower live-tails a committing writer (catchUp per commit)") {
    val dir = Files.createTempDirectory("graft-oplog-tail-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val a = g.newNode(Artist(1, "First"))
    g.addTarget(g.root, a)
    store.commit()

    val replica = GraphReplica.bootstrap(spark, CatalogueModel, dir)
    def catchUpTo(expect: Long): Unit = {
      replica.catchUp()
      val nodeCount = replica.currentState.nodes.count()
      assert(nodeCount === expect, s"follower stuck at $nodeCount, want $expect")
    }
    catchUpTo(2L) // root + First

    // the writer keeps committing WHILE the follower serves — the next
    // catch-up must pick the new batch up without a new bootstrap
    val b = g.newNode(Song("Second"))
    g.addTarget(g.root, b)
    store.commit()
    catchUpTo(3L)

    store.close()
  }

  test("follower admits only _SUCCESS-committed batches (no phantom ops)") {
    val dir = Files.createTempDirectory("graft-oplog-torn-")
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir.toString)
    val g = store.session
    val a = g.newNode(Artist(1, "Real"))
    g.addTarget(g.root, a)
    store.commit()

    // craft a torn batch: VALID parquet op rows but no _SUCCESS marker —
    // the debris a crashed legacy (pre-atomic-publish) writer could leave.
    // Built through a scratch store so the rows are real op rows whose
    // phantom NewNodes would visibly change the node count if applied.
    val scratchDir = Files.createTempDirectory("graft-oplog-scratch-")
    val scratch = GraphStore.open(spark, CatalogueModel, CatRoot: Cat,
      scratchDir.toString)
    // pad the id space so the phantom's id collides with NO real node id
    (1 to 10).foreach(i => scratch.session.newNode(Song(s"pad-$i")))
    val phantom = scratch.session.newNode(Artist(99, "Phantom"))
    scratch.session.addTarget(scratch.session.root, phantom)
    scratch.commit()
    scratch.abandon()
    val torn = dir.resolve("1.events").resolve("batch-000099")
    Files.createDirectories(torn)
    val src = scratchDir.resolve("1.events").resolve("batch-000000")
    Files.list(src).iterator().forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n != "_SUCCESS") Files.copy(p, torn.resolve(n))
    }
    assert(!Files.exists(torn.resolve("_SUCCESS")))

    // a second real (atomically published) batch after the torn one
    val b = g.newNode(Song("AlsoReal"))
    g.addTarget(g.root, b)
    store.commit()

    val st = caughtUp(dir.toString)
    // both committed batches applied, the torn batch's phantom rows dropped
    assert(st.nodes.count() === g.applied().nodes.count())
    assert(st.nodes.where(col("id") === phantom).count() === 0L,
      "phantom ops from an unmarked batch must never be applied")
    assert(st.edges.count() === g.applied().edges.count())
    store.close()
  }

  test("follower property: converges to the writer for random op sequences") {
    val rnd = new scala.util.Random(29)
    val dir = Files.createTempDirectory("graft-oplog-prop-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val nodes = scala.collection.mutable.ArrayBuffer[Long]()
    (1 to 25).foreach { i =>
      rnd.nextInt(5) match {
        case 0 | 1 =>
          val n = g.newNode(Artist(i, s"a-$i")); g.addTarget(g.root, n); nodes += n
        case 2 =>
          val n = g.newNode(Song(s"s-$i")); g.addTarget(g.root, n); nodes += n
        case 3 if nodes.nonEmpty =>
          g.setValue(nodes(rnd.nextInt(nodes.size)), Song(s"s-$i'"))
        case 4 if nodes.size > 1 =>
          g.addTarget(nodes(rnd.nextInt(nodes.size)), nodes(rnd.nextInt(nodes.size)))
        case _ => ()
      }
      if (rnd.nextInt(3) == 0) store.commit()
    }
    store.commit()

    val st = caughtUp(dir)
    val w = g.applied()
    // full-state equivalence, not just counts: every node row (id, kind,
    // value) and every edge must match the writer exactly
    assert(st.nodes.unionByName(w.nodes).distinct().count() === w.nodes.count(),
      "follower node rows differ from writer")
    assert(st.nodes.count() === w.nodes.count())
    assert(st.edges.unionByName(w.edges).distinct().count() === w.edges.count(),
      "follower edge rows differ from writer")
    assert(st.edges.count() === w.edges.count())
    assert(st.index.unionByName(w.index).distinct().count() === w.index.count())
    store.close()
  }

  test("follower dedupes repeated SetValue on one id within a WAL batch") {
    val dir = Files.createTempDirectory("graft-oplog-set-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val m = g.newNode(Artist(1, "v0"))
    g.addTarget(g.root, m)
    // one commit → one 'set' run with two ops on the same id; the WAL logs
    // BOTH (only state is deduped writer-side), so the follower must
    // keep-last or it unions two rows for node m
    g.setValue(m, Artist(1, "v1"))
    g.setValue(m, Artist(1, "v2"))
    store.commit()

    val st = caughtUp(dir)
    val mRows = st.nodes.where(col("id") === m).collect()
    assert(mRows.length === 1, s"node $m duplicated: ${mRows.length} rows")
    assert(mRows.head.getStruct(mRows.head.fieldIndex("value")).getString(1) === "v2")
    assert(st.index.count() === g.applied().index.count())
    store.close()
  }

  test("semantic decontamination runs unchanged on a stream (== batch px54)") {
    // corpus embeddings arrive as a stream; the bench side is static and
    // broadcast — the same operator code serves both paths, with the
    // per-id max as a streaming aggregation (complete mode)
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val bench = emb.where(col("vec_id") < 10)
    val corpus = emb.where(col("vec_id") >= 10)
    val srcDir = Files.createTempDirectory("graft-stream-px54-")
    corpus.coalesce(1).write.mode("overwrite")
      .parquet(srcDir.resolve("batch").toString)
    val stream = spark.readStream.schema(emb.schema)
      .parquet(srcDir.resolve("batch").toString)
    val q = graft.pipeline.Decontaminate.semanticOverlap(
      stream, bench, "vec_id", "embedding", threshold = 0.9)
      .writeStream.format("memory").queryName("px54_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("px54_stream").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).sortBy(_._1).toSeq
    val expected = graft.pipeline.Decontaminate.semanticOverlap(
      corpus, bench, "vec_id", "embedding", threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(streamed === expected, "semantic decontam: stream must equal batch")
    assert(expected.nonEmpty)
  }

  test("streaming appendToTwoLevelIndex: served top-k per micro-batch == one-shot append") {
    // the index-maintained-on-write posture for the TWO-LEVEL quantizer:
    // each micro-batch is assigned against the loaded level-1 matrix +
    // distributed level-2 table (no retrain) and appended to the
    // compound-partitioned codes table; after every batch the served
    // top-k must equal a same-base index with the same rows appended in
    // one call. The build is deterministic per base corpus, so the
    // comparison is exact.
    import graft.pipeline.Similarity
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val base = emb.where(col("vec_id") % 3 === 0)
      .select(col("vec_id"), col("embedding"))
    val rest = emb.where(col("vec_id") % 3 =!= 0)
      .select(col("vec_id"), col("embedding"))
    val queries = emb.where(col("vec_id") < 15)
      .select(col("vec_id"), col("embedding"))
    def serve(dir: String): Seq[(Long, Long, Long, Double)] =
      Similarity.twoLevelTopKFromIndex(
        Similarity.loadTwoLevelIndex(spark, dir), queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._3)).toSeq
    val root = Files.createTempDirectory("graft-ann2-stream-")
    val streamIdx = root.resolve("stream_idx").toString
    Similarity.saveTwoLevelIndex(base, "vec_id", "embedding", streamIdx,
      nlist1 = 4, k2 = 4, iters = 1)
    val inDir = root.resolve("in").toString
    (0 until 2).foreach { i =>
      rest.where(pmod(col("vec_id"), lit(2)) === i).coalesce(1)
        .write.mode("append").parquet(inDir)
    }
    val prefixes = scala.collection.mutable
      .Buffer[(Set[Long], Seq[(Long, Long, Long, Double)])]()
    val seen = scala.collection.mutable.Set[Long]()
    val q = spark.readStream.schema(rest.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.appendToTwoLevelIndex(spark, streamIdx, batch,
          "vec_id", "embedding")
        seen ++= batch.select("vec_id").collect().map(_.getLong(0))
        prefixes += ((seen.toSet, serve(streamIdx)))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(300000)
    assert(prefixes.size === 2, s"expected 2 batches, got ${prefixes.size}")
    assert(prefixes.last._1 ===
      rest.select("vec_id").collect().map(_.getLong(0)).toSet)
    prefixes.zipWithIndex.foreach { case ((ids, streamed), i) =>
      val dir = root.resolve(s"batch_idx_$i").toString
      Similarity.saveTwoLevelIndex(base, "vec_id", "embedding", dir,
        nlist1 = 4, k2 = 4, iters = 1)
      Similarity.appendToTwoLevelIndex(spark, dir,
        rest.where(col("vec_id").isin(ids.toSeq: _*)), "vec_id", "embedding")
      assert(streamed === serve(dir),
        s"prefix $i (${ids.size} rows): streamed serve != one-shot serve")
      assert(streamed.nonEmpty)
    }
    // retry-idempotence: re-appending held rows must not change serving
    val before = serve(streamIdx)
    Similarity.appendToTwoLevelIndex(spark, streamIdx,
      rest.where(col("vec_id").isin(prefixes.last._1.toSeq: _*)),
      "vec_id", "embedding")
    assert(serve(streamIdx) === before,
      "re-appended rows must dedupe, not duplicate")
    // the QUANTIZED path is maintained by the same appends (codes are
    // written per batch): rerank-all over the streamed index == the float
    // serve — the px63/px65 serving surface stays correct as data arrives
    val corpusSize = base.count() + rest.count()
    val quantized = Similarity.quantizedTopKFromIndex(spark, streamIdx,
      queries, "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4,
      rerank = corpusSize.toInt)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(quantized === before.map(t => (t._1, t._2, t._3)),
      "quantized rerank-all over the streamed index must equal the float serve")
  }

  test("streaming append + periodic compaction: serving parity through generation swaps") {
    // the production maintenance loop: micro-batches append to the
    // persisted index and a periodic compaction (here every 2nd batch)
    // rewrites the fragmented cells into a fresh generation UNDER the
    // running stream's feet — the atomic pointer swap means every
    // subsequent append/serve resolves the new generation and the final
    // state equals a one-shot append that never fragmented at all.
    import graft.pipeline.Similarity
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val base = emb.where(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("embedding"))
    val rest = emb.where(col("vec_id") % 4 =!= 0)
      .select(col("vec_id"), col("embedding"))
    val queries = emb.where(col("vec_id") < 15)
      .select(col("vec_id"), col("embedding"))
    def serve(dir: String) =
      Similarity.twoLevelTopKFromIndex(
        Similarity.loadTwoLevelIndex(spark, dir), queries,
        "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._3)).toSeq
    val root = Files.createTempDirectory("graft-ann2-compact-stream-")
    val streamIdx = root.resolve("stream_idx").toString
    Similarity.saveTwoLevelIndex(base, "vec_id", "embedding", streamIdx,
      nlist1 = 4, k2 = 4, iters = 1)
    val inDir = root.resolve("in").toString
    (0 until 4).foreach { i =>
      rest.where(pmod(col("vec_id"), lit(4)) === (i + 1)).coalesce(1)
        .write.mode("append").parquet(inDir)
    }
    var batches = 0
    val q = spark.readStream.schema(rest.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Similarity.appendToTwoLevelIndex(spark, streamIdx, batch,
          "vec_id", "embedding")
        if (id % 2 == 1) Similarity.compactTwoLevelIndex(spark, streamIdx)
        batches += 1
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(300000)
    assert(batches === 4)
    // compactions ran under the stream → the index is manifest-mode
    assert(Similarity.cellsSubdir(spark, streamIdx).startsWith("manifest:"))
    // the compacted, streamed index serves EXACTLY like a one-shot
    // append that never fragmented
    val oneShot = root.resolve("oneshot_idx").toString
    Similarity.saveTwoLevelIndex(base, "vec_id", "embedding", oneShot,
      nlist1 = 4, k2 = 4, iters = 1)
    Similarity.appendToTwoLevelIndex(spark, oneShot, rest,
      "vec_id", "embedding")
    assert(serve(streamIdx) === serve(oneShot))
    assert(serve(streamIdx).nonEmpty)
    // and the PQ/ADC surface survived the swaps too (codes rode every
    // generation rewrite; rerank-all == float)
    val n = (base.count() + rest.count()).toInt
    val adc = Similarity.pqAdcTopKFromIndex(spark, streamIdx, queries,
      "vec_id", "embedding", k = 5, p1 = 2, nprobe = 4, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(adc === serve(streamIdx).map(t => (t._1, t._2, t._3)))
  }

  test("px59 semantic prune re-curates incrementally (every streamed prefix == batch)") {
    // Semantic dedup under the px29 incremental-recuration harness:
    // embeddings arrive in chunks; foreachBatch appends each chunk to the
    // accumulated corpus and re-runs the IDENTICAL semanticClusterPrune
    // the declared batch query calls (retrain + reassign per prefix —
    // cluster-scoped dedup, like holistic dedup, can't be append-only).
    // Every per-batch verdict set must equal the batch operator run
    // independently on exactly the vectors seen so far — the determinism
    // of the hash-seeded decimal-Lloyd train is what makes this exact.
    val emb = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val srcDir = Files.createTempDirectory("graft-stream-px59-")
    val accDir = srcDir.resolve("acc").toString
    val inDir = srcDir.resolve("in").toString
    (0 until 3).foreach { i =>
      emb.where(pmod(col("vec_id"), lit(3)) === i).coalesce(1)
        .write.mode("append").parquet(inDir)
    }
    val t = 0.3
    val prefixes =
      scala.collection.mutable.Buffer[(Set[Long], Seq[(Long, Int, Boolean)])]()
    val q = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(accDir)
        val acc = spark.read.parquet(accDir)
        val ids = acc.select("vec_id").collect().map(_.getLong(0)).toSet
        val verdicts = graft.pipeline.Similarity.semanticClusterPrune(
          acc, "vec_id", "embedding", threshold = t)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
        prefixes += ((ids, verdicts.sortBy(_._1).toSeq))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(300000)
    assert(prefixes.size === 3, s"expected 3 batches, got ${prefixes.size}")
    assert(prefixes.last._1 ===
      emb.select("vec_id").collect().map(_.getLong(0)).toSet)
    prefixes.sliding(2).foreach { case scala.collection.mutable.Buffer((a, _), (b, _)) =>
      assert(a.subsetOf(b) && a.size < b.size)
    }
    prefixes.foreach { case (ids, streamed) =>
      val expected = graft.pipeline.Similarity.semanticClusterPrune(
        emb.where(col("vec_id").isin(ids.toSeq: _*)),
        "vec_id", "embedding", threshold = t)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      assert(streamed === expected,
        s"prefix of ${ids.size} vectors: streamed prune != batch prune")
      assert(expected.nonEmpty)
    }
    // the full-corpus prefix exercises both verdict classes
    assert(prefixes.last._2.exists(_._3) && prefixes.last._2.exists(!_._3))
  }

  test("px29 composed curation re-curates incrementally (every streamed prefix == batch)") {
    // The curation flagship as a STREAMING job: documents arrive in
    // chunks; foreachBatch appends each chunk to the accumulated corpus
    // and re-runs the IDENTICAL px29 pipeline (PipelineQueries.curateText
    // — the same function the declared batch query calls) over the
    // prefix. Every per-batch answer must equal the batch pipeline run
    // independently on exactly the docs seen so far — not just the final
    // state. This is the recuration cadence a production corpus runs
    // (holistic dedup can't be append-only; px41 covers the incremental
    // exact-dedup half).
    val all = graft.Tables.load(spark, sf, "documents")
    val srcDir = Files.createTempDirectory("graft-stream-px29-")
    val accDir = srcDir.resolve("acc").toString
    val inDir = srcDir.resolve("in").toString
    // three chunk files; maxFilesPerTrigger=1 makes each its own batch
    (0 until 3).foreach { i =>
      all.where(pmod(col("doc_id"), lit(3)) === i).coalesce(1)
        .write.mode("append").parquet(inDir)
    }
    val prefixes =
      scala.collection.mutable.Buffer[(Set[Long], Seq[(String, String, Long)])]()
    val q = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(accDir)
        val acc = spark.read.parquet(accDir)
        val ids = acc.select("doc_id").collect().map(_.getLong(0)).toSet
        val counts = graft.pipeline.PipelineQueries.curateText(acc)
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        prefixes += ((ids, counts.toSeq))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(300000)
    assert(prefixes.size === 3, s"expected 3 batches, got ${prefixes.size}")
    // prefix sets must be strictly growing to the full corpus
    assert(prefixes.last._1 === all.select("doc_id").collect().map(_.getLong(0)).toSet)
    prefixes.sliding(2).foreach { case scala.collection.mutable.Buffer((a, _), (b, _)) =>
      assert(a.subsetOf(b) && a.size < b.size)
    }
    // every prefix answer == the batch pipeline on exactly those docs
    prefixes.foreach { case (ids, streamed) =>
      val expected = graft.pipeline.PipelineQueries.curateText(
        all.where(col("doc_id").isin(ids.toSeq: _*)))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(streamed === expected,
        s"prefix of ${ids.size} docs: streamed curation != batch curation")
      assert(expected.nonEmpty)
    }
  }

  test("x4 multimodal curation re-curates incrementally (streamed prefix == batch)") {
    // the x4 flagship under the same incremental-recuration harness:
    // documents stream in while embeddings are the static side of the
    // modality-assembly join (the store-and-enrich shape) — per-prefix
    // answers must equal PipelineQueries.curateMultimodal run in batch
    // mode on the same prefix
    val all = graft.Tables.load(spark, sf, "documents")
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val srcDir = Files.createTempDirectory("graft-stream-x4-")
    val accDir = srcDir.resolve("acc").toString
    val inDir = srcDir.resolve("in").toString
    (0 until 2).foreach { i =>
      all.where(pmod(col("doc_id"), lit(2)) === i).coalesce(1)
        .write.mode("append").parquet(inDir)
    }
    val prefixes =
      scala.collection.mutable.Buffer[(Set[Long], Seq[(String, String, Long)])]()
    val q = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(accDir)
        val acc = spark.read.parquet(accDir)
        val ids = acc.select("doc_id").collect().map(_.getLong(0)).toSet
        val counts = graft.pipeline.PipelineQueries.curateMultimodal(acc, emb)
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        prefixes += ((ids, counts.toSeq))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(300000)
    assert(prefixes.size === 2, s"expected 2 batches, got ${prefixes.size}")
    prefixes.foreach { case (ids, streamed) =>
      val expected = graft.pipeline.PipelineQueries.curateMultimodal(
        all.where(col("doc_id").isin(ids.toSeq: _*)), emb)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(streamed === expected,
        s"prefix of ${ids.size} docs: streamed x4 != batch x4")
      assert(expected.nonEmpty)
    }
  }
}
