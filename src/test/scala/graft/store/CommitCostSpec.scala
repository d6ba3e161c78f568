package graft.store

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.graph._

/** What a driver-issued commit costs: Spark jobs in proportion to its delta,
  * not to the state, and no partition growth per commit.
  */
class CommitCostSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Run `f` and count the Spark jobs it started (listener events are
    * asynchronous: wait until the count has been stable for a while).
    */
  private def jobsOf(f: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      var prev = -1; var cur = jobs.get(); var spins = 0
      while (cur != prev || spins < 3) {
        prev = cur; Thread.sleep(200); cur = jobs.get(); spins += 1
      }
      cur
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def parts(df: DataFrame): Int = df.rdd.getNumPartitions

  test("warm synchronous newNode + addTarget + commit: ≤ 6 jobs, no partition growth") {
    val dir = Files.createTempDirectory("graft-commit-cost-").toString
    val store = GraphStore.open(spark, CatalogueModel, CatRoot: Cat, dir)
    val g = store.session
    val genre = g.newNode(Genre("rock"))
    g.addTarget(g.root, genre)
    (1 to 40).foreach { i => g.addTarget(genre, g.newNode(Song(s"preload$i"))) }
    store.commit()
    var songs = Vector.empty[Long]
    def insert(i: Int): Unit = {
      val song = g.newNode(Song(s"s$i"))
      g.addTarget(genre, song)
      store.commit()
      songs :+= song
    }
    // warm-up: tables grow to spark.sql.shuffle.partitions, then stop
    (1 to 4).foreach(insert)
    val jobs = jobsOf(insert(5))
    assert(jobs <= 6, s"a warm insert + commit ran $jobs jobs")
    def tableParts() = {
      val st = g.applied()
      (parts(st.nodes), parts(st.edges), parts(st.index))
    }
    val first = tableParts()
    (6 to 35).foreach(insert)
    val last = tableParts()
    assert(last._1 <= first._1 && last._2 <= first._2 && last._3 <= first._3,
      s"(nodes, edges, index) partitions after the first commit $first, after 30 more $last")
    info(s"insert + commit: $jobs jobs; (nodes, edges, index) partitions $first → $last")
    assert(g.getTargets(genre, IndexKey("Genre_Song")).toSet.size === 40 + songs.size)
    assert(g.getStats() === ((2L + 40 + songs.size, 1L + 40 + songs.size, 1L + 40 + songs.size)))
    store.close()
  }
}
