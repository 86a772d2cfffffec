package graft.client

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the embedded store's `planQuery` contract: each statement
  * executes once, and the stream fan-out comes from the spill writer —
  * an unordered result is dealt round-robin across files, an ORDER BY
  * result keeps its range files in order, an empty result still yields
  * one (empty) handle.
  */
class PlanQuerySpec extends AnyFunSuite {

  private lazy val root = Files.createTempDirectory("graft_planquery_").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("plan-query-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val client: EmbeddedClickHouse = {
    spark // the embedded server runs in a child of the active session
    val c = new EmbeddedClickHouse(root)
    c.createDatabase("main")
    c
  }

  private val tables = new AtomicInteger(0)

  /** A MergeTree table `(id Int64, v String)` with one part per block. */
  private def table(blocks: Seq[Seq[Long]]): String = {
    val t = s"t${tables.incrementAndGet()}"
    client.createTable("main", t, Seq("id" -> "Int64", "v" -> "String"),
      Map("engine" -> "MergeTree", "order_by" -> "id"))
    val schema = client.sparkSchema("main", t)
    blocks.foreach(b => client.insert("main", t, schema, b.map(i => Row(i, s"v$i"))))
    t
  }

  private def read(h: ChPartitionHandle): Seq[Long] =
    client.readPartition(h).map(_.getLong(0)).toSeq

  test("an unordered result with fewer partitions than streams fans out to " +
    "numStreams handles, every row exactly once") {
    // one part = one partition dealt over 4 files; three parts = three
    // partitions dealt over 2 files each, 6 files balanced into 4 handles
    Seq(Seq(1L to 25L), Seq(1L to 10L, 11L to 20L, 21L to 30L)).foreach { blocks =>
      val t = table(blocks.map(_.toSeq))
      val (_, handles) = client.planQuery(s"SELECT `id`, `v` FROM `main`.`$t`", 4)
      assert(handles.size == 4)
      val perHandle = handles.map(read)
      assert(perHandle.forall(_.nonEmpty), perHandle.toString)
      assert(perHandle.flatten.groupBy(identity).view.mapValues(_.size).toMap ==
        blocks.flatten.map(_ -> 1).toMap)
    }
  }

  test("an ORDER BY result's handles, read in order, are globally sorted") {
    val t = table(Seq((1L to 40L).toSeq, (41L to 80L).toSeq, (81L to 120L).toSeq))
    val (_, handles) = client.planQuery(
      s"SELECT `id`, `v` FROM `main`.`$t` ORDER BY `id` DESC", 4)
    val ids = handles.flatMap(read)
    assert(ids == (1L to 120L).reverse)
  }

  test("an empty table yields one empty handle") {
    val t = table(Seq.empty)
    val (_, handles) = client.planQuery(s"SELECT `id`, `v` FROM `main`.`$t`", 4)
    assert(handles.size == 1)
    assert(read(handles.head).isEmpty)
  }

  test("a fresh GROUP BY runs its aggregate's shuffle-map stage once and " +
    "adds no repartition stage") {
    val t = table(Seq((1L to 200L).toSeq, (201L to 400L).toSeq))
    val tag = s"plan-query-${System.nanoTime()}"
    val marker = tag + "-marker"
    val stages = mutable.Map.empty[Int, String] // stage id -> tag of its job
    val markerJobs = mutable.Set.empty[Int]
    val shuffleWriters = new AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.spec.tag")))
          .foreach { v =>
            e.stageIds.foreach(stages(_) = v)
            if (v == marker) markerJobs += e.jobId
          }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        if (stages.get(e.stageInfo.stageId).contains(tag) &&
          e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleWriters.incrementAndGet()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        if (markerJobs.contains(e.jobId)) drained.countDown()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.tag", tag)
      val (_, handles) = client.planQuery(
        s"SELECT `id` % 7 AS `k`, count(*) AS `c` FROM `main`.`$t` GROUP BY `k`", 4)
      assert(handles.flatMap(h => client.readPartition(h).map(_.getLong(1))).sum == 400L)
      // the listener bus delivers in order: once a later job's end
      // arrives, every stage event of the statement's jobs has too
      sc.setLocalProperty("graft.spec.tag", marker)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
    assert(shuffleWriters.get == 1,
      s"${shuffleWriters.get} shuffle-writing stages; expected only the aggregate's")
  }
}
