package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.client.{EmbeddedClickHouse, RowBinary}

/** `ingest_fresh`: appends beside reads. One step appends one seeded slice
  * of a lineitem-shaped table (1/40 of `sf`) through `writeTo(...).append()`
  * into a MergeTree table ordered by key, then runs one of two reads over
  * the whole table, alternating: a filtered aggregate or a key-range lookup. Every read
  * follows an append, so the store's view cache always misses. A cycle is
  * [[cycleLength]] steps and starts from an empty table, so each cycle
  * covers the same part-count range.
  */
final class Ingest(ctx: Ctx, sf: Double) extends Workload {
  import Ingest._

  val cycleLength = 5
  val readKind = "fresh_read"
  val rowsKind = "append"

  private val tr = ctx.tracer
  private val rng = new java.util.SplittableRandom(ctx.seed)
  private val orders = math.round(1500000 * sf)
  private val wrong = ctx.args.wrongExpectation
  private var spark: SparkSession = _
  private var client: EmbeddedClickHouse = _
  private var root: Path = _
  private var order: IndexedSeq[Int] = 0 until Slices
  private val live = mutable.ArrayBuffer.empty[Row]
  private var cycleUserBytes = 0L
  private val storedRatios = mutable.ArrayBuffer.empty[Double]
  private val partCounts = mutable.ArrayBuffer.empty[Int]

  /** Rows of orders k = slice (mod 40), four lines each. */
  private def slice(s: Int): IndexedSeq[Row] = {
    val r = new java.util.SplittableRandom(ctx.seed * 1000003L + s)
    for {
      k <- (s.toLong + 1) to orders by Slices
      ln <- 1 to 4
    } yield Row(k, ln, (1 + r.nextInt(50)).toDouble, r.nextInt(10000000) / 100.0,
      Flags(r.nextInt(Flags.size)))
  }

  private def tableDir: Path = root.resolve("main").resolve(Table)

  def prepare(s: SparkSession): Unit = ()

  def setUp(s: SparkSession, storeRoot: Path): Unit = {
    spark = s
    root = storeRoot
    client = new EmbeddedClickHouse(storeRoot.toString)
    Main.registerCatalog(s, "clickhouse", Main.catalogOptions(ctx, "path" -> storeRoot.toString))
    graft.GraftSession.install(s)
    s.sql(s"""CREATE TABLE clickhouse.main.$Table
             |(l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE,
             | l_extendedprice DOUBLE, l_returnflag STRING)
             |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'l_orderkey')""".stripMargin)
    client.createTable("main", BlockTable, ChColumns, Map("engine" -> "MergeTree", "order_by" -> "l_orderkey"))
    live.clear()
    spark.createDataFrame(slice(0).asJava, Schema).writeTo(s"clickhouse.main.$Table").append()
    read(0, 40.0).collect()
    read(1, 1.0).collect()
    restart()
  }

  def tearDown(): Unit = ()

  private def restart(): Unit = {
    client.truncateTable("main", Table)
    live.clear()
    cycleUserBytes = 0L
    order = Stats.shuffle(rng, 0 until Slices)
  }

  private def read(shape: Int, literal: Double): DataFrame = {
    val t = spark.table(s"clickhouse.main.$Table")
    if (shape == 0)
      t.filter(col("l_quantity") > literal).groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("qty"))
    else
      t.filter(col("l_orderkey").between(literal.toLong, literal.toLong + KeyRange - 1))
        .select("l_orderkey", "l_linenumber", "l_quantity")
  }

  /** What [[read]] must return over the rows appended so far. */
  private def expected(shape: Int, literal: Double): Seq[Row] =
    if (shape == 0)
      live.filter(_.getDouble(2) > literal).groupBy(_.getString(4)).toSeq.map {
        case (f, rs) => Row(f, rs.size.toLong, rs.map(_.getDouble(2)).sum)
      }
    else {
      val lo = literal.toLong
      live.filter(r => r.getLong(0) >= lo && r.getLong(0) < lo + KeyRange)
        .map(r => Row(r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    }

  /** Whole-table count and quantity sum against the rows appended so far. */
  private def running(): Boolean = {
    val r = spark.table(s"clickhouse.main.$Table").agg(count(lit(1)), sum("l_quantity")).head()
    val n = r.getLong(0) + (if (wrong) 1 else 0)
    n == live.size && (n == 0 || r.getDouble(1) == live.map(_.getDouble(2)).sum)
  }

  def step(i: Int): Seq[Op] = {
    val pos = i % cycleLength
    if (pos == 0) restart()
    val rows = slice(order(pos))
    val df = spark.createDataFrame(rows.asJava, Schema)
    cycleUserBytes += rowBinaryBytes(rows)
    val (_, appendMs) = tr.op("append")(df.writeTo(s"clickhouse.main.$Table").append())
    live ++= rows
    val parts = Host.countFiles(tableDir, ".parquet")
    partCounts += parts
    tr.gauge("client.embedded.parts", parts)
    if (pos == cycleLength - 1) {
      val ratio = Host.treeBytes(tableDir, ".parquet").toDouble / cycleUserBytes
      storedRatios += ratio
      tr.gauge("client.embedded.stored_bytes_per_user_byte", ratio)
    }

    val shape = pos % 2
    val literal =
      if (shape == 0) ReadPool(rng.nextInt(ReadPool.size))
      else (1 + rng.nextLong(orders - KeyRange)).toDouble
    val want = Check.perturb(expected(shape, literal), wrong)
    val ((got, qe), readMs) = tr.op("fresh_read") {
      val df = tr.span("analysis")(read(shape, literal))
      val qe = df.queryExecution
      tr.span("optimization")(qe.optimizedPlan)
      tr.span("planning")(qe.executedPlan)
      (tr.timed("spark.execution_ms")(df.collect().toSeq), qe)
    }
    val remote = Plans.remote(qe.executedPlan)
    tr.count("pushdown.remote_statements", remote.size)
    Plans.recordPlanning(tr, qe)
    tr.replay {
      remote.headOption.foreach { case (sql, _) =>
        EmbeddedClickHouse.invalidate(root.toString)
        tr.timed("client.embedded.describe_cold_ms")(client.describeQuery(sql))
        tr.timed("client.embedded.describe_warm_ms")(client.describeQuery(sql))
      }
      Replay.embedded(tr, client, remote.map(_._1), ctx.cpus)
      tr.timed("client.embedded.insert_ms_per_block")(
        client.insert("main", BlockTable, Schema, rows.take(Block)))
      client.truncateTable("main", BlockTable)
    }
    val readOk = Check.sameRows(got, want)
    Seq(Op("append", "append", appendMs, rows.size, running(), tr.active),
      Op("fresh_read", ReadShapes(shape), readMs, got.size, readOk, tr.active))
  }

  def beforeLoop(): Unit = ()

  /** The final total must match too. */
  def finish(ops: Seq[Op]): Unit =
    if (!running()) ops.reverseIterator.find(_.kind == "append").foreach(_.ok = false)

  def detail(ops: Seq[Op]): Map[String, Metric] = {
    val ap = ops.filter(_.kind == "append")
    val rd = ops.filter(_.kind == "fresh_read")
    Stats.latency("insert", ap.map(_.ms)) ++ Stats.latency("fresh_read", rd.map(_.ms)) ++
      Stats.byShape(rd) ++ Map(
      "insert_rows_per_s" -> Metric(ap.map(_.rows).sum / (ap.map(_.ms).sum / 1000), "rows/s"),
      "stored_bytes_per_user_byte" ->
        Metric(storedRatios.headOption.getOrElse(0.0), "B/B"),
      "max_parts" -> Metric(if (partCounts.isEmpty) 0 else partCounts.max, "count"))
  }
}

object Ingest {
  val Table = "li_fresh"
  val BlockTable = "li_block"
  val Slices = 40
  val KeyRange = 2000L
  val Block = 10000
  val ReadPool: IndexedSeq[Double] = IndexedSeq(10.0, 20.0, 30.0, 40.0)
  val Flags: IndexedSeq[String] = IndexedSeq("A", "N", "R")
  val ReadShapes: IndexedSeq[String] = IndexedSeq("filtered_agg", "key_range")

  val Schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_returnflag", StringType)))

  val ChColumns: Seq[(String, String)] = Seq(
    "l_orderkey" -> "Nullable(Int64)", "l_linenumber" -> "Nullable(Int32)",
    "l_quantity" -> "Nullable(Float64)", "l_extendedprice" -> "Nullable(Float64)",
    "l_returnflag" -> "Nullable(String)")

  /** RowBinary bytes of `rows` (the user bytes of stored_bytes_per_user_byte). */
  def rowBinaryBytes(rows: Seq[Row]): Long = {
    val encs = ChColumns.map { case (_, t) => RowBinary.encoder(t.stripPrefix("Nullable(").stripSuffix(")")) }
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    rows.foreach(r => encs.indices.foreach(i => encs(i).write(out, r.get(i))))
    out.flush()
    bos.size().toLong
  }
}
