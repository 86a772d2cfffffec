package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.client.{HttpClickHouseClient, MockClickHouseHttp}

/** `wire_scan`: the HTTP RowBinary transport against the in-JVM mock
  * server. Steps alternate (a) a Spark scan of the mock's `bench.wire_read`
  * through an `endpoint` catalog with lz4, materialized through the
  * executed plan with a checksum fold over every served value, and (b) an
  * insert of [[InsertRows]] rows in blocks of [[Block]] through
  * `ClickHouseClient.insert`, the call the DSv2 writer makes per batch.
  * Only the mock's public surface is used.
  */
final class Wire(ctx: Ctx, scanRows: Long) extends Workload {
  import Wire._

  val cycleLength = 2
  val readKind = "scan"
  val rowsKind = "scan"

  private val tr = ctx.tracer
  private val wrong = ctx.args.wrongExpectation
  private var spark: SparkSession = _
  private var mock: MockClickHouseHttp = _
  private var http: HttpClickHouseClient = _
  private var blocks: IndexedSeq[IndexedSeq[Row]] = _
  private var expected: Sum = _
  private var insertBytes = 0L
  private var insertedRows = 0L

  def prepare(s: SparkSession): Unit = {
    val r = new java.util.SplittableRandom(ctx.seed)
    blocks = (0 until InsertRows / Block).map(b => (0 until Block).map { j =>
      Row((b * Block + j).toLong, r.nextDouble() * 1000, s"t${r.nextInt(1000)}")
    })
    // the mock serves row i as (i, i * 0.5, "tag_" + i % 1000)
    expected = (0L until scanRows).foldLeft(Sum(0, 0, 0.0, 0)) { (a, i) =>
      a.add(i, i * 0.5, UTF8String.fromString(s"tag_${i % 1000}").hashCode)
    }
  }

  def setUp(s: SparkSession, root: Path): Unit = {
    spark = s
    mock = new MockClickHouseHttp
    mock.wireReadRows = scanRows
    Main.registerCatalog(s, "chwire", Main.catalogOptions(ctx,
      "endpoint" -> mock.endpoint, "compression" -> "lz4"))
    graft.GraftSession.install(s)
    http = new HttpClickHouseClient(mock.endpoint, compression = "lz4")
    http.createTable("bench", "wire_sink", Columns, Map("engine" -> "MergeTree", "order_by" -> "id"))
    scan()
    insert()
  }

  def tearDown(): Unit = if (mock != null) mock.close()

  def step(i: Int): Seq[Op] = Seq(if (i % 2 == 0) scan() else insert())

  private def statements(): Seq[String] =
    Iterator.continually(mock.statements.poll()).takeWhile(_ != null).toSeq

  private def scan(): Op = {
    statements()
    val ((sums, qe), ms) = tr.op("scan") {
      val df = tr.span("analysis")(spark.table("chwire.bench.wire_read"))
      val qe = df.queryExecution
      tr.span("optimization")(qe.optimizedPlan)
      tr.span("planning")(qe.executedPlan)
      (tr.timed("spark.execution_ms")(qe.toRdd.mapPartitions(fold).collect()), qe)
    }
    val got = sums.foldLeft(Sum(0, 0, 0.0, 0))(_ merge _)
    val remote = Plans.remote(qe.executedPlan)
    val sent = statements().filter(q => q.startsWith("SELECT") && q.contains("`wire_read`"))
    tr.count("pushdown.remote_statements", remote.size)
    Plans.recordPlanning(tr, qe)
    tr.replay {
      remote.foreach { case (sql, _) => Replay.http(tr, http, sql, ctx.cpus) }
      Replay.codec(tr, blocks.head, Columns)
    }
    val exp = if (wrong) expected.copy(n = expected.n + 1) else expected
    val ok = got == exp && remote.map(_._2).sum == exp.n &&
      sent.nonEmpty && sent.forall(q => PlainProjection.pattern.matcher(q).matches())
    Op("scan", "scan", ms, got.n, ok, tr.active)
  }

  private def insert(): Op = {
    val r0 = mock.rowsReceived.get
    val b0 = mock.bytesReceived.get
    val (_, ms) = tr.op("wire_insert") {
      blocks.foreach(b => tr.timed("client.http.insert_ms_per_block")(
        http.insert("bench", "wire_sink", Schema, b)))
    }
    val rows = mock.rowsReceived.get - r0
    val bytes = mock.bytesReceived.get - b0
    insertBytes += bytes
    insertedRows += rows
    tr.gauge("client.http.insert_wire_bytes_per_row", bytes.toDouble / rows)
    Op("wire_insert", "insert", ms, rows, rows == InsertRows + (if (wrong) 1 else 0), tr.active)
  }

  def beforeLoop(): Unit = ()

  def finish(ops: Seq[Op]): Unit = ()

  def detail(ops: Seq[Op]): Map[String, Metric] = {
    val sc = ops.filter(_.kind == "scan")
    val in = ops.filter(_.kind == "wire_insert")
    Stats.latency("scan", sc.map(_.ms)) ++ Stats.latency("wire_insert", in.map(_.ms)) ++ Map(
      "scan_rows_per_s" -> Metric(sc.map(_.rows).sum / (sc.map(_.ms).sum / 1000), "rows/s"),
      "wire_insert_rows_per_s" -> Metric(in.map(_.rows).sum / (in.map(_.ms).sum / 1000), "rows/s"),
      "wire_insert_bytes_per_row" -> Metric(insertBytes.toDouble / math.max(1, insertedRows), "B"))
  }
}

object Wire {
  val InsertRows = 100000
  val Block = 10000
  val Columns: Seq[(String, String)] = Seq("id" -> "Int64", "v" -> "Float64", "tag" -> "String")
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType), StructField("tag", StringType)))

  /** The scan must reach the mock as a plain projection: the mock streams
    * every row for any SELECT on `wire_read`, so anything pushed further
    * (filter, aggregate, limit) would be answered wrongly.
    */
  val PlainProjection: scala.util.matching.Regex =
    raw"SELECT `id`, `v`, `tag` FROM `bench`\.`wire_read`( FORMAT RowBinaryWithNamesAndTypes)?".r

  /** Row count, id sum, value sum and tag-hash sum of a scan. */
  final case class Sum(n: Long, ids: Long, vs: Double, tags: Long) {
    def add(id: Long, v: Double, tag: Int): Sum = Sum(n + 1, ids + id, vs + v, tags + tag)
    def merge(o: Sum): Sum = Sum(n + o.n, ids + o.ids, vs + o.vs, tags + o.tags)
  }

  def fold(it: Iterator[InternalRow]): Iterator[Sum] = {
    var n = 0L; var ids = 0L; var vs = 0.0; var tags = 0L
    while (it.hasNext) {
      val r = it.next()
      n += 1; ids += r.getLong(0); vs += r.getDouble(1); tags += r.getUTF8String(2).hashCode
    }
    Iterator.single(Sum(n, ids, vs, tags))
  }
}
