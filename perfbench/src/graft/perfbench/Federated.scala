package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.ClickHouseCatalog
import graft.client.EmbeddedClickHouse

/** `federated_olap`: read-only, small-result federated queries over the
  * embedded store with the TPC-H tables attached zero-copy. One step is one
  * query; a cycle runs the eight shapes in a seeded order, each with a
  * literal drawn from its small seeded pool. Set-up runs every distinct
  * statement once, so the loop measures repeated statements with the
  * store's caches warm. Those set-up results are checked against the same
  * queries over the local parquet views before the loop, and each loop
  * result must equal its statement's checked result.
  */
final class Federated(ctx: Ctx, sf: Double) extends Workload {
  import Federated._

  val cycleLength: Int = shapes.size
  val readKind = "query"
  val rowsKind = "query"

  private val tr = ctx.tracer
  private val rng = new java.util.SplittableRandom(ctx.seed)
  private var order: IndexedSeq[Int] = shapes.indices
  private var spark: SparkSession = _
  private var client: EmbeddedClickHouse = _
  private var catalog: ClickHouseCatalog = _
  /** Set-up result per distinct statement, and whether it matched. */
  private val checked = mutable.LinkedHashMap.empty[String, (Seq[Row], Boolean)]
  private def statements = for (shape <- shapes; literal <- shape.pool) yield (shape, literal)

  def prepare(s: SparkSession): Unit = Tpch.generate(s, ctx.seed, sf, ctx.dataDir, ctx.cpus)

  def setUp(s: SparkSession, root: Path): Unit = {
    spark = s
    client = new EmbeddedClickHouse(root.toString)
    Tpch.storeColumns.foreach { case (t, cols) =>
      client.createTable("main", t, cols, Map("engine" -> "MergeTree"))
      client.attachExternal("main", t, Seq(ctx.dataDir.resolve(s"$t.parquet").toString))
    }
    val opts = Main.catalogOptions(ctx, "path" -> root.toString)
    Main.registerCatalog(s, "clickhouse", opts)
    catalog = new ClickHouseCatalog
    catalog.initialize("clickhouse", new CaseInsensitiveStringMap(opts.asJava))
    graft.GraftSession.install(s)
    Tpch.registerLocal(s, ctx.dataDir)
    statements.foreach { case (shape, literal) =>
      checked(s"${shape.name}|$literal") = (shape.df(s, true, literal).collect().toSeq, false)
    }
  }

  def tearDown(): Unit = ()

  def step(i: Int): Seq[Op] = {
    if (i % shapes.size == 0) order = Stats.shuffle(rng, shapes.indices)
    val shape = shapes(order(i % shapes.size))
    val literal = shape.pool(rng.nextInt(shape.pool.size))
    val key = s"${shape.name}|$literal"
    val ((rows, qe), ms) = tr.op("query") {
      val df = tr.span("analysis")(shape.df(spark, true, literal))
      val qe = df.queryExecution
      tr.span("optimization")(qe.optimizedPlan)
      tr.span("planning")(qe.executedPlan)
      (tr.timed("spark.execution_ms")(df.collect().toSeq), qe)
    }
    val remote = Plans.remote(qe.executedPlan)
    tr.count("pushdown.remote_statements", remote.size)
    Plans.recordPlanning(tr, qe)
    tr.replay {
      shape.tables.foreach(t => tr.timed("catalog.load_table_ms")(
        catalog.loadTable(Identifier.of(Array("main"), t))))
      Replay.embedded(tr, client, remote.map(_._1), ctx.cpus)
    }
    val (expected, matched) = checked(key)
    Seq(Op("query", shape.name, ms, remote.map(_._2).sum,
      matched && Check.sameRows(rows, expected), tr.active))
  }

  def beforeLoop(): Unit =
    statements.foreach { case (shape, literal) =>
      val key = s"${shape.name}|$literal"
      val got = checked(key)._1
      val expected = Check.perturb(
        shape.df(spark, false, literal).collect().toSeq, ctx.args.wrongExpectation)
      checked(key) = (got, Check.sameRows(got, expected))
    }

  def finish(ops: Seq[Op]): Unit = ()

  def detail(ops: Seq[Op]): Map[String, Metric] = {
    val q = ops.filter(_.kind == "query")
    Stats.latency("query", q.map(_.ms)) ++ Stats.byShape(q) ++ Map(
      "queries_per_s" -> Metric(q.size / (q.map(_.ms).sum / 1000), "1/s"),
      "distinct_statements" -> Metric(checked.size, "count"))
  }
}

object Federated {
  /** One query shape: `df(spark, remote, literal)` builds it over the
    * store's catalog (remote) or the local parquet views (expected).
    */
  final case class Shape(
      name: String, tables: Seq[String], pool: IndexedSeq[Any],
      df: (SparkSession, Boolean, Any) => DataFrame)

  private def t(s: SparkSession, remote: Boolean, name: String): DataFrame =
    if (remote) s.table(s"clickhouse.main.$name") else s.table(name)

  val shapes: IndexedSeq[Shape] = IndexedSeq(
    // filter + projection pushed into the scan SQL
    Shape("scan", Seq("lineitem"),
      IndexedSeq((45, "A"), (47, "R")),
      (s, r, l) => {
        val (q, f) = l.asInstanceOf[(Int, String)]
        t(s, r, "lineitem").filter(col("l_quantity") > q && col("l_returnflag") === f)
          .select("l_orderkey", "l_quantity")
      }),
    // COUNT(*): empty-projection remote scan
    Shape("count", Seq("lineitem"), IndexedSeq("all"),
      (s, r, _) => t(s, r, "lineitem").agg(count(lit(1)).as("n"))),
    // DSv2-pushed GROUP BY
    Shape("group_by", Seq("lineitem"), IndexedSeq(0.02, 0.05),
      (s, r, l) => t(s, r, "lineitem").filter(col("l_discount") <= l.asInstanceOf[Double])
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))),
    // clickhouse(...) passthrough in the grouping key: collapsed remote node
    Shape("passthrough_agg", Seq("lineitem"), IndexedSeq("O"),
      (s, r, l) => {
        val key =
          if (r) graft.chfunctions.clickhouse(upper(col("l_returnflag")), "String")
          else upper(col("l_returnflag"))
        t(s, r, "lineitem").filter(col("l_linestatus") === l.asInstanceOf[String])
          .groupBy(key.as("rf"))
          .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
      }),
    // remote x remote join collapsed into one remote statement
    Shape("join_collapse", Seq("customer", "nation"), IndexedSeq(2500.0),
      (s, r, l) => t(s, r, "customer").filter(col("c_acctbal") > l.asInstanceOf[Double])
        .join(t(s, r, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n_cust"))),
    // remote orders x local customer, broadcast, aggregated locally
    Shape("federated_join", Seq("orders"), Tpch.Priorities.take(2).toIndexedSeq,
      (s, r, l) => t(s, r, "orders").filter(col("o_orderpriority") === l.asInstanceOf[String])
        .join(broadcast(s.table("customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))),
    // top-k pushed into the scan SQL
    Shape("top_k", Seq("orders"), IndexedSeq(10),
      (s, r, l) => t(s, r, "orders").select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(l.asInstanceOf[Int])),
    // large remote filtered scan joined to local orders: most of lineitem
    // crosses the transport
    Shape("wide_federated_join", Seq("lineitem"), IndexedSeq(10),
      (s, r, l) => t(s, r, "lineitem").filter(col("l_quantity") > l.asInstanceOf[Int])
        .select("l_orderkey", "l_quantity")
        .join(s.table("orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))))
}
