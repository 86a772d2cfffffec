package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.catalog.ClickHouseCatalog

/** One benchmark run: set up [[SetupReps]] times (median reported as
  * `setup_s`), run the workload's closed loop with one client for
  * `--seconds`, rounded up to whole cycles, check every result, and print a detail line followed by the
  * result line. `--trace 1` prints the per-layer metrics instead of the
  * end-to-end ones and writes the spans under `--trace-out`.
  */
object Main {
  val SetupReps = 3
  /** TPC-H scale of the federated tables and of the ingest slices. */
  val Scale = 0.1
  /** Rows of the mock's `wire_read` table served per scan. */
  val WireScanRows = 1000000L

  def catalogOptions(ctx: Ctx, extra: (String, String)*): Map[String, String] =
    Map("read.streams" -> ctx.cpus.toString, "write.concurrency" -> "1") ++ extra

  def registerCatalog(s: SparkSession, name: String, opts: Map[String, String]): Unit = {
    s.conf.set(s"spark.sql.catalog.$name", classOf[ClickHouseCatalog].getName)
    opts.foreach { case (k, v) => s.conf.set(s"spark.sql.catalog.$name.$k", v) }
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(Args.parse(argv))
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def run(a: Args): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer(a.trace)
    val ctx = Ctx(a, tracer)
    val w: Workload = a.workload match {
      case "federated_olap" => new Federated(ctx, Scale)
      case "ingest_fresh" => new Ingest(ctx, Scale)
      case "wire_scan" => new Wire(ctx, WireScanRows)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = mutable.ArrayBuffer.empty[Double]
    var inputsS = 0.0
    var spark: SparkSession = null
    try {
      for (rep <- 0 until SetupReps) {
        // the first set-up counts from JVM start; input generation is not set-up
        val start = if (rep == 0) jvmStart else System.currentTimeMillis()
        spark = session(a)
        val inputs = System.currentTimeMillis()
        if (rep == 0) w.prepare(spark)
        val excluded = System.currentTimeMillis() - inputs
        if (rep == 0) inputsS = excluded / 1000.0
        w.setUp(spark, a.work.resolve(s"store-$rep"))
        setups += (System.currentTimeMillis() - start - excluded) / 1000.0
        if (rep < SetupReps - 1) {
          w.tearDown()
          stop(spark)
          Host.deleteTree(a.work.resolve(s"store-$rep"))
        }
      }
      tracer.attach(spark)
      val c0 = System.nanoTime()
      w.beforeLoop()
      val checksBeforeS = (System.nanoTime() - c0) / 1e9

      val ops = mutable.ArrayBuffer.empty[Op]
      val cpu0 = Host.cpuJiffies()
      val t0 = System.nanoTime()
      val deadline = t0 + a.seconds * 1000000000L
      // whole cycles only, so every run samples the same operation mix. A
      // traced run needs the untraced cycle 0 and then two traced (1, 3) and
      // two untraced (2, 4) cycles, so that the overhead compares cycles at
      // balanced positions while later cycles still run faster than earlier
      val minCycles = if (a.trace) 5 else 1
      var i = 0
      var warmOps = 0
      while (System.nanoTime() < deadline || i % w.cycleLength != 0 ||
        i < minCycles * w.cycleLength) {
        tracer.cycle = i / w.cycleLength
        tracer.active = a.trace && tracer.cycle % 2 == 1
        if (i == w.cycleLength) warmOps = ops.size
        ops ++= (try w.step(i) catch {
          case e: Exception =>
            System.err.println(s"perfbench: step $i failed: $e")
            Seq(Op("error", "", 0.0, 0L, ok = false, tracer.active))
        })
        i += 1
      }
      val elapsedS = (System.nanoTime() - t0) / 1e9
      val steal = Host.stealPct(cpu0, Host.cpuJiffies())
      val rssMb = Host.peakRssMb()
      // Spark's ContextCleaner frees broadcast and shuffle state only after
      // a collection has enqueued its weak references, asynchronously: the
      // least of three collections a moment apart is the live heap
      val heapMb = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(300)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min
      val v0 = System.nanoTime()
      w.finish(ops.toSeq)
      val checksS = checksBeforeS + (System.nanoTime() - v0) / 1e9

      val timed = ops.filter(_.kind != "error")
      val reads = timed.filter(_.kind == w.readKind)
      val rowOps = timed.filter(_.kind == w.rowsKind)
      require(reads.nonEmpty, "no read operation completed")
      val failed = ops.count(!_.ok)
      val endToEnd = Map(
        "setup_s" -> Metric(Stats.quantile(setups.toSeq, 0.5), "s"),
        "ok_ratio" -> Metric((ops.size - failed).toDouble / ops.size, "ratio"),
        "heap_live_mb" -> Metric(heapMb, "MB"),
        "read_shape_p50_ms" -> Metric(Stats.shapeP50(reads.toSeq), "ms"),
        "ops_per_s" -> Metric(timed.size / (timed.map(_.ms).sum / 1000), "1/s"),
        "rows_per_s" -> Metric(rowOps.map(_.rows).sum / (rowOps.map(_.ms).sum / 1000), "rows/s"))
      val detail = w.detail(timed.toSeq) ++ Map(
        "host.steal_pct" -> Metric(steal, "%"),
        "measured_s" -> Metric(elapsedS, "s"),
        "inputs_s" -> Metric(inputsS, "s"),
        "peak_rss_mb" -> Metric(rssMb, "MB"),
        "checks_s" -> Metric(checksS, "s"),
        "setup_reps_s_max" -> Metric(setups.max, "s"),
        "setup_reps_s_min" -> Metric(setups.min, "s"))
      val metrics =
        if (a.trace) Layers.metrics(tracer, ops.drop(warmOps).filter(_.kind != "error").toSeq,
          w.readKind, steal)
        else endToEnd
      tracer.write(a.traceOut.resolve(s"${a.workload}-seed${a.seed}.spans.jsonl"))
      println(s"""{"workload": ${Json.str(a.workload)}, "seed": ${a.seed}, "detail": ${Json.metrics(detail)}}""")
      if (a.trace) println(s"""{"end_to_end_of_traced_run": ${Json.metrics(endToEnd)}}""")
      println(s"""{"correct": ${failed == 0}, "attempted": ${ops.size}, "failed": $failed, "metrics": ${Json.metrics(metrics)}}""")
      0
    } finally {
      w.tearDown()
      if (spark != null) stop(spark)
    }
  }
}
