package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, cpus: Int, traceOut: Path, wrongExpectation: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      java.nio.file.Paths.get(get("work")), get("cpus").toInt,
      java.nio.file.Paths.get(get("trace-out")), m.get("wrong-expectation").contains("1"))
  }
}

/** One timed operation of the closed loop. `shape` names the statement
  * shape within `kind`; `rows` is the operation's row throughput numerator
  * (see each workload); `ok` is its correctness check.
  */
final case class Op(
    kind: String, shape: String, ms: Double, rows: Long, var ok: Boolean, traced: Boolean)

final case class Metric(value: Double, unit: String)

/** Everything a workload shares with the closed loop in [[Main]]. */
final case class Ctx(args: Args, tracer: Tracer) {
  def seed: Long = args.seed
  def cpus: Int = args.cpus
  def dataDir: Path = args.work.resolve("data")
}

trait Workload {
  /** Ops per cycle: the seeded sequence that repeats, and the unit over
    * which the trace's deterministic counts are taken.
    */
  def cycleLength: Int
  /** Kind of the operation whose latency is `read_shape_p50_ms`. */
  def readKind: String
  /** Kind whose rows and time give `rows_per_s`. */
  def rowsKind: String
  /** Input generation; runs once per JVM and is not part of set-up time. */
  def prepare(spark: SparkSession): Unit
  /** Store attach / mock start / warmup on a fresh session (timed set-up). */
  def setUp(spark: SparkSession, root: Path): Unit
  def tearDown(): Unit
  /** Step `i` of the closed loop: one or more timed operations. */
  def step(i: Int): Seq[Op]
  /** Untimed work between set-up and the loop (expected results). */
  def beforeLoop(): Unit
  /** Post-loop checks (outside the timed loop); may flip ops to failed. */
  def finish(ops: Seq[Op]): Unit
  /** Workload-specific end-to-end figures for the detail line. */
  def detail(ops: Seq[Op]): Map[String, Metric]
}

object Stats {
  /** Fisher-Yates shuffle driven by a seeded `rng`. */
  def shuffle(rng: java.util.SplittableRandom, xs: IndexedSeq[Int]): IndexedSeq[Int] = {
    val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Geometric mean over shapes of each shape's median latency: steady
    * under a shape mix that is uniform per cycle but whose shapes differ
    * in cost, where the median of the pooled samples jumps between shapes.
    */
  def shapeP50(ops: Seq[Op]): Double = {
    val meds = ops.groupBy(_.shape).values.map(o => quantile(o.map(_.ms), 0.5))
    math.exp(meds.map(math.log).sum / meds.size)
  }

  /** Each shape's median latency, for the detail line. */
  def byShape(ops: Seq[Op]): Map[String, Metric] =
    ops.groupBy(_.shape).map { case (s, o) => s"shape.${s}_p50_ms" -> Metric(quantile(o.map(_.ms), 0.5), "ms") }

  /** p50 and the highest percentile with at least ten samples beyond it
    * (p90 needs 100 samples), each with the sample count.
    */
  def latency(prefix: String, xs: Seq[Double]): Map[String, Metric] =
    if (xs.isEmpty) Map(s"${prefix}_n" -> Metric(0, "count"))
    else {
      val n = xs.size
      val tail =
        if (n >= 100) Some(90)
        else if (n >= 20) Some(math.floor(100.0 * (1 - 10.0 / n)).toInt)
        else None
      Map(s"${prefix}_p50_ms" -> Metric(quantile(xs, 0.5), "ms"),
        s"${prefix}_n" -> Metric(n, "count")) ++
        tail.map(p => s"${prefix}_p${p}_ms" -> Metric(quantile(xs, p / 100.0), "ms"))
    }
}

object Json {
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def metrics(ms: Map[String, Metric]): String =
    ms.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${str(k)}: {${str("value")}: ${num(m.value)}, ${str("unit")}: ${str(m.unit)}}"
    }.mkString("{", ", ", "}")
}

/** Host-level counters read from /proc. */
object Host {
  /** (steal jiffies, total jiffies) from the aggregate cpu line. */
  def cpuJiffies(): (Long, Long) = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val v = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    }
  }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 == a._2) 0.0 else 100.0 * (b._1 - a._1) / (b._2 - a._2)

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb(): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
  }

  def treeBytes(dir: Path, suffix: String): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(suffix)).map(Files.size).sum
      finally s.close()
    }

  def countFiles(dir: Path, suffix: String): Int =
    if (!Files.isDirectory(dir)) 0
    else {
      val s = Files.list(dir)
      try s.iterator.asScala.count(_.getFileName.toString.endsWith(suffix))
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** Order-insensitive result comparison. Doubles compare with a relative
  * tolerance: remote and local engines may sum in different orders.
  */
object Check {
  private def key(r: Row): String = r.toSeq.map {
    case d: Double => f"$d%.6e"
    case null => "\u0000"
    case v => v.toString
  }.mkString("\u0001")

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case _ => a == b
  }

  def sameRows(actual: Seq[Row], expected: Seq[Row]): Boolean =
    actual.size == expected.size && {
      val a = actual.sortBy(key)
      val e = expected.sortBy(key)
      a.zip(e).forall { case (x, y) =>
        x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
      }
    }

  /** The deliberately wrong expectation of the self-test: one extra row. */
  def perturb(expected: Seq[Row], on: Boolean): Seq[Row] =
    if (!on) expected else expected :+ Row.fromSeq(Seq.fill(
      expected.headOption.map(_.length).getOrElse(1))(null))
}
