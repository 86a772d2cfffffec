package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loads the driver-generated TPC-H-ish parquet corpus (TESTDATA.md) and
  * registers each table as a temp view so both the DataFrame API and
  * `spark.sql` queries can address them by name (matching the DuckDB
  * oracle's table names).
  *
  * Scale note: these are plain parquet scans — Catalyst pushes filters and
  * required columns down to the parquet reader, so every query built on top
  * starts from a pruned columnar scan. At cluster scale the same views
  * would be external tables; nothing here materializes data on the driver.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as TIMESTAMP(NANOS) (which Spark's reader
      // rejects — read nanos as long, truncate to micros) and as plain
      // timestamp[us] (reads as TIMESTAMP_NTZ). Normalize BY RESOLVED TYPE
      // to session-zoned TimestampType micros so every query downstream
      // sees one shape regardless of which corpus generation is on disk.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.withColumn("ts", normalizedTs(raw.schema("ts").dataType))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** events.ts raw column → TimestampType micros, dispatched on the raw
    * parquet type (see [[load]]). Sessions run UTC, so the NTZ cast and
    * DuckDB's native read of the same file agree on instants.
    */
  def normalizedTs(raw: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw match {
      case LongType => timestamp_micros((col("ts") / 1000L).cast("long"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType => col("ts")
      case other => throw new IllegalStateException(
        s"unexpected events.ts parquet type: ${other.simpleString}")
    }
  }

  /** A literal of `micros` rendered in the RAW events.ts type — for rows
    * appended next to the raw file (streaming sentinels).
    */
  def rawTsLit(micros: Long, raw: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw match {
      case LongType => lit(micros * 1000L)
      case TimestampNTZType => timestamp_micros(lit(micros)).cast(TimestampNTZType)
      case TimestampType => timestamp_micros(lit(micros))
      case other => throw new IllegalStateException(
        s"unexpected events.ts parquet type: ${other.simpleString}")
    }
  }

  /** Change-detectable token of a corpus parquet file: (length, mtime
    * millis). The round-13 memo law: corpus-constant memos must key on a
    * data-version token so a regenerated corpus can never serve a stale
    * constant. The parquet testdata has no store version counter, so the
    * file metadata IS the token — zero-scan to compute, and any in-place
    * regeneration (the round-6 r41/r42 poisoning class) changes it.
    */
  def dataToken(dir: String, table: String): (Long, Long) = {
    val f = new java.io.File(s"$dir/$table.parquet")
    (f.length(), f.lastModified())
  }

  /** A corpus-constant memo over `table`: every entry keys on (session,
    * dir, [[dataToken]] of `table`). The memo builds its own key, so the
    * memo law holds by construction — no caller can key without the token.
    */
  final class CorpusMemo[V](table: String) {
    private val entries =
      scala.collection.concurrent.TrieMap.empty[(SparkSession, String, (Long, Long)), V]

    def keys: Iterable[(SparkSession, String, (Long, Long))] = entries.keys
    def values: Iterable[V] = entries.values

    /** The memoized value for (`s`, `dir`) at the corpus' current token;
      * a hit that fails `valid` is dropped and recomputed.
      */
    def apply(s: SparkSession, dir: String, valid: V => Boolean = (_: V) => true)(
        compute: => V): V = {
      val key = (s, dir, dataToken(dir, table))
      entries.get(key).foreach(v => if (!valid(v)) entries.remove(key, v))
      entries.getOrElseUpdate(key, compute)
    }
  }

  // one registration per (session, dir): every gate query calls register,
  // and re-reading 10 parquet footers per query dominates small-query
  // latency; key on the session so concurrent suites stay isolated
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register all tables as temp views for the given scale-factor dir. */
  def register(spark: SparkSession, dir: String): Unit =
    if (registered.get(spark) != dir) {
      names.foreach { n => load(spark, dir, n).createOrReplaceTempView(n) }
      registered.put(spark, dir)
    }
}
