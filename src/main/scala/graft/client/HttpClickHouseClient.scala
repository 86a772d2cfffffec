package graft.client

import java.io.{DataInputStream, DataOutputStream, EOFException, IOException, InputStream, OutputStream}
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Semaphore}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

import graft.connector.ColumnarPack
import graft.types.ClickHouseType

/** [[ClickHouseClient]] over ClickHouse's public HTTP interface
  * (https://clickhouse.com/docs/en/interfaces/http): metadata statements run
  * as TSV, result rows stream back as `RowBinaryWithNamesAndTypes` blocks,
  * inserts ship `RowBinary` bodies — binary both ways, no per-row text
  * parse anywhere on the data path. This is the wire-transport counterpart
  * of the reference's pooled native connection with compressed columnar
  * blocks (/root/reference/src/connection.rs:107-178, 216-296) re-expressed
  * over the protocol every ClickHouse deployment exposes without extra
  * drivers — the whole class uses only the JDK HTTP stack plus Jackson
  * (already on Spark's classpath).
  *
  * Options are HONORED or REJECTED, never silently inert:
  *  - `compression`: `none`, `gzip`, `lz4` or `zstd` (HTTP content-codings
  *    of this interface: `enable_http_compression=1` + `Accept-Encoding`
  *    downstream, `Content-Encoding` upstream; doc §"Compression"). `lz4`
  *    matches the codec the reference pins on its native transport
  *    (tests/common/helpers.rs:29); see [[HttpCodec]].
  *  - `pool_max_size`: bounds CONCURRENT requests per (endpoint, JVM) via a
  *    shared semaphore — executor-side streams acquire a slot before
  *    opening and release on close, the bb8-pool bound of the reference
  *    (connection.rs:107-118) mapped onto JDK keep-alive connections.
  *  - `pool_retry_connection`: one reconnect retry on transport-level
  *    IOException (never on an HTTP error status).
  *  - `use_tls`: asserted against the endpoint scheme at construction.
  *  - `settings.<name>` catalog keys arrive as [[serverSettings]] and ride
  *    EVERY request (driver statements and executor streams alike) as URL
  *    parameters — ClickHouse's documented per-query settings surface,
  *    the reference's leftover-params-become-Settings behavior
  *    (utils/params.rs:256-266) namespaced explicitly. Transport-pinned
  *    names are rejected (params.rs:186-189 errors on collisions too).
  *  - Anything the HTTP stack cannot honor (cafile, pool idle/lifetime
  *    tuning, ...) is rejected at catalog setup — see ClickHouseCatalog.
  *
  * Scale shape: the DRIVER only ever runs metadata statements (DESCRIBE,
  * system.* lookups, scalar min/max). Result rows stream EXECUTOR-side:
  * [[planQuery]] returns handles carrying the SQL, and each task opens its
  * own HTTP response stream and decodes incrementally — no materialization
  * anywhere, matching the embedded transport's contract.
  * [[readPartitionColumnar]] decodes wire blocks STRAIGHT into
  * `WritableColumnVector`s (RowBinary.vectorDecoder) — the packer row
  * detour only remains for map/struct schemas. [[planQueryRanges]] splits
  * one scan into N disjoint cursor ranges so a huge remote table reads in
  * parallel across executors (SURVEY §4 "split by ORDER BY ranges").
  *
  * Hermetic testing: [[HttpClientSpec]] runs this against an in-JVM mock
  * ClickHouse HTTP server (the reference's `mocks` feature,
  * connection/mock.rs); point `CH_ENDPOINT` at a real server to run the
  * same suite over a live wire.
  */
class HttpClickHouseClient(
    val endpoint: String,
    user: String = "default",
    password: String = "",
    defaultDatabase: String = "default",
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 300000,
    compression: String = "none",
    poolMaxSize: Int = 0,
    retryConnection: Boolean = false,
    useTls: Option[Boolean] = None,
    serverSettings: Map[String, String] = Map.empty)
  extends ClickHouseClient {

  private val codec: String = HttpCodec.normalize(compression)

  // ClickHouse SERVER settings riding every request as URL parameters
  // (http doc §Settings) — the reference's Settings surface
  // (utils/params.rs:256-266). Names the transport pins for itself are
  // rejected, mirroring the reference's ClientOption-collision error
  // (params.rs:186-189).
  serverSettings.keys
    .find(k => graft.catalog.ChOptions.ReservedServerSettings(k.toLowerCase))
    .foreach { k =>
      throw new IllegalArgumentException(
        s"server setting '$k' is reserved by the HTTP transport and cannot be overridden")
    }

  useTls.foreach { tls =>
    val isHttps = endpoint.toLowerCase.startsWith("https://")
    if (tls && !isHttps) throw new IllegalArgumentException(
      s"use_tls=true but endpoint is not https: $endpoint")
    if (!tls && isHttps) throw new IllegalArgumentException(
      s"use_tls=false but endpoint is https: $endpoint")
  }

  override def connectionKey: String = s"http:$endpoint:$user"

  // session_timezone pins DateTime rendering to UTC so text-format
  // metadata (and any server-side date math) is wall-time-stable
  // regardless of server tz. (The data path is RowBinary: epoch-based,
  // timezone-unambiguous by construction.)
  private def baseSettings: Map[String, String] =
    serverSettings + ("session_timezone" -> "UTC")

  // ---- low-level HTTP ----

  private def gate: Option[Semaphore] =
    HttpClickHouseClient.gate(endpoint, poolMaxSize)

  private def withRetry[T](f: => T): T =
    try f
    catch { case e: IOException if retryConnection =>
      try f catch { case e2: IOException => e2.addSuppressed(e); throw e2 }
    }

  /** Open a request. `query` (when set) rides in the URL so the BODY can
    * carry raw insert data — the documented INSERT shape of the HTTP
    * interface; statements without out-of-band data ship as the body.
    */
  private def open(
      settings: Map[String, String],
      query: Option[String] = None,
      encodeBody: Boolean = false): HttpURLConnection = {
    val all = baseSettings ++ settings ++
      (if (codec != "none") Map("enable_http_compression" -> "1") else Map.empty) ++
      query.map("query" -> _)
    val qs = all.map { case (k, v) =>
      s"${URLEncoder.encode(k, UTF_8)}=${URLEncoder.encode(v, UTF_8)}"
    }.mkString("&")
    val url = URI.create(s"$endpoint/?$qs").toURL
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setConnectTimeout(connectTimeoutMs)
    c.setReadTimeout(readTimeoutMs)
    c.setRequestProperty("X-ClickHouse-User", user)
    if (password.nonEmpty) c.setRequestProperty("X-ClickHouse-Key", password)
    if (codec != "none") c.setRequestProperty("Accept-Encoding", codec)
    if (encodeBody && codec != "none") c.setRequestProperty("Content-Encoding", codec)
    c.setRequestProperty("Content-Type",
      if (query.isDefined) "application/octet-stream" else "text/plain; charset=UTF-8")
    c
  }

  private def responseStream(c: HttpURLConnection): InputStream =
    HttpCodec.wrapInput(c.getContentEncoding, c.getInputStream)

  private def failFor(c: HttpURLConnection, sql: String): Nothing =
    throw HttpClickHouseClient.httpError(c, sql)

  /** Driver-side statement: send, return the full (small) response body.
    * pool_retry_connection re-sends only IDEMPOTENT statements — an
    * INSERT whose connection died after the server committed would
    * duplicate rows on re-send, so writes never retry.
    */
  private def exec(sql: String, settings: Map[String, String] = Map.empty): String = {
    val idempotent = !sql.trim.toUpperCase.startsWith("INSERT")
    def once(): String = {
      val c = open(settings)
      val out = c.getOutputStream
      try { out.write(sql.getBytes(UTF_8)) } finally out.close()
      if (c.getResponseCode != 200) failFor(c, sql)
      val in = responseStream(c)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    withGate { if (idempotent) withRetry(once()) else once() }
  }

  /** Like exec but returns a response header (X-ClickHouse-Summary).
    * Callers are INSERT SELECTs — non-idempotent, never retried.
    */
  private def execWithSummary(sql: String,
      settings: Map[String, String] = Map.empty): (String, Option[String]) =
    withGate {
      val c = open(settings + ("send_progress_in_http_headers" -> "1"))
      val out = c.getOutputStream
      try { out.write(sql.getBytes(UTF_8)) } finally out.close()
      if (c.getResponseCode != 200) failFor(c, sql)
      val in = responseStream(c)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      (body, Option(c.getHeaderField("X-ClickHouse-Summary")))
    }

  private def withGate[T](f: => T): T = gate match {
    case Some(g) => g.acquire(); try f finally g.release()
    case None => f
  }

  private def tsv(sql: String): Seq[Array[String]] =
    exec(sql).split("\n").iterator.filter(_.nonEmpty).map(_.split("\t", -1)).toSeq

  private def lit(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  // ---- metadata ----

  override def listDatabases(): Seq[String] =
    tsv("SELECT name FROM system.databases ORDER BY name FORMAT TabSeparated").map(_(0))

  override def listTables(db: String): Seq[String] =
    tsv(s"SELECT name FROM system.tables WHERE database = ${lit(db)} " +
      "ORDER BY name FORMAT TabSeparated").map(_(0))

  override def tableExists(db: String, table: String): Boolean =
    tsv(s"SELECT count() FROM system.tables WHERE database = ${lit(db)} " +
      s"AND name = ${lit(table)} FORMAT TabSeparated").head(0).toLong > 0

  override def fetchColumns(db: String, table: String): Seq[(String, String)] =
    tsv(s"SELECT name, type FROM system.columns WHERE database = ${lit(db)} " +
      s"AND table = ${lit(table)} ORDER BY position FORMAT TabSeparated")
      .map(a => a(0) -> a(1))

  override def fetchTableOptions(db: String, table: String): Map[String, String] =
    tsv(s"SELECT engine, sorting_key, partition_key, sampling_key FROM system.tables " +
      s"WHERE database = ${lit(db)} AND name = ${lit(table)} FORMAT TabSeparated")
      .headOption.map { a =>
        Map("engine" -> a(0)) ++
          (if (a.length > 1 && a(1).nonEmpty) Map("order_by" -> a(1)) else Map.empty) ++
          (if (a.length > 2 && a(2).nonEmpty) Map("partition_by" -> a(2)) else Map.empty) ++
          (if (a.length > 3 && a(3).nonEmpty) Map("sampling" -> a(3)) else Map.empty)
      }.getOrElse(Map.empty)

  override def tableSizeBytes(db: String, table: String): Option[Long] =
    tsv(s"SELECT sum(bytes_on_disk) FROM system.parts WHERE active " +
      s"AND database = ${lit(db)} AND table = ${lit(table)} FORMAT TabSeparated")
      .headOption.flatMap(a => scala.util.Try(a(0).toLong).toOption).filter(_ > 0)

  override def tableRowCount(db: String, table: String): Option[Long] =
    tsv(s"SELECT sum(rows) FROM system.parts WHERE active " +
      s"AND database = ${lit(db)} AND table = ${lit(table)} FORMAT TabSeparated")
      .headOption.flatMap(a => scala.util.Try(a(0).toLong).toOption).filter(_ > 0)

  // ---- DDL ----

  override def createDatabase(db: String, ifNotExists: Boolean = true): Unit = {
    val ine = if (ifNotExists) "IF NOT EXISTS " else ""
    exec(s"CREATE DATABASE $ine`$db`")
    ()
  }

  override def dropDatabase(db: String): Unit = { exec(s"DROP DATABASE IF EXISTS `$db`"); () }

  override def createTable(
      db: String,
      table: String,
      columns: Seq[(String, String)],
      options: Map[String, String]): Unit = {
    // embedded-only concept: a zero-copy attach of local parquet has no
    // server-side meaning — reject, never silently drop (params.rs UX)
    require(!options.contains("external_paths"),
      s"external_paths on $db.$table: the HTTP transport creates tables " +
        "in the server; attaching local parquet is an embedded-store feature")
    columns.foreach { case (_, t) => ClickHouseType.parse(t) } // validate early
    // `defaults` = "col=expr,col=expr" per-column DEFAULT expressions;
    // `defaults_for_nullable` = explicit DEFAULT NULL on each remaining
    // Nullable column (the reference's CreateOptions surface) — both
    // render into the column list, so every accepted key is REAL DDL
    val defaults: Map[String, String] =
      options.get("defaults").toSeq.flatMap(_.split(",")).map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"defaults entry '$kv' must be col=expr")
        kv.substring(0, i).trim -> kv.substring(i + 1).trim
      }.toMap
    val unknownDefault = defaults.keySet.diff(columns.map(_._1).toSet)
    require(unknownDefault.isEmpty,
      s"defaults reference unknown column(s): ${unknownDefault.mkString(", ")}")
    val nullableDefault =
      options.get("defaults_for_nullable").exists(_.equalsIgnoreCase("true"))
    val cols = columns.map { case (n, t) =>
      defaults.get(n) match {
        case Some(expr) => s"`$n` $t DEFAULT $expr"
        case None if nullableDefault && t.startsWith("Nullable(") =>
          s"`$n` $t DEFAULT NULL"
        case None => s"`$n` $t"
      }
    }.mkString(", ")
    val engine = options.getOrElse("engine", "MergeTree")
    val b = new StringBuilder(s"CREATE TABLE `$db`.`$table` ($cols) ENGINE = $engine")
    // MergeTree family requires ORDER BY; tuple() = unordered
    if (engine.contains("MergeTree"))
      b.append(" ORDER BY ").append(
        options.get("order_by").map(o => s"($o)").getOrElse("tuple()"))
    options.get("primary_keys").foreach(pk => b.append(s" PRIMARY KEY ($pk)"))
    options.get("partition_by").foreach(p => b.append(s" PARTITION BY ($p)"))
    options.get("sampling").foreach(smp => b.append(s" SAMPLE BY ($smp)"))
    options.get("ttl").foreach(t => b.append(s" TTL $t"))
    options.get("settings").foreach(s => b.append(s" SETTINGS $s"))
    exec(b.toString)
    colTypeCache.remove(s"$db.$table")
    ()
  }

  override def dropTable(db: String, table: String): Unit = {
    exec(s"DROP TABLE IF EXISTS `$db`.`$table`")
    colTypeCache.remove(s"$db.$table")
    ()
  }

  override def alterTable(db: String, table: String, ops: Seq[ChAlterOp]): Unit = {
    require(ops.nonEmpty, "ALTER TABLE requires at least one change")
    val clauses = ops.map {
      case ChAlterOp.AddColumn(n, t, pos) =>
        ClickHouseType.parse(t) // validate before shipping
        val at = pos match {
          case None => ""
          case Some(None) => " FIRST"
          case Some(Some(c)) => s" AFTER `$c`"
        }
        s"ADD COLUMN `$n` $t$at"
      case ChAlterOp.DropColumn(n) => s"DROP COLUMN `$n`"
      case ChAlterOp.RenameColumn(a, b) => s"RENAME COLUMN `$a` TO `$b`"
      case ChAlterOp.ModifyType(n, t) =>
        ClickHouseType.parse(t)
        s"MODIFY COLUMN `$n` $t"
      case ChAlterOp.ModifyTtl(Some(expr)) => s"MODIFY TTL $expr"
      case ChAlterOp.ModifyTtl(None) => "REMOVE TTL"
      case ChAlterOp.AddProjection(n, sel) =>
        // verbatim: the server validates (it accepts MORE than the
        // embedded model — ORDER BY projections, any aggregate)
        s"ADD PROJECTION `$n` ($sel)"
      case ChAlterOp.DropProjection(n) => s"DROP PROJECTION `$n`"
      case ChAlterOp.MaterializeProjection(n) =>
        s"MATERIALIZE PROJECTION `$n`"
    }
    // one statement, applied in order; mutations_sync so a MODIFY's data
    // rewrite is visible to the next read (ADD/DROP/RENAME are metadata
    // ops the setting doesn't slow down)
    exec(s"ALTER TABLE `$db`.`$table` ${clauses.mkString(", ")}",
      Map("mutations_sync" -> "1"))
    colTypeCache.remove(s"$db.$table")
    ()
  }

  override def renameTable(
      db: String, table: String, newDb: String, newTable: String): Unit = {
    exec(s"RENAME TABLE `$db`.`$table` TO `$newDb`.`$newTable`")
    colTypeCache.remove(s"$db.$table")
    colTypeCache.remove(s"$newDb.$newTable")
    ()
  }

  override def optimizeTable(db: String, table: String, finalize: Boolean): Unit = {
    exec(s"OPTIMIZE TABLE `$db`.`$table`${if (finalize) " FINAL" else ""}")
    ()
  }

  override def optimizeDeduplicate(
      db: String, table: String, byColumns: Seq[String]): Unit = {
    val by =
      if (byColumns.isEmpty) ""
      else byColumns.map(c => s"`${c.replace("`", "``")}`")
        .mkString(" BY (", ", ", ")")
    exec(s"OPTIMIZE TABLE `$db`.`$table` FINAL DEDUPLICATE$by")
    ()
  }

  override def truncateTable(db: String, table: String): Unit = {
    exec(s"TRUNCATE TABLE `$db`.`$table`")
    ()
  }

  override def exchangeTables(db: String, a: String, db2: String, b: String): Unit = {
    exec(s"EXCHANGE TABLES `$db`.`$a` AND `$db2`.`$b`")
    // both names now carry the OTHER table's schema
    colTypeCache.remove(s"$db.$a")
    colTypeCache.remove(s"$db2.$b")
    ()
  }

  override def dropPartition(db: String, table: String, partitionValue: String): Unit = {
    exec(s"ALTER TABLE `$db`.`$table` DROP PARTITION $partitionValue",
      Map("mutations_sync" -> "1"))
    ()
  }

  override def attachPartitionsFrom(
      db: String, table: String, srcDb: String, srcTable: String): Unit = {
    // the server's ALTER grammar attaches ONE partition per statement —
    // enumerate the source's active partitions and ship one ATTACH each
    // (PARTITION ID form: unambiguous, string-quotable; unpartitioned
    // MergeTree tables expose the single id 'all')
    val ids = tsv(s"SELECT DISTINCT partition_id FROM system.parts " +
      s"WHERE active AND database = ${lit(srcDb)} AND table = ${lit(srcTable)} " +
      "ORDER BY partition_id FORMAT TabSeparated").map(_(0))
    ids.foreach { id =>
      exec(s"ALTER TABLE `$db`.`$table` ATTACH PARTITION ID ${lit(id)} " +
        s"FROM `$srcDb`.`$srcTable`")
    }
  }

  // Materialized views are fully server-side on this transport: the DDL
  // ships as-is and the server runs the insert trigger (the reference's
  // passthrough model — no client machinery at all).
  override def createMaterializedView(db: String, name: String,
      targetDb: String, targetTable: String, chSelectSql: String,
      populate: Boolean): Unit = {
    // the server rejects POPULATE on TO-form views, so the backfill
    // ships as an explicit INSERT SELECT strictly BEFORE the create —
    // same miss-not-double window as the server's own POPULATE
    if (populate) insertSelect(targetDb, targetTable, chSelectSql)
    exec(s"CREATE MATERIALIZED VIEW `$db`.`$name` TO " +
      s"`$targetDb`.`$targetTable` AS $chSelectSql")
    ()
  }

  override def listMaterializedViews(db: String): Seq[String] =
    tsv(s"SELECT name FROM system.tables WHERE database = ${lit(db)} " +
      "AND engine = 'MaterializedView' ORDER BY name FORMAT TabSeparated")
      .map(_(0))

  override def dropMaterializedView(db: String, name: String): Unit = {
    exec(s"DROP VIEW `$db`.`$name`")
    ()
  }

  // ---- reads ----

  override def planQuery(sql: String, numStreams: Int): (StructType, Seq[ChPartitionHandle]) = {
    val schema = describe(sql)
    (schema, Seq(handle(sql, schema)))
  }

  private def handle(sql: String, schema: StructType): HttpQueryHandle =
    HttpQueryHandle(endpoint, user, password, sql, schema.json,
      connectTimeoutMs, readTimeoutMs, codec, poolMaxSize, retryConnection,
      serverSettings)

  /** Parallel read of ONE remote query: probe min/max of the split column
    * (one scalar statement), carve [lo, hi] into `numStreams` disjoint
    * covering ranges, and emit one range-bounded handle per stream — each
    * executor task then pulls only its slice, the HTTP analog of
    * per-shard native streams. NULL cursor rows ride with the first range.
    *
    * Cursor families (SURVEY §4 "split by shard/ORDER BY ranges"):
    *  - integral: exact value ranges (BigInt arithmetic — a hash cursor
    *    like cityHash64 spans more than half the 64-bit range and plain
    *    `hi - lo` would wrap)
    *  - Date / DateTime: day / second ranges as literals; the LAST slice
    *    is open-ended upward so sub-second fractions above the probed
    *    max's whole second can't fall out
    *  - anything else (strings, UUIDs, ...): server-side hash-mod
    *    bucketing `cityHash64(col) % N = i` — no ordering assumption,
    *    uniform slices, NULLs ride bucket 0
    * Works on ANY planned query, not just plain scans: slices wrap the
    * whole statement (`SELECT * FROM (sql) WHERE <slice>`), so a
    * collapsed join/window subtree reads sliced too.
    */
  override def bucketFamily: Option[String] = Some("cityhash64")

  /** Bucket-keyed read: EXACTLY `numBuckets` handles, handle i reading
    * `cityHash64(col) % n = i` (NULLs ride bucket 0) — the server does
    * the routing, so two tables bucketed this way on their join keys
    * are co-partitioned BY the server's own hash; no local CityHash
    * re-implementation is needed (and none is claimed —
    * graft.catalog.ChBoundBucket("cityhash64") refuses produceResult).
    */
  private val sliceTokenRe = java.util.regex.Pattern.compile(
    java.util.regex.Pattern.quote(graft.pushdown.ChPlanUnparser.SliceOpen) +
      "([^)]*)" +
      java.util.regex.Pattern.quote(graft.pushdown.ChPlanUnparser.SliceClose))

  override def planQueryBuckets(
      sql: String,
      bucketColumn: String,
      numBuckets: Int): Option[(StructType, Seq[ChPartitionHandle])] = {
    val schema = describe(sql)
    // Keyed-collapse statements carry a slice token INSIDE the
    // aggregation subquery's WHERE (ChPlanUnparser.SliceOpen): substitute
    // the hash-mod predicate there, on the PRE-aggregation key alias, so
    // each slice aggregates only its own rows — an outer wrap would make
    // the server re-run the full GROUP BY once per slice and post-filter.
    val m = sliceTokenRe.matcher(sql)
    if (m.find()) {
      val inner = m.group(1)
      return Some((schema, (0 until numBuckets).map { i =>
        val cond =
          if (i == 0)
            s"($inner IS NULL OR cityHash64($inner) % $numBuckets = $i)"
          else
            s"($inner IS NOT NULL AND cityHash64($inner) % $numBuckets = $i)"
        handle(m.replaceFirst(java.util.regex.Matcher.quoteReplacement(cond)), schema)
      }))
    }
    require(schema.fieldNames.contains(bucketColumn),
      s"bucket column '$bucketColumn' not in result schema " +
        schema.fieldNames.mkString(","))
    Some((schema, (0 until numBuckets).map { i =>
      val cond =
        if (i == 0)
          s"(`$bucketColumn` IS NULL OR cityHash64(`$bucketColumn`) % $numBuckets = $i)"
        else
          s"(`$bucketColumn` IS NOT NULL AND cityHash64(`$bucketColumn`) % $numBuckets = $i)"
      handle(s"SELECT * FROM ($sql) AS __rb WHERE $cond", schema)
    }))
  }

  override def planQueryRanges(
      sql: String,
      splitColumn: String,
      numStreams: Int): (StructType, Seq[ChPartitionHandle]) = {
    val schema = describe(sql)
    require(schema.fieldNames.contains(splitColumn),
      s"split column '$splitColumn' not in result schema ${schema.fieldNames.mkString(",")}")
    if (numStreams <= 1) return (schema, Seq(handle(sql, schema)))
    def sliced(conds: Seq[String]): (StructType, Seq[ChPartitionHandle]) =
      (schema, conds.map(c => handle(s"SELECT * FROM ($sql) AS __rs WHERE $c", schema)))
    // Dispatch the slice family by the column's DECLARED type, never by
    // the shape of the min/max values: a String column whose extremes
    // happen to look like dates would otherwise get closed date
    // intervals with lexicographic gaps between them — silent row loss
    // for values like '2022-05-01x' falling between two slices.
    val family: Int = schema(splitColumn).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => 0
      case org.apache.spark.sql.types.DateType => 1
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => 2
      case _ => 3 // strings, UUIDs, UInt64-as-Decimal, ... -> hash buckets
    }
    // hash buckets need no extremes — skip the min/max probe (a full
    // remote aggregate over the planned query) entirely for family 3
    if (family == 3)
      return sliced((0 until numStreams).map { i =>
        if (i == 0)
          s"(`$splitColumn` IS NULL OR cityHash64(`$splitColumn`) % $numStreams = $i)"
        else
          s"(`$splitColumn` IS NOT NULL AND cityHash64(`$splitColumn`) % $numStreams = $i)"
      })
    val mm = tsv(s"SELECT min(`$splitColumn`), max(`$splitColumn`) FROM ($sql) AS __mm " +
      "FORMAT TabSeparated").head
    val (loS, hiS) = (mm(0), mm(1))
    if (loS == "\\N" || hiS == "\\N" || loS.isEmpty)
      return (schema, Seq(handle(sql, schema))) // empty result: single stream
    val DateRe = raw"\d{4}-\d{2}-\d{2}".r
    val TimeRe = raw"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?".r
    (family, scala.util.Try(loS.toLong).toOption, scala.util.Try(hiS.toLong).toOption) match {
      case (0, Some(lo), Some(hi)) =>
        val width = BigInt(hi) - BigInt(lo)
        val n = (BigInt(numStreams) min (width + 1)).toInt
        val span = width / n + 1
        sliced((0 until n).flatMap { i =>
          val rlo = BigInt(lo) + BigInt(i) * span
          if (rlo > hi) None
          else {
            val rhi = (rlo + span - 1) min BigInt(hi)
            Some(
              if (i == 0) s"(`$splitColumn` <= ${rhi.toLong} OR `$splitColumn` IS NULL)"
              else s"(`$splitColumn` >= ${rlo.toLong} AND `$splitColumn` <= ${rhi.toLong})")
          }
        })
      case (0, _, _) => // unparseable integral extremes: single stream
        (schema, Seq(handle(sql, schema)))
      case (1, _, _) if DateRe.matches(loS) && DateRe.matches(hiS) =>
        // Date / Date32 cursor: epoch-day ranges, date-literal bounds
        val lo = java.time.LocalDate.parse(loS).toEpochDay
        val hi = java.time.LocalDate.parse(hiS).toEpochDay
        val n = (BigInt(numStreams) min (BigInt(hi) - BigInt(lo) + 1)).toInt
        val span = (hi - lo) / n + 1
        sliced((0 until n).flatMap { i =>
          val rlo = lo + i * span
          if (rlo > hi) None
          else {
            val rhi = math.min(rlo + span - 1, hi)
            def d(x: Long) = java.time.LocalDate.ofEpochDay(x).toString
            Some(
              if (i == 0) s"(`$splitColumn` <= '${d(rhi)}' OR `$splitColumn` IS NULL)"
              else if (rhi >= hi) s"(`$splitColumn` >= '${d(rlo)}')" // open top
              else s"(`$splitColumn` >= '${d(rlo)}' AND `$splitColumn` <= '${d(rhi)}')")
          }
        })
      case (1, _, _) => (schema, Seq(handle(sql, schema)))
      case (2, _, _) if TimeRe.matches(loS) && TimeRe.matches(hiS) =>
        // DateTime / DateTime64 cursor: whole-second ranges; open-ended
        // top slice so fractional ticks above max's second survive
        def secs(s: String) = java.time.LocalDateTime
          .parse(s.replace(' ', 'T').takeWhile(_ != '.'))
          .toEpochSecond(java.time.ZoneOffset.UTC)
        val (lo, hi) = (secs(loS), secs(hiS))
        val n = (BigInt(numStreams) min (BigInt(hi) - BigInt(lo) + 1)).toInt
        val span = (hi - lo) / n + 1
        val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        def ts(x: Long) = java.time.LocalDateTime
          .ofEpochSecond(x, 0, java.time.ZoneOffset.UTC).format(fmt)
        sliced((0 until n).flatMap { i =>
          val rlo = lo + i * span
          if (rlo > hi) None
          else {
            val rhi = math.min(rlo + span - 1, hi)
            Some(
              if (i == 0 && rhi >= hi) s"(1 = 1 OR `$splitColumn` IS NULL)" // single slice
              else if (i == 0) s"(`$splitColumn` < '${ts(rhi + 1)}' OR `$splitColumn` IS NULL)"
              else if (rhi >= hi) s"(`$splitColumn` >= '${ts(rlo)}')" // open top
              else s"(`$splitColumn` >= '${ts(rlo)}' AND `$splitColumn` < '${ts(rhi + 1)}')")
          }
        })
      case _ => (schema, Seq(handle(sql, schema)))
    }
  }

  private def describe(sql: String): StructType = {
    val cols = tsv(s"DESCRIBE TABLE ($sql) FORMAT TabSeparated").map(a => a(0) -> a(1))
    require(cols.nonEmpty, s"DESCRIBE returned no columns for: ${sql.take(200)}")
    ClickHouseType.toStructType(cols)
  }

  override def describeQuery(chSql: String): StructType = describe(chSql)

  /** HTTP handles are self-contained statements — the slice is exactly
    * `sql`'s result, so any replica holding the data can serve it:
    * re-address the handle to this transport (its endpoint, credentials,
    * codec, settings), keeping the statement and schema.
    */
  override def rehome(handle: ChPartitionHandle): Option[ChPartitionHandle] =
    handle match {
      case h: HttpQueryHandle => Some(h.copy(endpoint = endpoint, user = user,
        password = password, connectTimeoutMs = connectTimeoutMs,
        readTimeoutMs = readTimeoutMs, codec = codec, poolMaxSize = poolMaxSize,
        retryConnection = retryConnection, serverSettings = serverSettings))
      case _ => None
    }

  /** Resumable-read hooks: the slice statement wraps with an ORDER BY
    * (deterministic replay prefix) / a resume conjunct — both pure
    * functions of the carried SQL, so they compose with [[rehome]] for
    * mid-stream replica re-plan.
    */
  override def orderedSlice(
      handle: ChPartitionHandle, column: String): Option[ChPartitionHandle] =
    handle match {
      case h: HttpQueryHandle => Some(h.copy(sql =
        s"SELECT * FROM (${h.sql}) AS __ord ORDER BY `$column` NULLS FIRST"))
      case _ => None
    }

  override def resumeSlice(
      handle: ChPartitionHandle,
      column: String,
      after: Option[Long]): Option[ChPartitionHandle] =
    handle match {
      case h: HttpQueryHandle =>
        val cond = after match {
          // `col > v` drops NULLs by SQL comparison semantics, which is
          // exactly right: NULLs order first and were delivered whole
          case Some(v) => s"`$column` > $v"
          case None => s"`$column` IS NOT NULL"
        }
        Some(h.copy(sql = s"SELECT * FROM (${h.sql}) AS __res WHERE $cond " +
          s"ORDER BY `$column` NULLS FIRST"))
      case _ => None
    }

  override def readPartition(handle: ChPartitionHandle): Iterator[Row] = handle match {
    case h: HttpQueryHandle =>
      val schema = DataType.fromJson(h.schemaJson).asInstanceOf[StructType]
      val de = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(schema)
        .resolveAndBind().createDeserializer()
      val inner = readPartitionInternal(h, schema)
      // keep the wire iterator's AutoCloseable visible through the
      // external-row adapter: a plain .map would hide it, and failover
      // (which must release a failed attempt's connection + pool permit)
      // as well as any driver-side caller could no longer close the
      // underlying stream
      new Iterator[Row] with AutoCloseable {
        override def hasNext: Boolean = inner.hasNext
        override def next(): Row = de(inner.next())
        override def close(): Unit = inner match {
          case c: AutoCloseable => c.close()
          case _ => ()
        }
      }
    case other => throw new IllegalArgumentException(
      s"not an HTTP handle: ${other.getClass.getName}")
  }

  override def readPartitionInternal(
      handle: ChPartitionHandle,
      schema: StructType): Iterator[InternalRow] = handle match {
    case h: HttpQueryHandle => HttpClickHouseClient.streamRows(h, schema)
    case other => throw new IllegalArgumentException(
      s"not an HTTP handle: ${other.getClass.getName}")
  }

  /** Wire blocks straight into column vectors — no row materialization
    * for atomic/array schemas; map/struct schemas fall back to the packed
    * row path (same fallback split as ColumnarPack.supports).
    */
  override def readPartitionColumnar(
      handle: ChPartitionHandle,
      schema: StructType): Iterator[ColumnarBatch] = handle match {
    case h: HttpQueryHandle => HttpClickHouseClient.streamBatches(h, schema)
    case other => super.readPartitionColumnar(handle, schema)
  }

  // ---- writes ----

  /** Server column types for RowBinary encode widths: inserts must match
    * the table's exact layout, so encoders compile from fetchColumns
    * (cached per table; DDL on this client invalidates).
    */
  @transient private lazy val colTypeCache =
    new ConcurrentHashMap[String, Map[String, String]]()

  private def columnTypes(db: String, table: String): Map[String, String] =
    colTypeCache.computeIfAbsent(s"$db.$table", _ => fetchColumns(db, table).toMap)

  private def chTypeFor(db: String, table: String, f: StructField): String =
    columnTypes(db, table).getOrElse(f.name,
      ClickHouseType.render(f.dataType, f.nullable))

  override def insert(db: String, table: String, schema: StructType, rows: Seq[Row]): Long = {
    if (rows.isEmpty) return 0L
    val cols = schema.fieldNames.map(n => s"`$n`").mkString(", ")
    val encs = schema.fields.map(f => RowBinary.encoder(chTypeFor(db, table, f)))
    // NEVER retried (a committed-then-dropped connection would duplicate
    // the block). Buffered (non-chunked) body on purpose: bodies are
    // bounded by write.batch_size so the buffer is small, and buffered
    // mode keeps the JDK's safe transparent re-send on stale keep-alive
    // connections plus readable server errors (chunked mode loses the
    // error stream when the server rejects mid-body).
    withGate {
      val c = open(Map.empty,
        query = Some(s"INSERT INTO `$db`.`$table` ($cols) FORMAT RowBinary"),
        encodeBody = true)
      val raw = c.getOutputStream
      val out = new DataOutputStream(
        HttpCodec.wrapOutput(codec, new java.io.BufferedOutputStream(raw, 8192)))
      try {
        rows.foreach { r =>
          var i = 0
          while (i < encs.length) {
            encs(i).write(out, if (r.isNullAt(i)) null else r.get(i))
            i += 1
          }
        }
        out.flush()
      } finally out.close()
      if (c.getResponseCode != 200) failFor(c, s"INSERT INTO `$db`.`$table`")
      val in = responseStream(c)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    rows.length.toLong
  }

  /** Server version (major, minor), probed once per client with
    * `SELECT version()`; None when the probe fails — mutation paths then
    * use the oldest-compatible statement shapes.
    */
  @transient private lazy val serverVersion: Option[(Int, Int)] =
    scala.util.Try {
      val parts = exec("SELECT version()").trim.split("\\.")
      (parts(0).toInt, parts(1).toInt)
    }.toOption

  /** DELETE as the server's cheapest honest form. On servers where
    * lightweight DELETE is GA (>= 23.3), ship `DELETE FROM ... WHERE`:
    * it materializes only the `_row_exists` mask instead of rewriting
    * every touched part — at 100 TB the ALTER mutation is the expensive
    * path (VERDICT r12 item 4). Older (or unprobeable) servers, and any
    * statement the server rejects (some table features disable
    * lightweight deletes), take the classic `ALTER TABLE ... DELETE`
    * mutation — identical visible semantics, and delete-by-predicate is
    * idempotent so the retry is safe. mutations_sync=1 keeps
    * read-after-delete deterministic on both paths.
    */
  override def deleteWhere(db: String, table: String, whereSql: String): Unit = {
    val lightweight = serverVersion.exists { case (ma, mi) =>
      ma > 23 || (ma == 23 && mi >= 3) }
    if (lightweight) {
      try {
        exec(s"DELETE FROM `$db`.`$table` WHERE $whereSql",
          Map("mutations_sync" -> "1"))
        return
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    exec(s"ALTER TABLE `$db`.`$table` DELETE WHERE $whereSql",
      Map("mutations_sync" -> "1"))
    ()
  }

  /** `ALTER TABLE ... UPDATE` mutation, same waited-on shape as delete. */
  override def updateWhere(
      db: String, table: String,
      assignments: Seq[(String, String)], whereSql: String): Unit = {
    require(assignments.nonEmpty, "UPDATE requires at least one assignment")
    val sets = assignments
      .map { case (c, e) => s"`${c.replace("`", "``")}` = $e" }.mkString(", ")
    exec(s"ALTER TABLE `$db`.`$table` UPDATE $sets WHERE $whereSql",
      Map("mutations_sync" -> "1"))
    ()
  }

  override def insertSelect(db: String, table: String, chSelectSql: String): Long = {
    // Real servers default insert_null_as_default=1: a NULL selected into
    // a NOT-NULL sink column would be silently replaced by the column
    // default (0/''). The collapsed INSERT SELECT path strips Spark's
    // AssertNotNull wrapper on the promise of an EQUALLY LOUD server-side
    // failure, so pin both settings off — the server then raises on the
    // NULL exactly as the embedded engine's runtime guard does.
    val (_, summary) = execWithSummary(s"INSERT INTO `$db`.`$table` $chSelectSql",
      Map("insert_null_as_default" -> "0", "input_format_null_as_default" -> "0"))
    summary.flatMap { s =>
      scala.util.Try(new ObjectMapper().readTree(s).get("written_rows").asLong).toOption
    }.getOrElse(0L)
  }

  // ---- staged (exactly-once) writes: stage = side table, commit = server
  // INSERT SELECT + drop, abort = drop. Parts land atomically per INSERT,
  // so a replayed commit converges via the epoch marker below. ----

  private def stageName(table: String, stagingId: String): String =
    s"${table}__stg_${stagingId.replaceAll("[^a-zA-Z0-9]", "_")}"

  override def stageInsert(
      db: String, table: String, schema: StructType, rows: Seq[Row],
      stagingId: String): Long = {
    val stg = stageName(table, stagingId)
    exec(s"CREATE TABLE IF NOT EXISTS `$db`.`$stg` AS `$db`.`$table`")
    // the stage table clones the target's layout — reuse its cached types
    colTypeCache.putIfAbsent(s"$db.$stg", columnTypes(db, table))
    insert(db, stg, schema, rows)
  }

  override def commitStaged(db: String, table: String, stagingId: String): Unit = {
    val stg = stageName(table, stagingId)
    exec(s"INSERT INTO `$db`.`$table` SELECT * FROM `$db`.`$stg`")
    exec(s"DROP TABLE IF EXISTS `$db`.`$stg`")
    colTypeCache.remove(s"$db.$stg")
    ()
  }

  override def abortStaged(db: String, table: String, stagingId: String): Unit = {
    exec(s"DROP TABLE IF EXISTS `$db`.`${stageName(table, stagingId)}`")
    colTypeCache.remove(s"$db.${stageName(table, stagingId)}")
    ()
  }

  /** Durable epoch marker in a server-side table. Best-effort check-then-
    * insert: Spark replays epochs sequentially (never two commits of the
    * same epoch racing), so the non-transactional window is unreachable
    * in practice; a keeper-backed insert token would close it entirely.
    */
  override def tryMarkEpochCommitted(db: String, table: String, marker: String): Boolean = {
    exec(s"CREATE TABLE IF NOT EXISTS `$db`.`__graft_epochs` (m String) " +
      "ENGINE = MergeTree ORDER BY m")
    val seen = tsv(s"SELECT count() FROM `$db`.`__graft_epochs` " +
      s"WHERE m = ${lit(marker)} FORMAT TabSeparated").head(0).toLong > 0
    if (seen) false
    else {
      exec(s"INSERT INTO `$db`.`__graft_epochs` (m) VALUES (${lit(marker)})")
      true
    }
  }
}

/** Serializable per-stream handle: carries everything a task needs to open
  * its own HTTP response stream executor-side.
  */
final case class HttpQueryHandle(
    endpoint: String,
    user: String,
    password: String,
    sql: String,
    schemaJson: String,
    connectTimeoutMs: Int,
    readTimeoutMs: Int,
    codec: String = "none",
    poolMaxSize: Int = 0,
    retryConnection: Boolean = false,
    serverSettings: Map[String, String] = Map.empty)
  extends ChPartitionHandle {
  // case-class toString reaches partition debug strings and task-failure
  // logs — never echo the credential
  override def toString: String =
    s"HttpQueryHandle($endpoint,$user,***,${sql.take(120)},...)"
}

object HttpClickHouseClient {

  /** Server failure → exception carrying the SERVER'S error code: the
    * HTTP interface reports the ClickHouse exception code in the
    * `X-ClickHouse-Exception-Code` response header alongside the text
    * body (http doc §Response, e.g. code 60 = UNKNOWN_TABLE) — surfacing
    * it lets callers map errors the way native-protocol clients do.
    */
  private[client] def httpError(c: HttpURLConnection, sql: String): RuntimeException = {
    val err = Option(c.getErrorStream).map { es =>
      try scala.io.Source.fromInputStream(es, "UTF-8").mkString finally es.close()
    }.getOrElse("")
    val code = Option(c.getHeaderField("X-ClickHouse-Exception-Code"))
      .map(ec => s" (server error code $ec)").getOrElse("")
    new RuntimeException(
      s"ClickHouse HTTP ${c.getResponseCode}$code for: ${sql.take(500)}\n$err")
  }

  /** Per-(endpoint, size) JVM-wide request gates: the pool bound shared by
    * driver statements and executor streams alike. Size 0 = unbounded.
    */
  private val gates = new ConcurrentHashMap[String, Semaphore]()

  private[client] def gate(endpoint: String, size: Int): Option[Semaphore] =
    if (size <= 0) None
    else Some(gates.computeIfAbsent(s"$endpoint|$size", _ => new Semaphore(size, true)))

  /** Diagnostics: how many wire batches were decoded straight into
    * vectors (the binary columnar path) since JVM start. Test hook.
    */
  val binaryBatchesDecoded = new java.util.concurrent.atomic.AtomicLong(0)

  /** Open the handle's query as a RowBinaryWithNamesAndTypes response
    * stream: returns the live connection, the (possibly codec-wrapped)
    * stream positioned after the header, the header itself, and the gate
    * to release on close. The header's server-declared types drive
    * decoding; names are validated against the plan schema so silent
    * column drift fails loudly here.
    */
  private def openStream(
      h: HttpQueryHandle,
      schema: StructType): (HttpURLConnection, DataInputStream,
        Seq[(String, String)], Option[Semaphore], RowBinary.CountingInputStream) = {
    val g = gate(h.endpoint, h.poolMaxSize)
    g.foreach(_.acquire())
    try {
      def attempt(): (HttpURLConnection, DataInputStream,
          Seq[(String, String)], RowBinary.CountingInputStream) = {
        val qs = (h.serverSettings ++ Map("session_timezone" -> "UTC") ++
          (if (h.codec != "none") Map("enable_http_compression" -> "1") else Map.empty))
          .map { case (k, v) =>
            s"${URLEncoder.encode(k, UTF_8)}=${URLEncoder.encode(v, UTF_8)}"
          }.mkString("&")
        val conn = URI.create(s"${h.endpoint}/?$qs").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.setConnectTimeout(h.connectTimeoutMs)
        conn.setReadTimeout(h.readTimeoutMs)
        conn.setRequestProperty("X-ClickHouse-User", h.user)
        if (h.password.nonEmpty) conn.setRequestProperty("X-ClickHouse-Key", h.password)
        if (h.codec != "none") conn.setRequestProperty("Accept-Encoding", h.codec)
        val out: OutputStream = conn.getOutputStream
        try out.write(s"${h.sql} FORMAT RowBinaryWithNamesAndTypes".getBytes(UTF_8))
        finally out.close()
        if (conn.getResponseCode != 200) throw httpError(conn, h.sql)
        val raw = conn.getInputStream
        // the counter IS the read buffer, directly under the decoder: it
        // counts bytes the DECODER consumed, not bytes prefetched — a
        // buffer above it would make a truncated tail already fetched
        // look like a clean end of stream
        val counter = new RowBinary.CountingInputStream(
          HttpCodec.wrapInput(conn.getContentEncoding, raw))
        val in = new DataInputStream(counter)
        val header = RowBinary.readHeader(in)
        // empty plan schema = empty-projection COUNT(*) scan: the remote
        // statement is `SELECT 1 FROM t`, the wire carries one column,
        // and only the ROW COUNT matters — skip the arity/name checks
        if (schema.nonEmpty) {
          require(header.length == schema.length,
            s"wire header has ${header.length} columns, plan schema has ${schema.length}: " +
              s"${header.map(_._1).mkString(",")} vs ${schema.fieldNames.mkString(",")}")
          header.map(_._1).zip(schema.fieldNames).foreach { case (wire, plan) =>
            require(wire == plan,
              s"wire column '$wire' does not match plan column '$plan' " +
                s"(header ${header.map(_._1).mkString(",")})")
          }
        }
        (conn, in, header, counter)
      }
      val r =
        try attempt()
        catch { case e: IOException if h.retryConnection =>
          try attempt()
          catch { case e2: IOException => e2.addSuppressed(e); throw e2 }
        }
      (r._1, r._2, r._3, g, r._4)
    } catch { case t: Throwable => g.foreach(_.release()); throw t }
  }

  /** Wire-vs-plan type drift (e.g. a pushed COUNT arrives as UInt64 →
    * Decimal(20,0) while Spark's plan declares Long): decode by the
    * server's header types, then cast into the plan types — the scan-
    * level analog of ClickHouseRemoteExec's coercion projection.
    * Returns None when every column already matches.
    */
  private def driftProjection(
      header: Seq[(String, String)],
      schema: StructType): Option[org.apache.spark.sql.catalyst.expressions.UnsafeProjection] = {
    if (schema.isEmpty) return None
    val wire = graft.types.ClickHouseType.toStructType(header)
    if (wire.fields.map(_.dataType).sameElements(schema.fields.map(_.dataType))) None
    else Some(org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      graft.types.ClickHouseType.castExprs(
        wire.fields.map(_.dataType).toSeq, schema.fields.map(_.dataType).toSeq)))
  }

  /** Row path: decode the binary stream row by row into InternalRow —
    * constant memory, executor-side, no text parse.
    */
  /** A response with a DECLARED body length (Content-Length, no
    * content-coding) that ends at a row boundary BEFORE delivering the
    * declared bytes is a dropped connection, not a clean end of data: the
    * JDK makes truncated CHUNKED streams loud by itself, but a
    * fixed-length stream just runs out — which readRow() cannot tell from
    * exhaustion, so it would silently drop the tail. Compressed responses
    * are skipped (declared = wire bytes, counted = decoded bytes).
    */
  private def verifyDeclaredLength(
      conn: HttpURLConnection, counter: RowBinary.CountingInputStream): Unit = {
    val declared = conn.getContentLengthLong
    val coded = Option(conn.getContentEncoding).exists(e =>
      e.nonEmpty && e != "identity")
    if (declared >= 0 && !coded && counter != null && counter.count < declared)
      throw new RowBinary.TruncatedStreamException(
        s"RowBinary stream ended after ${counter.count} of $declared declared " +
          "bytes (connection dropped at a row boundary) — partial results discarded")
  }

  private[client] def streamRows(
      h: HttpQueryHandle, schema: StructType): Iterator[InternalRow] with AutoCloseable =
    new Iterator[InternalRow] with AutoCloseable {
      private var conn: HttpURLConnection = _
      private var reader: RowBinary.RowReader = _
      private var in: DataInputStream = _
      private var g: Option[Semaphore] = None
      private var nextRow: InternalRow = _
      private var opened = false
      private var closed = false
      // empty-projection scans emit one shared empty row per wire row
      private val emptyRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(0)

      private var ctr: RowBinary.CountingInputStream = _

      private def ensureOpen(): Unit = if (!opened) {
        opened = true
        // a task killed early (LIMIT, cancellation) never drains the
        // iterator — the completion listener guarantees the connection
        // and pool permit are released anyway
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => close()))
        val (c, s, header, gt, counter) = openStream(h, schema)
        conn = c; in = s; g = gt; ctr = counter
        reader = new RowBinary.RowReader(
          s, header.map(t => RowBinary.decoder(t._2)).toArray, counter)
        proj = driftProjection(header, schema).orNull
        advance()
      }

      private var proj: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = _

      // close BEFORE any failure propagates — a mid-row truncation, a
      // declared-length verdict, or a drift-cast failure would otherwise
      // leak the live connection and the per-endpoint pool permit on
      // driver-side reads (no task completion listener to clean up)
      private def closingOnThrow[T](f: => T): T =
        try f
        catch { case e: Throwable =>
          try close() catch { case s: Exception => e.addSuppressed(s) }
          throw e
        }

      private def advance(): Unit = {
        nextRow = closingOnThrow(reader.readRow())
        if (nextRow == null) { try verifyDeclaredLength(conn, ctr) finally close() }
        else if (proj != null) nextRow = closingOnThrow(proj(nextRow).copy())
      }

      // a LOOKAHEAD failure must not swallow the row already decoded:
      // next() prefetches its successor, and surfacing that error
      // immediately would discard a fully-received row — ResumableRead's
      // release watermark would then sit one group LOW and the resume
      // statement would re-read a group the replica had actually served
      // (the round-8 off-by-one). Deliver the decoded row, stash the
      // error, and throw it on the FOLLOWING hasNext/next. advance()
      // already released the wire state before rethrowing, so deferral
      // holds no connection open.
      private var pendingErr: Throwable = _

      private def surface(): Unit =
        if (pendingErr != null) throw pendingErr

      override def hasNext: Boolean = {
        ensureOpen()
        if (nextRow == null) surface()
        nextRow != null
      }

      override def next(): InternalRow = {
        ensureOpen()
        if (nextRow == null) { surface(); throw new NoSuchElementException }
        val r = nextRow
        // NonFatal only: a VM error / interrupt must propagate NOW, not
        // ride the deferral one extra step
        try advance()
        catch {
          case scala.util.control.NonFatal(e) => nextRow = null; pendingErr = e
        }
        if (schema.isEmpty) emptyRow else r
      }

      override def close(): Unit = if (!closed) {
        closed = true
        if (in != null) { try in.close() catch { case _: Exception => () } }
        if (conn != null) conn.disconnect()
        g.foreach(_.release())
      }
    }

  /** Columnar path: decode the binary stream STRAIGHT into reused
    * OnHeapColumnVector batches (RowBinary.vectorDecoder per column). If
    * any wire type lacks a vector decoder, degrade to row decode + pack —
    * still binary, never text.
    */
  private[client] def streamBatches(
      h: HttpQueryHandle, schema: StructType): Iterator[ColumnarBatch] with AutoCloseable =
    new Iterator[ColumnarBatch] with AutoCloseable {
      private val batchSize = ColumnarPack.DefaultBatchSize
      private var conn: HttpURLConnection = _
      private var in: DataInputStream = _
      private var g: Option[Semaphore] = None
      private var decs: Array[RowBinary.VecDec] = _
      private var fallback: Iterator[ColumnarBatch] with AutoCloseable = _
      private var vectors: Array[OnHeapColumnVector] = _
      private var batch: ColumnarBatch = _
      private var finished = false
      private var opened = false
      private var closed = false

      private var counter: RowBinary.CountingInputStream = _

      private def ensureOpen(): Unit = if (!opened) {
        opened = true
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => close()))
        val (c, s, header, gt, ctr) = openStream(h, schema)
        conn = c; in = s; g = gt; counter = ctr
        val vds = header.map(t => RowBinary.vectorDecoder(t._2))
        val drift = driftProjection(header, schema)
        if (drift.isEmpty && vds.forall(_.isDefined)) {
          decs = vds.map(_.get).toArray
          vectors = OnHeapColumnVector.allocateColumns(batchSize, schema)
          batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
        } else {
          // deeply-nested columns: row-decode the same binary stream,
          // pack into vectors (ColumnarPack row fallback). Exhaustion
          // closes the connection and releases the pool permit — without
          // this, fully-drained fallback reads leak their permit.
          val reader = new RowBinary.RowReader(
            s, header.map(t => RowBinary.decoder(t._2)).toArray, ctr)
          // exhaustion releases ONLY the wire (connection + pool permit);
          // closing the packer here would free the batch vectors mid-fill,
          // before the consumer reads the final batch
          // release-before-throw everywhere: a mid-row truncation from
          // readRow() or a declared-length verdict must not leak the
          // connection/pool permit (driver-side reads have no task
          // completion listener to clean up)
          val raw = Iterator.continually {
            try reader.readRow()
            catch { case e: Throwable =>
              try releaseWire() catch { case s: Exception => e.addSuppressed(s) }
              throw e
            }
          }.takeWhile { r =>
            if (r == null) { try verifyDeclaredLength(conn, ctr) finally releaseWire() }
            r != null
          }
          val rows = drift match {
            case Some(p2) => raw.map(r => p2(r): InternalRow)
            case None => raw
          }
          fallback = ColumnarPack.iterator(rows, schema, batchSize)
        }
      }

      override def hasNext: Boolean = {
        ensureOpen()
        if (fallback != null) fallback.hasNext
        else if (!finished) true
        else { surface(); false }
      }

      /** Batch-level mirror of the row path's lookahead deferral: rows
        * already decoded into the vectors are DELIVERED before a
        * transport error surfaces — otherwise a mid-batch death discards
        * up to batchSize-1 fully-received rows, and a resumable read's
        * release watermark would sit arbitrarily low (the resume
        * statement re-reading groups the replica actually served — the
        * batch-granular cousin of the round-8 off-by-one). The wire is
        * released BEFORE the error is stashed, so deferral holds no
        * connection or pool permit open. NonFatal only, like the row
        * path's next().
        */
      private var pendingErr: Throwable = _

      private def surface(): Unit =
        if (pendingErr != null) throw pendingErr

      override def next(): ColumnarBatch = {
        ensureOpen()
        if (fallback != null) return fallback.next()
        if (finished) { surface(); throw new NoSuchElementException }
        var i = 0
        while (i < vectors.length) { vectors(i).reset(); decs(i).reset(); i += 1 }
        var n = 0
        var eof = false
        var failed = false
        // release the wire, then deliver the decoded prefix with the
        // error deferred — or throw NOW when no row of this batch decoded
        def failRow(e: Throwable): Unit = {
          try releaseWire() catch { case s: Exception => e.addSuppressed(s) }
          finished = true
          failed = true
          if (n == 0) throw e
          pendingErr = e
        }
        while (n < batchSize && !eof && !failed) {
          // clean EOF = zero bytes of the next row consumed; EOF after
          // any byte (or in a later column) is a TRUNCATED stream and
          // must stay loud — after the decoded prefix is delivered
          val before = counter.count
          try decs(0).readInto(in, vectors(0), n)
          catch {
            case e: EOFException =>
              if (counter.count != before) failRow(RowBinary.truncated(e))
              else eof = true
            case e if scala.util.control.NonFatal(e) => failRow(e)
          }
          if (!eof && !failed) {
            var c = 1
            try {
              while (c < decs.length) { decs(c).readInto(in, vectors(c), n); c += 1 }
            } catch {
              case e: EOFException => failRow(RowBinary.truncated(e))
              case e if scala.util.control.NonFatal(e) => failRow(e)
            }
            if (!failed) n += 1
          }
        }
        if (eof) {
          finished = true
          // a declared-length verdict defers behind the decoded rows too
          // (the row path reaches the same shape through next()'s NonFatal
          // deferral); release-before-throw either way
          try verifyDeclaredLength(conn, counter)
          catch { case e if scala.util.control.NonFatal(e) && n > 0 => pendingErr = e }
          finally releaseWire()
        }
        batch.setNumRows(n)
        binaryBatchesDecoded.incrementAndGet()
        batch
      }

      /** Close the connection and release the pool permit — idempotent,
        * and safe while the consumer still holds the current batch.
        */
      private def releaseWire(): Unit = if (!closed) {
        closed = true
        if (in != null) { try in.close() catch { case _: Exception => () } }
        if (conn != null) conn.disconnect()
        g.foreach(_.release())
      }

      override def close(): Unit = {
        releaseWire()
        // consumer-initiated close: the batch may now be freed too
        if (fallback != null) fallback.close()
        // direct-path vectors/batch are OnHeap (GC-managed)
      }
    }
}
