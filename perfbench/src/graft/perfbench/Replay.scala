package graft.perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

import graft.client.{ChSpillHandle, ChSqlTranslator, ClickHouseClient, EmbeddedClickHouse, HttpCodec, RowBinary}
import graft.connector.ColumnarPack

/** Client-layer calls re-issued, inside a traced run's replay span, on the
  * remote SQL an operation captured. Each call is timed on its own, so a
  * layer's figure does not include the Spark operators around it.
  */
object Replay {

  private def drain(it: Iterator[InternalRow]): Vector[InternalRow] = {
    val out = Vector.newBuilder[InternalRow]
    while (it.hasNext) out += it.next().copy()
    it match { case c: AutoCloseable => c.close(); case _ => () }
    out.result()
  }

  private def pack(tr: Tracer, rows: Vector[InternalRow], schema: StructType): Unit =
    if (ColumnarPack.supports(schema)) tr.timed("connector.pack_ms") {
      val it = ColumnarPack.iterator(rows.iterator, schema)
      var n = 0L
      while (it.hasNext) n += it.next().numRows()
      it.close()
      require(n == rows.size, s"ColumnarPack packed $n of ${rows.size} rows")
    }

  /** Embedded store: translate, plan (execute + spill), drain the spill, pack. */
  def embedded(tr: Tracer, client: EmbeddedClickHouse, sqls: Seq[String], cpus: Int): Unit = {
    val tables = for (db <- client.listDatabases(); t <- client.listTables(db)) yield (db, t)
    sqls.distinct.foreach { sql =>
      tr.timed("client.embedded.translate_us", 1e-3)(ChSqlTranslator.translate(sql, tables))
      val (schema, handles) =
        tr.timed("client.embedded.plan_query_ms")(client.planQuery(sql, cpus))
      tr.count("client.embedded.spill_bytes", handles.collect {
        case ChSpillHandle(files, _, _) => files.map(f => Files.size(Paths.get(f))).sum
      }.sum.toDouble)
      val rows = tr.timed("client.embedded.spill_read_ms")(
        drain(handles.iterator.flatMap(h => client.readPartitionInternal(h, schema))))
      pack(tr, rows, schema)
    }
  }

  /** HTTP transport: plan, drain as rows and as columnar batches, pack. */
  def http(tr: Tracer, client: ClickHouseClient, sql: String, cpus: Int): Unit = {
    val (schema, handles) = tr.timed("client.http.plan_query_ms")(client.planQuery(sql, cpus))
    val t0 = System.nanoTime()
    val rows = tr.span("client.http.drain")(
      drain(handles.iterator.flatMap(h => client.readPartitionInternal(h, schema))))
    tr.sample("client.http.drain_rows_per_s", rows.size / ((System.nanoTime() - t0) / 1e9))
    val t1 = System.nanoTime()
    val n = tr.span("client.http.drain_columnar") {
      var n = 0L
      handles.foreach { h =>
        val it = client.readPartitionColumnar(h, schema)
        while (it.hasNext) n += it.next().numRows()
      }
      n
    }
    tr.sample("client.http.drain_columnar_rows_per_s", n / ((System.nanoTime() - t1) / 1e9))
    require(n == rows.size, s"columnar drain read $n rows, row drain ${rows.size}")
    pack(tr, rows, schema)
  }

  /** RowBinary encode/decode and the lz4 content-coding on in-memory
    * buffers of `rows` with ClickHouse column types `cols`.
    */
  def codec(tr: Tracer, rows: Seq[Row], cols: Seq[(String, String)]): Unit = {
    val encs = cols.map { case (_, t) => RowBinary.encoder(t) }.toArray
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val t0 = System.nanoTime()
    tr.span("client.rowbinary.encode") {
      rows.foreach { r =>
        var i = 0
        while (i < encs.length) { encs(i).write(out, r.get(i)); i += 1 }
      }
      out.flush()
    }
    tr.sample("client.rowbinary.encode_ns_per_row", (System.nanoTime() - t0).toDouble / rows.size)
    val bytes = bos.toByteArray
    val decs = cols.map { case (_, t) => RowBinary.decoder(t) }.toArray
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val t1 = System.nanoTime()
    tr.span("client.rowbinary.decode") {
      var n = 0
      while (n < rows.size) {
        var i = 0
        while (i < decs.length) { decs(i).read(in); i += 1 }
        n += 1
      }
      require(in.available() == 0, "RowBinary decode left unread bytes")
    }
    tr.sample("client.rowbinary.decode_ns_per_row", (System.nanoTime() - t1).toDouble / rows.size)
    val t2 = System.nanoTime()
    tr.span("client.http.lz4") {
      val cbos = new ByteArrayOutputStream()
      val co = HttpCodec.wrapOutput("lz4", cbos)
      co.write(bytes)
      co.close()
      val ci = HttpCodec.wrapInput("lz4", new ByteArrayInputStream(cbos.toByteArray))
      val back = ci.readAllBytes()
      ci.close()
      require(java.util.Arrays.equals(back, bytes), "lz4 round trip changed the bytes")
    }
    tr.sample("client.http.lz4_ns_per_byte", (System.nanoTime() - t2).toDouble / bytes.length)
  }
}
