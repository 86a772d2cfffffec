package graft.client

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.StructType

/** Streamed row spill for the embedded transport: executors write their
  * result partitions as length-prefixed UnsafeRow byte images; readers
  * pull them back one row at a time with O(1) memory. This is the
  * embedded stand-in for a wire protocol's per-stream block cursor — the
  * full result is never resident on any single node, and rows move in
  * Spark's INTERNAL format end to end (a wire client likewise decodes
  * blocks straight to InternalRow), matching the reference's incremental
  * `RecordBatchStream` emission (/root/reference/src/stream.rs:21-43).
  *
  * Format per row: 4-byte big-endian length, then the UnsafeRow bytes.
  * Length 0 never occurs (UnsafeRow has a fixed-width null bitset), so
  * EOF cleanly terminates.
  */
object RowSpill {

  /** Write all of `rows` (any InternalRow; converted to UnsafeRow if
    * needed) to `path`.
    */
  def write(path: Path, schema: StructType, rows: Iterator[InternalRow]): Unit =
    writeDealt(Seq(path), schema, rows)

  /** Write `rows` dealt round-robin over `paths`: row k goes to
    * `paths(k % n)`, so one task's result splits into n near-equal
    * streams without a shuffle. A file is created on its first row only;
    * returns the paths that received rows, in `paths` order.
    */
  def writeDealt(paths: Seq[Path], schema: StructType, rows: Iterator[InternalRow]): Seq[Path] = {
    val outs = new Array[DataOutputStream](paths.length)
    // rows from a codegen pipeline are UnsafeRow already; anything else
    // (e.g. a LocalTableScan) converts once here
    lazy val toUnsafe = UnsafeProjection.create(schema)
    var k = 0
    try {
      rows.foreach { r =>
        val u = r match {
          case u: UnsafeRow => u
          case other => toUnsafe(other)
        }
        if (outs(k) == null)
          outs(k) = new DataOutputStream(
            new BufferedOutputStream(Files.newOutputStream(paths(k)), 1 << 16))
        val bytes = u.getBytes
        outs(k).writeInt(bytes.length)
        outs(k).write(bytes)
        k = if (k + 1 == paths.length) 0 else k + 1
      }
    } finally outs.foreach(o => if (o != null) o.close())
    paths.indices.filter(outs(_) != null).map(paths)
  }

  /** Lazily stream UnsafeRows back from `path` (opens on first hasNext).
    * Each returned row is freshly backed — safe to buffer downstream.
    * Closeable so abandoned reads (pushed limits, killed tasks) release
    * the file descriptor immediately instead of waiting for GC.
    */
  def read(path: Path, numFields: Int): SpillFileIterator =
    new SpillFileIterator(path, numFields)

  final class SpillFileIterator(path: Path, numFields: Int)
    extends Iterator[InternalRow] with AutoCloseable {
    private var in: DataInputStream = _
    private var nextRow: UnsafeRow = _
    private var finished = false

    private def advance(): Unit = {
      if (in == null)
        in = new DataInputStream(
          new BufferedInputStream(Files.newInputStream(path), 1 << 16))
      // EOF is clean ONLY at a record boundary (the length prefix); EOF
      // inside the payload means a truncated file — silent row loss is
      // never acceptable, so that errors loudly
      val len =
        try in.readInt()
        catch {
          case _: EOFException =>
            finished = true
            close()
            return
        }
      val bytes = new Array[Byte](len)
      try in.readFully(bytes)
      catch {
        case e: EOFException =>
          close()
          throw new java.io.IOException(
            s"truncated spill file $path: EOF inside a $len-byte record", e)
      }
      val row = new UnsafeRow(numFields)
      row.pointTo(bytes, len)
      nextRow = row
    }

    override def hasNext: Boolean = {
      if (!finished && nextRow == null) advance()
      !finished
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = nextRow
      nextRow = null
      r
    }

    override def close(): Unit = {
      finished = true
      if (in != null) { in.close(); in = null }
    }
  }
}
