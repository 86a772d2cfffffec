package graft.client

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.types.ClickHouseType

/** Byte-identity golden for the RowBinary codec: a seeded ~10K-row block
  * over every fixed-width wire type, encoded through `RowBinary.encoder`,
  * must hash to the pinned SHA-256. The digest was recorded before the
  * fixed-width primitives moved from per-byte to per-value stream calls,
  * so a change to how the codec moves bytes that also moves a byte on the
  * wire fails here. The bytes then decode through both read paths (row
  * `decoder` and columnar `vectorDecoder`) back to the inputs.
  */
class RowBinaryGoldenSpec extends AnyFunSuite {

  private val Rows = 10000

  /** Column type + generator of (insert value, expected Catalyst value). */
  private case class Col(ch: String, gen: Random => (Any, Any))

  private def bigUnscaled(r: Random, bits: Int): java.math.BigInteger = {
    val u = new java.math.BigInteger(bits, r.self)
    if (r.nextBoolean()) u.negate() else u
  }

  private def decimal(p: Int, s: Int, bits: Int): Col = Col(s"Decimal($p, $s)", r => {
    var u = bigUnscaled(r, bits)
    while (u.abs.toString.length > p) u = u.shiftRight(1)
    val bd = new java.math.BigDecimal(u, s)
    (bd, Decimal(bd, p, s))
  })

  private val cols: Seq[Col] = Seq(
    Col("Int8", r => { val v = r.nextInt().toByte; (v, v) }),
    Col("UInt8", r => { val v = r.nextInt(256).toShort; (v, v) }),
    Col("Int16", r => { val v = r.nextInt().toShort; (v, v) }),
    Col("UInt16", r => { val v = r.nextInt(65536); (v, v) }),
    Col("Int32", r => { val v = r.nextInt(); (v, v) }),
    Col("UInt32", r => { val v = r.nextInt().toLong & 0xffffffffL; (v, v) }),
    Col("Int64", r => { val v = r.nextLong(); (v, v) }),
    Col("UInt64", r => {
      val u = new java.math.BigInteger(64, r.self)
      (new java.math.BigDecimal(u), Decimal(new java.math.BigDecimal(u), 20, 0))
    }),
    Col("Float32", r => {
      val v = java.lang.Float.intBitsToFloat(r.nextInt()); (v, v)
    }),
    Col("Float64", r => {
      val v = java.lang.Double.longBitsToDouble(r.nextLong()); (v, v)
    }),
    Col("Date", r => {
      val d = r.nextInt(65536); (java.time.LocalDate.ofEpochDay(d), d)
    }),
    Col("Date32", r => {
      val d = r.nextInt(200000) - 25567; (java.time.LocalDate.ofEpochDay(d), d)
    }),
    Col("DateTime", r => {
      val s = r.nextInt().toLong & 0xffffffffL
      (java.time.Instant.ofEpochSecond(s), s * 1000000L)
    }),
    Col("DateTime64(3)", r => {
      val us = (r.nextLong() >> 20) * 1000L; (us, us)
    }),
    decimal(9, 2, 30),
    decimal(18, 4, 60),
    decimal(38, 10, 126),
    Col("UUID", r => {
      val u = new java.util.UUID(r.nextLong(), r.nextLong()).toString
      (u, UTF8String.fromString(u))
    }),
    Col("IPv4", r => {
      val a = r.nextInt()
      val t = s"${a >>> 24}.${(a >>> 16) & 255}.${(a >>> 8) & 255}.${a & 255}"
      (t, UTF8String.fromString(t))
    }),
    Col("Nullable(Int64)", r =>
      if (r.nextInt(5) == 0) (null, null) else { val v = r.nextLong(); (v, v) }),
    Col("Array(Int64)", r => {
      val vs = Seq.fill(r.nextInt(5))(r.nextLong()); (vs, vs)
    }))

  /** Catalyst value → comparable structure; floats by raw bits. */
  private def norm(v: Any): Any = v match {
    case f: Float => ("f32", java.lang.Float.floatToRawIntBits(f))
    case d: Double => ("f64", java.lang.Double.doubleToRawLongBits(d))
    case d: Decimal => d.toJavaBigDecimal
    case u: UTF8String => u.toString
    case a: GenericArrayData => a.array.toSeq
    case x => x
  }

  private lazy val (bytes, expected) = {
    val r = new Random(20240401L)
    val exp = Array.fill(Rows)(new Array[Any](cols.length))
    val encs = cols.map(c => RowBinary.encoder(c.ch)).toArray
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < Rows) {
      var c = 0
      while (c < cols.length) {
        val (ext, want) = cols(c).gen(r)
        encs(c).write(out, ext)
        exp(i)(c) = norm(want)
        c += 1
      }
      i += 1
    }
    out.flush()
    (bos.toByteArray, exp)
  }

  test("golden block: the wire bytes are pinned by SHA-256") {
    val sha = MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString
    assert(bytes.length === GoldenLength)
    assert(sha === GoldenSha256)
  }

  test("golden block decodes through the row decoder to the inputs") {
    val decs = cols.map(c => RowBinary.decoder(c.ch)).toArray
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    for (i <- 0 until Rows; c <- cols.indices)
      assert(norm(decs(c).read(in)) === expected(i)(c), s"row $i ${cols(c).ch}")
    assert(in.read() === -1)
  }

  test("golden block decodes through the vector decoder to the inputs") {
    val schema = ClickHouseType.toStructType(cols.map(c => c.ch -> c.ch))
    val vecs = OnHeapColumnVector.allocateColumns(Rows, schema)
    try {
      val decs = cols.map(c => RowBinary.vectorDecoder(c.ch).get).toArray
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      for (i <- 0 until Rows; c <- cols.indices) decs(c).readInto(in, vecs(c), i)
      assert(in.read() === -1)
      for (i <- 0 until Rows; c <- cols.indices)
        assert(vectorValue(vecs(c), schema(c).dataType, i) === expected(i)(c),
          s"row $i ${cols(c).ch}")
    } finally vecs.foreach(_.close())
  }

  private def vectorValue(v: WritableColumnVector, t: DataType, i: Int): Any =
    if (v.isNullAt(i)) null
    else t match {
      case ByteType => v.getByte(i)
      case ShortType => v.getShort(i)
      case IntegerType | DateType => v.getInt(i)
      case LongType | TimestampType => v.getLong(i)
      case FloatType => norm(v.getFloat(i))
      case DoubleType => norm(v.getDouble(i))
      case d: DecimalType => norm(v.getDecimal(i, d.precision, d.scale))
      case StringType => v.getUTF8String(i).toString
      case ArrayType(LongType, _) => v.getArray(i).toLongArray.toSeq
      case other => fail(s"unhandled vector type $other")
    }

  private val GoldenLength = 1322776
  private val GoldenSha256 =
    "9080d697426250b2c2edd1e25aeb59555b2492c494e9bd35fb0488e4f16a9ef3"
}
