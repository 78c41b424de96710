package enginebench

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent digest of one query's output. `sum1`/`sum2` are
  * wrapping sums of two independent 64-bit row hashes, so the digest
  * does not depend on partitioning or row order. */
final case class Fingerprint(rows: Long, sum1: Long, sum2: Long) {
  def hex: String = f"$sum1%016x$sum2%016x"
}

/** The benchmark's sink: Spark's `noop` sink (a DataSource V2 batch
  * write that computes every output column and stores nothing) plus a
  * per-row hash, so one execution is both timed and checked. Each
  * write names a `token`; the driver-side commit publishes the merged
  * fingerprint under it. Usage:
  * {{{ df.write.format(FingerprintSink.Format).option("token", t)
  *       .mode("overwrite").save() }}} */
final class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new FingerprintTable(schema)
}

object FingerprintSink {
  val Format: String = classOf[FingerprintSink].getName
  private val results = new ConcurrentHashMap[String, Fingerprint]

  /** The fingerprint committed under `token`, removed on read. */
  def take(token: String): Option[Fingerprint] = Option(results.remove(token))

  private[enginebench] def publish(token: String, fp: Fingerprint): Unit =
    results.put(token, fp)

  // Doubles are compared at this many significant digits: enough to
  // catch a wrong answer, loose enough that a different summation
  // order (last-bit differences) hashes the same.
  private val DoubleDigits = new java.math.MathContext(9)
  private val FloatDigits = new java.math.MathContext(6)

  /** Canonical bytes of one value of type `dt`, appended to `out`. */
  private def put(out: java.io.DataOutputStream, v: Any, dt: DataType): Unit =
    if (v == null) out.writeByte(0)
    else {
      out.writeByte(1)
      (dt, v) match {
        case (DoubleType, d: Double) => putReal(out, d, DoubleDigits)
        case (FloatType, f: Float) => putReal(out, f.toDouble, FloatDigits)
        case (_: DecimalType, d: Decimal) =>
          out.writeUTF(d.toJavaBigDecimal.stripTrailingZeros.toPlainString)
        case (_, s: UTF8String) => putBytes(out, s.getBytes)
        case (_, b: Array[Byte]) => putBytes(out, b)
        case (ArrayType(et, _), a: ArrayData) =>
          out.writeInt(a.numElements())
          a.foreach(et, (_, e) => put(out, e, et))
        case (MapType(kt, vt, _), m: MapData) =>
          // map entry order is not part of a map's value
          val entries = (0 until m.numElements()).map { i =>
            val bytes = new java.io.ByteArrayOutputStream
            val o = new java.io.DataOutputStream(bytes)
            put(o, m.keyArray().get(i, kt), kt)
            put(o, m.valueArray().get(i, vt), vt)
            o.flush()
            bytes.toByteArray
          }.sortBy(b => ByteBuffer.wrap(b))
          out.writeInt(entries.size)
          entries.foreach(putBytes(out, _))
        case (st: StructType, r: InternalRow) => putRow(out, r, st)
        case (_, b: Boolean) => out.writeLong(if (b) 1L else 0L)
        case (_, n: Byte) => out.writeLong(n.toLong)
        case (_, n: Short) => out.writeLong(n.toLong)
        case (_, n: Int) => out.writeLong(n.toLong)
        case (_, n: Long) => out.writeLong(n)
        case (_, other) => out.writeUTF(other.toString)
      }
    }

  private def putReal(out: java.io.DataOutputStream, d: Double,
      mc: java.math.MathContext): Unit =
    if (d.isNaN || d.isInfinite) out.writeUTF(d.toString)
    else if (d == 0.0) out.writeUTF("0")
    else out.writeUTF(new java.math.BigDecimal(d).round(mc)
      .stripTrailingZeros.toString)

  private def putBytes(out: java.io.DataOutputStream, b: Array[Byte]): Unit = {
    out.writeInt(b.length)
    out.write(b)
  }

  private def putRow(out: java.io.DataOutputStream, r: InternalRow,
      st: StructType): Unit =
    st.fields.indices.foreach { i =>
      val dt = st.fields(i).dataType
      put(out, if (r.isNullAt(i)) null else r.get(i, dt), dt)
    }

  /** Two independent 64-bit hashes of one row's canonical bytes. */
  private[enginebench] def rowHashes(r: InternalRow, st: StructType)
      : (Long, Long) = {
    val bytes = new java.io.ByteArrayOutputStream(64)
    val out = new java.io.DataOutputStream(bytes)
    putRow(out, r, st)
    out.flush()
    val b = bytes.toByteArray
    import scala.util.hashing.MurmurHash3.bytesHash
    def h64(s1: Int, s2: Int): Long =
      (bytesHash(b, s1).toLong << 32) | (bytesHash(b, s2).toLong & 0xffffffffL)
    (h64(0x3c074a61, 0x1b873593), h64(0x5bd1e995, 0x7feb352d))
  }
}

private final class FingerprintTable(tableSchema: StructType)
    extends Table with SupportsWrite {
  override def name(): String = "enginebench-fingerprint"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] = Set(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new FingerprintBatchWrite(info.options.get("token"), info.schema)
      }
    }
}

private final case class PartDigest(rows: Long, sum1: Long, sum2: Long)
    extends WriterCommitMessage

private final class FingerprintBatchWrite(token: String, schema: StructType)
    extends BatchWrite {
  require(token != null, "fingerprint sink needs a 'token' option")
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = new FingerprintWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case p: PartDigest => p }
    FingerprintSink.publish(token, Fingerprint(parts.map(_.rows).sum,
      parts.map(_.sum1).sum, parts.map(_.sum2).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class FingerprintWriterFactory(schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private var rows = 0L
    private var sum1 = 0L
    private var sum2 = 0L
    override def write(record: InternalRow): Unit = {
      val (a, b) = FingerprintSink.rowHashes(record, schema)
      rows += 1
      sum1 += a
      sum2 += b
    }
    override def commit(): WriterCommitMessage = PartDigest(rows, sum1, sum2)
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}
