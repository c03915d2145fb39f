package perfbench

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A sink that, like Spark's `noop` sink, consumes every row of a query's
  * own plan, and also returns the row count and an order-independent
  * 64-bit hash of the rows. `df.write.format(classOf[HashSink].getName)
  * .mode("append").save()`, then [[HashSink.take]] on the driver. */
class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = HashSink.Sink
}

object HashSink {
  final case class Result(rows: Long, hash: Long)

  private val last = new AtomicReference[Result]()

  /** Result of the last committed write; cleared by the call. */
  def take(): Result = Option(last.getAndSet(null)).getOrElse(
    throw new IllegalStateException("hash sink: no committed write"))

  private final case class Part(rows: Long, hash: Long) extends WriterCommitMessage

  private object Sink extends Table with SupportsWrite {
    override def name(): String = "perfbench-hash"
    override def schema(): StructType = new StructType()
    override def capabilities(): java.util.Set[TableCapability] = java.util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val schema = info.schema()
      new WriteBuilder {
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new Batch(schema)
        }
      }
    }
  }

  private final class Batch(schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new Factory(schema)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Part => p }
      last.set(Result(parts.map(_.rows).sum, parts.map(_.hash).sum))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = last.set(null)
  }

  private final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private var rows = 0L
        private var hash = 0L
        override def write(row: InternalRow): Unit = {
          rows += 1
          hash += RowHash.row(row, schema)
        }
        override def commit(): WriterCommitMessage = Part(rows, hash)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}

/** Value hashes over Catalyst's internal row format. Floating-point
  * values are hashed at 10 significant digits, so results that differ
  * only in the last bits of a double sum still compare equal. */
object RowHash {
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def bytes(b: Array[Byte]): Long = {
    var h = b.length.toLong
    var i = 0
    while (i < b.length) { h = h * 31 + b(i); i += 1 }
    mix(h)
  }

  def double(d: Double): Long =
    if (d.isNaN || d.isInfinite || d == 0.0) mix(java.lang.Double.doubleToLongBits(d + 0.0))
    else mix(java.lang.Double.doubleToLongBits(
      new java.math.BigDecimal(d).round(new java.math.MathContext(10)).doubleValue))

  def row(r: InternalRow, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      val dt = schema(i).dataType
      h = mix(h * 31 + (if (r.isNullAt(i)) 0x5bd1e995L else value(r.get(i, dt), dt)))
      i += 1
    }
    h
  }

  private def value(v: Any, dt: DataType): Long = if (v == null) 0x5bd1e995L else dt match {
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case FloatType => double(v.asInstanceOf[Float].toDouble)
    case DoubleType => double(v.asInstanceOf[Double])
    case _: DecimalType =>
      bytes(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.toPlainString.getBytes("UTF-8"))
    case _: StringType => bytes(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
    case a: ArrayType =>
      val arr = v.asInstanceOf[ArrayData]
      var h = 7L
      var i = 0
      while (i < arr.numElements()) {
        h = mix(h * 31 + (if (arr.isNullAt(i)) 0x5bd1e995L else value(arr.get(i, a.elementType), a.elementType)))
        i += 1
      }
      h
    case s: StructType => row(v.asInstanceOf[InternalRow], s)
    case m: MapType =>
      val md = v.asInstanceOf[MapData]
      val (ks, vs) = (md.keyArray(), md.valueArray())
      (0 until md.numElements()).map { i =>
        mix(value(ks.get(i, m.keyType), m.keyType) * 31 +
          (if (vs.isNullAt(i)) 0x5bd1e995L else value(vs.get(i, m.valueType), m.valueType)))
      }.sum
    case _ => v match {
      case n: java.lang.Number => mix(n.longValue)
      case other => bytes(other.toString.getBytes("UTF-8"))
    }
  }
}
