package perfbench

import java.lang.invoke.{MethodHandles, VarHandle}
import java.nio.{ByteOrder, MappedByteBuffer}
import java.nio.channels.FileChannel
import java.nio.file.{Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

/** Counters and spans shared by every JVM of one benchmark run.
  *
  * The driver and each `local-cluster` executor map the same file and
  * update it with atomic operations, so store requests made in any JVM
  * add up in one place, and the in-flight gauge sees requests of all
  * executors at once. Layout: `NCounters` longs at the start, then a
  * span log of fixed 64-byte records appended through an atomic cursor.
  */
final class Stats private (buf: MappedByteBuffer) {
  import Stats._

  private def off(slot: Int): Int = slot * 8

  def add(slot: Int, d: Long): Unit = { val _ = (VH.getAndAdd(buf, off(slot), d): Long) }

  def get(slot: Int): Long = (VH.getVolatile(buf, off(slot)): Long)

  def set(slot: Int, v: Long): Unit = VH.setVolatile(buf, off(slot), v)

  def snapshot(): Array[Long] = Array.tabulate(NCounters)(get)

  /** One more request in flight; raises the run-wide maximum. */
  def enter(): Unit = {
    val now = (VH.getAndAdd(buf, off(Inflight), 1L): Long) + 1
    var max = get(InflightMax)
    while (now > max && !(VH.compareAndSet(buf, off(InflightMax), max, now): Boolean))
      max = get(InflightMax)
  }

  def exit(): Unit = add(Inflight, -1L)

  def nextId(): Long = (VH.getAndAdd(buf, off(NextId), 1L): Long) + 1

  /** Append one span; `kind` is written last so a reader never sees a
    * half-written record as valid. Full logs count drops instead. */
  def span(kind: Int, start: Long, end: Long, id: Long, parent: Long,
      aux: Long, bytes: Long): Unit = {
    val i = (VH.getAndAdd(buf, off(Cursor), 1L): Long)
    if (i >= capacity) { add(Dropped, 1L); return }
    val o = (SpanBase + i * SpanBytes).toInt
    VH.set(buf, o + 8, start)
    VH.set(buf, o + 16, end)
    VH.set(buf, o + 24, id)
    VH.set(buf, o + 32, parent)
    VH.set(buf, o + 40, aux)
    VH.set(buf, o + 48, bytes)
    VH.setRelease(buf, o, kind.toLong)
  }

  /** Spans appended at log positions `[from, to)`. */
  def spans(from: Long, to: Long): IndexedSeq[Span] =
    (from until math.min(to, capacity)).flatMap { i =>
      val o = (SpanBase + i * SpanBytes).toInt
      def at(d: Int): Long = (VH.getAcquire(buf, o + d): Long)
      val kind = at(0)
      if (kind == 0) None
      else Some(Span(kind.toInt, at(8), at(16), at(24), at(32), at(40), at(48)))
    }

  private val capacity: Long = (buf.capacity() - SpanBase) / SpanBytes
}

final case class Span(kind: Int, start: Long, end: Long, id: Long, parent: Long,
    aux: Long, bytes: Long) {
  def dur: Long = end - start
}

object Stats {
  private val VH: VarHandle =
    MethodHandles.byteBufferViewVarHandle(classOf[Array[Long]], ByteOrder.nativeOrder())

  // store operations x object types: slot = op * 4 + type
  val Get = 0
  val Put = 1
  val List = 2
  val Head = 3
  val Delete = 4
  val OpNames: Seq[String] = Seq("get", "put", "list", "head", "delete")
  val Data = 0
  val Index = 1
  val Checksum = 2
  val Other = 3
  def opSlot(op: Int, tpe: Int): Int = op * 4 + tpe
  val GetBytes = 20 // + type
  val PutBytes = 24 // + type
  val Errors = 28
  val Inflight = 29
  val InflightMax = 30
  val Cursor = 31
  val Dropped = 32
  val NextId = 33
  val NCounters = 34

  // span kinds
  val KStore = 1 // aux = opSlot, bytes = payload bytes
  val KWrite = 2 // aux = map id
  val KRead = 3

  private val SpanBase = 4096L
  private val SpanBytes = 64L
  private val FileBytes = 64L << 20

  /** Parent span id for store calls made by this thread or by threads it
    * starts (the plugin's prefetch workers are created inside `read()`). */
  val context = new InheritableThreadLocal[java.lang.Long]

  private val open = new ConcurrentHashMap[String, Stats]()

  def apply(path: String): Stats = open.computeIfAbsent(path, p => {
    val ch = FileChannel.open(Paths.get(p), StandardOpenOption.CREATE,
      StandardOpenOption.READ, StandardOpenOption.WRITE)
    try new Stats(ch.map(FileChannel.MapMode.READ_WRITE, 0, FileBytes))
    finally ch.close()
  })

  def typeOf(name: String): Int =
    if (name.endsWith(".data")) Data
    else if (name.endsWith(".index")) Index
    else if (name.endsWith(".checksum") || name.contains(".checksum.")) Checksum
    else Other
}
