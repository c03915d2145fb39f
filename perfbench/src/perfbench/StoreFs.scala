package perfbench

import java.io.{FileNotFoundException, OutputStream}
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, FSDataInputStream, FSDataOutputStream,
  FSInputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The benchmark's object store: local files behind a `FilterFileSystem`
  * that bills every call the way an object store would and, when asked,
  * adds a fixed latency to each one.
  *
  * Billing model: `open` is free and each positioned read, or the first
  * sequential read after an open or seek, is one GET; a created object
  * is one PUT, paid when it is closed; `listStatus` is a LIST,
  * `getFileStatus` (and so `exists`) a HEAD, `delete` a DELETE. Counts
  * go to the run's shared [[Stats]] file, so they add up across JVMs.
  *
  * Configured through Hadoop keys (`spark.hadoop.` + key in Spark):
  * `perfbench.store.stats` (the shared file, required),
  * `perfbench.store.latencyMs` (default 0) and `perfbench.trace`.
  */
class StoreFs extends FilterFileSystem(new StoreFs.Local) {
  import Stats._

  private var latencyMs = 0L
  private var traced = false
  private var stats: Stats = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    latencyMs = conf.getLong(StoreFs.LatencyKey, 0L)
    traced = conf.getBoolean(StoreFs.TraceKey, false)
    stats = Stats(Option(conf.get(StoreFs.StatsKey)).getOrElse(
      throw new IllegalArgumentException(s"${StoreFs.StatsKey} is not set")))
  }

  override def getScheme: String = StoreFs.Scheme

  /** Run one billed store request. A missing object on HEAD or LIST is
    * an answer, not an error. */
  private[perfbench] def request[T](op: Int, tpe: Int)(f: => T): T = {
    stats.enter()
    val t0 = System.nanoTime()
    try {
      if (latencyMs > 0) Thread.sleep(latencyMs)
      f
    } catch {
      case e: FileNotFoundException if op == Head || op == List => throw e
      case e: Throwable =>
        stats.add(Errors, 1L)
        throw e
    } finally {
      val t1 = System.nanoTime()
      stats.exit()
      stats.add(opSlot(op, tpe), 1L)
      if (traced) {
        val parent = Option(context.get()).map(_.longValue).getOrElse(0L)
        stats.span(KStore, t0, t1, 0L, parent, opSlot(op, tpe), 0L)
      }
    }
  }

  private[perfbench] def billBytes(slot: Int, n: Long): Unit = if (n > 0) stats.add(slot, n)

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    new FSDataInputStream(new StoreFs.MeteredIn(this, fs.open(f, bufferSize), typeOf(f.getName)))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val under = fs.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    new FSDataOutputStream(new StoreFs.MeteredOut(this, under, typeOf(f.getName)), statistics)
  }

  override def delete(f: Path, recursive: Boolean): Boolean =
    request(Delete, typeOf(f.getName))(fs.delete(f, recursive))

  override def listStatus(f: Path): Array[FileStatus] =
    request(List, Other)(fs.listStatus(f))

  override def getFileStatus(f: Path): FileStatus =
    request(Head, typeOf(f.getName))(fs.getFileStatus(f))
}

object StoreFs {
  val Scheme = "benchfs"
  val StatsKey = "perfbench.store.stats"
  val LatencyKey = "perfbench.store.latencyMs"
  val TraceKey = "perfbench.trace"

  /** Local files under the store's own scheme, so paths check out. */
  final class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(Scheme + ":///")
    override def getScheme: String = Scheme
  }

  private[perfbench] final class MeteredIn(store: StoreFs, in: FSDataInputStream, tpe: Int)
      extends FSInputStream {
    import Stats._
    private var streaming = false

    override def seek(pos: Long): Unit = { in.seek(pos); streaming = false }
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean = false

    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) <= 0) -1 else one(0) & 0xff
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n =
        if (streaming) in.read(b, off, len)
        else { streaming = true; store.request(Get, tpe)(in.read(b, off, len)) }
      store.billBytes(GetBytes + tpe, n.toLong)
      n
    }

    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
      val n = store.request(Get, tpe)(in.read(pos, b, off, len))
      store.billBytes(GetBytes + tpe, n.toLong)
      n
    }

    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      store.request(Get, tpe)(in.readFully(pos, b, off, len))
      store.billBytes(GetBytes + tpe, len.toLong)
    }

    override def close(): Unit = in.close()
  }

  private[perfbench] final class MeteredOut(store: StoreFs, out: OutputStream, tpe: Int)
      extends OutputStream {
    import Stats._
    private var closed = false

    override def write(b: Int): Unit = { out.write(b); store.billBytes(PutBytes + tpe, 1L) }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      store.billBytes(PutBytes + tpe, len.toLong)
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = if (!closed) {
      closed = true
      store.request(Put, tpe)(out.close())
    }
  }
}
