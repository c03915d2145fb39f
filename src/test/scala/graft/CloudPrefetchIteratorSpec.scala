package org.apache.spark.shuffle.cloud

import java.io.{IOException, InputStream}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.executor.TempShuffleReadMetrics
import org.apache.spark.storage.{BlockId, ShuffleBlockId, ShuffleDataBlockId}
import org.scalatest.funsuite.AnyFunSuite

/** Unit spec for the prefetcher over in-memory slow streams: fixed
  * concurrency, exactly-once delivery, the memory budget, fetch-wait
  * reporting, failure messages and shutdown. No Spark context: the
  * `CloudBlockStream` of each block only supplies its range and is never
  * opened. */
class CloudPrefetchIteratorSpec extends AnyFunSuite {

  /** Counts readers inside `read` at once. */
  private class ReadProbe {
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    def enter(): Unit = peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
    def exit(): Unit = inFlight.decrementAndGet()
  }

  /** An in-memory block; every read sleeps `delayMs`, at most `chunk` bytes. */
  private class SlowStream(val bytes: Array[Byte], delayMs: Long, probe: ReadProbe,
      chunk: Int = Int.MaxValue, fail: Boolean = false) extends InputStream {
    @volatile var pos = 0
    @volatile var closed = false
    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (pos >= bytes.length) return -1
      probe.enter()
      try {
        Thread.sleep(delayMs)
        if (fail) throw new IOException("injected store failure")
        val n = math.min(math.min(len, chunk), bytes.length - pos)
        System.arraycopy(bytes, pos, b, off, n)
        pos += n
        n
      } finally probe.exit()
    }
    override def close(): Unit = closed = true
  }

  private def env(extra: (String, String)*): CloudShuffleEnv = {
    val conf = new SparkConf().set(CloudShuffleEnv.ROOT_DIR_KEY,
      Files.createTempDirectory("cloud-prefetch").toUri.toString)
    extra.foreach { case (k, v) => conf.set(k, v) }
    new CloudShuffleEnv(conf, "prefetch-spec")
  }

  private def blockBytes(map: Int, size: Int): Array[Byte] =
    Array.tabulate[Byte](size)(j => (map * 31 + j).toByte)

  private def blocksOf(e: CloudShuffleEnv, streams: Seq[SlowStream])
      : IndexedSeq[(BlockId, CloudBlockStream, InputStream)] =
    streams.zipWithIndex.map { case (s, m) =>
      val ranged = new CloudBlockStream(e, ShuffleDataBlockId(0, m.toLong, 0), 0L, s.bytes.length.toLong)
      (ShuffleBlockId(0, m.toLong, 0): BlockId, ranged, s: InputStream)
    }.toIndexedSeq

  /** Drain every block, returning its bytes by map id. */
  private def drain(it: CloudPrefetchIterator): Map[Long, Array[Byte]] = {
    val seen = it.map { case (id, in) =>
      (id.asInstanceOf[ShuffleBlockId].mapId, in.readAllBytes())
    }.toSeq
    assert(seen.map(_._1).distinct.size == seen.size, "a block was delivered twice")
    seen.toMap
  }

  private def prefetchThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("cloud-shuffle-prefetch-")).toSet

  test("peak concurrent reads equal min(maxConcurrencyTask, blocks); each block once") {
    for ((maxConc, n) <- Seq((4, 16), (8, 3), (1, 5))) {
      val probe = new ReadProbe
      val e = env(CloudShuffleEnv.MAX_CONCURRENCY_KEY -> maxConc.toString)
      val streams = (0 until n).map(m => new SlowStream(blockBytes(m, 64), 100, probe))
      val got = drain(new CloudPrefetchIterator(e, blocksOf(e, streams), new TempShuffleReadMetrics))
      assert(probe.peak.get == math.min(maxConc, n), s"maxConcurrencyTask=$maxConc blocks=$n")
      assert(got.keySet == (0 until n).map(_.toLong).toSet)
      got.foreach { case (m, bytes) => assert(bytes.sameElements(streams(m.toInt).bytes)) }
    }
  }

  test("buffered bytes never exceed maxBufferSizeTask") {
    val probe = new ReadProbe
    val e = env(CloudShuffleEnv.MAX_CONCURRENCY_KEY -> "8",
      CloudShuffleEnv.MAX_BUFFER_TASK_KEY -> "1000")
    val streams = (0 until 12).map(m => new SlowStream(blockBytes(m, 300), 20, probe))
    val it = new CloudPrefetchIterator(e, blocksOf(e, streams), new TempShuffleReadMetrics)
    val got = it.map { case (id, in) => Thread.sleep(10); (id, in.readAllBytes().length) }.toSeq
    assert(got.map(_._2).sum == 12 * 300)
    assert(it.peakBuffered > 0 && it.peakBuffered <= 1000, s"peak ${it.peakBuffered}")
    // reads only start once budget is held: at most three 300-byte blocks
    assert(probe.peak.get <= 3, s"peak concurrent reads ${probe.peak.get}")
  }

  test("a block larger than the budget yields all its bytes: buffered head, streamed tail") {
    val probe = new ReadProbe
    val e = env(CloudShuffleEnv.MAX_BUFFER_TASK_KEY -> "100")
    val streams = Seq(new SlowStream(blockBytes(0, 1000), 1, probe, chunk = 64),
      new SlowStream(blockBytes(1, 40), 1, probe))
    val it = new CloudPrefetchIterator(e, blocksOf(e, streams), new TempShuffleReadMetrics)
    val got = drain(it)
    assert(got(0L).sameElements(streams(0).bytes))
    assert(got(1L).sameElements(streams(1).bytes))
    assert(it.peakBuffered <= 100, s"peak ${it.peakBuffered}")
  }

  test("time blocked on the queue reaches the reporter as fetch wait") {
    val e = env()
    val metrics = new TempShuffleReadMetrics
    val streams = (0 until 3).map(m => new SlowStream(blockBytes(m, 16), 50, new ReadProbe))
    drain(new CloudPrefetchIterator(e, blocksOf(e, streams), metrics))
    assert(metrics.fetchWaitTime > 0)
  }

  test("next() past the end throws NoSuchElementException instead of blocking") {
    val e = env()
    val empty = new CloudPrefetchIterator(e, IndexedSeq.empty, new TempShuffleReadMetrics)
    assert(!empty.hasNext)
    intercept[NoSuchElementException](empty.next())
    val streams = (0 until 2).map(m => new SlowStream(blockBytes(m, 8), 1, new ReadProbe))
    val it = new CloudPrefetchIterator(e, blocksOf(e, streams), new TempShuffleReadMetrics)
    drain(it)
    intercept[NoSuchElementException](it.next())
  }

  test("a failed read names the block, its data object and the byte range") {
    val e = env()
    val streams = Seq(new SlowStream(blockBytes(0, 64), 1, new ReadProbe, fail = true))
    val it = new CloudPrefetchIterator(e, blocksOf(e, streams), new TempShuffleReadMetrics)
    val ex = intercept[RuntimeException](it.next())
    val msg = ex.getMessage
    assert(msg.contains("shuffle_0_0_0") && msg.contains("shuffle_0_0_0.data") &&
      msg.contains("[0, 64)"), msg)
    assert(ex.getCause.isInstanceOf[IOException])
    assert(streams.head.closed)
  }

  test("stop() ends every worker and closes every stream it opened") {
    val before = prefetchThreads()
    val probe = new ReadProbe
    // every block is twice the budget: buffered ones queue with a live tail
    val e = env(CloudShuffleEnv.MAX_CONCURRENCY_KEY -> "4",
      CloudShuffleEnv.MAX_BUFFER_TASK_KEY -> "100")
    val streams = (0 until 20).map(m => new SlowStream(blockBytes(m, 200), 20, probe, chunk = 50))
    val it = new CloudPrefetchIterator(e, blocksOf(e, streams), new TempShuffleReadMetrics)
    val started = prefetchThreads() -- before
    val (_, first) = it.next()
    assert(first.read() >= 0)
    it.stop()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (started.exists(_.isAlive) && System.nanoTime() < deadline) Thread.sleep(20)
    assert(!started.exists(_.isAlive),
      started.filter(_.isAlive).map(t => s"${t.getName} ${t.getState}").mkString(", "))
    val leaked = streams.zipWithIndex.filter { case (s, _) => s.pos > 0 && !s.closed }
    assert(leaked.isEmpty, s"open streams of blocks ${leaked.map(_._2)}")
    assert(streams.count(_.pos > 0) < streams.size, "stop() must prevent claiming the rest")
  }
}
