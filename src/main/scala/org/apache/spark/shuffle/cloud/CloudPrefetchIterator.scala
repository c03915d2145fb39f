package org.apache.spark.shuffle.cloud

import java.io.{ByteArrayInputStream, InputStream, SequenceInputStream}
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.TaskContext
import org.apache.spark.internal.Logging
import org.apache.spark.shuffle.ShuffleReadMetricsReporter
import org.apache.spark.storage.BlockId

/** Asynchronous, memory-capped block prefetcher — the heart of read
  * performance against high-latency object stores.
  *
  * Behavioral spec from the reference (`S3BufferedPrefetchIterator.scala:
  * 16-213`): daemon threads pull blocks off the fetch list, buffer up to
  * `min(blockSize, maxBufferSizeTask)` bytes each, and hand completed
  * buffers to the consuming task thread through a blocking queue; total
  * buffered bytes never exceed `maxBufferSizeTask`. Concurrency is FIXED at
  * `min(maxConcurrencyTask, blocks)` workers. The reference hill-climbs its
  * thread count on observed latency (`:32-94`); that controller was
  * measured against fixed concurrency on a store adding 20 ms per call and
  * lost (it starts at 2 threads and moves one step per 8 reads, so a
  * 16-block reduce task never passes 3), so it was removed.
  *
  * Completion order is delivery order: reducers don't care which map's
  * block arrives first, so the queue never head-of-line blocks.
  *
  * The time the task thread spends blocked on the queue is reported to
  * Spark as the read's fetch wait. When the task ends — drained, abandoned
  * by `take`/`limit`, failed or killed — a completion listener stops the
  * workers and closes every stream still queued.
  */
private[cloud] class CloudPrefetchIterator(env: CloudShuffleEnv,
    blocks: IndexedSeq[(BlockId, CloudBlockStream, InputStream)],
    readMetrics: ShuffleReadMetricsReporter)
    extends Iterator[(BlockId, InputStream)] with Logging {

  private case class Fetched(blockId: BlockId, stream: InputStream, buffered: Long)

  private val nextIdx = new AtomicInteger(0)
  private val queue = new LinkedBlockingQueue[Either[Throwable, Fetched]]()
  private var delivered = 0
  private val total = blocks.length
  @volatile private var stopped = false
  @volatile private var current: InputStream = null // last block handed to the consumer

  // --- fetch wait: always measured, reported to Spark in whole ms with the
  // sub-ms remainder carried, so many short waits are not rounded to 0
  private val startNanos = System.nanoTime()
  private var waitNanos = 0L // consumer thread only
  private var reportedWaitMs = 0L

  // --- read-side statistics (reference S3BufferedPrefetchIterator.scala:
  // 155-186): always counted, logged only when env.readStatistics is on
  private val statsEnabled = env.readStatistics
  private val bytesRead = new AtomicLong(0L)
  private val prefetchNanos = new AtomicLong(0L)
  private val statsLogged = new AtomicBoolean(false)

  // limit/take consumers never reach delivered == total, so the listener
  // also emits their stats line (exactly once, via statsLogged). Outside a
  // task (unit tests) there is no listener and stop() is called directly.
  Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
    if (statsEnabled) logStatistics()
    stop()
  })

  private def logStatistics(): Unit = {
    if (!statsLogged.compareAndSet(false, true)) return
    val totalNanos = math.max(1L, System.nanoTime() - startNanos)
    val bR = bytesRead.get()
    val tP = prefetchNanos.get() / 1000000
    val tW = waitNanos / 1000000
    val n = math.max(1, total)
    val mibs = if (tP > 0) bR.toDouble / (tP.toDouble / 1000) / (1024 * 1024) else 0.0
    logInfo(f"cloud shuffle read stats: $delivered/$total blocks, $bR bytes, " +
      f"$tW ms waiting (${tW / n} avg), $tP ms prefetching (${tP / n} avg, " +
      f"${bR / n} block size, $mibs%.1f MiB/s). " +
      f"Total: ${totalNanos / 1000000} ms - ${100 * waitNanos / totalNanos}%% waiting, " +
      f"$peakBuffered bytes peak buffered.")
  }

  // --- memory budget ------------------------------------------------------
  private val budgetLock = new Object
  private var bufferedBytes = 0L
  private var peakBufferedBytes = 0L

  /** Take `size` bytes of budget; false (nothing taken) once stopped. */
  private def acquire(size: Long): Boolean = budgetLock.synchronized {
    // Always admit at least one in-flight buffer to avoid deadlock on
    // blocks larger than the whole budget.
    while (!stopped && bufferedBytes > 0 && bufferedBytes + size > env.maxBufferSizeTask) {
      budgetLock.wait()
    }
    val admitted = !stopped
    if (admitted) {
      bufferedBytes += size
      peakBufferedBytes = math.max(peakBufferedBytes, bufferedBytes)
    }
    admitted
  }

  private def release(size: Long): Unit = budgetLock.synchronized {
    bufferedBytes -= size
    budgetLock.notifyAll()
  }

  /** Most bytes held at once by buffered, undelivered blocks. */
  private[cloud] def peakBuffered: Long = budgetLock.synchronized(peakBufferedBytes)

  // --- workers ------------------------------------------------------------
  // never start more workers than there are blocks: a 2-block reduce task
  // has no use for the other maxConcurrencyTask-2 threads, and their
  // create-then-immediately-return churn was a measurable slice of the
  // per-task fixed cost on tiny shuffles (tools/OverheadProfile, r10).
  (0 until math.min(env.maxConcurrencyTask, total)).foreach { i =>
    val t = new Thread(() => workLoop(), s"cloud-shuffle-prefetch-$i")
    t.setDaemon(true)
    t.start()
  }

  private def workLoop(): Unit = {
    var idx = nextIdx.getAndIncrement()
    while (idx < total && fetch(idx)) idx = nextIdx.getAndIncrement()
  }

  /** Buffer block `idx` and queue it; false when the worker must exit. */
  private def fetch(idx: Int): Boolean = {
    val (blockId, ranged, wrapped) = blocks(idx)
    val toBuffer = math.min(ranged.size, env.maxBufferSizeTask)
    var acquired = false
    try {
      acquired = acquire(toBuffer)
      if (!acquired) return false
      // memory first, THEN the executor-wide permit: a task parked on its
      // memory budget must not hold a fetch slot the rest of the executor
      // could use. The clock starts INSIDE the permit so queue wait does
      // not pollute the MiB/s statistics.
      val buf = env.withFetchPermit {
        val t0 = System.nanoTime()
        val b = readUpTo(wrapped, toBuffer)
        prefetchNanos.addAndGet(System.nanoTime() - t0)
        b
      }
      bytesRead.addAndGet(buf.length.toLong)
      val stream: InputStream =
        if (buf.length.toLong >= ranged.size || isExhausted(wrapped)) {
          wrapped.close()
          new ByteArrayInputStream(buf)
        } else {
          // block bigger than the budget: serve the buffered head, then
          // stream the tail straight from the store
          new SequenceInputStream(new ByteArrayInputStream(buf), wrapped)
        }
      queue.put(Right(Fetched(blockId, stream, toBuffer)))
      // a stop() that drained the queue before this put cannot see it
      if (stopped) closeQueued()
      true
    } catch {
      case t: Throwable =>
        // only give back budget that was actually taken — an exception
        // inside acquire() itself (e.g. interrupt while parked) must not
        // drive bufferedBytes negative and loosen the cap for others
        if (acquired) release(toBuffer)
        closeQuietly(wrapped)
        queue.put(Left(new RuntimeException(
          s"cloud shuffle prefetch of ${blockId.name} failed reading " +
            s"${env.blockPath(ranged.dataBlock)} bytes [${ranged.start}, ${ranged.end})", t)))
        false
    }
  }

  /** The ranged stream reports its own exhaustion; wrappers (decompression)
    * don't, so probe conservatively: only a raw CloudBlockStream can be
    * declared done early. */
  private def isExhausted(s: InputStream): Boolean = s match {
    case c: CloudBlockStream => c.remainingBytes <= 0
    case _                   => false
  }

  private def readUpTo(in: InputStream, limit: Long): Array[Byte] = {
    // exact-size single allocation (r14): the block's buffered size is
    // KNOWN up front (the index gives exact ranges), so read straight into
    // one right-sized array — the former ByteArrayOutputStream +
    // toByteArray pair double-copied and double-allocated every block, a
    // GC tax the read path pays at any store latency. Blocks beyond
    // byte[]-addressability buffer their first 2 GB; the
    // SequenceInputStream tail streams the rest.
    val size = math.min(limit, (Int.MaxValue - 16).toLong).toInt
    val buf = new Array[Byte](size)
    var off = 0
    var eof = false
    while (off < size && !eof) {
      val n = in.read(buf, off, size - off)
      if (n < 0) eof = true else off += n
    }
    if (off == size) buf else java.util.Arrays.copyOf(buf, off)
  }

  // --- shutdown -----------------------------------------------------------

  /** Stop prefetching: workers read no further block (acquire() refuses
    * them), parked ones wake and exit, and every stream not yet consumed is
    * closed. Idempotent. */
  private[cloud] def stop(): Unit = {
    stopped = true
    budgetLock.synchronized(budgetLock.notifyAll())
    if (current != null) closeQuietly(current)
    closeQueued()
  }

  private def closeQueued(): Unit = {
    var e = queue.poll()
    while (e != null) {
      e.foreach(f => closeQuietly(f.stream))
      e = queue.poll()
    }
  }

  private def closeQuietly(s: InputStream): Unit =
    try s.close()
    catch { case e: Exception => logDebug(s"cloud shuffle prefetch close: $e") }

  // --- consumer side ------------------------------------------------------
  override def hasNext: Boolean = delivered < total

  override def next(): (BlockId, InputStream) = {
    if (!hasNext) throw new NoSuchElementException("cloud shuffle prefetch: no more blocks")
    val w0 = System.nanoTime()
    val taken = queue.take()
    waitNanos += System.nanoTime() - w0
    val waitMs = waitNanos / 1000000
    if (waitMs > reportedWaitMs) {
      readMetrics.incFetchWaitTime(waitMs - reportedWaitMs)
      reportedWaitMs = waitMs
    }
    taken match {
      case Left(err) =>
        stop()
        throw err
      case Right(f) =>
        delivered += 1
        // release the budget once the task thread owns the buffer: the
        // bytes are handed off, not duplicated
        release(f.buffered)
        if (statsEnabled && delivered == total) logStatistics()
        current = f.stream
        (f.blockId, f.stream)
    }
  }
}
