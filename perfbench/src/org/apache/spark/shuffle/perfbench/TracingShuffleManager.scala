package org.apache.spark.shuffle.perfbench

import org.apache.spark.{ShuffleDependency, SparkConf, SparkContext, TaskContext}
import org.apache.spark.scheduler.MapStatus
import org.apache.spark.shuffle._
import org.apache.spark.shuffle.cloud.CloudShuffleManager
import _root_.perfbench.Stats

/** Delegating `ShuffleManager` for the benchmark's traced runs: wraps
  * [[CloudShuffleManager]] and records one span per map write (`write`
  * through `stop`) and one per reduce read (`read()` until its iterator is
  * drained or the task ends), parented to the task attempt. While a span
  * is open its id sits in [[Stats.context]], so store calls made by the
  * task thread or by threads it starts name it as their parent.
  *
  * Lives under `org.apache.spark` because `ShuffleManager` is
  * `private[spark]`. Needs `spark.perfbench.stats` (the run's shared
  * stats file).
  */
class TracingShuffleManager(conf: SparkConf) extends ShuffleManager {
  private val under = new CloudShuffleManager(conf)
  private lazy val stats = Stats(conf.get(TracingShuffleManager.StatsKey))

  override def registerShuffle[K, V, C](shuffleId: Int,
      dependency: ShuffleDependency[K, V, C]): ShuffleHandle =
    under.registerShuffle(shuffleId, dependency)

  override def getWriter[K, V](handle: ShuffleHandle, mapId: Long, context: TaskContext,
      metrics: ShuffleWriteMetricsReporter): ShuffleWriter[K, V] =
    new TracedWriter(under.getWriter[K, V](handle, mapId, context, metrics), context, mapId)

  override def getReader[K, C](handle: ShuffleHandle, startMapIndex: Int, endMapIndex: Int,
      startPartition: Int, endPartition: Int, context: TaskContext,
      metrics: ShuffleReadMetricsReporter): ShuffleReader[K, C] =
    new TracedReader(under.getReader[K, C](handle, startMapIndex, endMapIndex,
      startPartition, endPartition, context, metrics), context)

  override def unregisterShuffle(shuffleId: Int): Boolean = under.unregisterShuffle(shuffleId)

  override def shuffleBlockResolver: ShuffleBlockResolver = under.shuffleBlockResolver

  override def stop(): Unit = under.stop()

  private def taskSpan(context: TaskContext): Long =
    TracingShuffleManager.taskSpanId(context.taskAttemptId())

  private def withContext[T](id: Long)(f: => T): T = {
    val prev = Stats.context.get()
    Stats.context.set(id)
    try f finally Stats.context.set(prev)
  }

  private class TracedWriter[K, V](w: ShuffleWriter[K, V], context: TaskContext, mapId: Long)
      extends ShuffleWriter[K, V] {
    private val id = stats.nextId()
    private var start = 0L

    override def write(records: Iterator[Product2[K, V]]): Unit = {
      start = System.nanoTime()
      withContext(id)(w.write(records))
    }

    override def stop(success: Boolean): Option[MapStatus] = {
      val s = if (start == 0L) System.nanoTime() else start
      try withContext(id)(w.stop(success))
      finally stats.span(Stats.KWrite, s, System.nanoTime(), id, taskSpan(context), mapId, 0L)
    }

    override def getPartitionLengths(): Array[Long] = w.getPartitionLengths()
  }

  private class TracedReader[K, C](r: ShuffleReader[K, C], context: TaskContext)
      extends ShuffleReader[K, C] {
    override def read(): Iterator[Product2[K, C]] = {
      val id = stats.nextId()
      val start = System.nanoTime()
      var done = false
      def finish(): Unit = if (!done) {
        done = true
        stats.span(Stats.KRead, start, System.nanoTime(), id, taskSpan(context), 0L, 0L)
      }
      context.addTaskCompletionListener[Unit](_ => finish())
      val it = withContext(id)(r.read())
      new Iterator[Product2[K, C]] {
        override def hasNext: Boolean = {
          val h = withContext(id)(it.hasNext)
          if (!h) finish()
          h
        }
        override def next(): Product2[K, C] = it.next()
      }
    }
  }
}

object TracingShuffleManager {
  val StatsKey = "spark.perfbench.stats"

  /** Span id of a task attempt (driver-side spans use the same scheme). */
  def taskSpanId(taskAttemptId: Long): Long = (1L << 48) | taskAttemptId

  /** Deliver every queued listener event before the caller reads
    * listener state; `listenerBus` is `private[spark]`. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
