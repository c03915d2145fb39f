package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** One benchmark lane: a session with the plugin (optionally traced) or
  * with Spark's default shuffle manager. An unmeasured lane only sets up
  * and warms the JVM. */
final case class Lane(plugin: Boolean, traced: Boolean, tag: String, measured: Boolean = true)

/** Result of one timed iteration: failures found by its output check,
  * the seconds each named part took (query-mix: per query), the time
  * spent in query functions building their plans, and untimed pauses
  * inside the iteration with the peak old-generation MiB they measured. */
final case class Outcome(failures: Seq[String], parts: Seq[(String, Double)] = Nil,
    planMs: Double = 0.0, pausedNs: Long = 0L, heapMiB: Double = 0.0)

trait Workload {
  def name: String
  /** Whether the plugin lane writes to the store wrapper (else plain `file://`). */
  def usesStore: Boolean
  def session(lane: Lane, env: Env): SparkSession
  /** Per-session set-up: input caching and memoized state. */
  def setup(spark: SparkSession): Unit
  /** One timed iteration, including its output check. `pass` seeds any order. */
  def iterate(spark: SparkSession, pass: Int): Outcome
  /** Untimed warm-up at the end of set-up; `first` in a cold JVM. Two
    * iterations, and in a cold JVM at least twelve seconds of them: the
    * JIT keeps improving for several iterations. */
  def warmUp(spark: SparkSession, first: Boolean): Outcome =
    Workload.warm(this, spark, if (first) 12.0 else 0.0)
  /** Lanes of an untraced run: the cold JVM's first session only warms
    * up, two more are timed. */
  def lanes: Seq[Lane] =
    Seq(Lane(true, false, "w0", measured = false), Lane(true, false, "p1"), Lane(true, false, "p2"))
}

/** Run-wide settings shared by every session. */
final case class Env(work: String, classes: String, stats: String, seed: Long) {
  def executorJavaOptions: String = s"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir=$work/tmp"

  def common(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/local")
    .config("spark.executor.extraJavaOptions", executorJavaOptions)
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.perfbench.stats", stats)
    .config("spark.hadoop.perfbench.store.stats", stats)

  /** The plugin with its shipped defaults; only its root directory and
    * Spark's reduce-locality switch (which the plugin requires) are set. */
  def plugin(b: SparkSession.Builder, lane: Lane, root: String): SparkSession.Builder = b
    .config("spark.shuffle.manager",
      if (lane.traced) "org.apache.spark.shuffle.perfbench.TracingShuffleManager"
      else "org.apache.spark.shuffle.cloud.CloudShuffleManager")
    .config("spark.shuffle.sort.io.plugin.class", "org.apache.spark.shuffle.cloud.CloudShuffleDataIO")
    .config("spark.shuffle.cloud.rootDir", root)
    .config("spark.shuffle.reduceLocality.enabled", "false")
    .config("spark.hadoop.perfbench.trace", lane.traced.toString)
}

object Workload {
  def apply(name: String, env: Env, fixtures: String, expected: String): Workload = name match {
    case "terasort" => new TeraSort(env.seed)
    case "smallblocks-lat" => new SmallBlocks(env.seed)
    case "query-mix" => new QueryMix(fixtures, expected, env.seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Two timed plugin lanes, for workloads whose sessions are costly to start. */
  val twoTimedLanes: Seq[Lane] = Seq(Lane(true, false, "p0"), Lane(true, false, "p1"))

  /** Warm-up iterations: at least `passes`, and at least `seconds` of them. */
  def warm(wl: Workload, spark: SparkSession, seconds: Double, passes: Int = 2): Outcome = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val failures = ArrayBuffer.empty[String]
    var i = 0
    while (i < passes || System.nanoTime() < end) {
      i += 1
      failures ++= wl.iterate(spark, -i).failures
    }
    Outcome(failures.toSeq)
  }

  /** Store-backed plugin session on `master`, latency injected on every call. */
  def storeSession(master: String, lane: Lane, env: Env, latencyMs: Long,
      extra: Seq[(String, String)]): SparkSession = {
    val b = env.common(SparkSession.builder().master(master).appName(s"perfbench-${lane.tag}"))
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.hadoop.fs.benchfs.impl", classOf[StoreFs].getName)
      .config("spark.hadoop.perfbench.store.latencyMs", latencyMs.toString)
    extra.foreach { case (k, v) => b.config(k, v) }
    val root = s"${StoreFs.Scheme}://${env.work}/store/${lane.tag}"
    (if (lane.plugin) env.plugin(b, lane, root) else b).getOrCreate()
  }

  /** Store self-check: a 2-map x 3-reducer shuffle must bill exactly the
    * PUTs its maps commit (data, index and checksum object per map) and
    * one data GET per non-empty block (4 of the 6). */
  def storeSelfCheck(sc: SparkContext, stats: Stats): Option[String] = {
    import Stats._
    val before = stats.snapshot()
    val n = sc.parallelize(Seq(0, 1), 2)
      .mapPartitionsWithIndex((i, _) => Iterator((i, 1L), (i + 1, 1L)))
      .partitionBy(new HashPartitioner(3)).count()
    val after = stats.snapshot()
    def d(op: Int, t: Int): Long = after(opSlot(op, t)) - before(opSlot(op, t))
    val puts = d(Put, Data) + d(Put, Index) + d(Put, Checksum)
    val gets = d(Get, Data)
    if (n == 4 && puts == 6 && gets == 4) None
    else Some(s"store self-check: rows=$n (want 4), PUTs=$puts (want 6), data GETs=$gets (want 4)")
  }
}

/** `sortByKey` over 100-byte records (10-byte random key, 90-byte value). */
final class TeraSort(seed: Long) extends Workload {
  import TeraSort._
  val name = "terasort"
  val usesStore = true
  private var input: RDD[(Array[Byte], Array[Byte])] = _
  private lazy val expected: (Long, Long) = {
    var sum = 0L
    (0 until Parts).foreach(p => records(seed, p).foreach(r => sum += recordHash(r._1, r._2)))
    (Parts.toLong * PerPart, sum)
  }

  def session(lane: Lane, env: Env): SparkSession =
    Workload.storeSession("local[4]", lane, env, 0L, Nil)

  def setup(spark: SparkSession): Unit = {
    val s = seed
    input = spark.sparkContext.parallelize(0 until Parts, Parts)
      .flatMap(p => records(s, p)).persist(StorageLevel.MEMORY_ONLY)
    require(input.count() == Parts.toLong * PerPart, "terasort input caching lost records")
    expected
  }

  def iterate(spark: SparkSession, pass: Int): Outcome = {
    val parts = input.sortByKey(ascending = true, Parts)
      .mapPartitions(it => Iterator(summarize(it))).collect()
    val (n, sum) = expected
    val problems = Seq(
      (parts.map(_.count).sum != n) -> s"terasort: ${parts.map(_.count).sum} records, want $n",
      (parts.map(_.hash).sum != sum) -> "terasort: record checksum differs from the generator's",
      parts.exists(!_.sorted) -> "terasort: a partition is not sorted",
      parts.filter(_.count > 0).sliding(2).exists {
        case Array(a, b) => KeyOrder.compare(a.last, b.first) > 0
        case _ => false
      } -> "terasort: partitions overlap in key order")
    Outcome(problems.collect { case (true, msg) => msg })
  }
}

object TeraSort {
  val Parts = 16
  /** 32 MiB of input: 16 partitions x 20,971 records of 100 bytes. */
  val PerPart: Int = (32 << 20) / 100 / Parts

  object KeyOrder extends Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
  }
  private implicit val ord: Ordering[Array[Byte]] = KeyOrder

  def records(seed: Long, part: Int): Iterator[(Array[Byte], Array[Byte])] = {
    val rnd = new SplittableRandom(RowHash.mix(seed * 1000003L + part))
    Iterator.fill(PerPart) {
      val k = new Array[Byte](10)
      val v = new Array[Byte](90)
      rnd.nextBytes(k)
      rnd.nextBytes(v)
      (k, v)
    }
  }

  def recordHash(k: Array[Byte], v: Array[Byte]): Long =
    RowHash.mix(RowHash.bytes(k) * 31 + RowHash.bytes(v))

  final case class Summary(count: Long, hash: Long, sorted: Boolean,
      first: Array[Byte], last: Array[Byte])

  def summarize(it: Iterator[(Array[Byte], Array[Byte])]): Summary = {
    var n = 0L
    var h = 0L
    var sorted = true
    var first: Array[Byte] = null
    var prev: Array[Byte] = null
    it.foreach { case (k, v) =>
      if (first == null) first = k
      if (prev != null && KeyOrder.compare(prev, k) > 0) sorted = false
      prev = k
      n += 1
      h += recordHash(k, v)
    }
    Summary(n, h, sorted, first, prev)
  }
}

/** `reduceByKey` over seeded (Long, Long) pairs, many maps x many reducers,
  * on two executor JVMs, against a store that adds latency to each call.
  * Map m emits, for each key k, (k, (k + c)(m + 1)) and (k, 1), so every
  * sum is (k + c) M (M + 1) / 2 + M, with c drawn from the seed. */
final class SmallBlocks(seed: Long) extends Workload {
  import SmallBlocks._
  val name = "smallblocks-lat"
  val usesStore = true
  // each session starts new executor JVMs, so the first is timed too
  override def lanes: Seq[Lane] = Workload.twoTimedLanes
  private val c = 1L + math.floorMod(RowHash.mix(seed), 1000L)

  def session(lane: Lane, env: Env): SparkSession = {
    // Executor JVMs are new in every session. Their C2 compiles would
    // keep all four cores busy for the whole run, so they run C1 only:
    // this workload measures the store and per-block cost, not JIT.
    val spark = Workload.storeSession(s"local-cluster[2,2,1024]", lane, env, LatencyMs,
      Seq("spark.executor.extraClassPath" -> env.classes,
        "spark.executor.extraJavaOptions" -> (env.executorJavaOptions + " -XX:TieredStopAtLevel=1")))
    val sc = spark.sparkContext
    val deadline = System.currentTimeMillis() + 120000
    while (sc.getExecutorMemoryStatus.size < 3 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    require(sc.getExecutorMemoryStatus.size >= 3, "executors failed to register")
    spark
  }

  def setup(spark: SparkSession): Unit = ()

  /** Executor JVMs are new in every session, so every lane warms up for
    * at least three seconds. */
  override def warmUp(spark: SparkSession, first: Boolean): Outcome =
    Workload.warm(this, spark, 3.0)

  def iterate(spark: SparkSession, pass: Int): Outcome = {
    val (m, k, cc) = (Maps.toLong, Keys, c)
    val bad = spark.sparkContext.parallelize(0 until Maps, Maps)
      .flatMap(mi => Iterator.range(0, k).flatMap { key =>
        Iterator((key.toLong, (key + cc) * (mi + 1)), (key.toLong, 1L))
      })
      .reduceByKey(_ + _, Reducers)
      .mapPartitions { it =>
        var n = 0L
        var wrong = 0L
        it.foreach { case (key, s) =>
          n += 1
          if (s != (key + cc) * m * (m + 1) / 2 + m) wrong += 1
        }
        Iterator((n, wrong))
      }.collect()
    val n = bad.map(_._1).sum
    val wrong = bad.map(_._2).sum
    Outcome(
      (if (n != k) Seq(s"smallblocks-lat: $n keys, want $k") else Nil) ++
      (if (wrong > 0) Seq(s"smallblocks-lat: $wrong per-key sums differ from the closed form") else Nil))
  }
}

object SmallBlocks {
  val Maps = 16
  val Reducers = 16
  val Keys = 4096
  val LatencyMs = 20L
}
