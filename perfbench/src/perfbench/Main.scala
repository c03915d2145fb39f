package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.shuffle.perfbench.TracingShuffleManager
import org.apache.spark.sql.SparkSession

/** The benchmark driver: one workload, a closed loop with one job in
  * flight, a sequence of lanes, each a fresh session. An untraced run
  * times the plugin only; the traced run adds a default-manager lane and a
  * traced plugin lane. Prints the metrics as one JSON object on the last
  * line of standard output.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --classes <dir> --fixtures <dir> --expected <file>`
  */
object Main {
  private val MiB = 1024.0 * 1024.0

  final case class Obs(lane: Lane, sec: Double, outcome: Outcome, window: Window,
      counters: Array[Long], inflightMax: Long, spans: IndexedSeq[Span],
      startNs: Long, endNs: Long, heapMiB: Double)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = arg("work")
    val env = Env(work, arg("classes"), s"$work/stats.bin", seed)
    val stats = Stats(env.stats)
    val wl = Workload(arg("workload"), env, a.getOrElse("fixtures", ""), a.getOrElse("expected", ""))
    val lanes =
      // the default lane takes the cold JVM, so the plugin lanes that
      // the tracing overhead compares run next to each other
      if (traced) Seq(Lane(false, false, "d0"), Lane(true, false, "p1"), Lane(true, true, "t2"))
      else wl.lanes
    val budgetNs = (seconds * 1e9 / lanes.count(_.measured)).toLong
    val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val setups = ArrayBuffer.empty[Double]
    val obs = ArrayBuffer.empty[Obs]
    val setupFailures = ArrayBuffer.empty[String]
    var startMs = ManagementFactory.getRuntimeMXBean.getStartTime

    lanes.foreach { lane =>
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val spark = wl.session(lane, env)
      try {
        val probe = new Probe(spark.sparkContext)
        spark.listenerManager.register(probe)
        wl.setup(spark)
        if (lane.plugin && wl.usesStore)
          setupFailures ++= Workload.storeSelfCheck(spark.sparkContext, stats)
        setupFailures ++= wl.warmUp(spark, first = setups.isEmpty).failures
          .map(f => s"warm-up ${lane.tag}: $f")
        probe.take()
        System.gc()
        setups += (System.currentTimeMillis() - startMs) / 1000.0
        System.err.println(f"perfbench ${lane.tag}: set up in ${setups.last}%.2f s")
        val deadline = System.nanoTime() + budgetNs
        var pass = 0
        while (lane.measured && (pass == 0 || System.nanoTime() < deadline)) {
          obs += iteration(wl, spark, probe, stats, lane, pass)
          System.err.println(f"perfbench ${lane.tag}: iteration $pass ${obs.last.sec}%.3f s" +
            obs.last.outcome.parts.map { case (k, v) => f" $k $v%.3f" }.mkString)
          pass += 1
        }
      } finally spark.stop()
      startMs = System.currentTimeMillis()
    }

    val failures = obs.flatMap(o => o.outcome.failures.map(f => s"${o.lane.tag}: $f"))
    (setupFailures ++ failures).foreach(f => System.err.println(s"perfbench FAILED $f"))
    val good = obs.filter(_.outcome.failures.isEmpty).toSeq
    val metrics =
      if (traced) perLayer(wl, good, obs.size, failures.size, stats, clockOffsetNs, work, seed)
      else endToEnd(good, setups.toSeq)
    if (traced) println(notApplicable(wl))
    val failed = failures.size + setupFailures.size
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${obs.size + setupFailures.size}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  private def iteration(wl: Workload, spark: SparkSession, probe: Probe, stats: Stats,
      lane: Lane, pass: Int): Obs = {
    stats.set(Stats.InflightMax, stats.get(Stats.Inflight))
    val c0 = stats.snapshot()
    val cur0 = stats.get(Stats.Cursor)
    val ns0 = System.nanoTime()
    val out =
      try wl.iterate(spark, pass)
      catch { case e: Exception => Outcome(Seq(s"${wl.name}: ${e.getClass.getName}: ${e.getMessage}")) }
    val ns1 = System.nanoTime()
    val window = probe.take()
    val c1 = stats.snapshot()
    val spans = if (lane.traced) stats.spans(cur0, stats.get(Stats.Cursor)) else IndexedSeq.empty
    System.gc()
    Obs(lane, (ns1 - ns0 - out.pausedNs) / 1e9, out, window, c1.zip(c0).map { case (x, y) => x - y },
      c1(Stats.InflightMax), spans, ns0, ns1, math.max(out.heapMiB, oldGenMiB()))
  }

  /** Old-generation occupancy after the last collection (a full GC was
    * just forced): retained state, not garbage. */
  def oldGenMiB(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed))
      .sum / MiB

  private def endToEnd(good: Seq[Obs], setups: Seq[Double]): Seq[(String, (Double, String))] = {
    require(good.nonEmpty, "no successful iteration")
    val wall = median(good.map(_.sec))
    Seq(
      "setup_s" -> (median(setups), "s"),
      "wall_s" -> (wall, "s"),
      "shuffle_mib_s" -> (median(good.map(o => o.window.tasks.map(_.writeBytes).sum / MiB)) / wall, "MiB/s"))
  }

  /** Per-layer metrics, each a median over the traced lane's iterations
    * unless named otherwise. */
  private def perLayer(wl: Workload, good: Seq[Obs], attempted: Int, failed: Int, stats: Stats,
      clockOffsetNs: Long, work: String, seed: Long): Seq[(String, (Double, String))] = {
    import Stats._
    val p = good.filter(o => o.lane.plugin && !o.lane.traced)
    val t = good.filter(_.lane.traced)
    val d = good.filterNot(_.lane.plugin)
    require(p.nonEmpty && t.nonEmpty && d.nonEmpty, "no successful iteration on one of the lanes")
    def med(f: Obs => Double): Double = median(t.map(f))
    def sumOp(o: Obs, op: Int): Double = (0 until 4).map(ty => o.counters(opSlot(op, ty))).sum.toDouble
    def tasks(o: Obs) = o.window.tasks
    val readBlocks = med(o => tasks(o).map(_.blocks).sum.toDouble)
    val indexGets = med(o => o.counters(opSlot(Get, Index)).toDouble)
    val trees = t.zipWithIndex.map { case (o, i) => Trace.tree(o, i, clockOffsetNs) }
    // untimed pauses inside an iteration (query-mix's GCs) are not driver time
    val paused = t.map(_.outcome.pausedNs / 1e6)
    val selfs = trees.map(Trace.selfByLayer).zip(paused).map { case (s, p) =>
      s.updated("driver", s.getOrElse("driver", 0.0) - p) }
    def self(layer: String): Double = median(selfs.map(_.getOrElse(layer, 0.0)))
    val gets = t.map(o => o.spans.filter(s => s.kind == KStore && s.aux / 4 == Get).map(_.dur / 1e6))
    Trace.dump(s"$work/trace-${wl.name}-$seed.csv", trees)
    val queryTimes = QueryMix.Queries.map { q =>
      val xs = p.flatMap(_.outcome.parts.filter(_._1 == q).map(_._2))
      s"operators.${q}_s" -> ((if (xs.isEmpty) 0.0 else median(xs)), "s")
    }
    Seq(
      "driver.jobs" -> (med(_.window.jobs.size.toDouble), "count"),
      "driver.stages" -> (med(_.window.stages.size.toDouble), "count"),
      "driver.tasks" -> (med(tasks(_).size.toDouble), "count"),
      "driver.gap_ms" -> (median(trees.map(Trace.gapMs).zip(paused).map { case (g, p) => g - p }), "ms"),
      "driver.task_p50_ms" -> (med(o => pct(tasks(o).map(_.durMs.toDouble), 0.5)), "ms"),
      "driver.task_p99_ms" -> (med(o => pct(tasks(o).map(_.durMs.toDouble), 0.99)), "ms"),
      "driver.task_max_ms" -> (med(o => pct(tasks(o).map(_.durMs.toDouble), 1.0)), "ms"),
      "driver.sched_delay_ms" -> (med(o => tasks(o).map(_.overheadMs).sum.toDouble), "ms"),
      "driver.gc_ms" -> (med(o => tasks(o).map(_.gcMs).sum.toDouble), "ms"),
      "driver.task_retries" -> (med(o => tasks(o).count(_.retry).toDouble), "count"),
      "driver.self_ms" -> (self("driver"), "ms"),
      "operators.plan_ms" -> (med(o => o.window.queries.map(_.planMs).sum + o.outcome.planMs), "ms"),
      "operators.exchanges" -> (med(_.window.queries.map(_.exchanges).sum.toDouble), "count"),
      "operators.scans" -> (med(_.window.queries.map(_.scans).sum.toDouble), "count"),
      "operators.spill_mib" -> (med(o => tasks(o).map(_.spillBytes).sum / MiB), "MiB"),
      "operators.self_ms" -> (self("operators"), "ms")) ++ queryTimes ++ Seq(
      "default.wall_s" -> (median(d.map(_.sec)), "s"),
      "plugin_overhead" -> (median(p.map(_.sec)) / median(d.map(_.sec)), "ratio"),
      "cloud.write.mib" -> (med(o => tasks(o).map(_.writeBytes).sum / MiB), "MiB"),
      "cloud.write.records" -> (med(o => tasks(o).map(_.writeRecords).sum.toDouble), "count"),
      "cloud.write.maps" -> (med(o => tasks(o).count(_.isMap).toDouble), "count"),
      "cloud.write.ms" -> (med(o => tasks(o).map(_.writeNs).sum / 1e6), "ms"),
      "cloud.write.task_ms" -> (med(o => spanMs(o, KWrite)), "ms"),
      "cloud.write.self_ms" -> (self("cloud.write"), "ms"),
      "cloud.read.mib" -> (med(o => tasks(o).map(_.readBytes).sum / MiB), "MiB"),
      "cloud.read.blocks" -> (readBlocks, "count"),
      "cloud.read.records" -> (med(o => tasks(o).map(_.readRecords).sum.toDouble), "count"),
      "cloud.read.task_ms" -> (med(o => spanMs(o, KRead)), "ms"),
      "cloud.read.first_record_ms" -> (median(trees.map(Trace.firstDataMs)), "ms"),
      "cloud.read.fetch_wait_ms" -> (med(o => tasks(o).map(_.fetchWaitMs).sum.toDouble), "ms"),
      "cloud.read.self_ms" -> (self("cloud.read"), "ms"),
      "cloud.index.gets" -> (indexGets, "count"),
      "cloud.index.puts" -> (med(o => o.counters(opSlot(Put, Index)).toDouble), "count"),
      "cloud.index.hit_ratio" -> ((if (readBlocks > 0) 1.0 - indexGets / readBlocks else 0.0), "ratio"),
      "store.gets" -> (med(sumOp(_, Get)), "count"),
      "store.puts" -> (med(sumOp(_, Put)), "count"),
      "store.lists" -> (med(sumOp(_, List)), "count"),
      "store.heads" -> (med(sumOp(_, Head)), "count"),
      "store.deletes" -> (med(sumOp(_, Delete)), "count"),
      "store.requests" -> (med(o => (0 until 5).map(sumOp(o, _)).sum), "count"),
      "store.get_ms" -> (median(gets.map(_.sum)), "ms"),
      "store.get_p50_ms" -> (median(gets.map(pct(_, 0.5))), "ms"),
      "store.get_p99_ms" -> (median(gets.map(pct(_, 0.99))), "ms"),
      "store.inflight_max" -> (med(_.inflightMax.toDouble), "count"),
      "store.put_ms" -> (med(o => o.spans.filter(s => s.kind == KStore && s.aux / 4 == Put)
        .map(_.dur / 1e6).sum), "ms"),
      "store.get_mib" -> (med(o => (0 until 4).map(ty => o.counters(GetBytes + ty)).sum / MiB), "MiB"),
      "store.put_mib" -> (med(o => (0 until 4).map(ty => o.counters(PutBytes + ty)).sum / MiB), "MiB"),
      "store.read_amplification" -> (med(o => ratio(o.counters(GetBytes + Data).toDouble,
        tasks(o).map(_.readBytes).sum.toDouble)), "ratio"),
      "store.errors" -> (med(_.counters(Errors).toDouble), "count"),
      "store.self_ms" -> (self("store"), "ms"),
      "heap_live_peak_mib" -> ((p ++ t).map(_.heapMiB).max, "MiB"),
      "failed_ratio" -> (failed.toDouble / math.max(1, attempted), "ratio"),
      "trace.overhead" -> (median(t.map(_.sec)) / median(p.map(_.sec)), "ratio"),
      "trace.spans" -> (median(trees.map(_.size.toDouble)), "count"),
      "trace.dropped" -> (stats.get(Dropped).toDouble, "count"))
  }

  private def spanMs(o: Obs, kind: Int): Double = o.spans.filter(_.kind == kind).map(_.dur / 1e6).sum

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Nearest-rank percentile (`q` = 1 is the maximum); 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else if (q == 0.5) {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    } else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Per-layer metrics reported as 0 on this workload, and why. */
  private def notApplicable(wl: Workload): String = {
    val rdd = "an RDD workload: no Catalyst plan"
    val na = wl.name match {
      case "query-mix" => Seq(
        "store.*, cloud.index.*" -> ("the plugin writes to a plain file:// root, which the " +
          "store wrapper does not see"))
      case _ => Seq("operators.plan_ms, operators.exchanges, operators.scans, operators.<q>_s" -> rdd)
    }
    val single = if (wl.name == "smallblocks-lat") Nil else Seq("cloud.index.gets" ->
      "a single JVM: the map writer fills the JVM-wide index cache, so no index GET happens")
    val all = na ++ single :+ ("cloud.read.fetch_wait_ms" ->
      "CloudShuffleReader never calls incFetchWaitTime, so Spark reports 0")
    all.map { case (k, v) => s""""$k": "$v"""" }.mkString("""{"not_applicable": {""", ", ", "}}")
  }
}
