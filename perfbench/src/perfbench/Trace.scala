package perfbench

import org.apache.spark.shuffle.perfbench.TracingShuffleManager.taskSpanId

/** One span of a traced iteration. `layer` names the repo module the
  * span times; `parent` is the id of the span that caused it. */
final case class Node(layer: String, name: String, start: Long, end: Long, id: Long, parent: Long) {
  def dur: Long = math.max(0L, end - start)
}

/** Span trees for traced iterations: iteration -> job -> stage -> task
  * from the driver's listener, map write and reduce read from the
  * tracing shuffle manager, store calls from the store wrapper. */
object Trace {
  private def jobId(j: Int): Long = (2L << 48) | j
  private def stageId(s: Int, attempt: Int): Long = (3L << 48) | (s.toLong << 8) | attempt
  private def iterId(i: Int): Long = (4L << 48) | i

  def tree(o: Main.Obs, i: Int, clockOffsetNs: Long): Seq[Node] = {
    def ns(ms: Long): Long = ms * 1000000L - clockOffsetNs
    val w = o.window
    val stageJob = w.jobs.flatMap(j => j.stageIds.map(_ -> jobId(j.jobId))).toMap
    Seq(Node("driver", "iteration", o.startNs, o.endNs, iterId(i), 0L)) ++
      w.jobs.map(j => Node("driver", "job", ns(j.startMs), ns(j.endMs), jobId(j.jobId), iterId(i))) ++
      w.stages.map(s => Node("driver", "stage", ns(s.submitMs), ns(s.doneMs),
        stageId(s.stageId, s.attempt), stageJob.getOrElse(s.stageId, iterId(i)))) ++
      w.tasks.map(t => Node("operators", "task", ns(t.launchMs), ns(t.finishMs),
        taskSpanId(t.taskAttemptId), stageId(t.jobStage, t.stageAttempt))) ++
      o.spans.map { s =>
        s.kind match {
          case Stats.KWrite => Node("cloud.write", "map-write", s.start, s.end, s.id, s.parent)
          case Stats.KRead => Node("cloud.read", "reduce-read", s.start, s.end, s.id, s.parent)
          case _ => Node("store", Stats.OpNames(s.aux.toInt / 4) + "-" +
            Seq("data", "index", "checksum", "other")(s.aux.toInt % 4), s.start, s.end, 0L, s.parent)
        }
      }
  }

  /** Length of the union of `spans`, clipped to `[lo, hi)`. */
  def covered(lo: Long, hi: Long, spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = lo
    spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** Self time per layer in ms: each span's duration minus the part of
    * it its children cover. */
  def selfByLayer(nodes: Seq[Node]): Map[String, Double] = {
    val kids = nodes.filter(_.parent != 0L).groupBy(_.parent)
    nodes.groupBy(_.layer).map { case (layer, ns) =>
      layer -> ns.map { n =>
        val c = if (n.id == 0L) Nil else kids.getOrElse(n.id, Nil).map(k => (k.start, k.end))
        (n.dur - covered(n.start, n.end, c)) / 1e6
      }.sum
    }
  }

  /** Iteration wall time during which no task was running, in ms. */
  def gapMs(nodes: Seq[Node]): Double = nodes.find(_.name == "iteration").map { it =>
    (it.dur - covered(it.start, it.end, nodes.filter(_.name == "task").map(n => (n.start, n.end)))) / 1e6
  }.getOrElse(0.0)

  /** Median, over reduce reads, of the time from `read()` to the end of
    * its first data GET: the prefetcher's start-up. */
  def firstDataMs(nodes: Seq[Node]): Double = {
    val firstGet = nodes.filter(n => n.name == "get-data" && n.parent != 0L)
      .groupBy(_.parent).map { case (p, gs) => p -> gs.map(_.end).min }
    Main.median(nodes.filter(_.name == "reduce-read").flatMap(r =>
      firstGet.get(r.id).map(e => (e - r.start) / 1e6)))
  }

  /** Write every traced iteration's spans as CSV, one span per line. */
  def dump(path: String, trees: Seq[Seq[Node]]): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      out.println("iteration,layer,name,start_ns,end_ns,id,parent")
      trees.zipWithIndex.foreach { case (nodes, i) =>
        nodes.foreach(n => out.println(s"$i,${n.layer},${n.name},${n.start},${n.end},${n.id},${n.parent}"))
      }
    } finally out.close()
  }
}
