package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture queries from `graft.SparkEntry`, each run through its own
  * plan into [[HashSink]] and checked against committed row counts and
  * hashes. The seed and the pass number fix each pass's query order. */
final class QueryMix(fixtures: String, expectedFile: String, seed: Long) extends Workload {
  val name = "query-mix"
  val usesStore = false
  private val expected: Map[String, HashSink.Result] = QueryMix.readExpected(expectedFile)

  def session(lane: Lane, env: Env): SparkSession = {
    val b = env.common(graft.GraftSession.builder("4", plugin = lane.plugin))
    if (lane.plugin) env.plugin(b, lane, s"file://${env.work}/store/${lane.tag}")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm the session the way `graft.Bench` does: one small scan and
    * aggregate, so the first query does not pay for session start-up. */
  def setup(spark: SparkSession): Unit =
    graft.Tables.load(spark, fixtures, "lineitem").groupBy("l_returnflag").count().count()

  // the first session's warm-up passes already absorb the cold JVM
  override def lanes: Seq[Lane] = Workload.twoTimedLanes

  /** A cold JVM runs the whole mix at least three times and for at least
    * twelve seconds: a pass keeps getting faster for several passes (code
    * generation, JIT, memoized builds). A later session runs one whole
    * pass, so that each query's first run in the session is untimed. */
  override def warmUp(spark: SparkSession, first: Boolean): Outcome =
    if (first) Workload.warm(this, spark, 12.0, passes = 3) else Workload.warm(this, spark, 0.0, passes = 1)

  def iterate(spark: SparkSession, pass: Int): Outcome =
    run(spark, new scala.util.Random(RowHash.mix(seed * 7919L + pass)).shuffle(QueryMix.Queries))

  /** Runs `order`; after each query a full GC, outside the timing, reads
    * retained heap, so the peak does not depend on which query ran last. */
  private def run(spark: SparkSession, order: Seq[String]): Outcome = {
    var planNs = 0L
    var pausedNs = 0L
    var heap = 0.0
    val results = order.map { short =>
      val fn = QueryMix.query(short)
      val t0 = System.nanoTime()
      val failure = try {
        val df = fn(spark, fixtures)
        planNs += System.nanoTime() - t0
        QueryMix.sink(df)
        val got = HashSink.take()
        expected.get(short) match {
          case Some(want) if want == got => None
          case Some(want) => Some(s"$short: rows=${got.rows} hash=${got.hash}, " +
            s"want rows=${want.rows} hash=${want.hash}")
          case None => Some(s"$short: no expected result committed")
        }
      } catch { case e: Exception => Some(s"$short: ${e.getClass.getName}: ${e.getMessage}") }
      val t1 = System.nanoTime()
      System.gc()
      heap = math.max(heap, Main.oldGenMiB())
      pausedNs += System.nanoTime() - t1
      (short, (t1 - t0) / 1e9, failure)
    }
    Outcome(results.flatMap(_._3), results.map(r => (r._1, r._2)), planNs / 1e6, pausedNs, heap)
  }
}

object QueryMix {
  /** The mix, by the id prefix `graft.SparkEntry` queries carry. */
  val Queries: Seq[String] = Seq("q13", "dd16")

  def query(short: String): (SparkSession, String) => DataFrame = {
    val hits = graft.SparkEntry.queries.filter(_._1.startsWith(short + "_"))
    require(hits.size == 1, s"query id $short matches ${hits.keys.mkString(", ")}")
    hits.head._2
  }

  def fullName(short: String): String =
    graft.SparkEntry.queries.keys.find(_.startsWith(short + "_")).get

  def sink(df: DataFrame): Unit =
    df.write.format(classOf[HashSink].getName).mode("append").save()

  /** `{"q13": {"rows": 1, "hash": 2}, ...}` as written by [[Expected]]. */
  def readExpected(path: String): Map[String, HashSink.Result] = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val entry = """"(\w+)"\s*:\s*\{\s*"rows"\s*:\s*(-?\d+)\s*,\s*"hash"\s*:\s*(-?\d+)\s*\}""".r
    entry.findAllMatchIn(text).map(m =>
      m.group(1) -> HashSink.Result(m.group(2).toLong, m.group(3).toLong)).toMap
  }
}

/** Writes the query mix's expected results: each query's rows as parquet
  * plus `oracle_sql.json` (the layout `scripts/check_oracle.py` reads),
  * and `expected.json` with each query's row count and hash.
  * Usage: `Expected <fixtureDir> <outDir>`. */
object Expected {
  def main(args: Array[String]): Unit = {
    val Array(fixtures, out) = args
    new java.io.File(out).mkdirs()
    val spark = graft.GraftSession.builder("4", plugin = true)
      .config("spark.shuffle.cloud.rootDir", s"file://$out/shuffle")
      .config("spark.local.dir", s"$out/local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    val rows = QueryMix.Queries.map { short =>
      val fn = QueryMix.query(short)
      QueryMix.sink(fn(spark, fixtures))
      val r = HashSink.take()
      fn(spark, fixtures).coalesce(1).write.mode("overwrite").parquet(s"$out/${QueryMix.fullName(short)}")
      s"""  "$short": {"rows": ${r.rows}, "hash": ${r.hash}}"""
    }
    write(s"$out/expected.json", rows.mkString("{\n", ",\n", "\n}\n"))
    val sqls = QueryMix.Queries.map { short =>
      val full = QueryMix.fullName(short)
      s"${quote(full)}: ${quote(graft.SparkEntry.oracleSql(full))}"
    }
    write(s"$out/oracle_sql.json", sqls.mkString("{", ",", "}"))
    spark.stop()
  }

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8"))

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
