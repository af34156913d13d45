package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One metric as printed: value and unit. */
case class Metric(value: Double, unit: String)

/** The result of one run. `metrics` keeps insertion order for printing. */
case class Result(correct: Boolean, attempted: Int, failed: Int,
                  metrics: Seq[(String, Metric)], notes: Seq[String]) {
  def json: String = {
    def num(v: Double) = if (java.lang.Double.isFinite(v)) v.toString else "null"
    val ms = metrics.map { case (k, m) =>
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1`.
  *
  * Prints a human-readable summary on stdout, then, as the last line, one
  * JSON object with `correct`, `attempted`, `failed` and `metrics`:
  * the end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. Exits 1 when any output check fails, 2 on bad arguments. */
object Main {

  val Workloads = Seq("analyze-interactive", "analyze-concurrent", "batch-forecast")
  val Cores = 4

  case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def usage(msg: String): Nothing = {
    System.err.println(s"$msg\nusage: --workload ${Workloads.mkString("|")} --seed N --seconds S --trace 0|1")
    sys.exit(2)
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val w = get("workload")
    if (!Workloads.contains(w)) usage(s"unknown workload: $w")
    Opts(w, get("seed").toLong, get("seconds").toInt, get("trace") == "1")
  }

  /** The session every workload runs on: the configuration of
    * `graft.api.HttpShell.main` (local[4], 4 shuffle partitions, UTC),
    * with Spark's scratch space kept under the build directory. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.work.resolve("spark-warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Time the set-up, in seconds from the JVM's start: a run's JVM is
    * cold once, and the cold start (class loading, JIT, first query
    * compilations) is what a new replica pays before its first answer. */
  def setup[F](make: () => F): (F, Double) = {
    val f = make()
    val s = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    println(f"setup: $s%.2f s")
    (f, s)
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Live heap after full collections, in MiB. */
  def heapLiveMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** The leak probe run after every timed phase, with the session live. */
  def leakProbe(spark: SparkSession): (Double, Int, Int) = {
    val cached = graft.queries.cachedIndexCount
    val rdds = spark.sparkContext.getPersistentRDDs.size
    (heapLiveMb(), cached, rdds)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val r = o.workload match {
      case "batch-forecast"      => Batch.run(o)
      case "analyze-interactive" => Analyze.run(o, clients = 1)
      case "analyze-concurrent"  => Analyze.run(o, clients = Cores)
    }
    r.notes.foreach(println)
    println(r.json)
    System.out.flush()
    sys.exit(if (r.correct) 0 else 1)
  }
}

object Paths {
  /** Scratch space for generated inputs, outputs and traces, inside the
    * checkout the benchmark runs in. */
  val work: java.nio.file.Path =
    java.nio.file.Paths.get(sys.props.getOrElse("perfbench.work", ".bench_build/perfbench/work"))
      .toAbsolutePath
}
