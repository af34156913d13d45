package perfbench

import graft.forecast.{Forecaster, StructuralTS}
import graft.stats.{AutoCorr, Diagnostics}
import graft.ts.{Aggregations, TimeOps}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** batch-forecast: no HTTP. Set-up writes seeded sub-daily observations
  * of many series to parquet; one operation reads them, buckets them to
  * a daily grain, forecasts 30 days ahead (a quarter of the series with
  * logistic growth) and computes ACF/PACF, writing both to parquet. */
object Batch {

  /** Series per operation, sized so one operation takes a few seconds on
    * 4 cores and a run holds several of them. */
  val NSeries = 2000
  /** Fewest operations a timed phase measures. */
  val MinOps = 6
  /** Warm-up operations in set-up: the first runs cold, the second still
    * pays for code the JIT has not compiled yet. */
  val WarmOps = 2
  /** Tolerance of the truth check: mean |yhat − truth| over the horizon,
    * as a share of the mean |truth|, on each sampled series. */
  val TruthTolerance = 0.10
  val TruthSample = 32

  case class Fixture(spark: SparkSession, input: String, specs: IndexedSeq[Gen.SeriesSpec]) {
    val logistic: Set[String] = specs.filter(_.logistic).map(_.id).toSet
    def close(): Unit = spark.stop()
  }

  private def dir(o: Main.Opts): Path = Paths.work.resolve(s"batch-seed${o.seed}")

  def input(spark: SparkSession, seed: Long, specs: IndexedSeq[Gen.SeriesSpec]): DataFrame = {
    import spark.implicits._
    spark.createDataset(specs)(Encoders.product[Gen.SeriesSpec])
      .flatMap(s => Gen.observations(seed, s))(Encoders.product[Gen.Obs])
      .select($"series", $"date", struct($"value", $"unit").as("obs"))
  }

  def makeFixture(o: Main.Opts): Fixture = {
    val spark = Main.session()
    val t0 = System.nanoTime()
    val specs = Gen.batchSpecs(o.seed, NSeries)
    val in = dir(o).resolve("input").toString
    input(spark, o.seed, specs).write.mode("overwrite").parquet(in)
    val fx = Fixture(spark, in, specs)
    val t1 = System.nanoTime()
    for (i <- 1 to WarmOps) op(fx, dir(o).resolve(s"warm$i"), None, s"warm$i")
    println(f"set-up: input written in ${(t1 - t0) / 1e9}%.2f s, $WarmOps warm-up jobs ${(System.nanoTime() - t1) / 1e9}%.2f s")
    fx
  }

  /** One batch operation; returns the daily row count. */
  def op(fx: Fixture, out: Path, tracer: Option[Tracer], opId: String): Long = {
    val spark = fx.spark
    def span[T](name: String, parent: Long)(body: => T): T =
      tracer.fold(body)(t => t.span(name, opId, parent)(body))
    def run(root: Long): Long = {
      val raw = spark.read.parquet(fx.input)
      // AnalyzePipeline.extractSeries keeps only (ds, y); the batch job
      // needs the series key, so it applies the same parse and field path
      // with the key carried along
      val obs = raw.select(col("series"), TimeOps.parseTimestamp(col("date")).as("ds"),
                           col("obs").getField("value").cast("double").as("y"))
        .filter(col("ds").isNotNull && col("y").isNotNull)
      val daily = Aggregations.groupByTime(obs, Some("D"), "sum", Seq("series")).persist()
      val rows = span("ts.group_by_time", root)(daily.count())
      span("forecast.forecast", root) {
        // logistic floor/cap from each series itself (A3/A4)
        val caps = daily.filter(col("series").isin(fx.logistic.toSeq: _*))
          .groupBy("series").agg(max("y"), stddev_samp("y"), min("y")).collect()
          .map(r => r.getString(0) -> StructuralTS.FitSpec(growth = "logistic",
            floor = math.min(0.0, r.getDouble(3)), cap = r.getDouble(1) + 3 * r.getDouble(2)))
          .toMap
        val grid = Forecaster.futureGrid(daily, "D", Gen.Horizon)
        Forecaster.forecast(daily, grid, StructuralTS.FitSpec(), "series", caps)
          .write.mode("overwrite").parquet(out.resolve("forecast").toString)
      }
      span("stats.acf_pacf", root) {
        Diagnostics.acfPacf(daily, "series").write.mode("overwrite").parquet(out.resolve("acf").toString)
      }
      daily.unpersist(blocking = true)
      rows
    }
    tracer match {
      case None => run(0L)
      case Some(t) =>
        val root = t.newId()
        t.span("batch", opId, 0L, root)(t.inGroup(opId)(run(root)))
    }
  }

  /** Output checks: the row counts of every operation's output (one scan
    * per output kind across all operations), then the last operation's
    * output in depth. Returns the failures of each output directory and
    * the number of series the last operation forecast. */
  def check(spark: SparkSession, outs: Seq[Path], fx: Fixture): (Map[Path, Seq[String]], Long) = {
    val errs = outs.map(_ -> ArrayBuffer.empty[String]).toMap
    def countsOf(kind: String): Map[String, Long] =
      spark.read.parquet(outs.map(_.resolve(kind).toString): _*)
        .groupBy(regexp_extract(col("_metadata.file_path"), s"/([^/]+)/$kind/", 1)).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantRows = fx.specs.map(_.days + Gen.Horizon).sum.toLong
    val wantAcf = fx.specs.map(s => AutoCorr.defaultNlags(s.days) + 1).sum.toLong
    val (fcRows, acfRows) = (countsOf("forecast"), countsOf("acf"))
    for (out <- outs; name = out.getFileName.toString) {
      val (gotRows, gotAcf) = (fcRows.getOrElse(name, 0L), acfRows.getOrElse(name, 0L))
      if (gotRows != wantRows) errs(out) += s"forecast has $gotRows rows, expected $wantRows"
      if (gotAcf != wantAcf) errs(out) += s"acf has $gotAcf rows, expected $wantAcf"
    }

    val last = errs(outs.last)
    val fc = spark.read.parquet(outs.last.resolve("forecast").toString)
    val acf = spark.read.parquet(outs.last.resolve("acf").toString)
    val y = col("yhat")
    val flag = (c: org.apache.spark.sql.Column) => sum(when(c, 1).otherwise(0))
    val agg = fc.groupBy("series")
      .agg(flag(y.isNull || isnan(y) || y === Double.PositiveInfinity || y === Double.NegativeInfinity).as("bad"),
           flag(col("segment") === "future").as("future"))
      .agg(sum("bad"), count(lit(1)), flag(col("future") =!= Gen.Horizon)).head()
    val (bad, fitted, future) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    if (bad > 0) last += s"$bad non-finite yhat values"
    if (future > 0) last += s"$future series without a ${Gen.Horizon}-day future"
    val lag0 = acf.filter(col("lag") === 0 && abs(col("acf") - 1.0) > 1e-9).count()
    if (lag0 > 0) last += s"$lag0 series with acf(0) != 1"
    val rng = new scala.util.Random(fx.specs.size * 7919L + fx.specs.head.level.toLong)
    val sample = rng.shuffle(fx.specs).take(TruthSample)
    val rows = fc.filter(col("segment") === "future" && col("series").isin(sample.map(_.id): _*))
      .select(col("series"), col("ds").cast("long"), col("yhat")).collect()
      .groupBy(_.getString(0))
    for (s <- sample) {
      val r = rows.getOrElse(s.id, Array.empty)
      val pairs = r.map { x => (x.getDouble(2), s.truth(((x.getLong(1) - Gen.epochDay(0)) / 86400).toInt)) }
      val err = pairs.map { case (a, b) => math.abs(a - b) }.sum / pairs.map(p => math.abs(p._2)).sum
      if (pairs.length != Gen.Horizon || !(err <= TruthTolerance))
        last += f"series ${s.id}: horizon error $err%.3f over ${pairs.length} days (tolerance $TruthTolerance)"
    }
    (errs.map { case (k, v) => k -> v.toSeq }, fitted)
  }

  def run(o: Main.Opts): Result = {
    val (fx, setupS) = Main.setup(() => makeFixture(o))
    val spark = fx.spark
    val notes = ArrayBuffer.empty[String]
    val outs = ArrayBuffer.tabulate(WarmOps)(i => dir(o).resolve(s"warm${i + 1}"))
    var dailyRows = 0L

    // operations run back to back until `seconds` have passed and at least
    // MinOps are done, so a slow machine still gives the median the same
    // number of samples; in a traced run every other pair is traced
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val gc0 = Main.gcMs
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    val ops = ArrayBuffer.empty[(Double, Boolean)] // (ms, traced)
    while (ops.size < MinOps || System.nanoTime() < deadline) {
      val out = dir(o).resolve(s"op${ops.size + 1}")
      outs += out
      val t = tracer.filter(_ => PerLayer.tracedAt(ops.size, 2))
      val t0 = System.nanoTime()
      dailyRows = op(fx, out, t, s"batch-${ops.size + 1}")
      ops += (((System.nanoTime() - t0) / 1e6, t.isDefined))
    }
    val gcMs = Main.gcMs - gc0
    tracer.foreach(_.detach())
    val lat = ops.map(_._1).toSeq

    val (errs, seriesFitted) = check(spark, outs.toSeq, fx)
    for (out <- outs; e <- errs(out).take(3)) notes += s"FAILED ${out.getFileName}: $e"
    val failed = outs.count(errs(_).nonEmpty)
    outs.foreach(deleteTree)
    val probe = Main.leakProbe(spark)
    notes += f"samples=${lat.size} succeeded=${outs.size - failed} failed=$failed " +
      f"latency_p90_ms=${Stats.quantile(lat, 0.9)}%.1f gc_ms=$gcMs " +
      f"cached_frames_after=${probe._2} persisted_rdds_after=${probe._3}"
    notes += lat.map(t => f"$t%.0f").mkString("latencies (ms): ", " ", "")

    val metrics: Seq[(String, Metric)] = tracer match {
      case None =>
        Seq("setup_s" -> Metric(setupS, "s"),
            "latency_p50_ms" -> Metric(Stats.median(lat), "ms"),
            "throughput_rps" -> Metric(lat.size / (lat.sum / 1e3), "1/s"),
            "heap_live_mb" -> Metric(probe._1, "MiB"))
      case Some(t) =>
        t.write(Paths.work.resolve(s"traces/${o.workload}-seed${o.seed}.jsonl"))
        val spans = t.allSpans
        val roots = spans.filter(_.name == "batch")
        val (traced, plain) = ops.partition(_._2)
        val sample = new scala.util.Random(o.seed).shuffle(fx.specs).take(8).map { s =>
          Micro.daily(Gen.observations(o.seed, s).map { x =>
            (java.time.LocalDateTime.parse(x.date.replace(' ', 'T')).toEpochSecond(java.time.ZoneOffset.UTC), x.value)
          }.toSeq)
        }
        val (fitUs, predictUs) = Micro.fitPredict(sample, Gen.Horizon)
        PerLayer.metrics(PerLayer.engine(t, roots, ops.size, gcMs, probe) ++ Map(
          "forecast.fit_us" -> fitUs,
          "forecast.predict_us" -> predictUs,
          "forecast.forecast_ms" -> PerLayer.childMs(spans, roots, "forecast.forecast"),
          "forecast.series_fitted" -> seriesFitted.toDouble,
          "ts.group_by_time_ms" -> PerLayer.childMs(spans, roots, "ts.group_by_time"),
          "ts.rows_in" -> fx.specs.map(_.days).sum.toDouble * Gen.ObsPerDay,
          "ts.rows_out" -> dailyRows.toDouble,
          "stats.acf_pacf_ms" -> PerLayer.childMs(spans, roots, "stats.acf_pacf"),
          "trace.overhead_ms" -> (Stats.median(traced.map(_._1).toSeq) - Stats.median(plain.map(_._1).toSeq))))
    }
    deleteTree(dir(o))
    fx.close()
    Result(failed == 0, outs.size, failed, metrics, notes.toSeq)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)) finally s.close()
  }
}
