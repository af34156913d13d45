package graft.api

import graft.forecast.{Forecaster, StructuralTS}
import graft.queries.cacheOnce
import graft.stats.Diagnostics
import graft.ts.{Aggregations, TimeOps}
import graft.ts.Aggregations.SeriesStats
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}

/** The `/analyze` dataflow (SURVEY §3.1) rebuilt Spark-first.
  *
  * The reference loops over correlations serially, fitting one Prophet at
  * a time (`app.py:102-250`, and due to the §2.9 bug only the FIRST ever
  * runs). Here every correlation becomes two tagged series (covariate,
  * target) in two unioned frames; each stage — grain aggregation,
  * covariate forecast, observed-splice, target alignment, target
  * forecast-with-regressor, ACF/PACF — runs ONCE over all series,
  * partitioned by the correlation id. Adding correlations adds rows, not
  * stages: the plan shape is constant and the cluster scales it.
  *
  * Stage map (reference op → here):
  *   P1 extract          → [[extractSeries]] (dotted path on nested struct)
  *   T1/T2/T3 + A1       → `Aggregations.groupByTime`, one history per side
  *   A2-A5               → `Aggregations.seriesStats`: one aggregate job
  *                         over both sides, collected to the driver: date
  *                         bounds, horizons and logistic floor/cap per series
  *   C3 + C6             → `Forecaster.forecast/futureGrid` on covariates
  *   J1 + J2             → observed-splice left join + coalesce
  *   J3 / J4             → covariate alignment joins (broadcast)
  *   C4 + C8             → `Forecaster.forecast` with regressor on targets
  *   C1 + C2             → `Diagnostics.acfPacf` on both sides
  *   C7                  → `Forecaster.regressorCoefficients`
  *   F1/F2               → `segment` column ("historical"/"future")
  */
object AnalyzePipeline {

  case class AnalyzeResult(
      covariateForecasts: DataFrame, // (series, ds, segment, spliced 13-col frame)
      targetForecasts: DataFrame,    // (series, ds, segment, 13-col frame)
      diagnostics: DataFrame,        // (series, side, lag, acf, pacf)
      regressorCoefficients: DataFrame, // (series, regressor_mode, center, coef bounds)
      bounds: Map[(String, String), (Timestamp, Timestamp)], // (id, side) -> (min ds, max ds)
      fitBounds: Map[String, (Double, Double)] = Map.empty, // id -> resolved (floor, cap)
      horizons: Map[String, (Int, Int)] = Map.empty, // id -> honored (from, to) horizons
      granger: Option[DataFrame] = None, // C9 per-lag F-tests for type=granger correlations
      univariate: Option[DataFrame] = None, // C12 per-side moments for type=univariateStatistics
      cachedFrames: Seq[DataFrame] = Nil) { // request-scoped caches, released by close()

    /** Release the request-scoped caches (per-request histories/splice).
      * Each `analyze` call caches frames built from THAT request's data —
      * distinct canonicalized plans per request — so a long-lived session
      * serving many requests would otherwise accumulate CacheManager
      * entries unboundedly. Call after the result frames are consumed;
      * the result frames stay valid afterwards (they recompute from
      * source if re-evaluated). Idempotent. */
    def close(): Unit = cachedFrames.foreach(_.unpersist())
  }

  private val PathPattern = "^[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)*$".r

  /** P1: project (ds, y) out of a document frame; `path` is the dotted
    * path the reference resolves with `pydash.get` (`app.py:111`) — on a
    * Spark nested struct that is successive field accesses. The path
    * comes from untrusted request JSON, so it is validated against a
    * strict identifier pattern and resolved via `getField` chaining —
    * never `expr()`, which would evaluate arbitrary SQL (pydash.get is
    * a pure lookup; so is this). */
  def extractSeries(doc: DataFrame, dateCol: String, path: String): DataFrame = {
    require(PathPattern.matches(path),
      s"invalid series path (expected dotted identifiers): $path")
    val ds = doc.schema(dateCol).dataType match {
      case TimestampType => col(dateCol)
      case StringType    => TimeOps.parseTimestamp(col(dateCol))
      case _             => col(dateCol).cast("timestamp")
    }
    val parts = path.split('.')
    val y = parts.tail.foldLeft(col(parts.head))(_ getField _)
    doc.select(ds.as("ds"), y.cast("double").as("y"))
      .filter(col("ds").isNotNull && col("y").isNotNull)
  }

  def analyze(documents: Map[String, DataFrame],
              correlations: Seq[CorrelationSpec]): AnalyzeResult = {
    require(correlations.nonEmpty, "no correlations requested")
    val covHist = history(documents, correlations, "from")
    val tgtHist = history(documents, correlations, "to")
    val sides = covHist.withColumn("side", lit("from"))
      .unionByName(tgtHist.withColumn("side", lit("to")))
    val stats = statsOf(sides)

    // A5: each side's grid runs ITS OWN post-aggregation length
    // (`prepare_dataset` is called per side, `app.py:115-120/158-163`)
    val covHorizons = horizonsOf(correlations, stats, "from")
    val tgtHorizons = horizonsOf(correlations, stats, "to")
    val specOverrides = targetSpecs(correlations, stats)
    // §3.2 covariate-side options (ForecastingOptions.fromIndex) when
    // present, resolved against the covariate's own series (the bundle's
    // self floor/ceiling, app.py:503-538); otherwise the covariate fits
    // with the correlation's spec (the /analyze behavior: one changepoint
    // prior for both fits)
    val covSpecOverrides: Map[String, StructuralTS.FitSpec] = correlations.map { c =>
      c.id -> c.covOptions.map { o =>
        val s = stats((c.id, "from"))
        o.fitSpec(s.floor(o.floor), s.cap(o.ceiling))
      }.getOrElse(specOverrides(c.id))
    }.toMap
    val defaultSpec = specOverrides(correlations.head.id)

    // C3: covariate forecasts over history + future (covariate-side spec)
    val covForecast = Forecaster.forecast(covHist, gridFor(correlations, covHist, covHorizons),
                                          covSpecOverrides(correlations.head.id), "series",
                                          covSpecOverrides)

    // J1+J2: observed covariate wins, forecast fills the future
    val covSpliced = cacheOnce(covForecast
      .join(covHist.select(col("series"), col("ds"), col("y")), Seq("series", "ds"), "left")
      .withColumn("x", coalesce(col("y"), col("yhat")))
      .drop("y"))

    // J3 (history) / J4-as-inner (future): align covariate onto target
    val covX = covSpliced.select(col("series"), col("ds"), col("x"))
    val tgtHistX = tgtHist.join(covX, Seq("series", "ds"), "left")
      .withColumn("x", coalesce(col("x"), lit(0.0)))
    // J4-as-inner also reproduces the reference's dropna: target-future
    // dates beyond the covariate's forecast coverage are dropped
    val tgtFuture = gridFor(correlations, tgtHist, tgtHorizons)
      .join(covX, Seq("series", "ds"), "inner")

    // C4/C8: target forecast with the covariate as regressor
    val tgtForecast = Forecaster.forecast(tgtHistX, tgtFuture,
                                          defaultSpec, "series", specOverrides)

    // C1/C2 diagnostics on both sides
    val diag = Diagnostics.acfPacf(covHist, "series").withColumn("side", lit("from"))
      .unionByName(Diagnostics.acfPacf(tgtHist, "series").withColumn("side", lit("to")))

    // C7 regressor coefficients
    val coefs = Forecaster.regressorCoefficients(tgtHistX, defaultSpec, "series", specOverrides)

    // C9 for type="granger" correlations: the notebook prototype
    // (`Untitled.ipynb` cell 12) runs
    // `granger_causality_tests(remove_trend(from), remove_trend(to),
    // maxlag=14)` — from is the CAUSE, to the EFFECT. tgtHistX already
    // holds exactly that aligned pair (y = target, x = spliced
    // covariate), so the tests reuse the pipeline's joins: one extra
    // keyed flatMapGroups over only the granger-typed series, no new
    // wide shuffle. Lags that run out of degrees of freedom are dropped
    // inside the test (short series yield fewer than 14 rows).
    val grangerIds = correlations.filter(_.corrType == "granger").map(_.id)
    val granger: Option[DataFrame] =
      if (grangerIds.isEmpty) None
      else Some(graft.stats.Granger.causality(
        tgtHistX.filter(col("series").isin(grangerIds: _*)),
        maxlag = 14, detrend = true))

    // C12 for type="univariateStatistics" correlations (the Literal's
    // last member, also declared-but-unshipped in the reference): the
    // q19 moment bundle per side over the aggregated series — one
    // grouped agg over already-built frames. Spark's skewness/kurtosis
    // are the population / excess-population estimators (pandas
    // describe-family defaults).
    val uniIds = correlations.filter(_.corrType == "univariateStatistics").map(_.id)
    val univariate: Option[DataFrame] =
      if (uniIds.isEmpty) None
      else Some(sides.filter(col("series").isin(uniIds: _*))
        .groupBy("series", "side")
        .agg(count(lit(1)).as("n"), avg("y").as("mean"),
             stddev_samp("y").as("std"), min("y").as("min"), max("y").as("max"),
             skewness(col("y")).as("skewness"), kurtosis(col("y")).as("kurtosis")))

    AnalyzeResult(covSpliced, tgtForecast, diag, coefs, boundsOf(stats),
                  fitBoundsOf(specOverrides),
                  correlations.map(c =>
                    c.id -> (covHorizons(c.id), tgtHorizons(c.id))).toMap,
                  granger = granger, univariate = univariate,
                  cachedFrames = Seq(covHist, tgtHist, covSpliced))
  }

  /** §3.3 `/saturating-growth/single` (`app.py:562-609`): fit the
    * TARGET series alone — no covariate extraction, no splice or
    * alignment, no regressor (the reference skips the J1/J2 branch
    * when `is_target=True` with no covariates, `app.py:478-483`).
    * Logistic floor/cap resolve from the series itself (A3/A4), same
    * as the bundle's cached `floor`/`ceiling` properties. */
  def analyzeSingle(documents: Map[String, DataFrame],
                    correlations: Seq[CorrelationSpec]): AnalyzeResult = {
    require(correlations.nonEmpty, "no correlations requested")
    val hist = history(documents, correlations, "to")
    val stats = statsOf(hist.withColumn("side", lit("to")))
    val horizons = horizonsOf(correlations, stats, "to")
    val specOverrides = targetSpecs(correlations, stats)
    val forecast = Forecaster.forecast(hist, gridFor(correlations, hist, horizons),
      specOverrides(correlations.head.id), "series", specOverrides)
    val diag = Diagnostics.acfPacf(hist, "series").withColumn("side", lit("to"))

    AnalyzeResult(forecast.limit(0), forecast, diag,
                  forecast.sparkSession.emptyDataFrame, boundsOf(stats),
                  fitBoundsOf(specOverrides),
                  horizons.map { case (id, h) => id -> (h, h) },
                  cachedFrames = Seq(hist))
  }

  /** T1-T3 + A1 for one side of every correlation ("from" = covariate,
    * "to" = target): extract, bucket to the grain and aggregate, tagged
    * with the correlation id, cached for the request. */
  private def history(documents: Map[String, DataFrame], correlations: Seq[CorrelationSpec],
                      side: String): DataFrame =
    cacheOnce(correlations.map { c =>
      val (docName, path) = if (side == "from") (c.fromData, c.fromIndex) else (c.toData, c.toIndex)
      val doc = documents.getOrElse(docName,
        throw new IllegalArgumentException(s"unknown document: $docName"))
      Aggregations.groupByTime(
          extractSeries(doc, c.dateColumn, path), c.grain.map(TimeOps.normalizeGrain),
          c.aggregation)
        .select(lit(c.id).as("series"), col("ds"), col("y"))
    }.reduce(_ unionByName _))

  /** A2-A5 inputs of every (series, side) of `sides` — one aggregate,
    * one job, a handful of rows. A series with no rows reads as
    * `SeriesStats.Empty`. */
  private def statsOf(sides: DataFrame): Map[(String, String), SeriesStats] =
    Aggregations.seriesStats(sides, Seq("series", "side")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> SeriesStats(r)).toMap
      .withDefaultValue(SeriesStats.Empty)

  private def horizonsOf(correlations: Seq[CorrelationSpec],
                         stats: Map[(String, String), SeriesStats], side: String): Map[String, Int] =
    correlations.map(c => c.id -> stats((c.id, side)).horizon(c.unitsToForecast)).toMap

  /** Target-side fit specs with the logistic floor/cap (A3/A4) resolved
    * from the target series itself. */
  private def targetSpecs(correlations: Seq[CorrelationSpec],
                          stats: Map[(String, String), SeriesStats]): Map[String, StructuralTS.FitSpec] =
    correlations.map { c =>
      val s = stats((c.id, "to"))
      c.id -> c.fitSpec(s.floor(c.floor), s.cap(c.ceiling))
    }.toMap

  private def boundsOf(stats: Map[(String, String), SeriesStats])
      : Map[(String, String), (Timestamp, Timestamp)] =
    stats.map { case (key, s) => key -> (s.minDs, s.maxDs) }

  private def fitBoundsOf(specs: Map[String, StructuralTS.FitSpec]): Map[String, (Double, Double)] =
    specs.map { case (id, s) => id -> (s.floor, s.cap) }

  /** C6 future grids, one `futureGrid` per distinct grain (grains can
    * differ per correlation). */
  private def gridFor(correlations: Seq[CorrelationSpec], hist: DataFrame,
                      horizons: Map[String, Int]): DataFrame =
    correlations.groupBy(_.grain.map(TimeOps.normalizeGrain).getOrElse("D")).map { case (g, cs) =>
      Forecaster.futureGrid(hist.filter(col("series").isin(cs.map(_.id): _*)), g,
                            horizon = 1, horizonOverrides = horizons)
    }.reduce(_ unionByName _)
}
