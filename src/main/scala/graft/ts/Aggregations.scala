package graft.ts

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Aggregation ops A1-A5 (SURVEY §2.4).
  *
  * Reference: `prepare_dataset` dedupes the time index with
  * `df.groupby("ds").agg({"y": agg})` (`app.py:89`, two-column variant
  * `app.py:390-395`); date bounds (`app.py:366-370`); logistic floor/cap
  * defaults (`app.py:354-364`); horizon default (`app.py:91`). A2-A5 are
  * one per-series aggregate, [[seriesStats]], read by [[SeriesStats]].
  *
  * Scale posture: [[groupByTime]] is a single hash-aggregate with map-side
  * partial aggregation — the only shuffle in the normalization pipeline,
  * keyed by (series, bucket) so it parallelizes over both series and time.
  */
object Aggregations {

  /** Aggregation spellings: the reference enum contains the typo
    * "meadian" (`app.py:44`) which would crash pandas; we map it to
    * median (documented divergence, SURVEY §2.9). */
  def normalizeAgg(agg: String): String = agg match {
    case "sum" | "min" | "max" | "mean" | "median" => agg
    case "meadian" => "median"
    case "avg" => "mean"
    case a => throw new IllegalArgumentException(s"Unsupported aggregation: $a")
  }

  /** A1: the aggregation expression for a y column. */
  def aggExpr(agg: String, c: Column): Column = normalizeAgg(agg) match {
    case "sum"    => sum(c)
    case "min"    => min(c)
    case "max"    => max(c)
    case "mean"   => avg(c)
    case "median" => median(c)
  }

  /** A1 + T3: bucket `ds` to `grain` and aggregate duplicate buckets.
    * Expects columns `ds` (timestamp) and `y`; preserves any extra
    * grouping columns passed in `seriesCols` (the idiomatic-Spark
    * generalization of the reference's serial per-correlation loop:
    * every series is one group, processed in parallel). */
  def groupByTime(df: DataFrame, grain: Option[String], agg: String,
                  seriesCols: Seq[String] = Nil): DataFrame = {
    val keys = seriesCols.map(col) :+ TimeOps.bucket(col("ds"), grain).as("ds")
    df.groupBy(keys: _*).agg(aggExpr(agg, col("y")).as("y"))
  }

  /** A2-A5 inputs, one row per `keys` group of a (ds, y) history: the
    * length `n`, the date bounds `min_ds`/`max_ds` (`app.py:366-370`) and
    * `min_y`/`max_y`/`sd_y` (sample stddev, pandas `.std()`, ddof=1) for
    * the logistic floor/cap. One grouped aggregate, so every series of a
    * request costs one job; the rules that read it are [[SeriesStats]]'s. */
  def seriesStats(hist: DataFrame, keys: Seq[String]): DataFrame =
    hist.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"), min("ds").as("min_ds"), max("ds").as("max_ds"),
      min("y").as("min_y"), max("y").as("max_y"), stddev_samp("y").as("sd_y"))

  /** One [[seriesStats]] row and the reference's per-series defaults
    * derived from it (the bundle's cached properties, `app.py:354-370`). */
  case class SeriesStats(n: Long, minDs: Timestamp, maxDs: Timestamp,
                         minY: Double, maxY: Double, sdY: Double) {
    /** A5: horizon default = post-aggregation series length (`app.py:91`;
      * the bundle's raw-length variant at `app.py:333` is a documented
      * divergence — we standardize on post-aggregation count). */
    def horizon(unitsToForecast: Option[Int]): Int =
      unitsToForecast.getOrElse(math.max(n, 1L).toInt)

    /** A4: logistic-growth floor: `min(userFloor, min(y))`
      * (`app.py:354-356`; user floor defaults to 0 via `Cap`,
      * `app.py:253-255`). */
    def floor(userFloor: Double): Double = math.min(userFloor, minY)

    /** A3: logistic-growth ceiling:
      * `max(userCap getOrElse max(y) + 3*stddev_samp(y), max(y))`
      * (`app.py:358-364`). */
    def cap(userCap: Option[Double]): Double = math.max(userCap.getOrElse(maxY + 3 * sdY), maxY)
  }

  object SeriesStats {
    /** A series with no rows: one-step horizon, floor/cap as if y = 0..1. */
    val Empty: SeriesStats = SeriesStats(0L, null, null, minY = 0.0, maxY = 1.0, sdY = 0.0)

    /** Read a [[seriesStats]] row. `stddev_samp` is NULL, not NaN, for a
      * one-row series; its spread reads as 0. */
    def apply(r: Row): SeriesStats = {
      val sd = r.fieldIndex("sd_y")
      SeriesStats(r.getAs[Long]("n"), r.getAs[Timestamp]("min_ds"), r.getAs[Timestamp]("max_ds"),
                  r.getAs[Double]("min_y"), r.getAs[Double]("max_y"),
                  if (r.isNullAt(sd)) 0.0 else r.getDouble(sd))
    }
  }
}
