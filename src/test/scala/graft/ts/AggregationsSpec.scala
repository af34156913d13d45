package graft.ts

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class AggregationsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // duplicate timestamps on one day, distinct on another (A1 dedupe)
  private lazy val dup = Seq(
    (ts("2024-03-11 10:00:00"), 1.0),
    (ts("2024-03-11 11:00:00"), 3.0),
    (ts("2024-03-11 12:00:00"), 2.0),
    (ts("2024-03-12 09:00:00"), 10.0)
  ).toDF("ds", "y")

  test("groupByTime dedupes duplicate buckets under every aggregation") {
    def agg(a: String): Map[Timestamp, Double] =
      Aggregations.groupByTime(dup, Some("D"), a)
        .collect().map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
    val d1 = ts("2024-03-11 00:00:00"); val d2 = ts("2024-03-12 00:00:00")
    assert(agg("sum") == Map(d1 -> 6.0, d2 -> 10.0))
    assert(agg("min") == Map(d1 -> 1.0, d2 -> 10.0))
    assert(agg("max") == Map(d1 -> 3.0, d2 -> 10.0))
    assert(agg("mean") == Map(d1 -> 2.0, d2 -> 10.0))
    assert(agg("median") == Map(d1 -> 2.0, d2 -> 10.0))
    // the reference's "meadian" typo (app.py:44) maps to median, not a crash
    assert(agg("meadian") == Map(d1 -> 2.0, d2 -> 10.0))
  }

  test("groupByTime preserves series columns (multi-series parallelism)") {
    val multi = Seq(("a", ts("2024-03-11 10:00:00"), 1.0),
                    ("a", ts("2024-03-11 11:00:00"), 2.0),
                    ("b", ts("2024-03-11 10:30:00"), 5.0)).toDF("sid", "ds", "y")
    val out = Aggregations.groupByTime(multi, Some("D"), "sum", Seq("sid"))
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(out == Map("a" -> 3.0, "b" -> 5.0))
  }

  private def statsOf(df: org.apache.spark.sql.DataFrame): Aggregations.SeriesStats =
    Aggregations.SeriesStats(Aggregations.seriesStats(df, Nil).head())

  // the floor/cap rules read only y; the stats aggregate also bounds ds
  private def ys(vs: Double*) =
    vs.map(v => (ts("2024-03-11 00:00:00"), v)).toDF("ds", "y")

  test("seriesStats date bounds = min/max ds") {
    val s = statsOf(dup)
    assert(s.minDs == ts("2024-03-11 10:00:00") && s.maxDs == ts("2024-03-12 09:00:00"))
  }

  test("ceiling default = max(y) + 3*stddev_samp, never below max(y)") {
    val s = statsOf(ys(1.0, 2.0, 3.0, 4.0))
    val mean = 2.5
    val sd = math.sqrt(Seq(1.0, 2.0, 3.0, 4.0).map(v => (v - mean) * (v - mean)).sum / 3)
    assert(math.abs(s.cap(None) - (4.0 + 3 * sd)) < 1e-12)
    // user cap below max(y) is clamped up to max(y) (app.py:358-364)
    assert(s.cap(Some(2.0)) == 4.0)
  }

  test("ceiling of a one-row series: NULL stddev_samp reads as 0, cap = max(y)") {
    val s = statsOf(ys(7.0))
    assert(s.n == 1 && s.sdY == 0.0)
    assert(s.cap(None) == 7.0 && s.floor(0.0) == 0.0)
  }

  test("floor default = min(0, min(y))") {
    assert(statsOf(ys(1.0, 5.0)).floor(0.0) == 0.0)
    assert(statsOf(ys(-2.0, 5.0)).floor(0.0) == -2.0)
  }

  test("horizon default = post-aggregation length when unset (app.py:91)") {
    val agged = Aggregations.groupByTime(dup, Some("D"), "sum")
    assert(statsOf(agged).horizon(None) == 2)
    assert(statsOf(agged).horizon(Some(14)) == 14)
  }

  test("seriesStats is one row per key; a series with no rows keeps the fallbacks") {
    val multi = Seq(("a", ts("2024-03-11 00:00:00"), 1.0), ("a", ts("2024-03-12 00:00:00"), 3.0),
                    ("b", ts("2024-03-11 00:00:00"), 5.0)).toDF("sid", "ds", "y")
    val byKey = Aggregations.seriesStats(multi, Seq("sid")).collect()
      .map(r => r.getString(0) -> Aggregations.SeriesStats(r)).toMap
    assert(byKey.keySet == Set("a", "b"))
    assert(byKey("a").n == 2 && byKey("a").minY == 1.0 && byKey("a").maxY == 3.0)
    assert(byKey("b").n == 1 && byKey("b").maxDs == ts("2024-03-11 00:00:00"))
    val empty = Aggregations.SeriesStats.Empty
    assert(empty.horizon(None) == 1 && empty.horizon(Some(4)) == 4)
    assert(empty.floor(0.0) == 0.0 && empty.cap(None) == 1.0 && empty.cap(Some(9.0)) == 9.0)
  }
}
