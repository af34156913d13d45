package perfbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale
import scala.util.Random

/** Seeded workload inputs. Everything the engine sees is produced here
  * from the `--seed` argument; the same seed yields byte-identical
  * request bodies and batch rows, a different seed different ones.
  *
  * Request shapes follow FIXTURES.md: §3 (nested daily documents, ISO `Z`
  * dates) for analyze-interactive and §2 (flat hourly documents,
  * `dd-MM-yyyy HH:mm` dates) for analyze-concurrent. Each workload draws
  * a fixed-size pool whose mix of request kinds is a fixed quota; the
  * seed decides the data, the sizes and the order. */
object Gen {

  /** What a correct reply to one request must contain. */
  case class Expect(ids: Seq[String], horizon: Map[String, Int], saturating: Boolean,
                    growth: Map[String, String] = Map.empty)

  case class Request(kind: String, route: String, body: String, expect: Expect)

  private def fmt(d: Double, decimals: Int): String =
    String.format(Locale.ROOT, s"%.${decimals}f", Double.box(d))

  private val isoZ = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  private val dmyHm = DateTimeFormatter.ofPattern("dd-MM-yyyy HH:mm")
  private val isoSpace = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def corrJson(id: String, fromData: String, fromIndex: String, toData: String,
                       toIndex: String, extra: Seq[String]): String =
    (Seq(s""""id": "$id"""", """"type": "prophet"""", s""""fromData": "$fromData"""",
         s""""fromIndex": "$fromIndex"""", s""""toData": "$toData"""",
         s""""toIndex": "$toIndex"""") ++ extra).mkString("{", ", ", "}")

  private def envelope(docs: Seq[(String, String, Seq[String])], corrs: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append("{\"documents\": {")
    docs.zipWithIndex.foreach { case ((name, desc, rows), i) =>
      if (i > 0) sb.append(", ")
      sb.append('"').append(name).append("\": {\"description\": \"").append(desc)
        .append("\", \"data\": [")
      rows.zipWithIndex.foreach { case (r, j) => if (j > 0) sb.append(", "); sb.append(r) }
      sb.append("]}")
    }
    sb.append("}, \"analyticsOptions\": {\"correlations\": ")
    sb.append(corrs.mkString("[", ", ", "]"))
    sb.append("}}")
    sb.toString
  }

  private def forecastingOptions(fromGrowth: String, toGrowth: String): String = {
    def side(name: String, growth: String) =
      s""""$name": {"uncertaintySamples": 1000, "changepointPriorScale": 0.5, "growth": "$growth", "caps": {"$name": {"floor": 0, "ceiling": null}}}"""
    s""""ForecastingOptions": {${side("fromIndex", fromGrowth)}, ${side("toIndex", toGrowth)}}"""
  }

  // ---------------------------------------------------------------- §3 shape

  private val orderDocs = Seq("sales_order", "purchasing_order")
  private val orderFields = Seq("data.summary.totalWithTax", "data.summary.shippingCost")

  /** One analyze-interactive request: two nested daily documents of
    * `nDays` days ending on the same day (so the covariate forecast covers
    * every target future date), about one day in ten recorded twice, and
    * `nCorr` correlations. */
  def interactiveRequest(rng: Random, single: Boolean, nCorr: Int, nDays: Int): Request = {
    val end = LocalDate.of(2024, 6, 30).minusDays(rng.nextInt(60).toLong)
    val start = end.minusDays((nDays - 1).toLong)
    val docs = orderDocs.map { name =>
      val level = 2000 + rng.nextDouble() * 6000
      val slope = (rng.nextDouble() - 0.3) * 20
      val amp = level * (0.05 + 0.15 * rng.nextDouble())
      val rows = (0 until nDays).flatMap { d =>
        val day = start.plusDays(d.toLong)
        val copies = if (rng.nextInt(10) == 0) 2 else 1
        (0 until copies).map { _ =>
          val t = day.atTime(rng.nextInt(24), rng.nextInt(60), rng.nextInt(60))
          val dow = day.getDayOfWeek.getValue
          val total = (level + slope * d + amp * math.sin(2 * math.Pi * dow / 7) +
            rng.nextGaussian() * level * 0.03) / copies
          val ship = math.max(0.0, 20 + rng.nextGaussian() * 5)
          s"""{"date": "${isoZ.format(t)}", "data": {"summary": {"totalWithTax": ${fmt(total, 4)}, "shippingCost": ${fmt(ship, 2)}}, "currency": "USD"}}"""
        }
      }
      (name, s"$name records", rows)
    }
    val sides = for (d <- orderDocs; f <- orderFields) yield (d, f)
    val pairs = rng.shuffle(for (a <- sides; b <- sides if a != b) yield (a, b))
      .take(nCorr)
    val ids = pairs.indices.map(i => s"x${i + 1}")
    val horizon = ids.map(_ -> (7 + rng.nextInt(24))).toMap
    val corrs = pairs.zip(ids).map { case (((fd, fi), (td, ti)), id) =>
      val extra = Seq(""""dataSetGranularity": "D"""", """"dataAggregationType": "sum"""",
                      s""""unitsToForecast": ${horizon(id)}""") ++
        (if (single) Seq(forecastingOptions("logistic", "logistic")) else Nil)
      corrJson(id, fd, fi, td, ti, extra)
    }
    if (single)
      Request("single", "/saturating-growth/single", envelope(docs, corrs),
              Expect(ids, horizon, saturating = true, ids.map(_ -> "logistic").toMap))
    else
      Request("analyze", "/analyze", envelope(docs, corrs), Expect(ids, horizon, saturating = false))
  }

  // ---------------------------------------------------------------- §2 shape

  val HourlyRows = 5000

  /** One analyze-concurrent request: `electricityDemand` and
    * `weatherReport`, 5,000 shared hourly timestamps, default grain and
    * horizon (so each side forecasts as many days as it covers). */
  def concurrentRequest(rng: Random, kind: String): Request = {
    val start = LocalDateTime.of(2015 + rng.nextInt(5), 1 + rng.nextInt(12), 1 + rng.nextInt(28),
                                 rng.nextInt(24), 0)
    val base = 900 + rng.nextDouble() * 300
    val elec = new Array[String](HourlyRows)
    val weather = new Array[String](HourlyRows)
    for (h <- 0 until HourlyRows) {
      val t = start.plusHours(h.toLong)
      val hour = t.getHour
      val dow = t.getDayOfWeek.getValue
      val temp = 25 + 3 * math.sin(2 * math.Pi * (hour - 9) / 24) + rng.nextGaussian() * 0.8
      val wind = 20 + 2 * math.cos(2 * math.Pi * hour / 24) + rng.nextGaussian() * 1.5
      val demand = base + 200 * math.sin(2 * math.Pi * (hour - 6) / 24) +
        40 * math.sin(2 * math.Pi * dow / 7) + 8 * (temp - 25) + 0.02 * h +
        rng.nextGaussian() * 15
      val ds = dmyHm.format(t)
      elec(h) = s"""{"date": "$ds", "nat_demand": ${fmt(demand, 3)}}"""
      weather(h) = s"""{"date": "$ds", "T2M_toc": ${fmt(temp, 8)}, "W2M_toc": ${fmt(wind, 8)}}"""
    }
    val days = java.time.temporal.ChronoUnit.DAYS.between(start.toLocalDate,
      start.plusHours((HourlyRows - 1).toLong).toLocalDate).toInt + 1
    val docs = Seq(("electricityDemand", "national demand", elec.toSeq),
                   ("weatherReport", "weather", weather.toSeq))
    val W = "weatherReport"; val E = "electricityDemand"
    val base3 = Seq((W, "T2M_toc", E, "nat_demand"), (W, "W2M_toc", E, "nat_demand"),
                    (W, "W2M_toc", W, "T2M_toc"))
    val fields = Seq((W, "T2M_toc"), (W, "W2M_toc"), (E, "nat_demand"))
    val specs: Seq[((String, String, String, String), Seq[String])] = kind match {
      case "wide" =>
        for (agg <- Seq("sum", "mean", "max", "min");
             (fd, fi) <- fields; (td, ti) <- fields if fi != ti)
          yield ((fd, fi, td, ti), Seq(s""""dataAggregationType": "$agg""""))
      case "saturating" =>
        base3.map(p => (p, Seq(forecastingOptions(if (rng.nextBoolean()) "linear" else "logistic",
                                                  "logistic"))))
      case _ => base3.map(p => (p, Nil))
    }
    val ids = specs.indices.map(i => s"c${i + 1}")
    val corrs = specs.zip(ids).map { case (((fd, fi, td, ti), extra), id) =>
      corrJson(id, fd, fi, td, ti, extra)
    }
    val horizon = ids.map(_ -> days).toMap
    if (kind == "saturating")
      Request(kind, "/saturating-growth", envelope(docs, corrs),
              Expect(ids, horizon, saturating = true, ids.map(_ -> "logistic").toMap))
    else Request(kind, "/analyze", envelope(docs, corrs), Expect(ids, horizon, saturating = false))
  }

  /** Request pool of a workload, in a seeded order. Its make-up is a
    * fixed quota, so pools of different seeds cost about the same:
    *   - analyze-interactive: three `/analyze` requests with 1, 3 and 4
    *     correlations, 105-130, 30-54 and 55-79 days long, and one
    *     `/saturating-growth/single` request with 2, 80-104 days long;
    *   - analyze-concurrent: five 3-correlation, two 24-correlation and
    *     one `/saturating-growth` request. */
  def pool(workload: String, seed: Long): IndexedSeq[Request] = {
    val rng = new Random(seed)
    workload match {
      case "analyze-interactive" =>
        rng.shuffle(Seq((false, 1, 105), (false, 3, 30), (false, 4, 55), (true, 2, 80))).map {
          case (single, nCorr, lo) => interactiveRequest(rng, single, nCorr, lo + rng.nextInt(25 + lo / 105))
        }.toIndexedSeq
      case "analyze-concurrent" =>
        rng.shuffle(Seq.fill(5)("plain") ++ Seq.fill(2)("wide") :+ "saturating")
          .map(concurrentRequest(rng, _)).toIndexedSeq
    }
  }

  // ------------------------------------------------------------- batch shape

  val Horizon = 30
  val ObsPerDay = 4
  val BatchStart: LocalDate = LocalDate.of(2023, 1, 2)

  /** One batch series: noise-free daily truth is
    * `level + slope·d + amp·sin(2π·dow/7 + phase)`; each day's four
    * sub-daily observations sum to the truth plus noise. */
  case class SeriesSpec(id: String, days: Int, level: Double, slope: Double, amp: Double,
                        phase: Double, noise: Double, logistic: Boolean) {
    def truth(d: Int): Double = {
      val dow = BatchStart.plusDays(d.toLong).getDayOfWeek.getValue
      level + slope * d + amp * math.sin(2 * math.Pi * dow / 7 + phase)
    }
  }

  case class Obs(series: String, date: String, value: Double, unit: String)

  def batchSpecs(seed: Long, nSeries: Int): IndexedSeq[SeriesSpec] = {
    val rng = new Random(seed ^ 0x5DEECE66DL)
    IndexedSeq.tabulate(nSeries) { i =>
      val level = 100 + rng.nextDouble() * 900
      SeriesSpec(f"s$i%05d", days = 60 + rng.nextInt(61), level = level,
                 slope = level * (rng.nextDouble() - 0.4) * 0.004,
                 amp = level * (0.05 + 0.1 * rng.nextDouble()),
                 phase = rng.nextDouble() * 2 * math.Pi,
                 noise = level * 0.01, logistic = i % 4 == 3)
    }
  }

  /** The sub-daily observations of one series (deterministic per series). */
  def observations(seed: Long, s: SeriesSpec): Iterator[Obs] = {
    val rng = new Random(seed * 31 + s.id.hashCode)
    Iterator.range(0, s.days).flatMap { d =>
      val day = BatchStart.plusDays(d.toLong)
      val total = s.truth(d)
      Iterator.tabulate(ObsPerDay) { k =>
        val t = day.atTime(k * 6 + rng.nextInt(6), rng.nextInt(60), 0)
        Obs(s.id, isoSpace.format(t), total / ObsPerDay + rng.nextGaussian() * s.noise / 2, "kWh")
      }
    }
  }

  def epochDay(d: Int): Long = BatchStart.plusDays(d.toLong).atStartOfDay().toEpochSecond(ZoneOffset.UTC)
}
