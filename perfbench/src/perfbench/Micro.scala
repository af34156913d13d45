package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.forecast.StructuralTS
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._

/** `StructuralTS.fit` / `predict` timed directly, on the calling thread,
  * over daily series taken from a workload's own inputs. */
object Micro {

  type Series = (Array[Double], Array[Double]) // (epoch seconds of each day, daily sum)

  private val mapper = new ObjectMapper()
  private val dmyHm = DateTimeFormatter.ofPattern("dd-MM-yyyy HH:mm")

  private def epochSec(s: String): Long =
    if (s.endsWith("Z")) Instant.parse(s).getEpochSecond
    else LocalDateTime.parse(s, dmyHm).toEpochSecond(ZoneOffset.UTC)

  /** The daily-summed target series of a request's first correlation. */
  def targetSeries(body: String): Series = {
    val root = mapper.readTree(body)
    val c = root.path("analyticsOptions").path("correlations").get(0)
    val path = c.path("toIndex").asText().split('.')
    val rows = root.path("documents").path(c.path("toData").asText()).path("data").elements().asScala
    daily(rows.map { r =>
      (epochSec(r.path("date").asText()), path.foldLeft(r)(_ path _).asDouble())
    }.toSeq)
  }

  def daily(obs: Seq[(Long, Double)]): Series = {
    val byDay = obs.groupMapReduce(_._1 / 86400)(_._2)(_ + _).toSeq.sortBy(_._1)
    (byDay.map(_._1 * 86400.0).toArray, byDay.map(_._2).toArray)
  }

  private val Reps = 30

  private def timeUs(f: => Unit): Double =
    Stats.median((1 to Reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3 })

  /** Median over series of the median fit and predict times (µs); the
    * prediction covers history plus `horizon` days. */
  def fitPredict(series: Seq[Series], horizon: Int): (Double, Double) = {
    val spec = StructuralTS.FitSpec()
    val timed = series.map { case (t, y) =>
      val tAll = t ++ Array.tabulate(horizon)(i => t.last + (i + 1) * 86400.0)
      val model = StructuralTS.fit(t, y, None, spec)
      (timeUs(StructuralTS.fit(t, y, None, spec)),
       timeUs(StructuralTS.predict(model, tAll, None)))
    }
    (Stats.median(timed.map(_._1)), Stats.median(timed.map(_._2)))
  }
}
