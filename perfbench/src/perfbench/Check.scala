package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Output checks. Each returns the reasons a reply is wrong; empty means
  * the reply is correct. A run with any non-empty result is not correct. */
object Check {

  private val mapper = new ObjectMapper()

  /** Every number in the tree is finite, and no value is `null` (the
    * engine renders NaN and infinities as `null`). */
  private def nonFinite(n: JsonNode, path: String, out: collection.mutable.Buffer[String]): Unit =
    if (out.size < 5) {
      if (n.isNull) out += s"$path is null (non-finite)"
      else if (n.isNumber && !java.lang.Double.isFinite(n.asDouble())) out += s"$path is not finite"
      else if (n.isObject) n.fields().asScala.foreach(e => nonFinite(e.getValue, s"$path.${e.getKey}", out))
      else if (n.isArray) n.elements().asScala.zipWithIndex.foreach { case (c, i) => nonFinite(c, s"$path[$i]", out) }
    }

  def reply(status: Int, body: String, expect: Gen.Expect): Seq[String] = {
    if (status != 200) return Seq(s"HTTP $status: ${body.take(200)}")
    val root = try mapper.readTree(body) catch {
      case e: Exception => return Seq(s"unparseable reply: ${e.getMessage.take(200)}")
    }
    val errs = collection.mutable.Buffer.empty[String]
    val corrs = Option(root).map(_.path("correlations")).filter(_.isObject)
    if (corrs.isEmpty) return Seq("reply has no correlations object")
    val got = corrs.get.fieldNames().asScala.toSet
    if (got != expect.ids.toSet)
      errs += s"correlations ${got.toSeq.sorted.mkString(",")} != requested ${expect.ids.mkString(",")}"
    for (id <- expect.ids if got(id)) {
      val c = corrs.get.get(id)
      val preds = c.path("predictions")
      val fut = preds.path("futureForecasts")
      val h = expect.horizon(id)
      if (!fut.isArray || fut.size != h) errs += s"$id: ${fut.size} future rows, expected $h"
      if (!preds.path("historicalForecasts").isArray || preds.path("historicalForecasts").size == 0)
        errs += s"$id: no historical rows"
      if (expect.saturating) {
        val g = c.path("type").path("growth").asText("")
        if (g != expect.growth(id)) errs += s"$id: growth '$g', expected '${expect.growth(id)}'"
      } else {
        for (side <- Seq("from", "to")) {
          val u = c.path("diagnostics").path(side).path("unitsForecasted")
          if (!u.isInt || u.asInt != h) errs += s"$id: diagnostics.$side.unitsForecasted $u, expected $h"
        }
        if (c.path("autocorrelations").path("to").path("lags").size == 0) errs += s"$id: no ACF lags"
      }
      nonFinite(c, id, errs)
    }
    errs.toSeq
  }
}
