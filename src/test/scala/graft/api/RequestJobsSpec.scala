package graft.api

import graft.SparkTestSession
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per request, per route: parse → analyze → assemble on a
  * fixed fixture, with the request's jobs tagged by a job group set on
  * the calling thread (the way the service benchmark attributes jobs to
  * a request). Every action the request path runs is a job, so the
  * count is the path's fixed cost; `ceiling` pins each route at the
  * count it had before the per-series statistics were folded into one
  * aggregate, so a change that adds a job to a route fails here. */
class RequestJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val jobs = new ConcurrentHashMap[String, AtomicInteger]()
  private val ended = new ConcurrentHashMap[String, CountDownLatch]()
  private lazy val listener = {
    val l = new SparkListener {
      private val groupOf = new ConcurrentHashMap[Int, String]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          groupOf.put(e.jobId, g)
          jobs.computeIfAbsent(g, _ => new AtomicInteger()).incrementAndGet()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(groupOf.get(e.jobId)).flatMap(g => Option(ended.get(g))).foreach(_.countDown())
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Jobs run under group `op` by `body`. Listener events arrive
    * asynchronously but in order: once a marker job started after
    * `body` is seen to end, every job of `body` has been counted. */
  private def jobsOf(op: String)(body: => Unit): Int = {
    listener
    val sc = spark.sparkContext
    sc.setJobGroup(op, op, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    val marker = s"$op-marker"
    val done = new CountDownLatch(1)
    ended.put(marker, done)
    sc.setJobGroup(marker, marker, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    assert(done.await(30, TimeUnit.SECONDS), "listener bus did not drain")
    Option(jobs.get(op)).map(_.get).getOrElse(0)
  }

  /** The shell's handler path for `route`, with the result closed. */
  private def serve(route: String, body: String): String = {
    val parsed = RequestParser.parse(spark, body)
    val result =
      if (route == "single") AnalyzePipeline.analyzeSingle(parsed.documents, parsed.correlations)
      else AnalyzePipeline.analyze(parsed.documents, parsed.correlations)
    try {
      if (route == "analyze") ResponseAssembly.toJson(result, parsed.correlations)
      else ResponseAssembly.toJsonSaturating(result,
        parsed.correlations.map(c => c.id -> c.growth).toMap)
    } finally result.close()
  }

  private def request(extra: String): String = {
    val rows = (1 to 20).map(d =>
      s"""{"date": "2024-03-${f"$d%02d"}T00:00:00Z", "v": ${100.0 + 3 * d + d % 4}, "w": ${50.0 + d}}""")
      .mkString("[", ",", "]")
    s"""{"documents": {"m": {"description": null, "data": $rows}},
       |  "analyticsOptions": {"correlations": [{
       |    "id": "c1", "type": "prophet",
       |    "fromData": "m", "fromIndex": "w", "toData": "m", "toIndex": "v",
       |    "dataSetGranularity": "D", "uncertaintySamples": 20$extra}]}}""".stripMargin
  }

  // (name, route, request fields, jobs the route ran when horizons, logistic
  // bounds and date bounds were three separate per-side aggregates)
  private val cases = Seq(
    ("/analyze with unitsToForecast", "analyze", """, "unitsToForecast": 3""", 24),
    ("/analyze without unitsToForecast", "analyze", "", 27),
    ("/saturating-growth/single logistic", "single",
      """, "unitsToForecast": 3, "growth": "logistic"""", 11),
    ("/saturating-growth with ForecastingOptions", "saturating",
      """, "unitsToForecast": 3, "ForecastingOptions": {"toIndex": {"changepointPriorScale": 0.5}}""", 22))

  for ((name, route, extra, ceiling) <- cases)
    test(s"Spark jobs per request: $name") {
      val body = request(extra)
      serve(route, body) // warm: first-use planning and codegen
      val n = jobsOf(s"jobs-$route-${name.hashCode}")(assert(serve(route, body).contains("\"c1\"")))
      println(s"RequestJobsSpec: $name -> $n jobs (ceiling $ceiling)")
      assert(n > 0)
      assert(n <= ceiling, s"$name ran $n Spark jobs, more than the $ceiling recorded before")
    }
}
