package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.api.{AnalyzePipeline, HttpShell, RequestParser, ResponseAssembly}
import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The HTTP workloads: closed-loop clients against an in-process
  * `graft.api.HttpShell`. A traced run sends every other request to
  * [[TracedServer]] instead, which makes the same public calls as the
  * shell's handler with a span around each. */
object Analyze {

  /** Fewest rounds of the pool a timed phase measures. */
  val MinRounds = 2

  case class Sample(req: Int, port: Int, startNs: Long, endNs: Long, status: Int, body: String) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  def send(http: HttpClient, port: Int, r: Gen.Request, idx: Int): Sample = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.route}"))
      .timeout(java.time.Duration.ofSeconds(150))
      .POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
    val t0 = System.nanoTime()
    try {
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      Sample(idx, port, t0, System.nanoTime(), resp.statusCode, resp.body)
    } catch {
      case e: Exception => Sample(idx, port, t0, System.nanoTime(), -1, e.toString)
    }
  }

  def client(): HttpClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** `clients` closed-loop clients, each sending its next request as soon
    * as the previous reply is read. Client c starts at pool entry
    * c·|pool|/clients and cycles through the pool in rounds of
    * |pool|/clients requests, so that one round of all clients sends the
    * pool once; each client stops at the end of the first round that
    * finishes after `seconds`, and not before `minRounds` rounds, so
    * every run measures whole pools, keeps the pool's mix of requests,
    * and gives the median the same number of samples on a slow machine.
    * A client's k-th pool position goes to port `portOf(k)`. */
  def closedLoop(pool: IndexedSeq[Gen.Request], clients: Int, seconds: Double, minRounds: Int)
                (portOf: Int => Int): Seq[Seq[Sample]] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val round = math.max(1, pool.size / clients)
    val runs = (0 until clients).map { c =>
      val out = ArrayBuffer.empty[Sample]
      val t = new Thread(() => {
        val http = client()
        var k = c * pool.size / clients
        var rounds = 0
        while (rounds < minRounds || System.nanoTime() < deadline) {
          rounds += 1
          for (_ <- 1 to round) {
            val i = k % pool.size
            out += send(http, portOf(k), pool(i), i)
            k += 1
          }
        }
      }, s"perfbench-client-$c")
      t.start()
      (t, out)
    }
    runs.map { case (t, out) => t.join(); out.toSeq }
  }

  /** Completed requests per second: each client's count over its own
    * busy span, summed (a closed loop with no think time). */
  def throughput(perClient: Seq[Seq[Sample]]): Double =
    perClient.filter(_.nonEmpty).map { s =>
      s.size / ((s.last.endNs - s.head.startNs) / 1e9)
    }.sum

  class Fixture(val spark: SparkSession, val shell: HttpServer, val pool: IndexedSeq[Gen.Request],
                val warm: Seq[Sample]) {
    def port: Int = shell.getAddress.getPort
    def close(): Unit = { HttpShell.stop(shell); spark.stop() }
  }

  /** Session, shell, generated pool, then one sequential warm-up request
    * of each kind in the pool. */
  def makeFixture(o: Main.Opts): Fixture = {
    val spark = Main.session()
    val shell = HttpShell.start(spark, 0)
    val pool = Gen.pool(o.workload, o.seed)
    val http = client()
    val firstOfKind = pool.indices.groupBy(pool(_).kind).values.map(_.head).toSeq.sorted
    val warm = firstOfKind.map(i => send(http, shell.getAddress.getPort, pool(i), i))
    new Fixture(spark, shell, pool, warm)
  }

  def run(o: Main.Opts, clients: Int): Result = {
    val (fx, setupS) = Main.setup(() => makeFixture(o))
    val notes = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def check(samples: Seq[Sample]): Unit = samples.foreach { s =>
      attempted += 1
      val errs = Check.reply(s.status, s.body, fx.pool(s.req).expect)
      if (errs.nonEmpty) {
        failed += 1
        if (failed <= 5) notes += s"FAILED request ${s.req} (${fx.pool(s.req).kind}): ${errs.mkString("; ")}"
      }
    }

    val metrics: Seq[(String, Metric)] = if (!o.trace) {
      val gc0 = Main.gcMs
      val perClient = closedLoop(fx.pool, clients, o.seconds, MinRounds)(_ => fx.port)
      val all = perClient.flatten
      check(fx.warm ++ all)
      val lat = all.map(_.ms)
      val (heap, cached, rdds) = Main.leakProbe(fx.spark)
      notes += f"samples=${lat.size} succeeded=${attempted - failed} failed=$failed " +
        f"latency_p90_ms=${Stats.quantile(lat, 0.9)}%.1f gc_ms=${Main.gcMs - gc0} " +
        f"cached_frames_after=$cached persisted_rdds_after=$rdds"
      notes += all.map(s => f"${s.req}:${s.ms}%.0f").mkString("latencies (pool entry:ms): ", " ", "")
      Seq("setup_s" -> Metric(setupS, "s"),
          "latency_p50_ms" -> Metric(Stats.median(lat), "ms"),
          "throughput_rps" -> Metric(throughput(perClient), "1/s"),
          "heap_live_mb" -> Metric(heap, "MiB"))
    } else {
      val (samples, values) = traced(o, fx, clients, notes)
      check(fx.warm ++ samples)
      PerLayer.metrics(values)
    }

    fx.close()
    Result(failed == 0, attempted, failed, metrics, notes.toSeq)
  }

  /** Traced run: requests alternate between the shell (untraced) and
    * [[TracedServer]] (traced), each pool entry once each way per two
    * rounds; the difference of the two sides' median latencies is the
    * tracing overhead. */
  private def traced(o: Main.Opts, fx: Fixture, clients: Int,
                     notes: ArrayBuffer[String]): (Seq[Sample], Map[String, Double]) = {
    val tracer = new Tracer(fx.spark)
    val server = new TracedServer(fx.spark, tracer)
    val gc0 = Main.gcMs
    val samples = closedLoop(fx.pool, clients, o.seconds, MinRounds) { k =>
      if (PerLayer.tracedAt(k, fx.pool.size)) server.port else fx.port
    }.flatten
    val gcMs = Main.gcMs - gc0
    server.stop()
    tracer.detach()
    tracer.write(Paths.work.resolve(s"traces/${o.workload}-seed${o.seed}.jsonl"))

    val (tracedSamples, plain) = samples.partition(_.port == server.port)
    val spans = tracer.allSpans
    val roots = spans.filter(_.name == "request")
    val probe = Main.leakProbe(fx.spark)
    val (fitUs, predictUs) = Micro.fitPredict(fx.pool.map(r => Micro.targetSeries(r.body)), 30)
    def sizeKb(f: ((Int, Int)) => Int) = Stats.median(roots.map(r => f(server.sizes.get(r.op)) / 1024.0))
    notes += f"traced requests=${roots.size} untraced requests=${plain.size} heap_live_mb=${probe._1}%.1f"
    val values = PerLayer.engine(tracer, roots, samples.size, gcMs, probe) ++ Map(
      "api.parse_ms" -> PerLayer.childMs(spans, roots, "api.parse"),
      "api.parse_self_ms" -> PerLayer.childMs(spans, roots, "api.parse", self = true),
      "api.analyze_ms" -> PerLayer.childMs(spans, roots, "api.analyze"),
      "api.analyze_self_ms" -> PerLayer.childMs(spans, roots, "api.analyze", self = true),
      "api.assemble_ms" -> PerLayer.childMs(spans, roots, "api.assemble"),
      "api.assemble_self_ms" -> PerLayer.childMs(spans, roots, "api.assemble", self = true),
      "api.close_ms" -> PerLayer.childMs(spans, roots, "api.close"),
      "api.request_kb" -> sizeKb(_._1),
      "api.response_kb" -> sizeKb(_._2),
      "forecast.fit_us" -> fitUs,
      "forecast.predict_us" -> predictUs,
      "trace.overhead_ms" -> (Stats.median(tracedSamples.map(_.ms)) - Stats.median(plain.map(_.ms))))
    (samples, values)
  }
}

/** Serves the shell's three POST routes with the same public calls as
  * `graft.api.HttpShell`'s handler — parse, analyze (or analyzeSingle),
  * assemble, close — each inside a span, with the request's Spark jobs
  * tagged by a job group set on the handling thread. */
class TracedServer(spark: SparkSession, tracer: Tracer) {
  private val seq = new AtomicInteger(0)
  /** op -> (request bytes, response bytes) */
  val sizes = new ConcurrentHashMap[String, (Int, Int)]()

  private def handler(route: String): HttpHandler = (ex: HttpExchange) => {
    val op = s"req-${seq.incrementAndGet()}"
    val root = tracer.newId()
    tracer.span("request", op, 0L, root) {
      val req = ex.getRequestBody.readAllBytes()
      val (code, body) = try tracer.inGroup(op) {
        val parsed = tracer.span("api.parse", op, root) {
          RequestParser.parse(spark, new String(req, UTF_8))
        }
        val result = tracer.span("api.analyze", op, root) {
          if (route == "single") AnalyzePipeline.analyzeSingle(parsed.documents, parsed.correlations)
          else AnalyzePipeline.analyze(parsed.documents, parsed.correlations)
        }
        try tracer.span("api.assemble", op, root) {
          (200, if (route == "analyze") ResponseAssembly.toJson(result, parsed.correlations)
                else ResponseAssembly.toJsonSaturating(result,
                  parsed.correlations.map(c => c.id -> c.growth).toMap))
        } finally tracer.span("api.close", op, root)(result.close())
      } catch {
        case e: Exception => (500, s"""{"detail": "${e.toString.replace("\"", "'")}"}""")
      }
      val bytes = body.getBytes(UTF_8)
      sizes.put(op, (req.length, bytes.length))
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
  }

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  // the shell's pool: min(8, cores) handler threads
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
    math.min(8, Runtime.getRuntime.availableProcessors())))
  server.createContext("/analyze", handler("analyze"))
  server.createContext("/saturating-growth", handler("saturating"))
  server.createContext("/saturating-growth/single", handler("single"))
  server.start()

  def port: Int = server.getAddress.getPort
  def stop(): Unit = HttpShell.stop(server)
}
