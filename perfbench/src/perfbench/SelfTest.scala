package perfbench

import graft.api.HttpShell
import java.security.MessageDigest

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`.
  * Pins the generator (same seed, same bytes; other seed, other bytes),
  * shows that corrupted replies and corrupted batch outputs are rejected,
  * and checks the interval arithmetic behind self times. */
object SelfTest {

  private var failures = 0
  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def sha(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
  def poolDigest(w: String, seed: Long): String =
    sha(Gen.pool(w, seed).iterator.flatMap(r => Iterator(r.route, r.body)))
  def batchDigest(seed: Long): String =
    sha(Gen.batchSpecs(seed, 200).iterator.flatMap(s => Gen.observations(seed, s)).map(_.toString))

  /** Digests of seed 1's inputs. A change to the generator changes them:
    * update them in the same change, since it redefines the workloads. */
  val Pinned = Map(
    "analyze-interactive" -> "18037ead6f7e15b45f4c713d6e238eddc8c8c7fd02121423bb54545821c70d65",
    "analyze-concurrent" -> "62b07c274391b295b1e2a77685c3eb91eee9217b63ed9d54a102f03be14e1fa0",
    "batch-forecast" -> "aca7d028399230e7b94a3aa9296be8e24a0d7d2baa285cbbe6126b4547549e75")

  def generator(): Unit = {
    for (w <- Seq("analyze-interactive", "analyze-concurrent")) {
      val a = poolDigest(w, 1)
      println(s"     $w seed 1 digest $a")
      expect(s"$w: same seed gives identical bytes", a == poolDigest(w, 1))
      expect(s"$w: seed 1 matches the pinned digest", a == Pinned(w))
      expect(s"$w: another seed gives other inputs", a != poolDigest(w, 2))
    }
    val b = batchDigest(1)
    println(s"     batch-forecast seed 1 digest $b")
    expect("batch-forecast: same seed gives identical rows", b == batchDigest(1))
    expect("batch-forecast: seed 1 matches the pinned digest", b == Pinned("batch-forecast"))
    expect("batch-forecast: another seed gives other rows", b != batchDigest(2))
    val kinds = Gen.pool("analyze-concurrent", 3).map(_.kind)
    expect("analyze-concurrent: quota of request kinds is fixed",
           kinds.count(_ == "plain") == 5 && kinds.count(_ == "wide") == 2 && kinds.count(_ == "saturating") == 1)
    val big = Gen.pool("analyze-concurrent", 3).filter(_.kind == "plain").map(_.body.length)
    expect("analyze-concurrent: bodies are about 600 KB", big.forall(n => n > 500000 && n < 700000))
  }

  def intervals(): Unit = {
    expect("covered merges overlaps", Trace.covered(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 40)
    expect("covered clips to the span", Trace.covered(50, 60, Seq((0L, 55L))) == 5)
    val s = Span(1, 0, "op", "x", 0, 10000000L)
    expect("self time subtracts children", Trace.selfMs(s, Seq(Span(2, 1, "op", "y", 2000000L, 6000000L))) == 6.0)
  }

  def replies(): Unit = {
    val spark = Main.session()
    val shell = HttpShell.start(spark, 0)
    try {
      val http = Analyze.client()
      for (w <- Seq("analyze-interactive", "analyze-concurrent")) {
        val pool = Gen.pool(w, 5)
        for (kind <- pool.map(_.kind).distinct) {
          val i = pool.indexWhere(_.kind == kind)
          val r = pool(i)
          val s = Analyze.send(http, shell.getAddress.getPort, r, i)
          val errs = Check.reply(s.status, s.body, r.expect)
          expect(s"$w/$kind: engine reply passes the checks ${errs.take(2).mkString("; ")}", errs.isEmpty)
          val id = r.expect.ids.head
          val corrupt = Seq(
            "non-200 status" -> Check.reply(500, s.body, r.expect),
            "truncated body" -> Check.reply(200, s.body.take(s.body.length / 2), r.expect),
            "missing correlation" -> Check.reply(200, s.body.replaceFirst(s""""$id": \\{""", """"zz": {"""), r.expect),
            "short future" -> Check.reply(200, s.body, r.expect.copy(horizon = r.expect.horizon.updated(id, r.expect.horizon(id) + 1))),
            "non-finite value" -> Check.reply(200, s.body.replaceFirst(""""prediction": [-0-9.eE]+""", """"prediction": null"""), r.expect))
          for ((what, e) <- corrupt) expect(s"$w/$kind: reply with $what is rejected", e.nonEmpty)
        }
      }
    } finally HttpShell.stop(shell)

    val specs = Gen.batchSpecs(9, 40)
    val dir = Paths.work.resolve("selftest-batch")
    Batch.input(spark, 9, specs).write.mode("overwrite").parquet(dir.resolve("input").toString)
    val fx = Batch.Fixture(spark, dir.resolve("input").toString, specs)
    val outs = Seq(dir.resolve("op1"), dir.resolve("op2"))
    outs.foreach(Batch.op(fx, _, None, "selftest"))
    def errors(f: Batch.Fixture) = Batch.check(spark, outs, f)._1.values.flatten.toSeq
    val good = errors(fx)
    expect(s"batch: engine output passes the checks ${good.take(2).mkString("; ")}", good.isEmpty)
    expect("batch: every series is forecast", Batch.check(spark, outs, fx)._2 == specs.size)
    expect("batch: forecast far from the truth is rejected",
           errors(fx.copy(specs = specs.map(s => s.copy(level = s.level * 1.5)))).nonEmpty)
    expect("batch: wrong row count is rejected",
           errors(fx.copy(specs = specs.updated(0, specs(0).copy(days = specs(0).days + 1)))).nonEmpty)
    Batch.deleteTree(dir)
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    generator()
    intervals()
    replies()
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failure(s)")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
