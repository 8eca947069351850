package graftbench

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Closed-loop benchmark harness for graft: one client, one workload per
  * process. All timing is taken from outside the program — around calls
  * into graft's public functions and from Spark's public listeners — so
  * the program under test is unmodified.
  *
  * A run is: session start and warm-up (`setup_s`), then whole rounds of
  * the workload until `--seconds` have passed (a round always completes,
  * so every run covers the same mix). With `--trace 1` odd rounds are
  * traced and there are at least three rounds; per-layer figures come
  * from the traced rounds, and `trace.overhead_frac` compares a traced
  * round with the mean of the untraced rounds on either side of it, so a
  * steady warm-up trend cancels out.
  *
  * stdout: `# ...` report lines, then one JSON result line.
  */
object Harness {
  final case class Args(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, cpus: Int, known: String,
      record: Boolean)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt, m("known"), m.get("record").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val ok = try run(args) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] fatal: $e")
        e.printStackTrace()
        false
    }
    System.out.flush()
    // Spark's non-daemon threads must not keep the JVM alive
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }

  def run(a: Args): Boolean = {
    val staged = StagedLog.install()
    val known = KnownAnswers.load(a.known)
    val manifest = Json.parse(new String(
      Files.readAllBytes(Paths.get(a.data, "manifest.json")), "UTF-8")).asInstanceOf[Map[String, Any]]
    val seedKey = s"${Json.num(manifest("seed")).toLong}@${Json.num(manifest("scale"))}"

    val t0 = System.nanoTime()
    val s = GraftSession.local(a.cpus)
    val sessionStart = secs(t0)
    val w: Workload = a.workload match {
      case "query_mix"     => new QueryMix(s, a, manifest)
      case "transfer_bulk" => new TransferBulk(s, a, manifest)
      case "stream_drain"  => new StreamDrain(s, a, manifest)
      case "index_serve"   => new IndexServe(s, a, manifest, staged)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val checks = new Checks(known.expected(a.workload, seedKey), a.record)
    val streams = new StreamStats(s)
    val t1 = System.nanoTime()
    w.setup(checks, streams)
    val setupS = sessionStart + secs(t1)

    val tracer = if (a.trace) Some(new Tracer(s, a.cpus)) else None
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Samples]
    val jvm = new JvmStats
    val loopStart = System.nanoTime()
    var round = 0
    var tracedBuilds = 0
    val minRounds = if (a.trace) 3 else 1
    while (round < minRounds || secs(loopStart) < a.seconds) {
      val tracing = tracer.isDefined && round % 2 == 1
      val builds0 = staged.builds
      rounds += new Samples
      w.round(round, rounds.last, checks, streams, if (tracing) tracer else None)
      if (tracing) tracedBuilds += staged.builds - builds0
      round += 1
    }
    jvm.stop()
    tracer.foreach(_.dump(new java.io.File(new java.io.File(a.work).getParentFile,
      s"last-trace-${a.workload}.jsonl").getPath))
    if (a.record) known.record(a.workload, seedKey, checks.seen)

    val all = rounds.reduce(_ merge _)
    val traced = rounds.zipWithIndex.collect { case (r, i) if i % 2 == 1 => r }
      .foldLeft(new Samples)(_ merge _)
    val report = new Report
    report.add("setup_s", setupS, "s", 1)
    w.endToEnd(all, report)
    val attempted = math.max(1, checks.attempted)
    report.add("ops_failed_frac", checks.failed.toDouble / attempted, "frac", attempted)
    report.printTable(w.name)
    checks.failures.take(20).foreach(f => println(s"# FAIL $f"))
    println(s"# manifest seed=$seedKey rows=${manifest.getOrElse("rows", "")} bytes_total=${
      manifest.get("bytes").collect { case m: Map[_, _] => m.values.map(Json.num).sum.toLong }.getOrElse(0L)}")

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => w.jsonEndToEnd(all, setupS)
      case Some(t) =>
        val layers = new Layers
        layers.put("session.start_s", sessionStart)
        layers.put("sources.stage_builds", tracedBuilds)
        t.layers(layers)
        w.layers(layers, traced, t)
        jvm.layers(layers)
        val pairs = rounds.indices.collect { case i if i % 2 == 1 && i + 1 < rounds.size =>
          val base = (w.primaryLatency(rounds(i - 1)) + w.primaryLatency(rounds(i + 1))) / 2
          w.primaryLatency(rounds(i)) / base - 1.0
        }
        layers.put("trace.overhead_frac", if (pairs.nonEmpty) pairs.sum / pairs.size else 0.0)
        layers.all
    }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Json.fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    val correct = checks.failed == 0
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": ${checks.failed}, "metrics": {$body}}""")
    correct
  }

  def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9
}
