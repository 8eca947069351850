package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheScope, SparkEntry}
import graft.operators.{Similarity, TextAnalysis}
import graft.plans.{ConfigJson, Pipeline}
import graft.sources.Tables
import graft.streaming.Streams

/** One workload: a set-up, then rounds of ops. Each op records its
  * samples: "lat" (the primary latency, s), "busy" (wall of the timed
  * calls, s), "ops" and "rows" (rows delivered to the user). */
abstract class Workload(val s: SparkSession, val a: Harness.Args,
    val manifest: Map[String, Any]) {
  def name: String
  val seed: Long = Json.num(manifest("seed")).toLong
  def data(rel: String): String = new File(a.data, rel).getAbsolutePath
  def work(rel: String): String = new File(a.work, rel).getAbsolutePath

  def setup(c: Checks, st: StreamStats): Unit
  def round(i: Int, smp: Samples, c: Checks, st: StreamStats, tr: Option[Tracer]): Unit
  /** The workload's named end-to-end metrics for the report table. */
  def endToEnd(smp: Samples, r: Report): Unit
  /** Workload-specific per-layer metrics from the traced rounds. */
  def layers(l: Layers, smp: Samples, tr: Tracer): Unit = ()

  def primaryLatency(smp: Samples): Double = Stats.median(smp.vals("lat"))

  /** The gated end-to-end metrics, defined on every workload. */
  def jsonEndToEnd(smp: Samples, setupS: Double): Seq[(String, Double, String)] = {
    val busy = smp.sum("busy")
    Seq(("setup_s", setupS, "s"),
      ("op_p50_s", Stats.median(smp.vals("lat")), "s"),
      ("ops_per_s", if (busy > 0) smp.sum("ops") / busy else 0.0, "1/s"))
  }

  protected def reportLatency(r: Report, smp: Samples, key: String, prefix: String): Unit = {
    val xs = smp.vals(key)
    r.add(s"${prefix}_p50_s", Stats.median(xs), "s", xs.size)
    r.add(s"${prefix}_p90_s", Stats.q(xs, 0.9), "s", xs.size)
  }

  protected def release(smp: Samples): Unit = {
    val t0 = System.nanoTime()
    CacheScope.releaseAll(s)
    smp.put("release_ms", (System.nanoTime() - t0) / 1e6)
  }

  protected def traced[T](tr: Option[Tracer])(body: => T): T =
    tr.map(_.op(body)).getOrElse(body)

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def commonLayers(l: Layers, smp: Samples): Unit =
    l.put("cachescope.release_ms", smp.mean("release_ms"))

  protected def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
  }
}

/** Analytics queries of SparkEntry (a sample of the `q*` entries) over a
  * sf0.1-shaped tree, one query per op, in a seeded order per pass. */
final class QueryMix(s0: SparkSession, a0: Harness.Args, m0: Map[String, Any])
    extends Workload(s0, a0, m0) {
  def name = "query_mix"
  private val tree = data("tree")
  /** Every tenth `q*` entry in name order: a fixed, unbiased sample of
    * the 58 analytics queries, small enough that a warm-up pass and a
    * timed pass fit one run. */
  private val queries = SparkEntry.queries.toSeq.filter(_._1.startsWith("q")).sortBy(_._1)
    .zipWithIndex.collect { case (q, i) if i % 10 == 0 => q }

  private def runQuery(key: String, f: (SparkSession, String) => DataFrame, smp: Samples,
      c: Checks, tr: Option[Tracer]): Unit = {
    release(smp)
    try {
      val ((rows, cols, tb), ta) = traced(tr) {
        val (df, tb) = timed(f(s, tree))
        val (rows, ta) = timed(df.collect())
        ((rows, df.columns.toSeq, tb), ta)
      }
      c.digest(key, Digest.of(cols, rows))
      smp.put("lat", tb + ta); smp.put("busy", tb + ta)
      smp.put("df_build_ms", tb * 1e3); smp.put("action_ms", ta * 1e3)
      smp.put("ops", 1); smp.put("rows", rows.length)
    } catch { case e: Exception => c.error(key, e) }
  }

  /** Warm-up: one pass, so code generation and JIT are done before timing. */
  def setup(c: Checks, st: StreamStats): Unit = {
    val warm = new Samples
    queries.foreach { case (k, f) => runQuery(k, f, warm, c, None) }
  }

  def round(i: Int, smp: Samples, c: Checks, st: StreamStats, tr: Option[Tracer]): Unit =
    new scala.util.Random(seed * 1000 + i).shuffle(queries)
      .foreach { case (k, f) => runQuery(k, f, smp, c, tr) }

  def endToEnd(smp: Samples, r: Report): Unit = {
    reportLatency(r, smp, "lat", "query")
    r.add("queries_per_s", smp.sum("ops") / math.max(1e-9, smp.sum("busy")), "1/s", smp.n("ops"))
  }

  override def layers(l: Layers, smp: Samples, tr: Tracer): Unit = {
    commonLayers(l, smp)
    l.put("operators.df_build_ms", smp.mean("df_build_ms"))
    l.put("operators.action_ms", smp.mean("action_ms"))
  }
}

/** A config document of transfers over a landing directory of gzip
  * ndjson and parquet, parsed with ConfigJson and run with
  * Pipeline.runAll; one document run per op. */
final class TransferBulk(s0: SparkSession, a0: Harness.Args, m0: Map[String, Any])
    extends Workload(s0, a0, m0) {
  def name = "transfer_bulk"
  private val Feeds = Seq("ndjson_a", "ndjson_b", "parquet")
  private val parallel = math.min(a.cpus, Feeds.size)
  private val Ddl = "id BIGINT, ts TIMESTAMP, user BIGINT, nation INT, kind STRING, " +
    "amount DOUBLE, qty INT, note STRING"
  private def target(f: String) = work(s"out/$f")

  /** The transfer document; `glob` restricts every source to matching
    * files at listing time (the warm-up runs on each feed's first file). */
  private def doc(glob: Option[String]): String = {
    def t(feed: String, format: String, extra: String) =
      s"""{"Source": {"Path": ${Json.str(data(s"landing/$feed"))}, "Format": "$format"${
        if (format == "ndjson") s""", "Schema": ${Json.str(Ddl)}""" else ""}${
        glob.map(g => s""", "FilterRegExp": ${Json.str(g)}""").getOrElse("")}},
        "Target": ${Json.str(target(feed))},
        "Filter": "kind <> 'test'",
        "Transforms": [{"Name": "amount_cents", "Expr": "CAST(ROUND(amount * 100) AS BIGINT)"},
                       {"Name": "note_len", "Expr": "length(note)"}$extra],
        "Routes": [{"Type": "mod", "Name": "shard", "Src": "user", "N": 4},
                   {"Type": "date", "Name": "dt", "Src": "ts", "Fmt": "yyyy-MM-dd"}],
        "Valid": "amount > 0 AND qty > 0",
        "MaxErrorCounts": 100000000,
        "MaxParallelTransfers": ${Feeds.size}}"""
    s"""{"Transfers": [
      ${t("ndjson_a", "ndjson", "")},
      ${t("ndjson_b", "ndjson", """, {"Name": "kind_uc", "Expr": "upper(kind)"}""")},
      ${t("parquet", "parquet", """, {"Name": "unit_price", "Expr": "amount / qty"}""")}]}"""
  }

  /** The code-wired part of the document: a broadcast nation dimension
    * enriching the parquet feed (enrich dims are DataFrames, so configs
    * cannot carry them). */
  private def specs(glob: Option[String]): Seq[(Pipeline.TransferSpec, String)] = {
    val dim = s.read.parquet(data("dim/nation.parquet"))
    ConfigJson.parseTransfers(doc(glob)).map {
      case (spec, tgt) if tgt == target("parquet") =>
        (spec.copy(enrich = Some(Pipeline.EnrichSpec(dim, ("nation", "n_nationkey"),
          Seq("n_name" -> "nation_name", "n_regionkey" -> "region"), broadcastDim = true))), tgt)
      case other => other
    }
  }

  private def runDoc(glob: Option[String], expect: Map[String, Any], smp: Samples, c: Checks,
      tr: Option[Tracer]): Unit = {
    release(smp)
    try {
      val ((results, parseMs), wall) = timed(traced(tr) {
        val (sp, parseS) = timed(specs(glob))
        (Pipeline.runAll(s, sp, maxParallel = parallel), parseS * 1e3)
      })
      var ok = true
      Feeds.zip(results).foreach { case (f, (written, errors)) =>
        val e = expect(f).asInstanceOf[Map[String, Any]]
        ok &= c.equal(s"$f rows_written", written, Json.num(e("rows_written")).toLong)
        ok &= c.equal(s"$f error_rows", errors, Json.num(e("error_rows")).toLong)
      }
      c.count(ok)
      smp.put("lat", wall); smp.put("busy", wall); smp.put("ops", 1)
      smp.put("rows", results.map(_._1).sum.toDouble)
      smp.put("parse_ms", parseMs)
      val walls = Feeds.flatMap(f => Pipeline.BatchTasks.status(target(f)))
        .map(t => (t.updatedMs - t.startedMs) / 1e3)
      smp.put("transfer_wall_max_s", walls.max); smp.put("transfer_wall_min_s", walls.min)
      if (tr.isDefined) {
        smp.put("output_files", Feeds.map(f => countParquet(new File(target(f)))).sum)
        // plan construction alone, outside the op: what runAll pays per
        // transfer before its write job starts
        val (_, planS) = timed(specs(glob).foreach { case (sp, _) => Pipeline.plan(s, sp) })
        smp.put("plan_build_ms", planS * 1e3 / Feeds.size)
      }
    } catch { case e: Exception => c.error("transfer document", e) }
  }

  private def countParquet(f: File): Int =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(countParquet).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  def setup(c: Checks, st: StreamStats): Unit =
    runDoc(Some("part-0000.*"), manifest("expect_warm").asInstanceOf[Map[String, Any]],
      new Samples, c, None)

  def round(i: Int, smp: Samples, c: Checks, st: StreamStats, tr: Option[Tracer]): Unit =
    runDoc(None, manifest("expect").asInstanceOf[Map[String, Any]], smp, c, tr)

  def endToEnd(smp: Samples, r: Report): Unit = {
    r.add("transfer_rows_per_s", smp.sum("rows") / math.max(1e-9, smp.sum("busy")),
      "rows/s", smp.n("ops"))
    reportLatency(r, smp, "lat", "document")
  }

  override def layers(l: Layers, smp: Samples, tr: Tracer): Unit = {
    commonLayers(l, smp)
    l.put("plans.config_parse_ms", smp.mean("parse_ms"))
    l.put("plans.plan_build_ms", smp.mean("plan_build_ms"))
    l.put("plans.transfer_wall_max_s", smp.mean("transfer_wall_max_s"))
    l.put("plans.transfer_wall_min_s", smp.mean("transfer_wall_min_s"))
    l.put("io.output_files", smp.mean("output_files"))
  }
}

/** Streams.fileTransferAvailableNow over many small ndjson files with a
  * small maxFilesPerTrigger; one drain per round, a fresh sink and
  * checkpoint each time. The op latency is the micro-batch's. */
final class StreamDrain(s0: SparkSession, a0: Harness.Args, m0: Map[String, Any])
    extends Workload(s0, a0, m0) {
  def name = "stream_drain"
  private val Ddl = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
  private val maxFiles = Json.num(manifest("max_files_per_trigger")).toInt
  private val expect = manifest("expect").asInstanceOf[Map[String, Any]]
  private val Phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets", "triggerExecution")

  private def drain(src: String, tag: String, rows: Long, batches: Long, smp: Samples,
      c: Checks, st: StreamStats, tr: Option[Tracer]): Unit = {
    release(smp)
    val dst = work(s"$tag/out")
    try {
      val (n, wall) = timed(traced(tr) {
        Streams.fileTransferAvailableNow(s, src, Ddl, dst, work(s"$tag/cp"), Some(maxFiles))
      })
      val data = st.drain().filter(_.rows > 0)
      val drained = s.read.parquet(dst).count()
      c.count(c.equal(s"$tag batches", n, batches) & c.equal(s"$tag rows", drained, rows))
      data.foreach { b =>
        smp.put("lat", b.durations.getOrElse("triggerExecution", 0L) / 1e3)
        Phases.foreach(p => smp.put(p, b.durations.getOrElse(p, 0L).toDouble))
      }
      smp.put("busy", wall); smp.put("ops", data.size); smp.put("rows", drained)
      smp.put("batches", data.size)
    } catch { case e: Exception => c.error(s"$tag drain", e) }
    deleteTree(work(tag))
  }

  def setup(c: Checks, st: StreamStats): Unit = {
    // warm-up drain over the first files, in a landing dir of its own
    val files = new File(data("landing")).listFiles.filter(_.isFile).map(_.getName).sorted
      .take(2 * maxFiles)
    val warm = work("warm-landing")
    Files.createDirectories(Paths.get(warm))
    files.foreach(f => Files.copy(Paths.get(data(s"landing/$f")), Paths.get(warm, f)))
    val rows = files.map(f => Files.readAllLines(Paths.get(warm, f)).asScala
      .count(!_.contains("\"event_type\":\"error\""))).sum
    drain(warm, "warm", rows, 2, new Samples, c, st, None)
    deleteTree(warm)
  }

  def round(i: Int, smp: Samples, c: Checks, st: StreamStats, tr: Option[Tracer]): Unit =
    drain(data("landing"), s"drain$i", Json.num(expect("rows")).toLong,
      Json.num(expect("batches")).toLong, smp, c, st, tr)

  def endToEnd(smp: Samples, r: Report): Unit = {
    r.add("stream_rows_per_s", smp.sum("rows") / math.max(1e-9, smp.sum("busy")),
      "rows/s", smp.n("busy"))
    reportLatency(r, smp, "lat", "microbatch")
  }

  override def layers(l: Layers, smp: Samples, tr: Tracer): Unit = {
    commonLayers(l, smp)
    l.put("streaming.batches", smp.mean("batches"))
    l.put("streaming.latest_offset_ms", smp.mean("latestOffset"))
    l.put("streaming.get_batch_ms", smp.mean("getBatch"))
    l.put("streaming.query_planning_ms", smp.mean("queryPlanning"))
    l.put("streaming.add_batch_ms", smp.mean("addBatch"))
    l.put("streaming.wal_commit_ms", smp.mean("walCommit"))
    l.put("streaming.commit_offsets_ms", smp.mean("commitOffsets"))
    val trig = smp.sum("triggerExecution")
    l.put("streaming.overhead_frac", if (trig > 0) 1.0 - smp.sum("addBatch") / trig else 0.0)
  }
}

/** Top-k serving from four persisted indexes over an embeddings +
  * documents corpus. Each round appends one seeded batch as new part
  * files and then serves every index in a fixed rotation; the first
  * serve of an index after an append re-stages it. */
final class IndexServe(s0: SparkSession, a0: Harness.Args, m0: Map[String, Any],
    staged: StagedLog) extends Workload(s0, a0, m0) {
  def name = "index_serve"
  /** Three re-stages, then one warm serve of each index: the warm
    * samples hold every index once, so their median is not decided by
    * which index happens to fill an odd slot. */
  private val ServesPerRound = 7
  private val corpus = work("corpus")
  private val appends = Json.num(manifest("appends")).toInt
  private var applied = 0
  private val stageIvf: (SparkSession, String) => String = Similarity.stagedIvfIndex
  private val stageIvfPq: (SparkSession, String) => String = Similarity.stagedIvfPqIndex
  private val stageBm25: (SparkSession, String) => String = TextAnalysis.stagedBm25Index
  /** (name, serve, the staged artifacts the serve reads) */
  private val endpoints: Seq[(String, (SparkSession, String) => DataFrame,
      Seq[(SparkSession, String) => String])] = Seq(
    ("ivf", Similarity.ivfTopKIndexed, Seq(stageIvf)),
    ("ivfpq", Similarity.ivfPqTopKIndexed, Seq(stageIvfPq)),
    ("bm25", TextAnalysis.bm25IndexTopK, Seq(stageBm25)),
    ("hybrid", Similarity.hybridIndexTopK, Seq(stageBm25, stageIvf)))

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).forEach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    }
  }

  private def serve(ep: Int, smp: Samples, c: Checks, tr: Option[Tracer]): Unit = {
    val (name, f, stagers) = endpoints(ep)
    release(smp)
    try {
      if (tr.isDefined) {
        val (_, vk) = timed(Tables.versionedKey(s, corpus, "embeddings"))
        smp.put("versioned_key_ms", vk * 1e3)
      }
      val builds0 = staged.builds
      val buildS0 = staged.buildS
      val ((rows, cols, tb, ta), wall) = timed(traced(tr) {
        // traced: stage through the public staged-artifact functions
        // first, so every lookup is counted; the serve then hits
        if (tr.isDefined) stagers.foreach(_(s, corpus))
        val (df, tb) = timed(f(s, corpus))
        val (rows, ta) = timed(df.collect())
        (rows, df.columns.toSeq, tb, ta)
      })
      val builds = staged.builds - builds0
      c.digest(s"$name@$applied", Digest.of(cols, rows))
      smp.put(if (builds > 0) "restage" else "lat", wall)
      smp.put("busy", wall); smp.put("ops", 1); smp.put("rows", rows.length)
      smp.put("df_build_ms", tb * 1e3); smp.put("action_ms", ta * 1e3)
      if (tr.isDefined) {
        smp.put("stage_calls", stagers.size); smp.put("stage_builds", builds)
        smp.put("stage_build_s", staged.buildS - buildS0)
      }
    } catch { case e: Exception => c.error(s"$name@$applied serve", e) }
  }

  def setup(c: Checks, st: StreamStats): Unit = {
    copyTree(data("corpus"), corpus)
    // pre-loop index builds through the public staging functions
    Seq(stageIvf, stageIvfPq, stageBm25).foreach(_(s, corpus))
  }

  def round(i: Int, smp: Samples, c: Checks, st: StreamStats, tr: Option[Tracer]): Unit = {
    if (applied < appends) {
      for (t <- Seq("embeddings", "documents"))
        Files.copy(Paths.get(data(f"appends/$applied%03d/$t.parquet")),
          Paths.get(corpus, s"$t.parquet", f"part-${applied + 1}%05d.parquet"))
      applied += 1
    }
    for (k <- 0 until ServesPerRound) serve(k % endpoints.size, smp, c, tr)
  }

  def endToEnd(smp: Samples, r: Report): Unit = {
    reportLatency(r, smp, "lat", "serve")
    val cold = smp.vals("restage")
    r.add("restage_p50_s", Stats.median(cold), "s", cold.size)
  }

  override def layers(l: Layers, smp: Samples, tr: Tracer): Unit = {
    commonLayers(l, smp)
    l.put("operators.df_build_ms", smp.mean("df_build_ms"))
    l.put("operators.action_ms", smp.mean("action_ms"))
    l.put("sources.versioned_key_ms", smp.mean("versioned_key_ms"))
    val calls = smp.sum("stage_calls")
    l.put("sources.stage_calls", calls)
    l.put("sources.stage_hit_ratio", if (calls > 0) 1.0 - smp.sum("stage_builds") / calls else 0.0)
    l.put("sources.stage_build_s", smp.sum("stage_build_s"))
    val in = tr.inputBytes
    l.put("io.bytes_read_per_serve", if (in.nonEmpty) in.sum / in.size else 0.0)
  }
}
