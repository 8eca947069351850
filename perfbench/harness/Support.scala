package graftbench

import java.io.{OutputStream, PrintStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Named sample series recorded by a workload, e.g. "lat" (the primary
  * op latency in seconds), "busy" (timed call walls), "rows". */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def put(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def vals(k: String): Seq[Double] = m.get(k).map(_.toSeq).getOrElse(Nil)
  def sum(k: String): Double = vals(k).sum
  def n(k: String): Int = vals(k).size
  def mean(k: String): Double = if (n(k) == 0) 0.0 else sum(k) / n(k)
  def merge(o: Samples): Samples = {
    val r = new Samples
    for (src <- Seq(this, o); (k, vs) <- src.m; v <- vs) r.put(k, v)
    r
  }
}

object Stats {
  /** Nearest-rank quantile; 0 for an empty series. */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** Median, the mean of the two middle values for an even count; 0 for
    * an empty series. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

/** Human-readable report lines (`# name = value unit (n=samples)`). */
final class Report {
  private val rows = mutable.ArrayBuffer.empty[(String, Double, String, Int)]
  def add(name: String, v: Double, unit: String, n: Int): Unit = rows += ((name, v, unit, n))
  def printTable(workload: String): Unit =
    rows.foreach { case (k, v, u, n) =>
      println(f"# $workload%-13s $k%-22s ${Json.fmt(v)}%14s $u%-6s n=$n") }
}

/** Per-layer metrics in a fixed order with fixed units: every traced run
  * reports every one of them, 0 where a workload does not exercise the
  * layer. */
final class Layers {
  private val v = mutable.Map.empty[String, Double]
  def put(k: String, x: Double): Unit = {
    require(Layers.units.contains(k), s"undeclared layer metric $k")
    v(k) = x
  }
  def all: Seq[(String, Double, String)] =
    Layers.order.map(k => (k, v.getOrElse(k, 0.0), Layers.units(k)))
}

object Layers {
  val order: Seq[String] = Seq(
    "session.start_s", "cachescope.release_ms",
    "sources.versioned_key_ms", "sources.stage_calls", "sources.stage_builds",
    "sources.stage_hit_ratio", "sources.stage_build_s",
    "plans.config_parse_ms", "plans.plan_build_ms",
    "plans.transfer_wall_max_s", "plans.transfer_wall_min_s",
    "operators.df_build_ms", "operators.action_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.executions_per_op",
    "scheduler.jobs_per_op", "scheduler.stages_per_op", "scheduler.tasks_per_op",
    "scheduler.driver_gap_ms",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms", "executor.deserialize_ms",
    "executor.busy_frac",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "shuffle.spill_bytes",
    "io.input_bytes", "io.input_records", "io.output_bytes", "io.output_records",
    "io.output_files", "io.bytes_read_per_serve",
    "streaming.batches", "streaming.latest_offset_ms", "streaming.get_batch_ms",
    "streaming.query_planning_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.overhead_frac",
    "jvm.heap_peak_mb", "jvm.driver_gc_ms",
    "trace.op_wall_ms", "trace.overhead_frac")
  val units: Map[String, String] = order.map { k =>
    val suffix = k.split('.').last
    k -> (if (suffix.endsWith("_ms")) "ms"
      else if (suffix.endsWith("_s")) "s"
      else if (suffix.endsWith("_frac") || suffix.endsWith("_ratio")) "frac"
      else if (suffix.endsWith("_mb")) "MB"
      else if (suffix.contains("bytes")) "bytes"
      else "count")
  }.toMap
}

/** Minimal JSON helpers: reading goes through graft's own config parser
  * (a public function), writing is by hand. */
object Json {
  import graft.plans.ConfigJson._
  def parse(s: String): Any = conv(graft.plans.ConfigJson.parse(s))
  private def conv(v: JValue): Any = v match {
    case JStr(x) => x
    case JNum(x) => x
    case JBool(x) => x
    case JNull => null
    case JArr(xs) => xs.map(conv)
    case JObj(m) => m.map { case (k, x) => k -> conv(x) }
  }
  def num(v: Any): Double = v match {
    case d: Double => d
    case n: Number => n.doubleValue
    case s: String => s.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }
  def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Order-independent result digest: each row renders canonically
  * (floating point to 10 significant digits, so partial-aggregate merge
  * order cannot flip the last bit), the rendered rows are sorted and
  * MD5-hashed together with the column names. */
object Digest {
  def of(cols: Seq[String], rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(cols.mkString(",").getBytes("UTF-8"))
    rows.map(r => render(r)).sorted.foreach { l =>
      md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.10g"
    case f: Float => f"${f.toDouble}%.7g"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case other => other.toString
  }
}

/** Known-answer digests, per workload and per `seed@scale`. */
final class KnownAnswers(path: String,
    data: mutable.Map[String, mutable.Map[String, Map[String, String]]]) {
  def expected(workload: String, seedKey: String): Map[String, String] =
    data.get(workload).flatMap(_.get(seedKey)).getOrElse(Map.empty)
  def record(workload: String, seedKey: String, seen: Map[String, String]): Unit = {
    data.getOrElseUpdate(workload, mutable.Map.empty)(seedKey) = seen
    val body = Json.obj(data.toSeq.sortBy(_._1).map { case (w, bySeed) =>
      w -> Json.obj(bySeed.toSeq.sortBy(_._1).map { case (k, digests) =>
        k -> Json.obj(digests.toSeq.sortBy(_._1).map { case (q, d) => q -> Json.str(d) })
      })
    })
    Files.write(Paths.get(path), (body + "\n").getBytes("UTF-8"))
  }
}

object KnownAnswers {
  def load(path: String): KnownAnswers = {
    val p = Paths.get(path)
    val parsed: Map[String, Any] =
      if (Files.exists(p)) Json.parse(new String(Files.readAllBytes(p), "UTF-8"))
        .asInstanceOf[Map[String, Any]]
      else Map.empty
    val data = mutable.Map.empty[String, mutable.Map[String, Map[String, String]]]
    parsed.foreach { case (w, bySeed) =>
      data(w) = mutable.Map.from(bySeed.asInstanceOf[Map[String, Any]].map {
        case (k, d) => k -> d.asInstanceOf[Map[String, Any]].map { case (q, x) => q -> x.toString }
      })
    }
    new KnownAnswers(path, data)
  }
}

/** Output checks. A key's digest must repeat across the run and, when a
  * known answer exists for the seed, equal it. Every checked op counts
  * as attempted; a wrong or failed op counts as failed. */
final class Checks(known: Map[String, String], recording: Boolean) {
  private val first = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  def seen: Map[String, String] = first.toMap

  def digest(key: String, d: String): Boolean = {
    val prev = first.getOrElseUpdate(key, d)
    val ok = prev == d && (recording || known.get(key).forall(_ == d))
    if (!ok) failures += s"$key digest $d (first $prev, known ${known.getOrElse(key, "-")})"
    count(ok)
  }
  def equal(what: String, got: Long, want: Long): Boolean = {
    val ok = got == want
    if (!ok) failures += s"$what: got $got, expected $want"
    ok
  }
  def count(ok: Boolean): Boolean = {
    attempted += 1
    if (!ok) failed += 1
    ok
  }
  def error(what: String, e: Throwable): Unit = {
    failures += s"$what: $e"
    count(false)
  }
}

/** Counts staged-artifact builds from graft's `[staged] <tag> <secs> s`
  * log line by teeing stderr; the line is the program's only public
  * signal of a build. */
final class StagedLog private (orig: PrintStream) extends OutputStream {
  @volatile var builds = 0
  @volatile var buildS = 0.0
  private val line = new java.io.ByteArrayOutputStream

  override def write(b: Int): Unit = synchronized {
    orig.write(b)
    if (b != '\n') line.write(b)
    else {
      val l = line.toString("UTF-8")
      line.reset()
      if (l.startsWith("[staged]")) {
        builds += 1
        buildS += scala.util.Try(l.stripPrefix("[staged]").trim.split("\\s+")(1).toDouble)
          .getOrElse(0.0)
      }
    }
  }
  override def flush(): Unit = orig.flush()
}

object StagedLog {
  def install(): StagedLog = {
    val log = new StagedLog(System.err)
    System.setErr(new PrintStream(log, true))
    log
  }
}

/** Per-micro-batch progress of every streaming query, always on: the
  * micro-batch latency is an end-to-end metric of stream_drain. */
final class StreamStats(s: SparkSession) {
  final case class Batch(rows: Long, durations: Map[String, Long])
  private val batches = mutable.ArrayBuffer.empty[Batch]
  @volatile private var started = 0
  @volatile private var terminated = 0
  s.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      synchronized { started += 1 }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      StreamStats.this.synchronized {
        batches += Batch(e.progress.numInputRows,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized { terminated += 1 }
  })

  /** Waits until every started query's events are delivered, then takes
    * the batches seen so far. */
  def drain(): Seq[Batch] = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (synchronized(terminated < started) && System.nanoTime() < deadline) Thread.sleep(2)
    synchronized { val r = batches.toSeq; batches.clear(); r }
  }
}

/** Driver JVM heap peak and GC time over the measured loop. */
final class JvmStats {
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  heap.foreach(_.resetPeakUsage())
  private val gc0 = gcMs
  private var peakMb = 0.0
  private var gcDelta = 0L
  def stop(): Unit = {
    peakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
    gcDelta = gcMs - gc0
  }
  def layers(l: Layers): Unit = {
    l.put("jvm.heap_peak_mb", peakMb)
    l.put("jvm.driver_gc_ms", gcDelta.toDouble)
  }
}
