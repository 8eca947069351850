package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark-side tracing through Spark's public listeners.
  *
  * Jobs, stages and tasks are attributed to the op whose id the harness
  * sets as a local property; Spark copies local properties into threads
  * a traced thread creates, so the pool threads of `Pipeline.runAll` and
  * a stream's execution thread carry it too. Query executions carry no
  * properties, so they are attributed by window. The listener bus is
  * asynchronous: each op is bracketed by uniquely named marker queries,
  * and the op's figures are read only once the end marker's execution
  * and job have been delivered — the bus delivers in order, so every
  * event of the op has been seen by then.
  */
final class Tracer(s: SparkSession, cores: Int) {
  private val OpProp = "graftbench.op"
  private val MarkerProp = "graftbench.marker"

  final class Acc {
    var jobs, stages, tasks, qes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var taskMs, runMs, cpuNs, gcMs, deserMs = 0L
    var shW, shR, fetchMs, spill, inB, inR, outB, outR = 0L
    var anaMs, optMs, planMs = 0L
    var wallMs = 0.0
  }
  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private val jobOp = mutable.Map.empty[Int, (String, Long)]
  private val jobMarker = mutable.Map.empty[Int, String]
  private val stageOp = mutable.Map.empty[Int, String]
  private val seen = mutable.Set.empty[String]
  private var windowOp: String = null

  private def acc(op: String): Acc = accs.getOrElseUpdate(op, new Acc)

  s.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(MarkerProp))).foreach(m => jobMarker(e.jobId) = m)
      props.flatMap(p => Option(p.getProperty(OpProp))).foreach { op =>
        jobOp(e.jobId) = (op, e.time)
        acc(op).jobs += 1
        e.stageIds.foreach(stageOp(_) = op)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobMarker.remove(e.jobId).foreach(seen += "job:" + _)
      jobOp.remove(e.jobId).foreach { case (op, t0) => acc(op).intervals += ((t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op => acc(op).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val a = acc(op)
        a.tasks += 1
        a.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.deserMs += m.executorDeserializeTime
          a.shW += m.shuffleWriteMetrics.bytesWritten
          a.shR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inB += m.inputMetrics.bytesRead
          a.inR += m.inputMetrics.recordsRead
          a.outB += m.outputMetrics.bytesWritten
          a.outR += m.outputMetrics.recordsWritten
        }
      }
    }
  })

  s.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  })

  private def record(qe: QueryExecution): Unit = {
    val marker = scala.util.Try(qe.analyzed.output.map(_.name))
      .getOrElse(Nil).find(_.startsWith("gbm_"))
    synchronized {
      marker match {
        case Some(m) =>
          seen += "qe:" + m
          windowOp = if (m.startsWith("gbm_s_")) m.stripPrefix("gbm_s_") else null
        case None if windowOp != null =>
          val a = acc(windowOp)
          a.qes += 1
          val ph = qe.tracker.phases
          a.anaMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
          a.optMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
          a.planMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
        case None => ()
      }
    }
  }

  private def marker(tag: String): Unit = {
    val sc = s.sparkContext
    sc.setLocalProperty(MarkerProp, tag)
    try s.range(1).selectExpr(s"id AS $tag").collect()
    finally sc.setLocalProperty(MarkerProp, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!synchronized(seen("qe:" + tag) && seen("job:" + tag))) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"listener bus never delivered marker $tag")
      Thread.sleep(1)
    }
  }

  private var nOps = 0
  /** Runs `body` as one traced op and returns its result. */
  def op[T](body: => T): T = {
    nOps += 1
    val id = s"op$nOps"
    marker(s"gbm_s_$id")
    val sc = s.sparkContext
    sc.setLocalProperty(OpProp, id)
    val t0 = System.nanoTime()
    try body
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      sc.setLocalProperty(OpProp, null)
      marker(s"gbm_e_$id")
      synchronized { acc(id).wallMs = ms }
    }
  }

  /** Writes one JSON line per traced op: its span (wall) and every count
    * and time attributed to it. */
  def dump(path: String): Unit = synchronized {
    val lines = accs.map { case (id, a) =>
      Json.obj(Seq("op" -> Json.str(id), "wall_ms" -> Json.fmt(a.wallMs),
        "job_union_ms" -> Json.fmt(union(a.intervals.toSeq))) ++
        Seq("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
          "executions" -> a.qes, "analysis_ms" -> a.anaMs, "optimization_ms" -> a.optMs,
          "planning_ms" -> a.planMs, "task_ms" -> a.taskMs, "run_ms" -> a.runMs,
          "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "deserialize_ms" -> a.deserMs,
          "shuffle_write_bytes" -> a.shW, "shuffle_read_bytes" -> a.shR,
          "fetch_wait_ms" -> a.fetchMs, "spill_bytes" -> a.spill,
          "input_bytes" -> a.inB, "input_records" -> a.inR,
          "output_bytes" -> a.outB, "output_records" -> a.outR)
          .map { case (k, v) => k -> v.toString })
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Input bytes per traced op, in op order. */
  def inputBytes: Seq[Double] = synchronized(accs.values.map(_.inB.toDouble).toSeq)

  /** Per-op means of every listener-derived layer metric. */
  def layers(l: Layers): Unit = synchronized {
    val ops = accs.values.toSeq
    val n = math.max(1, ops.size).toDouble
    def mean(f: Acc => Double): Double = ops.map(f).sum / n
    l.put("catalyst.analysis_ms", mean(_.anaMs))
    l.put("catalyst.optimization_ms", mean(_.optMs))
    l.put("catalyst.planning_ms", mean(_.planMs))
    l.put("catalyst.executions_per_op", mean(_.qes))
    l.put("scheduler.jobs_per_op", mean(_.jobs))
    l.put("scheduler.stages_per_op", mean(_.stages))
    l.put("scheduler.tasks_per_op", mean(_.tasks))
    l.put("scheduler.driver_gap_ms", mean(a => math.max(0.0, a.wallMs - union(a.intervals.toSeq))))
    l.put("executor.run_ms", mean(_.runMs))
    l.put("executor.cpu_ms", mean(_.cpuNs / 1e6))
    l.put("executor.gc_ms", mean(_.gcMs))
    l.put("executor.deserialize_ms", mean(_.deserMs))
    val wall = ops.map(_.wallMs).sum
    l.put("executor.busy_frac", if (wall > 0) ops.map(_.taskMs).sum / (wall * cores) else 0.0)
    l.put("shuffle.write_bytes", mean(_.shW))
    l.put("shuffle.read_bytes", mean(_.shR))
    l.put("shuffle.fetch_wait_ms", mean(_.fetchMs))
    l.put("shuffle.spill_bytes", mean(_.spill))
    l.put("io.input_bytes", mean(_.inB))
    l.put("io.input_records", mean(_.inR))
    l.put("io.output_bytes", mean(_.outB))
    l.put("io.output_records", mean(_.outR))
    l.put("trace.op_wall_ms", mean(_.wallMs))
  }

  /** Length of the union of [start, end] intervals, in ms. */
  private def union(iv: Seq[(Long, Long)]): Double = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else curE = math.max(curE, b)
    }
    if (open) total += curE - curS
    total.toDouble
  }
}
