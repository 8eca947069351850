package graft

import org.apache.spark.sql.execution.QueryExecution

/** Plan-evidence dumper (`sbt "Test/runMain graft.PlanDump <outDir> <sfDir> <tag> <q1> [<q2> ...]"`):
  * writes `<outDir>/<query>_<tag>.txt` holding the `.explain("formatted")`
  * output of each named gate — the artifact the optimization rounds
  * commit under plans/r<N>/ so plan-shape claims are checkable without
  * running Spark. Gates that materialize internally and return a local
  * relation (e.g. q_recursive_cte collects the bounded month rows
  * inside a scoped conf) would otherwise dump a bare LocalTableScan,
  * so a QueryExecutionListener also captures every INNER execution the
  * gate ran and the file appends the interesting ones (recursion /
  * join / aggregate plans), largest first. Bench-override twins are
  * dumped with the override when one exists — that is the shape the
  * bench times. Not a test — kept in the test tree to stay out of the
  * library jar.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <outDir> <sfDir> <tag> <query>...")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val dir = args(1)
    val tag = args(2)
    val names = args.drop(3).toSeq
    val spark = GraftSession.local()
    // GRAFT_PD_CONF="k=v;k=v" pins SQL confs for the dump — e.g.
    // spark.sql.autoBroadcastJoinThreshold=-1 to capture the
    // SortMergeJoin shape a small-SF broadcast would hide (ADVICE r16 #1)
    sys.env.get("GRAFT_PD_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    val inner = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        inner.add(qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    names.foreach { name =>
      val fn = SparkEntry.benchOverrides.getOrElse(name, SparkEntry.queries(name))
      // GRAFT_PD_WARMUP=1 runs the gate once BEFORE the capture so
      // one-time staging builds (snapshot indexes, pair lineage) don't
      // flood the inner-execution evidence — the captured pass is the
      // steady-state per-call shape the bench times (r17)
      if (sys.env.get("GRAFT_PD_WARMUP").contains("1")) {
        fn(spark, dir).count()
        CacheScope.releaseAll(spark)
      }
      inner.clear()
      spark.listenerManager.register(listener)
      // the materializing action is NONCE-TAGGED so it can be filtered
      // from the captured inner executions (ADVICE r16 #2: the dumper's
      // own count was committed as a spurious "inner execution" in the
      // r16 evidence files, inflating Exchange tallies)
      val countNonce = java.util.UUID.randomUUID.toString.replace("-", "")
      val df =
        try {
          val d = fn(spark, dir)
          // materialize so AQE finalizes and inner executions run
          d.selectExpr(s"count(*) AS graft_pd_count_$countNonce").collect()
          d
        } finally {
          // the listener bus is async: drain it via the end-marker
          // trick (bus delivers in order) before unregistering
          val nonce = java.util.UUID.randomUUID.toString.replace("-", "")
          @volatile var closed = false
          val end = new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
              if (qe.executedPlan.toString.contains(s"graft_pd_end_$nonce")) closed = true
            override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
          }
          spark.listenerManager.register(end)
          spark.range(1).selectExpr(s"id AS graft_pd_end_$nonce").collect()
          var waited = 0
          while (!closed && waited < 30000) { Thread.sleep(25); waited += 25 }
          spark.listenerManager.unregister(end)
          spark.listenerManager.unregister(listener)
        }
      val main = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val sb = new StringBuilder
      sb ++= s"===== $name ($tag) — returned DataFrame, explain(formatted) =====\n"
      sb ++= main
      // a local relation means the gate materialized internally: the
      // captured inner executions carry the real plans
      // GRAFT_PD_INNER=1 appends ALL inner executions unconditionally —
      // gates whose optimized work is an INNER action (the streaming
      // micro-batch appends, whose write plans carry no Join/Aggregate)
      // return a real serve plan, so the LocalTableScan heuristic plus
      // the interest filter would hide the evidence (r17)
      val allInner = sys.env.get("GRAFT_PD_INNER").contains("1")
      if (allInner || main.contains("LocalTableScan") || main.length < 400) {
        import scala.jdk.CollectionConverters._
        val captured = inner.asScala.toSeq
          .filterNot(p => p.contains("graft_pd_end_") ||
            p.contains("graft_pd_count_")) // the dumper's own actions
        val interesting = (if (allInner) captured
          else captured
            .filter(p => p.contains("Join") || p.contains("Aggregate") ||
              p.contains("UnionLoop") || p.contains("Recursi")))
          .sortBy(-_.length)
        // GRAFT_PD_MAX_INNER caps the appended plans (largest first) so
        // a many-consult gate doesn't commit megabytes of evidence; the
        // footer discloses exactly what was dropped (ADVICE r16 #3)
        val maxInner = sys.env.get("GRAFT_PD_MAX_INNER").map(_.toInt)
          .getOrElse(Int.MaxValue)
        val plans = interesting.take(maxInner)
        plans.zipWithIndex.foreach { case (p, i) =>
          sb ++= s"\n===== $name ($tag) — inner execution ${i + 1}/${plans.size} =====\n"
          sb ++= p
        }
        // disclose truncation (ADVICE r16 #3): readers must know how
        // many captured inner plans the filters dropped
        sb ++= s"\n===== $name ($tag) — ${captured.size} inner executions captured, " +
          s"${captured.size - interesting.size} dropped by the Join/Aggregate/recursion filter, " +
          s"${interesting.size - plans.size} dropped by the GRAFT_PD_MAX_INNER cap =====\n"
      }
      java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
        sb.toString.getBytes("UTF-8"))
      println(s"wrote ${name}_$tag.txt (${sb.length} chars)")
    }
    spark.stop()
  }
}
