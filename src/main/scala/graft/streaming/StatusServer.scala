package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import graft.plans.Pipeline.BatchTasks
import graft.Json.escape

/** REST status + submission endpoint — the reference's operational
  * HTTP surface (reference server.go:26-108: GET /etly/tasklist,
  * /etly/tasks/{ids}, /etly/status, /etly/errors, /etly/info/{name},
  * /etly/version, POST /etly/transfer, /etly/transferOnce;
  * service_contract.go, status_info_response.go) served over the JDK's
  * built-in HttpServer, no extra dependencies. The POST endpoints
  * accept the same reference-shaped config JSON plans.ConfigJson loads
  * from disk and need the server constructed with a SparkSession.
  *
  * The registries stay the single source of truth — the streaming
  * TaskRegistry listener rides Spark's listener bus and BatchTasks is
  * updated by every runWithRetry/runAll — this class only serializes
  * them. Driver-side and O(#tasks): nothing here touches executors or
  * data, so the endpoint costs the same at sf0.001 and 100 TB.
  */
final class StatusServer(listener: TaskRegistry.Listener, port: Int = 0,
    transferSession: Option[org.apache.spark.sql.SparkSession] = None) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  private def streamTaskJson(t: TaskRegistry.TaskStatus): String = {
    val state = t.state match {
      case TaskRegistry.Running   => "RUNNING"
      case TaskRegistry.Finished  => "FINISHED"
      case TaskRegistry.Failed(_) => "FAILED"
    }
    s"""{"name":"${escape(t.name)}","kind":"stream","state":"$state",""" +
      s""""batches":${t.batches},"rowsProcessed":${t.rowsProcessed},""" +
      s""""lastProgressMs":${t.lastProgressMs}}"""
  }

  private def batchTaskJson(t: BatchTasks.Status): String = {
    val (state, extra) = t.state match {
      case BatchTasks.Running => ("RUNNING", "")
      case BatchTasks.Finished(rows, errs, att) =>
        ("FINISHED", s""","rowsWritten":$rows,"errorRows":$errs,"attempts":$att""")
      case BatchTasks.Failed(e, att) =>
        ("FAILED", s""","error":"${escape(e)}","attempts":$att""")
    }
    s"""{"name":"${escape(t.target)}","kind":"batch","state":"$state",""" +
      s""""startedMs":${t.startedMs},"updatedMs":${t.updatedMs}$extra}"""
  }

  /** GET /graft/tasklist[?status=running|finished|failed] —
    * GetTasksList analog (both registries). The optional state filter
    * mirrors the reference's task-list `status` query parameter
    * (reference server.go:71 `Parameters: []string{"status"}`; README
    * `/etly/tasks?status=DONE`); matching is case-insensitive. */
  private def tasklistJson(statusFilter: Option[String]): String = {
    def streamState(t: TaskRegistry.TaskStatus): String = t.state match {
      case TaskRegistry.Running   => "RUNNING"
      case TaskRegistry.Finished  => "FINISHED"
      case TaskRegistry.Failed(_) => "FAILED"
    }
    def batchState(t: BatchTasks.Status): String = t.state match {
      case BatchTasks.Running        => "RUNNING"
      case _: BatchTasks.Finished    => "FINISHED"
      case _: BatchTasks.Failed      => "FAILED"
    }
    val want = statusFilter.map(_.toUpperCase)
    def keep(state: String): Boolean = want.forall(_ == state)
    (listener.tasksList().filter(t => keep(streamState(t))).map(streamTaskJson) ++
      BatchTasks.tasksList().filter(t => keep(batchState(t))).map(batchTaskJson))
      .mkString("[", ",", "]")
  }

  /** Parse a query string's `status` parameter (no full query-parser
    * dependency; the endpoint takes exactly one optional parameter). */
  private def statusParam(x: HttpExchange): Option[String] =
    Option(x.getRequestURI.getQuery).flatMap(_.split('&').collectFirst {
      case kv if kv.takeWhile(_ != '=') == "status" =>
        java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1), "UTF-8")
    }).filter(_.nonEmpty)

  /** GET /graft/errors — GetErrors analog. */
  private def errorsJson: String =
    (listener.errors() ++ BatchTasks.errors())
      .map { case (n, e) => s"""{"name":"${escape(n)}","error":"${escape(e)}"}""" }
      .mkString("[", ",", "]")

  /** GET /graft/status — Status analog: overall health roll-up. */
  private def statusJson: String = {
    val nErr = listener.errors().size + BatchTasks.errors().size
    val running = listener.tasksList().count(_.state == TaskRegistry.Running) +
      BatchTasks.tasksList().count(_.state == BatchTasks.Running)
    val n = listener.tasksList().size + BatchTasks.tasksList().size
    val overall = if (nErr > 0) "ERROR" else "OK"
    s"""{"status":"$overall","tasks":$n,"running":$running,"errors":$nErr}"""
  }

  /** GET /graft/info/{name} — ProcessingStatus analog (single task). */
  private def infoJson(name: String): Option[String] =
    listener.status(name).map(streamTaskJson)
      .orElse(BatchTasks.status(name).map(batchTaskJson))

  /** GET /graft/tasks/{ids}[?offset=&limit=] — GetTasks analog
    * (reference server.go:57 `tasks/{ids}`, service.go:166): ids are
    * comma-separated task names; empty ids = every task; offset/limit
    * page the result like the reference's Form parameters. Unknown ids
    * are skipped (the reference's GetByIDs contract). */
  private def tasksJson(idsSeg: String, query: Option[String]): String = {
    val all = listener.tasksList().map(t => t.name -> streamTaskJson(t)) ++
      BatchTasks.tasksList().map(t => t.target -> batchTaskJson(t))
    val ids = idsSeg.split(',').map(_.trim).filter(_.nonEmpty)
    val picked =
      if (ids.isEmpty) all.map(_._2)
      else {
        val byName = all.toMap
        ids.toSeq.flatMap(byName.get)
      }
    def intParam(name: String): Option[Int] =
      query.flatMap(_.split('&').collectFirst {
        case kv if kv.takeWhile(_ != '=') == name =>
          kv.dropWhile(_ != '=').drop(1)
      }).flatMap(_.toIntOption).filter(_ >= 0)
    val offset = intParam("offset").getOrElse(0)
    val limit = intParam("limit").getOrElse(picked.size)
    picked.slice(offset, offset + limit).mkString("[", ",", "]")
  }

  /** POST /graft/transfer — Transfer analog (reference server.go:93):
    * the body is a reference-shaped transfer-config JSON document (the
    * same shape plans.ConfigJson loads from disk); transfers run
    * ASYNCHRONOUSLY on a daemon thread (the reference schedules and
    * returns), registering in BatchTasks as they go — poll
    * /graft/tasklist or /graft/info/{target} for completion. Responds
    * 202 with the submitted target list, 400 on a malformed document,
    * 503 when the server was started without a SparkSession. */
  private def submitTransfer(body: String, once: Boolean): (Int, String) =
    transferSession match {
      case None => (503, """{"error":"no spark session attached for transfers"}""")
      case Some(s) =>
        import graft.plans.ConfigJson
        val targets =
          try ConfigJson.parseTransfers(body).map(_._2)
          catch { case e: Exception =>
            return (400, s"""{"error":"${escape(String.valueOf(e.getMessage))}"}""")
          }
        if (once) {
          // transferOnce (server.go:100): run one pass NOW, answer with
          // per-transfer results — the reference's DoResponse shape
          try {
            val rows = ConfigJson.run(s, body)
            val tasks = targets.zip(rows).map { case (t, (w, e)) =>
              s"""{"target":"${escape(t)}","rowsWritten":$w,"errorRows":$e}"""
            }
            (200, s"""{"status":"ok","tasks":${tasks.mkString("[", ",", "]")}}""")
          } catch { case e: Exception =>
            (500, s"""{"status":"error","error":"${escape(String.valueOf(e.getMessage))}"}""")
          }
        } else {
          val th = new Thread(() =>
            try ConfigJson.run(s, body)
            catch { case _: Throwable => () /* BatchTasks carries the failure */ },
            s"graft-transfer-${System.nanoTime}")
          th.setDaemon(true)
          th.start()
          (202, s"""{"status":"submitted","targets":${
            targets.map(t => s""""${escape(t)}"""").mkString("[", ",", "]")}}""")
        }
    }

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length)
    val os = x.getResponseBody
    try os.write(bytes) finally os.close()
  }

  server.createContext("/graft/", (x: HttpExchange) =>
    try {
      val path = x.getRequestURI.getPath
      val isPostPath = path == "/graft/transfer" || path == "/graft/transferOnce"
      if (x.getRequestMethod == "POST" && isPostPath) {
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val (code, resp) = submitTransfer(body, once = path.endsWith("Once"))
        respond(x, code, resp)
      }
      else if (x.getRequestMethod != "GET" || isPostPath)
        respond(x, 405, """{"error":"method not allowed"}""")
      else path match {
        case "/graft/tasklist" | "/graft/tasklist/" =>
          respond(x, 200, tasklistJson(statusParam(x)))
        case "/graft/tasks" | "/graft/tasks/" =>
          respond(x, 200, tasksJson("", Option(x.getRequestURI.getQuery)))
        case p if p.startsWith("/graft/tasks/") =>
          val ids = java.net.URLDecoder.decode(p.stripPrefix("/graft/tasks/"), "UTF-8")
          respond(x, 200, tasksJson(ids, Option(x.getRequestURI.getQuery)))
        case "/graft/status"  => respond(x, 200, statusJson)
        case "/graft/errors"  => respond(x, 200, errorsJson)
        case "/graft/version" =>
          respond(x, 200, s"""{"version":"${StatusServer.Version}"}""")
        case p if p.startsWith("/graft/info/") =>
          val name = java.net.URLDecoder.decode(p.stripPrefix("/graft/info/"), "UTF-8")
          infoJson(name) match {
            case Some(j) => respond(x, 200, j)
            case None    => respond(x, 404, s"""{"error":"no task named ${escape(name)}"}""")
          }
        case _ => respond(x, 404, """{"error":"not found"}""")
      }
    } catch {
      case e: Throwable =>
        respond(x, 500, s"""{"error":"${escape(String.valueOf(e.getMessage))}"}""")
    })
  server.setExecutor(null) // serve on the dispatch thread; status traffic is tiny

  /** Start serving; returns the bound port (pass port=0 for ephemeral). */
  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = server.stop(0)
}

object StatusServer {
  val Version = "0.3.0"
}
