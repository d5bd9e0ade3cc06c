package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s.{JArray, JBool, JDecimal, JDouble, JInt, JLong, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/** REST SQL frontend — the reference's Kyuubi REST protocol, which its
  * default deployment ENABLES alongside Thrift
  * (`kyuubi.frontend.protocols = "REST,THRIFT_BINARY"`,
  * `kyuubi.frontend.rest.bind.port = 10099` — reference
  * api/v1alpha1/ninecluster_metadata.go:23-28). This closes the last
  * protocol in that list: gRPC Connect (C18), HiveServer2 Thrift
  * (C36), MySQL (C38), and now REST all serve the SAME engine
  * sessions, credential table, grants, audit trail and admission gate.
  *
  * Served subset (the Kyuubi REST v1 session/statement surface —
  * field names a polling client reads; no batch/spark-submit API,
  * which is a job-submission concern, not a query wire):
  *
  *   - `POST   /api/v1/sessions` `{"configs":{...}}` → `{"identifier"}`
  *   - `DELETE /api/v1/sessions/{id}`
  *   - `POST   /api/v1/sessions/{id}/operations/statement`
  *     `{"statement": "..."}` → `{"identifier"}`
  *   - `GET    /api/v1/operations/{id}/event` →
  *     `{"identifier","state"("FINISHED"|"ERROR"),"exception"?}`
  *   - `GET    /api/v1/operations/{id}/resultsetmetadata` →
  *     `{"columns":[{"name","type"}]}`
  *   - `GET    /api/v1/operations/{id}/rowset?maxrows=N` →
  *     `{"rows":[[cell,...]],"hasMoreRows"}` — cells are JSON strings
  *     (NULL = JSON null), paged off a `toLocalIterator` so the wire
  *     never holds a whole result in driver memory
  *   - `DELETE /api/v1/operations/{id}` — closes the operation and
  *     releases its admission permit
  *
  * Control-plane stances, all shared with the other wires:
  *
  *   - **Auth (C22)**: HTTP Basic on every request when ConnectAuth is
  *     enabled, validated by the SAME credential query; failures are
  *     401 and audited as LOGIN denials.
  *   - **Identity (C24/C27/C28)**: the engine session pins
  *     `spark.graft.sql.user` to the authenticated principal and
  *     client-supplied session configs may not override graft identity
  *     keys; a session/operation is only visible to the principal that
  *     opened it (403 otherwise — handles are not capabilities).
  *   - **Admission (C30)**: each statement holds a per-principal
  *     in-flight permit from POST until its operation (or session)
  *     closes or its rowset drains; over-cap → 429 with the
  *     RESOURCE_EXHAUSTED marker, audited.
  *
  * Statement execution is synchronous through the first result
  * partition (analysis + authorization errors land in the operation's
  * ERROR state before the POST returns), so a client that polls
  * `event` sees a terminal state immediately — a conforming
  * interaction for bounded statements, documented as such.
  */
object GraftRestServer {

  private final class OpState(val user: String, val sessionId: String) {
    @volatile var state: String = "RUNNING"
    @volatile var error: Option[String] = None
    @volatile var schema: Seq[(String, String)] = Nil
    @volatile var it: Iterator[Row] = Iterator.empty
    /** Set by reap/close while the statement is still executing; the
      * executing thread honors it at completion (see [[closeOrDefer]]).
      */
    @volatile var closeRequested: Boolean = false
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    /** Admission permits release exactly once per operation. */
    def releasePermit(): Unit =
      if (released.compareAndSet(false, true)) ConnectAuth.release(user)
  }

  /** Close an operation — or, if its statement is still executing,
    * defer: releasing the permit mid-flight would let the principal
    * exceed maxConcurrentPerUser during the in-flight window, and
    * removing the op would 404 the identifier the client just
    * received. The RUNNING→terminal transition and this check are both
    * under op's monitor, so exactly one side performs the close.
    */
  private def closeOrDefer(opId: String, op: OpState): Unit = op.synchronized {
    if (op.state == "RUNNING") op.closeRequested = true
    else { op.releasePermit(); ops.remove(opId) }
  }

  private final class Sess(val spark: SparkSession, val user: String) {
    @volatile var lastAccess: Long = System.currentTimeMillis()
  }

  private val sessions = new ConcurrentHashMap[String, Sess]()
  private val ops = new ConcurrentHashMap[String, OpState]()

  @volatile private var server: Option[HttpServer] = None
  @volatile private var idleTimeoutMs: Long = 6L * 3600 * 1000

  /** Evict sessions idle past the timeout, releasing their
    * operations' admission permits — an abandoned client must not
    * leak engine sessions, result iterators, or permits forever (the
    * Kyuubi `session.idle.timeout` role).
    */
  private def reapIdle(): Unit = {
    val cutoff = System.currentTimeMillis() - idleTimeoutMs
    sessions.forEach { (id, s) =>
      if (s.lastAccess < cutoff && sessions.remove(id, s)) {
        ops.forEach { (opId, op) =>
          if (op.sessionId == id) closeOrDefer(opId, op)
        }
      }
    }
  }

  def started: Boolean = server.isDefined

  /** The actually-bound port (differs from the requested one when
    * started with port 0 — the pick-a-free-port test/ops mode).
    */
  def boundPort: Option[Int] = server.map(_.getAddress.getPort)

  /** Start the REST endpoint (default 10099 — the reference's
    * `kyuubi.frontend.rest.bind.port`; 0 = any free port, see
    * [[boundPort]]). Idempotent; daemon threads.
    */
  def start(spark: SparkSession, port: Int = 10099,
      bindHost: String = "localhost",
      sessionIdleTimeoutMs: Long = 6L * 3600 * 1000): Unit = synchronized {
    if (server.isDefined) return
    idleTimeoutMs = sessionIdleTimeoutMs
    val srv = HttpServer.create(
      new java.net.InetSocketAddress(bindHost, port), 50)
    srv.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-rest-worker"); t.setDaemon(true); t
    }))
    srv.createContext("/api/v1", (ex: HttpExchange) => handle(spark, ex))
    srv.start()
    server = Some(srv)
    val janitor = new Thread(() => {
      try while (server.isDefined) {
        Thread.sleep(math.max(1000L, math.min(idleTimeoutMs / 4, 60000L)))
        reapIdle()
      } catch { case _: InterruptedException => () }
    }, "graft-rest-session-janitor")
    janitor.setDaemon(true)
    janitor.start()
  }

  /** Stop serving (test hygiene); sessions/operations are dropped. */
  def stop(): Unit = synchronized {
    server.foreach(_.stop(0))
    server = None
    ops.values().forEach(_.releasePermit())
    ops.clear()
    sessions.clear()
  }

  // ---- JSON helpers -------------------------------------------------

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def field(v: JValue, name: String): Option[JValue] = v match {
    case JObject(fs) => fs.collectFirst { case (`name`, x) => x }
    case _ => None
  }

  private def textOfJ(v: JValue): Option[String] = v match {
    case JString(s) => Some(s)
    case JInt(n) => Some(n.toString)
    case JLong(n) => Some(n.toString)
    case JDouble(n) => Some(n.toString)
    case JDecimal(n) => Some(n.toString)
    case JBool(b) => Some(b.toString)
    case _ => None
  }

  // ---- request plumbing ---------------------------------------------

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    ex.close()
  }

  private def err(ex: HttpExchange, code: Int, msg: String): Unit =
    respond(ex, code, s"""{"message":${jstr(msg)}}""")

  /** Basic-auth principal, or None (→ 401 already sent). Anonymous
    * ("anonymous") only when auth is not enforced.
    */
  private def principal(ex: HttpExchange): Option[String] = {
    val hdr = Option(ex.getRequestHeaders.getFirst("Authorization"))
    if (!ConnectAuth.required)
      return Some(hdr.flatMap(basicUser).map(_._1).getOrElse("anonymous"))
    hdr.flatMap(basicUser) match {
      case Some((u, tok)) if ConnectAuth.check(u, tok) => Some(u)
      case Some((u, _)) =>
        GraftAudit.record(u, "LOGIN", "rest-wire", "deny")
        ex.getResponseHeaders.set("WWW-Authenticate", "Basic realm=\"graft\"")
        err(ex, 401, s"Access denied for user '$u' (graft rest endpoint)")
        None
      case None =>
        ex.getResponseHeaders.set("WWW-Authenticate", "Basic realm=\"graft\"")
        err(ex, 401, "Basic authentication required")
        None
    }
  }

  private def basicUser(hdr: String): Option[(String, String)] =
    if (!hdr.regionMatches(true, 0, "Basic ", 0, 6)) None
    else try {
      val dec = new String(
        java.util.Base64.getDecoder.decode(hdr.substring(6).trim), UTF_8)
      val i = dec.indexOf(':')
      if (i < 0) None else Some((dec.substring(0, i), dec.substring(i + 1)))
    } catch { case _: IllegalArgumentException => None }

  private def readBody(ex: HttpExchange): String = {
    val in = ex.getRequestBody
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** 256 MB default stream-load body cap (`graft.rest.streamLoadMaxBytes`). */
  private[graft] def StreamLoadMaxBytes: Long =
    sys.props.get("graft.rest.streamLoadMaxBytes").flatMap(_.toLongOption)
      .getOrElse(256L * 1024 * 1024)

  /** Read at most `max` bytes; None when the stream exceeds it (the
    * chunked-transfer case Content-Length never announced).
    */
  private def readBodyBounded(ex: HttpExchange, max: Long): Option[String] = {
    val in = ex.getRequestBody
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64 * 1024)
      var n = in.read(chunk)
      while (n >= 0) {
        buf.write(chunk, 0, n)
        if (buf.size() > max) return None
        n = in.read(chunk)
      }
      Some(new String(buf.toByteArray, UTF_8))
    } finally in.close()
  }

  // ---- routing ------------------------------------------------------

  private def handle(spark: SparkSession, ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath.stripPrefix("/api/v1")
      val method = ex.getRequestMethod.toUpperCase
      principal(ex).foreach { user =>
        (method, path.split("/").filter(_.nonEmpty).toList) match {
          case ("POST", List("sessions")) => openSession(spark, ex, user)
          case ("DELETE", List("sessions", id)) => closeSession(ex, user, id)
          case ("POST", List("sessions", id, "operations", "statement")) =>
            statement(ex, user, id)
          case ("GET", List("operations", id, "event")) => opEvent(ex, user, id)
          case ("GET", List("operations", id, "resultsetmetadata")) =>
            opMeta(ex, user, id)
          case ("GET", List("operations", id, "rowset")) => rowset(ex, user, id)
          case ("DELETE", List("operations", id)) => closeOp(ex, user, id)
          case ("PUT", List(db, table, "_stream_load")) =>
            streamLoad(spark, ex, user, db, table)
          case _ => err(ex, 404, s"no route: $method /api/v1$path")
        }
      }
    } catch {
      case e: Exception =>
        try err(ex, 500, Option(e.getMessage).getOrElse(e.toString).take(1500))
        catch { case _: Exception => () }
    }

  /** An op/session owned by someone else is a 403, never a 404: a
    * handle is an identifier, not a capability.
    */
  private def owned[A](ex: HttpExchange, user: String, owner: String)(f: => A): Unit =
    if (owner != user) err(ex, 403, "handle belongs to another principal")
    else { f; () }

  // ---- handlers -----------------------------------------------------

  private def openSession(parent: SparkSession, ex: HttpExchange, user: String): Unit = {
    val body = readBody(ex)
    val cfg: Seq[(String, String)] =
      if (body.trim.isEmpty) Nil
      else field(JsonMethods.parse(body), "configs") match {
        case Some(JObject(fs)) =>
          fs.flatMap { case (k, v) => textOfJ(v).map(k -> _) }
        case _ => Nil
      }
    // client configs apply EXCEPT graft identity keys (C24 stance)
    val sess = GraftSession.childSession(parent, user, cfg)
    val id = UUID.randomUUID().toString
    sessions.put(id, new Sess(sess, user))
    respond(ex, 200, s"""{"identifier":${jstr(id)}}""")
  }

  private def closeSession(ex: HttpExchange, user: String, id: String): Unit =
    Option(sessions.get(id)) match {
      case None => err(ex, 404, "no such session")
      case Some(s) => owned(ex, user, s.user) {
        sessions.remove(id)
        // closing the session closes (and releases) its operations;
        // in-flight statements close at completion (closeOrDefer)
        ops.forEach { (opId, op) =>
          if (op.sessionId == id) closeOrDefer(opId, op)
        }
        respond(ex, 200, "{}")
      }
    }

  private def touch(sessionId: String): Unit =
    Option(sessions.get(sessionId)).foreach(_.lastAccess = System.currentTimeMillis())

  private def statement(ex: HttpExchange, user: String, id: String): Unit =
    Option(sessions.get(id)) match {
      case None => err(ex, 404, "no such session")
      case Some(s) => owned(ex, user, s.user) {
        s.lastAccess = System.currentTimeMillis()
        val sql = field(JsonMethods.parse(readBody(ex)), "statement")
          .flatMap(textOfJ).getOrElse("")
        if (sql.trim.isEmpty) { err(ex, 400, "statement required"); return }
        if (!ConnectAuth.tryAcquire(user)) {
          GraftAudit.record(user, "EXECUTE", "rest-wire", "deny")
          err(ex, 429,
            "RESOURCE_EXHAUSTED: per-principal in-flight statement cap reached")
          return
        }
        val op = new OpState(user, id)
        val opId = UUID.randomUUID().toString
        ops.put(opId, op)
        try {
          val df: DataFrame = s.spark.sql(sql)
          op.schema = df.schema.fields.toSeq.map(f => (f.name, f.dataType.typeName))
          val it = df.toLocalIterator()
          val sit = new Iterator[Row] {
            def hasNext: Boolean = it.hasNext
            def next(): Row = it.next()
          }
          sit.hasNext // force the first partition: runtime errors land here
          op.it = sit
          op.synchronized { op.state = "FINISHED" }
        } catch {
          case e: Exception =>
            op.synchronized { op.state = "ERROR" }
            op.error = Some(Option(e.getMessage).getOrElse(e.toString).take(2000))
            op.releasePermit() // a failed statement holds no permit
        }
        // A reap/close that hit this op mid-execution deferred to us
        // (closeOrDefer): honor it now that the state is terminal.
        if (op.closeRequested) { op.releasePermit(); ops.remove(opId) }
        respond(ex, 200, s"""{"identifier":${jstr(opId)}}""")
      }
    }

  private def opEvent(ex: HttpExchange, user: String, id: String): Unit =
    Option(ops.get(id)) match {
      case None => err(ex, 404, "no such operation")
      case Some(op) => owned(ex, user, op.user) {
        val exc = op.error.map(m => s""","exception":${jstr(m)}""").getOrElse("")
        respond(ex, 200,
          s"""{"identifier":${jstr(id)},"state":${jstr(op.state)}$exc}""")
      }
    }

  private def opMeta(ex: HttpExchange, user: String, id: String): Unit =
    Option(ops.get(id)) match {
      case None => err(ex, 404, "no such operation")
      case Some(op) => owned(ex, user, op.user) {
        val cols = op.schema.map { case (n, t) =>
          s"""{"name":${jstr(n)},"type":${jstr(t)}}""" }.mkString(",")
        respond(ex, 200, s"""{"columns":[$cols]}""")
      }
    }

  private def rowset(ex: HttpExchange, user: String, id: String): Unit =
    Option(ops.get(id)) match {
      case None => err(ex, 404, "no such operation")
      case Some(op) => owned(ex, user, op.user) {
        touch(op.sessionId)
        if (op.state == "ERROR") { err(ex, 400, op.error.getOrElse("ERROR")); return }
        // maxrows: malformed → 400 (not a 500 from a bare toInt), and
        // clamped to >= 1 — a 0/negative page would return an empty
        // rowset with hasMoreRows=true forever, so a conforming
        // pagination loop would never terminate.
        val maxRaw = Option(ex.getRequestURI.getQuery).flatMap(q =>
          q.split("&").collectFirst {
            case kv if kv.startsWith("maxrows=") => kv.stripPrefix("maxrows=")
          })
        val max = maxRaw match {
          case None => 1000
          case Some(s0) => s0.toIntOption match {
            case None => err(ex, 400, s"invalid maxrows: '$s0'"); return
            case Some(v) => math.max(1, v)
          }
        }
        val ncols = op.schema.size
        val sb = new StringBuilder("""{"rows":[""")
        var n = 0
        // synchronized: two concurrent fetches on one op must not
        // interleave the iterator (pages may arrive in either order,
        // but each row arrives exactly once)
        op.synchronized {
          while (n < max && op.it.hasNext) {
            val row = op.it.next()
            if (n > 0) sb.append(',')
            sb.append('[')
            var i = 0
            while (i < ncols) {
              if (i > 0) sb.append(',')
              if (row.isNullAt(i)) sb.append("null")
              else sb.append(jstr(cellText(row.get(i))))
              i += 1
            }
            sb.append(']')
            n += 1
          }
          val more = op.it.hasNext
          if (!more) op.releasePermit() // drained: statement is done
          sb.append(s"""],"hasMoreRows":$more}""")
        }
        respond(ex, 200, sb.toString)
      }
    }

  /** Doris-style bulk ingest (`PUT /api/v1/{db}/{table}/_stream_load`,
    * the reference Doris deployment's everyday INGEST surface —
    * internal/controller/doris.go; its query surface is the MySQL
    * wire, C38): the request BODY is the data (CSV by default, `format:
    * json` = JSONL), parsed against the table's own schema, and the
    * mandatory `label` header is the exactly-once transaction label —
    * the load commits through [[graft.sources.LakeTable.appendOnce]]
    * keyed by the label, so a retried/replayed load with the same
    * label is a no-op answered `Label Already Exists` (Doris's
    * semantics; two concurrent twins can never both land — the claim
    * race arbitrates). Grants (MODIFY on the table), admission permits
    * and the audit trail are the same control plane as every other
    * wire. `{db}` may be `catalog.namespace` or a bare namespace in
    * the session's current catalog.
    *
    * Headers: `label` (required), `format` csv|json (default csv),
    * `column_separator` (default ","). Response (Doris-shaped):
    * `{"Status":"Success"|"Label Already Exists","Label","TxnId",
    * "NumberLoadedRows"}`.
    */
  private def streamLoad(parent: SparkSession, ex: HttpExchange, user: String,
      db: String, table: String): Unit = {
    import graft.sources.LakeTable
    val label = Option(ex.getRequestHeaders.getFirst("label"))
      .map(_.trim).filter(_.nonEmpty).getOrElse {
        err(ex, 400, "label header required (the exactly-once txn label)"); return
      }
    val format = Option(ex.getRequestHeaders.getFirst("format"))
      .map(_.toLowerCase).getOrElse("csv")
    if (format != "csv" && format != "json") {
      err(ex, 400, s"unsupported format '$format' (csv | json)"); return
    }
    val sep = Option(ex.getRequestHeaders.getFirst("column_separator")).getOrElse(",")
    // The admission permit is taken BEFORE the body is read: the body
    // buffers in driver memory (bounded below), so buffering must be
    // bounded by the per-principal in-flight cap too — N concurrent
    // PUTs from one principal hold at most cap × maxBytes, and a
    // principal the grant check will refuse never gets to buffer at
    // all (the check runs before the read as well).
    if (!ConnectAuth.tryAcquire(user)) {
      GraftAudit.record(user, "INGEST", s"$db.$table", "deny")
      err(ex, 429,
        "RESOURCE_EXHAUSTED: per-principal in-flight statement cap reached")
      return
    }
    try {
      // a per-load session pins the wire identity without racing other
      // requests on the parent's conf (same stance as openSession)
      val sess = GraftSession.childSession(parent, user)
      val (catName, ns) = db.split('.') match {
        case Array(c, n) => (c, n)
        case _ => (sess.sessionState.catalogManager.currentCatalog.name(), db)
      }
      // resolve the plugin through the PARENT's manager: a fresh
      // newSession materializes catalog plugins lazily on first SQL,
      // while the parent has them loaded; the store both point at is
      // the same deployment root either way
      parent.sessionState.catalogManager.catalog(catName) match {
        case g: graft.sources.GraftCatalog =>
          GraftAuthz.requireModify(sess, ns, table)
          val loc = g.catalogStore.tableLocation(sess, ns, table).getOrElse {
            err(ex, 404, s"no table $db.$table"); return
          }
          val appId = s"rest-stream-load:$ns.$table:$label"
          // a replayed label is a no-op: answer it without even
          // reading (let alone parsing) the body — appendOnce below
          // still re-checks, so a twin racing this fast path is safe
          if (LakeTable.txnVersion(sess, loc, appId).isDefined) {
            GraftAudit.record(user, "INGEST", s"$ns.$table", "dup")
            respond(ex, 200,
              s"""{"Status":"Label Already Exists","Label":${jstr(label)}}""")
            return
          }
          // Bounded ingest: the body lands in driver memory before it
          // distributes, so an unbounded PUT would be a driver OOM any
          // authenticated client could trigger — the MySQL wire's
          // max_allowed_packet stance (Doris: streaming_load_max_mb).
          // Oversized loads answer 413: split into more labeled loads.
          if (Option(ex.getRequestHeaders.getFirst("Content-Length"))
              .flatMap(_.toLongOption).exists(_ > StreamLoadMaxBytes)) {
            err(ex, 413, s"stream load body exceeds $StreamLoadMaxBytes bytes; " +
              "split into multiple labeled loads")
            return
          }
          val body = readBodyBounded(ex, StreamLoadMaxBytes) match {
            case Some(b) => b
            case None =>
              err(ex, 413, s"stream load body exceeds $StreamLoadMaxBytes bytes; " +
                "split into multiple labeled loads")
              return
          }
          val schema = LakeTable.tableSchema(sess, loc)
          import sess.implicits._
          val lines = sess.createDataset(
            body.split('\n').iterator.map(_.stripSuffix("\r")).filter(_.nonEmpty).toSeq)
          // FAILFAST: a malformed row refuses the WHOLE load — a
          // labeled load is a transaction, not a best-effort trickle.
          // Cached so the count (which also surfaces parse errors
          // BEFORE anything stages) and the append parse once.
          val df = (format match {
            case "csv" => sess.read.schema(schema)
              .option("sep", sep).option("mode", "FAILFAST").csv(lines)
            case _ => sess.read.schema(schema)
              .option("mode", "FAILFAST").json(lines)
          }).cache()
          try {
            val n = df.count()
            val landed = LakeTable.appendOnce(sess, loc, df,
              appId = appId, appVersion = 0L)
            GraftAudit.record(user, "INGEST", s"$ns.$table", if (landed) "ok" else "dup")
            if (landed) {
              val txn = LakeTable.currentVersion(sess, loc).getOrElse(-1L)
              respond(ex, 200, s"""{"Status":"Success","Label":${jstr(label)},""" +
                s""""TxnId":$txn,"NumberLoadedRows":$n}""")
            } else
              respond(ex, 200,
                s"""{"Status":"Label Already Exists","Label":${jstr(label)}}""")
          } finally df.unpersist()
        case other =>
          err(ex, 400, s"catalog '${other.name()}' is not a graft catalog")
      }
    } catch {
      case e: GraftAuthz.AccessDenied => err(ex, 403, e.getMessage)
      case e: Exception =>
        err(ex, 400, s"""stream load failed: ${
          Option(e.getMessage).getOrElse(e.toString).take(1500)}""")
    } finally ConnectAuth.release(user)
  }

  private def closeOp(ex: HttpExchange, user: String, id: String): Unit =
    Option(ops.get(id)) match {
      case None => err(ex, 404, "no such operation")
      case Some(op) => owned(ex, user, op.user) {
        closeOrDefer(id, op)
        respond(ex, 200, "{}")
      }
    }

  private def cellText(v: Any): String = v match {
    case b: Array[Byte] => new String(b, UTF_8)
    case s: Seq[_] => s.map(cellText).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${cellText(k)}:${cellText(x)}" }.mkString("{", ",", "}")
    case other => String.valueOf(other)
  }
}
