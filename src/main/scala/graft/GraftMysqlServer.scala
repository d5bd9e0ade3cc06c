package graft

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

/** MySQL-protocol SQL frontend — the reference's Doris serving wire
  * (reference internal/controller/doris.go: the FE serves clients on
  * the MySQL protocol, `NineInfraSupportedOlapList`), re-expressed as
  * a thin wire adapter over the SAME engine session, identity, grant,
  * audit and admission machinery the gRPC and Thrift gateways share:
  *
  *   - **Protocol**: server greeting v10 + HandshakeResponse41 +
  *     text-protocol result sets (COM_QUERY / COM_PING / COM_INIT_DB /
  *     COM_QUIT) AND the binary protocol (COM_STMT_PREPARE / EXECUTE /
  *     CLOSE / RESET with `?` placeholders, typed binary parameter
  *     decoding and typed binary row encoding — what connectors and BI
  *     tools issue via PreparedStatement), per the public MySQL
  *     client/server protocol — no SSL, no DEPRECATE_EOF, classic
  *     EOF-terminated result sets, the lowest common denominator every
  *     connector still speaks. Prepared parameters bind through
  *     Spark's own positional parameterized SQL (`sql(text, args)`),
  *     never string splicing — the wire is injection-safe by
  *     construction.
  *   - **Auth (C22)**: when `ConnectAuth.enable` has configured a
  *     credential query, the server AuthSwitches the client to
  *     `mysql_clear_text_password` and validates the cleartext token
  *     through the SAME query that gates gRPC and Thrift logins (the
  *     native challenge-response plugin would require storing
  *     SHA1(SHA1(token)) server-side, which the shared credential
  *     table deliberately does not — cleartext-over-loopback is the
  *     Kyuubi JDBC-auth trade, documented, not hidden).
  *   - **Identity (C24/C27/C28)**: each connection runs on its own
  *     `newSession()` with `spark.graft.sql.user` pinned to the
  *     authenticated login. The wire NEVER forwards SET statements to
  *     the engine (they are acknowledged and dropped, MySQL-session-
  *     variable style), so a client cannot re-point the identity conf
  *     — the same non-spoofability stance as ThriftGlue's SASL
  *     binding, reached by construction instead of reflection.
  *   - **Admission (C30)**: each COM_QUERY passes through
  *     ConnectAuth's per-principal in-flight gate; over-cap queries
  *     fail fast with the MySQL "too many connections" error carrying
  *     the RESOURCE_EXHAUSTED marker, and are audited.
  *
  * Rows stream through `toLocalIterator` — the wire never holds a
  * whole result in driver memory (same stance as the Thrift leg).
  */
object GraftMysqlServer {

  // capability bits (public protocol constants)
  private val CLIENT_LONG_PASSWORD = 0x00000001L
  private val CLIENT_CONNECT_WITH_DB = 0x00000008L
  private val CLIENT_PROTOCOL_41 = 0x00000200L
  private val CLIENT_SECURE_CONNECTION = 0x00008000L
  private val CLIENT_PLUGIN_AUTH = 0x00080000L
  private val CLIENT_PLUGIN_AUTH_LENENC = 0x00200000L

  private val ServerCaps: Long =
    CLIENT_LONG_PASSWORD | CLIENT_CONNECT_WITH_DB | CLIENT_PROTOCOL_41 |
      CLIENT_SECURE_CONNECTION | CLIENT_PLUGIN_AUTH

  @volatile private var server: Option[ServerSocket] = None
  private val connIds = new java.util.concurrent.atomic.AtomicInteger(1)

  def started: Boolean = server.isDefined

  /** Start the MySQL endpoint (default 9030 — the Doris FE query
    * port; 0 binds an ephemeral one) and return the bound port.
    * Idempotent; daemon accept loop for the JVM's lifetime, like the
    * Thrift endpoint.
    */
  def start(spark: SparkSession, port: Int = 9030,
      bindHost: String = "localhost"): Int = synchronized {
    if (server.isDefined) return server.get.getLocalPort
    val ss = new ServerSocket(port, 50, java.net.InetAddress.getByName(bindHost))
    server = Some(ss)
    val acceptor = new Thread(() => {
      try while (!ss.isClosed) {
        val sock = ss.accept()
        val t = new Thread(() => handle(spark, sock),
          s"graft-mysql-conn-${connIds.getAndIncrement()}")
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () /* closed */ }
    }, "graft-mysql-acceptor")
    acceptor.setDaemon(true)
    acceptor.start()
    ss.getLocalPort
  }

  /** Stop accepting (test hygiene; live connections drain on close). */
  def stop(): Unit = synchronized {
    server.foreach(s => try s.close() catch { case _: Exception => () })
    server = None
  }

  // ---- packet framing ----------------------------------------------

  /** Max packet payload (3-byte length field): the protocol's split
    * threshold for both directions.
    */
  private val MaxChunk = 0xFFFFFF

  /** Upper bound on a merged multi-chunk command payload — MySQL's own
    * max_allowed_packet stance (server default 64MB). The merge loop
    * runs PRE-AUTH (the handshake response is framed the same way), so
    * without a cap a client could stream max-size continuation chunks
    * forever and OOM the driver heap.
    */
  private[graft] val MaxAllowedPacket = 64 * 1024 * 1024

  private[graft] final class PacketTooLarge
    extends java.io.IOException("packet exceeds max_allowed_packet")

  private final class PacketIO(in: InputStream, out: OutputStream) {
    var seq: Int = 0

    def read(): Array[Byte] = {
      // A payload of exactly 0xFFFFFF announces a continuation packet
      // (possibly empty) — the public >16MB framing rule. Merge here so
      // a multi-megabyte COM_QUERY (bulk INSERT text) arrives whole.
      var merged: java.io.ByteArrayOutputStream = null
      while (true) {
        val hdr = readFully(4)
        val len = (hdr(0) & 0xFF) | ((hdr(1) & 0xFF) << 8) | ((hdr(2) & 0xFF) << 16)
        seq = (hdr(3) & 0xFF) + 1
        val chunk = readFully(len)
        if (merged == null && len < MaxChunk) return chunk
        if (merged == null) merged = new java.io.ByteArrayOutputStream()
        if (merged.size().toLong + len > MaxAllowedPacket) throw new PacketTooLarge
        merged.write(chunk)
        if (len < MaxChunk) return merged.toByteArray
      }
      throw new IllegalStateException("unreachable")
    }

    private def readFully(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) throw new EOFException("client closed")
        off += r
      }
      buf
    }

    def write(payload: Array[Byte]): Unit = {
      // Payloads cap at 0xFFFFFF bytes per packet; a longer one (a
      // document-scale text cell in one row packet) splits into
      // max-size chunks, and an exactly-max chunk MUST be followed by
      // the next (possibly empty) one — without the empty terminator a
      // 16MB-aligned row deadlocks every conforming client.
      var off = 0
      var done = false
      while (!done) {
        val n = math.min(payload.length - off, MaxChunk)
        out.write(n & 0xFF)
        out.write((n >> 8) & 0xFF)
        out.write((n >> 16) & 0xFF)
        out.write(seq & 0xFF)
        seq += 1
        out.write(payload, off, n)
        off += n
        done = n < MaxChunk
      }
    }

    def flush(): Unit = out.flush()
  }

  private final class Packet {
    private val b = new java.io.ByteArrayOutputStream()
    def u1(v: Int): Packet = { b.write(v & 0xFF); this }
    def u2(v: Int): Packet = { u1(v); u1(v >> 8) }
    def u4(v: Long): Packet = { u2(v.toInt); u2((v >> 16).toInt) }
    def u8(v: Long): Packet = { u4(v); u4(v >>> 32) }
    def raw(a: Array[Byte]): Packet = { b.write(a); this }
    def str(s: String): Packet = raw(s.getBytes(UTF_8))
    def strNul(s: String): Packet = { str(s); u1(0) }
    def lenenc(v: Long): Packet =
      if (v < 251) u1(v.toInt)
      else if (v < 65536) { u1(0xFC); u2(v.toInt) }
      else if (v < 16777216) { u1(0xFD); u1(v.toInt); u1((v >> 8).toInt); u1((v >> 16).toInt) }
      else { u1(0xFE); u4(v); u4(v >> 32) }
    def lenencStr(s: String): Packet = {
      val a = s.getBytes(UTF_8); lenenc(a.length.toLong); raw(a)
    }
    def bytes: Array[Byte] = b.toByteArray
  }

  private def okPacket(): Array[Byte] =
    new Packet().u1(0x00).lenenc(0).lenenc(0).u2(0x0002).u2(0).bytes

  private def eofPacket(): Array[Byte] =
    new Packet().u1(0xFE).u2(0).u2(0x0002).bytes

  private def errPacket(code: Int, sqlState: String, msg: String): Array[Byte] =
    new Packet().u1(0xFF).u2(code).u1('#').str(sqlState.take(5).padTo(5, '0'))
      .str(msg.take(2000)).bytes

  // ---- handshake ----------------------------------------------------

  private def greeting(connId: Int, scramble: Array[Byte]): Array[Byte] = {
    val p = new Packet()
    p.u1(0x0A).strNul("8.0.33-graft").u4(connId.toLong)
    p.raw(scramble.take(8)).u1(0)
    p.u2((ServerCaps & 0xFFFF).toInt)
    p.u1(33 /* utf8_general_ci */).u2(0x0002)
    p.u2(((ServerCaps >> 16) & 0xFFFF).toInt)
    p.u1(21).raw(new Array[Byte](10))
    p.raw(scramble.drop(8).take(12)).u1(0)
    p.strNul("mysql_native_password")
    p.bytes
  }

  /** HandshakeResponse41 fields this adapter needs: capabilities and
    * the username (the auth payload is superseded by the cleartext
    * AuthSwitch when credentials are enforced).
    */
  private def parseHandshakeResponse(payload: Array[Byte]): (Long, String) = {
    val caps = (payload(0) & 0xFFL) | ((payload(1) & 0xFFL) << 8) |
      ((payload(2) & 0xFFL) << 16) | ((payload(3) & 0xFFL) << 24)
    var i = 4 + 4 + 1 + 23 // max-packet, charset, reserved
    val s = i
    while (i < payload.length && payload(i) != 0) i += 1
    val user = new String(payload, s, i - s, UTF_8)
    (caps, user)
  }

  // ---- per-connection loop -----------------------------------------

  private def handle(parent: SparkSession, sock: Socket): Unit = {
    var io: PacketIO = null
    try {
      sock.setTcpNoDelay(true)
      io = new PacketIO(new BufferedInputStream(sock.getInputStream),
        new BufferedOutputStream(sock.getOutputStream))
      val scramble = new Array[Byte](20)
      new java.util.Random(System.nanoTime()).nextBytes(scramble)
      scramble.indices.foreach(i => if (scramble(i) == 0) scramble(i) = 1)
      io.write(greeting(connIds.get(), scramble)); io.flush()
      val (clientCaps, user0) = parseHandshakeResponse(io.read())
      if ((clientCaps & CLIENT_PROTOCOL_41) == 0) {
        // The pre-4.1 HandshakeResponse320 has a DIFFERENT layout —
        // parsing it as 41 would yield a garbage username. Refuse
        // cleanly instead (every maintained connector speaks 4.1+).
        io.write(errPacket(1043, "08S01",
          "graft mysql endpoint requires CLIENT_PROTOCOL_41"))
        io.flush()
        return
      }
      val user = if (user0.isEmpty) "anonymous" else user0
      if (ConnectAuth.required) {
        // AuthSwitch to cleartext: validated by the shared credential
        // query (see object doc for why not the native SHA1 dance)
        io.write(new Packet().u1(0xFE).strNul("mysql_clear_text_password")
          .strNul("").bytes)
        io.flush()
        val tokenRaw = io.read()
        val token = new String(
          if (tokenRaw.nonEmpty && tokenRaw.last == 0) tokenRaw.dropRight(1)
          else tokenRaw, UTF_8)
        if (!ConnectAuth.check(user, token)) {
          GraftAudit.record(user, "LOGIN", "mysql-wire", "deny")
          io.write(errPacket(1045, "28000",
            s"Access denied for user '$user' (graft mysql endpoint)"))
          io.flush()
          return
        }
      }
      io.write(okPacket()); io.flush()

      // identity-bound engine session: the login is pinned — and the
      // wire never forwards SET, so it STAYS pinned
      val sess = GraftSession.childSession(parent, user)

      val stmts = new StmtRegistry
      var open = true
      while (open) {
        io.seq = 0
        val cmd = io.read()
        if (cmd.isEmpty) { io.write(errPacket(1064, "42000", "empty command")); io.flush() }
        else (cmd(0) & 0xFF) match {
          case 0x01 => open = false // COM_QUIT
          case 0x0E => io.write(okPacket()); io.flush() // COM_PING
          case 0x02 => // COM_INIT_DB
            val db = new String(cmd, 1, cmd.length - 1, UTF_8)
            try { sess.sql(s"USE $db"); io.write(okPacket()) }
            catch { case e: Exception =>
              io.write(errPacket(1049, "42000", e.getMessage)) }
            io.flush()
          case 0x03 => // COM_QUERY
            runQuery(sess, user, new String(cmd, 1, cmd.length - 1, UTF_8), io)
            io.flush()
          case 0x16 => // COM_STMT_PREPARE
            stmtPrepare(stmts, new String(cmd, 1, cmd.length - 1, UTF_8), io)
            io.flush()
          case 0x17 => // COM_STMT_EXECUTE
            stmtExecute(sess, user, stmts, cmd, io)
            io.flush()
          case 0x19 => // COM_STMT_CLOSE — no response, per protocol
            stmts.close(leU4(cmd, 1).toInt)
          case 0x18 => // COM_STMT_SEND_LONG_DATA — no response, per protocol.
            // We don't accumulate the chunks; mark the statement so the
            // following EXECUTE answers a clean ERR instead of binding a
            // short value. Writing anything here would desync the client
            // (the unsolicited packet reads as the NEXT command's reply).
            stmts.get(leU4(cmd, 1).toInt).foreach(_.longDataPending = true)
          case 0x1A => // COM_STMT_RESET — discards accumulated long data
            stmts.get(leU4(cmd, 1).toInt).foreach(_.longDataPending = false)
            io.write(okPacket()); io.flush()
          case other =>
            io.write(errPacket(1047, "08S01", f"unsupported command 0x$other%02x"))
            io.flush()
        }
      }
    } catch {
      case _: PacketTooLarge =>
        // MySQL's own stance (ER_NET_PACKET_TOO_LARGE): best-effort ERR,
        // then drop the connection — never buffer past the cap.
        if (io != null) {
          try { io.write(errPacket(1153, "08S01",
            "Got a packet bigger than 'max_allowed_packet' bytes")); io.flush() }
          catch { case _: Exception => () }
        }
      case _: EOFException => ()
      case _: java.net.SocketException => ()
      case e: Exception =>
        System.err.println(s"[graft-mysql] connection error: ${e.toString.take(200)}")
    } finally { try sock.close() catch { case _: Exception => () } }
  }

  // ---- COM_QUERY ----------------------------------------------------

  private val SwallowRe =
    "(?is)^\\s*(SET|BEGIN|COMMIT|ROLLBACK|START\\s+TRANSACTION)\\b.*".r.pattern
  private val SysVarRe =
    "(?is)^\\s*SELECT\\s+(@@[\\w.]+(?:\\s*,\\s*@@[\\w.]+)*)\\s*(LIMIT\\s+\\d+)?\\s*$".r

  private def runQuery(sess: SparkSession, user: String, sqlRaw: String,
      io: PacketIO): Unit = {
    val sql = sqlRaw.trim.stripSuffix(";").trim
    // MySQL session chatter: acknowledged, never forwarded — this is
    // also what makes the identity conf unspoofable over this wire
    if (SwallowRe.matcher(sql).matches()) { io.write(okPacket()); return }
    // connector greeting probes (SELECT @@version_comment LIMIT 1 ...)
    sql match {
      case SysVarRe(vars, _) =>
        val names = vars.split(",").map(_.trim)
        val values = names.map { n =>
          n.stripPrefix("@@").toLowerCase match {
            case "version" | "version_comment" => "8.0.33-graft"
            case "max_allowed_packet" => MaxAllowedPacket.toString
            case "sql_mode" | "character_set_client" | "collation_connection" => ""
            case "autocommit" => "1"
            case _ => "0"
          }
        }
        writeResultHeader(io, names.map(n => (n, "string")))
        io.write(names.indices.foldLeft(new Packet()) { (p, i) =>
          p.lenencStr(values(i)) }.bytes)
        io.write(eofPacket())
        return
      case _ => ()
    }
    val engineSql = sql match {
      case s if s.matches("(?is)^SHOW\\s+DATABASES\\s*$") => "SHOW NAMESPACES"
      case s => s
    }
    if (!ConnectAuth.tryAcquire(user)) {
      GraftAudit.record(user, "EXECUTE", "mysql-wire", "deny")
      io.write(errPacket(1040, "08004",
        "RESOURCE_EXHAUSTED: per-principal in-flight statement cap reached"))
      return
    }
    try {
      val df = sess.sql(engineSql)
      val schema = df.schema
      if (schema.isEmpty) { df.collect(); io.write(okPacket()); return }
      writeResultHeader(io, schema.fields.map(f =>
        (f.name, f.dataType.typeName)))
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val p = new Packet()
        schema.indices.foreach { i =>
          if (row.isNullAt(i)) p.u1(0xFB)
          else p.lenencStr(textOf(row.get(i)))
        }
        io.write(p.bytes)
      }
      io.write(eofPacket())
    } catch {
      case e: GraftAuthz.AccessDenied =>
        io.write(errPacket(1142, "42000", e.getMessage))
      case e: Exception =>
        io.write(errPacket(1064, "42000",
          Option(e.getMessage).getOrElse(e.toString).take(1500)))
    } finally ConnectAuth.release(user)
  }

  // ---- binary protocol: COM_STMT_PREPARE / EXECUTE -------------------

  /** Per-connection prepared-statement registry. Statement ids are
    * connection-scoped (the protocol's scoping), so no cross-tenant
    * handle confusion is possible by construction.
    */
  private final class StmtRegistry {
    private val m = new java.util.HashMap[Int, PreparedStmt]()
    private var next = 1
    /** Bounded like MySQL's max_prepared_stmt_count: an authenticated
      * client looping PREPARE must not grow driver memory without limit.
      * Returns -1 when full (caller answers ER 1461).
      */
    def add(sql: String, nParams: Int): Int = {
      if (m.size >= MaxPreparedStmts) -1
      else { val id = next; next += 1; m.put(id, new PreparedStmt(sql, nParams)); id }
    }
    def get(id: Int): Option[PreparedStmt] = Option(m.get(id))
    def close(id: Int): Unit = m.remove(id)
  }

  private[graft] val MaxPreparedStmts = 1024

  private final class PreparedStmt(val sql: String, val nParams: Int) {
    /** Parameter types from the last new-params-bound EXECUTE — a
      * conforming client may send new_params_bound_flag=0 on
      * re-execute and the previous types apply.
      */
    var types: Array[Int] = Array.empty
    /** Set by COM_STMT_SEND_LONG_DATA (which we consume but don't
      * accumulate); cleared by COM_STMT_RESET. EXECUTE refuses while set.
      */
    var longDataPending: Boolean = false
  }

  /** `?` placeholders outside quoted strings / identifiers / `--` and
    * `#` line comments / `/ * * /` block comments — the prepare-time
    * parameter count. A `?` inside any comment must NOT count: the
    * client binds exactly num_params values, and an inflated count
    * desyncs the null-bitmap/type/value decode in stmtExecute.
    */
  private[graft] def paramCount(sql: String): Int = {
    var n = 0; var i = 0; var q: Char = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (q != 0) {
        if (c == q) q = 0
        else if (c == '\\' && q != '`') i += 1 // escape inside a string
      } else c match {
        case '\'' | '"' | '`' => q = c
        case '?' => n += 1
        case '-' if i + 1 < sql.length && sql.charAt(i + 1) == '-' =>
          while (i < sql.length && sql.charAt(i) != '\n') i += 1
        case '#' =>
          while (i < sql.length && sql.charAt(i) != '\n') i += 1
        case '/' if i + 1 < sql.length && sql.charAt(i + 1) == '*' =>
          i += 2
          while (i + 1 < sql.length &&
            !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) i += 1
          i += 1 // lands on '/', loop increment steps past it
        case _ => ()
      }
      i += 1
    }
    n
  }

  private def leU2(a: Array[Byte], at: Int): Int =
    (a(at) & 0xFF) | ((a(at + 1) & 0xFF) << 8)

  private def leU4(a: Array[Byte], at: Int): Long =
    (a(at) & 0xFFL) | ((a(at + 1) & 0xFFL) << 8) |
      ((a(at + 2) & 0xFFL) << 16) | ((a(at + 3) & 0xFFL) << 24)

  private def leU8(a: Array[Byte], at: Int): Long =
    (0 until 8).map(i => (a(at + i) & 0xFFL) << (8 * i)).reduce(_ | _)

  private def leLenenc(a: Array[Byte], at: Int): (Long, Int) =
    (a(at) & 0xFF) match {
      case 0xFC => (leU2(a, at + 1).toLong, at + 3)
      case 0xFD => (leU4(a, at + 1) & 0xFFFFFFL, at + 4)
      case 0xFE => (leU8(a, at + 1), at + 9)
      case v => (v.toLong, at + 1)
    }

  /** COM_STMT_PREPARE: register the text, answer STMT_PREPARE_OK with
    * the parameter count. Column count is reported 0 here and the real
    * result-set metadata travels in the EXECUTE response (the
    * protocol's self-describing form) — analyzing placeholder SQL
    * without bound values would require fabricating a schema.
    */
  private def stmtPrepare(stmts: StmtRegistry, sql: String, io: PacketIO): Unit = {
    val np = paramCount(sql)
    val id = stmts.add(sql, np)
    if (id < 0) {
      io.write(errPacket(1461, "42000",
        s"Can't create more than max_prepared_stmt_count statements (current value: $MaxPreparedStmts)"))
      return
    }
    io.write(new Packet().u1(0x00).u4(id.toLong).u2(0).u2(np).u1(0).u2(0).bytes)
    if (np > 0) {
      (1 to np).foreach { i =>
        io.write(new Packet()
          .lenencStr("def").lenencStr("").lenencStr("").lenencStr("")
          .lenencStr(s"?$i").lenencStr(s"?$i")
          .u1(0x0C).u2(33).u4(65535L).u1(0xFD).u2(0).u1(0).u2(0).bytes)
      }
      io.write(eofPacket())
    }
  }

  /** One binary parameter value at `at`, per the client-supplied type
    * code (low byte; 0x8000 = unsigned). Returns the decoded JVM value
    * (what Spark's positional parameter binder accepts as a literal)
    * and the next offset.
    */
  private def decodeBinaryValue(a: Array[Byte], at: Int, tpe: Int): (Any, Int) = {
    val unsigned = (tpe & 0x8000) != 0
    def packedDateTime(): (Any, Int) = {
      val len = a(at) & 0xFF
      if (len == 0) (java.time.LocalDateTime.of(1970, 1, 1, 0, 0), at + 1)
      else {
        val y = leU2(a, at + 1); val mo = a(at + 3) & 0xFF; val d = a(at + 4) & 0xFF
        val (h, mi, s) = if (len >= 7) ((a(at + 5) & 0xFF), (a(at + 6) & 0xFF), (a(at + 7) & 0xFF)) else (0, 0, 0)
        val us = if (len >= 11) leU4(a, at + 8) else 0L
        (java.time.LocalDateTime.of(y, mo, d, h, mi, s, us.toInt * 1000), at + 1 + len)
      }
    }
    (tpe & 0xFF) match {
      case 0x01 => (if (unsigned) (a(at) & 0xFF) else a(at).toInt, at + 1) // TINY
      case 0x02 | 0x0D => // SHORT / YEAR
        val v = leU2(a, at); (if (unsigned) v else v.toShort.toInt, at + 2)
      case 0x03 | 0x09 => // LONG / INT24
        val v = leU4(a, at); (if (unsigned) v else v.toInt, at + 4)
      case 0x08 => // LONGLONG — unsigned values above Long.MAX must not bind negative
        val v = leU8(a, at)
        val decoded: Any =
          if (unsigned && v < 0) new java.math.BigDecimal(java.lang.Long.toUnsignedString(v))
          else v
        (decoded, at + 8)
      case 0x04 => (java.lang.Float.intBitsToFloat(leU4(a, at).toInt), at + 4)
      case 0x05 => (java.lang.Double.longBitsToDouble(leU8(a, at)), at + 8)
      case 0x0A => // DATE
        val len = a(at) & 0xFF
        if (len == 0) (java.time.LocalDate.of(1970, 1, 1), at + 1)
        else (java.time.LocalDate.of(leU2(a, at + 1), a(at + 3) & 0xFF, a(at + 4) & 0xFF),
          at + 1 + len)
      case 0x07 | 0x0C => packedDateTime() // TIMESTAMP / DATETIME
      case 0x0B => // TIME: len(0|8|12), neg u1, days u4, h u1, m u1, s u1[, us u4]
        // MySQL TIME is an elapsed time (range ±838:59:59, days allowed),
        // and Spark's TIME type is gated off in 4.1 (UNSUPPORTED_TIME_TYPE)
        // — bind as a day-time interval, the honest engine-side mapping.
        val len = a(at) & 0xFF
        if (len == 0) (java.time.Duration.ZERO, at + 1)
        else {
          val neg = (a(at + 1) & 0xFF) == 1
          val days = leU4(a, at + 2)
          val h = a(at + 6) & 0xFF; val mi = a(at + 7) & 0xFF; val s = a(at + 8) & 0xFF
          val us = if (len >= 12) leU4(a, at + 9) else 0L
          val d = java.time.Duration.ofDays(days).plusHours(h)
            .plusMinutes(mi).plusSeconds(s).plusNanos(us * 1000)
          (if (neg) d.negated() else d, at + 1 + len)
        }
      case 0xF6 => // NEWDECIMAL travels as a lenenc string
        val (n, i) = leLenenc(a, at)
        (new java.math.BigDecimal(new String(a, i, n.toInt, UTF_8)), i + n.toInt)
      // the lenenc-string family, explicitly: VARCHAR / VAR_STRING /
      // STRING / the BLOBs / JSON / BIT / ENUM / SET / GEOMETRY
      case 0x0F | 0xFD | 0xFE | 0xFC | 0xF9 | 0xFA | 0xFB | 0xF5 | 0x10 | 0xF7 | 0xF8 | 0xFF =>
        val (n, i) = leLenenc(a, at)
        (new String(a, i, n.toInt, UTF_8), i + n.toInt)
      case other =>
        // an unknown code must NOT fall through to the string decoder:
        // the misread length byte silently binds garbage while keeping
        // offsets aligned. Refuse the whole EXECUTE instead.
        throw new UnsupportedParamType(other)
    }
  }

  private final class UnsupportedParamType(val code: Int)
    extends Exception(f"unsupported binary parameter type 0x$code%02x")

  /** COM_STMT_EXECUTE: decode the null bitmap + typed binary values,
    * bind through Spark's positional parameterized SQL (never string
    * splicing), and answer a BINARY result set — same admission /
    * authorization / audit path as COM_QUERY.
    */
  private def stmtExecute(sess: SparkSession, user: String, stmts: StmtRegistry,
      cmd: Array[Byte], io: PacketIO): Unit = {
    val id = leU4(cmd, 1).toInt
    stmts.get(id) match {
      case None =>
        io.write(errPacket(1243, "HY000", s"unknown prepared statement handler ($id)"))
      case Some(ps) =>
        if (ps.longDataPending) {
          // SEND_LONG_DATA chunks were consumed but not stored; binding
          // a truncated value would be silent corruption. RESET clears.
          io.write(errPacket(1210, "HY000",
            "long data was sent for this statement but is not supported; COM_STMT_RESET to reuse"))
          return
        }
        var at = 10 // cmd: 0x17, stmt_id u4, flags u1, iteration_count u4
        var args: Array[Any] = Array.empty
        if (ps.nParams > 0) {
          val nb = (ps.nParams + 7) / 8
          val nullBitmap = java.util.Arrays.copyOfRange(cmd, at, at + nb); at += nb
          val bound = cmd(at) & 0xFF; at += 1
          if (bound == 1) {
            ps.types = Array.tabulate(ps.nParams)(i => leU2(cmd, at + 2 * i))
            at += 2 * ps.nParams
          }
          if (ps.types.length != ps.nParams) {
            io.write(errPacket(1210, "HY000", "parameter types were never bound"))
            return
          }
          try {
            args = Array.tabulate[Any](ps.nParams) { i =>
              if ((nullBitmap(i / 8) & (1 << (i % 8))) != 0) null
              else { val (v, next) = decodeBinaryValue(cmd, at, ps.types(i)); at = next; v }
            }
          } catch {
            case e: UnsupportedParamType =>
              io.write(errPacket(1210, "HY000", e.getMessage)); return
          }
        }
        if (!ConnectAuth.tryAcquire(user)) {
          GraftAudit.record(user, "EXECUTE", "mysql-wire", "deny")
          io.write(errPacket(1040, "08004",
            "RESOURCE_EXHAUSTED: per-principal in-flight statement cap reached"))
          return
        }
        try {
          val df = if (args.isEmpty) sess.sql(ps.sql) else sess.sql(ps.sql, args)
          val schema = df.schema
          if (schema.isEmpty) { df.collect(); io.write(okPacket()); return }
          writeResultHeader(io, schema.fields.map(f => (f.name, f.dataType.typeName)))
          val it = df.toLocalIterator()
          while (it.hasNext) io.write(binaryRow(schema, it.next()))
          io.write(eofPacket())
        } catch {
          case e: GraftAuthz.AccessDenied =>
            io.write(errPacket(1142, "42000", e.getMessage))
          case e: Exception =>
            io.write(errPacket(1064, "42000",
              Option(e.getMessage).getOrElse(e.toString).take(1500)))
        } finally ConnectAuth.release(user)
    }
  }

  /** One binary-protocol row: 0x00 header, null bitmap (offset 2),
    * then each non-null value in the binary encoding of the TYPE THE
    * COLUMN DEFINITION DECLARED — the two must agree or every client
    * misparses the row.
    */
  private def binaryRow(schema: org.apache.spark.sql.types.StructType,
      row: org.apache.spark.sql.Row): Array[Byte] = {
    val n = schema.length
    val bitmap = new Array[Byte]((n + 7 + 2) / 8)
    (0 until n).foreach { i =>
      if (row.isNullAt(i)) {
        val b = i + 2
        bitmap(b / 8) = (bitmap(b / 8) | (1 << (b % 8))).toByte
      }
    }
    val p = new Packet().u1(0x00).raw(bitmap)
    (0 until n).foreach { i =>
      if (!row.isNullAt(i)) binaryCell(p, row.get(i), schema(i).dataType.typeName)
    }
    p.bytes
  }

  private def binaryCell(p: Packet, v: Any, tpe: String): Unit = tpe match {
    case "byte" | "boolean" =>
      p.u1(v match { case b: Boolean => if (b) 1 else 0; case b: Byte => b.toInt; case o => String.valueOf(o).toInt })
      ()
    case "short" => p.u2(v.asInstanceOf[Short].toInt); ()
    case "integer" => p.u4(v.asInstanceOf[Int].toLong & 0xFFFFFFFFL); ()
    case "long" | "bigint" => p.u8(v.asInstanceOf[Long]); ()
    case "float" =>
      p.u4(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong & 0xFFFFFFFFL); ()
    case "double" =>
      p.u8(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])); ()
    case "date" =>
      val ld = v match {
        case d: java.sql.Date => d.toLocalDate
        case d: java.time.LocalDate => d
        case o => java.time.LocalDate.parse(String.valueOf(o))
      }
      p.u1(4).u2(ld.getYear).u1(ld.getMonthValue).u1(ld.getDayOfMonth); ()
    case t if t.startsWith("timestamp") =>
      val ldt = v match {
        case ts: java.sql.Timestamp => ts.toLocalDateTime
        case ts: java.time.LocalDateTime => ts
        case ts: java.time.Instant =>
          java.time.LocalDateTime.ofInstant(ts, java.time.ZoneId.systemDefault())
        case o => java.time.LocalDateTime.parse(String.valueOf(o).replace(' ', 'T'))
      }
      p.u1(11).u2(ldt.getYear).u1(ldt.getMonthValue).u1(ldt.getDayOfMonth)
        .u1(ldt.getHour).u1(ldt.getMinute).u1(ldt.getSecond)
        .u4(ldt.getNano / 1000L); ()
    case _ => // NEWDECIMAL and every string-declared type: lenenc text
      p.lenencStr(textOf(v)); ()
  }

  /** Column-count packet + one column-definition packet per field +
    * EOF — the classic (non-DEPRECATE_EOF) result-set preamble.
    */
  private def writeResultHeader(io: PacketIO,
      cols: Seq[(String, String)]): Unit = {
    io.write(new Packet().lenenc(cols.length.toLong).bytes)
    cols.foreach { case (name, tpe) =>
      val (mysqlType, len) = tpe match {
        case "byte" | "boolean" => (0x01, 4L) // TINY
        case "short" => (0x02, 6L)
        case "integer" => (0x03, 11L)
        case "long" | "bigint" => (0x08, 20L) // LONGLONG
        case "float" => (0x04, 12L)
        case "double" => (0x05, 22L)
        case t if t.startsWith("decimal") => (0xF6, 40L)
        case "date" => (0x0A, 10L)
        case t if t.startsWith("timestamp") => (0x0C, 26L)
        case _ => (0xFD, 65535L) // VAR_STRING
      }
      io.write(new Packet()
        .lenencStr("def").lenencStr("").lenencStr("").lenencStr("")
        .lenencStr(name).lenencStr(name)
        .u1(0x0C).u2(33).u4(len).u1(mysqlType).u2(0).u1(0).u2(0)
        .bytes)
    }
    io.write(eofPacket())
  }

  private def textOf(v: Any): String = v match {
    case b: Array[Byte] => new String(b, UTF_8)
    case s: Seq[_] => s.map(textOf).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${textOf(k)}:${textOf(x)}" }.mkString("{", ",", "}")
    case other => String.valueOf(other)
  }
}
