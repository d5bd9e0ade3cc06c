package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** MySQL-protocol SQL endpoint (the reference's Doris serving wire,
  * internal/controller/doris.go). No MySQL connector library exists
  * in this sandbox (zero egress), so the spec speaks the public
  * client/server protocol DIRECTLY on the socket — greeting v10,
  * HandshakeResponse41, cleartext AuthSwitch, COM_QUERY text result
  * sets — which pins the server's wire format byte-for-byte rather
  * than whatever a driver tolerates. Auth, grants, audit and
  * admission ride the same control plane as the gRPC/Thrift wires.
  */
class MysqlGatewaySpec extends AnyFunSuite {
  import SharedSpark.spark

  // ---- minimal wire client (public protocol) -----------------------

  private final class Wire(host: String, portN: Int) {
    private val sock = new java.net.Socket(host, portN)
    sock.setTcpNoDelay(true)
    private val in = new java.io.BufferedInputStream(sock.getInputStream)
    private val out = new java.io.BufferedOutputStream(sock.getOutputStream)
    private var seq = 0

    private def readFully(n: Int): Array[Byte] = {
      val b = new Array[Byte](n); var off = 0
      while (off < n) {
        val r = in.read(b, off, n - off)
        assert(r >= 0, "server closed mid-packet"); off += r
      }
      b
    }

    def readPacket(): Array[Byte] = {
      // Conforming merge of the >16MB continuation rule: an
      // exactly-0xFFFFFF payload is followed by the next chunk.
      var merged: java.io.ByteArrayOutputStream = null
      while (true) {
        val h = readFully(4)
        val len = (h(0) & 0xFF) | ((h(1) & 0xFF) << 8) | ((h(2) & 0xFF) << 16)
        seq = (h(3) & 0xFF) + 1
        val chunk = readFully(len)
        if (merged == null && len < 0xFFFFFF) return chunk
        if (merged == null) merged = new java.io.ByteArrayOutputStream()
        merged.write(chunk)
        if (len < 0xFFFFFF) return merged.toByteArray
      }
      throw new IllegalStateException("unreachable")
    }

    def writePacket(p: Array[Byte]): Unit = {
      out.write(p.length & 0xFF); out.write((p.length >> 8) & 0xFF)
      out.write((p.length >> 16) & 0xFF); out.write(seq & 0xFF)
      seq += 1
      out.write(p); out.flush()
    }

    private def lenenc(a: Array[Byte], at: Int): (Long, Int) =
      (a(at) & 0xFF) match {
        case 0xFB => (-1L, at + 1) // NULL in row context
        case 0xFC => (((a(at + 1) & 0xFFL)) | ((a(at + 2) & 0xFFL) << 8), at + 3)
        case 0xFD => ((a(at + 1) & 0xFFL) | ((a(at + 2) & 0xFFL) << 8) |
          ((a(at + 3) & 0xFFL) << 16), at + 4)
        case 0xFE => ((0 until 8).map(i => (a(at + 1 + i) & 0xFFL) << (8 * i)).sum, at + 9)
        case v => (v.toLong, at + 1)
      }

    private def lenencStr(a: Array[Byte], at: Int): (String, Int) = {
      val (n, i) = lenenc(a, at)
      (new String(a, i, n.toInt, UTF_8), i + n.toInt)
    }

    def errMsg(p: Array[Byte]): String = {
      val code = (p(1) & 0xFF) | ((p(2) & 0xFF) << 8)
      s"ERR $code: ${new String(p, 9, p.length - 9, UTF_8)}"
    }

    /** Greeting + HandshakeResponse41 (+ cleartext AuthSwitch). */
    def login(user: String, token: String): Either[String, Unit] = {
      val greet = readPacket()
      assert((greet(0) & 0xFF) == 0x0A, "protocol v10 greeting expected")
      assert(new String(greet).contains("graft"), "server version marker")
      val b = new java.io.ByteArrayOutputStream()
      def u4(v: Long): Unit =
        (0 until 4).foreach(i => b.write(((v >> (8 * i)) & 0xFF).toInt))
      u4(0x00000001L | 0x00000200L | 0x00008000L | 0x00080000L) // caps
      u4(16 * 1024 * 1024) // max packet
      b.write(33) // utf8
      (0 until 23).foreach(_ => b.write(0))
      b.write(user.getBytes(UTF_8)); b.write(0)
      b.write(0) // empty auth response (1-byte length, SECURE_CONNECTION form)
      b.write("mysql_native_password".getBytes(UTF_8)); b.write(0)
      writePacket(b.toByteArray)
      var p = readPacket()
      if ((p(0) & 0xFF) == 0xFE) { // AuthSwitchRequest → cleartext token
        writePacket(token.getBytes(UTF_8) :+ 0.toByte)
        p = readPacket()
      }
      if ((p(0) & 0xFF) == 0x00) Right(()) else Left(errMsg(p))
    }

    /** COM_QUERY → Left(err) | Right((columns, rows)); OK-only
      * responses return empty columns.
      */
    def query(sql: String): Either[String, (Seq[String], Seq[Seq[Option[String]]])] = {
      seq = 0
      writePacket(3.toByte +: sql.getBytes(UTF_8))
      val first = readPacket()
      (first(0) & 0xFF) match {
        case 0x00 => Right((Nil, Nil))
        case 0xFF => Left(errMsg(first))
        case _ =>
          val (ncols, _) = lenenc(first, 0)
          val cols = (1 to ncols.toInt).map { _ =>
            val cd = readPacket()
            // def, schema, table, org_table, NAME
            var at = 0
            var name = ""
            (0 until 5).foreach { _ =>
              val (s, i) = lenencStr(cd, at); at = i; name = s
            }
            name
          }
          val eof1 = readPacket()
          assert((eof1(0) & 0xFF) == 0xFE && eof1.length < 9, "column EOF")
          val rows = Seq.newBuilder[Seq[Option[String]]]
          var done = false
          while (!done) {
            val p = readPacket()
            if ((p(0) & 0xFF) == 0xFE && p.length < 9) done = true
            else if ((p(0) & 0xFF) == 0xFF) return Left(errMsg(p))
            else {
              var at = 0
              val vals = (1 to ncols.toInt).map { _ =>
                if ((p(at) & 0xFF) == 0xFB) { at += 1; None }
                else { val (s, i) = lenencStr(p, at); at = i; Some(s) }
              }
              rows += vals
            }
          }
          Right((cols, rows.result()))
      }
    }

    def close(): Unit = {
      try { seq = 0; writePacket(Array(1.toByte)) } catch { case _: Exception => () }
      sock.close()
    }

    // ---- binary protocol (prepared statements) ----------------------

    private def drainToEof(): Unit = {
      var done = false
      while (!done) {
        val q = readPacket()
        if ((q(0) & 0xFF) == 0xFE && q.length < 9) done = true
      }
    }

    /** COM_STMT_PREPARE → Left(err) | Right((stmtId, nParams)). */
    def prepare(sql: String): Either[String, (Int, Int)] = {
      seq = 0
      writePacket(0x16.toByte +: sql.getBytes(UTF_8))
      val p = readPacket()
      (p(0) & 0xFF) match {
        case 0xFF => Left(errMsg(p))
        case 0x00 =>
          val id = (p(1) & 0xFF) | ((p(2) & 0xFF) << 8) |
            ((p(3) & 0xFF) << 16) | ((p(4) & 0xFF) << 24)
          val ncols = (p(5) & 0xFF) | ((p(6) & 0xFF) << 8)
          val np = (p(7) & 0xFF) | ((p(8) & 0xFF) << 8)
          if (np > 0) drainToEof()
          if (ncols > 0) drainToEof()
          Right((id, np))
      }
    }

    def stmtClose(id: Int): Unit = {
      seq = 0
      val b = new java.io.ByteArrayOutputStream()
      b.write(0x19)
      (0 until 4).foreach(i => b.write((id >> (8 * i)) & 0xFF))
      writePacket(b.toByteArray) // no server response, per protocol
    }

    /** COM_STMT_SEND_LONG_DATA — a NO-RESPONSE command, per protocol. */
    def sendLongData(id: Int, paramId: Int, data: Array[Byte]): Unit = {
      seq = 0
      val b = new java.io.ByteArrayOutputStream()
      b.write(0x18)
      (0 until 4).foreach(i => b.write((id >> (8 * i)) & 0xFF))
      b.write(paramId & 0xFF); b.write((paramId >> 8) & 0xFF)
      b.write(data)
      writePacket(b.toByteArray)
    }

    /** COM_STMT_RESET → Left(err) | Right(()). */
    def stmtReset(id: Int): Either[String, Unit] = {
      seq = 0
      val b = new java.io.ByteArrayOutputStream()
      b.write(0x1A)
      (0 until 4).foreach(i => b.write((id >> (8 * i)) & 0xFF))
      writePacket(b.toByteArray)
      val p = readPacket()
      if ((p(0) & 0xFF) == 0xFF) Left(errMsg(p)) else Right(())
    }

    /** One column definition: (name, declared mysql type code). */
    private def colDef(cd: Array[Byte]): (String, Int) = {
      var at = 0
      var name = ""
      (0 until 6).foreach { i => // catalog, schema, table, org_table, name, org_name
        val (s, j) = lenencStr(cd, at); at = j; if (i == 4) name = s
      }
      // fixed block: 0x0C filler, charset u2, length u4, then TYPE
      (name, cd(at + 1 + 2 + 4) & 0xFF)
    }

    /** COM_STMT_EXECUTE with typed binary params
      * (`(typeCode, value)`; value None = NULL). Decodes the BINARY
      * result set using the types the server declared — so any
      * type/encoding disagreement fails the parse loudly.
      */
    def execute(id: Int, params: Seq[(Int, Option[Array[Byte]])], bindTypes: Boolean = true)
        : Either[String, (Seq[String], Seq[Seq[Option[Any]]])] = {
      seq = 0
      val b = new java.io.ByteArrayOutputStream()
      b.write(0x17)
      (0 until 4).foreach(i => b.write((id >> (8 * i)) & 0xFF))
      b.write(0) // flags
      b.write(1); b.write(0); b.write(0); b.write(0) // iteration count
      if (params.nonEmpty) {
        val bitmap = new Array[Byte]((params.size + 7) / 8)
        params.zipWithIndex.foreach { case ((_, v), i) =>
          if (v.isEmpty) bitmap(i / 8) = (bitmap(i / 8) | (1 << (i % 8))).toByte
        }
        b.write(bitmap)
        b.write(if (bindTypes) 1 else 0)
        if (bindTypes) params.foreach { case (t, _) => b.write(t & 0xFF); b.write((t >> 8) & 0xFF) }
        params.foreach { case (_, v) => v.foreach(b.write) }
      }
      writePacket(b.toByteArray)
      val first = readPacket()
      (first(0) & 0xFF) match {
        case 0x00 => Right((Nil, Nil))
        case 0xFF => Left(errMsg(first))
        case _ =>
          val (ncols, _) = lenenc(first, 0)
          val cols = (1 to ncols.toInt).map(_ => colDef(readPacket()))
          val eof1 = readPacket()
          assert((eof1(0) & 0xFF) == 0xFE && eof1.length < 9, "column EOF")
          val rows = Seq.newBuilder[Seq[Option[Any]]]
          var done = false
          while (!done) {
            val p = readPacket()
            if ((p(0) & 0xFF) == 0xFE && p.length < 9) done = true
            else if ((p(0) & 0xFF) == 0xFF) return Left(errMsg(p))
            else {
              assert((p(0) & 0xFF) == 0x00, "binary row header")
              val nb = (ncols.toInt + 7 + 2) / 8
              var at = 1 + nb
              def nullAt(i: Int): Boolean =
                (p(1 + (i + 2) / 8) & (1 << ((i + 2) % 8))) != 0
              val vals = cols.zipWithIndex.map { case ((_, tpe), i) =>
                if (nullAt(i)) None
                else Some {
                  tpe match {
                    case 0x01 => val v = p(at).toInt; at += 1; v
                    case 0x02 => val v = ((p(at) & 0xFF) | ((p(at + 1) & 0xFF) << 8)).toShort.toInt; at += 2; v
                    case 0x03 => val v = (0 until 4).map(k => (p(at + k) & 0xFFL) << (8 * k)).sum.toInt; at += 4; v
                    case 0x08 => val v = (0 until 8).map(k => (p(at + k) & 0xFFL) << (8 * k)).sum; at += 8; v
                    case 0x04 =>
                      val v = java.lang.Float.intBitsToFloat(
                        (0 until 4).map(k => (p(at + k) & 0xFF) << (8 * k)).sum); at += 4; v
                    case 0x05 =>
                      val v = java.lang.Double.longBitsToDouble(
                        (0 until 8).map(k => (p(at + k) & 0xFFL) << (8 * k)).sum); at += 8; v
                    case 0x0A => // DATE: len, year u2, month, day
                      val len = p(at) & 0xFF
                      val d = java.time.LocalDate.of(
                        (p(at + 1) & 0xFF) | ((p(at + 2) & 0xFF) << 8),
                        p(at + 3) & 0xFF, p(at + 4) & 0xFF)
                      at += 1 + len; d
                    case 0x07 | 0x0C => // TIMESTAMP/DATETIME packed
                      val len = p(at) & 0xFF
                      val y = (p(at + 1) & 0xFF) | ((p(at + 2) & 0xFF) << 8)
                      val ldt = java.time.LocalDateTime.of(y,
                        p(at + 3) & 0xFF, p(at + 4) & 0xFF,
                        if (len >= 7) p(at + 5) & 0xFF else 0,
                        if (len >= 7) p(at + 6) & 0xFF else 0,
                        if (len >= 7) p(at + 7) & 0xFF else 0)
                      at += 1 + len; ldt
                    case _ => // lenenc-string types (VAR_STRING, NEWDECIMAL, ...)
                      val (s, j) = lenencStr(p, at); at = j; s
                  }
                }
              }
              rows += vals
            }
          }
          Right((cols.map(_._1), rows.result()))
      }
    }
  }

  private def leLong(v: Long): Array[Byte] =
    Array.tabulate(8)(i => ((v >> (8 * i)) & 0xFF).toByte)

  private def leDouble(v: Double): Array[Byte] =
    leLong(java.lang.Double.doubleToLongBits(v))

  private def lenencBytes(s: String): Array[Byte] = {
    val a = s.getBytes(UTF_8)
    assert(a.length < 251)
    a.length.toByte +: a
  }

  test("mysql wire: auth, grouped aggregate, connector probes, tenant isolation, no spoofing") {
    val url = "jdbc:derby:memory:mysqlauth;create=true"
    val conn0 = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn0.createStatement()
      st.execute("CREATE TABLE gateway_users(user_name VARCHAR(64), token VARCHAR(64))")
      st.execute("INSERT INTO gateway_users VALUES ('alice', 'm1'), ('bob', 'm2')")
    } finally conn0.close()
    ConnectAuth.enable(url,
      "SELECT 1 FROM gateway_users WHERE user_name = ? AND token = ?",
      maxConcurrentPerUser = 4)
    GraftAuthz.enable(url, superusers = Set(spark.sparkContext.sparkUser))
    val port = GraftMysqlServer.start(spark, 0)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.my_a")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.my_b")
      spark.sql("DROP TABLE IF EXISTS graft_cat.my_a.sales")
      spark.sql("CREATE TABLE graft_cat.my_a.sales AS " +
        "SELECT id % 3 AS g, id AS v FROM range(30)")
      spark.sql("DROP TABLE IF EXISTS graft_cat.my_b.secret")
      spark.sql("CREATE TABLE graft_cat.my_b.secret AS SELECT 42 AS answer")
      GraftAuthz.grant("alice", "my_a", "ALL")
      GraftAuthz.grant("bob", "my_b", "ALL")

      // bad token: ERR 1045, no session
      val bad = new Wire("localhost", port)
      assert(bad.login("alice", "wrong").left.exists(_.contains("1045")))
      bad.close()

      val c = new Wire("localhost", port)
      assert(c.login("alice", "m1").isRight)

      // connector greeting probe (what mysql CLI / connector-j send first)
      val probe = c.query("SELECT @@version_comment LIMIT 1")
      assert(probe.exists(_._2.head.head.exists(_.contains("graft"))), probe)

      // the Done-criterion shape: a grouped aggregate over the shared
      // catalog, ordered, typed
      val agg = c.query(
        "SELECT g, count(*) AS c, sum(v) AS s FROM graft_cat.my_a.sales " +
          "GROUP BY g ORDER BY g")
      val (cols, rows) = agg.toOption.get
      assert(cols == Seq("g", "c", "s"), cols)
      assert(rows == Seq(
        Seq(Some("0"), Some("10"), Some("135")),
        Seq(Some("1"), Some("10"), Some("145")),
        Seq(Some("2"), Some("10"), Some("155"))), rows)

      // NULLs travel as protocol NULL (0xfb), not the string "null"
      val nulls = c.query("SELECT CAST(NULL AS BIGINT) AS n, 7 AS x")
      assert(nulls.toOption.get._2 == Seq(Seq(None, Some("7"))), nulls)

      // >16MB row packet: the protocol's 0xFFFFFF split/continuation
      // rule (a document-scale text cell must arrive whole — without
      // the split a 16MB+ row corrupts the framing for every client)
      val bigN = 17 * 1000 * 1000
      val big = c.query(s"SELECT repeat('x', $bigN) AS s, 'tail' AS t")
      val bigRow = big.toOption.get._2.head
      assert(bigRow(0).exists(s => s.length == bigN && s.forall(_ == 'x')),
        s"big cell length ${bigRow(0).map(_.length)}")
      assert(bigRow(1).contains("tail"))
      // ...and the NEXT query on the same connection still works (the
      // sequence/framing state survived the split)
      assert(c.query("SELECT 1 AS ok").toOption.get._2 == Seq(Seq(Some("1"))))

      // C24 over this wire: alice cannot read bob's table...
      val denied = c.query("SELECT * FROM graft_cat.my_b.secret")
      assert(denied.left.exists(_.contains("PERMISSION_DENIED")), denied)
      // ...and cannot spoof: SET is wire-acknowledged, never forwarded
      assert(c.query("SET spark.graft.sql.user=bob").isRight)
      val stillDenied = c.query("SELECT * FROM graft_cat.my_b.secret")
      assert(stillDenied.left.exists(_.contains("PERMISSION_DENIED")), stillDenied)
      // C28: the denial is in the audit trail, attributed to the
      // wire-authenticated principal
      GraftAudit.flush(5000L)
      val trail = spark.sql("CALL graft_cat.system.show_audit(200)").collect()
      assert(trail.exists(r => r.getString(1) == "alice" &&
        r.getString(4) == "deny" && r.getString(3).contains("my_b")),
        "denied mysql-wire query must land in the audit trail")
      c.close()
    } finally {
      GraftMysqlServer.stop()
      GraftAuthz.disable()
      ConnectAuth.disable()
    }
  }

  test("mysql binary protocol: prepare/execute with typed params and binary rows") {
    val port = GraftMysqlServer.start(spark, 0)
    val c = new Wire("localhost", port)
    try {
      assert(c.login("carol", "").isRight) // auth not enforced here

      // typed result columns across the binary encodings: LONGLONG,
      // DOUBLE, VAR_STRING, DATE, TIMESTAMP — with LONGLONG params
      val (id, np) = c.prepare(
        "SELECT id, CAST(id * 1.5 AS DOUBLE) AS v, 'n' || id AS s, " +
          "DATE'2024-01-15' AS d, TIMESTAMP'2024-01-15 10:30:45' AS ts " +
          "FROM range(10) WHERE id > ? AND id < ? ORDER BY id").toOption.get
      assert(np == 2, s"placeholder count: $np")

      val res = c.execute(id, Seq(
        (0x08, Some(leLong(2L))), (0x08, Some(leLong(6L)))))
      val (cols, rows) = res.toOption.get
      assert(cols == Seq("id", "v", "s", "d", "ts"), cols)
      assert(rows.map(_.head) == Seq(Some(3L), Some(4L), Some(5L)), rows)
      assert(rows.map(r => r(1)) == Seq(Some(4.5), Some(6.0), Some(7.5)), rows)
      assert(rows.map(r => r(2)) == Seq(Some("n3"), Some("n4"), Some("n5")), rows)
      assert(rows.head(3).contains(java.time.LocalDate.of(2024, 1, 15)), rows.head)
      assert(rows.head(4).contains(java.time.LocalDateTime.of(2024, 1, 15, 10, 30, 45)),
        rows.head)

      // re-execute with new values and new_params_bound_flag=0: the
      // previously-bound types apply (the connector re-execute path)
      val res2 = c.execute(id, Seq(
        (0x08, Some(leLong(7L))), (0x08, Some(leLong(10L)))), bindTypes = false)
      assert(res2.toOption.get._2.map(_.head) == Seq(Some(8L), Some(9L)), res2)

      // param type coverage: string, double, NULL (null bitmap), and a
      // decimal-as-string — bound through Spark's parameterized SQL
      val (id2, np2) = c.prepare("SELECT ? AS a, ? AS b, ? AS c, upper(?) AS d")
        .toOption.get
      assert(np2 == 4)
      val res3 = c.execute(id2, Seq(
        (0xFD, Some(lenencBytes("hi"))),
        (0x05, Some(leDouble(2.25))),
        (0x06, None), // MYSQL_TYPE_NULL via bitmap
        (0xFD, Some(lenencBytes("abc")))))
      val row3 = res3.toOption.get._2.head
      assert(row3(0).contains("hi") && row3(1).contains(2.25), row3)
      assert(row3(2).isEmpty, s"NULL param must round-trip as NULL: $row3")
      assert(row3(3).contains("ABC"), row3)

      // NULL result cells travel in the binary null bitmap
      val (id3, _) = c.prepare(
        "SELECT CAST(NULL AS BIGINT) AS n, 7 AS x").toOption.get
      assert(c.execute(id3, Nil).toOption.get._2 == Seq(Seq(None, Some(7))))

      // close: the handle dies; executing it is ERR 1243
      c.stmtClose(id)
      assert(c.execute(id, Seq((0x08, Some(leLong(1L))), (0x08, Some(leLong(3L)))))
        .left.exists(_.contains("1243")))

      // and the text protocol still works on the same connection
      assert(c.query("SELECT 1 AS ok").toOption.get._2 == Seq(Seq(Some("1"))))
      c.close()
    } finally GraftMysqlServer.stop()
  }

  test("placeholder scanner ignores block and # comments") {
    assert(GraftMysqlServer.paramCount("SELECT ? /* not a param: ? */ + ?") == 2)
    assert(GraftMysqlServer.paramCount("SELECT 1 # trailing: ?\n + ?") == 1)
    assert(GraftMysqlServer.paramCount("SELECT '/*' || ? || '*/'") == 1) // comment openers inside strings don't comment
    assert(GraftMysqlServer.paramCount("SELECT /* unterminated ?") == 0)
    assert(GraftMysqlServer.paramCount("/*c1*/SELECT ?/*c2*/WHERE x > ?") == 2)
  }

  test("mysql binary protocol hardening: long data, registry cap, TIME, unknown types") {
    val port = GraftMysqlServer.start(spark, 0)
    val c = new Wire("localhost", port)
    try {
      assert(c.login("dave", "").isRight)

      // a ? inside a block comment must not inflate num_params over the
      // wire (the client binds num_params values; a phantom param
      // desyncs the null-bitmap/type/value decode)
      val (idc, npc) = c.prepare(
        "SELECT id /* ? phantom */ FROM range(10) WHERE id = ?").toOption.get
      assert(npc == 1, s"block-comment ? counted: $npc")
      assert(c.execute(idc, Seq((0x08, Some(leLong(4L))))).toOption.get._2 ==
        Seq(Seq(Some(4L))))

      // SEND_LONG_DATA is a no-response command: the server must NOT
      // answer it (an unsolicited packet desyncs the connection), and
      // the following EXECUTE gets a clean ERR; RESET re-arms the handle
      val (idl, _) = c.prepare("SELECT ? AS s").toOption.get
      c.sendLongData(idl, 0, "chunk".getBytes(UTF_8))
      val afterLong = c.execute(idl, Seq((0xFD, Some(lenencBytes("v")))))
      assert(afterLong.left.exists(_.contains("long data")), afterLong)
      assert(c.stmtReset(idl).isRight)
      assert(c.execute(idl, Seq((0xFD, Some(lenencBytes("v")))))
        .toOption.get._2 == Seq(Seq(Some("v"))))

      // TIME (0x0B) binds as a real elapsed time, not garbage bytes
      // (MySQL TIME is elapsed time; Spark-side it lands as an interval)
      val (idt, _) = c.prepare("SELECT ? AS t").toOption.get
      val timeBytes = Array[Byte](8, 0, 0, 0, 0, 0, 10, 30, 45) // len8, pos, 0 days, 10:30:45
      val tRes = c.execute(idt, Seq((0x0B, Some(timeBytes))))
      assert(tRes.toOption.get._2.head.head.exists(
        v => String.valueOf(v).contains("10H30M45S")), tRes) // Duration text
      // negative / >24h TIME keeps sign and days: -(2d 1h) = PT-49H
      val negBytes = Array[Byte](8, 1, 2, 0, 0, 0, 1, 0, 0)
      val nRes = c.execute(idt, Seq((0x0B, Some(negBytes))))
      assert(nRes.toOption.get._2.head.head.exists(
        v => String.valueOf(v).contains("-49H")), nRes)

      // an unknown parameter type code is refused with an ERR, never
      // silently misparsed as a lenenc string
      val bad = c.execute(idt, Seq((0x33, Some(lenencBytes("junk")))))
      assert(bad.left.exists(_.contains("0x33")), bad)
      // ...and the connection is still usable
      assert(c.query("SELECT 1 AS ok").toOption.get._2 == Seq(Seq(Some("1"))))

      // unsigned LONGLONG above Long.MAX must not bind negative
      val (idu, _) = c.prepare("SELECT ? AS u").toOption.get
      val uRes = c.execute(idu, Seq((0x8008, Some(leLong(-1L))))) // 2^64-1
      assert(uRes.toOption.get._2.head.head.exists(
        v => String.valueOf(v).contains("18446744073709551615")), uRes)

      // per-connection prepared-statement registry is bounded: the
      // cap'th + 1 PREPARE answers ER 1461 instead of growing the heap
      var lastErr: Option[String] = None
      var i = 0
      while (lastErr.isEmpty && i < GraftMysqlServer.MaxPreparedStmts + 8) {
        c.prepare(s"SELECT $i") match {
          case Left(e) => lastErr = Some(e)
          case Right(_) => ()
        }
        i += 1
      }
      assert(lastErr.exists(_.contains("1461")), s"cap never hit (after $i prepares)")
      // the connection survives the refusal
      assert(c.query("SELECT 2 AS ok").toOption.get._2 == Seq(Seq(Some("2"))))
      c.close()
    } finally GraftMysqlServer.stop()
  }
}
