package graft.tools

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import graft.{SparkTestBase, Tables}

/** The Postgres wire-protocol persona over a REAL socket, driven by a
  * hand-rolled client speaking the documented v3 message framing
  * (zero-egress: no pg driver jar exists here, which is exactly why the
  * client is hand-built — every byte below is from the protocol doc):
  * SSLRequest/N, StartupMessage, MD5 + cleartext password auth, simple
  * query round trips, the extended Parse/Bind/Describe/Execute/Sync
  * flow, error recovery, and the two capabilities VERDICT r9 asked for —
  * the q23 cube selection and commitlog catalog DML — end to end.
  */
class PgWireSpec extends SparkTestBase {

  /** Minimal pg-wire v3 client. */
  private final class PgClient(port: Int) {
    var sock: java.net.Socket = new Socket("127.0.0.1", port)
    var in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    var out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

    def sslRequest(): Char = {
      out.writeInt(8); out.writeInt(80877103); out.flush()
      in.readByte().toChar
    }

    /** After an `S` reply: TLS-upgrade the socket trusting `truststore`
      * (None = JVM default trust, which rejects the self-signed cert).
      */
    def upgradeTls(truststore: Option[(java.nio.file.Path, String)]): Unit = {
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      val tms = truststore.map { case (p, pw) =>
        val ks = java.security.KeyStore.getInstance("JKS")
        val is = java.nio.file.Files.newInputStream(p)
        try ks.load(is, pw.toCharArray) finally is.close()
        val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
          javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
        tmf.init(ks)
        tmf.getTrustManagers
      }.orNull
      ctx.init(null, tms, null)
      val tls = ctx.getSocketFactory
        .createSocket(sock, "127.0.0.1", sock.getPort, false)
        .asInstanceOf[javax.net.ssl.SSLSocket]
      tls.setUseClientMode(true)
      tls.startHandshake()
      sock = tls
      in = new DataInputStream(new BufferedInputStream(tls.getInputStream))
      out = new DataOutputStream(new BufferedOutputStream(tls.getOutputStream))
    }

    def startup(user: String): Unit = {
      val b = new ByteArrayOutputStream()
      def cstr(s: String): Unit = { b.write(s.getBytes(UTF_8)); b.write(0) }
      cstr("user"); cstr(user); cstr("database"); cstr("graft"); b.write(0)
      out.writeInt(4 + 4 + b.size); out.writeInt(196608); b.writeTo(out)
      out.flush()
    }

    def msg(t: Char, body: Array[Byte]): Unit = {
      out.writeByte(t); out.writeInt(body.length + 4); out.write(body); out.flush()
    }

    def cstrBytes(s: String): Array[Byte] = {
      val b = new ByteArrayOutputStream()
      b.write(s.getBytes(UTF_8)); b.write(0); b.toByteArray
    }

    def readMsg(): (Char, Array[Byte]) = {
      val t = in.readByte().toChar
      val len = in.readInt()
      val b = new Array[Byte](len - 4); in.readFully(b)
      (t, b)
    }

    /** Authenticate: answers cleartext (3) or MD5 (5) per the server's
      * AuthenticationRequest, then drains to ReadyForQuery. Returns true
      * when AuthenticationOk arrived.
      */
    def authenticate(user: String, password: String): Boolean = {
      val (t, body) = readMsg()
      assert(t == 'R', s"expected auth request, got '$t'")
      val code = i32(body, 0)
      val token = code match {
        case 3 => password
        case 5 =>
          val salt = body.slice(4, 8)
          def hexMd5(x: Array[Byte]) = MessageDigest.getInstance("MD5")
            .digest(x).map(v => f"${v & 0xff}%02x").mkString
          "md5" + hexMd5(hexMd5((password + user).getBytes(UTF_8)).getBytes(UTF_8) ++ salt)
        case 0 => return drainToReady()
        case 10 => // AuthenticationSASL → run the SCRAM exchange
          assert(new String(body.drop(4), UTF_8).startsWith("SCRAM-SHA-256"),
            "server must advertise SCRAM-SHA-256")
          if (!PgWire.scramClient(in, out, user, password)) return false
          val (t3, b3) = readMsg()
          return t3 == 'R' && i32(b3, 0) == 0 && drainToReady()
        case other => fail(s"unexpected auth code $other")
      }
      msg('p', cstrBytes(token))
      val (t2, body2) = readMsg()
      if (t2 == 'E') false
      else {
        assert(t2 == 'R' && i32(body2, 0) == 0, "expected AuthenticationOk")
        drainToReady()
      }
    }

    var pid = 0; var secret = 0 // BackendKeyData, for CancelRequest
    var lastStatus = ' ' // ReadyForQuery status byte: I idle, T txn, E failed

    private def drainToReady(): Boolean = {
      var t = ' '
      while (t != 'Z') {
        val (ty, b) = readMsg()
        if (ty == 'K') { pid = i32(b, 0); secret = i32(b, 4) }
        t = ty
      }
      true
    }

    def i32(b: Array[Byte], p: Int): Int =
      ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
        ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
    private def i16(b: Array[Byte], p: Int): Int =
      ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)

    final case class Result(cols: Seq[String], colOids: Seq[Int],
        rows: Seq[Seq[Option[String]]], tag: String, error: Option[String])

    /** Simple query: send `Q`, collect RowDescription/DataRows/
      * CommandComplete (or ErrorResponse) until ReadyForQuery.
      */
    def query(sql: String): Result = {
      msg('Q', cstrBytes(sql))
      collectResult()
    }

    private def parseT(b: Array[Byte]): (Seq[String], Seq[Int]) = {
      val n = i16(b, 0); var p = 2
      val cs = Seq.newBuilder[String]; val os = Seq.newBuilder[Int]
      (0 until n).foreach { _ =>
        val e = b.indexOf(0.toByte, p)
        cs += new String(b, p, e - p, UTF_8)
        os += i32(b, e + 7) // skip table oid(4) + attnum(2)
        p = e + 1 + 18
      }
      (cs.result(), os.result())
    }

    private def parseD(b: Array[Byte]): Seq[Option[String]] = {
      val n = i16(b, 0); var p = 2
      val r = Seq.newBuilder[Option[String]]
      (0 until n).foreach { _ =>
        val l = i32(b, p); p += 4
        if (l == -1) r += None
        else { r += Some(new String(b, p, l, UTF_8)); p += l }
      }
      r.result()
    }

    private def parseE(b: Array[Byte]): Option[String] = {
      var p = 0; var m = ""; var sqlState = ""
      while (p < b.length && b(p) != 0) {
        val code = b(p).toChar; val e = b.indexOf(0.toByte, p + 1)
        val v = new String(b, p + 1, e - p - 1, UTF_8)
        if (code == 'M') m = v
        if (code == 'C') sqlState = v
        p = e + 1
      }
      if (m.isEmpty && sqlState.isEmpty) None else Some(s"[$sqlState] $m")
    }

    def collectResult(): Result = {
      var cols = Seq.empty[String]; var oids = Seq.empty[Int]
      val rows = Seq.newBuilder[Seq[Option[String]]]
      var tag = ""; var err: Option[String] = None
      var done = false
      while (!done) {
        val (t, b) = readMsg()
        t match {
          case 'T' => val (c, o) = parseT(b); cols = c; oids = o
          case 'D' => rows += parseD(b)
          case 'C' => tag = new String(b, 0, b.indexOf(0.toByte), UTF_8)
          case 'E' => err = parseE(b)
          case 'Z' => lastStatus = b(0).toChar; done = true
          case 'I' => tag = "EMPTY"
          case _ => // ParameterStatus etc — ignore
        }
      }
      Result(cols, oids, rows.result(), tag, err)
    }

    /** A multi-statement simple query: one (cols, rows, tag) per
      * completed statement, plus the error (if one aborted the script).
      */
    def queryMulti(sql: String)
        : (Seq[(Seq[String], Seq[Seq[Option[String]]], String)], Option[String]) = {
      msg('Q', cstrBytes(sql))
      val results =
        Seq.newBuilder[(Seq[String], Seq[Seq[Option[String]]], String)]
      var cols = Seq.empty[String]
      var rows = Seq.newBuilder[Seq[Option[String]]]
      var err: Option[String] = None
      var done = false
      while (!done) {
        val (t, b) = readMsg()
        t match {
          case 'T' => cols = parseT(b)._1
          case 'D' => rows += parseD(b)
          case 'C' =>
            results += ((cols, rows.result(),
              new String(b, 0, b.indexOf(0.toByte), UTF_8)))
            cols = Seq.empty; rows = Seq.newBuilder
          case 'E' => err = parseE(b)
          case 'Z' => done = true
          case _ =>
        }
      }
      (results.result(), err)
    }

    def close(): Unit = {
      try { msg('X', Array.emptyByteArray) } catch { case _: Exception => }
      sock.close()
    }

    /** COPY … TO STDOUT: raw payload + tag + error. */
    def copyOut(sql: String): (String, String, Option[String]) = {
      msg('Q', cstrBytes(sql))
      val buf = new ByteArrayOutputStream()
      var tag = ""; var err: Option[String] = None; var done = false
      while (!done) {
        val (t, b) = readMsg()
        t match {
          case 'd' => buf.write(b)
          case 'C' => tag = new String(b, 0, b.indexOf(0.toByte), UTF_8)
          case 'E' => err = parseE(b)
          case 'Z' => lastStatus = b(0).toChar; done = true
          case _ => // H / c
        }
      }
      (new String(buf.toByteArray, UTF_8), tag, err)
    }

    /** COPY … FROM STDIN: send payload in small chunks (exercising
      * row-spanning frames), or CopyFail when `fail` is set.
      */
    def copyIn(sql: String, payload: String,
        fail: Option[String] = None): (String, Option[String]) = {
      msg('Q', cstrBytes(sql))
      val (t0, b0) = readMsg()
      if (t0 == 'E') {
        var done = false
        while (!done) { val (t, b) = readMsg(); if (t == 'Z') { lastStatus = b(0).toChar; done = true } }
        return ("", parseE(b0))
      }
      assert(t0 == 'G', s"expected CopyInResponse, got '$t0'")
      fail match {
        case Some(m) => msg('f', cstrBytes(m))
        case None =>
          payload.getBytes(UTF_8).grouped(7) // tiny frames split rows
            .foreach(chunk => msg('d', chunk))
          msg('c', Array.emptyByteArray)
      }
      var tag = ""; var err: Option[String] = None; var done = false
      while (!done) {
        val (t, b) = readMsg()
        t match {
          case 'C' => tag = new String(b, 0, b.indexOf(0.toByte), UTF_8)
          case 'E' => err = parseE(b)
          case 'Z' => lastStatus = b(0).toChar; done = true
          case _ =>
        }
      }
      (tag, err)
    }
  }

  private val user = "cube"
  private val pass = "pg-test-secret"

  test("pg-wire endpoint: MD5 auth, simple queries, cube selection, " +
      "catalog DML, extended protocol, and error recovery over a real socket") {
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      // ---- handshake: SSLRequest answered 'N', then MD5 auth succeeds
      val c = new PgClient(server.port)
      assert(c.sslRequest() == 'N')
      c.startup(user)
      assert(c.authenticate(user, pass))

      // ---- wrong password refused at the socket
      val bad = new PgClient(server.port)
      bad.startup(user)
      assert(!bad.authenticate(user, "wrong"))
      bad.close()
      // wrong USER refused too, even with the right password
      val badU = new PgClient(server.port)
      badU.startup("intruder")
      assert(!badU.authenticate("intruder", pass))
      badU.close()

      // ---- simple query round trip with pg text conventions
      val r1 = c.query(
        "SELECT 1 AS a, 'x' AS b, true AS c, CAST(2.5 AS DOUBLE) AS d, " +
          "CAST(NULL AS INT) AS e")
      assert(r1.error.isEmpty, r1.error)
      assert(r1.cols == Seq("a", "b", "c", "d", "e"))
      assert(r1.colOids == Seq(23, 25, 16, 701, 23)) // int4 text bool float8 int4
      assert(r1.rows == Seq(Seq(Some("1"), Some("x"), Some("t"),
        Some("2.5"), None)))
      assert(r1.tag == "SELECT 1")

      // ---- the q23 cube selection through the socket: the cube's SQL
      // face under global_temp equals the Scala rendering row-for-row
      Tables.load(spark, sf0001, "events").createOrReplaceTempView("events")
      val views = graft.semantic.CubeViews.register(spark, grain = "month")
      assert(views.contains("global_temp.events_cube"))
      val got = c.query(
        """SELECT event_type, ts_month, n, sum_value
          |FROM global_temp.events_cube
          |ORDER BY event_type, ts_month""".stripMargin)
      assert(got.error.isEmpty, got.error)
      val want = spark.table("global_temp.events_cube")
        .select("event_type", "ts_month", "n", "sum_value")
        .orderBy("event_type", "ts_month").collect()
      assert(got.rows.length == want.length && want.length > 0)
      got.rows.zip(want).foreach { case (r, w) =>
        assert(r(0).get == w.getString(0))
        assert(r(1).get == w.getAs[java.sql.Date](1).toString)
        assert(r(2).get == w.getLong(2).toString)
        assert(r(3).get == PgWire.render(w.get(3)))
      }

      // ---- commitlog catalog DML: INSERT lands an atomic commit, time
      // travel reads the pre-DML snapshot, all over the wire
      import graft.sources.{CatalogOps, CommitLog}
      val root = java.nio.file.Files.createTempDirectory("graft-pgcl").toString
      CommitLog.append(spark.range(4).selectExpr("id", "id * 2 AS v"), root)
      CatalogOps.createCommitLogTable(spark, "pglake", "t", root)
      val ins = c.query(
        "INSERT INTO pglake.t SELECT id, id * 2 AS v FROM range(4, 6)")
      assert(ins.error.isEmpty, ins.error)
      assert(ins.tag == "INSERT 0 0")
      assert(CommitLog.currentVersion(root).contains(2L))
      val cnt = c.query("SELECT count(*) AS n, sum(v) AS s FROM pglake.t")
      assert(cnt.rows == Seq(Seq(Some("6"), Some("30"))))
      val tt = c.query("SELECT count(*) AS n FROM pglake.t VERSION AS OF 1")
      assert(tt.rows == Seq(Seq(Some("4"))))
      val upd = c.query("UPDATE pglake.t SET v = 100 WHERE id = 5")
      assert(upd.error.isEmpty && upd.tag == "UPDATE 0")
      assert(CommitLog.currentVersion(root).contains(3L))
      val mx = c.query("SELECT max(v) AS m FROM pglake.t")
      assert(mx.rows == Seq(Seq(Some("100"))))

      // ---- Describe must NOT execute a DML (pg's contract: Describe
      // returns the row shape without running) — only Execute mutates
      val vBefore = CommitLog.currentVersion(root).get
      c.msg('P', c.cstrBytes("dml1") ++ c.cstrBytes(
        "INSERT INTO pglake.t SELECT 50 AS id, 51 AS v") ++
        Array[Byte](0, 0))
      c.msg('B', c.cstrBytes("") ++ c.cstrBytes("dml1") ++
        Array[Byte](0, 0, 0, 0, 0, 0))
      c.msg('D', "P".getBytes(UTF_8) ++ c.cstrBytes(""))
      assert(c.readMsg()._1 == '1')
      assert(c.readMsg()._1 == '2')
      assert(c.readMsg()._1 == 'n') // NoData — and nothing ran:
      assert(CommitLog.currentVersion(root).contains(vBefore))
      c.msg('E', c.cstrBytes("") ++ Array[Byte](0, 0, 0, 0))
      c.msg('S', Array.emptyByteArray)
      val dmlRes = c.collectResult()
      assert(dmlRes.error.isEmpty && dmlRes.tag == "INSERT 0 0")
      assert(CommitLog.currentVersion(root).contains(vBefore + 1))
      // a command that DOES return rows (SHOW) gets its RowDescription
      // back-filled at Execute after the NoData Describe
      c.msg('P', c.cstrBytes("sh1") ++ c.cstrBytes(
        "SHOW TABLES IN pglake") ++ Array[Byte](0, 0))
      c.msg('B', c.cstrBytes("") ++ c.cstrBytes("sh1") ++
        Array[Byte](0, 0, 0, 0, 0, 0))
      c.msg('D', "P".getBytes(UTF_8) ++ c.cstrBytes(""))
      c.msg('E', c.cstrBytes("") ++ Array[Byte](0, 0, 0, 0))
      c.msg('S', Array.emptyByteArray)
      assert(c.readMsg()._1 == '1')
      assert(c.readMsg()._1 == '2')
      assert(c.readMsg()._1 == 'n')
      val showRes = c.collectResult()
      assert(showRes.error.isEmpty, showRes.error)
      assert(showRes.cols.nonEmpty && showRes.rows.nonEmpty)

      // ---- a bad statement answers ErrorResponse, and the SAME
      // connection keeps working (ReadyForQuery recovery)
      val oops = c.query("SELECT FROM FROM nope")
      assert(oops.error.isDefined)
      val after = c.query("SELECT 7 AS x")
      assert(after.rows == Seq(Seq(Some("7"))))

      // ---- empty query → EmptyQueryResponse
      assert(c.query(" ;").tag == "EMPTY")

      // ---- txn-control verbs clients emit reflexively are acknowledged
      // as no-ops with their pg tags (the engine IS autocommit)
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query("commit").tag == "COMMIT")
      assert(c.query("START TRANSACTION").tag == "BEGIN")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
      assert(c.query("DISCARD ALL").tag == "DISCARD ALL")
      assert(c.query("SELECT 9 AS x").rows == Seq(Seq(Some("9"))))

      // ---- multi-statement scripts: one result cycle per statement,
      // semicolons inside literals/comments don't split, first error
      // aborts the remainder (pg's simple-query contract)
      val (multi, mErr) = c.queryMulti(
        "SELECT 1 AS a; SELECT 'x;y' AS s -- c;c\n; SELECT 3 AS b;")
      assert(mErr.isEmpty, mErr)
      assert(multi.map(_._3) == Seq("SELECT 1", "SELECT 1", "SELECT 1"))
      assert(multi.map(_._2) == Seq(Seq(Seq(Some("1"))),
        Seq(Seq(Some("x;y"))), Seq(Seq(Some("3")))))
      val (multi2, mErr2) = c.queryMulti(
        "SELECT 1 AS a; THIS IS NOT SQL; SELECT 3 AS b")
      assert(multi2.size == 1 && mErr2.isDefined) // error aborts the rest
      assert(c.query("SELECT 4 AS ok").rows == Seq(Seq(Some("4"))))

      // ---- extended protocol: Parse/Bind($1)/Describe/Execute/Sync
      c.msg('P', c.cstrBytes("s1") ++ c.cstrBytes(
        "SELECT id, id * 2 AS v FROM range(10) WHERE id = $1") ++
        Array[Byte](0, 0)) // 0 param type oids
      // Bind portal "" to s1 with one text param "7"
      val pv = "7".getBytes(UTF_8)
      val bindBody = c.cstrBytes("") ++ c.cstrBytes("s1") ++
        Array[Byte](0, 0) ++ // 0 param format codes (all text)
        Array[Byte](0, 1) ++ // 1 parameter
        Array[Byte](0, 0, 0, pv.length.toByte) ++ pv ++
        Array[Byte](0, 0) // 0 result format codes (all text)
      c.msg('B', bindBody)
      c.msg('D', "P".getBytes(UTF_8) ++ c.cstrBytes(""))
      c.msg('E', c.cstrBytes("") ++ Array[Byte](0, 0, 0, 0))
      c.msg('S', Array.emptyByteArray)
      // expect: ParseComplete, BindComplete, RowDescription, DataRow,
      // CommandComplete, ReadyForQuery
      assert(c.readMsg()._1 == '1')
      assert(c.readMsg()._1 == '2')
      val ext = c.collectResult()
      assert(ext.error.isEmpty, ext.error)
      assert(ext.cols == Seq("id", "v"))
      assert(ext.rows == Seq(Seq(Some("7"), Some("14"))))
      assert(ext.tag == "SELECT 1")

      // extended-protocol error recovery: bad Parse → ErrorResponse,
      // then everything until Sync is discarded, then back in business
      c.msg('P', c.cstrBytes("s2") ++ c.cstrBytes("NOT SQL AT ALL") ++
        Array[Byte](0, 0))
      c.msg('B', c.cstrBytes("") ++ c.cstrBytes("s2") ++
        Array[Byte](0, 0, 0, 0, 0, 0))
      c.msg('S', Array.emptyByteArray)
      val bad2 = c.collectResult()
      assert(bad2.error.isDefined)
      assert(c.query("SELECT 5 AS ok").rows == Seq(Seq(Some("5"))))

      c.close()
    } finally server.stop()
  }

  test("pg-wire TLS: SSLRequest answered S upgrades to a real tunnel " +
      "with the endpoint keystore; plaintext coexists; wrong trust fails") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pgtls")
    val ks = dir.resolve("server.jks"); val ts = dir.resolve("trust.jks")
    SqlEndpoint.generateSelfSignedKeystore(ks, "kspass-1", ts, "tspass-1")
    val server = PgWire.start(spark, user = user, password = pass,
      ssl = Some(SqlEndpoint.Ssl(ks, "kspass-1")))
    try {
      // full session inside the tunnel: handshake, MD5 auth, query
      val c = new PgClient(server.port)
      assert(c.sslRequest() == 'S')
      c.upgradeTls(Some((ts, "tspass-1")))
      c.startup(user)
      assert(c.authenticate(user, pass))
      assert(c.query("SELECT 11 AS x").rows == Seq(Seq(Some("11"))))
      c.close()
      // plaintext startup still works on the same port (pg allows both;
      // restricting is the deployment's hostssl policy)
      val p = new PgClient(server.port)
      p.startup(user)
      assert(p.authenticate(user, pass))
      assert(p.query("SELECT 12 AS x").rows == Seq(Seq(Some("12"))))
      p.close()
      // default JVM trust rejects the self-signed server cert
      val bad = new PgClient(server.port)
      assert(bad.sslRequest() == 'S')
      intercept[Exception] { bad.upgradeTls(None) }
      bad.sock.close()
    } finally server.stop()
  }

  test("out-of-band CancelRequest (BackendKeyData pid/secret) aborts the " +
      "running statement with SQLSTATE 57014 and the connection survives") {
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user)
      assert(c.authenticate(user, pass))
      assert(c.pid != 0, "BackendKeyData not captured")
      @volatile var res: Option[c.Result] = None
      val runner = new Thread(() => {
        res = Some(c.query(
          "SELECT sum(id % 1000) AS s FROM range(800000000000)"))
      })
      runner.start()
      Thread.sleep(2000) // let the aggregation's tasks actually start
      // a SECOND connection carries the CancelRequest (pg's design:
      // the busy connection can't read its own socket mid-query)
      val cs = new Socket("127.0.0.1", server.port)
      val co = new DataOutputStream(cs.getOutputStream)
      co.writeInt(16); co.writeInt(80877102)
      co.writeInt(c.pid); co.writeInt(c.secret)
      co.flush(); cs.close()
      runner.join(90000)
      assert(!runner.isAlive, "query did not return after cancel")
      assert(res.exists(_.error.isDefined),
        s"expected the canceled query to error, got $res")
      assert(res.get.error.get.startsWith("[57014]"),
        s"expected SQLSTATE 57014, got ${res.get.error}")
      // the canceled CONNECTION keeps serving (pg's contract)
      assert(c.query("SELECT 21 AS x").rows == Seq(Seq(Some("21"))))
      // a CancelRequest with a WRONG secret cancels nothing
      @volatile var ok: Option[c.Result] = None
      val r2 = new Thread(() => { ok = Some(c.query("SELECT 22 AS x")) })
      val cs2 = new Socket("127.0.0.1", server.port)
      val co2 = new DataOutputStream(cs2.getOutputStream)
      co2.writeInt(16); co2.writeInt(80877102)
      co2.writeInt(c.pid); co2.writeInt(c.secret + 1)
      co2.flush(); cs2.close()
      r2.start(); r2.join(30000)
      assert(ok.exists(r => r.error.isEmpty &&
        r.rows == Seq(Seq(Some("22")))))
      c.close()
    } finally server.stop()
  }

  test("CTE-prefixed DML, extended-protocol txn verbs, and pre-auth " +
      "frame bounds (ADVICE r10)") {
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user)
      assert(c.authenticate(user, pass))

      import graft.sources.{CatalogOps, CommitLog}
      val root = java.nio.file.Files.createTempDirectory("graft-pgcte").toString
      CommitLog.append(spark.range(3).selectExpr("id", "id * 2 AS v"), root)
      CatalogOps.createCommitLogTable(spark, "pgcte", "t", root)

      // WITH-prefixed INSERT is EAGER at session.sql — Describe must not
      // run it, and Execute must run it exactly once (no double insert)
      val v0 = CommitLog.currentVersion(root).get
      c.msg('P', c.cstrBytes("cte1") ++ c.cstrBytes(
        "WITH src AS (SELECT 50 AS id, 51 AS v) INSERT INTO pgcte.t " +
          "SELECT id, v FROM src") ++ Array[Byte](0, 0))
      c.msg('D', "S".getBytes(UTF_8) ++ c.cstrBytes("cte1"))
      c.msg('B', c.cstrBytes("") ++ c.cstrBytes("cte1") ++
        Array[Byte](0, 0, 0, 0, 0, 0))
      c.msg('D', "P".getBytes(UTF_8) ++ c.cstrBytes(""))
      assert(c.readMsg()._1 == '1') // ParseComplete
      assert(c.readMsg()._1 == 't') // ParameterDescription (0 params)
      assert(c.readMsg()._1 == 'n') // statement Describe: NoData
      assert(c.readMsg()._1 == '2') // BindComplete
      assert(c.readMsg()._1 == 'n') // portal Describe: NoData
      // NOTHING has executed through Parse+Describe+Bind+Describe:
      assert(CommitLog.currentVersion(root).contains(v0))
      c.msg('E', c.cstrBytes("") ++ Array[Byte](0, 0, 0, 0))
      c.msg('S', Array.emptyByteArray)
      val r = c.collectResult()
      assert(r.error.isEmpty, r.error)
      // exactly ONE commit landed — Describe didn't pre-run the DML
      assert(CommitLog.currentVersion(root).contains(v0 + 1))
      val n = c.query("SELECT count(*) AS n FROM pgcte.t WHERE id = 50")
      assert(n.rows == Seq(Seq(Some("1"))))

      // a CTE-prefixed SELECT still describes with a row shape
      c.msg('P', c.cstrBytes("cte2") ++ c.cstrBytes(
        "WITH a AS (SELECT 1 AS x), b AS (SELECT 2 AS y) " +
          "SELECT x, y FROM a, b") ++ Array[Byte](0, 0))
      c.msg('B', c.cstrBytes("") ++ c.cstrBytes("cte2") ++
        Array[Byte](0, 0, 0, 0, 0, 0))
      c.msg('D', "P".getBytes(UTF_8) ++ c.cstrBytes(""))
      c.msg('E', c.cstrBytes("") ++ Array[Byte](0, 0, 0, 0))
      c.msg('S', Array.emptyByteArray)
      assert(c.readMsg()._1 == '1')
      assert(c.readMsg()._1 == '2')
      val cte = c.collectResult()
      assert(cte.error.isEmpty && cte.cols == Seq("x", "y") &&
        cte.rows == Seq(Seq(Some("1"), Some("2"))))

      // pg-JDBC with autocommit=off sends BEGIN via the EXTENDED
      // protocol — it must answer its pg tag, not a ParseException
      c.msg('P', c.cstrBytes("tx1") ++ c.cstrBytes("BEGIN") ++
        Array[Byte](0, 0))
      c.msg('B', c.cstrBytes("") ++ c.cstrBytes("tx1") ++
        Array[Byte](0, 0, 0, 0, 0, 0))
      c.msg('D', "P".getBytes(UTF_8) ++ c.cstrBytes(""))
      c.msg('E', c.cstrBytes("") ++ Array[Byte](0, 0, 0, 0))
      c.msg('S', Array.emptyByteArray)
      assert(c.readMsg()._1 == '1')
      assert(c.readMsg()._1 == '2')
      assert(c.readMsg()._1 == 'n')
      val tx = c.collectResult()
      assert(tx.error.isEmpty, tx.error)
      assert(tx.tag == "BEGIN")
      assert(c.query("SELECT 31 AS x").rows == Seq(Seq(Some("31"))))
      c.close()

      // ---- pre-auth DoS bound: a 2 GB-claiming startup frame is
      // rejected before allocation and the connection closes
      val dos = new Socket("127.0.0.1", server.port)
      val dOut = new DataOutputStream(dos.getOutputStream)
      dOut.writeInt(Int.MaxValue); dOut.flush()
      val dIn = new DataInputStream(dos.getInputStream)
      assert(dIn.readByte().toChar == 'E') // ErrorResponse, then EOF
      dos.close()
      // negative/undersized length: closed without NegativeArraySize
      val neg = new Socket("127.0.0.1", server.port)
      val nOut = new DataOutputStream(neg.getOutputStream)
      nOut.writeInt(2); nOut.flush()
      val nIn = new DataInputStream(neg.getInputStream)
      assert(nIn.readByte().toChar == 'E')
      neg.close()
      // and the server still serves fresh connections
      val ok = new PgClient(server.port)
      ok.startup(user)
      assert(ok.authenticate(user, pass))
      assert(ok.query("SELECT 32 AS x").rows == Seq(Seq(Some("32"))))
      ok.close()
    } finally server.stop()

    // isRowQuery: CTE-prefixed DML classifies as a command; CTE bodies
    // (inside parens) never fool the scan; quoted text is opaque
    assert(PgWire.isRowQuery("WITH t AS (SELECT 1) SELECT * FROM t"))
    assert(PgWire.isRowQuery(
      "WITH a AS (SELECT 1), b AS (SELECT 2) TABLE a"))
    assert(!PgWire.isRowQuery(
      "WITH t AS (SELECT 1 AS x) INSERT INTO lake.t SELECT x FROM t"))
    assert(!PgWire.isRowQuery(
      "WITH t AS (SELECT 1) DELETE FROM lake.t WHERE id IN (SELECT * FROM t)"))
    assert(!PgWire.isRowQuery(
      "WITH t AS (SELECT 1) MERGE INTO lake.a USING t ON a.id = t.id " +
        "WHEN MATCHED THEN UPDATE SET *"))
    assert(PgWire.isRowQuery(
      "WITH t AS (SELECT 'INSERT' AS w) SELECT w FROM t"))
    assert(!PgWire.isRowQuery("INSERT INTO t VALUES (1)"))
    assert(PgWire.isRowQuery("SELECT 1"))

    // txnTag drives both protocol paths
    assert(PgWire.txnTag("BEGIN") == Some("BEGIN"))
    assert(PgWire.txnTag("start  transaction") == Some("BEGIN"))
    assert(PgWire.txnTag("END") == Some("COMMIT"))
    assert(PgWire.txnTag("SELECT 1") == None)
  }

  test("SCRAM-SHA-256: full RFC 5802 exchange over the socket — right " +
      "password in, wrong password refused, server signature verified") {
    val server = PgWire.start(spark, user = user, password = pass,
      auth = PgWire.Scram)
    try {
      // the hand-rolled client completes the SASL exchange and VERIFIES
      // the ServerSignature (mutual auth) inside scramClient
      val c = new PgClient(server.port)
      c.startup(user)
      assert(c.authenticate(user, pass))
      assert(c.query("SELECT 41 AS x").rows == Seq(Seq(Some("41"))))
      // queryOnce (the library's own client face) speaks SCRAM too
      val (cols, rows) = PgWire.queryOnce("127.0.0.1", server.port,
        user, pass, "SELECT 42 AS y")
      assert(cols == Seq("y") && rows == Seq(Seq(Some("42"))))
      c.close()
      // wrong password: the proof fails verification at the server
      val bad = new PgClient(server.port)
      bad.startup(user)
      assert(!bad.authenticate(user, "wrong-password"))
      bad.close()
      // wrong USER refused even with the right password
      val badU = new PgClient(server.port)
      badU.startup("intruder")
      assert(!badU.authenticate("intruder", pass))
      badU.close()
      // a client that can't speak SASL (answers the SASL request with a
      // bare password message) is refused cleanly, not crashed
      val legacy = new PgClient(server.port)
      legacy.startup(user)
      val (tl, bl) = legacy.readMsg()
      assert(tl == 'R' && legacy.i32(bl, 0) == 10)
      legacy.msg('p', legacy.cstrBytes(pass)) // not a SASLInitialResponse
      val (te, _) = legacy.readMsg()
      assert(te == 'E') // clean 28P01 refusal
      legacy.sock.close()
      // and the server still serves (md5-era clients use an md5
      // endpoint: mechanism policy is per-endpoint, like pg_hba)
      val ok = new PgClient(server.port)
      ok.startup(user)
      assert(ok.authenticate(user, pass))
      ok.close()
    } finally server.stop()
  }

  test("binary result format (Bind format code 1): the 8 binary type " +
      "renderings round-trip value-equal to the text path") {
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user)
      assert(c.authenticate(user, pass))
      val sql = "SELECT CAST(7 AS INT) a, CAST(-8 AS BIGINT) b, " +
        "CAST(2.5 AS DOUBLE) c, true d, DATE'2026-03-05' e, " +
        "TIMESTAMP'2026-03-05 12:30:45' f, CAST(-1.25 AS DECIMAL(10,2)) g, " +
        "CAST(3 AS SMALLINT) h, CAST(1.5 AS FLOAT) i, 'txt' j"
      c.msg('P', c.cstrBytes("bf") ++ c.cstrBytes(sql) ++ Array[Byte](0, 0))
      // Bind with ONE result-format code = 1 (applies to all columns)
      c.msg('B', c.cstrBytes("") ++ c.cstrBytes("bf") ++
        Array[Byte](0, 0) ++ Array[Byte](0, 0) ++
        Array[Byte](0, 1, 0, 1))
      c.msg('D', "P".getBytes(UTF_8) ++ c.cstrBytes(""))
      c.msg('E', c.cstrBytes("") ++ Array[Byte](0, 0, 0, 0))
      c.msg('S', Array.emptyByteArray)
      assert(c.readMsg()._1 == '1')
      assert(c.readMsg()._1 == '2')
      val (tT, bT) = c.readMsg()
      assert(tT == 'T')
      // RowDescription's per-field format code must say 1 (binary)
      // layout per field: name\0 + i32 + i16 + i32 + i16 + i32 + i16
      var p = 2
      (0 until 10).foreach { _ =>
        val e = bT.indexOf(0.toByte, p); p = e + 1 + 16
        val fmt = ((bT(p) & 0xff) << 8) | (bT(p + 1) & 0xff)
        assert(fmt == 1, "RowDescription must declare binary format")
        p += 2
      }
      val (tD, bD) = c.readMsg()
      assert(tD == 'D')
      // parse the binary DataRow
      def i16(b: Array[Byte], o: Int) = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
      def i32(b: Array[Byte], o: Int) = (0 until 4).foldLeft(0)((a, k) =>
        (a << 8) | (b(o + k) & 0xff))
      def i64(b: Array[Byte], o: Int) = (0 until 8).foldLeft(0L)((a, k) =>
        (a << 8) | (b(o + k) & 0xff))
      var q = 2
      val fields = Seq.newBuilder[Array[Byte]]
      (0 until 10).foreach { _ =>
        val l = i32(bD, q); q += 4
        fields += bD.slice(q, q + l); q += l
      }
      val f = fields.result()
      assert(i32(f(0), 0) == 7)                          // int4
      assert(i64(f(1), 0) == -8L)                        // int8
      assert(java.lang.Double.longBitsToDouble(i64(f(2), 0)) == 2.5) // float8
      assert(f(3).sameElements(Array[Byte](1)))          // bool
      val pgDays = java.time.LocalDate.of(2026, 3, 5).toEpochDay - 10957
      assert(i32(f(4), 0) == pgDays.toInt)               // date, pg epoch
      val pgMicros = java.time.LocalDateTime.of(2026, 3, 5, 12, 30, 45)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L - 946684800000000L
      assert(i64(f(5), 0) == pgMicros)                   // timestamp, pg epoch
      // numeric -1.25: ndigits=2, weight=0, sign=0x4000, dscale=2,
      // digits [1, 2500] (base 10000, decimal-point aligned)
      assert(i16(f(6), 0) == 2 && i16(f(6), 2) == 0)
      assert(i16(f(6), 4) == 0x4000 && i16(f(6), 6) == 2)
      assert(i16(f(6), 8) == 1 && i16(f(6), 10) == 2500)
      assert(i16(f(7), 0) == 3)                          // int2
      assert(java.lang.Float.intBitsToFloat(i32(f(8), 0)) == 1.5f) // float4
      assert(new String(f(9), UTF_8) == "txt")           // text = raw bytes
      val fin = c.collectResult()
      assert(fin.error.isEmpty && fin.tag == "SELECT 1")

      // per-column formats: [text, binary] over a 2-column result
      c.msg('P', c.cstrBytes("bf2") ++
        c.cstrBytes("SELECT 5 AS a, 6 AS b") ++ Array[Byte](0, 0))
      c.msg('B', c.cstrBytes("") ++ c.cstrBytes("bf2") ++
        Array[Byte](0, 0) ++ Array[Byte](0, 0) ++
        Array[Byte](0, 2, 0, 0, 0, 1)) // 2 codes: 0 then 1
      c.msg('E', c.cstrBytes("") ++ Array[Byte](0, 0, 0, 0))
      c.msg('S', Array.emptyByteArray)
      assert(c.readMsg()._1 == '1')
      assert(c.readMsg()._1 == '2')
      // no Describe was sent → the row shape back-fills at Execute
      assert(c.readMsg()._1 == 'T')
      val (tD2, bD2) = c.readMsg()
      assert(tD2 == 'D')
      val aLen = i32(bD2, 2)
      assert(new String(bD2.slice(6, 6 + aLen), UTF_8) == "5") // text
      assert(i32(bD2, 6 + aLen + 4) == 6)                      // binary
      val fin2 = c.collectResult()
      assert(fin2.error.isEmpty)

      // numeric binary unit coverage: zero, sub-one, and group-aligned
      def num(b: java.math.BigDecimal) = PgWire.numericBinary(b)
      val z = num(new java.math.BigDecimal("0.00"))
      assert(i16(z, 0) == 0 && i16(z, 4) == 0 && i16(z, 6) == 2)
      val half = num(new java.math.BigDecimal("0.5"))
      assert(i16(half, 0) == 1 && i16(half, 2) == 0xffff) // weight -1
      assert(i16(half, 8) == 5000)
      val big = num(new java.math.BigDecimal("12345.6"))
      assert(i16(big, 0) == 3 && i16(big, 2) == 1 && i16(big, 6) == 1)
      assert(i16(big, 8) == 1 && i16(big, 10) == 2345 && i16(big, 12) == 6000)

      // negative-epoch fractional timestamp: floorDiv conversion (a
      // truncating getTime/1000 would render one second high).
      // 1969-12-31 23:59:59.5 UTC = -500 ms → -500000 micros
      val preEpoch = new java.sql.Timestamp(-500L)
      assert(preEpoch.getNanos == 500000000)
      val bts = PgWire.binaryRender(preEpoch,
        org.apache.spark.sql.types.TimestampType)
      assert(i64(bts, 0) == -500000L - 946684800000000L)
      c.close()
    } finally server.stop()
  }

  test("ANSI scope: user statements keep ANSI semantics (invalid cast " +
      "errors, as pg does); only catalog introspection gets pg's legacy " +
      "''-coercion") {
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user)
      assert(c.authenticate(user, pass))
      // (1) a normal statement with an invalid cast must ERROR (ANSI on,
      // like real pg raising 22P02) — the r11 session-wide legacy flip
      // would have answered NULL
      val bad = c.query("SELECT CAST('' AS INT)")
      assert(bad.error.isDefined, "invalid cast must error under ANSI")
      // (2) a catalog query mixing a bare '' with a numeric branch —
      // psql's `THEN '' ELSE oid::text` shape, whose ::text the rewrite
      // drops, leaving ''-vs-bigint: ANSI would cast '' to bigint and
      // throw at constant folding; pg's UNKNOWN coercion (scoped legacy
      // mode) strings the oid instead
      val cat = c.query("SELECT CASE WHEN relkind = 'Z' THEN '' ELSE " +
        "oid::text END AS k FROM pg_catalog.pg_class LIMIT 1")
      assert(cat.error.isEmpty, s"catalog query failed: ${cat.error}")
      // (3) and the flip did NOT leak: the same connection still errors
      // on the user statement afterwards
      val bad2 = c.query("SELECT CAST('' AS INT)")
      assert(bad2.error.isDefined, "ANSI flip leaked out of catalog scope")
      c.close()
    } finally server.stop()
  }

  test("portal suspension (Execute maxRows): batches + PortalSuspended, " +
      "resume across Sync, completed portal stays at end — pgjdbc's " +
      "setFetchSize protocol") {
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user)
      assert(c.authenticate(user, pass))
      c.msg('P', c.cstrBytes("fs") ++ c.cstrBytes(
        "SELECT id FROM range(10) ORDER BY id") ++ Array[Byte](0, 0))
      c.msg('B', c.cstrBytes("p1") ++ c.cstrBytes("fs") ++
        Array[Byte](0, 0, 0, 0, 0, 0))
      c.msg('D', "P".getBytes(UTF_8) ++ c.cstrBytes("p1"))
      // Execute with maxRows = 4 → 4 DataRows then PortalSuspended
      c.msg('E', c.cstrBytes("p1") ++ Array[Byte](0, 0, 0, 4))
      c.msg('H', Array.emptyByteArray) // Flush
      assert(c.readMsg()._1 == '1')
      assert(c.readMsg()._1 == '2')
      assert(c.readMsg()._1 == 'T')
      (0 until 4).foreach(_ => assert(c.readMsg()._1 == 'D'))
      assert(c.readMsg()._1 == 's') // PortalSuspended
      // resume: next Execute continues from row 5 (pgjdbc sends Sync
      // between fetches; the portal survives it here — autocommit
      // sessions have no txn boundary to destroy it at)
      c.msg('E', c.cstrBytes("p1") ++ Array[Byte](0, 0, 0, 4))
      c.msg('H', Array.emptyByteArray)
      val batch2 = (0 until 4).map { _ =>
        val (t, b) = c.readMsg(); assert(t == 'D')
        // single int8 col, text format: payload = i16 ncols + i32 len + text
        new String(b.drop(6), UTF_8)
      }
      assert(batch2 == Seq("4", "5", "6", "7"))
      assert(c.readMsg()._1 == 's')
      // final batch: fewer rows than maxRows → CommandComplete with the
      // TOTAL row count
      c.msg('E', c.cstrBytes("p1") ++ Array[Byte](0, 0, 0, 4))
      c.msg('H', Array.emptyByteArray)
      (0 until 2).foreach(_ => assert(c.readMsg()._1 == 'D'))
      val (tC, bC) = c.readMsg()
      assert(tC == 'C' &&
        new String(bC, 0, bC.indexOf(0.toByte), UTF_8) == "SELECT 10")
      // a COMPLETED portal stays at end: re-Execute returns zero rows
      c.msg('E', c.cstrBytes("p1") ++ Array[Byte](0, 0, 0, 4))
      c.msg('S', Array.emptyByteArray)
      val fin = c.collectResult()
      assert(fin.error.isEmpty && fin.rows.isEmpty && fin.tag == "SELECT 0")
      // the connection still serves
      assert(c.query("SELECT 51 AS x").rows == Seq(Seq(Some("51"))))
      c.close()
    } finally server.stop()
  }

  test("cleartext auth mode and bind/tag/render unit behavior") {
    val server = PgWire.start(spark, user = user, password = pass,
      auth = PgWire.Cleartext)
    try {
      val c = new PgClient(server.port)
      c.startup(user)
      assert(c.authenticate(user, pass))
      assert(c.query("SELECT 1 AS one").rows == Seq(Seq(Some("1"))))
      c.close()
      val bad = new PgClient(server.port)
      bad.startup(user)
      assert(!bad.authenticate(user, "nope"))
      bad.close()
    } finally server.stop()

    // $10 never clobbered by $1's substitution; quotes escape
    assert(PgWire.bindParams("a $1 b $10",
      (1 to 10).map(i => Some(i.toString))) == "a '1' b '10'")
    assert(PgWire.bindParams("x = $1", Seq(Some("o'brien"))) == "x = 'o''brien'")
    assert(PgWire.bindParams("x = $1", Seq(None)) == "x = NULL")
    assert(PgWire.countParams("a $1 $3 b") == 3)
    assert(PgWire.countParams("no params") == 0)
    // $n inside string literals, quoted identifiers, and comments is
    // LITERAL TEXT (pg's lexing) — never counted, never substituted
    assert(PgWire.countParams("SELECT '$1' AS lit") == 0)
    assert(PgWire.countParams("SELECT \"$1\" FROM t -- uses $2\n") == 0)
    assert(PgWire.countParams("SELECT /* $3 */ $1") == 1)
    assert(PgWire.bindParams("SELECT '$1', $1 AS p", Seq(Some("v"))) ==
      "SELECT '$1', 'v' AS p")
    assert(PgWire.bindParams("-- $1\nSELECT $1", Seq(Some("a"))) ==
      "-- $1\nSELECT 'a'")
    assert(PgWire.bindParams("SELECT 'it''s $1', $2",
      Seq(Some("x"), Some("y"))) == "SELECT 'it''s $1', 'y'")
    assert(PgWire.tagFor("insert into t values (1)") == "INSERT 0 0")
    assert(PgWire.tagFor("CREATE TABLE x (i INT)") == "CREATE TABLE")
    assert(PgWire.tagFor("VACUUM lake.t") == "VACUUM")
    assert(PgWire.render(java.lang.Boolean.TRUE) == "t")
    assert(PgWire.render(Array[Byte](0x0a, (0xff).toByte)) == "\\x0aff")
    assert(PgWire.render(new java.math.BigDecimal("2.50")) == "2.50")
    assert(PgWire.render(Seq(1, 2, 3)) == "{1,2,3}")

    // statement splitting: top-level semicolons only
    assert(PgWire.splitStatements("a; b ;c") == Seq("a", "b", "c"))
    assert(PgWire.splitStatements("SELECT 'a;b'; x") ==
      Seq("SELECT 'a;b'", "x"))
    assert(PgWire.splitStatements("SELECT 'it''s; here'") ==
      Seq("SELECT 'it''s; here'"))
    assert(PgWire.splitStatements("SELECT \"we;ird\" FROM t") ==
      Seq("SELECT \"we;ird\" FROM t"))
    assert(PgWire.splitStatements("a -- c;c\n; b") == Seq("a -- c;c", "b"))
    assert(PgWire.splitStatements("a /* ; /* ; */ ; */; b") ==
      Seq("a /* ; /* ; */ ; */", "b"))
    assert(PgWire.splitStatements("  ;;  ") == Nil)
  }

  test("transaction blocks: atomic multi-table COMMIT, ROLLBACK discards, " +
      "snapshot + read-your-writes, 25P02 poisoning, dropped connection " +
      "rolls back, extended-protocol staging") {
    import spark.implicits._
    import graft.sources.{CatalogOps, CommitLog}
    val rootA = java.nio.file.Files.createTempDirectory("graft-pgtxnA").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-pgtxnB").toString
    CommitLog.append(Seq((1L, "a1"), (2L, "a2")).toDF("k", "s"), rootA)
    CommitLog.append(Seq((1L, "b1")).toDF("k", "s"), rootB)
    CatalogOps.createCommitLogTable(spark, "pgtxndb", "ta", rootA)
    CatalogOps.createCommitLogTable(spark, "pgtxndb", "tb", rootB)
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user); assert(c.authenticate(user, pass))
      assert(c.query("USE pgtxndb").error.isEmpty)
      assert(c.lastStatus == 'I')
      val vA0 = CommitLog.currentVersion(rootA).get
      val vB0 = CommitLog.currentVersion(rootB).get

      // ---- BEGIN opens a real block; ReadyForQuery says 'T'
      val b0 = c.query("BEGIN")
      assert(b0.error.isEmpty && b0.tag == "BEGIN" && c.lastStatus == 'T')
      val i1 = c.query("INSERT INTO ta SELECT 10 AS k, 'a10' AS s")
      assert(i1.error.isEmpty, s"stage failed: ${i1.error}")
      assert(i1.tag == "INSERT 0 1")
      // read-your-writes through the shadow view
      val ryw = c.query("SELECT count(*) AS n FROM ta")
      assert(ryw.rows == Seq(Seq(Some("3"))), s"read-your-writes: ${ryw.rows}")
      // nothing committed yet: version and content untouched outside
      assert(CommitLog.currentVersion(rootA).get == vA0)
      assert(CommitLog.read(spark, rootA).count() == 2)
      // snapshot isolation: a concurrent commit to tb is INVISIBLE in-block
      CommitLog.append(Seq((9L, "b9")).toDF("k", "s"), rootB)
      val snap = c.query("SELECT count(*) AS n FROM tb")
      assert(snap.rows == Seq(Seq(Some("1"))),
        s"pinned read saw a concurrent commit: ${snap.rows}")
      val i2 = c.query("INSERT INTO tb SELECT 20 AS k, 'b20' AS s")
      assert(i2.error.isEmpty && i2.tag == "INSERT 0 1")
      val cm = c.query("COMMIT")
      assert(cm.error.isEmpty && cm.tag == "COMMIT" && c.lastStatus == 'I')
      // exactly ONE new commit per table (the txn prepare), atomic counts
      assert(CommitLog.currentVersion(rootA).get == vA0 + 1)
      assert(CommitLog.currentVersion(rootB).get == vB0 + 2) // b9 + txn
      assert(CommitLog.read(spark, rootA).count() == 3)
      assert(CommitLog.read(spark, rootB).count() == 3) // b1 + b9 + b20
      val vA1 = vA0 + 1
      // the head commits are txn-append prepares under one marker
      val histA = spark.sql("DESCRIBE HISTORY pgtxndb.ta").collect()
      assert(histA.exists(r => r.getLong(0) == vA1 &&
        r.getString(1) == "txn-append"), histA.mkString("; "))

      // ---- ROLLBACK discards staged work entirely
      val (rres, rerr) = c.queryMulti(
        "BEGIN; INSERT INTO ta SELECT 11, 'a11'; ROLLBACK")
      assert(rerr.isEmpty, s"$rerr")
      assert(rres.map(_._3) == Seq("BEGIN", "INSERT 0 1", "ROLLBACK"))
      assert(CommitLog.currentVersion(rootA).get == vA1)
      assert(CommitLog.read(spark, rootA).count() == 3)

      // ---- a failed block poisons until end; COMMIT answers ROLLBACK
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query("SELECT definitely broken FROM").error.isDefined)
      assert(c.lastStatus == 'E')
      val poisoned = c.query("SELECT 1")
      assert(poisoned.error.exists(_.contains("25P02")), s"${poisoned.error}")
      val cm2 = c.query("COMMIT")
      assert(cm2.error.isEmpty && cm2.tag == "ROLLBACK" && c.lastStatus == 'I')

      // ---- DELETE stages transactionally (r13); ROLLBACK discards it;
      // MERGE still refuses loudly (0A000), never half-honors
      assert(c.query("BEGIN").tag == "BEGIN")
      val del = c.query("DELETE FROM ta WHERE k = 1")
      assert(del.error.isEmpty && del.tag == "DELETE 1", s"${del.error}")
      val mrg = c.query("MERGE INTO ta USING ta tb ON ta.k = tb.k " +
        "WHEN MATCHED THEN DELETE")
      assert(mrg.error.exists(_.contains("0A000")), s"${mrg.error}")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
      assert(CommitLog.read(spark, rootA).count() == 3)

      // ---- the pgjdbc autocommit=off shape as ONE script buffer
      val (sres, serr) = c.queryMulti("BEGIN; INSERT INTO ta SELECT 12, " +
        "'a12'; INSERT INTO tb SELECT 21, 'b21'; COMMIT")
      assert(serr.isEmpty, s"$serr")
      assert(sres.map(_._3) ==
        Seq("BEGIN", "INSERT 0 1", "INSERT 0 1", "COMMIT"))
      assert(CommitLog.currentVersion(rootA).get == vA1 + 1)
      assert(CommitLog.read(spark, rootA).count() == 4)
      assert(CommitLog.read(spark, rootB).count() == 4)
      c.close()

      // ---- a dropped connection mid-block rolls back (teardown path);
      // a coordinator crash BETWEEN prepare and marker is
      // CommitLogMultiTxnSpec's force-abort battery — COMMIT rides
      // multiAppend's graceMs machinery unchanged
      val c2 = new PgClient(server.port)
      c2.startup(user); assert(c2.authenticate(user, pass))
      assert(c2.query("USE pgtxndb").error.isEmpty)
      assert(c2.query("BEGIN").tag == "BEGIN")
      assert(c2.query("INSERT INTO ta SELECT 99, 'zz'").tag == "INSERT 0 1")
      c2.sock.close() // no COMMIT, no Terminate — a client crash
      Thread.sleep(300)
      assert(CommitLog.currentVersion(rootA).get == vA1 + 1)
      assert(CommitLog.read(spark, rootA).count() == 4)

      // ---- extended protocol: BEGIN/staged INSERT/COMMIT via
      // Parse+Bind+Execute (pgjdbc's autocommit=off framing)
      val c3 = new PgClient(server.port)
      c3.startup(user); assert(c3.authenticate(user, pass))
      assert(c3.query("USE pgtxndb").error.isEmpty)
      def extTag(sql: String): String = {
        c3.msg('P', c3.cstrBytes("") ++ c3.cstrBytes(sql) ++ Array[Byte](0, 0))
        c3.msg('B', c3.cstrBytes("") ++ c3.cstrBytes("") ++
          Array[Byte](0, 0) ++ Array[Byte](0, 0) ++ Array[Byte](0, 0))
        c3.msg('E', c3.cstrBytes("") ++ Array[Byte](0, 0, 0, 0))
        c3.msg('S', Array.emptyByteArray)
        var tag = ""; var done = false
        while (!done) {
          val (t, b) = c3.readMsg()
          t match {
            case 'C' => tag = new String(b, 0, b.indexOf(0.toByte), UTF_8)
            case 'E' => tag = "ERROR " + new String(b, UTF_8)
            case 'Z' => done = true
            case _ =>
          }
        }
        tag
      }
      assert(extTag("BEGIN") == "BEGIN")
      assert(extTag("INSERT INTO ta SELECT 13, 'a13'") == "INSERT 0 1")
      // invisible until COMMIT
      assert(CommitLog.read(spark, rootA).count() == 4)
      assert(extTag("COMMIT") == "COMMIT")
      assert(CommitLog.currentVersion(rootA).get == vA1 + 2)
      assert(CommitLog.read(spark, rootA).count() == 5)
      // COPY refuses on the extended protocol (simple-query only)
      assert(extTag("COPY ta TO STDOUT").startsWith("ERROR"))
      c3.close()

      // ---- SAVEPOINT battery: prefix-marks over the staging buffers
      // (pgjdbc's setSavepoint/rollback(sp)/releaseSavepoint verbs);
      // SET TRANSACTION acknowledges (the snapshot cut IS the isolation)
      val c4 = new PgClient(server.port)
      c4.startup(user); assert(c4.authenticate(user, pass))
      assert(c4.query("USE pgtxndb").error.isEmpty)
      // outside any block: pg's 25P01
      val spOut = c4.query("SAVEPOINT nope")
      assert(spOut.error.exists(_.contains("25P01")), s"${spOut.error}")
      val vA3 = CommitLog.currentVersion(rootA).get
      val nA3 = CommitLog.read(spark, rootA).count()
      assert(c4.query("BEGIN").tag == "BEGIN")
      assert(c4.query(
        "SET TRANSACTION ISOLATION LEVEL SERIALIZABLE").tag == "SET")
      assert(c4.query("INSERT INTO ta SELECT 31, 'a31'").tag == "INSERT 0 1")
      assert(c4.query("SAVEPOINT sp1").tag == "SAVEPOINT")
      assert(c4.query("INSERT INTO ta SELECT 32, 'a32'").tag == "INSERT 0 1")
      def taCount(): Long = c4.query("SELECT count(*) AS n FROM ta")
        .rows.head.head.get.toLong
      assert(taCount() == nA3 + 2) // read-your-writes through the shadow
      // unknown savepoint: 3B001, and the error poisons the block
      val unk = c4.query("ROLLBACK TO SAVEPOINT no_such_sp")
      assert(unk.error.exists(_.contains("3B001")), s"${unk.error}")
      assert(c4.lastStatus == 'E')
      val gated = c4.query("SELECT 1")
      assert(gated.error.exists(_.contains("25P02")), s"${gated.error}")
      // ROLLBACK TO a real savepoint RECOVERS the failed block (pg's
      // error-recovery contract) and truncates the staging back to it
      val rb = c4.query("ROLLBACK TO SAVEPOINT sp1")
      assert(rb.error.isEmpty && rb.tag == "ROLLBACK", s"${rb.error}")
      assert(c4.lastStatus == 'T')
      assert(taCount() == nA3 + 1) // a32 gone, a31 kept
      assert(c4.query("RELEASE SAVEPOINT sp1").tag == "RELEASE")
      assert(c4.query("COMMIT").tag == "COMMIT")
      assert(CommitLog.currentVersion(rootA).get == vA3 + 1)
      assert(CommitLog.read(spark, rootA).count() == nA3 + 1)
      assert(CommitLog.read(spark, rootA)
        .where("k = 32").count() == 0) // rolled-back batch never landed
      c4.close()
    } finally server.stop()
  }

  test("transactional DELETE/UPDATE: ordered-op fold, one atomic commit, " +
      "rollback/savepoint interplay, snapshot-isolation 40001") {
    import graft.sources.{CatalogOps, CommitLog}
    val root = java.nio.file.Files.createTempDirectory("graft-pgdml").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-pgdmlb").toString
    import spark.implicits._
    CommitLog.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "s", "v"), root)
    CommitLog.append(Seq((100L, "z")).toDF("k", "s"), rootB)
    CatalogOps.createCommitLogTable(spark, "pgdmldb", "t", root)
    CatalogOps.createCommitLogTable(spark, "pgdmldb", "tb", rootB)
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user); assert(c.authenticate(user, pass))
      assert(c.query("USE pgdmldb").error.isEmpty)
      val v0 = CommitLog.currentVersion(root).get
      val vB0 = CommitLog.currentVersion(rootB).get

      // ---- UPDATE + DELETE + INSERT in one block, multi-table, atomic
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query("UPDATE t SET v = v + 1 WHERE k <= 2").tag == "UPDATE 2")
      assert(c.query("DELETE FROM t WHERE k = 3").tag == "DELETE 1")
      assert(c.query("INSERT INTO t SELECT 5, 'e', 50.0").tag == "INSERT 0 1")
      // read-your-writes sees the folded state mid-block
      val mid = c.query("SELECT k, v FROM t ORDER BY k")
      assert(mid.rows.map(r => (r(0).get, r(1).get)) ==
        Seq(("1", "11.0"), ("2", "21.0"), ("4", "40.0"), ("5", "50.0")), mid.rows)
      // a row inserted in the SAME block can be deleted again
      assert(c.query("DELETE FROM t WHERE k = 5").tag == "DELETE 1")
      assert(c.query("INSERT INTO t SELECT 6, 'f', 60.0").tag == "INSERT 0 1")
      assert(c.query("INSERT INTO tb SELECT 101, 'y'").tag == "INSERT 0 1")
      // nothing visible outside the block yet
      assert(CommitLog.read(spark, root).count() == 4)
      assert(CommitLog.currentVersion(root).get == v0)
      assert(c.query("COMMIT").tag == "COMMIT")
      // exactly ONE commit per table — the whole block is one fold
      assert(CommitLog.currentVersion(root).get == v0 + 1)
      assert(CommitLog.currentVersion(rootB).get == vB0 + 1)
      def content() = CommitLog.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(content() == Set((1L, "a", 11.0), (2L, "b", 21.0),
        (4L, "d", 40.0), (6L, "f", 60.0)), content())
      assert(CommitLog.read(spark, rootB).count() == 2)

      // ---- ROLLBACK leaves no trace of DML
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query("UPDATE t SET v = 0 WHERE k >= 1").tag == "UPDATE 4")
      assert(c.query("DELETE FROM t WHERE k = 1").tag == "DELETE 1")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
      assert(CommitLog.currentVersion(root).get == v0 + 1)
      assert(content() == Set((1L, "a", 11.0), (2L, "b", 21.0),
        (4L, "d", 40.0), (6L, "f", 60.0)))

      // ---- savepoint truncates DML ops too
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query("DELETE FROM t WHERE k = 4").tag == "DELETE 1")
      assert(c.query("SAVEPOINT s1").tag == "SAVEPOINT")
      assert(c.query("UPDATE t SET v = 99 WHERE k = 2").tag == "UPDATE 1")
      assert(c.query("ROLLBACK TO SAVEPOINT s1").tag == "ROLLBACK")
      assert(c.query("COMMIT").tag == "COMMIT")
      assert(content() == Set((1L, "a", 11.0), (2L, "b", 21.0),
        (6L, "f", 60.0)), content()) // k=4 deleted, k=2 update rolled back

      // ---- snapshot isolation: a concurrent commit aborts the block (40001)
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query("UPDATE t SET v = 1 WHERE k = 1").tag == "UPDATE 1")
      CommitLog.append(Seq((7L, "g", 70.0)).toDF("k", "s", "v"), root)
      val conflicted = c.query("COMMIT")
      assert(conflicted.error.exists(_.contains("40001")), s"${conflicted.error}")
      assert(c.lastStatus == 'I') // the failed COMMIT still closed the block
      assert(content() == Set((1L, "a", 11.0), (2L, "b", 21.0),
        (6L, "f", 60.0), (7L, "g", 70.0))) // only the concurrent append landed

      // ---- a DML block whose fold nets to NOTHING publishes no commit
      val vN0 = CommitLog.currentVersion(root).get
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query("DELETE FROM t WHERE k = 9999").tag == "DELETE 0")
      assert(c.query("UPDATE t SET v = 1 WHERE k = 9999").tag == "UPDATE 0")
      assert(c.query("COMMIT").tag == "COMMIT")
      assert(CommitLog.currentVersion(root).get == vN0)

      // ---- boundaries: correlated subqueries, nondeterminism,
      // nested/duplicate SET targets all refuse loudly (uncorrelated
      // subqueries are statement-time-evaluated since r14 — see the
      // dedicated subquery-DML test)
      assert(c.query("BEGIN").tag == "BEGIN")
      val sub = c.query(
        "DELETE FROM t WHERE EXISTS (SELECT 1 FROM tb WHERE tb.k = t.k)")
      assert(sub.error.exists(_.contains("0A000")), s"${sub.error}")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
      assert(c.query("BEGIN").tag == "BEGIN")
      val nd = c.query("UPDATE t SET v = rand() WHERE k = 1")
      assert(nd.error.exists(e => e.contains("0A000") &&
        e.contains("rand")), s"${nd.error}")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
      assert(c.query("BEGIN").tag == "BEGIN")
      val nested = c.query("UPDATE t SET bogus.v = 1 WHERE k = 1")
      assert(nested.error.exists(_.contains("0A000")), s"${nested.error}")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
      assert(c.query("BEGIN").tag == "BEGIN")
      val dup = c.query("UPDATE t SET v = 1, v = 2 WHERE k = 1")
      assert(dup.error.exists(_.contains("multiple assignments")),
        s"${dup.error}")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
      // malformed savepoint verbs are syntax errors, never a savepoint
      // literally named "savepoint"
      assert(c.query("BEGIN").tag == "BEGIN")
      val mal = c.query("RELEASE SAVEPOINT")
      assert(mal.error.isDefined &&
        !mal.error.exists(_.contains("3B001")), s"${mal.error}")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
      c.close()

      // ---- the pgjdbc autocommit=off shape: DML + savepoint verbs via
      // Parse/Bind/Execute (extended protocol)
      val c2 = new PgClient(server.port)
      c2.startup(user); assert(c2.authenticate(user, pass))
      assert(c2.query("USE pgdmldb").error.isEmpty)
      def extTag(sql: String): String = {
        c2.msg('P', c2.cstrBytes("") ++ c2.cstrBytes(sql) ++ Array[Byte](0, 0))
        c2.msg('B', c2.cstrBytes("") ++ c2.cstrBytes("") ++
          Array[Byte](0, 0) ++ Array[Byte](0, 0) ++ Array[Byte](0, 0))
        c2.msg('E', c2.cstrBytes("") ++ Array[Byte](0, 0, 0, 0))
        c2.msg('S', Array.emptyByteArray)
        var tag = ""; var done = false
        while (!done) {
          val (t, b) = c2.readMsg()
          t match {
            case 'C' => tag = new String(b, 0, b.indexOf(0.toByte), UTF_8)
            case 'E' => tag = "ERROR " + new String(b, UTF_8)
            case 'Z' => done = true
            case _ =>
          }
        }
        tag
      }
      val vE0 = CommitLog.currentVersion(root).get
      assert(extTag("BEGIN") == "BEGIN")
      assert(extTag("UPDATE t SET v = v + 0.5 WHERE k = 6") == "UPDATE 1")
      assert(extTag("SAVEPOINT PGJDBC_AUTOSAVE") == "SAVEPOINT")
      assert(extTag("DELETE FROM t WHERE k = 1") == "DELETE 1")
      assert(extTag("ROLLBACK TO SAVEPOINT PGJDBC_AUTOSAVE") == "ROLLBACK")
      assert(extTag("RELEASE SAVEPOINT PGJDBC_AUTOSAVE") == "RELEASE")
      assert(extTag("COMMIT") == "COMMIT")
      assert(CommitLog.currentVersion(root).get == vE0 + 1)
      val afterExt = CommitLog.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toMap
      assert(afterExt(6L) == 60.5, afterExt) // the UPDATE landed
      assert(afterExt.contains(1L)) // the rolled-back DELETE did not
      c2.close()
    } finally server.stop()
  }

  test("transactional subquery DML is STATEMENT-TIME: a row landing in " +
      "the subquery's source mid-block never changes the delete set; " +
      "scalar/EXISTS evaluate against the pin; correlated refuses") {
    import graft.sources.{CatalogOps, CommitLog}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-pgsubq").toString
    val srcRoot = java.nio.file.Files.createTempDirectory("graft-pgsubqs").toString
    CommitLog.append((1L to 6L).map(k => (k, s"s$k", k.toDouble))
      .toDF("k", "s", "v"), root)
    CommitLog.append(Seq((1L, "x"), (2L, "y")).toDF("k", "tag"), srcRoot)
    CatalogOps.createCommitLogTable(spark, "pgsubqdb", "t", root)
    CatalogOps.createCommitLogTable(spark, "pgsubqdb", "src", srcRoot)
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user); assert(c.authenticate(user, pass))
      assert(c.query("USE pgsubqdb").error.isEmpty)
      val v0 = CommitLog.currentVersion(root).get

      assert(c.query("BEGIN").tag == "BEGIN")
      // the IN-set evaluates NOW against the pinned cut: {1, 2}
      assert(c.query(
        "DELETE FROM t WHERE k IN (SELECT k FROM src)").tag == "DELETE 2")
      // a row lands in the subquery's source MID-BLOCK (external writer)
      CommitLog.append(Seq((3L, "z")).toDF("k", "tag"), srcRoot)
      // scalar subquery also reads the PIN: count is 2, not 3
      assert(c.query(
        "UPDATE t SET v = (SELECT count(*) FROM src) + 0.0 WHERE k = 4")
        .tag == "UPDATE 1")
      // EXISTS against the pin
      assert(c.query(
        "DELETE FROM t WHERE EXISTS (SELECT 1 FROM src WHERE k = 999)")
        .tag == "DELETE 0")
      assert(c.query("COMMIT").tag == "COMMIT")
      assert(CommitLog.currentVersion(root).get == v0 + 1)
      val after = CommitLog.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toMap
      // k=3 SURVIVED: the mid-block insert into src did not grow the
      // delete set (pg statement-time semantics)
      assert(after.keySet == Set(3L, 4L, 5L, 6L), after)
      assert(after(4L) == 2.0, s"scalar subquery must see the pin: $after")

      // ROLLBACK leaves no trace
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query(
        "DELETE FROM t WHERE k IN (SELECT k FROM src)").tag == "DELETE 1")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
      assert(CommitLog.read(spark, root).count() == 4)

      // NOT IN over an EMPTY subquery result is TRUE (IN → literal FALSE)
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query(
        "DELETE FROM t WHERE k NOT IN (SELECT k FROM src WHERE k > 500)")
        .tag == "DELETE 4")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")

      // read-your-writes: the block's OWN staged insert into the source
      // table IS visible to a later subquery (shadow views serve it)
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query("INSERT INTO src SELECT 5, 'w'").tag == "INSERT 0 1")
      assert(c.query(
        "DELETE FROM t WHERE k IN (SELECT k FROM src)").tag == "DELETE 2")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")

      // a scalar subquery returning >1 row is an error (pg 21000 shape)
      assert(c.query("BEGIN").tag == "BEGIN")
      val multi = c.query("UPDATE t SET v = (SELECT k FROM src) WHERE k = 4")
      assert(multi.error.exists(_.contains("more than one row")),
        s"${multi.error}")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
    } finally server.stop()
  }

  test("transactional MERGE: statement-time source, ordered fold at " +
      "COMMIT, read-your-writes, rollback/savepoint, 40001") {
    import graft.sources.{CatalogOps, CommitLog}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-pgmerge").toString
    val srcRoot = java.nio.file.Files.createTempDirectory("graft-pgmergesrc").toString
    CommitLog.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v"), root)
    CommitLog.append(Seq((2L, "b2", 200.0), (4L, "d4", 400.0))
      .toDF("k", "s", "v"), srcRoot)
    CatalogOps.createCommitLogTable(spark, "pgmergedb", "t", root)
    CatalogOps.createCommitLogTable(spark, "pgmergedb", "msrc", srcRoot)
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user); assert(c.authenticate(user, pass))
      assert(c.query("USE pgmergedb").error.isEmpty)
      val v0 = CommitLog.currentVersion(root).get
      val merge =
        "MERGE INTO t USING msrc src ON t.k = src.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"

      // ---- upsert merge inside a block: staged, read-your-writes, ONE commit
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query(merge).tag == "MERGE 2") // 1 update + 1 insert
      val mid = c.query("SELECT k, s, v FROM t ORDER BY k")
      assert(mid.rows.map(r => (r(0).get, r(1).get, r(2).get)) == Seq(
        ("1", "a", "10.0"), ("2", "b2", "200.0"), ("3", "c", "30.0"),
        ("4", "d4", "400.0")), mid.rows)
      // the source frame was evaluated at STATEMENT time: a mid-block
      // external append to msrc must not change what COMMIT folds
      CommitLog.append(Seq((9L, "late", 900.0)).toDF("k", "s", "v"), srcRoot)
      // nothing visible outside yet
      assert(CommitLog.read(spark, root).count() == 3)
      // ordered fold: DML after the merge acts on the merged state
      assert(c.query("DELETE FROM t WHERE k = 1").tag == "DELETE 1")
      assert(c.query("COMMIT").tag == "COMMIT")
      assert(CommitLog.currentVersion(root).get == v0 + 1)
      def content() = CommitLog.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(content() == Set((2L, "b2", 200.0), (3L, "c", 30.0),
        (4L, "d4", 400.0)), content())

      // ---- ROLLBACK leaves no trace of a staged merge
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query(
        "MERGE INTO t USING (SELECT CAST(3 AS BIGINT) AS k, 'zz' AS s, " +
          "CAST(0 AS DOUBLE) AS v) src ON t.k = src.k " +
          "WHEN MATCHED THEN UPDATE SET *").tag == "MERGE 1")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
      assert(content() == Set((2L, "b2", 200.0), (3L, "c", 30.0),
        (4L, "d4", 400.0)))

      // ---- savepoint truncates a staged merge
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query("UPDATE t SET v = v + 1 WHERE k = 3").tag == "UPDATE 1")
      assert(c.query("SAVEPOINT s1").tag == "SAVEPOINT")
      assert(c.query(
        "MERGE INTO t USING (SELECT CAST(8 AS BIGINT) AS k, 'h' AS s, " +
          "CAST(80 AS DOUBLE) AS v) src ON t.k = src.k " +
          "WHEN NOT MATCHED THEN INSERT *").tag == "MERGE 1")
      assert(c.query("ROLLBACK TO SAVEPOINT s1").tag == "ROLLBACK")
      assert(c.query("COMMIT").tag == "COMMIT")
      val afterSp = content()
      assert(afterSp == Set((2L, "b2", 200.0), (3L, "c", 31.0),
        (4L, "d4", 400.0)), afterSp) // update kept, merge rolled back

      // ---- WHEN MATCHED DELETE + BY SOURCE in one statement
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query(
        "MERGE INTO t USING (SELECT CAST(2 AS BIGINT) AS k, 'ignored' AS s, " +
          "CAST(0 AS DOUBLE) AS v, true AS del) src ON t.k = src.k " +
          "WHEN MATCHED AND src.del THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET k = src.k, s = src.s, v = src.v " +
          "WHEN NOT MATCHED BY SOURCE AND t.k > 3 THEN DELETE")
        .tag == "MERGE 2") // k=2 deleted (flag), k=4 deleted (by source)
      val midD = c.query("SELECT k FROM t ORDER BY k")
      assert(midD.rows.map(_(0).get) == Seq("3"), midD.rows)
      assert(c.query("ROLLBACK").tag == "ROLLBACK")

      // ---- snapshot isolation: concurrent commit on the TARGET → 40001
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query(
        "MERGE INTO t USING (SELECT CAST(7 AS BIGINT) AS k, 'g' AS s, " +
          "CAST(70 AS DOUBLE) AS v) src ON t.k = src.k " +
          "WHEN NOT MATCHED THEN INSERT *").tag == "MERGE 1")
      CommitLog.append(Seq((50L, "x", 5.0)).toDF("k", "s", "v"), root)
      val conflicted = c.query("COMMIT")
      assert(conflicted.error.exists(_.contains("40001")),
        s"${conflicted.error}")
      assert(content() == afterSp + ((50L, "x", 5.0)))

      // ---- refusals stay loud: schema evolution inside a block
      assert(c.query("BEGIN").tag == "BEGIN")
      val se = c.query(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING msrc src ON t.k = src.k " +
          "WHEN MATCHED THEN UPDATE SET *")
      assert(se.error.exists(_.contains("0A000")), s"${se.error}")
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
      c.close()
    } finally server.stop()
  }

  test("TEXT COPY round-trips a single-text-column table holding the " +
      "EMPTY STRING (interior empty lines are rows, not noise)") {
    import graft.sources.{CatalogOps, CommitLog}
    import spark.implicits._
    val rootS = java.nio.file.Files.createTempDirectory("graft-cpes").toString
    val rootD = java.nio.file.Files.createTempDirectory("graft-cped").toString
    CommitLog.append(Seq("", "x", null.asInstanceOf[String]).toDF("s"), rootS)
    CommitLog.append(Seq.empty[String].toDF("s"), rootD)
    CatalogOps.createCommitLogTable(spark, "cpesdb", "src1", rootS)
    CatalogOps.createCommitLogTable(spark, "cpesdb", "dst1", rootD)
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user); assert(c.authenticate(user, pass))
      val (pay, tag, err) = c.copyOut("COPY cpesdb.src1 TO STDOUT")
      assert(err.isEmpty && tag == "COPY 3", s"$err")
      assert(pay.split("\n", -1).count(_ == "") >= 2, pay) // ''-row + tail
      val (inTag, inErr) = c.copyIn("COPY cpesdb.dst1 FROM STDIN", pay)
      assert(inErr.isEmpty, s"$inErr")
      assert(inTag == "COPY 3") // the '' row survived (r13 review fix)
      val got = CommitLog.read(spark, rootD).collect()
        .map(r => Option(r.getString(0))).toSeq
      assert(got.size == 3 && got.toSet == Set(None, Some(""), Some("x")),
        got)
      c.close()
    } finally server.stop()
  }

  test("transaction read-your-writes on an initially-EMPTY commitlog " +
      "table (shadowed with no pinned version)") {
    import graft.sources.CommitLog
    val root = java.nio.file.Files.createTempDirectory("graft-pgtxne").toString
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user); assert(c.authenticate(user, pass))
      assert(c.query("CREATE DATABASE IF NOT EXISTS pgemptydb").error.isEmpty)
      assert(c.query("USE pgemptydb").error.isEmpty)
      assert(c.query("CREATE TABLE pgemptydb.te (k INT, s STRING) USING " +
        s"`graft-commitlog` OPTIONS (path '$root')").error.isEmpty)
      assert(CommitLog.currentVersion(root).isEmpty)
      assert(c.query("BEGIN").tag == "BEGIN")
      assert(c.query("INSERT INTO te SELECT 1, 'one'").tag == "INSERT 0 1")
      // the r12 advice finding: an empty table got NO shadow, so this
      // SELECT read the (empty) catalog table instead of the staging
      val r = c.query("SELECT k, s FROM te ORDER BY k")
      assert(r.error.isEmpty, s"${r.error}")
      assert(r.rows == Seq(Seq(Some("1"), Some("one"))), r.rows)
      assert(CommitLog.currentVersion(root).isEmpty) // still unpublished
      assert(c.query("COMMIT").tag == "COMMIT")
      assert(CommitLog.currentVersion(root).isDefined)
      assert(CommitLog.read(spark, root).count() == 1)
      c.close()
    } finally server.stop()
  }

  test("extended-protocol information_schema on a FRESH connection " +
      "refreshes the catalog views (rewritten-name touchesCatalog)") {
    import graft.sources.{CatalogOps, CommitLog}
    val root = java.nio.file.Files.createTempDirectory("graft-pgisx").toString
    CommitLog.append(spark.range(2).selectExpr("id AS k"), root)
    CatalogOps.createCommitLogTable(spark, "pgisxdb", "t1", root)
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user); assert(c.authenticate(user, pass))
      // NO prior simple query: Parse/Bind/Describe/Execute directly —
      // the stored statement text is the REWRITTEN form
      // (information_schema_tables), which must still trigger ensure()
      val sql = "SELECT table_name FROM information_schema.tables " +
        "WHERE table_schema = 'pgisxdb' ORDER BY 1"
      c.msg('P', c.cstrBytes("") ++ c.cstrBytes(sql) ++ Array[Byte](0, 0))
      c.msg('B', c.cstrBytes("") ++ c.cstrBytes("") ++
        Array[Byte](0, 0) ++ Array[Byte](0, 0) ++ Array[Byte](0, 0))
      c.msg('D', "P".getBytes(UTF_8) ++ c.cstrBytes(""))
      c.msg('E', c.cstrBytes("") ++ Array[Byte](0, 0, 0, 0))
      c.msg('S', Array.emptyByteArray)
      val r = c.collectResult()
      assert(r.error.isEmpty, s"${r.error}")
      assert(r.rows == Seq(Seq(Some("t1"))), r.rows)
      c.close()
    } finally server.stop()
  }

  test("COPY protocol: TO STDOUT text + csv/header, FROM STDIN as one " +
      "atomic commit, NULL/quote/newline fidelity, CopyFail aborts, " +
      "transaction participation") {
    import spark.implicits._
    import graft.sources.{CatalogOps, CommitLog}
    val rootS = java.nio.file.Files.createTempDirectory("graft-copyS").toString
    val rootD = java.nio.file.Files.createTempDirectory("graft-copyD").toString
    val rootD2 = java.nio.file.Files.createTempDirectory("graft-copyD2").toString
    val src = Seq(
      (1L, Option("plain"), Option(1.5)),
      (2L, Option("tab\there"), Option.empty[Double]),
      (3L, Option("line\nbreak"), Option(-2.25)),
      (4L, Option.empty[String], Option(0.5)),
      (5L, Option("quote\"and,comma"), Option(3.0)),
      (6L, Option(""), Option(4.0)) // empty string ≠ NULL
    ).toDF("k", "s", "v")
    CommitLog.append(src, rootS)
    CommitLog.append(src.limit(0), rootD)  // schema-only seeds
    CommitLog.append(src.limit(0), rootD2)
    CatalogOps.createCommitLogTable(spark, "pgcopydb", "src", rootS)
    CatalogOps.createCommitLogTable(spark, "pgcopydb", "dst", rootD)
    CatalogOps.createCommitLogTable(spark, "pgcopydb", "dst2", rootD2)
    val server = PgWire.start(spark, user = user, password = pass)
    try {
      val c = new PgClient(server.port)
      c.startup(user); assert(c.authenticate(user, pass))

      // ---- TEXT out: tab-delimited, \N nulls, escaped tab/newline
      val (tPay, tTag, tErr) = c.copyOut("COPY pgcopydb.src TO STDOUT")
      assert(tErr.isEmpty, s"$tErr")
      assert(tTag == "COPY 6")
      val tLines = tPay.split("\n").filter(_.nonEmpty).toSet
      assert(tLines == Set(
        "1\tplain\t1.5",
        "2\ttab\\there\t\\N",
        "3\tline\\nbreak\t-2.25",
        "4\t\\N\t0.5",
        "5\tquote\"and,comma\t3.0",
        "6\t\t4.0"), tLines.mkString("|"))

      // ---- CSV out with HEADER over a query source
      val (cPay, cTag, cErr) = c.copyOut("COPY (SELECT k, s, v FROM " +
        "pgcopydb.src) TO STDOUT WITH (FORMAT csv, HEADER)")
      assert(cErr.isEmpty && cTag == "COPY 6")
      val parsed = PgCopy.parseCsv(cPay, ',')
      assert(parsed.head == Seq(Some("k"), Some("s"), Some("v")))
      val body = parsed.drop(1).map(r => (r(0).get, r(1), r(2))).toSet
      assert(body.contains(("3", Some("line\nbreak"), Some("-2.25"))))
      assert(body.contains(("4", None, Some("0.5"))))          // NULL
      assert(body.contains(("6", Some(""), Some("4.0"))))      // "" kept
      assert(body.contains(("5", Some("quote\"and,comma"), Some("3.0"))))

      // ---- TEXT round trip into dst: ONE atomic commit, equal content
      val vD0 = CommitLog.currentVersion(rootD).get
      val (inTag, inErr) = c.copyIn("COPY pgcopydb.dst FROM STDIN", tPay)
      assert(inErr.isEmpty, s"$inErr")
      assert(inTag == "COPY 6")
      assert(CommitLog.currentVersion(rootD).get == vD0 + 1)
      def content(root: String) = CommitLog.read(spark, root)
        .collect().map(r => (r.getLong(0),
          Option(r.getString(1)), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      assert(content(rootD) == content(rootS))

      // ---- CSV round trip into dst2 (no header payload)
      val csvBody = cPay.split("\n", 2)(1)
      val (in2Tag, in2Err) =
        c.copyIn("COPY pgcopydb.dst2 FROM STDIN WITH (FORMAT csv)", csvBody)
      assert(in2Err.isEmpty && in2Tag == "COPY 6")
      assert(content(rootD2) == content(rootS))

      // ---- custom TEXT delimiter '|' (a regex metachar — the r12
      // advice finding: String.split treated it as a regex and split on
      // EVERY character) round-trips, including a backslash-escaped
      // delimiter inside field data
      assert(PgCopy.escapeText("a|b", '|') == "a\\|b")
      assert(PgCopy.splitText("a\\|b|c", '|') == Seq("a\\|b", "c"))
      assert(PgCopy.unescapeText("a\\|b") == "a|b")
      val (pPay, pTag, pErr) =
        c.copyOut("COPY pgcopydb.src TO STDOUT WITH (DELIMITER '|')")
      assert(pErr.isEmpty && pTag == "COPY 6", s"$pErr")
      val vP0 = CommitLog.currentVersion(rootD).get
      val (pInTag, pInErr) = c.copyIn(
        "COPY pgcopydb.dst FROM STDIN WITH (DELIMITER '|')", pPay)
      assert(pInErr.isEmpty, s"$pInErr")
      assert(pInTag == "COPY 6")
      assert(CommitLog.currentVersion(rootD).get == vP0 + 1)
      assert(content(rootD) == content(rootS)) // set-equal after re-append

      // ---- CSV NULL '<tok>' honored on the way IN (r12 advice: it was
      // accepted and half-honored), and a non-null value equal to the
      // token force-quotes on the way OUT
      val (nPay, nTag, nErr) = c.copyOut(
        "COPY pgcopydb.src TO STDOUT WITH (FORMAT csv, NULL 'NA')")
      assert(nErr.isEmpty && nTag == "COPY 6")
      assert(nPay.split("\n").exists(_.endsWith(",NA")), nPay) // null v → NA
      val (nInTag, nInErr) = c.copyIn(
        "COPY pgcopydb.dst2 FROM STDIN WITH (FORMAT csv, NULL 'NA')", nPay)
      assert(nInErr.isEmpty, s"$nInErr")
      assert(nInTag == "COPY 6")
      assert(content(rootD2) == content(rootS)) // NA landed as NULL
      assert(PgCopy.csvField("NA", ',', "NA") == "\"NA\"")
      assert(PgCopy.parseCsv("\"NA\",NA\n", ',', "NA") ==
        Seq(Seq(Some("NA"), None))) // quoted survives, unquoted is NULL

      // ---- CopyFail aborts with no commit; connection stays usable
      val vD1 = CommitLog.currentVersion(rootD).get
      val (_, failErr) = c.copyIn("COPY pgcopydb.dst FROM STDIN", "",
        fail = Some("client changed its mind"))
      assert(failErr.exists(_.contains("changed its mind")))
      assert(CommitLog.currentVersion(rootD).get == vD1)
      assert(c.query("SELECT 1").error.isEmpty)

      // ---- a malformed payload drains the stream, errors, commits nothing
      val (_, badErr) = c.copyIn("COPY pgcopydb.dst FROM STDIN",
        "1\tonly-two-fields\n")
      assert(badErr.isDefined)
      assert(CommitLog.currentVersion(rootD).get == vD1)
      assert(c.query("SELECT 1").error.isEmpty)

      // ---- COPY participates in transaction blocks
      val nD1 = CommitLog.read(spark, rootD).count()
      assert(c.query("USE pgcopydb").error.isEmpty)
      assert(c.query("BEGIN").tag == "BEGIN")
      val (txTag, txErr) = c.copyIn("COPY dst FROM STDIN", "7\tstaged\t7.5\n")
      assert(txErr.isEmpty && txTag == "COPY 1")
      // read-your-writes sees it; the table log does not
      assert(c.query("SELECT count(*) AS n FROM dst").rows ==
        Seq(Seq(Some((nD1 + 1).toString))))
      assert(CommitLog.currentVersion(rootD).get == vD1)
      assert(c.query("ROLLBACK").tag == "ROLLBACK")
      assert(CommitLog.read(spark, rootD).count() == nD1)
      c.close()
    } finally server.stop()
  }

  test("both commit races reach clients as SQLSTATE 40001") {
    import graft.sources.CommitLog
    assert(PgWire.sqlState(
      new CommitLog.TxnSerializationException("stale block")) == "40001")
    assert(PgWire.sqlState(new CommitLog.CommitConflictException(
      "version 7 was committed concurrently at /t")) == "40001")
    assert(PgWire.sqlState(new RuntimeException("boom")) == "XX000")
  }
}
