package graft.server

import graft.TestSpark
import graft.exec.QueryEngine
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** psql (the real binary) against the wire server: startup handshake
  * (incl. SSL negotiation), CREATE/INSERT/SELECT round trip, temporal
  * SQL, multi-row output, NULLs, errors as ErrorResponse with a
  * nonzero exit, and session isolation between connections.
  */
class PgServerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def withServer(body: (QueryEngine, Int) => Unit): Unit = {
    val e = QueryEngine.scratch(spark)
    val srv = new PgServer(e, 0).start()
    try body(e, srv.boundPort) finally { srv.close(); e.close() }
  }

  /** Run psql -c, returning (exitCode, stdout, stderr). */
  private def psql(port: Int, sql: String): (Int, String, String) =
    psqlAs(port, "root", None, sql)

  private def psqlAs(port: Int, user: String, password: Option[String],
      sql: String): (Int, String, String) = {
    val outB = new StringBuilder
    val errB = new StringBuilder
    // stdin from an empty stream: a meta-command that reads stdin
    // (e.g. \copy ... from stdin) must see EOF, not hang on sbt's
    val code = (Process(Seq("psql", "-h", "127.0.0.1", "-p", port.toString,
        "-d", "graft", "-U", user, "-X", "-A", "-t", "-c", sql),
        None, "PGPASSWORD" -> password.getOrElse("")) #<
        new java.io.ByteArrayInputStream(Array.emptyByteArray))
      .!(ProcessLogger(outB.append(_).append('\n'), errB.append(_).append('\n')))
    (code, outB.toString, errB.toString)
  }

  test("psql CREATE / INSERT / SELECT round trip") {
    withServer { (_, port) =>
      val (c1, _, e1) =
        psql(port, "CREATE TABLE t (k BIGINT PRIMARY KEY, v STRING)")
      assert(c1 === 0, s"create failed: $e1")
      assert(psql(port, "INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, NULL)")._1 === 0)
      val (c2, out, _) = psql(port, "SELECT k, v FROM t ORDER BY k")
      assert(c2 === 0)
      assert(out.linesIterator.toSeq.filter(_.nonEmpty)
        === Seq("1|a", "2|b", "3|"))
      // temporal SQL over the wire
      val (c3, asOf, _) =
        psql(port, "SELECT COUNT(*) AS n FROM t FOR SYSTEM_TIME AS OF @SEQ:3")
      assert(c3 === 0 && asOf.trim === "3")
    }
  }

  /** Hand-rolled extended-protocol client (psql 15 has no \bind; the
    * message layout follows the published v3 protocol). */
  private final class ExtClient(port: Int) {
    private val sock = new java.net.Socket("127.0.0.1", port)
    private val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(sock.getInputStream))
    private val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(sock.getOutputStream))
    private def cstr(s: String): Array[Byte] =
      s.getBytes("UTF-8") ++ Array(0.toByte)
    private def send(t: Char, body: Array[Byte]): Unit = {
      out.write(t); out.writeInt(body.length + 4); out.write(body)
    }
    /** (pid, secret) from BackendKeyData, for CancelRequest. */
    var backendKey: Option[(Int, Int)] = None
    locally { // startup
      val params = cstr("user") ++ cstr("root") ++
        cstr("database") ++ cstr("graft") ++ Array(0.toByte)
      out.writeInt(params.length + 8); out.writeInt(196608); out.write(params)
      out.flush()
      backendKey = drainUntilReady().collectFirst { case ('K', body) =>
        val bb = java.nio.ByteBuffer.wrap(body)
        (bb.getInt, bb.getInt)
      }
    }
    def simpleQuery(sql: String): Seq[(Char, Array[Byte])] = {
      send('Q', cstr(sql)); out.flush()
      drainUntilReady()
    }
    /** Read messages up to ReadyForQuery: Seq[(type, body)]. */
    def drainUntilReady(): Seq[(Char, Array[Byte])] = {
      val seen = Seq.newBuilder[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val t = in.readByte().toChar
        val len = in.readInt()
        val body = new Array[Byte](len - 4)
        in.readFully(body)
        seen += ((t, body))
        if (t == 'Z') done = true
      }
      seen.result()
    }
    private val i16 = (v: Int) => Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private val i32 = (v: Int) => Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    /** Read messages until one of `stop` arrives: Seq[(type, body)]. */
    def readUntil(stop: Set[Char]): Seq[(Char, Array[Byte])] = {
      val seen = Seq.newBuilder[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val t = in.readByte().toChar
        val len = in.readInt()
        val body = new Array[Byte](len - 4)
        in.readFully(body)
        seen += ((t, body))
        if (stop(t)) done = true
      }
      seen.result()
    }
    def sendParse(sql: String): Unit = send('P', cstr("") ++ cstr(sql) ++ i16(0))
    def sendBind(): Unit =
      send('B', cstr("") ++ cstr("") ++ i16(0) ++ i16(0) ++ i16(0))
    /** Execute the unnamed portal with a row limit, flush, and read to
      * PortalSuspended / CommandComplete / error. */
    def execute(maxRows: Int): Seq[(Char, Array[Byte])] = {
      send('E', cstr("") ++ i32(maxRows))
      send('H', Array.empty); out.flush()
      readUntil(Set('s', 'C', 'E'))
    }
    def sync(): Seq[(Char, Array[Byte])] = {
      send('S', Array.empty); out.flush()
      drainUntilReady()
    }
    def parseBindExecute(sql: String, paramOid: Int, param: String)
        : Seq[(Char, Array[Byte])] = {
      send('P', cstr("") ++ cstr(sql) ++ i16(1) ++ i32(paramOid))
      val pv = param.getBytes("UTF-8")
      send('B', cstr("") ++ cstr("") ++ i16(0) ++ i16(1) ++ i32(pv.length) ++
        pv ++ i16(0))
      send('D', Array('P'.toByte) ++ cstr(""))
      send('E', cstr("") ++ i32(0))
      send('S', Array.empty)
      out.flush()
      drainUntilReady()
    }
    /** Same flow with ONE binary-format (format code 1) parameter. */
    def parseBindExecuteBinary(sql: String, paramOid: Int, param: Array[Byte])
        : Seq[(Char, Array[Byte])] = {
      send('P', cstr("") ++ cstr(sql) ++ i16(1) ++ i32(paramOid))
      send('B', cstr("") ++ cstr("") ++ i16(1) ++ i16(1) ++ i16(1) ++
        i32(param.length) ++ param ++ i16(0))
      send('D', Array('P'.toByte) ++ cstr(""))
      send('E', cstr("") ++ i32(0))
      send('S', Array.empty)
      out.flush()
      drainUntilReady()
    }
    def rows(msgs: Seq[(Char, Array[Byte])]): Seq[Seq[String]] =
      msgs.collect { case ('D', body) =>
        val bb = java.nio.ByteBuffer.wrap(body)
        val n = bb.getShort.toInt
        (0 until n).map { _ =>
          val len = bb.getInt
          if (len < 0) null
          else { val a = new Array[Byte](len); bb.get(a); new String(a, "UTF-8") }
        }
      }
    // ---- named statements/portals, pgjdbc-shaped (round 17) ----
    def sendParseNamed(stmt: String, sql: String, oids: Seq[Int]): Unit =
      send('P', cstr(stmt) ++ cstr(sql) ++ i16(oids.size) ++
        oids.flatMap(i32(_)).toArray)
    /** Bind a NAMED portal to a NAMED statement with binary-format
      * params (format codes stated per parameter, as pgjdbc does). */
    def sendBindNamed(portal: String, stmt: String,
        binParams: Seq[Array[Byte]]): Unit =
      send('B', cstr(portal) ++ cstr(stmt) ++
        i16(binParams.size) ++ binParams.flatMap(_ => i16(1)).toArray ++
        i16(binParams.size) ++
        binParams.flatMap(p => i32(p.length) ++ p).toArray ++ i16(0))
    def sendDescribe(kind: Char, name: String): Unit =
      send('D', Array(kind.toByte) ++ cstr(name))
    def executeNamed(portal: String, maxRows: Int): Seq[(Char, Array[Byte])] = {
      send('E', cstr(portal) ++ i32(maxRows))
      send('H', Array.empty); out.flush()
      readUntil(Set('s', 'C', 'E'))
    }
    def closePortal(name: String): Unit =
      send('C', Array('P'.toByte) ++ cstr(name))
    def close(): Unit = { send('X', Array.empty); out.flush(); sock.close() }
  }

  test("extended protocol: Parse/Bind/Describe/Execute with typed $N params") {
    withServer { (_, port) =>
      assert(psql(port,
        "CREATE TABLE p (k BIGINT PRIMARY KEY, v STRING); " +
          "INSERT INTO p VALUES (1, 'one'), (2, 'two'), (3, 'three')")._1 === 0)
      val c = new ExtClient(port)
      try {
        val msgs = c.parseBindExecute(
          "SELECT k, v FROM p WHERE k > $1 ORDER BY k", paramOid = 20, param = "1")
        // ParseComplete, BindComplete, RowDescription, rows, complete
        assert(msgs.map(_._1).startsWith(Seq('1', '2', 'T')), msgs.map(_._1))
        assert(c.rows(msgs) === Seq(Seq("2", "two"), Seq("3", "three")))
        // a bound parameter is a VALUE, not SQL — injection stays inert
        val inj = c.parseBindExecute(
          "SELECT k FROM p WHERE v = $1", paramOid = 25, param = "two' OR '1'='1")
        assert(c.rows(inj).isEmpty, s"injection matched: ${c.rows(inj)}")
        // an error inside the extended flow recovers at Sync
        val bad = c.parseBindExecute("SELECT * FROM nope WHERE k = $1", 20, "1")
        assert(bad.exists(_._1 == 'E') && bad.last._1 == 'Z')
        // and the connection still works afterwards
        val again = c.parseBindExecute(
          "SELECT COUNT(*) AS n FROM p WHERE k > $1", 20, "0")
        assert(c.rows(again) === Seq(Seq("3")))
      } finally c.close()
    }
  }

  test("CancelRequest kills the active statement's Spark jobs (psql Ctrl-C)") {
    withServer { (e, port) =>
      e.attachExternal("li", "/root/testdata/sf0.01/lineitem.parquet")
      val c = new ExtClient(port)
      try {
        val (pid, secret) = c.backendKey.getOrElse(fail("no BackendKeyData"))
        // an effectively-unbounded cartesian aggregate on the main
        // connection, cancelled out-of-band from a second connection
        val result = new java.util.concurrent.CompletableFuture[Seq[Char]]()
        val runner = new Thread(() =>
          try result.complete(c.simpleQuery(
            """SELECT SUM(a.l_quantity * b.l_quantity) AS s
              |FROM li a CROSS JOIN li b""".stripMargin).map(_._1))
          catch { case ex: Throwable => result.completeExceptionally(ex) })
        runner.start()
        Thread.sleep(2500) // let the jobs start
        val t0 = System.nanoTime()
        val cancel = new java.net.Socket("127.0.0.1", port)
        val co = new java.io.DataOutputStream(cancel.getOutputStream)
        co.writeInt(16); co.writeInt(80877102); co.writeInt(pid); co.writeInt(secret)
        co.flush(); cancel.close()
        val msgs = result.get(30, java.util.concurrent.TimeUnit.SECONDS)
        val wallSec = (System.nanoTime() - t0) / 1e9
        // the statement dies as an ErrorResponse, promptly, and the
        // connection then answers the next query normally
        assert(msgs.contains('E'), s"expected ErrorResponse, got $msgs")
        assert(wallSec < 25.0, s"cancellation took $wallSec s")
        val after = c.parseBindExecute("SELECT COUNT(*) AS n FROM li WHERE l_orderkey < $1",
          20, "10")
        assert(c.rows(after).nonEmpty)
      } finally c.close()
    }
  }

  test("multi-statement -c, errors exit nonzero, sessions are isolated") {
    withServer { (_, port) =>
      // one Query message carrying several statements
      val (c1, out, _) = psql(port,
        "CREATE TABLE s (k BIGINT PRIMARY KEY); INSERT INTO s VALUES (7); SELECT k FROM s")
      assert(c1 === 0 && out.linesIterator.exists(_.trim == "7"))
      // an engine error surfaces as ErrorResponse -> psql exits 1
      val (c2, _, err) = psql(port, "SELECT * FROM no_such_table")
      assert(c2 != 0 && err.toLowerCase.contains("error"))
      // and the connection-level BEGIN of one psql run never leaks into
      // the next (each connection is its own session; psql -c closes)
      assert(psql(port, "BEGIN; INSERT INTO s VALUES (8)")._1 === 0) // never committed
      val (c3, out3, _) = psql(port, "SELECT COUNT(*) AS n FROM s")
      assert(c3 === 0 && out3.trim === "1")
    }
  }

  test("a PK SELECT over a snapshot runs no Spark job over the wire") {
    withServer { (e, port) =>
      e.sql("CREATE TABLE pk (k BIGINT PRIMARY KEY, v BIGINT)")
      e.sql("INSERT INTO pk SELECT id, id * 2 FROM range(1, 2001)")
      e.sql("SNAPSHOT pk")
      e.sql("UPDATE pk SET v = -1 WHERE k = 7")
      assert(psql(port, "SELECT k, v FROM pk WHERE k = 9")._2.trim === "9|18")
      // every statement the server runs sits in a graft-pg-* job group
      val wire = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
              .exists(_.startsWith("graft-pg-"))) wire.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val (code, out, err) = psql(port, "SELECT k, v FROM pk WHERE k = 7")
        assert(code === 0 && out.trim === "7|-1", err)
        // listener events arrive asynchronously: wait for all of them
        val g = graft.GroupJobs(spark, "wire-sync")
        g.sync()
        g.close()
      } finally spark.sparkContext.removeSparkListener(l)
      assert(wire.get === 0, s"${wire.get} jobs")
    }
  }

  test("an AS OF point read below the snapshot runs no Spark job over the wire") {
    withServer { (e, port) =>
      e.sql("CREATE TABLE ao (k BIGINT PRIMARY KEY, v BIGINT)")
      e.sql("INSERT INTO ao SELECT id, id * 2 FROM range(1, 2001)")
      val loaded = e.catalog.lastSeq("ao")
      e.sql("UPDATE ao SET v = -1 WHERE k = 7")
      e.sql("SNAPSHOT ao")
      e.sql("UPDATE ao SET v = -2 WHERE k = 7")
      // below the snapshot the read replays the log alone
      val below = s"SELECT k, v FROM ao FOR SYSTEM_TIME AS OF @SEQ:$loaded WHERE k = 7"
      assert(psql(port, below)._2.trim === "7|14")
      val wire = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
              .exists(_.startsWith("graft-pg-"))) wire.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val (code, out, err) = psql(port, below)
        assert(code === 0 && out.trim === "7|14", err)
        val (code2, out2, err2) = psql(port,
          s"SELECT k, v FROM ao FOR SYSTEM_TIME AS OF @SEQ:${loaded + 1} WHERE k = 7")
        assert(code2 === 0 && out2.trim === "7|-1", err2)
        val g = graft.GroupJobs(spark, "wire-sync")
        g.sync()
        g.close()
      } finally spark.sparkContext.removeSparkListener(l)
      assert(wire.get === 0, s"${wire.get} jobs")
    }
  }

  test("command tags carry the statement type and affected count") {
    withServer { (_, port) =>
      // drivers/ORMs parse update counts from these tags (JDBC
      // executeUpdate) — 'SELECT n' for an INSERT reports 0 changed
      val (c0, t0, _) = psql(port, "CREATE TABLE ct (k BIGINT PRIMARY KEY, v BIGINT)")
      assert(c0 === 0 && t0.trim === "CREATE TABLE", t0)
      val (c1, t1, _) = psql(port, "INSERT INTO ct VALUES (1, 1), (2, 2), (3, 3)")
      assert(c1 === 0 && t1.trim === "INSERT 0 3", t1)
      val (c2, t2, _) = psql(port, "UPDATE ct SET v = 9 WHERE k > 1")
      assert(c2 === 0 && t2.trim === "UPDATE 2", t2)
      val (c3, t3, _) = psql(port, "DELETE FROM ct WHERE k = 1")
      assert(c3 === 0 && t3.trim === "DELETE 1", t3)
      val (c4, t4, _) = psql(port, "BEGIN; INSERT INTO ct VALUES (9, 9); COMMIT")
      assert(c4 === 0, t4)
      assert(t4.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
        === Seq("BEGIN", "INSERT 0 1", "COMMIT"), t4)
    }
  }

  test("Execute with maxRows suspends the portal and resumes, never truncates") {
    withServer { (_, port) =>
      assert(psql(port, "CREATE TABLE fp (k BIGINT PRIMARY KEY); " +
        "INSERT INTO fp VALUES (1), (2), (3), (4), (5)")._1 === 0)
      val c = new ExtClient(port)
      try {
        // a driver fetch-size loop: Execute(2) x3 must return
        // 2 + 2 + 1 rows with PortalSuspended between, not a silently
        // truncated 2-row "complete" result
        c.sendParse("SELECT k FROM fp ORDER BY k")
        c.sendBind()
        val r1 = c.execute(2)
        assert(r1.count(_._1 == 'D') === 2 && r1.last._1 === 's', r1.map(_._1))
        val r2 = c.execute(2)
        assert(r2.count(_._1 == 'D') === 2 && r2.last._1 === 's', r2.map(_._1))
        val r3 = c.execute(2)
        assert(r3.count(_._1 == 'D') === 1 && r3.last._1 === 'C', r3.map(_._1))
        assert(c.rows(r1 ++ r2 ++ r3).flatten === Seq("1", "2", "3", "4", "5"))
        // executing the finished portal again: empty + complete
        val r4 = c.execute(2)
        assert(r4.count(_._1 == 'D') === 0 && r4.last._1 === 'C')
        assert(c.sync().last._1 === 'Z')
      } finally c.close()
    }
  }

  test("pgjdbc's wire sequence: named statement, named-portal fetch loop, re-execute") {
    // The exact message flow pgjdbc's QueryExecutorImpl emits for a
    // PreparedStatement with fetchSize under autocommit=false (the
    // shape real dashboards drive): BEGIN via simple query; Parse a
    // NAMED statement (S_1, the prepareThreshold promotion); Describe
    // the STATEMENT (ParameterDescription + RowDescription); Bind a
    // NAMED portal (C_1) with a BINARY int8 param; Execute(C_1,
    // fetchSize) / Sync per batch — the portal must survive each Sync
    // — ending in CommandComplete; Close the portal; then re-Bind a
    // new portal to the SAME named statement with a new param and NO
    // re-Parse (server-side prepared-statement reuse). pgjdbc itself
    // is not resolvable in this zero-egress build, so the sequence is
    // replicated byte-for-byte from the public protocol docs instead
    // (test-scope client only; the server is what's under test).
    withServer { (_, port) =>
      assert(psql(port, "CREATE TABLE jd (k BIGINT PRIMARY KEY, v STRING); " +
        "INSERT INTO jd VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d'), (5,'e')")._1 === 0)
      val c = new ExtClient(port)
      try {
        assert(c.simpleQuery("BEGIN").last._1 === 'Z')
        def int8(v: Long): Array[Byte] =
          java.nio.ByteBuffer.allocate(8).putLong(v).array()
        c.sendParseNamed("S_1",
          "SELECT k, v FROM jd WHERE k > $1 ORDER BY k", Seq(20))
        c.sendDescribe('S', "S_1")
        c.sendBindNamed("C_1", "S_1", Seq(int8(0L)))
        // first batch: ParseComplete, ParameterDescription,
        // RowDescription, BindComplete, 2 rows, PortalSuspended
        val b1 = c.executeNamed("C_1", 2)
        assert(b1.map(_._1).containsSlice(Seq('1', 't', 'T', '2')),
          b1.map(_._1))
        assert(b1.count(_._1 == 'D') === 2 && b1.last._1 === 's', b1.map(_._1))
        // pgjdbc Syncs between fetches; the open portal must survive
        assert(c.sync().last._1 === 'Z')
        val b2 = c.executeNamed("C_1", 2)
        assert(b2.count(_._1 == 'D') === 2 && b2.last._1 === 's', b2.map(_._1))
        assert(c.sync().last._1 === 'Z')
        val b3 = c.executeNamed("C_1", 2)
        assert(b3.count(_._1 == 'D') === 1 && b3.last._1 === 'C', b3.map(_._1))
        assert(c.rows(b1 ++ b2 ++ b3).map(_.head) ===
          Seq("1", "2", "3", "4", "5"))
        c.closePortal("C_1")
        assert(c.sync().exists(_._1 == '3'), "expected CloseComplete")
        // re-execute the prepared statement without re-Parse
        c.sendBindNamed("C_2", "S_1", Seq(int8(3L)))
        val b4 = c.executeNamed("C_2", 0)
        assert(c.rows(b4) === Seq(Seq("4", "d"), Seq("5", "e")), c.rows(b4))
        assert(c.sync().last._1 === 'Z')
        assert(c.simpleQuery("COMMIT").last._1 === 'Z')
      } finally c.close()
    }
  }

  test("statement-Describe never executes an eager statement (CALL)") {
    // PG defines Describe as metadata-only. graft's session.sql runs
    // CALL/REFRESH-class statements eagerly, so the server must answer
    // NoData for them instead of NULL-bind-planning (which would run
    // the procedure with NULL arguments at Describe time, then again
    // at Execute with the real ones).
    withServer { (_, port) =>
      assert(psql(port,
        "CREATE TABLE side (k BIGINT PRIMARY KEY, v BIGINT); " +
          "CREATE PROCEDURE bump(kk BIGINT) AS INSERT INTO side VALUES ($kk, 1)")._1 === 0)
      val c = new ExtClient(port)
      try {
        def int8(v: Long): Array[Byte] =
          java.nio.ByteBuffer.allocate(8).putLong(v).array()
        // pgjdbc's getMetaData() shape: Parse + Describe(statement) + Sync
        c.sendParseNamed("S_c", "CALL bump($1)", Seq(20))
        c.sendDescribe('S', "S_c")
        val d = c.sync()
        // ParameterDescription then NoData — and, critically, the
        // procedure did NOT run
        assert(d.map(_._1).containsSlice(Seq('1', 't', 'n')), d.map(_._1))
        val (_, n0, _) = psql(port, "SELECT COUNT(*) AS n FROM side")
        assert(n0.trim === "0", s"Describe executed the procedure: $n0")
        // the real Execute runs it exactly once, with the bound param
        c.sendBindNamed("P_c", "S_c", Seq(int8(7L)))
        val ex = c.executeNamed("P_c", 0)
        assert(ex.last._1 === 'C', ex.map(_._1))
        assert(c.sync().last._1 === 'Z')
        val (_, k1, _) = psql(port, "SELECT k FROM side")
        assert(k1.trim === "7", s"expected exactly one row keyed 7: $k1")
        // a prepared SELECT still gets its RowDescription at
        // statement-Describe (the round-17 pgjdbc fix stays intact)
        c.sendParseNamed("S_s", "SELECT k FROM side WHERE k > $1", Seq(20))
        c.sendDescribe('S', "S_s")
        val ds = c.sync()
        assert(ds.map(_._1).containsSlice(Seq('1', 't', 'T')), ds.map(_._1))
      } finally c.close()
    }
  }

  test("wire sessions are plain users: trust list, superuser gate, passwords") {
    val e = QueryEngine.scratch(spark)
    val srv = new PgServer(e, 0, superusers = Set("root"),
      passwords = Map("alice" -> "s3cret")).start()
    try {
      val port = srv.boundPort
      // an untrusted user runs plain SQL fine...
      assert(psqlAs(port, "bob", None,
        "CREATE TABLE t0 (k BIGINT PRIMARY KEY)")._1 === 0)
      // ...but never lands on the always-superuser surface the
      // embedded default would have granted
      val (cb, _, eb) = psqlAs(port, "bob", None, "SET AUDIT ON")
      assert(cb != 0 && eb.toLowerCase.contains("superuser"), eb)
      // the explicit trust list keeps the admin surface for root
      assert(psqlAs(port, "root", None, "SET AUDIT ON")._1 === 0)
      // password-configured users answer a cleartext challenge
      val (cw, _, ew) = psqlAs(port, "alice", Some("wrong"), "SELECT 1 AS x")
      assert(cw != 0 && ew.contains("password authentication failed"), ew)
      assert(psqlAs(port, "alice", Some("s3cret"), "SELECT 1 AS x")._1 === 0)
    } finally { srv.close(); e.close() }
  }

  test("round-8 admin surfaces work over the wire") {
    withServer { (_, port) =>
      assert(psql(port, "CREATE TABLE t (k BIGINT PRIMARY KEY, v BIGINT)")._1 === 0)
      assert(psql(port, "CREATE INDEX iv ON t (v)")._1 === 0)
      assert(psql(port, "INSERT INTO t SELECT id, id * 2 FROM range(100)")._1 === 0)
      assert(psql(port, "OPTIMIZE t ZORDER BY (v)")._1 === 0)
      val (c1, idx, _) = psql(port, "SHOW INDEXES")
      assert(c1 === 0 && idx.contains("iv|t|v"), idx)
      val (c2, storage, _) = psql(port, "SHOW STORAGE FOR t")
      assert(c2 === 0 && storage.trim.startsWith("t|"), storage)
      val (c3, ddl, _) = psql(port, "SHOW CREATE TABLE t")
      assert(c3 === 0 && ddl.contains("CREATE TABLE t (k BIGINT PRIMARY KEY"), ddl)
      val (c4, rows, _) = psql(port, "SELECT v FROM t WHERE k = 42")
      assert(c4 === 0 && rows.trim === "84")
    }
  }

  test("md5 auth: psql authenticates; wrong passwords feed the monitor") {
    val e = QueryEngine.scratch(spark)
    val srv = new PgServer(e, 0, passwords = Map("mallory" -> "pw5"),
      authMethods = Map("mallory" -> "md5")).start()
    try {
      val port = srv.boundPort
      // psql answers the AuthenticationMD5Password challenge itself
      assert(psqlAs(port, "mallory", Some("pw5"), "SELECT 1 AS x")._1 === 0)
      // a wrong md5 proof fails cleanly AND lands in the security
      // monitor exactly like a cleartext failure
      for (_ <- 1 to 5) {
        val (c, _, err) = psqlAs(port, "mallory", Some("nope"), "SELECT 1")
        assert(c != 0 && err.contains("password authentication failed"), err)
      }
      val threats = e.sql("SHOW SECURITY THREATS").collect()
        .filter(_.getString(1) == "BruteForceAttack")
      assert(threats.length === 1)
    } finally { srv.close(); e.close() }
  }

  test("scram-sha-256 auth: psql SASL exchange round-trips") {
    val e = QueryEngine.scratch(spark)
    val srv = new PgServer(e, 0, passwords = Map("sam" -> "s3cret"),
      authMethods = Map("sam" -> "scram-sha-256")).start()
    try {
      val port = srv.boundPort
      assert(psqlAs(port, "sam", Some("s3cret"), "SELECT 1 AS x")._1 === 0)
      val (c, _, err) = psqlAs(port, "sam", Some("wrong"), "SELECT 1")
      assert(c != 0 && err.contains("password authentication failed"), err)
    } finally { srv.close(); e.close() }
  }

  test("TLS: sslmode=require connects when a keystore is configured") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tls-")
    val ks = dir.resolve("server.p12").toString
    val gen = Process(Seq("keytool", "-genkeypair", "-alias", "graft",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "1",
      "-storetype", "PKCS12", "-keystore", ks, "-storepass", "changeit",
      "-dname", "CN=localhost")).!
    assert(gen === 0, "keytool keypair generation failed")
    val e = QueryEngine.scratch(spark)
    val srv = new PgServer(e, 0,
      tlsKeyStore = Some((ks, "changeit"))).start()
    try {
      val port = srv.boundPort
      def run(conn: String, sql: String): (Int, String) = {
        val outB = new StringBuilder
        val code = Process(Seq("psql", conn, "-X", "-A", "-t", "-c", sql))
          .!(ProcessLogger(outB.append(_).append('\n'), outB.append(_).append('\n')))
        (code, outB.toString)
      }
      // libpq refuses to proceed unless the TLS handshake succeeds
      val (c1, o1) = run(
        s"host=127.0.0.1 port=$port user=root dbname=graft sslmode=require",
        "SELECT 41 + 1 AS x")
      assert(c1 === 0 && o1.trim === "42", o1)
      // plaintext connections still work when the client skips SSL
      val (c2, o2) = run(
        s"host=127.0.0.1 port=$port user=root dbname=graft sslmode=disable",
        "SELECT 2 AS x")
      assert(c2 === 0 && o2.trim === "2", o2)
    } finally { srv.close(); e.close() }
  }

  test("binary-format extended-protocol parameters decode by oid") {
    withServer { (_, port) =>
      assert(psql(port, "CREATE TABLE bp (k BIGINT PRIMARY KEY, v DOUBLE); " +
        "INSERT INTO bp VALUES (1, 0.5), (2, 1.5), (3, 2.5)")._1 === 0)
      val c = new ExtClient(port)
      try {
        // int8: 8-byte network-order 2 → the k = 2 row
        val i8 = java.nio.ByteBuffer.allocate(8).putLong(2L).array()
        val r1 = c.parseBindExecuteBinary(
          "SELECT k, v FROM bp WHERE k = $1", 20, i8)
        assert(c.rows(r1) === Seq(Seq("2", "1.5")), c.rows(r1))
        // float8: rows above a binary 1.0 threshold
        val f8 = java.nio.ByteBuffer.allocate(8).putDouble(1.0).array()
        val r2 = c.parseBindExecuteBinary(
          "SELECT k FROM bp WHERE v > $1 ORDER BY k", 701, f8)
        assert(c.rows(r2) === Seq(Seq("2"), Seq("3")), c.rows(r2))
        // bool
        val r3 = c.parseBindExecuteBinary(
          "SELECT $1 AS b", 16, Array(1.toByte))
        assert(c.rows(r3) === Seq(Seq("t")), c.rows(r3)) // PG bool rendering
      } finally c.close()
    }
  }

  test("psql \\copy: FROM STDIN and TO STDOUT in text and csv formats") {
    withServer { (_, port) =>
      assert(psql(port,
        "CREATE TABLE cp (k BIGINT PRIMARY KEY, v STRING, d DOUBLE)")._1 === 0)
      val dir = java.nio.file.Files.createTempDirectory("graft-copy-")
      // text format: tabs, \N nulls, escaped tab inside a value
      val inTxt = dir.resolve("in.txt")
      java.nio.file.Files.writeString(inTxt,
        "1\tone\t1.5\n2\t\\N\t2.5\n3\ttab\\there\t\\N\n")
      val (c1, t1, e1) = psql(port, s"\\copy cp from '$inTxt'")
      assert(c1 === 0 && t1.trim === "COPY 3", s"[$t1] [$e1]")
      val (_, sel, _) = psql(port, "SELECT k, v, d FROM cp ORDER BY k")
      assert(sel.linesIterator.toSeq.filter(_.nonEmpty)
        === Seq("1|one|1.5", "2||2.5", "3|tab\there|"), sel)
      // TO STDOUT text: nulls back as \N, the tab re-escaped
      val outTxt = dir.resolve("out.txt")
      val (c2, t2, _) = psql(port, s"\\copy cp to '$outTxt'")
      assert(c2 === 0 && t2.trim === "COPY 3", t2)
      val returned = java.nio.file.Files.readString(outTxt)
      assert(returned ===
        "1\tone\t1.5\n2\t\\N\t2.5\n3\ttab\\there\t\\N\n", returned)
      // csv both ways, including a quoted comma
      assert(psql(port,
        "CREATE TABLE cc (k BIGINT PRIMARY KEY, v STRING)")._1 === 0)
      val inCsv = dir.resolve("in.csv")
      java.nio.file.Files.writeString(inCsv, "10,plain\n11,\"a,b\"\n")
      val (c3, t3, e3) =
        psql(port, s"\\copy cc from '$inCsv' with (format csv)")
      assert(c3 === 0 && t3.trim === "COPY 2", s"[$t3] [$e3]")
      val outCsv = dir.resolve("out.csv")
      val (c4, _, _) = psql(port,
        s"\\copy (SELECT k, v FROM cc ORDER BY k) to '$outCsv' with (format csv)")
      assert(c4 === 0)
      assert(java.nio.file.Files.readString(outCsv) === "10,plain\n11,\"a,b\"\n")
      // column-subset COPY: the omitted column takes NULL/DEFAULT
      val subIn = dir.resolve("sub.txt")
      java.nio.file.Files.writeString(subIn, "40\tforty\n")
      val (c5, t5, e5) = psql(port, s"\\copy cp (k, v) from '$subIn'")
      assert(c5 === 0 && t5.trim === "COPY 1", s"[$t5] [$e5]")
      val (_, sub, _) = psql(port, "SELECT k, v, d FROM cp WHERE k = 40")
      assert(sub.trim === "40|forty|", sub)
      // a value with an embedded newline survives the round trip: text
      // format escapes it as \n on the wire; the spooled CSV carries it
      // quoted across lines and the engine reads RFC multiline
      val nlIn = dir.resolve("nl.txt")
      java.nio.file.Files.writeString(nlIn, "50\tline1\\nline2\t9.5\n")
      val (c6, t6, e6) = psql(port, s"\\copy cp (k, v, d) from '$nlIn'")
      assert(c6 === 0 && t6.trim === "COPY 1", s"[$t6] [$e6]")
      val (_, nl, _) = psql(port,
        "SELECT length(v) AS n, d FROM cp WHERE k = 50")
      assert(nl.trim === "11|9.5", nl) // "line1\nline2".length == 11
    }
  }

  test("COPY FROM STDIN is refused before the transfer for ungranted users") {
    val e = QueryEngine.scratch(spark)
    e.sql("CREATE TABLE gated (k BIGINT PRIMARY KEY, v STRING)")
    e.sql("SET PRIVILEGES ON")
    val srv = new PgServer(e, 0).start()
    try {
      val port = srv.boundPort
      val dir = java.nio.file.Files.createTempDirectory("graft-copy-")
      val f = dir.resolve("x.txt")
      java.nio.file.Files.writeString(f, "1\ta\n")
      val (code, out, err) =
        psqlAs(port, "mallory", None, s"\\copy gated from '$f'")
      assert(code != 0 || err.contains("permission denied") ||
        out.contains("permission denied"), s"[$out] [$err]")
    } finally srv.close()
  }

  test("pool admission: per-source cap rejects, frees on disconnect") {
    val e = QueryEngine.scratch(spark)
    val srv = new PgServer(e, 0, maxPerSource = 1).start()
    try {
      val port = srv.boundPort
      val held = new ExtClient(port) // occupies the one slot
      try {
        val (c1, _, err) = psqlAs(port, "root", None, "SELECT 1")
        assert(c1 != 0 && err.contains("too many connections"), err)
        val (_, accepted, rejected) = srv.poolStats
        assert(accepted >= 1L && rejected >= 1L, srv.poolStats)
        // advanced-pool telemetry under real load: every accepted
        // connection recorded an accept-to-ready admission wait
        val pt = srv.poolTelemetry
        assert(pt.admissions >= 1L, pt)
        assert(pt.admitWaitNsTotal > 0L && pt.admitWaitNsMax > 0L, pt)
        assert(pt.avgAdmitWaitMs > 0.0 &&
          pt.maxAdmitWaitMs >= pt.avgAdmitWaitMs, pt)
        assert(pt.rejected >= 1L && pt.maxConnections === 100, pt)
      } finally held.close()
      // the slot frees once the holder disconnects
      val deadline = System.nanoTime() + 10e9.toLong
      var ok = false
      while (!ok && System.nanoTime() < deadline) {
        ok = psqlAs(port, "root", None, "SELECT 1")._1 == 0
        if (!ok) Thread.sleep(100)
      }
      assert(ok, "connection still rejected after the holder closed")
    } finally { srv.close(); e.close() }
  }

  test("brute force over the wire: repeated bad passwords block the source") {
    val e = QueryEngine.scratch(spark)
    val srv = new PgServer(e, 0,
      passwords = Map("alice" -> "s3cret")).start()
    try {
      e.sql("SET SECURITY_AUTOBLOCK ON")
      // 5 bad passwords inside the window → BruteForceAttack + block
      for (_ <- 1 to 5) {
        val (c, _, err) = psqlAs(srv.boundPort, "alice", Some("wrong"), "SELECT 1")
        assert(c != 0 && err.contains("password authentication failed"), err)
      }
      val threats = e.sql("SHOW SECURITY THREATS").collect()
        .filter(_.getString(1) == "BruteForceAttack")
      assert(threats.length === 1)
      assert(threats.head.getString(3) === "127.0.0.1")
      // even the RIGHT password is now refused from the blocked source
      val (c2, _, err2) =
        psqlAs(srv.boundPort, "alice", Some("s3cret"), "SELECT 1")
      assert(c2 != 0 && err2.contains("blocked"), err2)
    } finally { srv.close(); e.close() }
  }

  test("psql \\dt and \\dv answer from the pg_catalog slice") {
    withServer { (e, port) =>
      e.sql("CREATE TABLE accounts (id BIGINT PRIMARY KEY, name STRING)")
      e.sql("CREATE TABLE ledger (id BIGINT PRIMARY KEY, amt DOUBLE)")
      e.sql("CREATE VIEW big_ledger AS SELECT * FROM ledger WHERE amt > 10")
      // \dt sends the real pg_class ⋈ pg_namespace query (regex
      // filters, OPERATOR syntax, pg_get_userbyid) — the catalog
      // slice must answer it with the engine's tables
      val (c1, out1, err1) = psql(port, "\\dt")
      assert(c1 === 0, s"\\dt failed: $err1")
      val lines1 = out1.linesIterator.filter(_.nonEmpty).toSeq
      assert(lines1.exists(l => l.contains("accounts") && l.contains("table")),
        s"missing accounts in: $out1")
      assert(lines1.exists(_.contains("ledger")), s"missing ledger in: $out1")
      assert(!lines1.exists(_.contains("big_ledger")),
        s"\\dt must not list views: $out1")
      // \dv lists views through the same machinery
      val (c2, out2, err2) = psql(port, "\\dv")
      assert(c2 === 0, s"\\dv failed: $err2")
      assert(out2.contains("big_ledger"), s"missing view in: $out2")
      // driver-shaped column metadata: pg_attribute joined to
      // pg_class by oid, format_type for the type name
      val (c3, out3, err3) = psql(port,
        """SELECT a.attname, pg_catalog.format_type(a.atttypid, a.atttypmod)
          |FROM pg_catalog.pg_attribute a
          |JOIN pg_catalog.pg_class c ON a.attrelid = c.oid
          |WHERE c.relname = 'accounts' ORDER BY a.attnum""".stripMargin)
      assert(c3 === 0, s"attribute query failed: $err3")
      assert(out3.contains("id|bigint") && out3.contains("name|text"), out3)
      // pg_tables view for simpler clients
      val (c4, out4, _) =
        psql(port, "SELECT tablename FROM pg_tables ORDER BY tablename")
      assert(c4 === 0 && out4.contains("accounts") && out4.contains("ledger"))
    }
  }

  test("statement-Describe keeps RowDescription for a parenthesized select") {
    // r17 advice: '(SELECT ...' tokenized as an unknown head and
    // degraded statement-Describe to NoData; the paren strip keeps
    // the metadata path
    withServer { (e, port) =>
      e.sql("CREATE TABLE pt (k BIGINT PRIMARY KEY, v STRING)")
      e.sql("INSERT INTO pt VALUES (1, 'x'), (2, 'y')")
      val c = new ExtClient(port)
      try {
        c.sendParseNamed("S_p", "(SELECT k, v FROM pt ORDER BY k LIMIT 1)",
          Seq.empty)
        c.sendDescribe('S', "S_p")
        val msgs = c.sync()
        // RowDescription ('T'), not NoData ('n')
        assert(msgs.exists(_._1 == 'T'),
          s"expected RowDescription, got: ${msgs.map(_._1).mkString(",")}")
        assert(!msgs.exists(_._1 == 'n'), "got NoData for a parenthesized select")
      } finally c.close()
    }
  }
}
