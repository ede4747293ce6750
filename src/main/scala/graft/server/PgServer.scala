package graft.server

import graft.exec.QueryEngine
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** PostgreSQL wire protocol (v3) server over the engine — the
  * reference's primary interface
  * (driftdb-server/src/session/mod.rs:137-241, protocol/messages.rs).
  * Covers the simple query protocol (Query → RowDescription / DataRow
  * / CommandComplete) AND the extended protocol (Parse / Bind /
  * Describe / Execute / Close / Flush / Sync) with text-format `$N`
  * parameters, so psql, `psql \bind`, and drivers that prepare
  * statements can run DDL/DML/temporal SQL directly.
  *
  * Authentication (the reference's UserDb, protocol/auth.rs): the
  * startup message's `user` parameter becomes the session's security
  * context — a plain NON-superuser by default, so RLS, GRANT, rate
  * limits and the audit gate all apply over the wire. Superuser is
  * granted only to names in the explicit `superusers` trust list, and
  * users listed in `passwords` answer a challenge in their configured
  * scheme — cleartext (default), md5 (auth.rs:93-103), or
  * SCRAM-SHA-256 (auth.rs:19-40). With a configured keystore the
  * connection upgrades to TLS at SSLRequest (tls.rs). The listener
  * binds loopback by default — exposing it beyond the machine
  * requires an explicit `bind` address.
  *
  * Concurrency: each connection gets its own engine Session (own
  * transaction state, snapshot isolation); statements serialize on
  * the engine's write-lock monitor, the same discipline the SQL API
  * has. The server adds NO second execution path — every statement
  * routes through `session.sql` (parameters bind through the same
  * literal-safe graft.sql.Params the API uses).
  */
final class PgServer(engine: QueryEngine, port: Int = 0,
    bind: String = "127.0.0.1",
    superusers: Set[String] = Set.empty,
    passwords: Map[String, String] = Map.empty,
    maxConnections: Int = 100,
    maxPerSource: Int = 10,
    idleTimeoutMs: Long = 300000L,
    // per-user challenge scheme for users in `passwords`:
    // "cleartext" (default) | "md5" | "scram-sha-256" — the reference
    // implements the same three (protocol/auth.rs:19-40, md5 :93-103)
    authMethods: Map[String, String] = Map.empty,
    // (PKCS12 keystore path, password): when set, SSLRequest is
    // answered 'S' and the connection upgrades to TLS before startup
    // (the reference's TLS layer, driftdb-server/src/tls.rs)
    tlsKeyStore: Option[(String, String)] = None) {

  private val server =
    new ServerSocket(port, 50, java.net.InetAddress.getByName(bind))
  @volatile private var running = true

  /** Server-side TLS socket factory from the configured keystore.
    * Built once; connections that never send SSLRequest don't pay. */
  private lazy val tlsFactory: Option[javax.net.ssl.SSLSocketFactory] =
    tlsKeyStore.map { case (path, pw) =>
      val ks = java.security.KeyStore.getInstance("PKCS12")
      val fis = new java.io.FileInputStream(path)
      try ks.load(fis, pw.toCharArray) finally fis.close()
      val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
        javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
      kmf.init(ks, pw.toCharArray)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(kmf.getKeyManagers, null, null)
      ctx.getSocketFactory
    }

  // ------------------------------------------------- connection pool
  // The reference's ConnectionPool limits (connection.rs:29-60
  // PoolConfig: max_connections, max_concurrent_per_client,
  // idle_timeout; rejection :320-340; stats :450-460): caps on total
  // and per-source connections enforced before the session starts, and
  // an idle reaper closing connections silent past the timeout.
  private final class ConnInfo(val source: String, val sock: Socket) {
    @volatile var lastActivityMs: Long = System.currentTimeMillis()
  }
  private val liveConns =
    new java.util.concurrent.ConcurrentHashMap[ConnState, ConnInfo]()
  private val statRejected = new java.util.concurrent.atomic.AtomicLong
  private val statAccepted = new java.util.concurrent.atomic.AtomicLong
  // advanced-pool telemetry (advanced_pool.rs:1-1197 keeps wait-time
  // and health-check bookkeeping; this is its observable slice):
  // idle-reap counts, reaper health sweeps, and the accept-to-ready
  // admission wait (negotiation + pool gate + auth) per connection
  private val statReaped = new java.util.concurrent.atomic.AtomicLong
  private val statSweeps = new java.util.concurrent.atomic.AtomicLong
  @volatile private var lastSweepMs = 0L
  private val statAdmissions = new java.util.concurrent.atomic.AtomicLong
  private val statAdmitWaitNs = new java.util.concurrent.atomic.AtomicLong
  private val statAdmitWaitNsMax = new java.util.concurrent.atomic.AtomicLong

  private def recordAdmission(waitNs: Long): Unit = {
    statAdmissions.incrementAndGet()
    statAdmitWaitNs.addAndGet(waitNs)
    var prev = statAdmitWaitNsMax.get
    while (waitNs > prev && !statAdmitWaitNsMax.compareAndSet(prev, waitNs))
      prev = statAdmitWaitNsMax.get
  }

  /** (live, accepted, rejected) — the observable PoolStats slice
    * (connection.rs:539-548). */
  def poolStats: (Int, Long, Long) =
    (liveConns.size, statAccepted.get, statRejected.get)

  /** The full pool-telemetry snapshot (advanced_pool.rs parity):
    * admission wait times are accept-to-session-ready nanoseconds;
    * health sweeps count reaper passes over the live set. */
  def poolTelemetry: PgServer.PoolTelemetry = PgServer.PoolTelemetry(
    live = liveConns.size,
    accepted = statAccepted.get,
    rejected = statRejected.get,
    reaped = statReaped.get,
    healthSweeps = statSweeps.get,
    lastSweepMsAgo =
      if (lastSweepMs == 0L) None
      else Some(math.max(0L, System.currentTimeMillis() - lastSweepMs)),
    admissions = statAdmissions.get,
    admitWaitNsTotal = statAdmitWaitNs.get,
    admitWaitNsMax = statAdmitWaitNsMax.get,
    maxConnections = maxConnections,
    idleTimeoutMs = idleTimeoutMs)

  private val reaper = new Thread(() => {
    while (running) {
      Thread.sleep(math.max(50L, idleTimeoutMs / 4))
      if (idleTimeoutMs > 0) {
        statSweeps.incrementAndGet()
        lastSweepMs = System.currentTimeMillis()
        val cutoff = System.currentTimeMillis() - idleTimeoutMs
        liveConns.forEach { (st, info) =>
          // a connection with a statement in flight is BUSY, not idle:
          // lastActivityMs only moves on client->server reads, so a
          // long-running query (routine at this engine's data scale)
          // or a large COPY upload would otherwise be reaped mid-work
          if (info.lastActivityMs < cutoff && st.activeGroup.isEmpty) {
            statReaped.incrementAndGet()
            try info.sock.close() catch { case _: Exception => () }
          }
          // handle()'s finally deregisters once its read loop breaks
        }
      }
    }
  }, "graft-pg-reaper")
  reaper.setDaemon(true)

  /** The bound port (useful with port = 0). */
  def boundPort: Int = server.getLocalPort

  // (pid, secret) -> live connection, for CancelRequest routing
  private val cancelRegistry =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConnState]()
  private val nextPid = new java.util.concurrent.atomic.AtomicInteger(1)

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), s"graft-pg-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch { case _: Exception if !running => () case _: Exception => () }
    }
  }, "graft-pg-accept")
  acceptor.setDaemon(true)

  def start(): PgServer = { acceptor.start(); reaper.start(); this }

  def close(): Unit = {
    running = false
    try server.close() catch { case _: Exception => () }
  }

  // ------------------------------------------------------- connection

  /** Per-connection extended-protocol state. */
  private final class ConnState {
    // name -> (sql text with $N placeholders, declared param type oids)
    val prepared = scala.collection.mutable.HashMap.empty[String, (String, Seq[Int])]
    // portal -> bound statement; the DataFrame caches at Describe so
    // Execute never runs the portal's statement twice
    val portals = scala.collection.mutable.HashMap.empty[String, Portal]
    // after an extended-protocol error, every message until Sync is
    // discarded (PG error recovery)
    var skipToSync = false
    // identity for CancelRequest (BackendKeyData); the active
    // statement's Spark job group, cancelled out-of-band
    val pid: Int = nextPid.getAndIncrement()
    val secret: Int = new java.security.SecureRandom().nextInt()
    @volatile var activeGroup: Option[String] = None
  }

  /** Run `f` with a fresh per-statement Spark job group registered for
    * out-of-band cancellation (a CancelRequest kills exactly the jobs
    * of the statement running when it arrives — PG semantics). */
  private def cancellable[T](st: ConnState)(f: => T): T = {
    val sc = engine.spark.sparkContext
    val group = s"graft-pg-${st.pid}-${System.nanoTime()}"
    sc.setJobGroup(group, s"pg connection ${st.pid}", interruptOnCancel = true)
    st.activeGroup = Some(group)
    try f
    finally { st.activeGroup = None; sc.clearJobGroup() }
  }
  private final class Portal(val sql: String) {
    var df: Option[DataFrame] = None
    // the portal's row cursor survives across Execute calls, so a
    // driver fetch-size loop (Execute maxRows / PortalSuspended /
    // Execute again) resumes where it stopped instead of silently
    // re-truncating from the top
    var it: Option[java.util.Iterator[org.apache.spark.sql.Row]] = None
    var done: Boolean = false // rowless statements run once per portal
  }

  private def handle(sock0: Socket): Unit = {
    var sock = sock0
    var in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    var out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    val st = new ConnState
    var info: ConnInfo = null
    val acceptNs = System.nanoTime() // admission-wait telemetry anchor
    try {
      val source = Option(sock.getInetAddress)
        .map(_.getHostAddress).getOrElse("unknown")
      // pre-startup negotiation: SSLRequest upgrades to TLS when a
      // keystore is configured (PG flow: 'S', then the TLS handshake,
      // then the startup message arrives encrypted — tls.rs does the
      // same dance); refused with 'N' otherwise. GSS always refused.
      var user: Option[String] = None
      var negotiating = true
      while (negotiating) {
        val len = in.readInt()
        val code = in.readInt()
        if (code == 80877103 && tlsFactory.isDefined) { // SSLRequest, TLS on
          out.write('S'); out.flush()
          val ssl = tlsFactory.get
            .createSocket(sock, null, sock.getPort, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          ssl.setUseClientMode(false)
          sock = ssl
          in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
          out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
        } else if (code == 80877103 || code == 80877104) { // SSL off / GSS
          out.write('N'); out.flush()
        } else if (code == 80877102) { // CancelRequest: pid + secret follow
          val pid = in.readInt()
          val secret = in.readInt()
          Option(cancelRegistry.get((pid, secret)))
            .flatMap(_.activeGroup)
            .foreach(engine.spark.sparkContext.cancelJobGroup)
          return // a cancel connection closes without a response (PG)
        } else {
          user = startup(len, in, out, st, source)
          negotiating = false
        }
      }
      val u = user.getOrElse(return)
      cancelRegistry.put((st.pid, st.secret), st)
      info = new ConnInfo(source, sock)
      liveConns.put(st, info)
      recordAdmission(System.nanoTime() - acceptNs)
      val session = engine.newSession()
      // the wire never inherits the embedded default (root/superuser):
      // the authenticated startup user is a plain user unless the
      // explicit trust list says otherwise
      session.setAuth(u, roles = Set(u),
        superuser = superusers.contains(u))
      var open = true
      while (open) { // EOF (client vanished) exits via the outer catch
        val tpe = in.readByte()
        if (info != null) info.lastActivityMs = System.currentTimeMillis()
        val len = in.readInt()
        // a garbage length would allocate unboundedly — cap at 64 MiB
        // (PG's own max query length ballpark) and drop the connection
        if (len < 4 || len > 64 * 1024 * 1024)
          throw new java.io.IOException(s"bad message length: $len")
        val body = new Array[Byte](len - 4)
        in.readFully(body)
        val c = tpe.toChar
        if (st.skipToSync && c != 'S' && c != 'X') ()
        else c match {
          case 'Q' =>
            st.skipToSync = false
            val sql = new String(body, UTF_8).stripSuffix("\u0000")
            cancellable(st)(runQuery(session, sql, in, out))
            readyForQuery(out, session.inTransaction)
          case 'P' => handleParse(st, body, out)
          case 'B' => handleBind(st, body, out)
          case 'D' => handleDescribe(session, st, body, out)
          case 'E' => handleExecute(session, st, body, out)
          case 'C' => // Close statement/portal
            val r = new Reader(body)
            val kind = r.byte(); val name = r.cstring()
            if (kind == 'S') st.prepared.remove(name) else st.portals.remove(name)
            out.write('3'); out.writeInt(4) // CloseComplete
          case 'H' => out.flush() // Flush
          case 'S' => // Sync
            st.skipToSync = false
            readyForQuery(out, session.inTransaction)
          case 'X' => open = false
          case other =>
            sendError(out, s"unsupported message type '$other'")
            st.skipToSync = true
        }
      }
    } catch { case _: EOFException => () case _: Exception => () }
    finally {
      cancelRegistry.remove((st.pid, st.secret))
      liveConns.remove(st)
      try sock.close() catch { case _: Exception => () }
    }
  }

  /** The startup message (protocol 3.x), after any SSL/GSS
    * negotiation handle() already consumed. Returns the authenticated
    * user name, or None to drop the connection (failed password
    * challenges, pool rejection). */
  private def startup(len: Int, in: DataInputStream, out: DataOutputStream,
      st: ConnState, source: String): Option[String] = {
    {
      val rest = new Array[Byte](len - 8)
      in.readFully(rest)
      // parameters: alternating key/value cstrings, empty-key terminated
      val params = {
        val r = new Reader(rest)
        val b = Map.newBuilder[String, String]
        var k = r.cstring()
        while (k.nonEmpty) { b += k -> r.cstring(); k = r.cstring() }
        b.result()
      }
      val user = params.getOrElse("user", "anonymous")
      // pool admission before any challenge (connection.rs:320-340):
      // total and per-source caps, counted over live sessions
      val perSource = {
        var n = 0
        liveConns.forEach((_, i) => if (i.source == source) n += 1)
        n
      }
      if (liveConns.size >= maxConnections || perSource >= maxPerSource) {
        statRejected.incrementAndGet()
        sendError(out, "too many connections", "53300")
        None
      }
      // security-monitor auto-block: a brute-forcing source is refused
      // before the password challenge (security_monitor.rs:684-703)
      else if (engine.security.isBlocked(source)) {
        sendError(out,
          s"connection refused: source $source is blocked", "28000")
        None
      } else if (!authenticate(user, in, out, source)) None
      else {
        statAccepted.incrementAndGet()
        out.write('R'); out.writeInt(8); out.writeInt(0) // AuthenticationOk
        for ((k, v) <- Seq("server_version" -> "14.0 (graft)",
            "client_encoding" -> "UTF8", "DateStyle" -> "ISO",
            "standard_conforming_strings" -> "on")) {
          val payload = k.getBytes(UTF_8) ++ Array(0.toByte) ++
            v.getBytes(UTF_8) ++ Array(0.toByte)
          out.write('S'); out.writeInt(4 + payload.length); out.write(payload)
        }
        out.write('K'); out.writeInt(12)
        out.writeInt(st.pid); out.writeInt(st.secret) // BackendKeyData
        readyForQuery(out)
        Some(user)
      }
    }
  }

  /** Password challenge for users with a configured password, by the
    * user's configured scheme (protocol/auth.rs:19-40): "cleartext"
    * (AuthenticationCleartextPassword, the default), "md5"
    * (auth.rs:93-103 — salted double-MD5), or "scram-sha-256"
    * (RFC 5802/7677 SASL, like PG 10+). Users without a password
    * connect unchallenged — but always as plain non-superusers unless
    * trusted. */
  private def authenticate(user: String, in: DataInputStream,
      out: DataOutputStream, source: String): Boolean =
    passwords.get(user) match {
      case None => true
      case Some(expect) =>
        val ok =
          try authMethods.getOrElse(user, "cleartext") match {
            case "md5" => authMd5(user, expect, in, out)
            case "scram-sha-256" => authScram(user, expect, in, out)
            case _ => authCleartext(expect, in, out)
          } catch { case _: Exception => false } // malformed exchange
        if (!ok) {
          // feed the intrusion monitor: enough of these inside the
          // window raises a BruteForceAttack threat, and with
          // auto-block on the NEXT connection from this source is
          // refused at startup
          engine.security.recordFailedLogin(source, user)
          sendError(out,
            "password authentication failed for user \"" + user + "\"", "28P01")
        }
        ok
    }

  /** One password ('p') message body. */
  private def passwordMessage(in: DataInputStream): Option[Array[Byte]] = {
    val tpe = in.readByte()
    val len = in.readInt()
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    if (tpe == 'p') Some(body) else None
  }

  private def authCleartext(expect: String, in: DataInputStream,
      out: DataOutputStream): Boolean = {
    out.write('R'); out.writeInt(8); out.writeInt(3) // CleartextPassword
    out.flush()
    passwordMessage(in).exists { body =>
      val supplied = new String(body, UTF_8).stripSuffix("\u0000")
      java.security.MessageDigest.isEqual(supplied.getBytes(UTF_8),
        expect.getBytes(UTF_8))
    }
  }

  private def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** AuthenticationMD5Password: the client answers
    * md5(md5(password + user) + salt) with a "md5" prefix — the
    * reference's exact scheme (auth.rs:93-103). */
  private def authMd5(user: String, expect: String, in: DataInputStream,
      out: DataOutputStream): Boolean = {
    val salt = new Array[Byte](4)
    new java.security.SecureRandom().nextBytes(salt)
    out.write('R'); out.writeInt(12); out.writeInt(5); out.write(salt)
    out.flush()
    passwordMessage(in).exists { body =>
      val supplied = new String(body, UTF_8).stripSuffix("\u0000")
      val inner = md5hex((expect + user).getBytes(UTF_8))
      val want = "md5" + md5hex(inner.getBytes(UTF_8) ++ salt)
      java.security.MessageDigest.isEqual(supplied.getBytes(UTF_8),
        want.getBytes(UTF_8))
    }
  }

  // ------------------------------------------------ SCRAM-SHA-256

  private def hmac(key: Array[Byte], msg: Array[Byte]): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(msg)
  }
  private def sha256(b: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)

  /** SCRAM-SHA-256 SASL exchange (RFC 5802/7677; PG's
    * AuthenticationSASL / SASLContinue / SASLFinal framing). The
    * salted password derives per-connection via PBKDF2-HMAC-SHA256
    * from the configured cleartext (a stored-verifier deployment
    * would persist SaltedPassword instead; the exchange is
    * identical). Channel binding is not offered (gs2 "n,,"), matching
    * a non-TLS-bound SCRAM deployment. */
  private def authScram(user: String, expect: String, in: DataInputStream,
      out: DataOutputStream): Boolean = {
    // AuthenticationSASL: advertise the mechanism list (NUL-NUL ends it)
    val mech = "SCRAM-SHA-256".getBytes(UTF_8)
    out.write('R'); out.writeInt(4 + 4 + mech.length + 2)
    out.writeInt(10); out.write(mech); out.write(0); out.write(0)
    out.flush()
    // SASLInitialResponse: mechanism cstring + int32 len + client-first
    val init = passwordMessage(in).getOrElse(return false)
    val r = new Reader(init)
    if (r.cstring() != "SCRAM-SHA-256") return false
    val cfLen = r.int32()
    val clientFirst = new String(r.bytes(cfLen), UTF_8)
    // gs2 header (e.g. "n,,") then bare: n=<user>,r=<clientNonce>
    val bare = clientFirst.split(",,", 2).lift(1).getOrElse(return false)
    val attrs = bare.split(",").collect {
      case a if a.length > 1 && a(1) == '=' => a.substring(0, 1) -> a.substring(2)
    }.toMap
    val clientNonce = attrs.getOrElse("r", return false)
    val b64 = java.util.Base64.getEncoder
    val nonce = clientNonce + b64.encodeToString({
      val n = new Array[Byte](18); new java.security.SecureRandom().nextBytes(n); n
    })
    val salt = { val s = new Array[Byte](16)
      new java.security.SecureRandom().nextBytes(s); s }
    val iters = 4096
    val serverFirst = s"r=$nonce,s=${b64.encodeToString(salt)},i=$iters"
    val sf = serverFirst.getBytes(UTF_8)
    out.write('R'); out.writeInt(8 + sf.length); out.writeInt(11); out.write(sf)
    out.flush() // AuthenticationSASLContinue
    // SASLResponse: client-final = c=<b64 gs2>,r=<nonce>,p=<b64 proof>
    val fin = new String(passwordMessage(in).getOrElse(return false), UTF_8)
    val finAttrs = fin.split(",").collect {
      case a if a.length > 1 && a(1) == '=' => a.substring(0, 1) -> a.substring(2)
    }.toMap
    val proofB64 = finAttrs.getOrElse("p", return false)
    if (!finAttrs.get("r").contains(nonce)) return false
    val withoutProof = fin.substring(0, fin.lastIndexOf(",p="))
    val authMessage =
      (bare + "," + serverFirst + "," + withoutProof).getBytes(UTF_8)
    // SaltedPassword = Hi(password, salt, i) = PBKDF2-HMAC-SHA256
    val skf = javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
    val salted = skf.generateSecret(new javax.crypto.spec.PBEKeySpec(
      expect.toCharArray, salt, iters, 256)).getEncoded
    val clientKey = hmac(salted, "Client Key".getBytes(UTF_8))
    val storedKey = sha256(clientKey)
    val clientSig = hmac(storedKey, authMessage)
    val proof = java.util.Base64.getDecoder.decode(proofB64)
    // recovered ClientKey = proof XOR signature; valid iff it hashes
    // to StoredKey (RFC 5802 §3)
    if (proof.length != clientSig.length) return false
    val recovered = proof.zip(clientSig).map { case (p, s) => (p ^ s).toByte }
    if (!java.security.MessageDigest.isEqual(sha256(recovered), storedKey))
      return false
    val serverKey = hmac(salted, "Server Key".getBytes(UTF_8))
    val serverSig = hmac(serverKey, authMessage)
    val finalMsg = s"v=${b64.encodeToString(serverSig)}".getBytes(UTF_8)
    out.write('R'); out.writeInt(8 + finalMsg.length)
    out.writeInt(12); out.write(finalMsg) // AuthenticationSASLFinal
    out.flush()
    true
  }

  // ---------------------------------------------- extended protocol

  /** Cursor over a message body: cstrings, big-endian ints. */
  private final class Reader(body: Array[Byte]) {
    private var pos = 0
    def byte(): Char = { val b = body(pos); pos += 1; b.toChar }
    def int16(): Int = {
      val v = ((body(pos) & 0xff) << 8) | (body(pos + 1) & 0xff)
      pos += 2; v.toShort.toInt
    }
    def int32(): Int = {
      val v = ((body(pos) & 0xff) << 24) | ((body(pos + 1) & 0xff) << 16) |
        ((body(pos + 2) & 0xff) << 8) | (body(pos + 3) & 0xff)
      pos += 4; v
    }
    def cstring(): String = {
      val end = body.indexOf(0.toByte, pos)
      // a frame whose string never terminates is malformed, not an
      // index-arithmetic accident: raise a clean protocol error (the
      // caller's catch sends ErrorResponse + resyncs to Sync)
      if (end < 0) throw new IllegalArgumentException(
        "malformed message: unterminated string")
      val s = new String(body, pos, end - pos, UTF_8)
      pos = end + 1
      s
    }
    def bytes(n: Int): Array[Byte] = { val a = body.slice(pos, pos + n); pos += n; a }
  }

  private def handleParse(st: ConnState, body: Array[Byte],
      out: DataOutputStream): Unit =
    try {
      val r = new Reader(body)
      val name = r.cstring()
      val sql = r.cstring()
      val oids = Seq.fill(r.int16())(r.int32())
      st.prepared(name) = (sql, oids)
      out.write('1'); out.writeInt(4) // ParseComplete
    } catch {
      case e: Exception => // malformed message: error + resync, not a drop
        sendError(out, Option(e.getMessage).getOrElse(e.getClass.getName))
        st.skipToSync = true
    }

  /** A text-format parameter, converted by its declared type oid so
    * numeric/boolean binds compare natively; unknown oids bind as
    * strings (Spark coerces in comparisons). */
  private def typedParam(text: String, oid: Int): Any = oid match {
    case 20 | 23 | 21 => text.toLong
    case 700 | 701 | 1700 => text.toDouble
    case 16 => text == "t" || text == "true"
    case _ => text
  }

  /** A binary-format parameter (format code 1), decoded by its declared
    * type oid — JDBC and npgsql bind int/float/bool binary by default
    * in some modes (the reference decodes the same scalar wire types,
    * driftdb-server/src/protocol/messages.rs). Network byte order
    * throughout; text-family oids sent binary are raw UTF-8. */
  private def binaryParam(bytes: Array[Byte], oid: Int): Any = {
    def bb = {
      val b = java.nio.ByteBuffer.wrap(bytes) // big-endian by default
      b
    }
    def need(n: Int): Unit = require(bytes.length == n,
      s"binary parameter for oid $oid must be $n bytes, got ${bytes.length}")
    oid match {
      case 21 => need(2); bb.getShort.toLong
      case 23 => need(4); bb.getInt.toLong
      case 20 => need(8); bb.getLong
      case 700 => need(4); bb.getFloat.toDouble
      case 701 => need(8); bb.getDouble
      case 16 => need(1); bytes(0) != 0
      case 25 | 1043 | 0 => new String(bytes, UTF_8)
      case other => throw new IllegalArgumentException(
        s"binary parameter format not supported for type oid $other")
    }
  }

  private def handleBind(st: ConnState, body: Array[Byte],
      out: DataOutputStream): Unit =
    try {
      val r = new Reader(body)
      val portal = r.cstring()
      val stmtName = r.cstring()
      val fmtCodes = Seq.fill(r.int16())(r.int16())
      val nParams = r.int16()
      val (sql, oids) = st.prepared.getOrElse(stmtName,
        throw new IllegalArgumentException(s"unknown prepared statement: $stmtName"))
      val params = (0 until nParams).map { i =>
        val plen = r.int32()
        if (plen < 0) null
        else {
          val fmt = if (fmtCodes.isEmpty) 0
            else if (fmtCodes.length == 1) fmtCodes.head else fmtCodes(i)
          if (fmt != 0) binaryParam(r.bytes(plen), oids.lift(i).getOrElse(0))
          else typedParam(new String(r.bytes(plen), UTF_8), oids.lift(i).getOrElse(0))
        }
      }
      val bound =
        if (params.isEmpty) sql else graft.sql.Params.bind(sql, params)
      st.portals(portal) = new Portal(bound)
      out.write('2'); out.writeInt(4) // BindComplete
    } catch {
      case e: Exception =>
        sendError(out, Option(e.getMessage).getOrElse(e.getClass.getName))
        st.skipToSync = true
    }

  /** Engine dispatch with the pg_catalog introspection detour: a
    * statement referencing the pg_catalog surface answers from the
    * read-only catalog slice (PgCatalog — psql `\dt` and driver
    * metadata probes), everything else routes through session.sql
    * unchanged. */
  private def runSql(session: QueryEngine#Session, sql: String): DataFrame =
    if (PgCatalog.isCatalogQuery(sql)) PgCatalog.run(engine, sql)
    else session.sql(sql)

  private def portalFrame(session: QueryEngine#Session, p: Portal): DataFrame = {
    if (p.df.isEmpty) p.df = Some(runSql(session, p.sql))
    p.df.get
  }

  private def handleDescribe(session: QueryEngine#Session, st: ConnState,
      body: Array[Byte], out: DataOutputStream): Unit =
    try {
      val r = new Reader(body)
      val kind = r.byte(); val name = r.cstring()
      if (kind == 'S') {
        val (sql, oids) = st.prepared.getOrElse(name,
          throw new IllegalArgumentException(s"unknown prepared statement: $name"))
        out.write('t'); out.writeInt(4 + 2 + 4 * oids.length) // ParameterDescription
        out.writeShort(oids.length)
        oids.foreach(out.writeInt)
        // PG answers RowDescription at statement-Describe for
        // row-returning statements — pgjdbc's getMetaData() and
        // describe-before-execute paths read it (round 17; NoData here
        // made a prepared SELECT look resultless). The row SHAPE never
        // depends on parameter values in graft's SQL, so plan once
        // with NULL-bound parameters. That plan is safe ONLY for pure
        // READ heads (a lazy frame — plan-only, no job): the engine
        // dispatches statements like CALL / REFRESH / VACUUM / BACKUP
        // eagerly inside session.sql, so NULL-bind-planning one would
        // RUN its side effects at Describe time (with NULL arguments!)
        // and again at Execute with the real ones. Those answer
        // NoData, the pre-r17 answer — a metadata miss, never a
        // phantom execution. Anything that fails the NULL-bound plan
        // also degrades to NoData.
        val rowDesc =
          if (!pureHeads(headWords(sql)._1)) None
          else scala.util.Try {
            val bound = if (oids.isEmpty) sql
              else graft.sql.Params.bind(sql,
                IndexedSeq.fill[Any](oids.length)(null))
            cancellable(st)(runSql(session, bound)).schema
          }.toOption
        rowDesc match {
          case Some(schema) => sendRowDescription(schema, out)
          case None => out.write('n'); out.writeInt(4) // NoData
        }
      } else {
        val p = st.portals.getOrElse(name,
          throw new IllegalArgumentException(s"unknown portal: $name"))
        // rowless statements answer NoData WITHOUT executing — PG runs
        // DML at Execute, never at Describe. A row-returning statement
        // builds the portal's frame here: pure reads plan lazily (no
        // job), while an eager head (CALL, REFRESH, …) does run at
        // this point — its frame is CACHED on the portal, so the
        // Execute that pgjdbc sends in the same batch streams the one
        // result and the statement never runs twice. NoData is not an
        // option for these: the client must see RowDescription before
        // the DataRows Execute will stream.
        if (isRowless(headWords(p.sql)._1)) { out.write('n'); out.writeInt(4) }
        else sendRowDescription(cancellable(st)(portalFrame(session, p)).schema, out)
      }
    } catch {
      case e: Exception =>
        sendError(out, Option(e.getMessage).getOrElse(e.getClass.getName))
        st.skipToSync = true
    }

  private def handleExecute(session: QueryEngine#Session, st: ConnState,
      body: Array[Byte], out: DataOutputStream): Unit =
    try {
      val r = new Reader(body)
      val name = r.cstring()
      val maxRows = r.int32()
      val p = st.portals.getOrElse(name,
        throw new IllegalArgumentException(s"unknown portal: $name"))
      val (w1, w2) = headWords(p.sql)
      cancellable(st) {
        if (isRowless(w1)) {
          // run once; a re-Execute of the finished portal is a no-op
          // completion, not a second write
          val aff =
            if (p.done) 0L else affectedRows(portalFrame(session, p))
          p.done = true
          sendCommandComplete(out, commandTag(w1, w2, aff))
        } else {
          val df = portalFrame(session, p)
          if (p.it.isEmpty) p.it = Some(rowsOf(df))
          val (n, exhausted) = streamRows(df.schema, p.it.get, maxRows, out)
          if (exhausted) sendCommandComplete(out, s"SELECT $n")
          else { out.write('s'); out.writeInt(4); out.flush() } // PortalSuspended
        }
      }
    } catch {
      case e: Exception =>
        sendError(out, Option(e.getMessage).getOrElse(e.getClass.getName))
        st.skipToSync = true
    }

  // -------------------------------------------------------- execution

  /** Leading keyword pair of a statement, literal/comment-blind. */
  private def headWords(sql: String): (String, String) = {
    // strip leading parens: "(SELECT ...) ORDER BY 1" heads as SELECT
    // — without this, statement-Describe missed a parenthesized
    // select's RowDescription (r17 advice; no rowless head can start
    // with a paren, so the strip can't misclassify DML)
    val toks = graft.sql.SqlText.maskNonCode(sql).trim
      .dropWhile(c => c == '(' || c.isWhitespace).split("\\s+")
    (toks.headOption.getOrElse("").toUpperCase,
      toks.lift(1).getOrElse("").toUpperCase)
  }

  /** Statements that complete with a command tag and no row data on
    * the wire (PG shape: INSERT answers `INSERT 0 n`, not a result
    * set) — the engine's uniform summary frame stays an API surface,
    * but drivers parsing update counts from tags need the tag. */
  private val rowlessHeads = Set("INSERT", "UPDATE", "DELETE", "COPY",
    "BEGIN", "COMMIT", "ROLLBACK", "SAVEPOINT", "RELEASE", "SET", "RESET",
    "CREATE", "DROP", "ALTER", "TRUNCATE", "GRANT", "REVOKE")
  private def isRowless(w1: String): Boolean = rowlessHeads.contains(w1)

  /** Heads whose frame construction is a pure read — the engine hands
    * back a lazy plan (or a bounded catalog listing) with no side
    * effects, so statement-Describe may NULL-bind-plan them for the
    * row shape. Everything else (CALL, REFRESH, VACUUM, BACKUP,
    * OPTIMIZE, ANALYZE, CHECK, REPAIR, MIGRATE, …) executes eagerly
    * inside session.sql and must NOT run at Describe. */
  private val pureHeads = Set("SELECT", "WITH", "VALUES", "SHOW",
    "EXPLAIN", "DESCRIBE", "DIFF")

  /** The affected-row count from the engine's DML summary frame
    * ((op, n_affected, last_sequence) — a one-row LocalRelation, so the
    * collect runs no Spark job; the DML side effects already ran
    * eagerly when the statement did). */
  private def affectedRows(df: DataFrame): Long =
    if (df.schema.fieldNames.contains("n_affected"))
      df.select("n_affected").collect().headOption.fold(0L)(_.getLong(0))
    else 0L

  /** PG command tag for a rowless statement (protocol v3: drivers and
    * ORMs parse update counts out of these). */
  private def commandTag(w1: String, w2: String, aff: Long): String =
    w1 match {
      case "INSERT" => s"INSERT 0 $aff"
      case "UPDATE" | "DELETE" | "COPY" => s"$w1 $aff"
      case "CREATE" | "DROP" | "ALTER" => s"$w1 $w2".trim
      case "TRUNCATE" => "TRUNCATE TABLE"
      case other => other // BEGIN COMMIT ROLLBACK SAVEPOINT RELEASE SET ...
    }

  private def runQuery(session: QueryEngine#Session, sql: String,
      in: DataInputStream, out: DataOutputStream): Unit = {
    val stmts = graft.sql.StatementRouter.splitTopLevel(sql, ';')
      .filter(s => graft.sql.SqlText.maskNonCode(s).trim.nonEmpty)
    if (stmts.isEmpty) { out.write('I'); out.writeInt(4); return } // EmptyQuery
    for (stmt <- stmts) {
      try {
        stmt.trim match {
          case CopyInR(table, cols, fmt) =>
            copyInStdin(session, table, Option(cols), fmtName(fmt), in, out)
          case CopyOutR(table, cols, query, fmt) =>
            copyOutStdout(session, Option(table), Option(cols),
              Option(query), fmtName(fmt), out)
          case _ =>
            val df = runSql(session, stmt)
            val (w1, w2) = headWords(stmt)
            if (isRowless(w1))
              sendCommandComplete(out, commandTag(w1, w2, affectedRows(df)))
            else {
              sendRowDescription(df.schema, out)
              val (n, _) = streamRows(df.schema, rowsOf(df), 0, out)
              sendCommandComplete(out, s"SELECT $n")
            }
        }
      } catch {
        case e: Exception =>
          sendError(out, Option(e.getMessage).getOrElse(e.getClass.getName))
          return // PG aborts the rest of a multi-statement Query on error
      }
    }
  }

  // ------------------------------------------------- wire COPY (\copy)

  // COPY t [(cols)] FROM STDIN [[WITH] (FORMAT x) | x] — what psql's
  // \copy sends. [REF-GAP]: the reference declares CopyInResponse/
  // CopyData in its protocol (messages.rs:112-116) but never serves
  // them; real clients use \copy constantly, so we do.
  private val CopyInR =
    ("""(?is)^COPY\s+([\w.]+)(?:\s*\(([^)]*)\))?\s+FROM\s+STDIN""" +
      """(?:\s+(?:WITH\s+)?\(?\s*(?:FORMAT\s+)?(\w+)\s*\)?)?\s*;?\s*$""").r
  private val CopyOutR =
    ("""(?is)^COPY\s+(?:([\w.]+)(?:\s*\(([^)]*)\))?|\((.+)\))\s+TO\s+STDOUT""" +
      """(?:\s+(?:WITH\s+)?\(?\s*(?:FORMAT\s+)?(\w+)\s*\)?)?\s*;?\s*$""").r

  private def fmtName(raw: String): String = Option(raw).map(_.toLowerCase)
    .getOrElse("text") match {
      case "text" | "csv" => Option(raw).map(_.toLowerCase).getOrElse("text")
      case other => throw new IllegalArgumentException(
        s"unsupported COPY format on the wire: $other (text | csv)")
    }

  /** COPY FROM STDIN: CopyInResponse, spool CopyData to a temp file,
    * then land the batch through the engine's governed file-COPY path
    * (privileges, constraints, triggers, atomic publish — no second
    * write path). Text format unescapes PG's \t/\n/\\ and \N nulls;
    * CSV passes through with a synthesized header. */
  private def copyInStdin(session: QueryEngine#Session, table: String,
      cols: Option[String], fmt: String, in: DataInputStream,
      out: DataOutputStream): Unit = {
    // gate BEFORE CopyInResponse: an ungranted session (or a missing
    // table) is refused with zero bytes transferred, PG's own order —
    // not after spooling a multi-GiB upload
    session.requirePrivilege(table, "INSERT")
    val colNames = cols.map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(engine.catalog.require(table).columns.map(_.logical))
    // CopyInResponse: overall format 0 (text on the wire either way —
    // the FORMAT option governs line syntax, not the message framing)
    out.write('G'); out.writeInt(4 + 1 + 2 + 2 * colNames.length)
    out.write(0); out.writeShort(colNames.length)
    colNames.foreach(_ => out.writeShort(0))
    out.flush()
    val spool = java.nio.file.Files.createTempFile("graft-copyin-", ".raw")
    try {
      val fos = java.nio.file.Files.newOutputStream(spool)
      var done = false
      var failed: Option[String] = None
      var total = 0L
      try while (!done) {
        val tpe = in.readByte()
        val len = in.readInt()
        if (len < 4 || len > 64 * 1024 * 1024)
          throw new java.io.IOException(s"bad CopyData length: $len")
        val body = new Array[Byte](len - 4)
        in.readFully(body)
        tpe.toChar match {
          case 'd' =>
            total += body.length
            if (total > 4L * 1024 * 1024 * 1024)
              throw new java.io.IOException("COPY payload exceeds 4 GiB spool cap")
            fos.write(body)
          case 'c' => done = true // CopyDone
          case 'f' => // CopyFail: the client aborts the transfer
            failed = Some(new String(body, UTF_8).stripSuffix("\u0000"))
            done = true
          case 'H' | 'S' => () // Flush/Sync are legal no-ops mid-COPY
          case other =>
            throw new java.io.IOException(s"unexpected message '$other' during COPY")
        }
      } finally fos.close()
      failed match {
        case Some(msg) =>
          sendError(out, s"COPY from stdin failed: $msg", "57014")
        case None =>
          val csv = java.nio.file.Files.createTempFile("graft-copyin-", ".csv")
          try {
            spoolToCsv(spool, csv, colNames, fmt)
            val res = session.sql(
              s"COPY $table FROM '${csv.toString}' (FORMAT CSV)")
            sendCommandComplete(out, s"COPY ${affectedRows(res)}")
          } finally java.nio.file.Files.deleteIfExists(csv)
      }
    } finally java.nio.file.Files.deleteIfExists(spool)
  }

  /** Normalize the spooled STDIN payload to a headered CSV the
    * engine's file-COPY reads: text format is parsed (tab fields, \N
    * nulls, backslash escapes) and re-emitted RFC-quoted; CSV data
    * passes through under the synthesized header. A trailing `\.`
    * terminator line (pre-3.0 clients send one) is dropped. */
  private def spoolToCsv(raw: java.nio.file.Path, csv: java.nio.file.Path,
      colNames: Seq[String], fmt: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(csv, UTF_8)
    try {
      w.write(colNames.mkString(",")); w.write("\n")
      val r = java.nio.file.Files.newBufferedReader(raw, UTF_8)
      try {
        var line = r.readLine()
        while (line != null) {
          // the `\.` terminator is a TEXT-format artifact; in CSV a
          // line reading \. could be the middle of a quoted multi-line
          // field and must pass through
          if (fmt == "csv" || line != "\\.") {
            if (fmt == "csv") { w.write(line); w.write("\n") }
            else {
              val fields = splitTextLine(line).map {
                case null => ""
                case v => "\"" + v.replace("\"", "\"\"") + "\""
              }
              w.write(fields.mkString(",")); w.write("\n")
            }
          }
          line = r.readLine()
        }
      } finally r.close()
    } finally w.close()
  }

  /** One PG text-format line -> fields (null for \N), unescaping the
    * backslash forms COPY TO emits. */
  private def splitTextLine(line: String): Seq[String] = {
    val fields = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var isNull = false
    var i = 0
    def flush(): Unit = {
      fields += (if (isNull && cur.isEmpty) null else cur.toString)
      cur.clear(); isNull = false
    }
    while (i < line.length) {
      line.charAt(i) match {
        case '\t' => flush()
        case '\\' if i + 1 < line.length =>
          i += 1
          line.charAt(i) match {
            case 'N' if cur.isEmpty => isNull = true
            case 't' => cur += '\t'
            case 'n' => cur += '\n'
            case 'r' => cur += '\r'
            case 'b' => cur += '\b'
            case 'f' => cur += '\f'
            case 'v' => cur += ''
            case c => cur += c // incl. \\ and \<tab>
          }
        case c => cur += c
      }
      i += 1
    }
    flush()
    fields.toSeq
  }

  /** COPY TO STDOUT: CopyOutResponse + one CopyData per row (PG text
    * or CSV line syntax), streamed via `rowsOf` — one partition
    * resident, like every other result path. */
  private def copyOutStdout(session: QueryEngine#Session,
      table: Option[String], cols: Option[String], query: Option[String],
      fmt: String, out: DataOutputStream): Unit = {
    val sql = query.map(q => q).getOrElse {
      val proj = cols.map(_.trim).filter(_.nonEmpty).getOrElse("*")
      s"SELECT $proj FROM ${table.get}"
    }
    val df = session.sql(sql)
    val nCols = df.schema.fields.length
    out.write('H'); out.writeInt(4 + 1 + 2 + 2 * nCols)
    out.write(0); out.writeShort(nCols)
    df.schema.fields.foreach(_ => out.writeShort(0))
    val it = rowsOf(df)
    var n = 0L
    while (it.hasNext) {
      val row = it.next()
      val fields = (0 until nCols).map { i =>
        if (row.isNullAt(i)) null
        else df.schema.fields(i).dataType match {
          case BooleanType => if (row.getBoolean(i)) "t" else "f"
          case _ => String.valueOf(row.get(i))
        }
      }
      val line =
        if (fmt == "csv") fields.map {
          case null => ""
          case v if v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r') =>
            "\"" + v.replace("\"", "\"\"") + "\""
          case v => v
        }.mkString(",")
        else fields.map {
          case null => """\N"""
          case v => v.flatMap {
            case '\\' => "\\\\"
            case '\t' => "\\t"
            case '\n' => "\\n"
            case '\r' => "\\r"
            case c => c.toString
          }
        }.mkString("\t")
      val bytes = (line + "\n").getBytes(UTF_8)
      out.write('d'); out.writeInt(4 + bytes.length); out.write(bytes)
      n += 1
    }
    out.write('c'); out.writeInt(4) // CopyDone
    sendCommandComplete(out, s"COPY $n")
  }

  private def typeOid(dt: DataType): (Int, Int) = dt match { // (oid, typlen)
    case LongType => (20, 8)
    case IntegerType => (23, 4)
    case ShortType => (21, 2)
    case DoubleType => (701, 8)
    case FloatType => (700, 4)
    case BooleanType => (16, 1)
    case _ => (25, -1) // text
  }

  private def sendRowDescription(schema: StructType, out: DataOutputStream): Unit = {
    val buf = new java.io.ByteArrayOutputStream()
    val d = new DataOutputStream(buf)
    d.writeShort(schema.fields.length)
    for (f <- schema.fields) {
      d.write(f.name.getBytes(UTF_8)); d.write(0)
      d.writeInt(0); d.writeShort(0)
      val (oid, typlen) = typeOid(f.dataType)
      d.writeInt(oid); d.writeShort(typlen); d.writeInt(-1); d.writeShort(0)
    }
    out.write('T'); out.writeInt(4 + buf.size()); buf.writeTo(out)
    out.flush()
  }

  /** A result's rows as a cursor. toLocalIterator keeps memory bounded
    * to one partition, but it runs a job per partition even over a
    * LocalTableScan (which overrides executeCollect, executeTake and
    * executeTail, not executeToIterator); a result already on the
    * driver (a point read, a summary row) is collected instead, at no
    * extra memory since its rows live in the plan. */
  private def rowsOf(df: DataFrame): java.util.Iterator[org.apache.spark.sql.Row] =
    df.queryExecution.executedPlan match {
      case _: org.apache.spark.sql.execution.LocalTableScanExec =>
        java.util.Arrays.asList(df.collect(): _*).iterator()
      case _ => df.toLocalIterator()
    }

  /** Stream up to `maxRows` DataRows from the cursor (`<= 0` = all);
    * the cursor (`rowsOf`) holds one partition or a driver-resident
    * result, and there is no silent row cap. Returns (rows sent, cursor
    * exhausted) — the caller picks CommandComplete vs
    * PortalSuspended. */
  private def streamRows(schema: StructType,
      it: java.util.Iterator[org.apache.spark.sql.Row], maxRows: Int,
      out: DataOutputStream): (Long, Boolean) = {
    var n = 0L
    while (it.hasNext && (maxRows <= 0 || n < maxRows)) {
      val row = it.next()
      val rb = new java.io.ByteArrayOutputStream()
      val rd = new DataOutputStream(rb)
      rd.writeShort(schema.fields.length)
      for (i <- schema.fields.indices) {
        if (row.isNullAt(i)) rd.writeInt(-1)
        else {
          val v = schema.fields(i).dataType match {
            case BooleanType => if (row.getBoolean(i)) "t" else "f"
            case _ => String.valueOf(row.get(i))
          }
          val bytes = v.getBytes(UTF_8)
          rd.writeInt(bytes.length); rd.write(bytes)
        }
      }
      out.write('D'); out.writeInt(4 + rb.size()); rb.writeTo(out)
      n += 1
    }
    (n, !it.hasNext)
  }

  private def sendCommandComplete(out: DataOutputStream, tag: String): Unit = {
    val tb = tag.getBytes(UTF_8)
    out.write('C'); out.writeInt(4 + tb.length + 1); out.write(tb); out.write(0)
    out.flush()
  }

  private def sendError(out: DataOutputStream, msg: String,
      code: String = "XX000"): Unit = {
    val fields = Seq('S' -> "ERROR", 'V' -> "ERROR", 'C' -> code, 'M' -> msg)
    val buf = new java.io.ByteArrayOutputStream()
    for ((t, v) <- fields) { buf.write(t); buf.write(v.getBytes(UTF_8)); buf.write(0) }
    buf.write(0)
    out.write('E'); out.writeInt(4 + buf.size()); buf.writeTo(out)
    out.flush()
  }

  /** 'I' idle / 'T' in transaction — drivers key txn management off
    * this status byte. */
  private def readyForQuery(out: DataOutputStream,
      inTxn: Boolean = false): Unit = {
    out.write('Z'); out.writeInt(5); out.write(if (inTxn) 'T' else 'I')
    out.flush()
  }
}

object PgServer {
  /** The advanced-pool telemetry snapshot /performance/connections
    * serves (advanced_pool.rs:1-1197 parity): admission wait =
    * accept-to-session-ready (negotiation + pool gate + auth); health
    * sweeps = reaper passes; reaped = idle connections closed. */
  final case class PoolTelemetry(live: Int, accepted: Long,
      rejected: Long, reaped: Long, healthSweeps: Long,
      lastSweepMsAgo: Option[Long], admissions: Long,
      admitWaitNsTotal: Long, admitWaitNsMax: Long,
      maxConnections: Int, idleTimeoutMs: Long) {
    def avgAdmitWaitMs: Double =
      if (admissions == 0) 0.0
      else admitWaitNsTotal.toDouble / admissions / 1e6
    def maxAdmitWaitMs: Double = admitWaitNsMax.toDouble / 1e6
  }
}
