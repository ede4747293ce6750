package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** A PostgreSQL v3 wire client speaking the simple query protocol —
  * just enough to drive the engine's server over loopback the way a
  * client library would: one `Query` message per statement, rows in text
  * format. */
final class PgClient(port: Int, user: String) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  locally {
    val body = cstr("user") ++ cstr(user) ++ cstr("database") ++ cstr("bench") ++ Array[Byte](0)
    out.writeInt(4 + 4 + body.length); out.writeInt(196608); out.write(body); out.flush()
    val r = readUntilReady()
    r.error.foreach(e => throw new IllegalStateException(s"startup failed: $e"))
  }

  /** Run one statement; rows come back as text cells (null for NULL). */
  def query(sql: String): PgClient.Result = {
    val b = cstr(sql)
    out.write('Q'); out.writeInt(4 + b.length); out.write(b); out.flush()
    readUntilReady()
  }

  private def readUntilReady(): PgClient.Result = {
    val rows = Vector.newBuilder[Vector[String]]
    var tag = ""
    var error: Option[String] = None
    var done = false
    while (!done) {
      val t = in.readByte().toChar
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      t match {
        case 'D' =>
          val bb = java.nio.ByteBuffer.wrap(body)
          val n = bb.getShort()
          rows += Vector.tabulate(n.toInt) { _ =>
            val l = bb.getInt()
            if (l < 0) null
            else { val a = new Array[Byte](l); bb.get(a); new String(a, UTF_8) }
          }
        case 'C' => tag = new String(body, 0, body.length - 1, UTF_8)
        case 'E' => error = Some(errorMessage(body))
        case 'R' =>
          val code = java.nio.ByteBuffer.wrap(body).getInt()
          if (code != 0) throw new IllegalStateException(s"auth request $code")
        case 'Z' => done = true
        case _ => () // RowDescription, ParameterStatus, BackendKeyData, notices
      }
    }
    PgClient.Result(rows.result(), tag, error)
  }

  private def errorMessage(body: Array[Byte]): String = {
    var i = 0
    var msg = ""
    while (i < body.length && body(i) != 0) {
      val field = body(i).toChar
      val start = i + 1
      var end = start
      while (body(end) != 0) end += 1
      if (field == 'M') msg = new String(body, start, end - start, UTF_8)
      i = end + 1
    }
    msg
  }

  private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

  def close(): Unit = {
    try { out.write('X'); out.writeInt(4); out.flush() } catch { case _: Exception => () }
    sock.close()
  }
}

object PgClient {
  final case class Result(rows: Vector[Vector[String]], tag: String,
      error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }
}
