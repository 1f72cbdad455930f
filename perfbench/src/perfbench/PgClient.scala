package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** Result of one statement: text rows and the CommandComplete tag. */
final case class PgResult(rows: Vector[Array[String]], tag: String)

/** Minimal PostgreSQL v3 client: startup, simple Query, and COPY FROM
  * STDIN. Rows come back in text format, as a PG client sees them. */
final class PgClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  /** Backend process id from BackendKeyData: the server's session id. */
  val sid: Int = {
    val params = cstr("user") ++ cstr("perfbench") ++ Array[Byte](0)
    out.writeInt(8 + params.length)
    out.writeInt(196608)
    out.write(params)
    out.flush()
    var id = -1
    var ready = false
    while (!ready) {
      val (tag, body) = read()
      tag match {
        case 'K' => id = java.nio.ByteBuffer.wrap(body).getInt
        case 'Z' => ready = true
        case 'E' => throw new IllegalStateException("startup failed: " + error(body))
        case _ =>
      }
    }
    id
  }

  def query(sql: String): PgResult = {
    send('Q', cstr(sql))
    out.flush()
    drain()
  }

  /** `COPY ... FROM STDIN` with `payload` sent as CopyData chunks. */
  def copyIn(sql: String, payload: Array[Byte]): PgResult = {
    send('Q', cstr(sql))
    out.flush()
    val (tag, body) = read()
    if (tag == 'E') { drain(); throw new IllegalStateException(error(body)) }
    require(tag == 'G', s"expected CopyInResponse, got $tag")
    var pos = 0
    while (pos < payload.length) {
      val n = math.min(65536, payload.length - pos)
      send('d', java.util.Arrays.copyOfRange(payload, pos, pos + n))
      pos += n
    }
    send('c')
    out.flush()
    drain()
  }

  override def close(): Unit = {
    try { send('X'); out.flush() } catch { case _: Exception => }
    sock.close()
  }

  private def drain(): PgResult = {
    val rows = Vector.newBuilder[Array[String]]
    var tag = ""
    var err: String = null
    var done = false
    while (!done) {
      val (t, body) = read()
      t match {
        case 'D' =>
          val bb = java.nio.ByteBuffer.wrap(body)
          val n = bb.getShort.toInt
          rows += Array.fill(n) {
            val len = bb.getInt
            if (len < 0) null
            else { val s = new String(body, bb.position(), len, UTF_8); bb.position(bb.position() + len); s }
          }
        case 'C' => tag = new String(body, 0, body.length - 1, UTF_8)
        case 'E' => err = error(body)
        case 'Z' => done = true
        case _ =>
      }
    }
    if (err != null) throw new IllegalStateException(err)
    PgResult(rows.result(), tag)
  }

  private def read(): (Char, Array[Byte]) = {
    val tag = in.readByte().toChar
    val body = new Array[Byte](in.readInt() - 4)
    in.readFully(body)
    (tag, body)
  }

  private def send(tag: Char, body: Array[Byte] = Array.emptyByteArray): Unit = {
    out.writeByte(tag)
    out.writeInt(4 + body.length)
    out.write(body)
  }

  private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

  /** The message field ('M') of an ErrorResponse. */
  private def error(body: Array[Byte]): String = {
    var pos = 0
    var msg = "error"
    while (pos < body.length && body(pos) != 0) {
      val end = body.indexOf(0: Byte, pos + 1)
      if (body(pos) == 'M') msg = new String(body, pos + 1, end - pos - 1, UTF_8)
      pos = end + 1
    }
    msg
  }
}
