package lakebench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal PostgreSQL simple-query client over one long-lived connection,
  * as a pooled BI/JDBC client holds it. No pg driver jar ships with the
  * image, so this speaks protocol v3 directly: StartupMessage, trust auth,
  * then `Q` → RowDescription / DataRow* / CommandComplete / ReadyForQuery.
  */
final class PgClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  startup()

  /** One result cycle per statement the server ran. */
  final case class Result(columns: Seq[String], rows: Seq[Seq[String]], tag: String)

  /** Outcome of one simple-query round trip: the results, the first error
    * (SQLSTATE, message) if any, and the transaction status byte.
    */
  final case class Reply(results: Seq[Result], error: Option[(String, String)],
      status: Char)

  def query(sql: String): Reply = {
    val body = new ByteArrayOutputStream()
    body.write(sql.getBytes(UTF_8)); body.write(0)
    out.writeByte('Q'); out.writeInt(body.size + 4); body.writeTo(out); out.flush()
    val results = Seq.newBuilder[Result]
    var cols = Seq.empty[String]
    val rows = Seq.newBuilder[Seq[String]]
    var error: Option[(String, String)] = None
    var status = 'I'
    var done = false
    while (!done) {
      val (t, b) = read()
      t match {
        case 'T' =>
          val c = new Cur(b)
          cols = (0 until c.i16()).map { _ =>
            val name = c.cstr(); c.skip(18); name
          }
        case 'D' =>
          val c = new Cur(b)
          rows += (0 until c.i16()).map { _ =>
            val l = c.i32()
            if (l < 0) null else c.str(l)
          }
        case 'C' =>
          results += Result(cols, rows.result(), new Cur(b).cstr())
          cols = Seq.empty; rows.clear()
        case 'E' => if (error.isEmpty) error = Some(errorFields(b))
        case 'Z' => status = b(0).toChar; done = true
        case _ => // NoticeResponse, ParameterStatus, EmptyQueryResponse
      }
    }
    Reply(results.result(), error, status)
  }

  def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: Exception => }
    sock.close()
  }

  private def startup(): Unit = {
    val b = new ByteArrayOutputStream()
    def c(s: String): Unit = { b.write(s.getBytes(UTF_8)); b.write(0) }
    c("user"); c(PgClient.User); c("database"); c("graft"); b.write(0)
    out.writeInt(8 + b.size); out.writeInt(196608); b.writeTo(out); out.flush()
    var ready = false
    while (!ready) {
      val (t, body) = read()
      t match {
        case 'E' => sys.error(s"pg startup refused: ${errorFields(body)}")
        case 'R' => require(new Cur(body).i32() == 0, "benchmark server runs trust auth")
        case 'Z' => ready = true
        case _ =>
      }
    }
  }

  private def read(): (Char, Array[Byte]) = {
    val t = in.readByte().toChar
    val b = new Array[Byte](in.readInt() - 4)
    in.readFully(b)
    (t, b)
  }

  private def errorFields(b: Array[Byte]): (String, String) = {
    val c = new Cur(b)
    var code = ""; var msg = ""
    var k = c.byte()
    while (k != 0) {
      val v = c.cstr()
      if (k == 'C') code = v else if (k == 'M') msg = v
      k = c.byte()
    }
    (code, msg)
  }

  private final class Cur(b: Array[Byte]) {
    private var p = 0
    def byte(): Int = { val v = b(p); p += 1; v }
    def i16(): Int = { val v = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff); p += 2; v }
    def i32(): Int = {
      val v = ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
        ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
      p += 4; v
    }
    def skip(n: Int): Unit = p += n
    def str(n: Int): String = { val s = new String(b, p, n, UTF_8); p += n; s }
    def cstr(): String = {
      var e = p
      while (b(e) != 0) e += 1
      val s = new String(b, p, e - p, UTF_8); p = e + 1; s
    }
  }
}

object PgClient {
  /** The role the benchmark's trust-auth endpoint accepts. */
  val User = "bench"
}
