package perfbench

import com.fasterxml.jackson.databind.JsonNode

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{HttpURLConnection, Socket, URI}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A read's answer as the client saw it: column names, rows (Double, Long,
  * String or null cells), the route the program reported (HTTP only) and
  * an error message when the request failed.
  */
final case class Answer(columns: Seq[String], rows: Seq[Seq[Any]], route: Option[String],
    error: Option[String])

/** JDK-only HTTP/1.1 client for the program's API. One instance per client
  * thread; `HttpURLConnection` keeps that thread's connection alive
  * between requests.
  */
final class HttpClient(port: Int) {
  private val base = s"http://127.0.0.1:$port"

  private def call(method: String, path: String, body: Option[String]): (Int, String) = {
    val c = URI.create(base + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    body.foreach { b =>
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream
      os.write(b.getBytes(UTF_8))
      os.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, text)
  }

  private def cell(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else n.asText()

  /** `POST /api/v1/sydraql`. */
  def sydraql(q: String): Answer = {
    val (code, text) = call("POST", "/api/v1/sydraql",
      Some(Common.mapper.writeValueAsString(java.util.Map.of("query", q))))
    if (code != 200) Answer(Nil, Nil, None, Some(s"HTTP $code: ${text.take(300)}"))
    else {
      val n = Common.mapper.readTree(text)
      val cols = n.get("columns").elements().asScala.map(_.asText()).toSeq
      val rows = n.get("rows").elements().asScala.map(_.elements().asScala.map(cell).toSeq).toSeq
      Answer(cols, rows, Option(n.path("stats").get("route")).map(_.asText()), None)
    }
  }

  /** `GET /api/v1/query/range` for one series id over [start, end]. */
  def range(seriesId: Long, start: Long, end: Long): Answer = {
    val (code, text) = call("GET", s"/api/v1/query/range?series_id=$seriesId&start=$start&end=$end", None)
    if (code != 200) Answer(Nil, Nil, None, Some(s"HTTP $code: ${text.take(300)}"))
    else {
      val rows = Common.mapper.readTree(text).elements().asScala
        .map(p => Seq(cell(p.get("ts")), cell(p.get("value")))).toSeq
      Answer(Seq("ts", "value"), rows, Some("range"), None)
    }
  }

  /** `POST /api/v1/ingest` with an NDJSON body; the count acknowledged. */
  def ingest(ndjson: String): Either[String, Long] = {
    val (code, text) = call("POST", "/api/v1/ingest", Some(ndjson))
    if (code != 200) Left(s"HTTP $code: ${text.take(300)}")
    else Right(Common.mapper.readTree(text).get("ingested").asLong())
  }
}

/** Minimal PostgreSQL v3 simple-query client over one socket: startup,
  * then `Q` messages, reading RowDescription/DataRow/CommandComplete/
  * ErrorResponse up to ReadyForQuery. Text format only; NOTICEs skipped.
  */
final class PgClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(120000)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  locally {
    val params = "user\u0000perfbench\u0000database\u0000sydra\u0000\u0000".getBytes(UTF_8)
    out.writeInt(8 + params.length)
    out.writeInt(196608) // protocol 3.0
    out.write(params)
    out.flush()
    val err = readUntilReady(mutable.ArrayBuffer(), mutable.ArrayBuffer())
    err.foreach(e => throw new IllegalStateException(s"pgwire startup failed: $e"))
  }

  private def cstr(b: Array[Byte], from: Int): (String, Int) = {
    val end = b.indexOf(0.toByte, from)
    (new String(b, from, end - from, UTF_8), end + 1)
  }

  /** Read messages until ReadyForQuery; returns the error, if any. */
  private def readUntilReady(cols: mutable.ArrayBuffer[String],
      rows: mutable.ArrayBuffer[Seq[Any]]): Option[String] = {
    var err: Option[String] = None
    var done = false
    while (!done) {
      val tpe = in.readByte().toChar
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      tpe match {
        case 'Z' => done = true
        case 'T' =>
          val bb = java.nio.ByteBuffer.wrap(body)
          val n = bb.getShort.toInt
          var pos = 2
          (0 until n).foreach { _ =>
            val (name, next) = cstr(body, pos)
            cols += name
            pos = next + 18 // table oid, attnum, type oid, typlen, typmod, format
          }
        case 'D' =>
          val bb = java.nio.ByteBuffer.wrap(body)
          val n = bb.getShort.toInt
          rows += (0 until n).map { _ =>
            val l = bb.getInt
            if (l < 0) null
            else {
              val s = new String(body, bb.position(), l, UTF_8)
              bb.position(bb.position() + l)
              s
            }
          }
        case 'E' =>
          // fields: type byte + cstring, ...; keep the message ('M')
          var pos = 0
          val fields = mutable.Map[Char, String]()
          while (pos < body.length && body(pos) != 0) {
            val f = body(pos).toChar
            val (s, next) = cstr(body, pos + 1)
            fields(f) = s
            pos = next
          }
          err = Some(s"${fields.getOrElse('C', "?")}: ${fields.getOrElse('M', "")}")
        case 'R' =>
          if (java.nio.ByteBuffer.wrap(body).getInt != 0) err = Some("authentication required")
        case _ => () // S ParameterStatus, K BackendKeyData, N Notice, C CommandComplete
      }
    }
    err
  }

  /** One simple query; numeric cells arrive as text and are compared as numbers. */
  def query(sql: String): Answer = {
    val b = sql.getBytes(UTF_8)
    out.writeByte('Q')
    out.writeInt(4 + b.length + 1)
    out.write(b)
    out.writeByte(0)
    out.flush()
    val cols = mutable.ArrayBuffer[String]()
    val rows = mutable.ArrayBuffer[Seq[Any]]()
    val err = readUntilReady(cols, rows)
    Answer(cols.toSeq, rows.toSeq, None, err)
  }

  def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: Throwable => () }
    sock.close()
  }
}
