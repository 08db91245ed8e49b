package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

/** One keep-alive HTTP/1.1 connection owned by one client thread. The
  * load generator gives each of its threads exactly one of these, so the
  * number of open connections never exceeds the number of threads.
  */
final class Connection(port: Int, timeoutMs: Int) extends AutoCloseable {
  private var sock: Socket = _
  private var in: InputStream = _
  private var out: OutputStream = _

  private def open(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(timeoutMs)
    sock.connect(new InetSocketAddress("127.0.0.1", port), timeoutMs)
    in = new BufferedInputStream(sock.getInputStream)
    out = sock.getOutputStream
    Connection.maxOpen.accumulateAndGet(Connection.open.incrementAndGet(), math.max)
  }

  /** Sends one request and returns (status, body). */
  def request(method: String, path: String, body: String = null): (Int, String) = {
    if (sock == null) open()
    val payload = Option(body).map(_.getBytes(UTF_8)).getOrElse(Array.emptyByteArray)
    val head = s"$method $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${payload.length}\r\n\r\n"
    try {
      out.write(head.getBytes(UTF_8))
      out.write(payload)
      out.flush()
      readResponse()
    } catch {
      case e: java.io.IOException => close(); throw e
    }
  }

  private def readLine(): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString(UTF_8)
  }

  private def readResponse(): (Int, String) = {
    val status = readLine().split(" ")(1).toInt
    var length = -1
    var closeAfter = false
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      val k = line.substring(0, i).trim.toLowerCase
      val v = line.substring(i + 1).trim
      if (k == "content-length") length = v.toInt
      if (k == "connection" && v.equalsIgnoreCase("close")) closeAfter = true
      line = readLine()
    }
    require(length >= 0, "response without Content-Length")
    val bytes = in.readNBytes(length)
    if (bytes.length < length) throw new java.io.EOFException("short body")
    if (closeAfter) close()
    (status, new String(bytes, UTF_8))
  }

  def close(): Unit = if (sock != null) {
    try sock.close() catch { case _: java.io.IOException => }
    sock = null
    Connection.open.decrementAndGet()
  }
}

object Connection {
  /** Connections open now, and the most open at once. */
  val open, maxOpen = new AtomicInteger
}

/** Closed-loop load: `clients` threads (capped at the CPU count), each
  * sending its next operation only after the previous reply, until the
  * deadline has passed and `more()` is false. `op(clientId, conn)` performs
  * one operation.
  */
object ClosedLoop {
  def maxClients: Int = Runtime.getRuntime.availableProcessors()

  def run(clients: Int, port: Int, deadlineNs: Long, timeoutMs: Int,
      more: () => Boolean = () => false)(op: (Int, Connection) => Unit): Int = {
    val n = math.max(1, math.min(clients, maxClients))
    val threads = (0 until n).map { id =>
      new Thread(() => {
        val conn = new Connection(port, timeoutMs)
        try while (System.nanoTime() < deadlineNs || more()) op(id, conn)
        finally conn.close()
      }, s"perfbench-client-$id")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    n
  }
}
