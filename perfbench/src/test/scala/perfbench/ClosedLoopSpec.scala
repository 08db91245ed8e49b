package perfbench

import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The load generator never runs more client threads, or holds more open
  * connections, than the machine has CPUs, however many clients are asked
  * for. A stub HTTP server counts the connections it sees at once.
  */
class ClosedLoopSpec extends AnyFunSuite {

  /** Keep-alive stub: answers every request on a connection with `{}`. */
  final class Stub extends AutoCloseable {
    val server = new ServerSocket(0)
    val open, maxOpen, accepted = new AtomicInteger
    private val acceptor = new Thread(() => {
      try while (true) {
        val s = server.accept()
        accepted.incrementAndGet()
        maxOpen.accumulateAndGet(open.incrementAndGet(), math.max)
        new Thread(() => {
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(s.getInputStream, UTF_8))
          val out = s.getOutputStream
          try {
            var line = in.readLine()
            while (line != null) {
              if (line.isEmpty) {
                out.write("HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\n{}".getBytes(UTF_8))
                out.flush()
              }
              line = in.readLine()
            }
          } catch { case _: java.io.IOException => }
          finally { open.decrementAndGet(); s.close() }
        }).start()
      } catch { case _: java.io.IOException => }
    })
    acceptor.setDaemon(true)
    acceptor.start()
    def port: Int = server.getLocalPort
    def close(): Unit = server.close()
  }

  test("clients and connections are capped at the CPU count") {
    val cpus = Runtime.getRuntime.availableProcessors()
    val stub = new Stub
    try {
      val maxLive = new AtomicInteger
      val requests = new AtomicInteger
      val deadline = System.nanoTime() + 500L * 1000 * 1000
      val n = ClosedLoop.run(cpus + 3, stub.port, deadline, 5000) { (_, conn) =>
        val live = Thread.getAllStackTraces.keySet.toArray
          .count(_.asInstanceOf[Thread].getName.startsWith("perfbench-client-"))
        maxLive.accumulateAndGet(live, math.max)
        assert(conn.request("GET", "/x") == (200, "{}"))
        requests.incrementAndGet()
      }
      assert(n == cpus)
      assert(requests.get > n)
      assert(maxLive.get <= cpus)
      assert(stub.maxOpen.get <= cpus)
      assert(stub.accepted.get == n) // one keep-alive connection per client
      assert(Connection.maxOpen.get <= cpus)
    } finally stub.close()
  }
}
