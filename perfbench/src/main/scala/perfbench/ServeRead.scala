package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.etl.{EtlJob, StarSchema}
import graft.serving.Serve

/** serve-read: closed-loop analytic GETs (plus a share of /health) against
  * `Serve.start` over the generated WHO star. Every distinct request's first
  * body is kept for `run.py` to check; every later body must equal it.
  */
object ServeRead {

  final class Bodies {
    val first = new ConcurrentHashMap[String, String]()
    val counts = new ConcurrentHashMap[String, AtomicInteger]()
    /** True if `body` is the first seen for `path` or equals that one. */
    def accept(path: String, body: String): Boolean = {
      val prev = first.putIfAbsent(path, body)
      val same = prev == null || prev == body
      if (same) counts.computeIfAbsent(path, _ => new AtomicInteger).incrementAndGet()
      same
    }
  }

  def kindOf(path: String): String = if (path == "/health") "health" else "read"

  def run(cfg: Harness.Config): Map[String, Any] = {
    val mix = cfg.strings("mix")
    val timeoutMs = cfg.int("timeout_ms")
    val t0 = System.nanoTime()
    val spark = Harness.session(cfg, extensions = false)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val bodies = new Bodies
    val rec = new Recorder

    // set up: ETL lineage, server, and a warm-up request of each kind;
    // with more than one repeat, the last server takes the load
    val setups = ArrayBuffer.empty[Double]
    var server: com.sun.net.httpserver.HttpServer = null
    var star: StarSchema = null
    for (_ <- 1 to cfg.int("setup_repeats")) {
      if (server != null) server.stop(0)
      val s0 = System.nanoTime()
      star = EtlJob.run(spark, cfg.str("who_dir"))
      server = Serve.start(star, 0)
      val conn = new Connection(server.getAddress.getPort, timeoutMs)
      // one request of each kind: fits the forecast model and compiles
      try ("/health" +: mix).distinct.foreach { p =>
        val r0 = System.nanoTime()
        val (status, body) = conn.request("GET", p)
        rec.add("warmup", r0, status == 200 && bodies.accept(p, body), s"$p -> $status")
      } finally conn.close()
      setups += (System.nanoTime() - s0) / 1e9
    }
    val port = server.getAddress.getPort

    /** Closed loop over the cycle, until the deadline and at least `cycles`
      * whole cycles. Latencies and throughput count from the first `cycles`
      * cycles only (requests are numbered as they are issued), so every run
      * times the same requests, even when the machine is slow.
      */
    def load(clients: Int, readers: Int, cycles: Int, seconds: Double,
        tracer: Option[Tracer], stats: Option[StageStats],
        perRead: ArrayBuffer[Counts]): (Recorder, Int) = {
      val r = new Recorder
      val next = new AtomicInteger
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      ClosedLoop.run(clients, port, deadline, timeoutMs,
          () => next.get < cycles * mix.size) { (id, conn) =>
        // the first `readers` clients walk the cycle, the others poll /health
        val seq = if (id < readers) next.getAndIncrement() else -1
        val path = if (seq < 0) "/health" else mix(seq % mix.size)
        val kind = kindOf(path)
        val before = stats.map(_.snapshot(spark.sparkContext))
        val r0 = System.nanoTime()
        try {
          val (status, body) = tracer.fold(conn.request("GET", path))(
            _.span(s"serving.http", path)(conn.request("GET", path)))
          r.add(kind, r0, status == 200 && bodies.accept(path, body),
            s"$path -> $status ${body.take(200)}", seq)
          for (s <- stats; b <- before if kind == "read")
            perRead.synchronized(perRead += s.snapshot(spark.sparkContext) - b)
        } catch {
          case e: Exception => r.add(kind, r0, ok = false, s"$path: $e", seq)
        }
      }
      (r, math.min(next.get / mix.size, cycles) * mix.size)
    }

    val base: Map[String, Any] = Map(
      "session_s" -> sessionS, "setup_s" -> setups.toSeq, "cycle" -> mix.size,
      "warmup" -> rec.toMap(0))
    val out = if (!cfg.trace) {
      val l0 = System.nanoTime()
      val (r, keep) = load(cfg.int("clients"), cfg.int("readers"), cfg.int("cycles"),
        cfg.seconds, None, None, ArrayBuffer.empty)
      base ++ Map("load" -> r.toMap((r.endNs(keep) - l0) / 1e9, keep),
        "heap_live_mb" -> Harness.heapLiveMb())
    } else {
      Layers.traced(cfg, spark, (tracer, stats, seconds) => {
        val per = ArrayBuffer.empty[Counts]
        val (r, _) = load(1, 1, 1, seconds, tracer, stats, per)
        def mean(f: Counts => Long) = per.map(f).sum.toDouble / per.size
        (r, if (per.isEmpty) Map.empty[String, Double] else Map(
          "serving.jobs_per_read" -> mean(_.jobs),
          "serving.tasks_per_read" -> mean(_.tasks),
          "etl.input_bytes_per_read" -> mean(_.input)))
      }, Some(star), Some(port)) ++ base
    }
    server.stop(0)
    val dump = cfg.outDir.resolve("bodies.json")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.writeString(dump, Json.write(Map(
      "bodies" -> bodies.first.asScala.toMap,
      "counts" -> bodies.counts.asScala.map { case (k, v) => k -> v.get }.toMap)))
    out
  }
}
