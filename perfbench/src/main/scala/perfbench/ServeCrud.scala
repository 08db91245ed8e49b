package perfbench

import scala.collection.mutable

import graft.etl.EtlJob
import graft.serving.Serve

/** serve-crud: closed-loop clients doing POST/PUT/DELETE with GET-by-key
  * and GET-all on `/country_statistics` and `/region_yearly_summary`. Each
  * client owns its keys and keeps its own model of them, so it can check
  * every status and every read-back exactly.
  */
object ServeCrud {

  /** A client's view of the rows it owns: path key -> record fields. */
  final class Model(val client: Int, seed: Int, val keysPerTable: Int) {
    val rng = new scala.util.Random(seed * 1000003L + client)
    val country = mutable.Map.empty[String, (Long, Long)]
    val region = mutable.Map.empty[(String, Int), (Long, Long)]
    def countryKey(i: Int) = s"pb$client-$i"
    def regionKey(i: Int) = (s"PB$client", 2000 + i)
  }

  /** One operation: method, path, body, expected status, and a check of the
    * reply body (None when only the status matters). Applies the expected
    * effect to the model.
    */
  final case class Step(kind: String, method: String, path: String, body: String,
      status: Int, check: String => Option[String])

  private def jsonEq(want: Map[String, Any])(body: String): Option[String] = {
    val n = Json.read(body)
    val bad = want.collect {
      case (k, v) if n.get(k) == null || n.get(k).asText() != v.toString => k
    }
    if (bad.isEmpty) None else Some(s"fields ${bad.mkString(",")} differ in $body")
  }

  def nextStep(m: Model): Step = {
    val rng = m.rng
    val i = rng.nextInt(m.keysPerTable)
    val a = rng.nextInt(1000000).toLong
    val b = rng.nextInt(1000000).toLong
    val roll = rng.nextInt(100)
    if (rng.nextBoolean()) {
      val k = m.countryKey(i)
      val path = s"/country_statistics/$k"
      val cur = m.country.get(k)
      cur match {
        case None if roll < 70 =>
          m.country(k) = (a, b)
          Step("write", "POST", "/country_statistics",
            s"""{"country":"$k","total_cases":$a,"total_vaccinated":$b}""", 201, _ => None)
        case None if roll < 85 => Step("read", "GET", path, null, 404, _ => None)
        case None => Step("write", "DELETE", path, null, 404, _ => None)
        case Some((x, y)) if roll < 30 =>
          Step("read", "GET", path, null, 200,
            jsonEq(Map("country" -> k, "total_cases" -> x, "total_vaccinated" -> y)))
        case Some((_, y)) if roll < 60 =>
          m.country(k) = (a, y) // partial update keeps total_vaccinated
          Step("write", "PUT", path, s"""{"total_cases":$a}""", 200, _ => None)
        case Some(_) if roll < 80 =>
          m.country.remove(k)
          Step("write", "DELETE", path, null, 200, _ => None)
        case Some(_) =>
          val mine = m.country.toMap
          Step("read", "GET", "/country_statistics", null, 200, body => {
            val rows = Json.read(body).elements()
            val seen = mutable.Map.empty[String, (Long, Long)]
            rows.forEachRemaining { r =>
              val c = r.get("country").asText()
              if (c.startsWith(s"pb${m.client}-"))
                seen(c) = (r.get("total_cases").asLong(), r.get("total_vaccinated").asLong())
            }
            if (seen.toMap == mine) None else Some(s"own rows ${seen.toMap} != $mine")
          })
      }
    } else {
      val k = m.regionKey(i)
      val path = s"/region_yearly_summary/${k._1}/${k._2}"
      m.region.get(k) match {
        case None if roll < 75 =>
          m.region(k) = (a, b)
          Step("write", "POST", "/region_yearly_summary",
            s"""{"who_region":"${k._1}","year":${k._2},"total_cases":$a,"total_deaths":$b}""",
            201, _ => None)
        case None => Step("read", "GET", path, null, 404, _ => None)
        case Some((x, y)) if roll < 40 =>
          Step("read", "GET", path, null, 200, jsonEq(Map(
            "who_region" -> k._1, "year" -> k._2, "total_cases" -> x, "total_deaths" -> y)))
        case Some((x, _)) if roll < 70 =>
          m.region(k) = (x, b)
          Step("write", "PUT", path, s"""{"total_deaths":$b}""", 200, _ => None)
        case Some(_) =>
          m.region.remove(k)
          Step("write", "DELETE", path, null, 200, _ => None)
      }
    }
  }

  def run(cfg: Harness.Config): Map[String, Any] = {
    val timeoutMs = cfg.int("timeout_ms")
    val keys = cfg.int("keys_per_client")
    val t0 = System.nanoTime()
    val spark = Harness.session(cfg, extensions = false)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val warm = new Recorder

    // set up several times: ETL lineage, server, and a warm-up of every
    // operation kind by a throwaway client; the last server takes the load
    val setups = mutable.ArrayBuffer.empty[Double]
    var server: com.sun.net.httpserver.HttpServer = null
    for (r <- 1 to cfg.int("setup_repeats")) {
      if (server != null) server.stop(0)
      val s0 = System.nanoTime()
      val star = EtlJob.run(spark, cfg.str("who_dir"))
      server = Serve.start(star, 0)
      val m = new Model(client = 100 + r, cfg.seed, keys)
      val conn = new Connection(server.getAddress.getPort, timeoutMs)
      try (1 to cfg.int("warmup_ops")).foreach(_ => perform(m, conn, warm, None))
      finally conn.close()
      setups += (System.nanoTime() - s0) / 1e9
    }
    val port = server.getAddress.getPort

    def load(clients: Int, seconds: Double, tracer: Option[Tracer],
        stats: Option[StageStats], perWrite: mutable.ArrayBuffer[Counts],
        offset: Int): Recorder = {
      val rec = new Recorder
      val models = (0 until clients).map(c => new Model(c + offset, cfg.seed, keys))
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      ClosedLoop.run(clients, port, deadline, timeoutMs) { (id, conn) =>
        val b = stats.map(_.snapshot(spark.sparkContext))
        val kind = perform(models(id), conn, rec, tracer)
        for (s <- stats; b0 <- b if kind == "write")
          perWrite.synchronized(perWrite += s.snapshot(spark.sparkContext) - b0)
      }
      rec
    }

    val base: Map[String, Any] = Map("session_s" -> sessionS, "setup_s" -> setups.toSeq,
      "warmup" -> warm.toMap(0))
    val out = if (!cfg.trace) {
      val l0 = System.nanoTime()
      val rec = load(cfg.int("clients"), cfg.seconds, None, None, mutable.ArrayBuffer.empty, 0)
      base ++ Map("load" -> rec.toMap((System.nanoTime() - l0) / 1e9),
        "heap_live_mb" -> Harness.heapLiveMb())
    } else {
      var offset = 0
      Layers.traced(cfg, spark, (tracer, stats, seconds) => {
        val per = mutable.ArrayBuffer.empty[Counts]
        offset += 10 // fresh keys for each phase
        val rec = load(1, seconds, tracer, stats, per, offset)
        (rec, if (per.isEmpty) Map.empty[String, Double]
          else Map("crud.jobs_per_write" -> per.map(_.jobs).sum.toDouble / per.size))
      }, None, None) ++ base
    }
    server.stop(0)
    out
  }

  /** Sends the model's next step, checks it, and records it; returns its kind. */
  def perform(m: Model, conn: Connection, rec: Recorder, tracer: Option[Tracer]): String = {
    val s = nextStep(m)
    val r0 = System.nanoTime()
    try {
      val (status, body) = tracer.fold(conn.request(s.method, s.path, s.body))(
        _.span("serving.http", s"${s.method} ${s.path}")(conn.request(s.method, s.path, s.body)))
      val why = if (status != s.status) Some(s"status $status, expected ${s.status}: $body")
        else if (status == 200) s.check(body) else None
      rec.add(s.kind, r0, why.isEmpty, s"${s.method} ${s.path}: ${why.getOrElse("")}")
    } catch {
      case e: Exception => rec.add(s.kind, r0, ok = false, s"${s.method} ${s.path}: $e")
    }
    s.kind
  }
}
