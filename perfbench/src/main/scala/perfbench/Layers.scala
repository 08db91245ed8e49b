package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Warehouse
import graft.etl.{EtlJob, StarSchema}
import graft.ml.Forecast
import graft.queries.ServingQueries
import graft.serving.{CrudTable, Serve}

/** The traced run. It measures the workload's load twice with one client,
  * first untraced and then traced (the difference is the tracing
  * overhead), and reports every per-layer metric: from the traced load
  * where the workload calls that layer, otherwise from solo probes of the
  * layer (the "census" below), which every traced run makes.
  */
object Layers {

  /** A traced load phase: (tracer, stats, seconds) => (ops, layer metrics
    * measured on the load that replace the census values).
    */
  type Load = (Option[Tracer], Option[StageStats], Double) => (Recorder, Map[String, Double])

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def traced(cfg: Harness.Config, spark: SparkSession, load: Load,
      star: Option[StarSchema], port: Option[Int]): Map[String, Any] = {
    val sc = spark.sparkContext
    val stats = new StageStats
    sc.addSparkListener(stats)
    val tracer = new Tracer
    val half = cfg.seconds / 2.0

    val (plain, _) = load(None, None, half)
    val c0 = stats.snapshot(sc)
    val w0 = System.nanoTime()
    val (tracedOps, fromLoad) = load(Some(tracer), Some(stats), half)
    val wallS = (System.nanoTime() - w0) / 1e9
    val c = stats.snapshot(sc) - c0
    val cpuS = c.cpuNs / 1e9

    def opMedian(r: Recorder) = median(r.all.filter(o => o.ok && o.kind != "warmup").map(_.ms))
    val overheadMs = opMedian(tracedOps) - opMedian(plain)
    val spark_ = Map(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "spark.input_bytes" -> c.input.toDouble, "spark.spill_bytes" -> c.spill.toDouble,
      "spark.executor_cpu_s" -> cpuS, "spark.gc_s" -> c.gcMs / 1e3,
      "spark.cpu_util" -> cpuS / (wallS * cfg.cpus))

    val probes = census(cfg, spark, stats, tracer, star, port)
    val spans = cfg.outDir.resolve("spans.jsonl")
    java.nio.file.Files.write(spans,
      scala.jdk.CollectionConverters.SeqHasAsJava(tracer.toJsonLines).asJava)
    Map(
      "trace" -> Map(
        "layers" -> (probes ++ fromLoad ++ spark_ ++ Map(
          "trace.overhead_ms" -> overheadMs,
          "trace.overhead_share" -> overheadMs / opMedian(plain))),
        "from_load" -> fromLoad.keys.toSeq.sorted,
        "self_s" -> tracer.selfSeconds,
        "untraced" -> plain.toMap(half), "traced" -> tracedOps.toMap(wallS)))
  }

  /** Solo probes of every layer, one call path each: the census. */
  def census(cfg: Harness.Config, spark: SparkSession, stats: StageStats,
      tracer: Tracer, loadStar: Option[StarSchema], loadPort: Option[Int]): Map[String, Double] = {
    val sc = spark.sparkContext
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val timeoutMs = cfg.int("timeout_ms")

    // etl: the six star tables, every plan run to the end
    val (star, buildS) = timed(tracer.span("etl.star_build", "census") {
      val s = EtlJob.run(spark, cfg.str("who_dir"))
      s.tables.foreach { case (_, df) => df.write.format("noop").mode("overwrite").save() }
      s
    })
    m("etl.star_build_s") = buildS
    val theStar = loadStar.getOrElse(star)
    val server = if (loadPort.isEmpty) Some(Serve.start(theStar, 0)) else None
    val port = loadPort.getOrElse(server.get.getAddress.getPort)
    val conn = new Connection(port, timeoutMs)

    def http(path: String): (Double, Counts) = {
      val b = stats.snapshot(sc)
      val (res, s) = timed(tracer.span("serving.http", path)(conn.request("GET", path)))
      require(res._1 == 200, s"$path -> ${res._1}")
      (s * 1e3, stats.snapshot(sc) - b)
    }
    def solo(n: Int)(f: => Double): Double = median((1 to n).map(_ => f))

    // serving: the HTTP floor, and HTTP cost over an in-process call of
    // the same serving function plus its JSON collect
    m("serving.http_floor_ms") = solo(10)(http("/health")._1)
    val routes: Seq[(String, StarSchema => DataFrame)] = Seq(
      "/api/total_cases" -> (ServingQueries.totalCases _),
      "/api/worldmap/cases" -> (ServingQueries.worldmapCases _))
    val perRead = ArrayBuffer.empty[Counts]
    val split = ArrayBuffer.empty[(Double, Double, Double)]
    val overhead = routes.map { case (path, fn) =>
      http(path) // warm
      val viaHttp = solo(3) { val (ms, c) = http(path); perRead += c; ms }
      val inProc = solo(3) {
        val (df, cs) = timed(tracer.span("queries.construct", path)(fn(theStar)))
        val (_, ks) = timed(tracer.span("queries.catalyst", path)(df.queryExecution.executedPlan))
        val (_, es) = timed(tracer.span("queries.execute", path)(
          Warehouse.jsonRecords(df).collect()))
        split += ((cs, ks, es))
        (cs + ks + es) * 1e3
      }
      viaHttp - inProc
    }
    m("serving.http_overhead_ms") = median(overhead)
    m("serving.jobs_per_read") = perRead.map(_.jobs).sum.toDouble / perRead.size
    m("serving.tasks_per_read") = perRead.map(_.tasks).sum.toDouble / perRead.size
    m("etl.input_bytes_per_read") = perRead.map(_.input).sum.toDouble / perRead.size
    m("queries.construct_s") = median(split.map(_._1).toSeq)
    m("queries.catalyst_s") = median(split.map(_._2).toSeq)
    m("queries.execute_s") = median(split.map(_._3).toSeq)

    // ml: one RF fit on the weekly series, then warm forecasts over HTTP
    val weekly = theStar.weeklyStatistics.localCheckpoint()
    m("ml.rf_train_s") = timed(tracer.span("ml.rf_train", "census")(Forecast.train(
      Forecast.lagFeatures(weekly, "country_short_code", "date_of_report",
        "week_new_reported_cases"), "week_new_reported_cases")))._2
    val code = weekly.select(col("country_short_code")).orderBy("country_short_code")
      .first().getString(0)
    val predict =
      s"/api/predict_cases?country=$code&start_date=${cfg.str("forecast_cutoff")}&days=8"
    http(predict) // fits this cutoff's model
    m("ml.predict_ms") = solo(3)(http(predict)._1)

    // crud: single-row writes through the serving table class
    val table = new CrudTable(spark, Serve.countryStatisticsSchema, Seq("country"))
    val writes = ArrayBuffer.empty[Counts]
    def write(f: => Unit): Double = {
      val b = stats.snapshot(sc)
      val (_, s) = timed(f)
      writes += stats.snapshot(sc) - b
      s * 1e3
    }
    val keys = (0 until 3).map(i => s"census-$i")
    m("crud.put_ms") = median(keys.map(k => write(tracer.span("crud.put", k)(
      table.put(Seq(k, 1L, 2L))))))
    m("crud.get_ms") = median(keys.map(k => 1e3 * timed(tracer.span("crud.get", k)(
      require(table.get(Seq(k)).isDefined, s"crud get $k")))._2))
    m("crud.delete_ms") = median(keys.map(k => write(tracer.span("crud.delete", k)(
      require(table.delete(Seq(k)), s"crud delete $k")))))
    m("crud.jobs_per_write") = writes.map(_.jobs).sum.toDouble / writes.size

    // ops: one iterative query from graft.ops, construct (its loop
    // rounds run here) timed apart from the final action
    val q = cfg.str("ops_probe")
    val b = stats.snapshot(sc)
    val (df, cs) = timed(tracer.span("ops.construct", q)(
      graft.SparkEntry.queries(q)(spark, cfg.str("tpch_dir"))))
    m("ops.jobs") = (stats.snapshot(sc) - b).jobs.toDouble
    m("ops.construct_s") = cs
    tracer.span("ops.execute", q)(df.collect())
    spark.catalog.clearCache()

    conn.close()
    server.foreach(_.stop(0))
    m.toMap
  }
}
