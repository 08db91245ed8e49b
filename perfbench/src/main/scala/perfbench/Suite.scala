package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.SparkEntry

/** suite-loops / suite-relational: one closed-loop caller running a fixed
  * list of registered queries, pass after pass. Each query is timed on
  * `collect()`, which runs the whole plan. The first (warm-up) result of
  * each query is written as parquet for `run.py` to check against DuckDB;
  * every later result must have the same digest.
  */
object Suite {

  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def run(cfg: Harness.Config): Map[String, Any] = {
    val names = cfg.strings("queries")
    val dir = cfg.str("tpch_dir")
    val layer = cfg.str("layer") // "ops" or "queries": the layer the list lives in
    val t0 = System.nanoTime()
    val spark = Harness.session(cfg, extensions = true)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val digests = mutable.Map.empty[String, String]
    val warm = new Recorder

    /** Runs one query; returns (construct s, catalyst s, execute s, rows, schema). */
    def runQuery(q: String, tracer: Option[Tracer]) = {
      def span[T](n: String)(b: => T): T = tracer.fold(b)(_.span(n, q)(b))
      val (df, cs) = Layers.timed(span(s"$layer.construct")(SparkEntry.queries(q)(spark, dir)))
      val (_, ks) = if (tracer.isEmpty) (null, 0.0)
        else Layers.timed(span(s"$layer.catalyst")(df.queryExecution.executedPlan))
      val (rows, es) = Layers.timed(span(s"$layer.execute")(df.collect()))
      // queries are self-contained; the program's own mains clear cached
      // relations between queries too
      spark.catalog.clearCache()
      (cs, ks, es, rows, df.schema)
    }

    java.nio.file.Files.writeString(cfg.outDir.resolve("oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }))

    // warm-up passes: JIT and codegen caches settle over two passes; the
    // first pass's results are the ones checked against DuckDB
    val setupWarm = Layers.timed {
      for (pass <- 1 to cfg.int("warmup_passes"); q <- names) {
        val r0 = System.nanoTime()
        try {
          val (_, _, _, rows, schema) = runQuery(q, None)
          if (pass == 1) {
            digests(q) = digest(rows)
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
              .write.mode("overwrite")
              .parquet(cfg.outDir.resolve("results").resolve(q).toString)
          }
          warm.add("warmup", r0, digests.get(q).contains(digest(rows)),
            s"$q: result differs from its first run")
        } catch {
          case e: Exception => warm.add("warmup", r0, ok = false, s"$q: $e")
        }
      }
    }._2

    /** Whole passes over the list while another one fits in `seconds`, and
      * at least `minPasses`: every run then times the same work, even when
      * the machine is slow.
      */
    def passes(seconds: Double, minPasses: Int, tracer: Option[Tracer],
        stats: Option[StageStats])
        : (Recorder, Seq[Double], Map[String, Double]) = {
      val rec = new Recorder
      val passS = mutable.ArrayBuffer.empty[Double]
      val layerSums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      def fits = System.nanoTime() + (passS.max * 1e9).toLong <= deadline
      while (passS.size < minPasses || fits) {
        val p0 = System.nanoTime()
        names.foreach { q =>
          val b = stats.map(_.snapshot(spark.sparkContext))
          val r0 = System.nanoTime()
          try {
            val (cs, ks, es, rows, _) = runQuery(q, tracer)
            val same = digests.get(q).contains(digest(rows))
            rec.add("query", r0, same, s"$q: result differs from its first run")
            layerSums(s"$layer.construct_s") += cs
            layerSums(s"$layer.catalyst_s") += ks
            layerSums(s"$layer.execute_s") += es
            for (s <- stats; b0 <- b) {
              val jobs = (s.snapshot(spark.sparkContext) - b0).jobs.toDouble
              layerSums(s"$layer.jobs") += jobs
              layerSums(s"$layer.$q.construct_s") += cs
              layerSums(s"$layer.$q.jobs") += jobs
            }
          } catch {
            case e: Exception => rec.add("query", r0, ok = false, s"$q: $e")
          }
        }
        passS += (System.nanoTime() - p0) / 1e9
      }
      (rec, passS.toSeq, layerSums.toMap)
    }

    val base: Map[String, Any] = Map("session_s" -> sessionS,
      "setup_s" -> Seq(sessionS + setupWarm), "warmup" -> warm.toMap(setupWarm))
    if (!cfg.trace) {
      val l0 = System.nanoTime()
      val (rec, passS, _) = passes(cfg.seconds, cfg.int("min_passes"), None, None)
      base ++ Map("load" -> rec.toMap((System.nanoTime() - l0) / 1e9),
        "pass_s" -> passS, "heap_live_mb" -> Harness.heapLiveMb())
    } else {
      var perQuery = Map.empty[String, Double]
      val traced = Layers.traced(cfg, spark, (tracer, stats, _) => {
        val (rec, _, sums) = passes(0, 1, tracer, stats)
        // per-query numbers go to the report, not the metric set
        val (each, total) = sums.partition { case (k, _) => k.count(_ == '.') > 1 }
        if (tracer.isDefined) perQuery = each
        (rec, total.filter { case (k, _) =>
          layer == "queries" || !k.startsWith(s"$layer.catalyst") && !k.startsWith(s"$layer.execute")
        })
      }, None, None)
      base ++ traced ++ Map("per_query" -> perQuery)
    }
  }
}
