package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** Engine host for one benchmark run. `run.py` makes the inputs, starts
  * this JVM with a config file, and checks the answers it leaves behind.
  *
  * Usage: Harness <config.json>. Writes `<out_dir>/harness.json`.
  */
object Harness {

  final case class Config(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def bool(k: String): Boolean = node.get(k).asBoolean()
    def strings(k: String): Seq[String] =
      Option(node.get(k)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    def workload: String = str("workload")
    def seed: Int = int("seed")
    def seconds: Int = int("seconds")
    def trace: Boolean = bool("trace")
    def cpus: Int = int("cpus")
    def outDir: Path = Paths.get(str("out_dir"))
  }

  /** The session the program's own mains build: `local[cpus]`, as many
    * shuffle partitions as CPUs, UTC, no UI. `extensions` matches the
    * query mains (Verify, Bench); the serving main registers none.
    */
  def session(cfg: Config, extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .appName(s"perfbench-${cfg.workload}")
      .master(s"local[${cfg.cpus}]")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.str("scratch_dir"))
    val spark = (if (extensions)
      b.config("spark.sql.extensions", "graft.functions.GraftExtensions") else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after a full collection, in MiB. */
  def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    // Spark's cleaner drops unreferenced blocks and broadcasts only after a
    // collection finds them, so collect and wait a few times
    (1 to 4).foreach { _ => System.gc(); Thread.sleep(200) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config(Json.read(Files.readString(Paths.get(args(0)))))
    Files.createDirectories(cfg.outDir)
    val result: Map[String, Any] = cfg.workload match {
      case "suite-loops" | "suite-relational" => Suite.run(cfg)
      case "serve-read" => ServeRead.run(cfg)
      case "serve-crud" => ServeCrud.run(cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(cfg.outDir.resolve("harness.json"), Json.write(result))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
