package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftaccess.GraftSparkAccess
import org.apache.spark.scheduler._

/** Stage-execution counters from a listener the benchmark registers.
  * Totals only: callers attribute work to an operation by draining the
  * listener bus and taking a [[Counts]] snapshot before and after it.
  */
final class StageStats extends SparkListener {
  private val jobs, stages, tasks = new AtomicLong
  private val shuffleRead, shuffleWrite, input, spill = new AtomicLong
  private val cpuNs, gcMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      input.addAndGet(m.inputMetrics.bytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  /** Counters after every queued event has been delivered. */
  def snapshot(sc: SparkContext): Counts = {
    GraftSparkAccess.drainListenerBus(sc)
    Counts(jobs.get, stages.get, tasks.get, shuffleRead.get, shuffleWrite.get,
      input.get, spill.get, cpuNs.get, gcMs.get)
  }
}

final case class Counts(jobs: Long, stages: Long, tasks: Long,
    shuffleRead: Long, shuffleWrite: Long, input: Long, spill: Long,
    cpuNs: Long, gcMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    input - o.input, spill - o.spill, cpuNs - o.cpuNs, gcMs - o.gcMs)
}

/** One timed operation; `seq` numbers the operations of a request cycle. */
final case class Op(kind: String, seq: Int, startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Thread-safe record of operations and failures for one load phase. */
final class Recorder {
  private val ops = new ConcurrentLinkedQueue[Op]
  private val failures = new ConcurrentLinkedQueue[String]

  def add(kind: String, t0: Long, ok: Boolean, why: => String = "", seq: Int = -1): Unit = {
    ops.add(Op(kind, seq, t0, System.nanoTime(), ok))
    if (!ok && failures.size < 50) failures.add(s"$kind: $why")
  }

  def all: Seq[Op] = ops.asScala.toSeq

  /** When the last numbered operation below `keepBelow` ended. */
  def endNs(keepBelow: Int): Long =
    all.filter(o => o.seq >= 0 && o.seq < keepBelow).map(_.endNs).maxOption
      .getOrElse(System.nanoTime())

  /** Counts of every operation; latencies of the successful ones numbered
    * below `keepBelow`.
    */
  def toMap(elapsedS: Double, keepBelow: Int = Int.MaxValue): Map[String, Any] = {
    val byKind = all.groupBy(_.kind)
    Map(
      "elapsed_s" -> elapsedS,
      "latencies_ms" -> byKind.map { case (k, v) =>
        k -> v.filter(o => o.ok && o.seq < keepBelow).map(_.ms) },
      "attempted" -> byKind.map { case (k, v) => k -> v.size },
      "failed" -> byKind.map { case (k, v) => k -> v.count(!_.ok) },
      "numbered_ms" -> all.filter(o => o.ok && o.seq >= 0 && o.seq < keepBelow)
        .sortBy(_.seq).map(o => Seq(o.seq, o.ms)),
      "failures" -> failures.asScala.toSeq)
  }
}

/** In-memory spans around the benchmark's calls into each layer. Written
  * out once, when the run ends.
  */
final case class Span(id: Long, name: String, parent: Long, op: String,
    startNs: Long, endNs: Long)

final class Tracer {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[Long] { override def initialValue = 0L }

  /** Runs `body` inside a span named `name`, tagged with operation `op`. */
  def span[T](name: String, op: String = "")(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current.get
    current.set(id)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, parent, op, t0, System.nanoTime()))
      current.set(parent)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span name: duration minus the time its children cover. */
  def selfSeconds: Map[String, Double] = {
    val s = all
    val childNs = s.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    s.groupBy(_.name).map { case (n, group) =>
      n -> group.map(x => x.endNs - x.startNs - childNs.getOrElse(x.id, 0L)).sum / 1e9 }
  }

  def toJsonLines: Seq[String] = all.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}

/** JSON in and out through the Jackson that Spark ships. */
object Json {
  private val M = new com.fasterxml.jackson.databind.ObjectMapper()
  def obj(kv: (String, Any)*): String = M.writeValueAsString(toJava(kv.toMap))
  def write(v: Any): String = M.writeValueAsString(toJava(v))
  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Seq[_] => s.map(toJava).asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
  def read(s: String): com.fasterxml.jackson.databind.JsonNode = M.readTree(s)
}
