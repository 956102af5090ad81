package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Nested JSON values as plain Scala maps and sequences, written with
  * the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def write(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), toJava(v))

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))
}

/** Wall clock of one named call, nested under `parent` (-1 = top). */
final case class Span(id: Int, parent: Int, name: String, cycle: Int,
                      start: Long, end: Long)

/** Spans plus, in a traced pass, every Spark job, stage and task,
  * observed from outside the engine through a [[SparkListener]].
  *
  * A traced pass attaches the listener and opens a span per public call;
  * an untraced pass keeps only the phase spans the end-to-end metrics
  * need, with no listener on the bus. Stages are later attributed to a
  * module by the first `graft.*` frame of their call site. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var cycle = -1
  @volatile private var attached = false

  /** Is this pass traced (listener on the bus)? */
  def isAttached: Boolean = attached

  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Long]()

  /** Start a pass; `traced` attaches the listener for its duration. */
  def beginCycle(k: Int, traced: Boolean): Unit = {
    cycle = k
    if (traced && !attached) { sc.addSparkListener(this); attached = true }
  }

  /** End a pass: deliver every queued event, then detach. */
  def endCycle(): Unit = if (attached) {
    org.apache.spark.BusAccess.drain(sc)
    sc.removeSparkListener(this)
    attached = false
  }

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, name, cycle, System.nanoTime(), 0L)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = System.nanoTime())
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Map(
      "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "submitted" -> s.submissionTime.getOrElse(0L),
      "completed" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks, "frame" -> Tracer.graftFrame(s.details)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long =
      m.map(f).getOrElse(0L)
    tasks.add(Map(
      "stage" -> e.stageId, "launch" -> i.launchTime, "finish" -> i.finishTime,
      "run_ms" -> g(_.executorRunTime), "cpu_ms" -> g(_.executorCpuTime) / 1000000L,
      "gc_ms" -> g(_.jvmGCTime),
      "shuffle_write_bytes" -> g(_.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_bytes" -> g(t => t.shuffleReadMetrics.localBytesRead +
        t.shuffleReadMetrics.remoteBytesRead),
      "spill_bytes" -> g(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      "input_bytes" -> g(_.inputMetrics.bytesRead),
      "input_records" -> g(_.inputMetrics.recordsRead),
      "output_bytes" -> g(_.outputMetrics.bytesWritten),
      "output_records" -> g(_.outputMetrics.recordsWritten)))
  }

  /** Everything observed, in epoch ms; span times converted from the
    * monotonic clock. */
  def dump(): Map[String, Any] = {
    val nowNs = System.nanoTime(); val nowMs = System.currentTimeMillis()
    def ms(ns: Long): Double = nowMs - (nowNs - ns) / 1e6
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "cycle" -> s.cycle, "start" -> ms(s.start),
        "end" -> ms(s.end))),
      "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.asScala.toSeq,
      "tasks" -> tasks.asScala.toSeq)
  }
}

object Tracer {
  /** First engine frame of a stage's long call site, e.g.
    * `graft.operators.GraftTable.compactLocked(GraftTable.scala:700)`;
    * empty when the stage was launched from no engine code. */
  def graftFrame(details: String): String =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft.")).getOrElse("")
}
