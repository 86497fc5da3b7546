package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** One span: a call into a module's public functions, as seen from the
  * benchmark. Times are System.nanoTime. The [[Tracer]] keeps, per span,
  * the listener totals of the Spark jobs that ran while it was the
  * innermost open span (see [[Counter]]).
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val start: Long) {
  var end: Long = 0L
  /** Extra values a workload records on its span (row counts). */
  val values = scala.collection.mutable.LinkedHashMap[String, Double]()
}

/** Indices into a span's listener counters. */
object Counter {
  val Jobs = 0; val Tasks = 1; val CpuNs = 2; val GcMs = 3
  val ShuffleWrite = 4; val Spill = 5; val InputBytes = 6
  val OutputBytes = 7; val SchedWaitMs = 8; val ResultBytes = 9
  val names = Seq("jobs", "tasks", "cpu_ns", "gc_ms", "shuffle_write_b",
    "spill_b", "input_b", "output_b", "sched_wait_ms", "result_b")
  val size = 10
}

/** Records spans around the benchmark's calls into graft and
  * attributes Spark work to them: each span sets its own job group, and
  * a SparkListener keys job, task and byte counts by that group. Spans
  * are kept in memory and written out when the run ends.
  *
  * With `enabled = false` every method is a pass-through, so the same
  * workload code runs untraced.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var enabled = false
  private var op = -1
  private val counters = new ConcurrentHashMap[Int, AtomicLongArray]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  /** (span id, wall-clock ms of the action call) per materialization. */
  private val actions = ArrayBuffer[(Int, Long)]()
  private val persisted = ArrayBuffer[DataFrame]()
  private val jobTimes =
    new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
  sc.addSparkListener(this)

  private val Prefix = "graftbench-span-"

  def tracing: Boolean = enabled

  /** Start an op; `traced` turns span recording on for its extent. */
  def beginOp(i: Int, traced: Boolean): Unit = {
    op = i; enabled = traced
  }

  /** End an op: release the boundary materializations. */
  def endOp(): Unit = {
    persisted.foreach(_.unpersist(blocking = true))
    persisted.clear()
    enabled = false
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id),
        op, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(Prefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Prefix + p.id, p.name,
            interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Record a value on the innermost open span (traced ops only). */
  def record(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(_.values(key) = v)

  /** The layer boundary of a traced run: DataFrames are lazy, so the
    * output of the current span is persisted and counted here, and the
    * next layer starts from it. Untraced ops get `df` back unchanged.
    */
  def materialize(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      persisted += p
      actions += ((stack.head.id, System.currentTimeMillis()))
      record("rows", p.count().toDouble)
      p
    }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Prefix)).fold(-1)(_.stripPrefix(Prefix).toInt)

  private def add(span: Int, k: Int, v: Long): Unit =
    if (span >= 0)
      counters.computeIfAbsent(span, _ => new AtomicLongArray(Counter.size))
        .addAndGet(k, v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    add(s, Counter.Jobs, 1L)
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
    jobTimes.add((s, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    if (s >= 0) stageSpan.put(e.stageInfo.stageId, s)
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s: Int = stageSpan.getOrDefault(e.stageId, -1)
    if (s >= 0 && e.taskMetrics != null) {
      val m = e.taskMetrics
      add(s, Counter.Tasks, 1L)
      add(s, Counter.CpuNs, m.executorCpuTime)
      add(s, Counter.GcMs, m.jvmGCTime)
      add(s, Counter.ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      add(s, Counter.Spill, m.diskBytesSpilled)
      add(s, Counter.InputBytes, m.inputMetrics.bytesRead)
      add(s, Counter.OutputBytes, m.outputMetrics.bytesWritten)
      add(s, Counter.ResultBytes, m.resultSize)
      val sub: Long = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
      add(s, Counter.SchedWaitMs, math.max(0L, e.taskInfo.launchTime - sub))
    }
  }

  /** Per span: ms from each materialization's action call to the first
    * job submitted after it, summed.
    */
  private def planMs(): Map[Int, Long] = {
    val jobs = jobTimes.toArray(Array.empty[(Int, Long)]).groupBy(_._1)
    actions.groupBy(_._1).map { case (span, calls) =>
      span -> calls.map { case (_, t0) =>
        jobs.getOrElse(span, Array.empty).map(_._2).filter(_ >= t0)
          .minOption.fold(0L)(_ - t0)
      }.sum
    }
  }

  /** All spans as JSON lines, with their listener counts. */
  def dump(out: java.io.PrintWriter): Unit = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    val plan = planMs()
    spans.foreach { s =>
      val c = Option(counters.get(s.id))
      val fields = Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
        "start_ns" -> Json.num(s.start), "end_ns" -> Json.num(s.end),
        "plan_ms" -> Json.num(plan.getOrElse(s.id, 0L))) ++
        Counter.names.zipWithIndex.map { case (n, k) =>
          n -> Json.num(c.fold(0L)(_.get(k))) } ++
        s.values.map { case (k, v) => k -> Json.num(v) }
      out.println(Json.obj(fields: _*))
    }
  }
}

/** Minimal JSON writer: every string is escaped. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(v: Long): String = v.toString
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
