package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call from the benchmark into a layer's public function. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    t0Ns: Long, var t1Ns: Long, t0Ms: Long, var t1Ms: Long) {
  def durS: Double = (t1Ns - t0Ns) / 1e9
}

/** Engine work attributed to one span (its own jobs, not its children's). */
final class EngineAcc {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, shuffleWriteB, spillB, inputB = 0L
  val stageIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: EngineAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWriteB += o.shuffleWriteB; spillB += o.spillB; inputB += o.inputB
    stageIntervals ++= o.stageIntervals
  }
}

/** In-memory tracer. Spans are set from the benchmark's own code around
  * each call into a layer. The span id travels to Spark as a local
  * property, which Spark copies into every job the call submits —
  * including jobs submitted by adaptive execution and broadcast threads —
  * so a SparkListener can attribute jobs, stages and tasks to spans.
  * Planning time comes from a QueryExecutionListener's phase tracker.
  * When `enabled` is false nothing is installed and every call is a
  * plain pass-through.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Key = "graftbench.span"
  private val Untraced = "-"
  private val sc = spark.sparkContext

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val acc = TrieMap.empty[Int, EngineAcc]
  private val stageSpan = TrieMap.empty[Int, Int]
  private val stageStartMs = TrieMap.empty[Int, Long]
  val unattributedJobs = new AtomicLong()
  /** (phase start ms, analysis + optimization + planning ms) per query. */
  val planPhases = ArrayBuffer.empty[(Long, Long)]
  /** Set while an untraced op runs: nested spans are not recorded. */
  private var suppressed = false
  /** Call sites of the first jobs that carried no span. */
  val unattributedSites = ArrayBuffer.empty[String]

  private def accOf(id: Int) = acc.getOrElseUpdate(id, new EngineAcc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).map(_.getProperty(Key)).orNull
      if (tag == null) {
        if (unattributedJobs.incrementAndGet() <= 10) unattributedSites.synchronized {
          unattributedSites += e.stageInfos.headOption.map(_.name).getOrElse(s"job ${e.jobId}")
        }
      }
      else if (tag != Untraced) {
        val id = tag.toInt
        accOf(id).synchronized { accOf(id).jobs += 1 }
        e.stageIds.foreach(s => stageSpan.put(s, id))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (stageSpan.contains(e.stageInfo.stageId))
        stageStartMs.put(e.stageInfo.stageId,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stageSpan.get(si.stageId).foreach { id =>
        val a = accOf(id)
        a.synchronized {
          a.stages += 1
          val s0 = stageStartMs.getOrElse(si.stageId, si.submissionTime.getOrElse(0L))
          a.stageIntervals += ((s0, si.completionTime.getOrElse(System.currentTimeMillis())))
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.get(e.stageId).foreach { id =>
        val a = accOf(id)
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.cpuNs += m.executorCpuTime
            a.runMs += m.executorRunTime
            a.gcMs += m.jvmGCTime
            a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
            a.inputB += m.inputMetrics.bytesRead
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val parts = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (parts.nonEmpty) planPhases.synchronized {
        planPhases += ((parts.map(_.startTimeMs).min, parts.map(_.durationMs).sum))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** A span around `body`; nested spans get this one as parent. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled || suppressed) body
    else {
      val id = spans.size + 1
      val parent = stack.headOption.getOrElse(0)
      val s = Span(id, parent, layer, name, System.nanoTime(), 0L, System.currentTimeMillis(), 0L)
      spans += s
      stack = id :: stack
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      try body
      finally {
        s.t1Ns = System.nanoTime(); s.t1Ms = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Key, prev)
      }
    }

  /** The span of one measured operation. In an untraced round of a traced
    * run the op runs marked as untraced, so its jobs are neither counted
    * nor reported as unattributed. */
  def opSpan[T](traced: Boolean, layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else if (!traced) {
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, Untraced)
      suppressed = true
      try body
      finally { suppressed = false; sc.setLocalProperty(Key, prev) }
    } else span(layer, name)(body)

  def drain(): Unit = if (enabled) org.apache.spark.graftbench.ListenerDrain(sc)

  private var childIndex = (-1, Map.empty[Int, Seq[Int]])

  private def children: Map[Int, Seq[Int]] = {
    if (childIndex._1 != spans.size)
      childIndex = (spans.size, spans.toSeq.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id) })
    childIndex._2
  }

  def subtree(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).flatMap(subtree)

  /** Engine counters of a span and all its descendants. */
  def engine(id: Int): EngineAcc = {
    val out = new EngineAcc
    subtree(id).foreach(i => acc.get(i).foreach(a => a.synchronized(out.add(a))))
    out
  }

  def selfS(s: Span): Double = s.durS - children.getOrElse(s.id, Nil).map(i => spans(i - 1).durS).sum

  def named(layer: String, name: String): Seq[Span] = spans.toSeq.filter(s => s.layer == layer && s.name == name)

  def planMs(t0Ms: Long, t1Ms: Long): Long = planPhases.synchronized {
    planPhases.iterator.filter { case (st, _) => st >= t0Ms && st <= t1Ms }.map(_._2).sum
  }

  def write(out: Path): Unit = if (enabled) {
    Files.createDirectories(out.getParent)
    val lines = spans.toSeq.map { s =>
      val e = acc.getOrElse(s.id, new EngineAcc)
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ms" -> s.t0Ms.toString, "end_ms" -> s.t1Ms.toString,
        "dur_s" -> Json.num(s.durS), "self_s" -> Json.num(selfS(s)),
        "jobs" -> e.jobs.toString, "stages" -> e.stages.toString, "tasks" -> e.tasks.toString,
        "task_cpu_s" -> Json.num(e.cpuNs / 1e9)))
    }
    Files.writeString(out, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Length of the union of `intervals` clipped to [t0, t1]. */
  def covered(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
