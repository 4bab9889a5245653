package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are nanoseconds on the
  * JVM's monotonic clock; `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, trace: Long) {
  def durNanos: Long = end - start
}

/** In-memory span store. With tracing off it records nothing; spans are
  * written out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  val traceId: Long = System.nanoTime()

  /** An id for a span that is recorded when it ends, after its children. */
  def reserve(): Long = if (enabled) ids.incrementAndGet() else 0L

  def record(name: String, start: Long, end: Long, parent: Long = 0L, id: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val sid = if (id != 0L) id else ids.incrementAndGet()
      spans.add(Span(sid, name, start, end, parent, traceId))
      sid
    }

  /** Give each parentless `child` span the `parent`-named span whose
    * interval holds its start: spans recorded where the caller is unknown,
    * such as a service call inside a micro-batch. */
  def adopt(child: String, parent: String): Unit = {
    val ps = all.filter(_.name == parent).sortBy(_.start).toArray
    val orphans = all.filter(s => s.name == child && s.parent == 0L)
    orphans.foreach { c =>
      ps.find(p => p.start <= c.start && c.start <= p.end).foreach { p =>
        spans.remove(c); spans.add(c.copy(parent = p.id))
      }
    }
  }

  /** Time `f` as a span; returns its result. */
  def span[T](name: String, parent: Long = 0L)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally record(name, t0, System.nanoTime(), parent)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name, seconds: each span's duration minus the part
    * of its interval that its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var (curA, curB) = (Long.MinValue, Long.MinValue)
        kids.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.durNanos - covered) / 1e9
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"trace":${s.trace}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Scheduler and executor counters from Spark's own listener bus, plus the
  * planner's phase times from each query execution. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks = new LongAdder
  val runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = new LongAdder
  val planMs = new LongAdder
  private val peak = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime); cpuNs.add(m.executorCpuTime); gcMs.add(m.jvmGCTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      peak.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot: Map[String, Double] = Map(
    "sched.jobs" -> jobs.sum.toDouble, "sched.stages" -> stages.sum.toDouble,
    "sched.tasks" -> tasks.sum.toDouble,
    "exec.task_s" -> runMs.sum / 1e3, "exec.cpu_s" -> cpuNs.sum / 1e9,
    "exec.gc_s" -> gcMs.sum / 1e3, "exec.peak_mem_mb" -> peak.get / 1048576.0,
    "shuffle.read_mb" -> shuffleRead.sum / 1048576.0,
    "shuffle.write_mb" -> shuffleWrite.sum / 1048576.0,
    "spill.mb" -> spill.sum / 1048576.0, "plan.s" -> planMs.sum / 1e3)
}

/** Micro-batch progress as Structured Streaming reports it: one span per
  * batch that read input, and the summed phase durations. */
final class ProgressListener(tracer: Tracer, parent: => Long) extends StreamingQueryListener {
  val batchMs = new ConcurrentLinkedQueue[java.lang.Long]
  val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      d.foreach { case (k, v) => phaseMs.merge(k, v, (a, b) => a + b) }
      val total = d.getOrElse("triggerExecution", 0L)
      batchMs.add(total)
      // the progress event arrives right after the batch ends
      val end = System.nanoTime()
      tracer.record("stream.batch", end - total * 1000000L, end, parent)
    }
  }

  private def phase(k: String): Double = Option(phaseMs.get(k)).map(_.longValue).getOrElse(0L) / 1e3

  def snapshot: Map[String, Double] = {
    val bs = batchMs.asScala.map(_.toDouble).toArray
    Map(
      "stream.batches" -> bs.length.toDouble,
      "stream.batch_p50_ms" -> (if (bs.isEmpty) 0.0 else Stats.percentile(bs, 50)),
      "stream.add_batch_s" -> phase("addBatch"),
      "stream.commit_s" -> (phase("walCommit") + phase("commitOffsets")),
      "stream.plan_s" -> phase("queryPlanning"),
      "stream.get_batch_s" -> (phase("getBatch") + phase("latestOffset")))
  }
}

object Engine {
  /** Register the listeners on a session. */
  def attach(spark: SparkSession, l: EngineListener): Unit = {
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
  }

  /** Block until Spark's listener bus has delivered every posted event. */
  def drainListeners(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
