package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of driver code. `req` groups the spans of one request
  * (one query, one batch run, one micro-batch); `parent` is the enclosing
  * span's id, -1 at the root. Times are epoch milliseconds with
  * sub-millisecond digits. */
final case class Span(id: Int, name: String, req: String, parent: Int,
                      start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000
}

/** Span recorder. Always on — a span costs two clock reads — so the
  * untraced run times its stages with the same code as the traced one. */
final class Spans {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, String, Double)]
  private var nextId = 0

  def apply[T](name: String, req: String = "")(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val r = if (req.nonEmpty) req else open.headOption.map(_._3).getOrElse(name)
    open = (id, name, r, nowMs) :: open
    try body
    finally {
      val (_, _, _, start) = open.head
      open = open.tail
      val parent = open.headOption.map(_._1).getOrElse(-1)
      synchronized { done += Span(id, name, r, parent, start, nowMs) }
    }
  }

  /** A span whose bounds were observed elsewhere (streaming micro-batches). */
  def record(name: String, req: String, parent: Int, start: Double, end: Double): Unit =
    synchronized { nextId += 1; done += Span(nextId, name, req, parent, start, end) }

  def all: Seq[Span] = synchronized(done.toList.sortBy(_.start))
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def total(name: String): Double = named(name).map(_.seconds).sum

  /** Wall time minus the time of direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum
}

/** What Spark reports while a span is open. */
final case class SparkCounts(jobs: Int, stages: Int, tasks: Int, taskRunS: Double,
                             taskCpuS: Double, gcS: Double, shuffleWriteMb: Double,
                             spillMb: Double, peakExecMemMb: Double,
                             planningMs: Double, outsideJobsS: Double,
                             rowsWritten: Long, filesWritten: Long)

/** Listeners the benchmark registers in traced runs: a [[SparkListener]]
  * for jobs, stages and task metrics, a [[QueryExecutionListener]] for
  * Catalyst phase times and write-command metrics, and a
  * [[StreamingQueryListener]] for micro-batch progress. Events land on
  * Spark's listener bus asynchronously; [[settle]] waits them out. */
final class Probe extends SparkListener with QueryExecutionListener {
  private final case class Job(id: Int, start: Long, var end: Long)
  private final case class Task(finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                                shuffleBytes: Long, spillBytes: Long, peakMem: Long)
  private final case class Query(at: Long, planningMs: Double, rows: Long, files: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val queries = new ConcurrentLinkedQueue[Query]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, -1))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planning = phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val at = phases.values.map(_.startTimeMs).reduceOption(_ min _)
      .getOrElse(System.currentTimeMillis())
    var rows, files = 0L
    qe.executedPlan.foreach { p =>
      if (p.metrics.contains("numFiles")) {
        files += p.metrics("numFiles").value
        rows += p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
    }
    queries.add(Query(at, planning, rows, files))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wait until every started job has ended and the bus has gone quiet. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    var last = -1
    while (System.currentTimeMillis() < deadline) {
      val n = tasks.size + queries.size + stages.size
      if (n == last && jobs.values.asScala.forall(_.end >= 0)) return
      last = n
      Thread.sleep(150)
    }
  }

  def counts(startMs: Double, endMs: Double): SparkCounts = {
    def in(t: Long) = t >= startMs && t <= endMs
    val js = jobs.values.asScala.filter(j => in(j.start)).toSeq
    val ts = tasks.asScala.filter(t => in(t.finish)).toSeq
    val qs = queries.asScala.filter(q => in(q.at)).toSeq
    // union of job intervals, clipped to the span
    val ivs = js.map(j => (math.max(j.start.toDouble, startMs),
      math.min(if (j.end < 0) endMs else j.end.toDouble, endMs))).sortBy(_._1)
    var covered, curS, curE = 0.0
    var first = true
    ivs.foreach { case (s, e) =>
      if (first || s > curE) {
        if (!first) covered += curE - curS
        curS = s; curE = e; first = false
      } else curE = math.max(curE, e)
    }
    if (!first) covered += curE - curS
    val mb = 1024.0 * 1024.0
    SparkCounts(
      jobs = js.size,
      stages = stages.asScala.count(in),
      tasks = ts.size,
      taskRunS = ts.map(_.runMs).sum / 1000.0,
      taskCpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1000.0,
      shuffleWriteMb = ts.map(_.shuffleBytes).sum / mb,
      spillMb = ts.map(_.spillBytes).sum / mb,
      peakExecMemMb = ts.map(_.peakMem).foldLeft(0L)(_ max _) / mb,
      planningMs = qs.map(_.planningMs).sum,
      outsideJobsS = ((endMs - startMs) - covered) / 1000.0,
      rowsWritten = qs.map(_.rows).sum,
      filesWritten = qs.map(_.files).sum)
  }
}

/** Micro-batch progress of every streaming query, traced or not: the
  * stream workload needs batch commit times to measure row latency. */
final class StreamProbe extends StreamingQueryListener {
  final case class Batch(query: java.util.UUID, name: String, batchId: Long,
                         startMs: Double, durations: Map[String, Long], rows: Long) {
    def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  }
  private val batches = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(Batch(p.id, p.name, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows))
  }
  def of(ids: Set[java.util.UUID]): Seq[Batch] =
    batches.asScala.filter(b => ids(b.query)).toSeq.sortBy(_.startMs)
}

object Heap {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

object Probe {
  def register(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}
