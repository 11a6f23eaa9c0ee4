package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans (name, start, end, parent) around the public calls the
  * benchmark makes. Kept in memory and written out at the end; with
  * tracing off a span is just its body.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, t0, System.nanoTime(),
          Thread.currentThread.getName))
        stack.set(stack.get.tail)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long, thread: String)
}

object Intervals {
  /** Length of the union of [start, end) intervals, in the same unit. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b }
      else if (b > e) e = b
    }
    if (e > s) total += e - s
    total
  }
}

/** Job, task and I/O counters keyed by the unit of work that launched
  * them: a streaming micro-batch (the query id and batch id job
  * properties the stream sets) or a job group (one per timed query, and
  * one for the reader's lookups).
  */
final class TaskLedger extends SparkListener {
  final class Acc {
    var jobs, tasks, taskMs, bytesWritten, bytesRead, shuffleWrite, spill = 0L
    val intervals = ArrayBuffer.empty[(Long, Long)]
  }

  private val stageKey = scala.collection.concurrent.TrieMap.empty[Int, String]
  private val accs = scala.collection.concurrent.TrieMap.empty[String, Acc]

  private def keyOf(p: java.util.Properties): String =
    if (p == null) "other"
    else {
      val b = p.getProperty("streaming.sql.batchId")
      val q = p.getProperty("sql.streaming.queryId")
      if (b != null && q != null) s"batch:$q:$b"
      else Option(p.getProperty("spark.jobGroup.id")).map("group:" + _)
        .getOrElse("other")
    }

  private def acc(k: String): Acc = accs.getOrElseUpdate(k, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    acc(k).jobs += 1
    e.stageIds.foreach(stageKey.put(_, k))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageKey.getOrElse(e.stageId, "other"))
    val i = e.taskInfo
    a.tasks += 1
    a.taskMs += i.duration
    a.intervals += ((i.launchTime, i.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.bytesRead += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def get(k: String): Option[Acc] = synchronized(accs.get(k))
  def batchKey(queryId: String, batchId: Long): String = s"batch:$queryId:$batchId"
  def groupKey(group: String): String = s"group:$group"
}

/** Streaming progress events, one per micro-batch. */
final class ProgressLedger extends StreamingQueryListener {
  private val buf = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    buf.add(e.progress)

  /** Drain the events recorded so far (those with input rows). */
  def take(): Seq[StreamingQueryProgress] = {
    val out = ArrayBuffer.empty[StreamingQueryProgress]
    var p = buf.poll()
    while (p != null) { if (p.numInputRows > 0) out += p; p = buf.poll() }
    out.toSeq
  }
}

/** Scan operators of every executed plan: parquet file scans (with the
  * files they opened) and scans of cached relations.
  */
final class ScanLedger extends QueryExecutionListener {
  @volatile var parquetScans, inMemoryScans, filesOpened = 0L

  private def expand(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
    case s: QueryStageExec => expand(s.plan)
    case other => other +: other.children.flatMap(expand)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      try expand(qe.executedPlan).foreach { p =>
        val n = p.getClass.getSimpleName
        if (n.startsWith("FileSourceScan")) {
          parquetScans += 1
          filesOpened += p.metrics.get("numFiles").map(_.value).getOrElse(0L)
        } else if (n.startsWith("InMemoryTableScan")) inMemoryScans += 1
      } catch { case _: Throwable => () }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** The listeners a traced run installs on one session. */
final class Listeners(spark: SparkSession) {
  val tasks = new TaskLedger
  val progress = new ProgressLedger
  val scans = new ScanLedger
  val metrics: graft.ops.MetricsListener = graft.ops.Metrics.install(spark)
  spark.sparkContext.addSparkListener(tasks)
  spark.streams.addListener(progress)
  spark.listenerManager.register(scans)

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def scanBytes(): Long =
    metrics.snapshot().map(_.scanBytes).filter(_ > 0).sum
}
