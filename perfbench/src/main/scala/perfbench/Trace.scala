package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed call into a module. Times are `System.nanoTime` readings;
  * `parent` is -1 for a pass's root span. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    start: Long, end: Long) {
  def dur: Long = end - start
}

object Span {
  /** Self time of every span: its duration minus the part of its interval
    * covered by the union of its direct children's intervals (children are
    * clipped to the parent, overlapping children are counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** Counters the listeners attribute to one span. */
final class SpanCounters {
  val cpuNs = new AtomicLong
  val queueMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  /** Shuffle map stages that ran: the exchanges executed, including those
    * that built cached relations. */
  val exchanges = new AtomicLong
}

/** Records spans around calls into the library. Untraced, a span is a pair
  * of clock readings and nothing else. Traced, it also tags the calling
  * thread's Spark jobs with the span id (a local property), samples GC
  * time and cache storage at its end, and a [[SparkListener]] attributes
  * task counters and the executed plans' shape to it. */
final class Tracer(val traced: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val rows = mutable.HashMap.empty[Int, Long]
  private val gcNs = mutable.HashMap.empty[Int, Long]
  private val cachedBytes = mutable.HashMap.empty[Int, Long]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var session: Option[SparkSession] = None
  /** Tracing switched off for one pass of a traced run (overhead probe). */
  var paused = false
  var pass = 0

  val counters = new ConcurrentHashMap[Int, SpanCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitted = new ConcurrentHashMap[(Int, Int), Long]()
  private val executionSpan = new ConcurrentHashMap[Long, Int]()
  private val executionCached = new ConcurrentHashMap[Long, Long]()

  private def active: Boolean = traced && !paused

  private def counter(id: Int): SpanCounters =
    counters.computeIfAbsent(id, _ => new SpanCounters)

  private def gcTotalNs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum * 1000000L

  /** Registers the listeners; spans opened before this carry wall time only. */
  def attach(spark: SparkSession): Unit = {
    session = Some(spark)
    if (!traced) return
    spark.sparkContext.addSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val sc = session.map(_.sparkContext)
    val gc0 = if (active) gcTotalNs else 0L
    if (active) sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (active) {
        sc.foreach(_.setLocalProperty(Tracer.SpanKey,
          if (parent >= 0) parent.toString else null))
        gcNs(id) = gcTotalNs - gc0
        cachedBytes(id) = sc.map(_.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum).getOrElse(0L)
      }
      spans += Span(id, name, parent, pass, t0, t1)
    }
  }

  /** Records the row count the innermost open span forced. */
  def setRows(n: Long): Unit = stack.headOption.foreach(rows(_) = n)

  def allSpans: Seq[Span] = spans.toSeq
  def lastSpan: Span = spans.last
  def rowsOf(id: Int): Option[Long] = rows.get(id)
  def gcOf(id: Int): Long = gcNs.getOrElse(id, 0L)
  def cachedOf(id: Int): Long = cachedBytes.getOrElse(id, 0L)

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toInt)

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      spanOf(js.properties).foreach { id =>
        js.stageIds.foreach(stageSpan.put(_, id))
        Option(js.properties.getProperty("spark.sql.execution.id"))
          .foreach(e => executionSpan.putIfAbsent(e.toLong, id))
      }
    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
      val si = ss.stageInfo
      spanOf(ss.properties).foreach { id =>
        stageSpan.put(si.stageId, id)
        if (org.apache.spark.BenchBus.isShuffleMap(si) && si.attemptNumber() == 0)
          counter(id).exchanges.incrementAndGet()
      }
      stageSubmitted.put((si.stageId, si.attemptNumber()),
        si.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    // the latest (adaptive) physical plan of every SQL execution
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executionCached.put(s.executionId, Tracer.cachedScans(s.sparkPlanInfo))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        executionCached.put(u.executionId, Tracer.cachedScans(u.sparkPlanInfo))
      case _ => ()
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(te.stageId)).foreach { id =>
        val c = counter(id)
        Option(stageSubmitted.get((te.stageId, te.stageAttemptId))).foreach { sub =>
          c.queueMs.addAndGet(math.max(0L, te.taskInfo.launchTime - sub))
        }
        Option(te.taskMetrics).foreach { m =>
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  /** In-memory relation scans summed over the span's executed plans.
    * Executions are matched to spans through their jobs' properties. */
  def cachedScans(id: Int): Long =
    executionCached.asScala.collect {
      case (exec, n) if Option(executionSpan.get(exec)).contains(id) => n
    }.sum

  /** Delivers every queued listener event before counters are read. */
  def drain(): Unit = session.foreach(s =>
    org.apache.spark.BenchBus.drain(s.sparkContext))
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** In-memory relation scans in a physical plan (query stages list the
    * plan they wrap as their child). */
  def cachedScans(plan: SparkPlanInfo): Long =
    (if (plan.nodeName == "InMemoryTableScan") 1L else 0L) + plan.children.map(cachedScans).sum
}
