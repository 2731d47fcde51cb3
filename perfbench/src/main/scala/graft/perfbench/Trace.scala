package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call into one layer, timed from outside it. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Outside-in tracing for the traced run. Spans are taken by the
  * benchmark around its own calls into each module; everything the
  * engine does inside a call is observed only through Spark's public
  * listener interfaces. While tracing is off, [[span]] is a plain call
  * and no listener is registered, so untraced runs measure the program
  * as it ships. */
object Trace {
  @volatile private var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def enabled: Boolean = on

  /** Time `body` as a span; `req` ties spans of one request together
    * across threads (the client's and the facade handler's). */
  def span[A](name: String, req: Long = 0L)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), req, name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Write every span as one tab-separated line (id, parent, request,
    * name, start ns, end ns). */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("id\tparent\treq\tname\tstart_ns\tend_ns\n")
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"${s.id}\t${s.parent}\t${s.req}\t${s.name}\t${s.startNs}\t${s.endNs}\n")
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }

  private var listeners: Option[Listeners] = None

  /** Start tracing on `spark`: spans on, listeners registered. */
  def start(spark: SparkSession): Listeners = synchronized {
    val l = new Listeners
    spark.sparkContext.addSparkListener(l.spark)
    spark.listenerManager.register(l.sql)
    spark.streams.addListener(l.stream)
    listeners = Some(l)
    on = true
    l
  }

  /** Stop tracing; listener events already queued are given a moment to
    * drain before the listeners are removed. */
  def stop(spark: SparkSession): Unit = synchronized {
    on = false
    listeners.foreach { l =>
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(l.spark)
      spark.listenerManager.unregister(l.sql)
      spark.streams.removeListener(l.stream)
    }
    listeners = None
  }
}

/** Counters fed by Spark's public listener interfaces. */
final class Listeners {
  val jobs, tasks, taskBusyMs, taskCpuNs, schedDelayMs, gcMs, inputBytes,
    shuffleWriteBytes, shuffleReadBytes, shuffleRecords, spillBytes,
    queries, inMemScans, codegenOps, physicalOps = new AtomicLong()
  val analysisMs, optimizeMs, planMs, execMs = new DoubleAdder()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int), java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]]()
  val progress = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  /** Mean over stages with at least two tasks of max/median task time. */
  def skewRatio: Double = {
    val ratios = stageTasks.values().asScala.toSeq
      .map(_.asScala.map(_.longValue).toVector.sorted)
      .filter(_.size >= 2)
      .map(ts => ts.last.toDouble / math.max(1L, ts(ts.size / 2)))
    if (ratios.isEmpty) 1.0 else ratios.sum / ratios.size
  }

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        taskBusyMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        if (info != null) {
          val overhead = info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime
          schedDelayMs.addAndGet(math.max(0L, overhead))
          stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId),
            _ => new ConcurrentLinkedQueue[java.lang.Long]()).add(info.duration)
        }
      }
    }
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
      queries.incrementAndGet()
      execMs.add(durationNs / 1e6)
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      analysisMs.add(ms("analysis"))
      optimizeMs.add(ms("optimization"))
      planMs.add(ms("planning"))
      val plan = qe.executedPlan
      inMemScans.addAndGet(plan.collect { case s: InMemoryTableScanExec => s }.size)
      val (inside, total) = Listeners.codegenCoverage(plan)
      codegenOps.addAndGet(inside)
      physicalOps.addAndGet(total)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val stream: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Listeners {
  /** (operators inside a WholeStageCodegen stage, all operators) of a
    * physical plan; the codegen wrappers themselves are not counted. */
  def codegenCoverage(plan: SparkPlan): (Long, Long) = {
    var inside, total = 0L
    def walk(p: SparkPlan, inStage: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inStage)
      case q: QueryStageExec => walk(q.plan, inStage = false)
      case w: WholeStageCodegenExec => walk(w.child, inStage = true)
      case a: InputAdapter => walk(a.child, inStage = false)
      case other =>
        total += 1
        if (inStage) inside += 1
        other.children.foreach(walk(_, inStage))
        other.subqueries.foreach(walk(_, inStage = false))
    }
    walk(plan, inStage = false)
    (inside, total)
  }
}
