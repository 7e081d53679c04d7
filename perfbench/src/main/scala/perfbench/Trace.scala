package perfbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One call boundary: the benchmark opens a span around each call it makes
  * into the engine. `parent` is -1 for a top-level span. */
final case class Span(id: Int, parent: Int, name: String, round: Int,
                      startNs: Long, var endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One finished Spark task, attributed to the innermost span that was open
  * on the submitting thread (a job inherits the thread's local properties). */
final case class TaskRec(span: Int, durMs: Long, runMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         outBytes: Long)

/** Records every task and job of the session against the span that
  * submitted it. Registered only while a traced round runs. */
final class TaskLog extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobSpans = new ConcurrentLinkedQueue[Integer]()
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    jobSpans.add(s)
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.putIfAbsent(e.stageInfo.stageId, spanOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(
      stageSpan.getOrDefault(e.stageId, -1), e.taskInfo.duration,
      m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.diskBytesSpilled + m.memoryBytesSpilled, m.outputMetrics.bytesWritten))
  }
}

/** What one executed query read and how long it took to plan, from its
  * QueryExecution: file scans' selected files and bytes, and the
  * analysis + optimization + planning phases. */
final case class QueryRec(scanFiles: Long, scanBytes: Long, planMs: Double)

object QueryRec {
  /** Every leaf of the executed plan, through adaptive stages, reused
    * exchanges, command wrappers and subqueries. */
  def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case r: ReusedExchangeExec => leaves(r.child)
    case c: CommandResultExec => leaves(c.commandPhysicalPlan)
    case _ =>
      (if (p.children.isEmpty) Seq(p) else p.children.flatMap(leaves)) ++
        p.subqueries.flatMap(leaves)
  }

  def of(qe: QueryExecution): QueryRec = {
    val scans = leaves(qe.executedPlan).collect {
      case f: FileSourceScanExec =>
        (f.metrics.get("numFiles").map(_.value).getOrElse(0L),
          f.metrics.get("filesSize").map(_.value).getOrElse(0L))
      case b: BatchScanExec =>
        val files = b.inputPartitions.collect { case fp: FilePartition => fp.files.toSeq }.flatten
        (files.size.toLong, files.map(_.length).sum)
    }
    val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    QueryRec(scans.map(_._1).sum, scans.map(_._2).sum, planMs)
  }
}

/** Collects a [[QueryRec]] for every query the session runs; the tracer
  * hands them to the span that was open when they finished. */
final class QueryLog extends QueryExecutionListener {
  val pending = new ConcurrentLinkedQueue[QueryRec]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    pending.add(QueryRec.of(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Spans at the benchmark's call boundaries, kept in memory and written
  * out when the run ends. While inactive it runs the body and records
  * nothing, and no listener is registered, so untraced work pays no
  * tracing cost. */
final class Tracer(val runId: String, traced: Boolean, spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  val log = new TaskLog
  val queries = new QueryLog
  /** The queries that finished inside each span (not its children). */
  val queriesOf = scala.collection.mutable.Map.empty[Int, Seq[QueryRec]]
  private var on = false
  private var open: List[Int] = Nil
  /** The round the workload is in; spans record it. */
  var round = 0

  /** Whether spans and tasks are being recorded now. Only a traced run
    * can switch it on; switching it off first drains the listener bus. */
  def active: Boolean = on
  def active_=(b: Boolean): Unit = if (traced && b != on) {
    if (b) { sc.addSparkListener(log); spark.listenerManager.register(queries) }
    else { drain(); sc.removeSparkListener(log); spark.listenerManager.unregister(queries) }
    on = b
  }

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      if (open.isEmpty) {
        // queries that finished between spans belong to none of them
        drain()
        queries.pending.clear()
      }
      val s = Span(spans.size, open.headOption.getOrElse(-1), name, round,
        System.nanoTime(), 0L)
      spans += s
      open = s.id :: open
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        drain()
        queriesOf(s.id) = Iterator.continually(queries.pending.poll()).takeWhile(_ != null).toSeq
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.toString).orNull)
      }
    }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** The spans named `name` to time a layer by: those after the first
    * round when there are any, so JIT warm-up stays out of the layer
    * times. */
  def warm(name: String): Seq[Span] = {
    val all = named(name)
    val later = all.filter(_.round > 0)
    if (later.nonEmpty) later else all
  }

  private def children: Map[Int, Seq[Span]] =
    spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  /** A span's duration minus the time its child spans cover. Children of
    * one span never overlap: every call is made from one thread. */
  def selfMs(s: Span): Double =
    s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

  /** The ids of `ss` and of every span below them. */
  private def subtree(ss: Seq[Span]): Set[Int] = {
    val kids = children
    def walk(s: Span): Seq[Int] = s.id +: kids.getOrElse(s.id, Nil).flatMap(walk)
    ss.flatMap(walk).toSet
  }

  def tasksUnder(ss: Seq[Span]): Seq[TaskRec] = {
    val ids = subtree(ss)
    log.tasks.asScala.toSeq.filter(t => ids(t.span))
  }

  def queriesUnder(ss: Seq[Span]): Seq[QueryRec] =
    subtree(ss).toSeq.flatMap(id => queriesOf.getOrElse(id, Nil))

  def jobsUnder(ss: Seq[Span]): Int = {
    val ids = subtree(ss)
    log.jobSpans.asScala.count(j => ids(j.intValue))
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}","round":${s.round},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${selfMs(s)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Summaries over a set of tasks (the per-layer Spark metrics). */
object Tasks {
  val MB: Double = 1024.0 * 1024.0

  /** Longest task over the median task; 0 when there are no tasks. */
  def skew(ts: Seq[TaskRec]): Double =
    if (ts.isEmpty) 0.0
    else {
      val med = Stats.median(ts.map(_.durMs.toDouble))
      ts.map(_.durMs).max / math.max(med, 1.0)
    }

  /** Task run time over (wall time x cores): the layer's busy share. */
  def coreUtil(ts: Seq[TaskRec], wallMs: Double, cores: Int): Double =
    if (wallMs <= 0) 0.0 else ts.map(_.runMs).sum / (wallMs * cores)

  def shuffleWriteMb(ts: Seq[TaskRec]): Double = ts.map(_.shuffleWrite).sum / MB
  def shuffleReadMb(ts: Seq[TaskRec]): Double = ts.map(_.shuffleRead).sum / MB
  def spillMb(ts: Seq[TaskRec]): Double = ts.map(_.spill).sum / MB
  def outBytes(ts: Seq[TaskRec]): Long = ts.map(_.outBytes).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (Python's statistics.quantiles
    * 'inclusive' method); 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Median of the last tenth of `xs` over the median of its first
    * tenth (at least one sample each): how much an operation slowed
    * over the run. */
  def growth(xs: Seq[Double]): Double =
    if (xs.size < 2) 0.0
    else {
      val k = math.max(1, xs.size / 10)
      median(xs.takeRight(k)) / math.max(median(xs.take(k)), 1e-9)
    }
}
