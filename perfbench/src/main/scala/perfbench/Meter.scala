package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark measures inside Spark, from outside the program.
  *
  * Two levels, registered from the benchmark's own files:
  *  - counts, always on: jobs, stages, tasks and physical exchanges. They
  *    repeat exactly for the same work, so an A/B can lean on them when
  *    wall time drifts with the host;
  *  - detail, only with `--trace 1` and only while [[on]]: task time, CPU,
  *    GC, shuffle/spill/IO bytes, task intervals (slot use, idle time),
  *    Catalyst phase times, and spans. A span wraps one call into a
  *    program layer and tags the Spark jobs it starts
  *    (`SparkContext.addJobTag`), so each job becomes a child span of the
  *    call that caused it.
  */
final class Meter(spark: SparkSession, val detail: Boolean) {
  private val sc = spark.sparkContext

  /** Detail collection switch; traced runs alternate it per operation so the
    * same run yields both traced and untraced timings. */
  @volatile var on: Boolean = false
  private def collecting = detail && on

  private val jobs, stages, tasks, exchanges, graftOps = new LongAdder
  private val taskNs, cpuNs, gcMs, shufRead, shufWrite, spill, input, output = new LongAdder
  private val analysisMs, optimizationMs, planningMs = new LongAdder
  private val tracedJobs = new LongAdder

  /** Monotonic ns → epoch ms offset, so listener timestamps (epoch ms) and
    * span timestamps (nanoTime) share one clock. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def epochMsToNs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, op: String)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val spanIds = new AtomicLong()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
  private val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val windows = new ConcurrentLinkedQueue[(Long, Long)]()

  private val TagPrefix = "perfbench-"
  private val spansOp = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment()
      if (collecting) {
        tracedJobs.increment()
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(",")).filter(_.startsWith(TagPrefix))
          .map(_.stripPrefix(TagPrefix).toLong)
        val parent = if (tags.isEmpty) 0L else tags.max
        val op = spansOp.getOrDefault(parent, "")
        jobStarts.put(e.jobId, (epochMsToNs(e.time), parent, op))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null)
        spans.add(Span(spanIds.incrementAndGet(), "spark.job", s._1, epochMsToNs(e.time), s._2, s._3))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.increment()
    override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (collecting) {
      val m = e.taskMetrics
      val info = e.taskInfo
      taskIntervals.add((epochMsToNs(info.launchTime), epochMsToNs(info.finishTime)))
      if (m != null) {
        taskNs.add(m.executorRunTime * 1000000L)
        cpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        shufRead.add(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.add(m.inputMetrics.bytesRead)
        output.add(m.outputMetrics.bytesWritten)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.executedPlan
      exchanges.add(collectWithSubqueries(plan) { case e: Exchange => e }.size)
      graftOps.add(graftOpCount(plan))
      if (collecting) {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        analysisMs.add(ms("analysis"))
        optimizationMs.add(ms("optimization"))
        planningMs.add(ms("planning"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** The program's own physical operators and fused expressions. */
    private def graftOpCount(plan: SparkPlan): Int =
      collectWithSubqueries(plan) { case p => p }.map { p =>
        val node = if (Meter.GraftNodes(p.getClass.getSimpleName)) 1 else 0
        node + p.expressions.map(_.collect {
          case e if Meter.GraftExprs(e.getClass.getSimpleName) => e
        }.size).sum
      }.sum
  })

  /** Run `body` as a span named `name` under the calling thread's current
    * span. `op` names the request or query the span serves. */
  def span[T](name: String, op: String)(body: => T): T =
    if (!collecting) body
    else {
      val id = spanIds.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      spansOp.put(id, op)
      stack.set((id, op) :: outer)
      val tag = TagPrefix + id
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.removeJobTag(tag)
        stack.set(outer)
        spans.add(Span(id, name, t0, t1, parent, op))
      }
    }

  /** Mark `body` as one traced operation window, for slot use and idle time. */
  def window[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally if (collecting) windows.add((t0, System.nanoTime()))
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** The always-on counts so far. */
  def counts(): Counts = {
    drain()
    Counts(jobs.sum, stages.sum, tasks.sum, exchanges.sum, graftOps.sum)
  }

  /** Detail metrics for everything collected while [[on]], per operation. */
  def layerMetrics(ops: Int, cores: Int): Map[String, Double] = {
    drain()
    val n = math.max(ops, 1).toDouble
    val mb = 1024.0 * 1024.0
    val wins = windows.asScala.toSeq
    val wallNs = wins.map { case (a, b) => (b - a).toDouble }.sum
    val covered = coveredNs(wins, taskIntervals.asScala.toSeq)
    val tj = tracedJobs.sum.toDouble
    Map(
      "spark.task_s" -> taskNs.sum / 1e9 / n,
      "spark.task_cpu_s" -> cpuNs.sum / 1e9 / n,
      "spark.gc_ms" -> gcMs.sum / n,
      "spark.shuffle_read_mb" -> shufRead.sum / mb / n,
      "spark.shuffle_write_mb" -> shufWrite.sum / mb / n,
      "spark.spill_mb" -> spill.sum / mb / n,
      "spark.input_mb" -> input.sum / mb / n,
      "spark.output_mb" -> output.sum / mb / n,
      "spark.slot_util" -> (if (wallNs > 0) taskNs.sum / (wallNs * cores) else 0.0),
      "spark.idle_ms_per_job" -> (if (tj > 0) (wallNs - covered) / 1e6 / tj else 0.0),
      "catalyst.analysis_ms" -> analysisMs.sum / n,
      "catalyst.optimization_ms" -> optimizationMs.sum / n,
      "catalyst.planning_ms" -> planningMs.sum / n)
  }

  /** Time inside `wins` during which at least one task ran. */
  private def coveredNs(wins: Seq[(Long, Long)], ivs: Seq[(Long, Long)]): Double = {
    val merged = ivs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }
    wins.map { case (ws, we) =>
      merged.map { case (a, b) => math.max(0L, math.min(b, we) - math.max(a, ws)) }.sum.toDouble
    }.sum
  }

  def allSpans: Seq[Span] = { drain(); spans.asScala.toSeq.sortBy(_.start) }

  /** Per span name: calls, total and self time (ms). Self time is a span's
    * duration minus the part of it its child spans cover. */
  def selfTimes(): Map[String, (Int, Double, Double)] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(s => (s.end - s.start).toDouble).sum
      val self = ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        (s.end - s.start) - coveredNs(Seq((s.start, s.end)), kids)
      }.sum
      name -> ((ss.size, total / 1e6, self / 1e6))
    }
  }
}

/** Always-on Spark counts; they repeat exactly for the same work. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, exchanges: Long, graftOps: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    exchanges - o.exchanges, graftOps - o.graftOps)
  /** Per-operation figures under the per-layer metric names. */
  def perOp(n: Int): Map[String, Double] = {
    val d = math.max(n, 1).toDouble
    Map("spark.jobs" -> jobs / d, "spark.stages" -> stages / d, "spark.tasks" -> tasks / d,
      "plan.exchanges" -> exchanges / d, "plan.graft_ops" -> graftOps / d)
  }
}

object Meter {
  val GraftNodes: Set[String] = Set("TopKPerKeyExec", "GlobalIndexExec")
  val GraftExprs: Set[String] = Set("DotProduct")
}
