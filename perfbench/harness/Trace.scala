package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: name, start/end (ns), the span that caused it (-1 for
  * a root) and the run/pass/entry it belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, ctx: String) {
  def seconds: Double = (end - start) / 1e9
  def module: String = name.takeWhile(_ != '.')
}

/** Execution counters for the calls made while they were current. */
final class Counters {
  var jobs = 0L
  var tablesJobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
  var gcMs = 0L
  val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  /** Worst stage's max ÷ median task time (stages of at least 2 tasks). */
  def skew: Double = {
    val ratios = taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).max(1L)
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Feeds every job, stage and task of the session into the current
  * [[Counters]]. The listener bus delivers on one thread, and the driver
  * reads only after [[Tracer.counted]] has drained the bus. */
final class ExecListener extends SparkListener {
  @volatile var current = new Counters

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = current
    c.jobs += 1
    // a job's first stage is named after its call site, e.g.
    // "parquet at Tables.scala:14" for a Tables read's schema inference
    if (e.stageInfos.exists(_.name.contains("Tables.scala"))) c.tablesJobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    current.stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = current
    c.tasks += 1
    c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = c.peakExecMem.max(m.peakExecutionMemory)
      c.gcMs += m.jvmGCTime
    }
  }
}

/** Keeps the final physical plan of the last query the session ran, so
  * the exchanges of an executed noop write can be counted. */
final class LastPlan extends QueryExecutionListener {
  @volatile var plan: Option[SparkPlan] = None
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    plan = Some(qe.executedPlan)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Plans {
  /** Exchange nodes (shuffle and broadcast) of a physical plan, looking
    * through adaptive wrappers and query stages and into subqueries. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => 1 + exchanges(s.plan match {
      case e: Exchange => e.child
      case other => other
    })
    case e: Exchange => 1 + exchanges(e.child)
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}

/** Spans plus counters, kept in memory and written once at the end.
  * With `on = false` every method is a pass-through and nothing is
  * registered with the session. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  var ctx = ""
  private val listener = new ExecListener
  val lastPlan = new LastPlan
  if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(lastPlan)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, 0L, 0L, parent, ctx)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, t0, System.nanoTime(), parent, ctx)
        stack = stack.tail
      }
    }

  /** Run `body` with fresh counters; its jobs, stages and tasks land in
    * the returned [[Counters]]. */
  def counted[T](body: => T): (T, Counters) =
    if (!on) (body, new Counters)
    else {
      SparkAccess.drainListeners(spark.sparkContext)
      val c = new Counters
      listener.current = c
      try (body, c)
      finally {
        SparkAccess.drainListeners(spark.sparkContext)
        listener.current = new Counters
      }
    }

  /** Seconds per module that no child span covers. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.module).map { case (m, ss) =>
      m -> ss.map(s => (s.end - s.start - childNs(s.id)).max(0L)).sum / 1e9
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.write(Map("id" -> s.id, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent,
        "ctx" -> s.ctx)))
    } finally w.close()
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      // linear interpolation between closest ranks
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(path: String): Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, Any]])
}
