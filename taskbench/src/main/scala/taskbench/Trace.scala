package taskbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftshims.ListenerShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark counters of one job group: everything the jobs started under
  * that group did, as the listener bus reported it.
  */
final class Counters {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var exchanges = 0
  var reusedExchanges = 0
  /** (start, end) wall-clock millis of every job, for the gap measure. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    exchanges += o.exchanges; reusedExchanges += o.reusedExchanges
    jobIntervals ++= o.jobIntervals
  }
}

/** Attributes Spark work to the job group of the thread that caused it.
  *
  * Jobs carry their group in their local properties; stages map to the
  * first job that ran them and tasks to their stage, so task metrics sum
  * per group. Exchanges are counted in each SQL execution's final plan:
  * the execution-start event carries the group id and the initial plan,
  * and every adaptive re-plan posts the whole new plan. (A
  * QueryExecutionListener cannot be used here: the QueryExecution it
  * receives has an id that is not the SQL execution id, so its plan
  * cannot be tied to a group.) Everything is read only after [[flush]]
  * drains the listener bus.
  */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  // latest plan of each SQL execution; adaptive re-plans overwrite it, so
  // after the execution ends it holds the final adaptive plan
  private val finalPlans = new ConcurrentHashMap[Long, SparkPlanInfo]()

  private def counters(g: String): Counters = groups.computeIfAbsent(g, _ => new Counters)

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    this
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
  }

  /** Drains the listener bus so every event of finished jobs is counted. */
  def flush(): Unit = ListenerShim.waitUntilEmpty(spark.sparkContext, 60000L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.GroupKey)))
      .getOrElse(SparkCounters.NoGroup)
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
    counters(g).synchronized(counters(g).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.get(e.jobId)
    val st = jobStart.get(e.jobId)
    if (g != null && st != null) {
      val c = counters(g)
      c.synchronized(c.jobIntervals += ((st.longValue, e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val c = counters(g)
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        c.runMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      finalPlans.put(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      finalPlans.put(u.executionId, u.sparkPlanInfo)
    case _ =>
  }

  /** Flushes, then hands over the counters of every group seen since the
    * last call.
    */
  def takeAll(): Map[String, Counters] = {
    flush()
    finalPlans.asScala.foreach { case (id, plan) =>
      Option(execGroup.get(id)).foreach { g =>
        val (ex, re) = SparkCounters.exchangeCounts(plan)
        val c = counters(g)
        c.synchronized { c.exchanges += ex; c.reusedExchanges += re }
      }
    }
    finalPlans.clear()
    execGroup.clear()
    val out = groups.asScala.toMap
    groups.clear()
    out
  }
}

/** Layer spans of one iteration. When traced, each span runs its body
  * under its own job group (`<iteration group>/<span>`) and is recorded
  * with its wall-clock bounds; untraced, a span only runs its body.
  */
final class Spans(spark: SparkSession, val traced: Boolean, val group: String) {
  val closed = ArrayBuffer.empty[Span]

  def apply[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(s"$group/$name", name)
      val ms0 = System.currentTimeMillis
      val t0 = System.nanoTime
      try body
      finally {
        closed += Span(name, ms0, System.currentTimeMillis, (System.nanoTime - t0) / 1e9)
        sc.setJobGroup(group, group)
      }
    }
}

/** A closed span: wall-clock bounds in epoch millis, duration in seconds. */
final case class Span(name: String, startMs: Long, endMs: Long, seconds: Double) {
  /** Seconds of this span during which no job ran: planning and barriers. */
  def gapSeconds(jobs: Seq[(Long, Long)]): Double = {
    val clipped = jobs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = startMs
    clipped.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    math.max(0.0, seconds - covered / 1000.0)
  }
}

object SparkCounters {
  val GroupKey = "spark.jobGroup.id"
  val NoGroup = "-"

  /** (exchanges, reused exchanges) in a plan as the SQL events describe
    * it; the description already includes adaptive query stages and
    * subqueries as children. A reused exchange lists the exchange it
    * reuses as its child, which is not walked: it does not run again.
    */
  def exchangeCounts(plan: SparkPlanInfo): (Int, Int) = plan.nodeName match {
    case "ReusedExchange" => (0, 1)
    case n =>
      val own = if (n == "Exchange" || n == "BroadcastExchange") 1 else 0
      plan.children.map(exchangeCounts).foldLeft((own, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}
