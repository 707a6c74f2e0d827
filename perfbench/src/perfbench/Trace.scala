package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer. Spans are opened and closed around calls into the
  * program's modules — by [[Agent]] for the program's own methods, by
  * [[Trace.span]] for the benchmark's calls — and kept in memory until the
  * run ends. The open span's id rides on the SparkContext's thread-local
  * properties, so the [[Trace.Probe]] listener can charge every Spark job
  * (and its stages and tasks) to the span that launched it. */
object Trace {
  final class Span(val id: Int, val name: String, val parent: Int,
                   val iter: Int, val start: Long) {
    var end: Long = -1L
    var arg: AnyRef = _
    var ret: AnyRef = _
    var retainedMb: Double = 0.0
    def seconds: Double = (end - start) / 1e9
  }

  val Prop = "perfbench.span"
  @volatile var enabled = false
  @volatile var iter = 0
  @volatile var sc: SparkContext = _
  val spans = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  /** Called on entry to an instrumented method (see [[Agent]]). */
  def enter(name: String, arg: AnyRef): Unit = if (enabled) {
    val st = stack.get
    val s = spans.synchronized {
      val s = new Span(spans.size, name, st.headOption.fold(-1)(_.id), iter,
        System.nanoTime())
      spans += s
      s
    }
    s.arg = arg
    stack.set(s :: st)
    setProp(Some(s))
  }

  /** Called on every exit of an instrumented method with its return
    * value (null for Unit and for exceptions). */
  def exit(ret: AnyRef): Unit = if (enabled) stack.get match {
    case s :: rest =>
      s.end = System.nanoTime()
      s.ret = ret
      s.retainedMb = storageMb()
      stack.set(rest)
      setProp(rest.headOption)
    case Nil => ()
  }

  /** A span around a block of the benchmark's own code. */
  def span[T](name: String)(body: => T): T = {
    enter(name, null)
    var ret: AnyRef = null
    try { val r = body; ret = r.asInstanceOf[AnyRef]; r }
    finally exit(ret)
  }

  /** Close spans an exception left open on this thread. */
  def closeOpen(): Unit = while (stack.get.nonEmpty) exit(null)

  private def setProp(s: Option[Span]): Unit =
    if (sc != null) sc.setLocalProperty(Prop, s.map(_.id.toString).orNull)

  /** Block-manager storage memory in use, MB. */
  def storageMb(): Double =
    if (sc == null) 0.0
    else sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }
      .sum / 1e6

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }

  // ---- Spark-side counters --------------------------------------------

  final class Job(val span: Int, val start: Long) {
    var end: Long = -1L
    var tasks = 0L
    var taskMs = 0L
    var waitMs = 0L
    var shuffleBytes = 0L
  }

  /** Listener charging jobs, tasks, task wait and shuffle bytes to the span
    * that was open when each job was submitted, and keeping the executed
    * plan of each successful query for operator metrics. Events arrive on
    * the listener bus thread; drain it before reading. */
  final class Probe extends SparkListener with QueryExecutionListener {
    val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stageJob = mutable.HashMap[Int, Job]()
    private val stageSubmit = mutable.HashMap[Int, Long]()
    private var plans = Vector.empty[SparkPlan]
    /** The executed plans of the queries that succeeded since the last
      * call (drain the listener bus first). */
    def takePlans(): Vector[SparkPlan] = synchronized {
      val p = plans
      plans = Vector.empty
      p
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .fold(-1)(_.toInt)
      val j = new Job(span, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stageSubmit(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.waitMs += math.max(0L,
          e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId,
            e.taskInfo.launchTime))
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      synchronized { plans :+= qe.executedPlan }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** Every node of `plans`, each once: through AQE stages, subqueries and
    * the plans behind cached relations. */
  private def nodes(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
    val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
    val out = ArrayBuffer[SparkPlan]()
    def visit(p: SparkPlan): Unit = if (!seen.containsKey(p)) {
      seen.put(p, ())
      out += p
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case _ => p.children
      }
      (kids ++ p.subqueries).foreach(visit)
    }
    plans.foreach(visit)
    out.toSeq
  }

  private val counted = mutable.HashMap[Long, Long]()
  private val countedNodes =
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  /** Operator and scan metrics of the work `plans` did since the previous
    * call: metric values counted before (a cached plan's build, an earlier
    * query's stage) are subtracted, so only this period's work shows.
    * Call with the plans of every period, reading the result only for the
    * traced ones. */
  def planMetrics(plans: Seq[SparkPlan]): Map[String, Double] = {
    val ns = nodes(plans)
    def take(p: SparkPlan, name: String): Double = p.metrics.get(name)
      .fold(0.0) { m =>
        val d = m.value - counted.getOrElse(m.id, 0L)
        counted(m.id) = m.value
        d.toDouble
      }
    val fresh = ns.filter(countedNodes.add)
    val shuffles = ns.collect { case s: ShuffleExchangeExec =>
      take(s, "dataSize") }
    val reads = fresh.collect { case r: AQEShuffleReadExec => r }
    val readStages = reads.map(_.child).toSet[SparkPlan]
    val unread = fresh.collect {
      case s: ShuffleQueryStageExec if !readStages.contains(s) => s }
    def inStage(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap {
      case _: InputAdapter => Nil
      case c => inStage(c)
    }
    def minhashStage(w: WholeStageCodegenExec): Boolean =
      inStage(w.child).exists(_.expressions.exists(
        _.find(_.getClass.getSimpleName == "ShingleMinHash").isDefined))
    Map(
      "ops.exchanges" -> shuffles.count(_ > 0).toDouble,
      "ops.exchange_mb" -> shuffles.sum / 1e6,
      "ops.broadcast_mb" -> ns.collect { case b: BroadcastExchangeExec =>
        take(b, "dataSize") }.sum / 1e6,
      "ops.agg_build_s" -> ns.collect { case a: BaseAggregateExec =>
        take(a, "aggTime") }.sum / 1e3,
      "ops.spill_mb" -> ns.map(take(_, "spillSize")).sum / 1e6,
      "ops.join_rows" -> ns.collect { case j: BaseJoinExec =>
        take(j, "numOutputRows") }.sum,
      "ops.post_aqe_partitions" -> (reads.map(_.partitionSpecs.size).sum +
        unread.map(_.shuffle.numPartitions).sum).toDouble,
      "io.scan.mb" -> ns.collect { case f: FileSourceScanExec =>
        take(f, "filesSize") }.sum / 1e6,
      "io.scan.scan_s" -> ns.collect { case f: FileSourceScanExec =>
        take(f, "scanTime") }.sum / 1e3,
      "functions.minhash.kernel_s" -> ns.collect {
        case w: WholeStageCodegenExec if minhashStage(w) =>
          take(w, "pipelineTime") }.sum / 1e3)
  }

  // ---- per-iteration span metrics -------------------------------------

  /** Metrics of every span name in iteration `it`. Same-name spans nested
    * in each other count once (the outermost); counters are inclusive of
    * child spans; self time is the span minus its children. */
  def spanMetrics(it: Int, jobs: Iterable[Job],
                  nanoToMs: Long => Double): Map[String, Double] = {
    val ss = spans.synchronized(spans.filter(s => s.iter == it && s.end > 0)
      .toVector)
    val byId = ss.map(s => s.id -> s).toMap
    val children = ss.groupBy(_.parent)
    def ancestors(s: Span): List[Span] =
      byId.get(s.parent).fold(List.empty[Span])(p => p :: ancestors(p))
    def subtree(s: Span): Set[Int] =
      children.getOrElse(s.id, Nil).flatMap(subtree).toSet + s.id
    val out = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    for (s <- ss) {
      val self = s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
      add(s"${s.name}.self_s", self)
      if (!ancestors(s).exists(_.name == s.name)) {
        val ids = subtree(s)
        val js = jobs.filter(j => ids.contains(j.span)).toVector
        val (a, b) = (nanoToMs(s.start), nanoToMs(s.end))
        val covered = union(js.map(j => (math.max(a, j.start.toDouble),
          math.min(b, if (j.end < 0) b else j.end.toDouble))))
        add(s"${s.name}.s", s.seconds)
        add(s"${s.name}.spark_jobs", js.size)
        add(s"${s.name}.tasks", js.map(_.tasks).sum)
        add(s"${s.name}.task_s", js.map(_.taskMs).sum / 1e3)
        add(s"${s.name}.task_wait_s", js.map(_.waitMs).sum / 1e3)
        add(s"${s.name}.shuffle_mb", js.map(_.shuffleBytes).sum / 1e6)
        add(s"${s.name}.driver_gap_s",
          math.max(0.0, s.seconds - covered / 1e3))
        out(s"${s.name}.retained_mb") = s.retainedMb
      }
    }
    out.toMap
  }

  /** Total length of a set of [start, end] intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var reached = Double.NegativeInfinity
    for ((a, b) <- iv.sortBy(_._1)) {
      val from = math.max(a, reached)
      if (b > from) total += b - from
      reached = math.max(reached, b)
    }
    total
  }
}
