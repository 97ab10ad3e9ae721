package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the traced run. Driver spans (op, build, exec,
  * store calls) nest on the driver thread; job, query and micro-batch
  * spans are added by the listeners and hang under the span that was
  * open when Spark started them. Times are nanoTime-based. */
final class Span(val id: Int, val parent: Int, val name: String, val kind: String,
    val startNs: Long) {
  @volatile var endNs: Long = -1L
  val num: mutable.Map[String, Double] = mutable.Map.empty
  def add(k: String, v: Double): Unit = num(k) = num.getOrElse(k, 0.0) + v
  def durNs: Long = math.max(0L, endNs - startNs)
}

/** Span recorder plus the benchmark's own listeners on Spark's public
  * buses. Nothing is recorded while detached, so untraced passes run
  * with no benchmark listener installed. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  private val all = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  @volatile private var current = 0
  @volatile var on = false
  private var nextId = 1
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs
  val PropKey = "perfbench.span"

  def spans: Seq[Span] = lock.synchronized(all.toSeq)

  private def newSpan(parent: Int, name: String, kind: String, startNs: Long): Span =
    lock.synchronized {
      val s = new Span(nextId, parent, name, kind, startNs)
      nextId += 1
      all += s
      s
    }

  def open(name: String, kind: String): Option[Span] =
    if (!on) None
    else {
      val s = newSpan(stack.headOption.map(_.id).getOrElse(0), name, kind, System.nanoTime())
      stack.push(s)
      current = s.id
      sc.setLocalProperty(PropKey, s.id.toString)
      Some(s)
    }

  /** Ends `s`. With `drained`, listener events still queued are handled
    * first and so still land under `s`, although its end time is taken
    * before the wait. */
  def close(s: Option[Span], drained: Boolean = false): Unit = s.foreach { sp =>
    sp.endNs = System.nanoTime()
    if (drained) org.apache.spark.perfbench.Bus.drain(sc)
    stack.pop()
    current = stack.headOption.map(_.id).getOrElse(0)
    sc.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull)
  }

  def span[A](name: String, kind: String)(body: => A): A = {
    val s = open(name, kind)
    try body finally close(s)
  }

  /** Adds `v` to attribute `k` of span `s`. */
  def note(s: Span, k: String, v: Double): Unit = lock.synchronized(s.add(k, v))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .flatMap(_.toIntOption).getOrElse(current)
      val s = newSpan(parent, s"job ${e.jobId}", "job", fromEpochMs(e.time))
      lock.synchronized {
        jobSpans(e.jobId) = s
        e.stageIds.foreach(st => stageJob(st) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      lock.synchronized(jobSpans.get(e.jobId)).foreach(_.endNs = fromEpochMs(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized(stageJob.get(e.stageInfo.stageId).foreach(_.add("stages", 1)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.add("tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          j.add("run_ms", m.executorRunTime.toDouble)
          j.add("cpu_ns", m.executorCpuTime.toDouble)
          j.add("gc_ms", m.jvmGCTime.toDouble)
          j.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
          j.add("input_rows", m.inputMetrics.recordsRead.toDouble)
          j.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          j.add("shuffle_read_bytes",
            (m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead).toDouble)
          j.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          j.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    }
  }

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** Exchanges and broadcasts in the executed (final adaptive) plan,
    * subqueries included. */
  private def exchangeCounts(plan: SparkPlan): (Int, Int) = {
    var shuffles = 0
    var broadcasts = 0
    def walk(p: SparkPlan): Unit = {
      val q = finalPlan(p)
      q match {
        case s: QueryStageExec => walk(s.plan)
        case _: ShuffleExchangeLike => shuffles += 1; q.children.foreach(walk)
        case _: BroadcastExchangeLike => broadcasts += 1; q.children.foreach(walk)
        case _ => q.children.foreach(walk)
      }
      q.subqueries.foreach(walk)
    }
    walk(plan)
    (shuffles, broadcasts)
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val now = System.nanoTime()
      val s = newSpan(current, s"query $funcName", "query", now - durationNs)
      s.endNs = now
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      val (sh, bc) =
        try exchangeCounts(qe.executedPlan) catch { case _: Throwable => (0, 0) }
      lock.synchronized {
        s.add("plan_ms", planMs.toDouble)
        s.add("exchanges", sh.toDouble)
        s.add("broadcasts", bc.toDouble)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val now = System.nanoTime()
      val trig = ms("triggerExecution")
      val s = newSpan(current, s"microbatch ${p.batchId}", "microbatch",
        now - (trig * 1e6).toLong)
      s.endNs = now
      lock.synchronized {
        s.add("trigger_ms", trig)
        s.add("add_batch_ms", ms("addBatch"))
        s.add("query_planning_ms", ms("queryPlanning"))
        s.add("wal_commit_ms", ms("walCommit"))
        p.stateOperators.foreach { st =>
          s.add("state_rows", st.numRowsTotal.toDouble)
          s.add("state_mem_bytes", st.memoryUsedBytes.toDouble)
          s.add("state_commit_ms", st.commitTimeMs.toDouble)
        }
      }
    }
  }

  def attach(): Unit = if (!on) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def detach(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    on = false
  }
}

/** Interval arithmetic over spans. */
object Spans {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def unionNs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** span id -> its children. */
  def children(all: Seq[Span]): Map[Int, Seq[Span]] = all.groupBy(_.parent)

  /** Every span under `root`, root excluded. */
  def descendants(root: Span, kids: Map[Int, Seq[Span]]): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var frontier = kids.getOrElse(root.id, Nil)
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(s => kids.getOrElse(s.id, Nil))
    }
    out.toSeq
  }

  /** Time of `s` not covered by any child span. */
  def selfNs(s: Span, kids: Map[Int, Seq[Span]]): Long =
    s.durNs - unionNs(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)),
      s.startNs, s.endNs)
}
