package perfbench

/** Per-layer figures of a traced run, per traced pass. Each op span's
  * wall time splits two ways, both exact by construction:
  * build + exec (operators) and job busy + driver gap (scheduler). */
object Layers {
  /** Modules whose keys the workloads call (`operators.<Module>.*`). */
  val Modules = Seq("Graph", "Accumulator", "Iterators", "StreamAcc")

  def compute(samples: Seq[OpSample], spans: Seq[Span], traced: Set[Int], passes: Int,
      cores: Int, counters: Map[String, Double]): Map[String, Double] = {
    val kids = Spans.children(spans)
    val ops = samples.filter(s => traced(s.pass) && s.span.isDefined)
    val n = math.max(1, passes).toDouble
    def perPass(x: Double) = x / n
    def sec(ns: Double) = ns / 1e9

    final case class OpView(s: OpSample, sp: Span, desc: Seq[Span]) {
      def wallNs: Long = sp.durNs
      def buildNs: Long = sp.durNs min
        desc.find(d => d.parent == sp.id && d.kind == "build").map(_.durNs).getOrElse(0L)
      def jobs: Seq[Span] = desc.filter(_.kind == "job")
      def busyNs: Long = Spans.unionNs(jobs.map(j => (j.startNs, j.endNs)), sp.startNs, sp.endNs)
      def jobSum(k: String): Double = jobs.map(_.num.getOrElse(k, 0.0)).sum
      def kindSum(kind: String, k: String): Double =
        desc.filter(_.kind == kind).map(_.num.getOrElse(k, 0.0)).sum
      def kindDurNs(kind: String, name: String = null): Double =
        desc.filter(d => d.kind == kind && (name == null || d.name == name)).map(_.durNs.toDouble).sum
      def buildJobs: Int = desc.find(d => d.parent == sp.id && d.kind == "build")
        .map(b => Spans.descendants(b, kids).count(_.kind == "job")).getOrElse(0)
    }
    val views = ops.map(s => OpView(s, s.span.get, Spans.descendants(s.span.get, kids)))
    def sumOps(f: OpView => Double, p: OpView => Boolean = _ => true) = views.filter(p).map(f).sum
    def ofKind(k: String*)(v: OpView) = k.contains(v.s.kind)
    def count(p: OpView => Boolean) = views.count(p).toDouble
    def perOp(total: Double, p: OpView => Boolean) = { val c = count(p); if (c == 0) 0.0 else total / c }

    val wallNs = sumOps(_.wallNs.toDouble)
    val buildNs = sumOps(_.buildNs.toDouble)
    val busyNs = sumOps(_.busyNs.toDouble)
    val jobs = sumOps(_.jobs.size.toDouble)
    val runMs = sumOps(_.jobSum("run_ms"))
    val cpuNs = sumOps(_.jobSum("cpu_ns"))

    val all = Seq.newBuilder[(String, Double)]
    all += "ops.count" -> perPass(views.size)
    all += "ops.wall_s" -> perPass(sec(wallNs))
    all += "operators.build_s" -> perPass(sec(buildNs))
    all += "operators.exec_s" -> perPass(sec(wallNs - buildNs))
    all += "operators.build_jobs" -> perPass(sumOps(_.buildJobs.toDouble))
    Modules.foreach { m =>
      all += s"operators.$m.wall_s" -> perPass(sec(sumOps(_.wallNs.toDouble, _.s.module == m)))
      all += s"operators.$m.jobs" -> perPass(sumOps(_.jobs.size.toDouble, _.s.module == m))
    }
    all += "spark.scheduler.jobs" -> perPass(jobs)
    all += "spark.scheduler.stages" -> perPass(sumOps(_.jobSum("stages")))
    all += "spark.scheduler.tasks" -> perPass(sumOps(_.jobSum("tasks")))
    all += "spark.scheduler.jobs_per_op" -> (if (views.isEmpty) 0.0 else jobs / views.size)
    all += "spark.scheduler.job_busy_s" -> perPass(sec(busyNs))
    all += "spark.scheduler.driver_gap_s" -> perPass(sec(wallNs - busyNs))
    all += "spark.catalyst.plan_s" -> perPass(sumOps(_.kindSum("query", "plan_ms")) / 1e3)
    all += "spark.catalyst.query_executions" -> perPass(sumOps(_.desc.count(_.kind == "query").toDouble))
    all += "spark.catalyst.exchanges" -> perPass(sumOps(_.kindSum("query", "exchanges")))
    all += "spark.catalyst.broadcasts" -> perPass(sumOps(_.kindSum("query", "broadcasts")))
    all += "spark.tasks.run_s" -> perPass(runMs / 1e3)
    all += "spark.tasks.cpu_s" -> perPass(sec(cpuNs))
    all += "spark.tasks.gc_s" -> perPass(sumOps(_.jobSum("gc_ms")) / 1e3)
    all += "spark.tasks.core_util" -> (if (wallNs == 0) 0.0 else (runMs / 1e3) / (sec(wallNs) * cores))
    all += "spark.tasks.offcpu_frac" -> (if (runMs == 0) 0.0 else 1.0 - sec(cpuNs) / (runMs / 1e3))
    all += "sources.input_mb" -> perPass(sumOps(_.jobSum("input_bytes")) / 1e6)
    all += "sources.input_rows" -> perPass(sumOps(_.jobSum("input_rows")))
    all += "spark.shuffle.write_mb" -> perPass(sumOps(_.jobSum("shuffle_write_bytes")) / 1e6)
    all += "spark.shuffle.read_mb" -> perPass(sumOps(_.jobSum("shuffle_read_bytes")) / 1e6)
    all += "spark.shuffle.fetch_wait_s" -> perPass(sumOps(_.jobSum("fetch_wait_ms")) / 1e3)
    all += "spark.shuffle.spill_mb" -> perPass(sumOps(_.jobSum("spill_bytes")) / 1e6)

    all += "streaming.microbatches" -> perPass(sumOps(_.desc.count(_.kind == "microbatch").toDouble))
    all += "streaming.trigger_s" -> perPass(sumOps(_.kindSum("microbatch", "trigger_ms")) / 1e3)
    all += "streaming.add_batch_s" -> perPass(sumOps(_.kindSum("microbatch", "add_batch_ms")) / 1e3)
    all += "streaming.query_planning_s" ->
      perPass(sumOps(_.kindSum("microbatch", "query_planning_ms")) / 1e3)
    all += "streaming.wal_commit_s" -> perPass(sumOps(_.kindSum("microbatch", "wal_commit_ms")) / 1e3)
    all += "streaming.state_rows" -> perPass(sumOps(_.kindSum("microbatch", "state_rows")))
    all += "streaming.state_mem_mb" -> perPass(sumOps(_.kindSum("microbatch", "state_mem_bytes")) / 1e6)
    all += "streaming.state_commit_s" -> perPass(sumOps(_.kindSum("microbatch", "state_commit_ms")) / 1e3)

    val bytesWritten = sumOps(_.kindSum("store", "bytes_written"))
    all += "ControlPlane.save_s" -> perPass(sec(sumOps(_.kindDurNs("store", "save"))))
    all += "ControlPlane.save_calls" -> perPass(sumOps(_.desc.count(d => d.kind == "store" && d.name == "save").toDouble))
    all += "ControlPlane.chunk_write_s" -> perPass(sec(sumOps(_.kindDurNs("store", "chunk_write"))))
    all += "ControlPlane.chunk_read_s" -> perPass(sec(sumOps(_.kindDurNs("store", "chunk_read"))))
    all += "ControlPlane.load_s" -> perPass(sec(sumOps(_.kindDurNs("store", "load"))))
    all += "ControlPlane.bytes_written_mb" -> perPass(bytesWritten / 1e6)
    val itemBytes = counters.getOrElse("item_bytes", 0.0)
    all += "ControlPlane.write_amp" -> (if (itemBytes == 0) 0.0 else bytesWritten / itemBytes)

    // latencies: every recorded op of the run, traced or not
    def lat(kind: String, q: Double) = {
      val xs = samples.filter(_.kind == kind).map(_.wallNs / 1e6)
      if (xs.isEmpty) 0.0 else Stats.quantile(xs, q)
    }
    all += "ControlPlane.recover_ms" -> lat("recover", 0.5)

    val acc = ofKind("add", "flush", "recover") _
    val flushes = ofKind("flush") _
    val items = counters.getOrElse("items", 0.0)
    val processInFlush = sumOps(_.kindDurNs("process"), flushes)
    all += "Accumulator.add_jobs" -> perOp(sumOps(_.jobs.size.toDouble, ofKind("add")), ofKind("add"))
    all += "Accumulator.flush_jobs" -> perOp(sumOps(_.jobs.size.toDouble, flushes), flushes)
    all += "Accumulator.process_s" -> perPass(sec(sumOps(_.kindDurNs("process"), acc)))
    all += "Accumulator.flush_overhead_s" ->
      perPass(sec(sumOps(_.wallNs.toDouble, flushes) - processInFlush))
    all += "Accumulator.reverts" -> perPass(counters.getOrElse("reverts", 0.0))
    all += "Accumulator.scan_per_item" ->
      (if (items == 0) 0.0 else sumOps(_.jobSum("input_rows"), ofKind("add")) / items)
    all += "Accumulator.add_p50_ms" -> lat("add", 0.5)
    all += "Accumulator.add_tail_ms" -> lat("add", 0.9)
    all += "Accumulator.flush_p50_ms" -> lat("flush", 0.5)
    all += "Accumulator.flush_tail_ms" -> lat("flush", 0.9)
    val accWall = sec(sumOps(_.wallNs.toDouble, ofKind("add", "flush")))
    all += "Accumulator.items_per_s" -> (if (accWall == 0) 0.0 else items / accWall)

    val iterRows = counters.getOrElse("iter_rows", 0.0)
    val steps = ofKind("step") _
    all += "Iterators.start_s" -> perPass(sec(sumOps(_.wallNs.toDouble, ofKind("start"))))
    all += "Iterators.start_jobs" -> perOp(sumOps(_.jobs.size.toDouble, ofKind("start")), ofKind("start"))
    all += "Iterators.step_jobs" -> perOp(sumOps(_.jobs.size.toDouble, steps), steps)
    all += "Iterators.scan_per_row" ->
      (if (iterRows == 0) 0.0 else sumOps(_.jobSum("input_rows"), steps) / iterRows)
    all += "Iterators.step_p50_ms" -> lat("step", 0.5)
    all += "Iterators.step_tail_ms" -> lat("step", 0.9)
    val iterWall = sec(sumOps(_.wallNs.toDouble, ofKind("start", "step")))
    all += "Iterators.iter_rows_per_s" -> (if (iterWall == 0) 0.0 else iterRows / iterWall)
    all.result().toMap
  }

  /** Every span with its self time (time not covered by its children),
    * in ms from the first span. */
  def spansJson(spans: Seq[Span]): String = {
    val kids = Spans.children(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    Json.arr(spans.map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
        "start_ms" -> Json.num((s.startNs - t0) / 1e6),
        "dur_ms" -> Json.num(s.durNs / 1e6),
        "self_ms" -> Json.num(Spans.selfNs(s, kids) / 1e6),
        "attrs" -> Json.nums(s.num.toMap)))
    })
  }
}
