package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side. `perfbench/run.py` builds it, makes the
  * inputs and launches it; this program runs one workload and writes
  * `result.json` (metrics, failures, oracle compare list) and, when
  * traced, `spans.json` into `--out`.
  *
  * A run is: session start, warm-up, then rounds of (set-up, timed
  * passes) until at least `minRounds` rounds ran and the timed passes
  * add up to `--seconds`. The rounds before the workload's first timed
  * round only set up (for `loops` their first passes also warm the
  * JIT), and a run has at least three set-up samples. A traced run has
  * at least five timed passes: the first, still the slowest, is left
  * out; the others are traced in the order untraced, traced, traced,
  * untraced (repeated), so a steady trend over the run (JIT warm-up)
  * cancels out of the tracing overhead: traced minus untraced, over
  * whole groups of four. */
object Main {
  val LoopKeys = Seq("graph_pagerank", "graph_components")
  val SmokeLoopKeys = Seq("graph_pagerank")
  val ControlPlan = Plan(chunkMin = 100, chunkMax = 600, threshold = 1000, batchSize = 2500)
  val SmokePlan = Plan(chunkMin = 20, chunkMax = 60, threshold = 120, batchSize = 300)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val smoke = a.get("smoke").contains("1")
    val cores = a("cores").toInt
    val out = Paths.get(a("out"))
    val launchMs = a("launch-ms").toLong
    val maxRounds = 6

    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val launchS = (System.currentTimeMillis() - launchMs) / 1e3
    val tracer = new Tracer(spark)
    val run = new Run(spark, tracer, out.resolve("work"))

    val control = mutable.ArrayBuffer.empty[Double]
    def probe(): Double = secs {
      spark.range(500000000L).selectExpr("sum(id) AS s").write.format("noop").mode("overwrite").save()
    }
    if (traced) { probe(); control += probe() }

    val w: Workload = workload match {
      case "loops" => new Loops(run, a("data"), if (smoke) SmokeLoopKeys else LoopKeys, seed)
      case "control_plane" =>
        new ControlPlaneLoad(run, a("data"), seed, if (smoke) SmokePlan else ControlPlan)
      case other => sys.error(s"unknown workload $other")
    }
    val warmS = secs(w.warm())
    val firstTimed = w.firstTimedRound
    val minRounds = firstTimed - 1 + w.timedRounds
    // a traced run's first timed pass, still the slowest, only settles
    val lead = if (traced) 1 else 0
    val minPasses = if (traced) lead + 4 else 0
    def tracedSlot(i: Int) = traced && i >= lead && ((i - lead) % 4 == 1 || (i - lead) % 4 == 2)

    val setupS = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    var r = 0
    while (r < minRounds || passS.size < minPasses || (passS.sum < seconds && r < maxRounds)) {
      r += 1
      run.round = r
      w.prepare(r)
      setupS += secs(w.setup(r))
      if (r >= firstTimed) {
        run.recording = true
        for (_ <- 1 to w.passesPerRound) {
          run.pass = passS.size
          if (tracedSlot(run.pass)) tracer.attach()
          passS += secs(w.pass(r))
          tracer.detach()
        }
        run.recording = false
        w.check(r)
      }
    }

    val storage = spark.sparkContext.getRDDStorageInfo
    System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6
    if (traced) control += probe()

    val e2e = Map(
      "setup_s" -> (launchS + warmS + Stats.median(setupS.toSeq)),
      "pass_s" -> Stats.median(passS.toSeq))
    val walls = run.samples.map(_.wallNs / 1e6).toSeq

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val tracedPasses = passS.indices.filter(tracedSlot).toSet
        val balanced = passS.indices.drop(lead).take((passS.size - lead) / 4 * 4)
        def mean(xs: Seq[Double]) = xs.sum / xs.size
        val tracedPass = mean(balanced.filter(tracedSlot).map(passS))
        val untracedPass = mean(balanced.filterNot(tracedSlot).map(passS))
        Layers.compute(run.samples.toSeq, tracer.spans, tracedPasses, tracedPasses.size, cores,
          w.counters(tracedPasses)) ++ Map(
          "spark.storage.persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
          "spark.storage.mem_mb" -> storage.map(_.memSize).sum / 1e6,
          "spark.storage.disk_mb" -> storage.map(_.diskSize).sum / 1e6,
          "driver.heap_after_gc_mb" -> heapMb,
          "ops.p50_ms" -> Stats.quantile(walls, 0.5),
          "ops.tail_ms" -> Stats.quantile(walls, 0.9),
          "setup.launch_s" -> launchS,
          "setup.warm_s" -> warmS,
          "setup.cold_s" -> setupS.head,
          "setup.first_pass_s" -> Stats.median(setupS.toSeq),
          "host.control_start_s" -> control.head,
          "host.control_end_s" -> control.last,
          "trace.traced_pass_s" -> tracedPass,
          "trace.untraced_pass_s" -> untracedPass,
          "trace.overhead_s" -> (tracedPass - untracedPass),
          "trace.spans" -> tracer.spans.size.toDouble)
      }

    val (oracleOut, oracleData, oracleKeys) = w.oracleChecks
    val oracle = oracleKeys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> Json.str(_)))
    oracleKeys.filterNot(SparkEntry.oracleSql.contains).foreach(k => run.fail(s"$k has no oracle SQL"))
    Files.createDirectories(Paths.get(oracleOut))
    Files.writeString(Paths.get(oracleOut, "oracle_sql.json"), Json.obj(oracle))
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "rounds" -> r.toString,
      "attempted" -> run.attempted.toString,
      "failures" -> Json.arr(run.failures.toSeq.map(Json.str)),
      "setup_samples_s" -> Json.arr(setupS.toSeq.map(Json.num)),
      "pass_samples_s" -> Json.arr(passS.toSeq.map(Json.num)),
      "op_samples" -> run.samples.size.toString,
      "schedule" -> Json.arr(w.schedule.map(Json.str)),
      "end_to_end" -> Json.nums(e2e),
      "per_layer" -> Json.nums(layers),
      "oracle" -> Json.obj(Seq("out" -> Json.str(oracleOut), "data" -> Json.str(oracleData),
        "keys" -> Json.arr(oracleKeys.map(Json.str))))))
    Files.createDirectories(out)
    Files.writeString(out.resolve("result.json"), json)
    if (traced) Files.writeString(out.resolve("spans.json"), Layers.spansJson(tracer.spans))
    spark.stop()
  }

  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON writer: values are pre-rendered JSON text. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
