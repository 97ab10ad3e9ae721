package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{AccSnapshot, AccStore, BatchAccumulator, IterJobRow, IterStateStore, TableIterator}
import graft.sources.Tables

/** An accumulated item: one event row. */
final case class Item(event_id: Long, user_id: Long, event_type: String, value: Double)

/** Times every store call and, when tracing, records it as a span with
  * the bytes it wrote: the sizes of the files under the store dir that
  * the call created or replaced, found by listing the dir (size and
  * modification time per file) before and after the call. The listings
  * lie outside the store span, inside the op. */
final class StoreTimer(run: Run, dir: String) {
  var bytesWritten = 0L
  def apply[A](name: String, writes: Boolean)(body: => A): A = {
    val before = if (writes && run.tracer.on) Some(listing()) else None
    val sp = run.tracer.open(name, "store")
    val out = try body finally run.tracer.close(sp)
    before.foreach { was =>
      val b = listing().collect { case (f, st @ (size, _)) if !was.get(f).contains(st) => size }.sum
      bytesWritten += b
      sp.foreach(run.tracer.note(_, "bytes_written", b.toDouble))
    }
    out
  }
  /** file -> (size, modification time in ns). */
  private def listing(): Map[Path, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        f -> (Files.size(f), Files.getLastModifiedTime(f).to(TimeUnit.NANOSECONDS))
      }.toMap
      finally s.close()
    }
  }
}

final class TimedAccStore[T](inner: AccStore[T], t: StoreTimer) extends AccStore[T] {
  def writeChunk(handle: String, items: Dataset[T]): Dataset[T] =
    t("chunk_write", writes = true)(inner.writeChunk(handle, items))
  def readChunk(handle: String): Dataset[T] = t("chunk_read", writes = false)(inner.readChunk(handle))
  def deleteChunks(handles: Seq[String]): Unit = t("delete", writes = false)(inner.deleteChunks(handles))
  def save(snap: AccSnapshot): Unit = t("save", writes = true)(inner.save(snap))
  def load(): Option[AccSnapshot] = t("load", writes = false)(inner.load())
}

final class TimedIterStore(inner: IterStateStore, t: StoreTimer) extends IterStateStore {
  def save(rows: Seq[IterJobRow]): Unit = t("save", writes = true)(inner.save(rows))
  def load(): Option[Seq[IterJobRow]] = t("load", writes = false)(inner.load())
}

/** Sizes of one control-plane session. */
final case class Plan(chunkMin: Int, chunkMax: Int, threshold: Long, batchSize: Long)

/** graft's own driver surface, as the reference uses it: a
  * BatchAccumulator over event rows (batchId = event_type) and a
  * TableIterator over `orders`, both on parquet stores, plus the
  * accumulator's streaming twin. The seed picks the batches (which one
  * is hot), the chunk sizes, the injected process failures, manual
  * flush or timer tick, and where the pause and the two restarts fall. */
final class ControlPlaneLoad(run: Run, dataDir: String, seed: Long, plan: Plan)
    extends Workload {
  private val spark = run.spark
  import spark.implicits._
  private val types = Seq("click", "error", "purchase", "signup", "view")
  private val intervalMs = 60000L
  private val streamKey = "stream_acc_time_flush"

  // per-session state
  private var inputs = ""
  private var p = plan
  private var tag = ""
  private var now = 0L
  private var rng = new Random(0)
  private var events: org.apache.spark.sql.DataFrame = null
  private var idsByType: Map[String, Array[Long]] = Map.empty
  private var ordersCount = 0L
  private var maxOrderKey = 0L
  private var accTimer: StoreTimer = null
  private var iterTimer: StoreTimer = null
  private var acc: BatchAccumulator[Item] = null
  private var iter: TableIterator = null
  private var lastRound = 0
  private val sessions = scala.collection.mutable.ArrayBuffer.empty[String]

  // ledgers the checks compare against
  private var added = 0L
  private var addedIdSum = 0L
  private var flushed = 0L
  private var flushedIdSum = 0L
  private var injected = 0L
  private var iterRows = 0L
  private var failProcess = true

  private var processNs = 0L
  /** Per-pass counters for the per-layer figures (one session per pass). */
  private val stats = scala.collection.mutable.Map.empty[Int, Map[String, Double]]

  private def process(ds: Dataset[Item]): Unit = run.tracer.span("process", "process") {
    val t0 = System.nanoTime()
    val row = ds.agg(count(lit(1)), sum($"event_id")).head()
    processNs += System.nanoTime() - t0
    if (failProcess && rng.nextDouble() < 0.05) {
      injected += 1
      throw new RuntimeException("injected process failure")
    }
    flushed += row.getLong(0)
    flushedIdSum += (if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  private def iterProcess(df: org.apache.spark.sql.DataFrame): Unit =
    run.tracer.span("process", "process") {
      iterRows += df.agg(count(lit(1))).head().getLong(0)
    }

  private def newAcc(): BatchAccumulator[Item] =
    new BatchAccumulator[Item](p.threshold, process, Some(intervalMs), () => now,
      new TimedAccStore(AccStore.parquet[Item](spark, s"${run.dir(tag)}/acc"), accTimer))

  private def newIter(): TableIterator =
    new TableIterator(Tables.orders(spark, inputs), "o_orderkey", p.batchSize, iterProcess,
      sleeper = _ => (), clock = () => now,
      store = new TimedIterStore(IterStateStore.parquet(spark, s"${run.dir(tag)}/iter"), iterTimer))

  private def begin(t: String, src: String, pl: Plan, r: Int): Unit = {
    tag = t
    p = pl
    inputs = run.freshInputs(src, tag)
    rng = new Random(seed * 1000003L + r)
    now = 1000000L
    added = 0; addedIdSum = 0; flushed = 0; flushedIdSum = 0; injected = 0; iterRows = 0
    processNs = 0
    failProcess = true
    // the benchmark's own schedule inputs: event ids per batch, in order
    events = Tables.events(spark, inputs)
    idsByType = events.select($"event_type", $"event_id")
      .as[(String, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val o = Tables.orders(spark, inputs).agg(count(lit(1)), max($"o_orderkey")).head()
    ordersCount = o.getLong(0)
    maxOrderKey = o.getLong(1)
  }

  /** Set-up proper (timed as a set-up sample): empty stores, then the
    * accumulator and iterator built over them (load-on-construct). */
  private def construct(): Unit = {
    accTimer = new StoreTimer(run, s"${run.dir(tag)}/acc")
    iterTimer = new StoreTimer(run, s"${run.dir(tag)}/iter")
    acc = newAcc()
    iter = newIter()
  }

  /** Two untimed sessions, the same as timed ones: the JIT warm-up
    * (a first timed session after only one still ran ~10% slow). */
  def warm(): Unit = for (w <- 1 to 2) {
    begin(s"warm$w", dataDir, plan, -w)
    construct()
    session(-w)
    check(-w)
  }

  /** Inputs are copied and the schedule inputs read before the set-up
    * clock starts. */
  override def prepare(r: Int): Unit = begin(s"r$r", dataDir, plan, r)

  def setup(r: Int): Unit = construct()

  def pass(r: Int): Unit = {
    lastRound = r
    session(r)
  }

  private def snapshotAcc(a: BatchAccumulator[Item]) =
    types.map(t => (a.getAllBatchesForBaseId(t), a.getFlushHistory(t)))

  /** One session. The seed orders the work but not its amount: three
    * adds, two of them to a hot batch whose second add crosses the
    * threshold (one threshold flush), and one flush of the cold batch,
    * manual or by a timer tick (alternating by round). */
  private def session(r: Int): Unit = {
    val Seq(hot, cold) = rng.shuffle(types).take(2)
    val half = (p.threshold / 2 + 1).toInt
    val adds = rng.shuffle(Seq(cold, hot)) :+ hot
    val restartAt = rng.nextInt(adds.size)
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    val cursor = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for ((b, i) <- adds.zipWithIndex) {
      // hot chunks are just over half the threshold, cold ones under it
      val size = if (b == hot) half + rng.nextInt(half / 10 + 1)
        else p.chunkMin + rng.nextInt(p.chunkMax - p.chunkMin + 1)
      val ids = idsByType(b)
      val lo = cursor(b)
      val hi = math.min(ids.length, lo + size) - 1
      cursor(b) = hi + 1
      val chunk = events
        .filter($"event_type" === b && $"event_id" >= ids(lo) && $"event_id" <= ids(hi))
        .select($"event_id", $"user_id", $"event_type", $"value").as[Item]
      val n = (hi - lo + 1).toLong
      sizes += n.toInt
      if (run.call(s"add $b", "add", "Accumulator")(acc.addItems(b, chunk)).isDefined) {
        added += n
        addedIdSum += ids.slice(lo, hi + 1).sum
      }
      if (i == restartAt) {
        val before = snapshotAcc(acc)
        run.call("recover accumulator", "recover", "Accumulator")(newAcc()).foreach { a =>
          run.check(snapshotAcc(a) == before, "restarted accumulator state differs")
          acc = a
        }
      }
    }
    if ((seed + r) % 2 == 0) run.call(s"flush $cold", "flush", "Accumulator")(acc.flush(cold))
    else {
      now += intervalMs + 1
      run.call("tick", "flush", "Accumulator")(acc.tick())
    }

    // the iterator over orders, with one pause/resume and one restart
    val steps = ((ordersCount + p.batchSize - 1) / p.batchSize).toInt + 1
    val pauseAt = 1 + rng.nextInt(math.max(1, steps - 2))
    val iterRestartAt = 1 + rng.nextInt(math.max(1, steps - 2))
    sessions += s"r$r adds=${adds.zip(sizes).map { case (b, n) => s"$b:$n" }.mkString(",")} " +
      s"restart@$restartAt ${if ((seed + r) % 2 == 0) "flush" else "tick"} " +
      s"pause@$pauseAt iter-restart@$iterRestartAt of $steps steps"
    run.call("start", "start", "Iterators")(iter.start("job"))
    var k = 0
    var more = true
    while (more && k < steps + 3) {
      if (k == pauseAt) {
        run.call("pause", "pause", "Iterators")(iter.pause("job"))
        val stepped = run.call("step while paused", "pause", "Iterators")(iter.step("job"))
        run.check(stepped.contains(false), "a paused job advanced")
        run.call("resume", "resume", "Iterators")(iter.resume("job"))
      }
      if (k == iterRestartAt) {
        val before = iter.status("job")
        run.call("recover iterator", "recover", "Iterators")(newIter()).foreach { it =>
          run.check(it.status("job") == before, "restarted iterator state differs")
          iter = it
        }
      }
      more = run.call("step", "step", "Iterators")(iter.step("job")).getOrElse(false)
      now += 1
      k += 1
    }

    // the accumulator's streaming twin
    run.op(streamKey, "operator", "StreamAcc")(SparkEntry.queries(streamKey)(spark, inputs)) { df =>
      df.write.mode("overwrite").parquet(streamOut(r))
    }
  }

  private def outDir(r: Int): String = s"${run.dir(s"r$r")}/out"
  private def streamOut(r: Int): String = s"${outDir(r)}/$streamKey"

  /** Invariants of one session, checked outside the timed ops: items
    * are conserved across flushes, failures and the restart; the
    * iterator covered `orders` exactly once. */
  override def check(r: Int): Unit = {
    val retained = types.flatMap(acc.getBatchStatus).filter(_.status == "accumulating")
      .map(_.itemCount).sum
    run.check(flushed + retained == added,
      s"flushed $flushed + retained $retained != added $added")
    val hist = types.flatMap(acc.getFlushHistory)
    run.check(hist.filter(_.success).map(_.itemCount).sum == flushed,
      "flush history item counts differ from the processed items")
    run.check(hist.count(!_.success) == injected, "failed flushes differ from injected failures")
    // flush what the injected failures left behind; then every added
    // item must have been processed exactly once
    failProcess = false
    types.foreach(t => acc.flush(t))
    run.check(flushed == added && flushedIdSum == addedIdSum,
      s"processed items ($flushed, id sum $flushedIdSum) != added ($added, $addedIdSum)")
    val st = iter.status("job")
    run.check(st.exists(s => s.status == "completed" && s.processedCount == ordersCount &&
        s.cursor.contains(maxOrderKey)),
      s"iterator ended as $st; expected completed, $ordersCount rows, cursor $maxOrderKey")
    run.check(iterRows == ordersCount, s"iterator processed $iterRows rows, table has $ordersCount")
    stats(run.pass) = Map(
      "items" -> added.toDouble,
      "item_bytes" -> (added * implicitly[Encoder[Item]].schema.defaultSize).toDouble,
      "iter_rows" -> iterRows.toDouble,
      "reverts" -> injected.toDouble,
      "process_ns" -> processNs.toDouble,
      "bytes_written" -> (accTimer.bytesWritten + iterTimer.bytesWritten).toDouble)
  }

  def oracleChecks: (String, String, Seq[String]) = (outDir(lastRound), inputs, Seq(streamKey))

  def schedule: Seq[String] = sessions.toSeq

  def counters(passes: Set[Int]): Map[String, Double] =
    stats.filter { case (p, _) => passes(p) }.values
      .foldLeft(Map.empty[String, Double]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
      }
}
