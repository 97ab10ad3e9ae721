package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed call into graft: an operator call `fn(spark, dir)` plus its
  * action, or one driver-API call, made in timed pass `pass` (numbered
  * from 0 over the run); `span` is set when traced. */
final case class OpSample(pass: Int, name: String, kind: String, module: String,
    wallNs: Long, span: Option[Span])

/** State shared by a run's workload and its recorder: the session,
  * the tracer, the op samples and the failures seen so far. */
final class Run(val spark: SparkSession, val tracer: Tracer, val workDir: Path) {
  val samples = mutable.ArrayBuffer.empty[OpSample]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var round = 0
  /** Index of the timed pass running, -1 before the first. */
  var pass = -1
  /** Off during warm-up and set-up: their ops are not latency samples. */
  var recording = false

  /** Runs `build`, then `exec` on its result, as one op. An exception
    * counts the op as failed and yields None. */
  def op[A, B](name: String, kind: String, module: String)(build: => A)(exec: A => B): Option[B] = {
    attempted += 1
    val sp = tracer.open(name, kind)
    val t0 = System.nanoTime()
    val res =
      try {
        val b = tracer.span("build", "build")(build)
        Some(tracer.span("exec", "exec")(exec(b)))
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
            .take(2).mkString(" | ").take(300)
          failures += s"round $round $name: $msg"
          None
      }
    val t1 = System.nanoTime()
    tracer.close(sp, drained = true)
    if (recording) samples += OpSample(pass, name, kind, module, t1 - t0, sp)
    res
  }

  /** An API call: all of it is exec time. */
  def call[B](name: String, kind: String, module: String)(body: => B): Option[B] =
    op(name, kind, module)(())(_ => body)

  /** Records a failed output check. */
  def fail(what: String): Unit = failures += s"round $round check: $what"

  def check(cond: Boolean, what: => String): Unit = if (!cond) fail(what)

  /** A private copy of the input tables for one round, so nothing the
    * program memoizes per dataset path carries over between rounds. */
  def freshInputs(src: String, tag: String): String = {
    val dst = workDir.resolve(tag).resolve("in")
    Files.createDirectories(dst)
    Files.list(Paths.get(src)).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    dst.toString
  }

  def dir(tag: String): String = {
    val d = workDir.resolve(tag)
    Files.createDirectories(d)
    d.toString
  }
}

/** A workload: an untimed warm-up, then rounds of (set-up, timed
  * passes), the first rounds set-up only. */
trait Workload {
  /** Untimed JIT warm-up before the first round (may do nothing). */
  def warm(): Unit
  /** Untimed preparation of round `r` (private input copy). */
  def prepare(r: Int): Unit = ()
  /** Round set-up: its wall time is a `setup_s` sample. */
  def setup(r: Int): Unit
  /** The timed pass of round `r`. */
  def pass(r: Int): Unit
  /** Timed passes per round, all over the round's set-up. */
  def passesPerRound: Int = 1
  /** The first round with timed passes; the rounds before only set up. */
  def firstTimedRound: Int = 2
  /** Rounds with timed passes, at least. */
  def timedRounds: Int = 2
  /** Output checks of round `r`, outside every timed interval;
    * failures go to `run.fail`. */
  def check(r: Int): Unit = ()
  /** Query keys whose last timed output `tools/check.py` compares with
    * their oracle: (directory holding one output dir per key, the
    * input tables, the keys). */
  def oracleChecks: (String, String, Seq[String])
  /** What the seed chose, echoed in the run's log line. */
  def schedule: Seq[String]
  /** Per-layer figures the workload counts itself (items, rows,
    * reverts), summed over the timed passes `passes`. */
  def counters(passes: Set[Int]): Map[String, Double]
}
