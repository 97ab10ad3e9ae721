package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** Driver-loop operator keys: each call runs many small Spark jobs
  * (checkpoint, convergence probe, next round), so its time is mostly
  * driver time between jobs. A round's set-up is a first pass over a
  * fresh copy of the inputs, which builds the per-dataset artifacts;
  * the timed pass then reuses them (amortized). */
final class Loops(run: Run, dataDir: String, keys: Seq[String], seed: Long) extends Workload {
  private val spark = run.spark
  private val queries = SparkEntry.queries
  private val moduleOf: Map[String, String] =
    SparkEntry.modules.flatMap { case (m, (qs, _)) => qs.keys.map(_ -> m) }.toMap
  /** The seed fixes the order of the keys within every pass. */
  val order: Seq[String] = new Random(seed).shuffle(keys)
  private var inputs = ""
  private var lastRound = 0

  /** The set-ups of rounds 1 and 2, the first passes in the JVM, are the
    * warm-up: the timed passes (four, all in round 3) start once the
    * JIT has settled. */
  def warm(): Unit = ()
  override def firstTimedRound: Int = 3
  override def timedRounds: Int = 1
  override def passesPerRound: Int = 4

  override def prepare(r: Int): Unit = inputs = run.freshInputs(dataDir, s"r$r")

  def setup(r: Int): Unit = {
    order.foreach { k =>
      run.op(k, "setup", moduleOf(k))(queries(k)(spark, inputs))(noop)
    }
  }

  def pass(r: Int): Unit = {
    lastRound = r
    order.foreach { k =>
      run.op(k, "operator", moduleOf(k))(queries(k)(spark, inputs)) { df =>
        df.write.mode("overwrite").parquet(outPath(r, k))
      }
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def outDir(r: Int): String = s"${run.dir(s"r$r")}/out"
  private def outPath(r: Int, k: String): String = s"${outDir(r)}/$k"

  def oracleChecks: (String, String, Seq[String]) = (outDir(lastRound), inputs, order)

  def schedule: Seq[String] = order

  def counters(passes: Set[Int]): Map[String, Double] = Map.empty
}
