package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the command line and the session. */
final class Ctx(val seed: Long, val seconds: Double, val tracer: Tracer,
    val workDir: String, val slots: Int, val spark: SparkSession) {
  private var dirs = 0
  /** A fresh directory under the run's scratch directory. */
  def freshDir(prefix: String): String = {
    dirs += 1
    val d = java.nio.file.Paths.get(workDir, s"$prefix-$dirs")
    java.nio.file.Files.createDirectories(d)
    d.toString
  }
}

/** What one measured run reports.
  *
  * @param attempted operations attempted (windows or queries)
  * @param failures  one message per failed operation, naming it
  * @param invalid   the run cannot be measured (an overloaded open loop):
  *                  every operation counts as failed and no latency is reported
  * @param e2e       the end-to-end metrics every workload reports
  * @param named     the workload's own end-to-end metrics (name, value, unit)
  * @param layer     per-layer metrics (traced runs print them)
  */
final case class Outcome(attempted: Int, failures: Seq[String],
    invalid: Boolean = false, e2e: Seq[(String, Double)], named: Seq[(String, Double, String)],
    layer: Seq[(String, Double)], info: Seq[(String, Any)] = Nil)

trait Workload {
  /** Make the run's inputs from the seed; repeated, set-up counts the median. */
  def generate(): Unit
  /** Run the pipeline once, untimed, to fill JIT, codegen and session caches. */
  def warmUp(): Unit
  /** The timed run and its correctness checks. */
  def measure(): Outcome
}
