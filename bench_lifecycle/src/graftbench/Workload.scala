package graftbench

import org.apache.spark.sql.SparkSession

/** One timed pass over a workload's fixed work. `wallS` is the pass's
  * whole timed region; `e2e` carries `throughput_per_s` and
  * `latency_p50_s`; `layers` the per-layer numbers the workload itself
  * can see (the listeners add the rest when tracing). `warmupS` is
  * untimed warm-up the pass ran before its timed region, counted in
  * `setup_s`. */
final case class PassResult(
    wallS: Double,
    warmupS: Double,
    e2e: Map[String, Metric],
    layers: Map[String, Metric],
    attempted: Long,
    failed: Long,
    detail: Map[String, Any])

/** A benchmark workload. Inputs depend only on the seed; every pass does
  * the same fixed work on fresh state. */
trait Workload {
  def name: String

  /** Generate and write the inputs for `seed` under `work` (untimed,
    * not part of set-up). Returns the hash of the generated inputs. */
  def prepare(spark: SparkSession, seed: Long, work: String, seconds: Int): String

  /** Hash of the inputs `seed` would generate, without writing them. */
  def inputHash(spark: SparkSession, seed: Long, seconds: Int): String

  /** The program's own set-up work (index staging) and any untimed
    * warm-up that runs outside the pass. Counted in `setup_s`. */
  def setup(spark: SparkSession): Unit

  /** One timed pass on fresh state; `tracer` set when tracing, started by
    * the pass when its timed region begins. */
  def pass(spark: SparkSession, tracer: Option[Tracer], tag: String): PassResult
}
