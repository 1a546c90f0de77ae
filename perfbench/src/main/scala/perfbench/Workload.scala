package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, the meter, its seed and time budget,
  * the fixture directory and a private scratch directory. */
final case class Ctx(spark: SparkSession, meter: Meter, seed: Long, seconds: Double,
                     trace: Boolean, data: String, work: String, cores: Int,
                     expected: Expected) {
  def deadline(from: Long, share: Double = 1.0): Long =
    from + (seconds * share * 1e9).toLong
}

/** What a workload reports.
  *
  * @param setupS    one sample per set-up repetition
  * @param opMs      untraced latencies whose median is `op_p50_ms`: every
  *                  request, or each query's median over the passes
  * @param opsPerS   completed operations per second of measured wall time
  * @param counts    always-on Spark counts over the measured operations
  * @param countOps  the number of units (request or pass) `counts` covers
  * @param report    the workload's own end-to-end figures, with sample counts
  * @param layers    per-layer figures that only this workload's layers have
  * @param generic   traced per-layer figures every workload has
  */
final case class Outcome(
    problems: Seq[String],
    attempted: Long,
    failed: Long,
    setupS: Seq[Double],
    opMs: Seq[Double],
    opsPerS: Double,
    counts: Counts,
    countOps: Int,
    cacheMb: Double,
    report: Map[String, Any],
    layers: Map[String, Any] = Map.empty,
    generic: Map[String, Double] = Map.empty)

trait Workload {
  /** Set-up repetitions; `setup_s` is their median. */
  val SetupReps = 3
  def run(ctx: Ctx): Outcome
}

object Workload {
  val all: Map[String, Workload] = Map("serve_qa" -> ServeQa, "query_mix" -> QueryMix)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** MB of cached Spark blocks. */
  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)

  /** Traced overhead as a share: traced over untraced median, minus one. */
  def overhead(traced: scala.collection.Seq[Double], untraced: scala.collection.Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else Stats.median(traced) / Stats.median(untraced) - 1.0

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }
}
