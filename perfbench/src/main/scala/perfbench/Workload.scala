package perfbench

final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back for the metrics: which op kinds form its
  * latency class, the rate of its bulk work, its result quality, the
  * spans and build times behind the `api.*` layer metrics, and its own
  * metrics under their workload-specific names.
  */
final case class Summary(
    latencyKinds: Set[String],
    bulkPerS: Double,
    quality: Double,
    apiCallSpan: String,
    apiExecSpan: String,
    apiBuildS: Seq[Double],
    named: Seq[Metric],
    layerNamed: Seq[Metric] = Nil,
    notes: Seq[(String, Any)] = Nil)

/** A closed-loop workload with one client, the driver thread. `setup`
  * generates the seeded inputs and prepares what every op reuses; it
  * may run several times, each on a fresh session. `warmup` runs the
  * JIT and codegen warm-up ops, which are dropped; `measure` runs ops
  * until the deadline; `summary` runs after the loop, untimed.
  */
trait Workload {
  def setup(run: Run): Unit
  def warmup(run: Run): Unit
  def measure(run: Run, deadlineNs: Long): Unit
  def summary(run: Run): Summary
  def cleanup(run: Run): Unit = ()
}

object Workload {
  val names: Seq[String] = Seq("knn_serve", "ann_lifecycle")

  def apply(name: String, tiny: Boolean): Workload = name match {
    case "knn_serve" => new KnnServe(tiny)
    case "ann_lifecycle" => new AnnLifecycle(tiny)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }
}
