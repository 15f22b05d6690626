package perfbench

import java.nio.file.{Files, Paths}

/** Benchmark entry point (launched by run.py):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work-dir <dir> --out-dir <dir> [--tiny] [--corrupt]
  * }}}
  *
  * Prints a report line, then the result line: one JSON object with
  * `correct`, `attempted`, `failed` and `metrics` (the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`).
  */
object Main {
  val setupReps = 3

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      workDir = Paths.get(need("work-dir")),
      outDir = Paths.get(need("out-dir")),
      tiny = argv.contains("--tiny"),
      corrupt = argv.contains("--corrupt"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val result = runOne(args)
    println(result._1)
    println(result._2)
    // Spark's non-daemon threads must not keep the JVM alive
    System.exit(0)
  }

  /** Runs one workload; returns (report line, result line). */
  def runOne(args: Args): (String, String) = {
    val workload = Workload(args.workload, args.tiny)
    Files.createDirectories(args.workDir)
    Files.createDirectories(args.outDir)
    val hostBefore = Host.sample()
    val ticksBefore = Host.cpuTicks
    val run = new Run(args)
    try {
      val setupS = (0 until (if (args.tiny) 2 else setupReps)).map { _ =>
        val t0 = System.nanoTime()
        run.restartSession()
        workload.setup(run)
        (System.nanoTime() - t0) / 1e9
      }
      run.sampleHeap()
      val w0 = System.nanoTime()
      workload.warmup(run)
      val warmupS = (System.nanoTime() - w0) / 1e9
      run.sampleHeap()
      val t0 = System.nanoTime()
      workload.measure(run, t0 + args.seconds * 1000000000L)
      val measuredS = (System.nanoTime() - t0) / 1e9
      run.sampleHeap()
      val sum = workload.summary(run)
      val hostAfter = Host.sample()
      val rep = Report(run, sum, setupS, warmupS, measuredS, Map("before" -> hostBefore, "after" -> hostAfter,
        "cpu_steal_share" -> Host.stealShare(ticksBefore, Host.cpuTicks)))
      if (args.trace) run.tracer.writeJsonl(args.outDir.resolve(s"${args.workload}-s${args.seed}.spans.jsonl"))
      Files.writeString(args.outDir.resolve(s"${args.workload}-s${args.seed}-t${if (args.trace) 1 else 0}.json"),
        rep.report + "\n" + rep.result + "\n")
      (rep.report, rep.result)
    } finally {
      workload.cleanup(run)
      if (run.spark != null) run.spark.stop()
    }
  }
}
