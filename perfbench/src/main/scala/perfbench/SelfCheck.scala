package perfbench

/** The benchmark's self-check at tiny sizes, all in one JVM: every
  * workload runs clean with tracing off and on, and once more with a
  * deliberately corrupted result (a swapped top-k index, a served
  * deleted id, a dropped kept doc). Each run prints one line,
  * `<workload> <mode> <result json>`; run.py checks the names, units
  * and verdicts against BENCHMARK.json.
  *
  * With `--train` it runs `knn_serve` once, tiny, and checks nothing:
  * run.py uses that run to record the JVM's class-data archive, which
  * cuts the cold start of every later run.
  *
  * {{{
  * perfbench.SelfCheck --work-dir <dir> --out-dir <dir> [--train]
  * }}}
  */
object SelfCheck {
  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = java.nio.file.Paths.get(kv("work-dir"))
    val out = java.nio.file.Paths.get(kv("out-dir"))
    val modes =
      if (argv.contains("--train")) Seq(("train", false, false))
      else Seq(("clean0", false, false), ("clean1", true, false), ("corrupt", false, true))
    for (w <- if (argv.contains("--train")) Seq("knn_serve") else Workload.names; (mode, trace, corrupt) <- modes) {
      val args = Args(w, seed = 7L, seconds = if (mode == "train") 1 else 3, trace = trace,
        workDir = work.resolve(w), outDir = out, tiny = true, corrupt = corrupt)
      val (_, result) = Main.runOne(args)
      println(s"$w $mode $result")
    }
    System.exit(0)
  }
}
