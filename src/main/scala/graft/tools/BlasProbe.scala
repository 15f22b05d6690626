package graft.tools

import dev.ludovic.netlib.blas.BLAS
import graft.operators.{CorpusIndex, DotKernel, Metric, QueryBatch, TopSelector, TopkFrame}

/** Layer probe of the exact kernel: which [[DotKernel]] path and which
  * netlib BLAS implementation load in this JVM, and the GFLOP/s of BLAS
  * `sgemm`/`dgemm` against `DotKernel` (its matmul in f32 and f64, and
  * its fused cosine top-10 in f32) at m × 10,000 × 256 for m = 512 (a
  * full query batch) and m = 4 (a small request's task), with 1 and 4
  * threads each running its own copy of the call. Every figure counts
  * 2·m·n·dim flops per call; the median of 5 timed rounds after one
  * warm-up round.
  *
  *   sbt "runMain graft.tools.BlasProbe"
  *
  * Run without `--add-modules=jdk.incubator.vector` to see the scalar
  * path's figures.
  */
object BlasProbe {
  def main(args: Array[String]): Unit = {
    val blas = BLAS.getInstance()
    println(s"BLAS impl: ${blas.getClass.getName}")
    println(s"DotKernel path: ${DotKernel.path}")
    val (n, dim) = (10000, 256)
    val rnd = new scala.util.Random(7)
    val cF = Array.fill(n * dim)(rnd.nextGaussian().toFloat)
    val cD = cF.map(_.toDouble)
    val norms = Array.tabulate(n)(j => math.sqrt((0 until dim).map(d => cD(j * dim + d) * cD(j * dim + d)).sum))
    val sq = norms.map(x => x * x)
    val ids = Array.tabulate(n)(_.toLong)
    val cx32 = CorpusIndex(ids, null, cF, n, dim, norms, sq)
    val cx64 = CorpusIndex(ids, cD, null, n, dim, norms, sq)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)

    for (m <- Seq(512, 4); threads <- Seq(1, 4)) {
      val qF = Array.fill(m * dim)(rnd.nextGaussian().toFloat)
      val qD = qF.map(_.toDouble)
      def batch(f32: Boolean): QueryBatch = {
        val b = new QueryBatch(dim, if (f32) TopkFrame.F32 else TopkFrame.F64)
        if (f32) b.q32 = qF else b.q64 = qD
        b.qSq = Array.tabulate(m)(i => (0 until dim).map(d => qD(i * dim + d) * qD(i * dim + d)).sum)
        b.qNorm = b.qSq.map(math.sqrt)
        b.m = m
        b
      }
      // one call per thread and round, each thread on its own buffers
      def time(label: String)(mk: () => () => Unit): Unit = {
        val calls = Array.fill(threads)(mk())
        def round(): Double = {
          val t0 = System.nanoTime()
          val fs = calls.map(c => pool.submit(new Runnable { def run(): Unit = c() }))
          fs.foreach(_.get())
          (System.nanoTime() - t0) / 1e9
        }
        round()
        val ts = Array.fill(5)(round()).sorted
        val gflops = threads * 2.0 * m * n * dim / ts(2) / 1e9
        println(f"m=$m%-3d threads=$threads $label%-24s median ${ts(2) * 1e3}%8.2f ms  $gflops%6.1f GFLOP/s")
      }
      time("BLAS sgemm") { () =>
        val out = new Array[Float](m * n)
        () => blas.sgemm("T", "N", n, m, dim, 1.0f, cF, dim, qF, dim, 0.0f, out, n)
      }
      time("BLAS dgemm") { () =>
        val out = new Array[Double](m * n)
        () => blas.dgemm("T", "N", n, m, dim, 1.0, cD, dim, qD, dim, 0.0, out, n)
      }
      time("DotKernel matmul f32") { () =>
        val (dk, b, out) = (new DotKernel, batch(f32 = true), new Array[Float](m * n))
        () => dk.matmul(b, cx32, out)
      }
      time("DotKernel matmul f64") { () =>
        val (dk, b, out) = (new DotKernel, batch(f32 = false), new Array[Double](m * n))
        () => dk.matmul(b, cx64, out)
      }
      time("DotKernel topk f32 cos") { () =>
        val (dk, b) = (new DotKernel, batch(f32 = true))
        val sels = new Array[TopSelector](m)
        () => {
          TopkFrame.prepare(sels, m, 10, higher = true, ids)
          dk.topk(b, cx32, 0, n, Metric.Cosine, 1e-6, sels)
        }
      }
    }
    pool.shutdown()
  }
}
