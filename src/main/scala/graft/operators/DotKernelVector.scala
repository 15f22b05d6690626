package graft.operators

import jdk.incubator.vector.{DoubleVector, FloatVector}

/** The vector path of [[DotKernel]]: one query per lane, a panel two
  * `SPECIES_MAX` vectors wide, so each lane runs exactly the scalar
  * chain `acc = Math.fma(q(d), c(d), acc)` over d = 0 … dim−1 (the
  * lanewise FMA rounds once, as `Math.fma` does). A full tile keeps its
  * eight corpus rows' sixteen accumulators in registers and broadcasts
  * each corpus value once for both vectors as it is read; a shorter tile
  * runs row by row. Every lane is computed, a partial panel's pad lanes
  * too. [[DotKernel]] loads this class by name, and only when
  * `jdk.incubator.vector` is in the boot layer.
  *
  * The species are read from their static fields at each use (not kept
  * in a field or a local) so the JIT folds them as constants, on-stack
  * replacement compiles too. `SPECIES_MAX` (on HotSpot the same width
  * as `SPECIES_PREFERRED`) is the species netlib's `VectorBLAS` uses:
  * with a second species of the same element type in the JVM, the
  * type profiles of the vector API's shared methods turn bimorphic and
  * C2 may compile these tiles with the vectors boxed (measured ~40×
  * slower for f64 after BLAS sgemm/dgemm and the f32 tiles had run in
  * the same JVM, in 3 of 5 runs).
  */
private[operators] final class DotKernelVector extends DotTiles {
  private def SF = FloatVector.SPECIES_MAX
  private def SD = DoubleVector.SPECIES_MAX
  def widthF: Int = 2 * SF.length()
  def widthD: Int = 2 * SD.length()

  def ff(p: Array[Float], pOff: Int, width: Int, lanes: Int, dim: Int,
      c: Array[Float], j0: Int, rows: Int, out: Array[Float]): Unit = {
    val w = SF.length()
    val w2 = 2 * w
    if (rows == 8) {
      var a0, a1, a2, a3, a4, a5, a6, a7 = FloatVector.zero(SF)
      var b0, b1, b2, b3, b4, b5, b6, b7 = FloatVector.zero(SF)
      val c0 = j0 * dim
      val c1 = c0 + dim; val c2 = c1 + dim; val c3 = c2 + dim
      val c4 = c3 + dim; val c5 = c4 + dim; val c6 = c5 + dim; val c7 = c6 + dim
      var d = 0
      var po = pOff
      while (d < dim) {
        val q = FloatVector.fromArray(SF, p, po)
        val u = FloatVector.fromArray(SF, p, po + w)
        var x = FloatVector.broadcast(SF, c(c0 + d)); a0 = q.fma(x, a0); b0 = u.fma(x, b0)
        x = FloatVector.broadcast(SF, c(c1 + d)); a1 = q.fma(x, a1); b1 = u.fma(x, b1)
        x = FloatVector.broadcast(SF, c(c2 + d)); a2 = q.fma(x, a2); b2 = u.fma(x, b2)
        x = FloatVector.broadcast(SF, c(c3 + d)); a3 = q.fma(x, a3); b3 = u.fma(x, b3)
        x = FloatVector.broadcast(SF, c(c4 + d)); a4 = q.fma(x, a4); b4 = u.fma(x, b4)
        x = FloatVector.broadcast(SF, c(c5 + d)); a5 = q.fma(x, a5); b5 = u.fma(x, b5)
        x = FloatVector.broadcast(SF, c(c6 + d)); a6 = q.fma(x, a6); b6 = u.fma(x, b6)
        x = FloatVector.broadcast(SF, c(c7 + d)); a7 = q.fma(x, a7); b7 = u.fma(x, b7)
        d += 1; po += w2
      }
      a0.intoArray(out, 0); b0.intoArray(out, w)
      a1.intoArray(out, w2); b1.intoArray(out, w2 + w)
      a2.intoArray(out, 2 * w2); b2.intoArray(out, 2 * w2 + w)
      a3.intoArray(out, 3 * w2); b3.intoArray(out, 3 * w2 + w)
      a4.intoArray(out, 4 * w2); b4.intoArray(out, 4 * w2 + w)
      a5.intoArray(out, 5 * w2); b5.intoArray(out, 5 * w2 + w)
      a6.intoArray(out, 6 * w2); b6.intoArray(out, 6 * w2 + w)
      a7.intoArray(out, 7 * w2); b7.intoArray(out, 7 * w2 + w)
    } else {
      var r = 0
      while (r < rows) {
        val cr = (j0 + r) * dim
        var a, b = FloatVector.zero(SF)
        var d = 0
        var po = pOff
        while (d < dim) {
          val x = FloatVector.broadcast(SF, c(cr + d))
          a = FloatVector.fromArray(SF, p, po).fma(x, a)
          b = FloatVector.fromArray(SF, p, po + w).fma(x, b)
          d += 1; po += w2
        }
        a.intoArray(out, r * w2); b.intoArray(out, r * w2 + w)
        r += 1
      }
    }
  }

  def dd(p: Array[Double], pOff: Int, width: Int, lanes: Int, dim: Int,
      c: Array[Double], j0: Int, rows: Int, out: Array[Double]): Unit = {
    val w = SD.length()
    val w2 = 2 * w
    if (rows == 8) {
      var a0, a1, a2, a3, a4, a5, a6, a7 = DoubleVector.zero(SD)
      var b0, b1, b2, b3, b4, b5, b6, b7 = DoubleVector.zero(SD)
      val c0 = j0 * dim
      val c1 = c0 + dim; val c2 = c1 + dim; val c3 = c2 + dim
      val c4 = c3 + dim; val c5 = c4 + dim; val c6 = c5 + dim; val c7 = c6 + dim
      var d = 0
      var po = pOff
      while (d < dim) {
        val q = DoubleVector.fromArray(SD, p, po)
        val u = DoubleVector.fromArray(SD, p, po + w)
        var x = DoubleVector.broadcast(SD, c(c0 + d)); a0 = q.fma(x, a0); b0 = u.fma(x, b0)
        x = DoubleVector.broadcast(SD, c(c1 + d)); a1 = q.fma(x, a1); b1 = u.fma(x, b1)
        x = DoubleVector.broadcast(SD, c(c2 + d)); a2 = q.fma(x, a2); b2 = u.fma(x, b2)
        x = DoubleVector.broadcast(SD, c(c3 + d)); a3 = q.fma(x, a3); b3 = u.fma(x, b3)
        x = DoubleVector.broadcast(SD, c(c4 + d)); a4 = q.fma(x, a4); b4 = u.fma(x, b4)
        x = DoubleVector.broadcast(SD, c(c5 + d)); a5 = q.fma(x, a5); b5 = u.fma(x, b5)
        x = DoubleVector.broadcast(SD, c(c6 + d)); a6 = q.fma(x, a6); b6 = u.fma(x, b6)
        x = DoubleVector.broadcast(SD, c(c7 + d)); a7 = q.fma(x, a7); b7 = u.fma(x, b7)
        d += 1; po += w2
      }
      a0.intoArray(out, 0); b0.intoArray(out, w)
      a1.intoArray(out, w2); b1.intoArray(out, w2 + w)
      a2.intoArray(out, 2 * w2); b2.intoArray(out, 2 * w2 + w)
      a3.intoArray(out, 3 * w2); b3.intoArray(out, 3 * w2 + w)
      a4.intoArray(out, 4 * w2); b4.intoArray(out, 4 * w2 + w)
      a5.intoArray(out, 5 * w2); b5.intoArray(out, 5 * w2 + w)
      a6.intoArray(out, 6 * w2); b6.intoArray(out, 6 * w2 + w)
      a7.intoArray(out, 7 * w2); b7.intoArray(out, 7 * w2 + w)
    } else {
      var r = 0
      while (r < rows) {
        val cr = (j0 + r) * dim
        var a, b = DoubleVector.zero(SD)
        var d = 0
        var po = pOff
        while (d < dim) {
          val x = DoubleVector.broadcast(SD, c(cr + d))
          a = DoubleVector.fromArray(SD, p, po).fma(x, a)
          b = DoubleVector.fromArray(SD, p, po + w).fma(x, b)
          d += 1; po += w2
        }
        a.intoArray(out, r * w2); b.intoArray(out, r * w2 + w)
        r += 1
      }
    }
  }

  def df(p: Array[Double], pOff: Int, width: Int, lanes: Int, dim: Int,
      c: Array[Float], j0: Int, rows: Int, out: Array[Double]): Unit = {
    val w = SD.length()
    val w2 = 2 * w
    if (rows == 8) {
      var a0, a1, a2, a3, a4, a5, a6, a7 = DoubleVector.zero(SD)
      var b0, b1, b2, b3, b4, b5, b6, b7 = DoubleVector.zero(SD)
      val c0 = j0 * dim
      val c1 = c0 + dim; val c2 = c1 + dim; val c3 = c2 + dim
      val c4 = c3 + dim; val c5 = c4 + dim; val c6 = c5 + dim; val c7 = c6 + dim
      var d = 0
      var po = pOff
      while (d < dim) {
        val q = DoubleVector.fromArray(SD, p, po)
        val u = DoubleVector.fromArray(SD, p, po + w)
        var x = DoubleVector.broadcast(SD, c(c0 + d).toDouble); a0 = q.fma(x, a0); b0 = u.fma(x, b0)
        x = DoubleVector.broadcast(SD, c(c1 + d).toDouble); a1 = q.fma(x, a1); b1 = u.fma(x, b1)
        x = DoubleVector.broadcast(SD, c(c2 + d).toDouble); a2 = q.fma(x, a2); b2 = u.fma(x, b2)
        x = DoubleVector.broadcast(SD, c(c3 + d).toDouble); a3 = q.fma(x, a3); b3 = u.fma(x, b3)
        x = DoubleVector.broadcast(SD, c(c4 + d).toDouble); a4 = q.fma(x, a4); b4 = u.fma(x, b4)
        x = DoubleVector.broadcast(SD, c(c5 + d).toDouble); a5 = q.fma(x, a5); b5 = u.fma(x, b5)
        x = DoubleVector.broadcast(SD, c(c6 + d).toDouble); a6 = q.fma(x, a6); b6 = u.fma(x, b6)
        x = DoubleVector.broadcast(SD, c(c7 + d).toDouble); a7 = q.fma(x, a7); b7 = u.fma(x, b7)
        d += 1; po += w2
      }
      a0.intoArray(out, 0); b0.intoArray(out, w)
      a1.intoArray(out, w2); b1.intoArray(out, w2 + w)
      a2.intoArray(out, 2 * w2); b2.intoArray(out, 2 * w2 + w)
      a3.intoArray(out, 3 * w2); b3.intoArray(out, 3 * w2 + w)
      a4.intoArray(out, 4 * w2); b4.intoArray(out, 4 * w2 + w)
      a5.intoArray(out, 5 * w2); b5.intoArray(out, 5 * w2 + w)
      a6.intoArray(out, 6 * w2); b6.intoArray(out, 6 * w2 + w)
      a7.intoArray(out, 7 * w2); b7.intoArray(out, 7 * w2 + w)
    } else {
      var r = 0
      while (r < rows) {
        val cr = (j0 + r) * dim
        var a, b = DoubleVector.zero(SD)
        var d = 0
        var po = pOff
        while (d < dim) {
          val x = DoubleVector.broadcast(SD, c(cr + d).toDouble)
          a = DoubleVector.fromArray(SD, p, po).fma(x, a)
          b = DoubleVector.fromArray(SD, p, po + w).fma(x, b)
          d += 1; po += w2
        }
        a.intoArray(out, r * w2); b.intoArray(out, r * w2 + w)
        r += 1
      }
    }
  }
}
