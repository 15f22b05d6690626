package graft

import graft.ShardedFamilies.{messages, snapshot}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The lifecycle envelope every sharded family shares — delete →
  * append → compact, and failed publishes — run once over the
  * [[ShardedFamilies]] table. Add a family or a case here, not a
  * per-family copy.
  */
class ShardedLifecycleSpec extends AnyFunSuite {
  lazy val spark = GraftSession.create("local[4]", 4)

  private val dim = 16

  /** Clustered rows `from until until` (so the IVF routing has cells
    * to find), seeded by their range.
    */
  private def rows(from: Long, until: Long, d: Int = dim): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(from * 31 + until)
    val centers = Array.tabulate(4, d)((c, j) => if (j % 4 == c) 3.0 else 0.0)
    (from until until).map { i =>
      i -> centers((i % 4).toInt).toSeq.map(_ + rnd.nextGaussian() * 0.3)
    }.toDF("id", "emb")
  }

  private def exists(p: String) = Files.exists(Paths.get(p))

  test("sharded lifecycle over every family: delete refusals, tombstones carried through append, compact drops them and keeps rot/") {
    import spark.implicits._
    ShardedFamilies.all(spark).foreach { f =>
      withClue(s"${f.name}: ") {
        val base = Files.createTempDirectory(s"sharded-life-${f.name}").toString
        val corpus = rows(0L, 300L)
        f.write(corpus, s"$base/ix")
        val (stored, none) = f.read(s"$base/ix")
        assert(stored.sorted == (0L until 300L) && none.isEmpty)

        // the three delete refusals, before anything is published
        def refused(ids: DataFrame, from: String, out: String) =
          intercept[IllegalArgumentException](f.delete(ids, from, s"$base/$out")).getMessage
        assert(refused(Seq.empty[Long].toDF("id"), s"$base/ix", "r0").contains("empty delete set"))
        assert(refused(Seq(99999L).toDF("id"), s"$base/ix", "r1").contains("not stored"))
        val deleted = (0L until 300L).filter(_ % 5 == 0)
        f.delete(corpus.filter(col("id") % 5 === 0).select("id"), s"$base/ix", s"$base/del")
        assert(refused(Seq(0L).toDF("id"), s"$base/del", "r2").contains("already tombstoned"))
        assert(!exists(s"$base/r0") && !exists(s"$base/r1") && !exists(s"$base/r2"))
        assert(f.read(s"$base/del")._2.sorted == deleted)

        // append after delete: the grown index keeps serving the mask
        f.append(rows(300L, 340L), s"$base/del", s"$base/ad", false)
        val (grown, carried) = f.read(s"$base/ad")
        assert(grown.sorted == (0L until 340L))
        assert(carried.sorted == deleted)
        if (f.hasRot) assert(snapshot(s"$base/ad/rot") == snapshot(s"$base/ix/rot"))

        // compact: no tombstones/, rot/ kept, only live rows left
        f.compact(s"$base/ad", s"$base/c")
        assert(!exists(s"$base/c/tombstones"))
        assert(exists(s"$base/c/rot") == f.hasRot)
        if (f.hasRot) assert(snapshot(s"$base/c/rot") == snapshot(s"$base/ix/rot"))
        val (live, noTs) = f.read(s"$base/c")
        assert(noTs.isEmpty)
        assert(live.sorted == (0L until 340L).filterNot(deleted.toSet))
      }
    }
  }

  test("readShardedIndexTombstones reads every family's tombstones: none, the deleted ids, none after compact") {
    ShardedFamilies.all(spark).foreach { f =>
      withClue(s"${f.name}: ") {
        val base = Files.createTempDirectory(s"sharded-ts-${f.name}").toString
        val corpus = rows(0L, 120L)
        f.write(corpus, s"$base/ix")
        assert(graft.sources.Source.readShardedIndexTombstones(spark, s"$base/ix").isEmpty)
        f.delete(corpus.filter(col("id") % 7 === 0).select("id"), s"$base/ix", s"$base/del")
        assert(graft.sources.Source.readShardedIndexTombstones(spark, s"$base/del").sorted.toSeq ==
          (0L until 120L).filter(_ % 7 == 0))
        f.compact(s"$base/del", s"$base/c")
        assert(graft.sources.Source.readShardedIndexTombstones(spark, s"$base/c").isEmpty)
      }
    }
  }

  test("a failed append publish leaves nothing behind, out of place and in place") {
    ShardedFamilies.all(spark).foreach { f =>
      withClue(s"${f.name}: ") {
        val base = Files.createTempDirectory(s"sharded-fail-${f.name}").toString
        val ix = s"$base/ix"
        f.write(rows(0L, 200L), ix)
        val before = snapshot(ix)
        val (ids, _) = f.read(ix)
        // one row of the wrong dimension: the batch passes the id
        // checks and fails in the encode, inside the publish
        val bad = rows(200L, 230L).union(rows(230L, 231L, dim - 4))
        Seq((s"$base/out", false), (ix, true)).foreach { case (out, overwrite) =>
          val e = intercept[Exception](f.append(bad, ix, out, overwrite))
          assert(messages(e).contains("Dimension mismatch"), messages(e))
          if (out != ix) assert(!exists(out))
          val siblings = new java.io.File(base).list().toSeq
          assert(!siblings.exists(n => n.contains(".__tmp__") || n.contains(".__old__")),
            siblings)
          assert(snapshot(ix) == before)
          assert(f.read(ix)._1 == ids)
        }
      }
    }
  }
}
