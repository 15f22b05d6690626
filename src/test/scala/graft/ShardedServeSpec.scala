package graft

import graft.ShardedFamilies.{K, Shortlist}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The serve envelope every sharded family shares — resident filtered,
  * tombstoned and wave serves, the streaming wave serve, and their
  * argument refusals — run once over the [[ShardedFamilies]] table.
  * Add a family or a case here, not a per-family copy.
  */
class ShardedServeSpec extends AnyFunSuite {
  lazy val spark = GraftSession.create("local[4]", 4)

  private val dim = 16

  /** Clustered `(id, emb)` rows `from until until`, seeded by their range. */
  private def rows(from: Long, until: Long, idCol: String = "id"): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(from * 31 + until)
    val centers = Array.tabulate(4, dim)((c, j) => if (j % 4 == c) 3.0 else 0.0)
    (from until until).map { i =>
      i -> centers((i % 4).toInt).toSeq.map(_ + rnd.nextGaussian() * 0.3)
    }.toDF(idCol, "emb")
  }

  private lazy val queryRows: Seq[(Long, Seq[Double])] =
    rows(1000L, 1012L, "qid").collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  private def queries: DataFrame = {
    import spark.implicits._
    queryRows.toDF("qid", "emb")
  }

  private type Served = Seq[(Long, Int, Long, Double)]

  private def served(df: DataFrame): Served =
    df.select("qid", "rank", "index", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq.sorted

  /** Every row a streaming serve delivers for the queries, in one batch. */
  private def streamed(s: ShardedFamilies.Serves, allowed: Array[Long], residentShards: Int)
      : Served = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    val q = s.stream(mem.toDF().toDF("qid", "emb"), allowed, residentShards, Shortlist) {
      (df, _) => out.synchronized { out ++= served(df) }; ()
    }.start()
    try { mem.addData(queryRows); q.processAllAvailable() } finally q.stop()
    out.toSeq.sorted
  }

  test("sharded serves over every family: filtered forms agree with the waves, tombstoned with the waves and the stream, streaming allow ∧ ¬deny") {
    import spark.implicits._
    ShardedFamilies.all(spark).foreach { f =>
      withClue(s"${f.name}: ") {
        val base = Files.createTempDirectory(s"sharded-serve-${f.name}").toString
        val corpus = rows(0L, 300L)
        f.write(corpus, s"$base/ix")
        val allowed = (0L until 300L).filter(_ % 3 != 0).toArray
        val ix = f.serves(s"$base/ix")
        val bySet = served(ix.waves(queries, allowed, null))
        assert(bySet.nonEmpty && bySet.forall(r => r._3 % 3 != 0))
        ix.filtered(queries, allowed, Shortlist).foreach(df => assert(served(df) == bySet))
        ix.filteredDf(queries, allowed.toSeq.toDF("id"), Shortlist)
          .foreach(df => assert(served(df) == bySet))
        assert(served(ix.unmasked(queries, Shortlist)) == served(ix.waves(queries, null, null)))

        f.delete(corpus.filter(col("id") % 5 === 0).select("id"), s"$base/ix", s"$base/del")
        val del = f.serves(s"$base/del")
        assert(del.tombstones.sorted.toSeq == (0L until 300L).filter(_ % 5 == 0))
        val live = served(del.waves(queries, null, del.tombstones))
        assert(live.nonEmpty && live.forall(r => r._3 % 5 != 0))
        del.tombstoned(queries, Shortlist).foreach(df => assert(served(df) == live))
        assert(streamed(del, null, residentShards = 1) == live)

        // the stream applies the persisted tombstones beside the
        // allowed set, with budget-priced residency
        val both = streamed(del, allowed, residentShards = -1)
        assert(both == served(del.waves(queries, allowed, del.tombstones)))
        assert(both.nonEmpty && both.forall(r => r._3 % 3 != 0 && r._3 % 5 != 0))
      }
    }
  }

  test("resident sharded serves refuse bad arguments before minting any broadcast") {
    import spark.implicits._
    val sc = spark.sparkContext
    ShardedFamilies.all(spark).foreach { f =>
      withClue(s"${f.name}: ") {
        val base = Files.createTempDirectory(s"sharded-refuse-${f.name}").toString
        f.write(rows(0L, 120L), s"$base/ix")
        f.delete(Seq(3L, 7L).toDF("id"), s"$base/ix", s"$base/del")
        val s = f.serves(s"$base/del")
        val q = queries
        val allowedDf = Seq(1L, 2L).toDF("id")
        val forms: Seq[(String, Int => Option[DataFrame])] = Seq(
          "unmasked" -> (sl => Some(s.unmasked(q, sl))),
          "filtered" -> (sl => s.filtered(q, Array(1L, 2L), sl)),
          "filteredDf" -> (sl => s.filteredDf(q, allowedDf, sl)),
          "tombstoned" -> (sl => s.tombstoned(q, sl)))
        // the forms this family has (IVF-OPQ masks in its waves only)
        forms.filter(_._2(Shortlist).isDefined).foreach { case (form, call) =>
          val before = sc.broadcast(0).id
          val e = intercept[IllegalArgumentException](call(K - 1))
          assert(e.getMessage.contains("shortlist"), s"$form: ${e.getMessage}")
          assert(sc.broadcast(0).id - before == 1, s"$form minted a broadcast before refusing")
        }
      }
    }
  }

  test("wave serves refuse bad kernel arguments before loading or broadcasting a shard") {
    val sc = spark.sparkContext
    ShardedFamilies.all(spark).foreach { f =>
      withClue(s"${f.name}: ") {
        val base = Files.createTempDirectory(s"sharded-waves-refuse-${f.name}").toString
        f.write(rows(0L, 120L), s"$base/ix")
        val s = f.serves(s"$base/ix")
        val q = queries
        val paged = new java.util.concurrent.atomic.AtomicInteger(0)
        val before = sc.broadcast(0).id
        val e = intercept[IllegalArgumentException](
          s.wavesCore(q, () => { paged.incrementAndGet(); () }, K - 1))
        assert(e.getMessage.contains("shortlist"), e.getMessage)
        assert(paged.get == 0, "a shard was loaded before refusing")
        assert(sc.broadcast(0).id - before == 1, "a broadcast was minted before refusing")
      }
    }
  }

  test("streaming sharded serves refuse bad kernel arguments at wiring time") {
    ShardedFamilies.all(spark).foreach { f =>
      withClue(s"${f.name}: ") {
        val base = Files.createTempDirectory(s"sharded-wire-${f.name}").toString
        f.write(rows(0L, 120L), s"$base/ix")
        val s = f.serves(s"$base/ix")
        implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
        import spark.implicits._
        val mem = MemoryStream[(Long, Seq[Double])]
        val e = intercept[IllegalArgumentException](
          s.stream(mem.toDF().toDF("qid", "emb"), null, 0, K - 1)((_, _) => ()))
        assert(e.getMessage.contains("shortlist"), e.getMessage)
      }
    }
  }
}
