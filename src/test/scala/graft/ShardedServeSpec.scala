package graft

import graft.ShardedFamilies.{K, Shortlist}
import java.nio.file.Files
import graft.operators.{Metric, Similarity}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
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

  /** Every row a streaming serve delivers for the query rows, in one batch. */
  private def streamed(s: ShardedFamilies.Serves, allowed: Array[Long], residentShards: Int,
      qRows: Seq[(Long, Seq[Double])] = queryRows): Served = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    val q = s.stream(mem.toDF().toDF("qid", "emb"), allowed, residentShards, Shortlist) {
      (df, _) => out.synchronized { out ++= served(df) }; ()
    }.start()
    try { mem.addData(qRows); q.processAllAvailable() } finally q.stop()
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
        // a non-float query column is refused by name before any broadcast
        val qInt = q.withColumn("emb", col("emb").cast("array<int>"))
        Seq[(String, () => Option[DataFrame])](
          "unmasked" -> (() => Some(s.unmasked(qInt, Shortlist))),
          "filtered" -> (() => s.filtered(qInt, Array(1L, 2L), Shortlist)),
          "filteredDf" -> (() => s.filteredDf(qInt, allowedDf, Shortlist)),
          "tombstoned" -> (() => s.tombstoned(qInt, Shortlist))).foreach { case (form, call) =>
          val before = sc.broadcast(0).id
          val got = scala.util.Try(call())
          if (got != scala.util.Success(None)) {
            val e = got.failed.get
            assert(e.isInstanceOf[IllegalArgumentException] && e.getMessage.contains(
              "Query column emb must be array<float>/array<double>, got array<int>"),
              s"$form: $e")
            assert(sc.broadcast(0).id - before == 1,
              s"$form minted a broadcast before refusing array<int>")
          }
        }
        // a query id column that is not a query column is refused before any broadcast
        val qNoId = q.withColumnRenamed("qid", "query_id")
        Seq[(String, () => Option[DataFrame])](
          "unmasked" -> (() => Some(s.unmasked(qNoId, Shortlist))),
          "filtered" -> (() => s.filtered(qNoId, Array(1L, 2L), Shortlist)),
          "filteredDf" -> (() => s.filteredDf(qNoId, allowedDf, Shortlist)),
          "tombstoned" -> (() => s.tombstoned(qNoId, Shortlist))).foreach { case (form, call) =>
          val before = sc.broadcast(0).id
          val got = scala.util.Try(call())
          if (got != scala.util.Success(None)) {
            assert(got.isFailure && got.failed.get.getMessage.contains("qid"), s"$form: $got")
            assert(sc.broadcast(0).id - before == 1,
              s"$form minted a broadcast before refusing a missing qid column")
          }
        }
      }
    }
  }

  /** The query rows over `parts` partitions, with no exchange. */
  private def queriesIn(parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(queryRows, parts).toDF("qid", "emb")
  }

  /** What the jobs `run` starts did, seen by a listener:
    * (jobs, tasks per stage, shuffle bytes written).
    */
  private def jobShape(run: => Unit): (Int, Map[Int, Int], Long) = {
    val sc = spark.sparkContext
    val group = s"shape-${System.nanoTime()}"
    val jobOfStage = scala.collection.mutable.Map.empty[Int, Int]
    val tasks = scala.collection.mutable.Map.empty[Int, Int]
    var jobs = 0
    var shuffled = 0L
    @volatile var drained = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) { jobs += 1; e.stageIds.foreach(jobOfStage(_) = e.jobId) }
        else if (g == s"$group-end") drained = true
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (jobOfStage.contains(e.stageId)) {
          tasks(e.stageId) = tasks.getOrElse(e.stageId, 0) + 1
          if (e.taskMetrics != null) shuffled += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "shape", interruptOnCancel = false)
      try run finally sc.clearJobGroup()
      // the bus delivers in order: once a later job's start arrives,
      // every event of `run` has been seen
      sc.setJobGroup(s"$group-end", "shape", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained, "listener events did not arrive")
    } finally sc.removeSparkListener(l)
    l.synchronized((jobs, tasks.toMap, shuffled))
  }

  test("a resident sharded serve is one pass: one job, one task per query partition, no shuffle") {
    import spark.implicits._
    ShardedFamilies.all(spark).foreach { f =>
      withClue(s"${f.name}: ") {
        val base = Files.createTempDirectory(s"sharded-shape-${f.name}").toString
        f.write(rows(0L, 120L), s"$base/ix")
        f.delete(Seq(3L, 7L).toDF("id"), s"$base/ix", s"$base/del")
        val s = f.serves(s"$base/del")
        val q = queriesIn(4)
        Seq("unmasked" -> Some(s.unmasked(q, Shortlist)),
            "filtered" -> s.filtered(q, Array(1L, 2L, 4L, 5L), Shortlist),
            "filteredDf" -> s.filteredDf(q, Seq(1L, 2L, 4L, 5L).toDF("id"), Shortlist),
            "tombstoned" -> s.tombstoned(q, Shortlist)).foreach {
          case (form, Some(df)) =>
            val (jobs, tasks, shuffled) = jobShape { df.collect(); () }
            assert(jobs == 1 && tasks.values.sum == 4 && shuffled == 0L,
              s"$form: $jobs jobs, tasks per stage $tasks, $shuffled shuffle bytes")
          case _ =>
        }
      }
    }
  }

  test("a resident sharded serve spreads a one-partition query frame over the cores") {
    val corpus = rows(0L, 120L)
    val want = math.min(spark.sparkContext.defaultParallelism, 4)
    Seq[(String, DataFrame => DataFrame)](
      "BQ" -> { val sh = Similarity.buildBqSharded(corpus, "id", "emb", 4)
        q => Similarity.topkBqSharded(q, "qid", "emb", sh, K, Metric.Cosine, Shortlist) },
      "IVF-BQ" -> { val sh = Similarity.buildIvfBqSharded(corpus, "id", "emb", 4, nCells = 2)
        q => Similarity.topkIvfBqSharded(q, "qid", "emb", sh, K, 2, Shortlist) },
      "IVF-PQ" -> { val sh = Similarity.buildIvfPqSharded(corpus, "id", "emb", 4, nCells = 2,
          m = 4, trainSample = 256)
        q => Similarity.topkIvfPqSharded(q, "emb", "qid", sh, K, 2, Shortlist) })
      .foreach { case (name, serve) =>
        withClue(s"$name: ") {
          val df = serve(queriesIn(1))
          val (_, tasks, _) = jobShape { df.collect(); () }
          assert(tasks.values.max >= want, s"tasks per stage $tasks")
          assert(served(df) == served(serve(queriesIn(4))))
        }
      }
  }

  test("a resident sharded serve of an empty query frame returns no rows") {
    import spark.implicits._
    ShardedFamilies.all(spark).foreach { f =>
      withClue(s"${f.name}: ") {
        val base = Files.createTempDirectory(s"sharded-empty-${f.name}").toString
        f.write(rows(0L, 120L), s"$base/ix")
        f.delete(Seq(3L, 7L).toDF("id"), s"$base/ix", s"$base/del")
        val s = f.serves(s"$base/del")
        // an optimised-away frame has no partitions at all
        Seq("no partitions" -> queries.filter(lit(false)),
            "empty partitions" -> queriesIn(1).filter(col("qid") < 0L)).foreach {
          case (what, q) =>
            Seq("unmasked" -> Some(s.unmasked(q, Shortlist)),
                "filtered" -> s.filtered(q, Array(1L, 2L, 4L, 5L), Shortlist),
                "filteredDf" -> s.filteredDf(q, Seq(1L, 2L, 4L, 5L).toDF("id"), Shortlist),
                "tombstoned" -> s.tombstoned(q, Shortlist)).foreach {
              case (form, Some(df)) =>
                assert(df.collect().isEmpty && df.columns.contains("rank"), s"$form over $what")
              case _ =>
            }
        }
      }
    }
  }

  test("a sharded serve ranks per query row: two rows with one qid get k matches each") {
    import spark.implicits._
    ShardedFamilies.all(spark).foreach { f =>
      withClue(s"${f.name}: ") {
        val base = Files.createTempDirectory(s"sharded-dupqid-${f.name}").toString
        f.write(rows(0L, 120L), s"$base/ix")
        val s = f.serves(s"$base/ix")
        val Seq(a, b) = queryRows.take(2).map { case (_, e) => (7L, e) }
        val alone = Seq(a, b).flatMap(r => served(s.unmasked(Seq(r).toDF("qid", "emb"), Shortlist)))
        assert(alone.size == 2 * K)
        assert(served(s.unmasked(Seq(a, b).toDF("qid", "emb"), Shortlist)) == alone.sorted)
        assert(served(s.waves(Seq(a, b).toDF("qid", "emb"), null, null)) == alone.sorted)
        assert(served(s.wavesCore(Seq(a, b).toDF("qid", "emb"), () => (), Shortlist)) ==
          alone.sorted)
        assert(streamed(s, null, residentShards = 0, Seq(a, b)) == alone.sorted)
      }
    }
  }

  test("a wave serve is one pass per wave: no shuffle, and a row's matches carry across the waves") {
    ShardedFamilies.all(spark).foreach { f =>
      withClue(s"${f.name}: ") {
        val base = Files.createTempDirectory(s"sharded-wave-shape-${f.name}").toString
        f.write(rows(0L, 120L), s"$base/ix")
        val s = f.serves(s"$base/ix")
        Seq[(String, DataFrame => DataFrame)](
          "waves" -> (q => s.waves(q, null, null)),
          "wavesCore" -> (q => s.wavesCore(q, () => (), Shortlist))).foreach {
          case (form, serve) =>
            val (jobs, tasks, shuffled) = jobShape { serve(queriesIn(4)).collect(); () }
            assert(shuffled == 0L,
              s"$form: $jobs jobs, tasks per stage $tasks, $shuffled shuffle bytes")
        }
      }
    }
    // parquet cuts too
    val corpus = rows(0L, 120L)
    val ivfPq = Similarity.buildIvfPqSharded(corpus, "id", "emb", 3, nCells = 2, m = 4,
      trainSample = 256)
    val scratch = Files.createTempDirectory("sharded-wave-shape-parquet").toString
    val (_, _, shuffled) = jobShape {
      Similarity.topkIvfPqShardedWaves(queriesIn(4), "emb", "qid", ivfPq, K, 2, Shortlist,
        waveSize = 1, scratchDir = scratch).collect(); ()
    }
    assert(shuffled == 0L, s"parquet cuts: $shuffled shuffle bytes")

    // an allow set in the first two waves' shards only: wave 1 merges
    // into the carried matches, and wave 2, all masked out, returns them
    Seq[(String, Seq[Array[Long]], (Array[Long], Int) => DataFrame, Array[Long] => DataFrame)](
      { val sh = Similarity.buildBqSharded(corpus, "id", "emb", 3)
        ("BQ euclidean", sh.map(_.ids),
          (a, w) => Similarity.topkBqShardedWaves(queries, "qid", "emb", sh, K,
            Metric.Euclidean, Shortlist, waveSize = w, allowedIds = a),
          a => Similarity.topkBqShardedFiltered(queries, "qid", "emb", sh, a, K,
            Metric.Euclidean, Shortlist)) },
      { val sh = Similarity.buildIvfBqSharded(corpus, "id", "emb", 3, nCells = 2)
        ("IVF-BQ", sh.map(_.ids),
          (a, w) => Similarity.topkIvfBqShardedWaves(queries, "qid", "emb", sh, K, 2, Shortlist,
            waveSize = w, allowedIds = a),
          a => Similarity.topkIvfBqShardedFiltered(queries, "qid", "emb", sh, a, K, 2,
            Shortlist)) },
      ("IVF-PQ", ivfPq.map(_.ids),
        (a, w) => Similarity.topkIvfPqShardedWaves(queries, "emb", "qid", ivfPq, K, 2,
          Shortlist, waveSize = w, allowedIds = a),
        a => Similarity.topkIvfPqShardedFiltered(queries, "emb", "qid", ivfPq, a, K, 2,
          Shortlist))).foreach { case (name, ids, waves, resident) =>
      withClue(s"$name: ") {
        assert(ids.size == 3)
        val allowed = ids(0).take(3) ++ ids(1).take(3)
        val want = served(resident(allowed))
        assert(want.size == queryRows.size * K && want.forall(r => allowed.contains(r._3)))
        assert(served(waves(allowed, 1)) == want)
        assert(served(waves(ids(0).take(3), 1)) == served(resident(ids(0).take(3))))
        assert(served(waves(ids(0).take(3), 1)).size == queryRows.size * 3)
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
