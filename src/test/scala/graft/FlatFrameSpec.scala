package graft

import graft.operators.{Metric, Similarity}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Every public flat top-k form equals the explode+unnest of its nested
  * form: the same schema (column order and nullability) and the same
  * rows. The reference is the chain the flat forms ran before the
  * kernel frame emitted flat rows itself — `posexplode`, three
  * `withColumn`s and a `drop` (`rank` last for the sharded forms; for
  * `matmulFlat`, `posexplode` and a broadcast join to the corpus ids) —
  * applied here to the nested form. A sharded form's nested form is
  * each shard's one-index nested serve under the same mask, merged per
  * query row best-first (ties to the lower id). Inputs carry null
  * embeddings and a string column; k runs over 0, 1, 10 and past the
  * population, and the allow sets include the empty set.
  */
class FlatFrameSpec extends AnyFunSuite {
  lazy val spark = GraftSession.create("local[4]", 4)

  private val dim = 16
  private val n = 300
  private val ks = Seq(0, 1, 10, n + 5)

  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val centers = Array.fill(5, dim)(rnd.nextGaussian() * 2.0)
    (0L until n.toLong).map { i =>
      i -> centers((i % 5).toInt).toSeq.map(_ + rnd.nextGaussian() * 0.5)
    }.toDF("id", "emb")
  }

  /** 18 query rows, every sixth embedding null, a `tag` beside them. */
  private lazy val queries: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(78)
    (9000L until 9018L).map { i =>
      (i, if (i % 6 == 0) null else Seq.fill(dim)(rnd.nextGaussian()), s"t$i")
    }.toDF("qid", "emb", "tag")
  }

  private lazy val allowed: Array[Long] = (0L until n.toLong).filter(_ % 3 != 0).toArray
  private def allowSets: Seq[(String, Array[Long])] =
    Seq("some" -> allowed, "none" -> Array.empty[Long])

  // ---- the reference: the chain the flat forms used to run ----

  private def flattenMatches(withMatches: DataFrame, embCol: String): DataFrame =
    withMatches
      .select((withMatches.columns.filter(_ != "matches").map(col).toSeq :+
        posexplode(col("matches")).as(Seq("rank0", "m"))): _*)
      .withColumn("rank", col("rank0") + 1)
      .withColumn("index", col("m.index"))
      .withColumn("score", col("m.score"))
      .drop("rank0", "m", embCol)

  private def shardedFlat(matches: DataFrame, embCol: String): DataFrame = {
    val flat = flattenMatches(matches, embCol)
    flat.select((flat.columns.filter(_ != "rank").map(col).toSeq :+ col("rank")): _*)
  }

  private def matmulFlatChain(
      queries: DataFrame, embCol: String, cx: graft.operators.CorpusIndex): DataFrame = {
    val withScores = Similarity.matmul(queries, embCol, cx, "scores")
    val posToId = spark.createDataFrame(
      cx.ids.toIndexedSeq.zipWithIndex.map { case (id, pos) => (pos, id) }).toDF("pos", "index")
    withScores
      .select((withScores.columns.filter(_ != "scores").map(col).toSeq :+
        posexplode(col("scores")).as(Seq("pos", "score"))): _*)
      .join(broadcast(posToId), Seq("pos"))
      .drop("pos", embCol)
  }

  /** Equal schema and rows; `ordered` also pins the row order. */
  private def same(flat: DataFrame, ref: DataFrame, ordered: Boolean = true): Unit = {
    assert(flat.schema == ref.schema)
    val got = flat.collect().toSeq
    val want = ref.collect().toSeq
    if (ordered) assert(got == want)
    else assert(got.map(_.toString).sorted == want.map(_.toString).sorted)
  }

  // ---- the one-index forms ----

  private lazy val cx = Similarity.collectCorpus(corpus, "id", "emb")
  private lazy val sq8 = Similarity.quantizeSq8(cx)
  private lazy val bq = Similarity.quantizeBq(cx)
  private lazy val ivfBq = Similarity.quantizeIvfBq(cx, 4)
  private lazy val pq = Similarity.quantizePq(cx, 4, trainSample = 256)
  private lazy val opq = Similarity.quantizeOpq(cx, 4, trainSample = 256, opqIters = 2)
  private lazy val ivfPq = Similarity.quantizeIvfPq(cx, 4, 4, trainSample = 256)
  private lazy val ivfOpq = Similarity.quantizeIvfOpq(cx, 4, 4, trainSample = 256, opqIters = 2)
  private val nProbe = 2
  private def sl(k: Int) = math.max(k, 40)

  /** (form, nested serve, flat serve) at k. */
  private type Form = (String, (DataFrame, Int) => DataFrame, (DataFrame, Int) => DataFrame)

  private def oneIndexForms: Seq[Form] = {
    val m = Metric.Cosine
    Seq[Form](
      ("exact", (q, k) => Similarity.topk(q, "emb", cx, k, m),
        (q, k) => Similarity.topkFlat(q, "emb", cx, k, m)),
      ("exact euclidean", (q, k) => Similarity.topk(q, "emb", cx, k, Metric.Euclidean),
        (q, k) => Similarity.topkFlat(q, "emb", cx, k, Metric.Euclidean)),
      ("SQ8", (q, k) => Similarity.topkSq8(q, "emb", sq8, k, m),
        (q, k) => Similarity.topkSq8Flat(q, "emb", sq8, k, m)),
      ("BQ", (q, k) => Similarity.topkBq(q, "emb", bq, k, m, sl(k)),
        (q, k) => Similarity.topkBqFlat(q, "emb", bq, k, m, sl(k))),
      ("IVF-BQ", (q, k) => Similarity.topkIvfBq(q, "emb", ivfBq, k, nProbe, sl(k)),
        (q, k) => Similarity.topkIvfBqFlat(q, "emb", ivfBq, k, nProbe, sl(k))),
      ("PQ", (q, k) => Similarity.topkPq(q, "emb", pq, k, m, sl(k)),
        (q, k) => Similarity.topkPqFlat(q, "emb", pq, k, m, sl(k))),
      ("OPQ", (q, k) => Similarity.topkOpq(q, "emb", opq, k, m),
        (q, k) => Similarity.topkOpqFlat(q, "emb", opq, k, m)),
      ("IVF-PQ", (q, k) => Similarity.topkIvfPq(q, "emb", ivfPq, k, nProbe, sl(k)),
        (q, k) => Similarity.topkIvfPqFlat(q, "emb", ivfPq, k, nProbe, sl(k))),
      ("IVF-OPQ", (q, k) => Similarity.topkIvfOpq(q, "emb", ivfOpq, k, nProbe),
        (q, k) => Similarity.topkIvfOpqFlat(q, "emb", ivfOpq, k, nProbe)))
  }

  private def filteredForms: Seq[Form] = {
    import spark.implicits._
    val m = Metric.Cosine
    allowSets.flatMap { case (set, a) =>
      val aDf = a.toSeq.toDF("id")
      Seq[Form](
        (s"BQ by ids ($set)", (q, k) => Similarity.topkBqFiltered(q, "emb", bq, a, k, m, sl(k)),
          (q, k) => Similarity.topkBqFilteredFlat(q, "emb", bq, a, k, m, sl(k))),
        (s"BQ by DataFrame ($set)",
          (q, k) => Similarity.topkBqFiltered(q, "emb", bq, aDf, "id", k, m, sl(k), "matches"),
          (q, k) => Similarity.topkBqFilteredFlat(q, "emb", bq, aDf, "id", k, m, sl(k))),
        (s"IVF-BQ by ids ($set)",
          (q, k) => Similarity.topkIvfBqFiltered(q, "emb", ivfBq, a, k, nProbe, sl(k)),
          (q, k) => Similarity.topkIvfBqFilteredFlat(q, "emb", ivfBq, a, k, nProbe, sl(k))),
        (s"IVF-PQ by ids ($set)",
          (q, k) => Similarity.topkIvfPqFiltered(q, "emb", ivfPq, a, k, nProbe),
          (q, k) => Similarity.topkIvfPqFilteredFlat(q, "emb", ivfPq, a, k, nProbe)),
        (s"IVF-PQ by DataFrame ($set)",
          (q, k) => Similarity.topkIvfPqFiltered(q, "emb", ivfPq, aDf, "id", k, nProbe, 0,
            "matches"),
          (q, k) => Similarity.topkIvfPqFilteredFlat(q, "emb", ivfPq, aDf, "id", k, nProbe, 0)))
    }
  }

  test("every one-index flat form equals posexplode of its nested form") {
    val f32 = queries.withColumn("emb", col("emb").cast(ArrayType(FloatType)))
    for ((name, nested, flat) <- oneIndexForms ++ filteredForms; q <- Seq(queries, f32);
         k <- ks) {
      withClue(s"$name, ${q.schema("emb").dataType.simpleString}, k=$k: ") {
        same(flat(q, k), flattenMatches(nested(q, k), "emb"))
      }
    }
  }

  test("matmulFlat equals posexplode of matmul joined to the corpus ids") {
    val cx32 = Similarity.collectCorpus(
      corpus.select(col("id"), col("emb").cast(ArrayType(FloatType)).as("emb")), "id", "emb")
    val f32 = queries.withColumn("emb", col("emb").cast(ArrayType(FloatType)))
    for (q <- Seq(queries, f32); c <- Seq(cx, cx32)) {
      withClue(s"${q.schema("emb").dataType.simpleString} x f32=${c.isF32}: ") {
        same(Similarity.matmulFlat(q, "emb", c), matmulFlatChain(q, "emb", c))
      }
    }
  }

  test("a query column named like an emitted column is replaced by it, as the withColumn chain replaced it") {
    val q = queries.withColumn("score", lit(-1.0)).withColumn("Rank", lit("r"))
    Seq(
      "topkFlat" -> (Similarity.topkFlat(q, "emb", cx, 5, Metric.Cosine),
        flattenMatches(Similarity.topk(q, "emb", cx, 5, Metric.Cosine), "emb")),
      "topkIvfPqFlat" -> (Similarity.topkIvfPqFlat(q, "emb", ivfPq, 5, nProbe),
        flattenMatches(Similarity.topkIvfPq(q, "emb", ivfPq, 5, nProbe), "emb")),
      "topkIvfPqSharded, one shard" ->
        (Similarity.topkIvfPqSharded(q, "emb", "qid", Seq(ivfPq), 5, nProbe),
          shardedFlat(Similarity.topkIvfPq(q, "emb", ivfPq, 5, nProbe), "emb"))).foreach {
      case (name, (flat, ref)) =>
        withClue(s"$name: ") {
          assert(flat.columns.map(_.toLowerCase).toSet.size == flat.columns.length)
          same(flat.select(ref.columns.map(col).toSeq: _*), ref)
        }
    }
  }

  // ---- the sharded, tombstoned and wave forms ----

  /** A sharded family's serves at k over in-memory shards. */
  private final case class Sharded(
      name: String,
      ids: Seq[Array[Long]],
      /** the query columns the family's flat serves keep, embedding included */
      keeps: Seq[String],
      /** one shard's nested serve under an allow set (null: unmasked) */
      nestedShard: (DataFrame, Int, Array[Long], Int) => DataFrame,
      resident: (DataFrame, Int) => DataFrame,
      /** by id array and by DataFrame; empty where the family has none */
      filtered: Seq[(DataFrame, Int, Array[Long]) => DataFrame],
      tombstoned: Option[(DataFrame, Int, Array[Long]) => DataFrame],
      /** (query, k, allowed, denied, scratch: "" for in-memory cuts) */
      waves: (DataFrame, Int, Array[Long], Array[Long], String) => DataFrame,
      masked: Boolean)

  private def shardedFamilies: Seq[Sharded] = {
    import spark.implicits._
    val m = Metric.Cosine
    def df(a: Array[Long]) = a.toSeq.toDF("id")
    def waveArgs(scratch: String) = (scratch, scratch.isEmpty)
    val bqs = Similarity.buildBqSharded(corpus, "id", "emb", 3)
    val ivfBqs = Similarity.buildIvfBqSharded(corpus, "id", "emb", 3, nCells = 2)
    val ivfPqs = Similarity.buildIvfPqSharded(corpus, "id", "emb", 3, nCells = 2, m = 4,
      trainSample = 256)
    val opqb = Similarity.buildIvfOpqShardedWithLayout(corpus, "id", "emb", 3, nCells = 2, m = 4,
      trainSample = 256, opqIters = 2)
    val ivfOpqs = opqb.shards
    Seq(
      Sharded("BQ", bqs.map(_.ids), Seq("qid", "emb"),
        (q, s, a, k) =>
          if (a == null) Similarity.topkBq(q, "emb", bqs(s), k, m, sl(k))
          else Similarity.topkBqFiltered(q, "emb", bqs(s), a, k, m, sl(k)),
        (q, k) => Similarity.topkBqSharded(q, "qid", "emb", bqs, k, m, sl(k)),
        Seq((q, k, a) => Similarity.topkBqShardedFiltered(q, "qid", "emb", bqs, a, k, m, sl(k)),
          (q, k, a) =>
            Similarity.topkBqShardedFiltered(q, "qid", "emb", bqs, df(a), "id", k, m, sl(k))),
        Some((q, k, d) => Similarity.topkBqShardedTombstoned(q, "qid", "emb", bqs, d, k, m, sl(k))),
        (q, k, a, d, scratch) => {
          val (dir, mem) = waveArgs(scratch)
          Similarity.topkBqShardedWaves(q, "qid", "emb", bqs, k, m, sl(k), waveSize = 1,
            scratchDir = dir, memoryPartials = mem, allowedIds = a, deniedIds = d)
        }, masked = true),
      Sharded("IVF-BQ", ivfBqs.map(_.ids), Seq("qid", "emb"),
        (q, s, a, k) =>
          if (a == null) Similarity.topkIvfBq(q, "emb", ivfBqs(s), k, nProbe, sl(k))
          else Similarity.topkIvfBqFiltered(q, "emb", ivfBqs(s), a, k, nProbe, sl(k)),
        (q, k) => Similarity.topkIvfBqSharded(q, "qid", "emb", ivfBqs, k, nProbe, sl(k)),
        Seq((q, k, a) =>
            Similarity.topkIvfBqShardedFiltered(q, "qid", "emb", ivfBqs, a, k, nProbe, sl(k)),
          (q, k, a) => Similarity.topkIvfBqShardedFiltered(q, "qid", "emb", ivfBqs, df(a), "id",
            k, nProbe, sl(k))),
        Some((q, k, d) =>
          Similarity.topkIvfBqShardedTombstoned(q, "qid", "emb", ivfBqs, d, k, nProbe, sl(k))),
        (q, k, a, d, scratch) => {
          val (dir, mem) = waveArgs(scratch)
          Similarity.topkIvfBqShardedWaves(q, "qid", "emb", ivfBqs, k, nProbe, sl(k),
            waveSize = 1, scratchDir = dir, memoryPartials = mem, allowedIds = a, deniedIds = d)
        }, masked = true),
      Sharded("IVF-PQ", ivfPqs.map(_.ids), Seq("qid", "emb", "tag"),
        (q, s, a, k) =>
          if (a == null) Similarity.topkIvfPq(q, "emb", ivfPqs(s), k, nProbe)
          else Similarity.topkIvfPqFiltered(q, "emb", ivfPqs(s), a, k, nProbe),
        (q, k) => Similarity.topkIvfPqSharded(q, "emb", "qid", ivfPqs, k, nProbe),
        Seq((q, k, a) => Similarity.topkIvfPqShardedFiltered(q, "emb", "qid", ivfPqs, a, k, nProbe),
          (q, k, a) => Similarity.topkIvfPqShardedFiltered(q, "emb", "qid", ivfPqs, df(a), "id",
            k, nProbe, 0)),
        Some((q, k, d) =>
          Similarity.topkIvfPqShardedTombstoned(q, "emb", "qid", ivfPqs, d, k, nProbe)),
        (q, k, a, d, scratch) => {
          val (dir, mem) = waveArgs(scratch)
          Similarity.topkIvfPqShardedWaves(q, "emb", "qid", ivfPqs, k, nProbe, waveSize = 1,
            scratchDir = dir, memoryPartials = mem, allowedIds = a, deniedIds = d)
        }, masked = true),
      // IVF-OPQ has no one-index filtered form to build a masked reference from
      Sharded("IVF-OPQ", ivfOpqs.map(_.ids), Seq("qid", "emb", "tag"),
        (q, s, _, k) => Similarity.topkIvfOpq(q, "emb",
          Similarity.CorpusIndexIvfOpq(opqb.rot, ivfOpqs(s)), k, nProbe),
        (q, k) => Similarity.topkIvfOpqSharded(q, "emb", "qid", opqb.rot, ivfOpqs, k, nProbe),
        Seq.empty, None,
        (q, k, a, d, scratch) => {
          val (dir, mem) = waveArgs(scratch)
          Similarity.topkIvfOpqShardedWaves(q, "emb", "qid", opqb.rot, ivfOpqs, k, nProbe,
            waveSize = 1, scratchDir = dir, memoryPartials = mem, allowedIds = a, deniedIds = d)
        }, masked = false))
  }

  /** The nested form of a sharded serve: each shard's nested serve
    * under (allow ∩ shard) \ deny, merged per query row best-first
    * (cosine: higher first, ties to the lower id), cut to k.
    */
  private def nestedSharded(f: Sharded, q: DataFrame, k: Int, allow: Array[Long],
      deny: Array[Long]): DataFrame = {
    val per = f.ids.indices.map { s =>
      val mask =
        if (allow == null && deny == null) null
        else f.ids(s).filter(i =>
          (allow == null || allow.contains(i)) && (deny == null || !deny.contains(i)))
      f.nestedShard(q, s, mask, k).collect().map(r => r.getAs[Long]("qid") -> r).toMap
    }
    val kept = q.select(f.keeps.map(col): _*)
    val matches = StructType(kept.schema.fields :+
      StructField("matches", ArrayType(StructType(Seq(
        StructField("index", LongType, nullable = false),
        StructField("score", DoubleType, nullable = false))), containsNull = false)))
    val rows = kept.collect().map { r =>
      val hits = per.map(_(r.getLong(0)).getAs[scala.collection.Seq[Row]]("matches"))
      val merged =
        if (hits.head == null) null
        else hits.flatten.sortWith { (a, b) =>
          val (sa, sb) = (a.getDouble(1), b.getDouble(1))
          if (sa != sb) sa > sb else a.getLong(0) < b.getLong(0)
        }.take(k)
      new GenericRow((r.toSeq :+ merged).toArray): Row
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 2), matches)
  }

  test("every sharded, tombstoned and wave flat form equals posexplode of its nested form") {
    val scratch = Files.createTempDirectory("flat-frame-waves").toString
    val deny = (0L until n.toLong).filter(_ % 5 == 0).toArray
    var cuts = 0
    shardedFamilies.foreach { f =>
      for (k <- Seq(0, 5, n + 5)) {
        withClue(s"${f.name}, k=$k: ") {
          val unmasked = shardedFlat(nestedSharded(f, queries, k, null, null), "emb")
          same(f.resident(queries, k), unmasked, ordered = false)
          Seq("", s"$scratch/${f.name}-$k-$cuts").foreach { cut =>
            cuts += 1
            withClue(s"cut '$cut': ") {
              same(f.waves(queries, k, null, null, cut), unmasked, ordered = false)
            }
          }
          if (f.masked) {
            val live = shardedFlat(nestedSharded(f, queries, k, null, deny), "emb")
            f.tombstoned.foreach(t => same(t(queries, k, deny), live, ordered = false))
            allowSets.foreach { case (set, a) =>
              withClue(s"allow $set: ") {
                val want = shardedFlat(nestedSharded(f, queries, k, a, null), "emb")
                f.filtered.foreach(serve => same(serve(queries, k, a), want, ordered = false))
                same(f.waves(queries, k, a, null, ""), want, ordered = false)
              }
            }
            val both = shardedFlat(nestedSharded(f, queries, k, allowed, deny), "emb")
            same(f.waves(queries, k, allowed, deny, s"$scratch/${f.name}-$k-both"), both,
              ordered = false)
          }
        }
      }
    }
  }
}
