package graft

import graft.sources.Sink
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-parity check of the sharded index layout: runs every sharded
  * family through write, append, delete, append-after-delete and
  * compact, then records, per persisted parquet dataset, its schema,
  * the Spark schema each part file's footer records, its row count and
  * a sha256 of its rows rendered canonically and sorted (part-file
  * names excluded). Not part of the build: to compare two commits, copy
  * this file into `src/test/scala/graft/` of each checkout and run
  *
  *   sbt "Test/runMain graft.ParityCheck <workDir> <out.json>"
  *
  * then compare the two JSON files dataset by dataset.
  */
object ParityCheck {
  def main(args: Array[String]): Unit = {
    val work = args(0); val out = args(1)
    val spark = GraftSession.create("local[4]", 4)
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(2024)
    val centers = Array.fill(6, 32)(rnd.nextGaussian() * 3.0)
    def gen(from: Long, until: Long) = (from until until).map { i =>
      i -> centers((i % 6).toInt).toSeq.map(_ + rnd.nextGaussian() * 0.4)
    }
    val base = gen(0L, 600L).toDF("id", "emb")
    val more = gen(600L, 660L).toDF("id", "emb")
    val more2 = gen(660L, 700L).toDF("id", "emb")
    val del = base.filter(col("id") % 7 === 0).select("id")
    type Verbs = (String => Unit, (DataFrame, String, String) => Unit,
      (DataFrame, String, String) => Unit, (String, String) => Unit)
    val families: Seq[(String, Verbs)] = Seq(
      "bq" -> ((p: String) => Sink.writeBqShardedIndex(spark,
        Similarity.buildBqShardedWithLayout(base, "id", "emb", 3), p, false),
        (df: DataFrame, i: String, o: String) => Sink.appendBqShardedIndex(spark, df, "id", "emb", i, o),
        (df: DataFrame, i: String, o: String) => Sink.deleteFromBqShardedIndex(spark, df, "id", i, o),
        (i: String, o: String) => Sink.compactBqShardedIndex(spark, i, o)),
      "bq_dist" -> ((p: String) => Sink.writeBqShardedIndexDistributed(spark,
        base, "id", "emb", 3, p),
        (df: DataFrame, i: String, o: String) => Sink.appendBqShardedIndex(spark, df, "id", "emb", i, o),
        (df: DataFrame, i: String, o: String) => Sink.deleteFromBqShardedIndex(spark, df, "id", i, o),
        (i: String, o: String) => Sink.compactBqShardedIndex(spark, i, o)),
      "ivfbq" -> ((p: String) => Sink.writeIvfBqShardedIndex(spark,
        Similarity.buildIvfBqShardedWithLayout(base, "id", "emb", 3, 4), p),
        (df: DataFrame, i: String, o: String) => Sink.appendIvfBqShardedIndex(spark, df, "id", "emb", i, o),
        (df: DataFrame, i: String, o: String) => Sink.deleteFromIvfBqShardedIndex(spark, df, "id", i, o),
        (i: String, o: String) => Sink.compactIvfBqShardedIndex(spark, i, o)),
      "ivfpq" -> ((p: String) => Sink.writeIvfPqShardedIndex(spark,
        Similarity.buildIvfPqShardedWithLayout(base, "id", "emb", 3, 4, 8, trainSample = 256), p, false),
        (df: DataFrame, i: String, o: String) => Sink.appendIvfPqShardedIndex(spark, df, "id", "emb", i, o),
        (df: DataFrame, i: String, o: String) => Sink.deleteFromIvfPqShardedIndex(spark, df, "id", i, o),
        (i: String, o: String) => Sink.compactIvfPqShardedIndex(spark, i, o)),
      "ivfpq_dist" -> ((p: String) => Sink.writeIvfPqShardedIndexDistributed(spark,
        base, "id", "emb", 3, 4, 8, p, trainSample = 256),
        (df: DataFrame, i: String, o: String) => Sink.appendIvfPqShardedIndex(spark, df, "id", "emb", i, o),
        (df: DataFrame, i: String, o: String) => Sink.deleteFromIvfPqShardedIndex(spark, df, "id", i, o),
        (i: String, o: String) => Sink.compactIvfPqShardedIndex(spark, i, o)),
      "ivfopq" -> ((p: String) => Sink.writeIvfOpqShardedIndex(spark,
        Similarity.buildIvfOpqShardedWithLayout(base, "id", "emb", 3, 4, 8, trainSample = 256, opqIters = 2), p),
        (df: DataFrame, i: String, o: String) => Sink.appendIvfPqShardedIndex(spark, df, "id", "emb", i, o),
        (df: DataFrame, i: String, o: String) => Sink.deleteFromIvfPqShardedIndex(spark, df, "id", i, o),
        (i: String, o: String) => Sink.compactIvfPqShardedIndex(spark, i, o)),
      "ivfopq_dist" -> ((p: String) => Sink.writeIvfOpqShardedIndexDistributed(spark,
        base, "id", "emb", 3, 4, 8, p, trainSample = 256, opqIters = 2),
        (df: DataFrame, i: String, o: String) => Sink.appendIvfPqShardedIndex(spark, df, "id", "emb", i, o),
        (df: DataFrame, i: String, o: String) => Sink.deleteFromIvfPqShardedIndex(spark, df, "id", i, o),
        (i: String, o: String) => Sink.compactIvfPqShardedIndex(spark, i, o)))

    val conf = spark.sparkContext.hadoopConfiguration
    def datasets(root: String): Seq[String] = {
      val rp = new org.apache.hadoop.fs.Path(root)
      val fs = rp.getFileSystem(conf)
      def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
        val st = fs.listStatus(p)
        val hasParquet = st.exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        (if (hasParquet) Seq(p) else Nil) ++
          st.filter(_.isDirectory).flatMap(s => walk(s.getPath))
      }
      val prefix = fs.makeQualified(rp).toString
      walk(fs.makeQualified(rp)).map(_.toString.stripPrefix(prefix).stripPrefix("/")).sorted
    }
    def canon(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case x => x.toString
    }
    def sha(s: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      s.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    def record(family: String, verb: String, root: String): Unit = {
      val ds = datasets(root).map { d =>
        val df = spark.read.parquet(s"$root/$d")
        val rows = df.collect().map(canon).sorted.toSeq
        val dp = new org.apache.hadoop.fs.Path(s"$root/$d")
        val fs = dp.getFileSystem(conf)
        // the Spark schema each part file's footer records (nullability
        // included), distinct over the dataset's part files
        val footers = fs.listStatus(dp).filter(_.getPath.getName.endsWith(".parquet")).map { st =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val kv = r.getFooter.getFileMetaData.getKeyValueMetaData
            String.valueOf(kv.get("org.apache.spark.sql.parquet.row.metadata"))
          } finally r.close()
        }.distinct.sorted
        val fj = footers.map(f => "\"" + esc(f) + "\"").mkString(",")
        s"""{"dataset":"${esc(d)}","schema":"${esc(df.schema.simpleString)}","footer_schemas":[$fj],"rows":${rows.size},"sha256":"${sha(rows)}"}"""
      }
      entries += s"""{"family":"$family","verb":"$verb","datasets":[${ds.mkString(",")}]}"""
      println(s"[parity] $family/$verb: ${ds.size} datasets")
    }
    families.foreach { case (fam, (write, append, delete, compact)) =>
      val d = s"$work/$fam"
      write(s"$d/w"); record(fam, "write", s"$d/w")
      append(more, s"$d/w", s"$d/a"); record(fam, "append", s"$d/a")
      delete(del, s"$d/a", s"$d/d"); record(fam, "delete", s"$d/d")
      append(more2, s"$d/d", s"$d/ad"); record(fam, "append_after_delete", s"$d/ad")
      compact(s"$d/ad", s"$d/c"); record(fam, "compact", s"$d/c")
    }
    val pw = new java.io.PrintWriter(out)
    pw.println(entries.mkString("[\n", ",\n", "\n]"))
    pw.close()
    spark.stop()
  }
}
