package graft

import graft.sources.{Sink, Source}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Byte-parity check of the FLAT (single-index) layouts: runs flat
  * SQ8, BQ, PQ (with and without the SQ8 rerank sidecar), OPQ, IVF-BQ
  * and IVF-PQ through write, rewrite (read back and written again),
  * append and append-onto-append (IVF-BQ and IVF-PQ have no flat
  * append: write and rewrite only), then records, per persisted
  * parquet dataset, its schema, the Spark schema each part file's
  * footer records, its row count and a sha256 of its rows rendered
  * canonically and sorted (part-file names excluded). Not part of the
  * build: to compare two commits, copy this file into
  * `src/test/scala/graft/` of each checkout and run
  *
  *   sbt "Test/runMain graft.ParityCheck <workDir> <out.json>"
  *
  * then compare the two JSON files dataset by dataset. (It shares the
  * object name of `plans/sharded_layout/ParityCheck.scala`: copy one
  * at a time.)
  */
object ParityCheck {
  def main(args: Array[String]): Unit = {
    val work = args(0); val out = args(1)
    val spark = GraftSession.create("local[4]", 4)
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(2026)
    val centers = Array.fill(6, 32)(rnd.nextGaussian() * 3.0)
    def gen(ids: Seq[Long]) = ids.map { i =>
      i -> centers((i % 6).toInt).toSeq.map(_ + rnd.nextGaussian() * 0.4)
    }
    // the build holds the even ids below 600; the appends interleave
    // with it (odd ids) and run past it, so an appended pack is never
    // id-sorted as written
    val base = gen((0L until 600L by 2)).toDF("id", "emb")
    val more = gen((1L until 120L by 2) ++ (600L until 620L)).toDF("id", "emb")
    val more2 = gen((121L until 200L by 2) ++ (620L until 630L)).toDF("id", "emb")
    type Append = Option[(DataFrame, String, String) => Unit]
    def app(f: (DataFrame, String, String) => Unit): Append = Some(f)
    val families: Seq[(String, String => Unit, (String, String) => Unit, Append)] = Seq(
      ("sq8",
        p => Sink.writeSq8Index(spark, Similarity.collectCorpusSq8(base, "id", "emb"), p),
        (i, o) => Sink.writeSq8Index(spark, Source.readSq8Index(spark, i), o),
        app((df, i, o) => Sink.appendSq8Index(spark, df, "id", "emb", i, o))),
      ("bq",
        p => Sink.writeBqIndex(spark, Similarity.collectCorpusBq(base, "id", "emb"), p),
        (i, o) => Sink.writeBqIndex(spark, Source.readBqIndex(spark, i), o),
        app((df, i, o) => Sink.appendBqIndex(spark, df, "id", "emb", i, o))),
      ("pq",
        p => Sink.writePqIndex(spark, Similarity.collectCorpusPq(base, "id", "emb", 8), p),
        (i, o) => Sink.writePqIndex(spark, Source.readPqIndex(spark, i), o),
        app((df, i, o) => Sink.appendPqIndex(spark, df, "id", "emb", i, o))),
      ("pq_lean",
        p => Sink.writePqIndex(spark,
          Similarity.collectCorpusPq(base, "id", "emb", 8, withRerank = false), p),
        (i, o) => Sink.writePqIndex(spark, Source.readPqIndex(spark, i), o),
        app((df, i, o) => Sink.appendPqIndex(spark, df, "id", "emb", i, o))),
      ("opq",
        p => Sink.writeOpqIndex(spark, Similarity.collectCorpusOpq(base, "id", "emb", 8), p),
        (i, o) => Sink.writeOpqIndex(spark, Source.readOpqIndex(spark, i), o),
        app((df, i, o) => Sink.appendOpqIndex(spark, df, "id", "emb", i, o))),
      ("ivfbq",
        p => Sink.writeIvfBqIndex(spark,
          Similarity.quantizeIvfBq(Similarity.collectCorpus(base, "id", "emb"), 4), p),
        (i, o) => Sink.writeIvfBqIndex(spark, Source.readIvfBqIndex(spark, i), o),
        None),
      ("ivfpq",
        p => Sink.writeIvfPqIndex(spark, Similarity.quantizeIvfPq(
          Similarity.collectCorpus(base, "id", "emb"), 4, 8, trainSample = 256), p),
        (i, o) => Sink.writeIvfPqIndex(spark, Source.readIvfPqIndex(spark, i), o),
        None))

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
    families.foreach { case (fam, write, rewrite, append) =>
      val d = s"$work/$fam"
      write(s"$d/w"); record(fam, "write", s"$d/w")
      rewrite(s"$d/w", s"$d/r"); record(fam, "rewrite", s"$d/r")
      append.foreach { f =>
        f(more, s"$d/w", s"$d/a"); record(fam, "append", s"$d/a")
        f(more2, s"$d/a", s"$d/aa"); record(fam, "append_onto_append", s"$d/aa")
      }
    }
    val pw = new java.io.PrintWriter(out)
    pw.println(entries.mkString("[\n", ",\n", "\n]"))
    pw.close()
    spark.stop()
  }
}
