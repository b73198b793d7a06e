package graft.search

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.GraftSql
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.encoders.PassthroughEncoder
import graft.text.{BpeModel, BpeTokenizer}
import graft.whitening.VecsWhiteningModel

/** What a save leaves on disk.
  *
  *  - Every metadata table shape, written on the driver, is the directory
  *    the Spark writer left before (`toDF(…).coalesce(1).write.parquet`):
  *    one part file of the same parquet schema and Spark row metadata plus
  *    `_SUCCESS`, which `spark.read.parquet` reads as the same schema and
  *    rows. The driver reader returns those rows from either writer's
  *    files, and from files written in Spark's legacy parquet format.
  *  - A saved items file's vector chunk is PLAIN, with no dictionary page.
  */
class SaveFormatSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString

  private val rnd = new scala.util.Random(11)
  private def floats(n: Int) = Array.fill(n)(rnd.nextGaussian().toFloat)
  private val cents = Array.fill(5)(floats(6))
  private val books = Array.fill(2)(Array.fill(3)(floats(4)))
  private val (vmin, vdiff) = (floats(7), floats(7))
  private val kernel = Array.fill(6)(Array.fill(3)(rnd.nextGaussian()))
  private val bias = Array.fill(6)(rnd.nextGaussian())
  private val bpe = BpeModel(Vector("t" -> "h", "th" -> "e", "é" -> " x"), Some(Set("t", "h", "e", "é", " ", "x")))

  private val intFloats = MetaDir.schema("centroid_id" -> IntegerType, "centroid" -> MetaDir.floats)
  private val doubles = ArrayType(DoubleType, containsNull = false)

  /** One table: the directory it sits in under a save root, its schema,
    * the old Spark-written frame, and the driver write under a root. */
  private case class Table(sub: String, schema: StructType, old: () => DataFrame, write: String => Unit)

  private val tables = Seq(
    Table("centroids", intFloats,
      () => cents.indices.map(i => (i, cents(i).toSeq)).toDF("centroid_id", "centroid"),
      root => new MetaDir(spark, root).writeRows("centroids", ("centroid_id", "centroid"), cents)),
    Table("pq_codebooks", MetaDir.schema("sub" -> IntegerType, "cid" -> IntegerType, "centroid" -> MetaDir.floats),
      () => (for (i <- books.indices; j <- books(i).indices) yield (i, j, books(i)(j).toSeq))
        .toDF("sub", "cid", "centroid"),
      root => new MetaDir(spark, root).writeNested("pq_codebooks", ("sub", "cid", "centroid"), books)),
    Table("sq_bounds", MetaDir.schema("i" -> IntegerType, "vmin" -> FloatType, "vdiff" -> FloatType),
      () => vmin.indices.map(i => (i, vmin(i), vdiff(i))).toDF("i", "vmin", "vdiff"),
      root => SqCodes(8, vmin, vdiff).save(new MetaDir(spark, root))),
    Table("kernel", MetaDir.schema("row" -> IntegerType, "kernel_row" -> doubles),
      () => kernel.zipWithIndex.map { case (r, i) => (i, r.toSeq) }.toSeq.toDF("row", "kernel_row"),
      root => new VecsWhiteningModel(kernel, bias, 3, 6).save(spark, root)),
    Table("meta", MetaDir.schema("bias" -> doubles, "n_components" -> IntegerType, "origin_dim" -> IntegerType),
      () => Seq((bias.toSeq, 3, 6)).toDF("bias", "n_components", "origin_dim"),
      root => new VecsWhiteningModel(kernel, bias, 3, 6).save(spark, root)),
    Table("merges", MetaDir.schema("ord" -> IntegerType, "left" -> StringType, "right" -> StringType),
      () => bpe.merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("ord", "left", "right"),
      root => BpeTokenizer.save(bpe, root)),
    Table("alphabet", MetaDir.schema("sym" -> StringType),
      () => bpe.alphabet.get.toSeq.sorted.toDF("sym"),
      root => BpeTokenizer.save(bpe, root)),
    Table("empty", intFloats,
      () => Seq.empty[(Int, Seq[Float])].toDF("centroid_id", "centroid"),
      root => new MetaDir(spark, root).writeRows("empty", ("centroid_id", "centroid"), Array.empty)))

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** The rows the driver reader returns, as `Row`s. */
  private def driverRows(dir: String, schema: StructType): Seq[Row] =
    GraftSql.localRelation(spark, GraftSql.readParquet(spark, dir, schema).toSeq, schema).collect().toSeq

  private def partFile(dir: String): Path = {
    val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(parts.length == 1, s"$dir holds ${parts.mkString(", ")}")
    new Path(dir, parts.head)
  }

  private def footer(file: Path) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  for (t <- tables) test(s"a driver-written '${t.sub}' table is the table the Spark writer left") {
    val (oldRoot, legacyRoot, newRoot) = (tmp("graft-meta-old"), tmp("graft-meta-legacy"), tmp("graft-meta-new"))
    t.old().coalesce(1).write.mode("overwrite").parquet(s"$oldRoot/${t.sub}")
    spark.conf.set("spark.sql.parquet.writeLegacyFormat", "true")
    try t.old().coalesce(1).write.mode("overwrite").parquet(s"$legacyRoot/${t.sub}")
    finally spark.conf.unset("spark.sql.parquet.writeLegacyFormat")
    t.write(newRoot)
    val (oldDir, newDir) = (s"$oldRoot/${t.sub}", s"$newRoot/${t.sub}")

    // the same files: one part file of the same parquet schema, Spark row
    // metadata and extension, plus _SUCCESS
    assert(new java.io.File(s"$newDir/_SUCCESS").isFile)
    val (oldPart, newPart) = (partFile(oldDir), partFile(newDir))
    assert(newPart.getName.substring(newPart.getName.indexOf('.')) ==
      oldPart.getName.substring(oldPart.getName.indexOf('.')))
    val (oldMeta, newMeta) = (footer(oldPart).getFileMetaData, footer(newPart).getFileMetaData)
    assert(newMeta.getSchema == oldMeta.getSchema)
    val rowMeta = "org.apache.spark.sql.parquet.row.metadata"
    assert(newMeta.getKeyValueMetaData.get(rowMeta) == oldMeta.getKeyValueMetaData.get(rowMeta))

    // Spark reads both as the same schema and rows
    val (oldRead, newRead) = (spark.read.parquet(oldDir), spark.read.parquet(newDir))
    assert(newRead.schema == oldRead.schema)
    val expected = sorted(oldRead.collect().toSeq)
    assert(sorted(newRead.collect().toSeq) == expected)
    assert(t.sub != "empty" || expected.isEmpty)

    // the driver reader reads the same rows from every writer's files
    for (dir <- Seq(oldDir, newDir, s"$legacyRoot/${t.sub}"))
      assert(sorted(driverRows(dir, t.schema)) == expected, dir)
  }

  test("the driver-read models equal what was saved, from either writer") {
    val oldRoot = tmp("graft-meta-models")
    tables.foreach(t => t.old().coalesce(1).write.mode("overwrite").parquet(s"$oldRoot/${t.sub}"))
    for (root <- Seq(oldRoot, { val r = tmp("graft-meta-models-new"); tables.foreach(_.write(r)); r })) {
      val meta = new MetaDir(spark, root)
      assert(meta.readRows("centroids", ("centroid_id", "centroid")).map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
      assert(meta.readNested("pq_codebooks", ("sub", "cid", "centroid")).map(_.map(_.toSeq).toSeq).toSeq ==
        books.map(_.map(_.toSeq).toSeq).toSeq)
      val sq = SqCodes(8).load(meta).asInstanceOf[SqCodes]
      assert(sq.vmin.toSeq == vmin.toSeq && sq.vdiff.toSeq == vdiff.toSeq)
      val pca = VecsWhiteningModel.load(spark, root, Some(3))
      assert(pca.kernel.map(_.toSeq).toSeq == kernel.map(_.toSeq).toSeq && pca.bias.toSeq == bias.toSeq)
      assert(pca.originDim == 6)
      assert(BpeTokenizer.load(root) == bpe)
      assert(meta.readRows("empty", ("centroid_id", "centroid")).isEmpty)
    }
  }

  test("an empty BPE alphabet table loads as None") {
    val dir = tmp("graft-bpe-none")
    val bare = BpeModel(Vector("a" -> "b"), None)
    BpeTokenizer.save(bare, dir)
    assert(spark.read.parquet(s"$dir/alphabet").count() == 0)
    assert(BpeTokenizer.load(dir) == bare)
  }

  test("a saved items file's vector chunk is PLAIN, with no dictionary page") {
    // elements of two values, where a dictionary would pay: the column
    // setting, not the data, keeps the chunk PLAIN
    val signs = new scala.util.Random(3)
    val emb = spark.createDataFrame(java.util.Arrays.asList((0 until 400).map(i =>
      Row(i.toLong, Seq.fill(16)(if (signs.nextBoolean()) 1f else -1f))): _*), StructType(Seq(
      StructField("vec_id", LongType, nullable = false), StructField("embedding", MetaDir.floats))))
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"), measurement = "l2",
        indexParam = "IVF8")).fit(emb)
    val dir = tmp("graft-items-dict")
    try model.save(dir) finally model.unpersist()
    val parts = new java.io.File(s"$dir/items").listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty)
    val chunks = parts.toSeq.flatMap { f =>
      import scala.jdk.CollectionConverters._
      footer(new Path(f.getPath)).getBlocks.asScala.flatMap(_.getColumns.asScala)
    }
    def chunksOf(path: String) = chunks.filter(_.getPath.toDotString == path)
    val vec = chunksOf(s"${SparkSearcher.VEC}.list.element")
    assert(vec.nonEmpty)
    vec.foreach { c =>
      assert(!c.hasDictionaryPage, c)
      assert(!c.getEncodings.contains(Encoding.PLAIN_DICTIONARY) &&
        !c.getEncodings.contains(Encoding.RLE_DICTIONARY), c.getEncodings)
    }
    // the option names one column: the cell id still gets its dictionary
    assert(chunksOf(IvfIndex.CID).exists(_.hasDictionaryPage))
    // and the saved vectors read back as fitted
    val back = spark.read.parquet(s"$dir/items").select(col(SparkSearcher.ROW_ID), col(SparkSearcher.VEC))
    val src = emb.select(col("vec_id"), col("embedding")).collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    back.collect().foreach(r => assert(r.getSeq[Float](1) == src(r.getLong(0))))
  }
}
