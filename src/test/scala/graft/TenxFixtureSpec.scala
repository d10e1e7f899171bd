package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.Type
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Kernel
import graft.tools.TenxFixture

/** The Nx fixture generator: an Nx dir must hold the base fixture's tables
  * with the base's column types, so Nx runs read what 1x runs read.
  */
class TenxFixtureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The parquet columns of a table: the footer schema of its file, or of
    * the first data file of its directory.
    */
  private def parquetColumns(table: String): Seq[Type] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(table)
    val fs = p.getFileSystem(conf)
    val file = if (!fs.getFileStatus(p).isDirectory) p
      else fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .minBy(_.getName)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try scala.jdk.CollectionConverters.ListHasAsScala(
      reader.getFileMetaData.getSchema.getFields).asScala.toSeq
    finally reader.close()
  }

  test("a 2-copy fixture keeps every table's base schema, parquet types " +
    "included") {
    val out = java.nio.file.Files.createTempDirectory("graft_tenx").toString
    TenxFixture.write(spark, TestSpark.SfDir, out, 2)
    for (t <- TenxFixture.Tables ++ TenxFixture.Unscaled) {
      val base = s"${TestSpark.SfDir}/$t.parquet"
      val nx = s"$out/$t.parquet"
      assert(parquetColumns(nx) === parquetColumns(base), t)
      // as the registry reads them (Spark reads back the timestamp_ntz its
      // own footer records; Kernel.table reads both as TIMESTAMP)
      val (nxDf, baseDf) = (Kernel.table(spark, out, t),
        Kernel.table(spark, TestSpark.SfDir, t))
      assert(nxDf.schema === baseDf.schema, t)
      val scale = if (TenxFixture.Tables.contains(t)) 2 else 1
      assert(nxDf.count() === scale * baseDf.count(), t)
    }
  }

  test("the copy count must be a positive integer, and the error names it") {
    // every bad value throws before a session starts
    for (bad <- Seq("0", "-1", "x")) {
      val e = intercept[IllegalArgumentException](
        TenxFixture.main(Array("/nonexistent/tenx", bad)))
      assert(e.getMessage.contains("TenxFixture copies"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
    intercept[IllegalArgumentException](
      TenxFixture.write(spark, TestSpark.SfDir, "/nonexistent/tenx", 0))
  }
}
