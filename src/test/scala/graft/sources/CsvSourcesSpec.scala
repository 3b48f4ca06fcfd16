package graft.sources

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.{AnalysisException, DataFrame}
import graft.SparkSpec

/** S1/S2 source coverage: gz CSVs read transparently (the reference's
  * separate decompress job is unnecessary as an operator), and the
  * post-read fan-out for non-splittable inputs.
  *
  * Parity: the all-string reads resolve their header on the driver; for
  * every path shape below their schema and rows must equal what Spark's
  * own schema inference gives, and resolving them must start no job.
  */
class CsvSourcesSpec extends SparkSpec {

  private def write(dir: String, name: String, body: String): String = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, body).toString
  }

  private def writeGz(dir: String, name: String, body: String): String = {
    val p = Paths.get(dir, name)
    val out = new GZIPOutputStream(Files.newOutputStream(p))
    try out.write(body.getBytes("UTF-8")) finally out.close()
    p.toString
  }

  private def inferred(path: String, sep: String): DataFrame =
    spark.read.format("csv").option("header", "true").option("sep", sep).load(path)

  private def read(path: String, sep: String): DataFrame =
    if (sep == "|") CsvSources.pipe(spark, path) else CsvSources.commaAllString(spark, path)

  private def rows(df: DataFrame) = df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("\u0001")).toSeq

  /** `path` read through `CsvSources` equals Spark's inference in schema
    * and rows, and the call starts no job. Returns the read frame. */
  private def assertParity(path: String, sep: String = ","): DataFrame = {
    val (df, jobs) = jobsDuring(read(path, sep))
    assert(jobs === 0, "resolving the header started a Spark job")
    val expected = inferred(path, sep)
    assert(df.schema === expected.schema)
    assert(rows(df) === rows(expected))
    df
  }

  test("gz csv reads transparently with all-string schema (S2)") {
    withTempDir("gzsrc") { dir =>
      val gz = writeGz(dir, "input.csv.gz", "co_nbr,supc,prc_zone\n019,123,5\n020,456,4\n")

      val df = CsvSources.commaAllString(spark, gz)
      assert(df.columns.toSeq === Seq("co_nbr", "supc", "prc_zone"))
      assert(df.schema.fields.forall(_.dataType.typeName === "string"))
      assert(df.count() === 2)
      // gz is non-splittable: single input partition
      assert(df.rdd.getNumPartitions === 1)
    }
  }

  test("repartitionAfterRead fans a single-partition source out") {
    withTempDir("gzsrc2") { dir =>
      val gz = writeGz(dir, "input.csv.gz", "x,y\n" + (1 to 100).map(i => s"$i,${i * 2}").mkString("\n"))
      val df = CsvSources.repartitionAfterRead(CsvSources.commaAllString(spark, gz), 4)
      assert(df.rdd.getNumPartitions === 4)
      assert(df.count() === 100)
    }
  }

  test("corrupt-record capture keeps malformed lines instead of failing") {
    withTempDir("corrupt") { dir =>
      val p = write(dir, "in.csv",
        "co_nbr,supc,prc_zone\n019,123,5\n\"unterminated,quote,5\n020,456,4\n")
      val df = CsvSources.commaWithCorruptCapture(
        spark, p, Seq("co_nbr", "supc", "prc_zone")).cache()
      val bad = df.filter(df("_corrupt_record").isNotNull)
      val good = df.filter(df("_corrupt_record").isNull)
      assert(bad.count() === 1)
      assert(good.count() === 2)
      assert(bad.head().getAs[String]("_corrupt_record").contains("unterminated"))
      df.unpersist()
    }
  }

  test("singleFilePerGroup write yields exactly one csv per partition dir") {
    import spark.implicits._
    val df = Seq(("019", "a"), ("019", "b"), ("020", "c"))
      .toDF("opco_id", "v").repartition(4)
    withTempDir("onefile") { out =>
      graft.sinks.PartitionedCsvSink.write(df, out, Seq("opco_id"), singleFilePerGroup = true)
      Seq("opco_id=019", "opco_id=020").foreach { d =>
        val files = new java.io.File(s"$out/$d").listFiles().filter(_.getName.endsWith(".csv"))
        assert(files.length === 1, d)
      }
    }
  }

  test("pipe csv honors separator and header (S3)") {
    withTempDir("pipesrc") { dir =>
      val p = write(dir, "pa.csv", "A|B\n1|x\n2|y\n")
      val df = CsvSources.pipe(spark, p)
      assert(df.columns.toSeq === Seq("A", "B"))
      assert(df.count() === 2)
    }
  }

  test("header parity: a plain file") {
    withTempDir("hdr_plain") { dir =>
      val df = assertParity(write(dir, "in.csv", "co_nbr,supc,prc_zone\n019,123,5\n020,456,4\n"))
      assert(df.columns.toSeq === Seq("co_nbr", "supc", "prc_zone"))
    }
  }

  test("header parity: a gz file") {
    withTempDir("hdr_gz") { dir =>
      assertParity(writeGz(dir, "in.csv.gz", "a,b\n1,2\n3,4\n"))
    }
  }

  test("header parity: part files of different sizes take the largest file's header") {
    withTempDir("hdr_parts") { dir =>
      write(dir, "part-0.csv", "x,y\n1,2\n")
      write(dir, "part-1.csv", "a,b\n1,2\n3,4\n5,6\n")
      write(dir, "part-2.csv", "")
      val df = assertParity(dir)
      assert(df.columns.toSeq === Seq("a", "b"))
    }
  }

  test("header parity: a partitioned root keeps type-inferred partition columns") {
    withTempDir("hdr_part_root") { dir =>
      write(dir, "opco_id=019/part-0.csv", "supc,price_zone\n123,5\n")
      write(dir, "opco_id=020/part-0.csv", "supc,price_zone\n456,4\n789,3\n")
      write(dir, "opco_id=020/_SUCCESS", "")
      // hidden names are not data: a larger file with another header must not win
      write(dir, "_staging/part-0.csv", "h1,h2\n" + "1,2\n" * 10)
      write(dir, "opco_id=019/.part-0.csv.crc", "crc1,crc2\n" + "1,2\n" * 10)
      val df = assertParity(dir)
      assert(df.columns.toSeq === Seq("supc", "price_zone", "opco_id"))
      assert(df.schema("opco_id").dataType.typeName === "integer")
    }
  }

  test("header parity: nested partition directories") {
    withTempDir("hdr_nested") { dir =>
      write(dir, "cluster=01/batch_id=0/opco_id=018/part-0.csv", "supc,price\n1,2\n")
      write(dir, "cluster=02/batch_id=1/opco_id=019/part-0.csv", "supc,price\n3,4\n5,6\n")
      val df = assertParity(dir)
      assert(df.columns.toSeq === Seq("supc", "price", "cluster", "batch_id", "opco_id"))
    }
  }

  test("header parity: a header column that is also a partition column keeps its place") {
    withTempDir("hdr_overlap") { dir =>
      write(dir, "opco_id=019/part-0.csv", "supc,opco_id,price\n123,777,5\n")
      write(dir, "opco_id=020/part-0.csv", "supc,opco_id,price\n456,888,4\n789,999,3\n")
      val df = assertParity(dir)
      assert(df.columns.toSeq === Seq("supc", "opco_id", "price"))
      assert(df.filter("supc = '123'").head().toSeq === Seq("123", 19, "5"))
    }
  }

  test("header parity: duplicate and empty names are made unique") {
    withTempDir("hdr_dup") { dir =>
      val df = assertParity(write(dir, "in.csv", "a,A,,b,a\n1,2,3,4,5\n"))
      assert(df.columns.toSeq === Seq("a0", "A1", "_c2", "b", "a4"))
    }
  }

  test("header parity: a quoted header field holding the separator") {
    withTempDir("hdr_quoted") { dir =>
      val df = assertParity(write(dir, "in.csv", "\"a,b\",c\n\"1,2\",3\n"))
      assert(df.columns.toSeq === Seq("a,b", "c"))
    }
  }

  test("header parity: leading empty lines are skipped") {
    withTempDir("hdr_blank") { dir =>
      val df = assertParity(write(dir, "in.csv", "\n\n   \na,b\n1,2\n"))
      assert(df.columns.toSeq === Seq("a", "b"))
    }
  }

  test("header parity: a header-only file") {
    withTempDir("hdr_only") { dir =>
      val df = assertParity(write(dir, "in.csv", "a,b\n"))
      assert(df.columns.toSeq === Seq("a", "b"))
      assert(df.count() === 0)
    }
  }

  test("header parity: an empty file and a file of blank lines have no columns") {
    withTempDir("hdr_empty") { dir =>
      assert(assertParity(write(dir, "empty.csv", "")).columns.isEmpty)
      assert(assertParity(write(dir, "blank.csv", "\n \n")).columns.isEmpty)
    }
  }

  test("header parity: a directory with no data files fails as inference does") {
    withTempDir("hdr_nodata") { dir =>
      write(dir, "_SUCCESS", "")
      write(dir, ".hidden.csv", "a,b\n1,2\n")
      val (ours, jobs) = jobsDuring(intercept[AnalysisException](CsvSources.commaAllString(spark, dir)))
      val theirs = intercept[AnalysisException](inferred(dir, ","))
      assert(jobs === 0)
      assert(ours.getCondition === "UNABLE_TO_INFER_SCHEMA")
      assert(ours.getCondition === theirs.getCondition && ours.getMessage === theirs.getMessage)
      val missing = s"$dir/absent"
      assert(intercept[AnalysisException](CsvSources.commaAllString(spark, missing)).getCondition ===
        intercept[AnalysisException](inferred(missing, ",")).getCondition)
    }
  }

  test("header parity: a glob path") {
    withTempDir("hdr_glob") { dir =>
      write(dir, "a/in_1.csv", "a,b\n1,2\n")
      write(dir, "b/in_2.csv", "a,b\n3,4\n5,6\n")
      write(dir, "b/other.txt", "z\n")
      val df = assertParity(s"$dir/*/in_*.csv")
      assert(df.count() === 3)
    }
  }

  test("header parity: the pipe separator") {
    withTempDir("hdr_pipe") { dir =>
      val df = assertParity(write(dir, "pa.csv", "ITEM_ID|PRICE_ZONE_ID\n9002908|018-5\n"), sep = "|")
      assert(df.columns.toSeq === Seq("ITEM_ID", "PRICE_ZONE_ID"))
    }
  }
}
