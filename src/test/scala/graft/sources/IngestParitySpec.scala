package graft.sources

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/**
 * `Ingest.csv` infers the schema of a file Spark reads as one split on
 * the driver instead of running Spark's inference jobs, and leaves longer
 * files, directories and globs to Spark. Each case here reads one path
 * both ways and requires the same schema and the same rows, in file
 * order, as Spark's own `inferSchema=true` read with the same options.
 */
class IngestParitySpec extends SparkTestBase {

  private def sparkInferred(path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .csv(path)

  private def assertParity(path: String): Unit = {
    val ours = Ingest.csv(spark, path)
    val theirs = sparkInferred(path)
    assert(ours.schema == theirs.schema,
      s"\nours:   ${ours.schema.treeString}\nSpark's: ${theirs.schema.treeString}")
    val rows = (d: DataFrame) => d.collect().toSeq.map(_.toString)
    assert(rows(ours) == rows(theirs))
  }

  private def parity(content: String): Unit = {
    val f = Files.createTempFile("graft_parity", ".csv")
    Files.writeString(f, content)
    assertParity(f.toString)
  }

  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  test("committed fixtures: parts and quoted") {
    assertParity(fixture("parts_fixture.csv"))
    assertParity(fixture("quoted_fixture.csv"))
  }

  test("quoted commas, doubled-quote escapes and quoted newlines") {
    parity("id,label\n1,\"a, b\"\n2,\"say \"\"hi\"\"\"\n3,\"\"\n4,\"two\nlines\"\n")
  }

  test("empty cells and ragged rows") {
    parity("a,b,c\n1,,x\n,2,\n3\n4,5,6,7\n")
  }

  test("integer widths: int, long overflow, decimal beyond long") {
    parity("i,l,d\n1,1,1\n2147483647,2147483648,99999999999999999999\n-5,-9,0\n")
  }

  test("NaN, Infinity, exponents and mixed numerics") {
    parity("x,y,z\nNaN,1e3,1\n1.5,2,2.5\nInfinity,-1E-3,3\n")
  }

  test("dates, timestamps, bad dates and booleans") {
    parity("d,t,bad_d,bad_t,b\n" +
      "2024-01-05,2024-01-05 10:00:00,2024-13-45,not a time,true\n" +
      "2024-02-10,2024-02-10T11:30:00,2024-01-05,2024-01-05 25:61:00,FALSE\n")
    parity("mixed\n2024-01-05\n2024-01-05 10:00:00\n")
  }

  test("duplicate, blank and case-twin header names") {
    parity("a,a,,b,B,\n1,2,3,4,5,6\n")
  }

  test("CRLF and CR line endings") {
    parity("a,b\r\n1,x\r\n2,y\r\n")
    parity("a,b\r1,x\r2,y\r")
  }

  test("blank lines before the header, and the header repeated as data") {
    parity("\n   \na,b\n1,2\n\na,b\n3,4\n")
  }

  test("a tab-only first line, and a byte-order mark") {
    parity("\t\na,b\n1,2\n")
    parity("\uFEFFa,b\n1,2\n")
  }

  test("a header-only file and an empty file") {
    parity("a,b,c\n")
    parity("")
  }

  test("a file longer than one split goes through Spark's own inference") {
    // ints for the first splits, a double in the last: Spark infers each
    // split in its own task and merges the per-split types
    val f = Files.createTempFile("graft_parity_split", ".csv")
    Files.writeString(f, "n,s\n" + (1 to 40).map(i => s"$i,x$i\n").mkString + "2.5,y\n")
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "64")
    try {
      assert(Ingest.inferCsvSchema(spark, f.toString).isEmpty)
      assert(sparkInferred(f.toString).rdd.getNumPartitions > 1)
      assertParity(f.toString)
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(Ingest.inferCsvSchema(spark, f.toString).isDefined)
  }

  test("a directory goes through Spark's own inference") {
    val dir = Files.createTempDirectory("graft_parity_dir")
    Files.writeString(dir.resolve("part-0.csv"), "a,b\n1,x\n")
    Files.writeString(dir.resolve("part-1.csv"), "a,b\n2.5,y\n")
    assert(Ingest.inferCsvSchema(spark, dir.toString).isEmpty)
    assertParity(dir.toString)
  }
}
