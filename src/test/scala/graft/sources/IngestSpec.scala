package graft.sources

import graft.SparkTestBase
import java.nio.file.Files

class IngestSpec extends SparkTestBase {

  private def writeCsv(content: String): String = {
    val f = Files.createTempFile("graft_ingest", ".csv")
    Files.writeString(f, content)
    f.toString
  }

  test("parquetMerged: schema union across shards, NULLs for missing columns") {
    import org.apache.spark.sql.Row
    val base = Files.createTempDirectory("graft_merge_spec").toString
    df("id BIGINT, a STRING", Seq(Row(1L, "x"), Row(2L, "y")))
      .write.parquet(s"$base/early")
    df("id BIGINT, a STRING, b BIGINT", Seq(Row(3L, "z", 30L)))
      .write.parquet(s"$base/late")
    val merged = Ingest.parquetMerged(spark, Seq(s"$base/early", s"$base/late"))
      .select("id", "a", "b")
    assert(merged.columns.toSeq == Seq("id", "a", "b"))
    assertSameRows(merged, Seq(
      Seq(1L, "x", null), Seq(2L, "y", null), Seq(3L, "z", 30L)))
  }

  test("primary CSV path infers schema like read_csv_auto") {
    val p = writeCsv("id,name,amount\n1,Alice,10.5\n2,Bob,20.0\n")
    val df = Ingest.csv(spark, p)
    assert(df.schema.map(_.dataType.typeName).toSeq == Seq("integer", "string", "double"))
    assert(df.count() == 2)
  }

  test("fallback path is all-string and capped at 10k rows") {
    val rows = (1 to 12000).map(i => s"$i,x$i").mkString("\n")
    val p = writeCsv("id,name\n" + rows)
    val df = Ingest.csvFallback(spark, p)
    assert(df.schema.forall(_.dataType.typeName == "string"))
    assert(df.count() == 10000)
  }

  test("loadCsvTable registers under the reference's table_<stem> name") {
    val p = writeCsv("a\n1\n")
    val dir = Files.createTempDirectory("graft")
    val renamed = dir.resolve("My Data-File.csv")
    Files.move(java.nio.file.Path.of(p), renamed)
    val (name, _) = Ingest.loadCsvTable(spark, renamed.toString)
    assert(name == "table_My_Data_File")
    assert(spark.sql(s"SELECT * FROM $name").count() == 1)
  }

  // ---- upload lifecycle: the upload is a cached copy, as the
  // reference's CREATE TABLE is

  /** Jobs `body` launches, counted by a listener. The body runs in its
    * own job group; a marker job after it flushes the listener queue,
    * which delivers events in order. */
  private def jobsLaunchedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft_ingest_probe_${System.nanoTime()}"
    val marker = s"${group}_end"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("loadCsvTable launches no job; Spark's own inference launches some") {
    val p = writeCsv("a,b\n1,x\n2,y\n")
    assert(jobsLaunchedBy(Ingest.loadCsvTable(spark, p)) == 0)
    assert(jobsLaunchedBy(spark.read.option("header", "true")
      .option("inferSchema", "true").csv(p)) > 0)
  }

  test("re-uploading changed rows at the same path shows the new rows") {
    val p = writeCsv("a,b\n1,x\n2,y\n")
    val (name, first) = Ingest.loadCsvTable(spark, p)
    assertSameRows(first, Seq(Seq(1, "x"), Seq(2, "y")))
    Files.writeString(java.nio.file.Path.of(p), "a,b\n3,z\n4,w\n5,v\n")
    val (_, second) = Ingest.loadCsvTable(spark, p)
    assertSameRows(second, Seq(Seq(3, "z"), Seq(4, "w"), Seq(5, "v")))
    assertSameRows(spark.table(name), Seq(Seq(3, "z"), Seq(4, "w"), Seq(5, "v")))
  }

  test("after the upload's preview, clicks read the copy, not the file") {
    import graft.model.{FilterCondition, FilterStage}
    import graft.pipeline.PipelineExecutor
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val p = writeCsv("a,b\n1,x\n2,y\n3,z\n")
    val (name, upload) = Ingest.loadCsvTable(spark, p)
    val ex = new PipelineExecutor(spark).register(name, upload)
    assert(ex.preview(name).length == 3)
    // the user's file changes on disk after the upload
    Files.writeString(java.nio.file.Path.of(p), "a,b\n9,q\n")
    val click = ex.run(Seq(FilterStage("stage_1", "a > 1", Some(name),
      Seq(FilterCondition("a", ">", 1)))))
    assertSameRows(click, Seq(Seq(2, "y"), Seq(3, "z")))
    val plan = click.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    assert(helper.collect(plan) { case s: FileSourceScanExec => s }.isEmpty, plan)
    assert(helper.collect(plan) { case s: InMemoryTableScanExec => s }.nonEmpty, plan)
  }

  test("an upload's copy lives as long as its table name") {
    import org.apache.spark.storage.StorageLevel
    def upload(content: String): (String, org.apache.spark.sql.DataFrame) = {
      val dir = Files.createTempDirectory("graft_ingest_life")
      val p = dir.resolve("orders.csv")
      Files.writeString(p, content)
      val (name, df) = Ingest.loadCsvTable(spark, p.toString)
      df.count()
      (name, df)
    }
    val (name, first) = upload("a\n1\n")
    assert(first.storageLevel != StorageLevel.NONE)
    val (again, second) = upload("a\n2\n3\n")
    assert(again == name)
    assert(first.storageLevel == StorageLevel.NONE)
    assert(second.storageLevel != StorageLevel.NONE)
    spark.catalog.dropTempView(name)
    assert(second.storageLevel == StorageLevel.NONE)
  }

  test("image payload: lowercased columns, VARCHAR default, NULL literals") {
    val df = Ingest.fromImagePayload(spark,
      Seq(Ingest.ImageColumn("Product_ID", "INTEGER"),
        Ingest.ImageColumn("Price", "DOUBLE"),
        Ingest.ImageColumn("Label")),
      Seq(Seq("1", "9.99", "widget"), Seq("2", "NULL", "gadget"), Seq("x", "1.0", null)))
    assert(df.columns.toSeq == Seq("product_id", "price", "label"))
    val rows = df.collect()
    assert(rows(1).isNullAt(1))          // literal "NULL" cell
    assert(rows(2).isNullAt(0))          // unparseable int → NULL
    assert(df.schema("product_id").dataType.typeName == "integer")
  }

  test("image payload: every declarable type round-trips through castCell") {
    // ADVICE r1: sparkType declared SMALLINT/TINYINT/FLOAT/TIMESTAMP/
    // DECIMAL/BLOB but castCell left them as raw Strings → CCE at action.
    val df = Ingest.fromImagePayload(spark,
      Seq(Ingest.ImageColumn("s", "SMALLINT"), Ingest.ImageColumn("b", "TINYINT"),
        Ingest.ImageColumn("f", "FLOAT"), Ingest.ImageColumn("ts", "TIMESTAMP"),
        Ingest.ImageColumn("d", "DECIMAL(10,2)"), Ingest.ImageColumn("bin", "BLOB"),
        Ingest.ImageColumn("dt", "DATE"), Ingest.ImageColumn("ok", "BOOLEAN")),
      Seq(Seq("12", "3", "1.5", "2024-01-02T03:04:05", "12.345", "bytes", "2024-06-01", "true"),
        Seq("oops", "999", "x", "not a time", "NaN?", null, "junk", "maybe")))
    val r = df.collect()
    assert(r(0).getShort(0) == 12.toShort)
    assert(r(0).getByte(1) == 3.toByte)
    assert(r(0).getFloat(2) == 1.5f)
    assert(r(0).getTimestamp(3) == java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))
    assert(r(0).getDecimal(4).doubleValue() == 12.35) // scale-2 HALF_UP
    assert(new String(r(0).getAs[Array[Byte]](5), "UTF-8") == "bytes")
    assert(r(0).getDate(6) == java.sql.Date.valueOf("2024-06-01"))
    assert(r(0).getBoolean(7))
    // unparseable cells become NULL, like a failed INSERT cast
    (0 until 8).foreach(i => assert(r(1).isNullAt(i), s"col $i should be null"))
  }

  test("CSV fixture: Spark inference parity with read_csv_auto (values; widths normalized)") {
    val f = "/root/repo/src/test/resources/fixtures/parts_fixture.csv"
    val df = Ingest.csv(spark, f)
    // Pin Spark's inferred types: ints narrow (vs DuckDB's BIGINT — width
    // normalized at the oracle gate per SURVEY §7.3), doubles and strings
    // agree outright.
    assert(df.schema("id").dataType.typeName == "integer")
    assert(df.schema("price").dataType.typeName == "double")
    assert(df.schema("name").dataType.typeName == "string")
    assert(df.count() == 200)
    val r = df.orderBy("id").head()
    assert(r.getInt(0) == 0 && r.getString(1) == "cold widget" && r.getDouble(3) == 900.0)
  }

  test("JSONL fixture: inference, sparse fields, nested struct/array, escaped newlines") {
    val f = "/root/repo/src/test/resources/fixtures/docs_fixture.jsonl"
    val df = Ingest.jsonl(spark, f)
    // inference parity surface with read_json_auto: BIGINT/DOUBLE/BOOLEAN/
    // VARCHAR/struct/array agree; dates stay strings on the Spark side
    // (cast at the consuming projection — pinned by the q_load_jsonl gate)
    assert(df.schema("id").dataType.typeName == "long")
    assert(df.schema("score").dataType.typeName == "double")
    assert(df.schema("flag").dataType.typeName == "boolean")
    assert(df.schema("created").dataType.typeName == "string")
    assert(df.schema("meta").dataType.typeName == "struct")
    assert(df.schema("tags").dataType.typeName == "array")
    assert(df.count() == 25)
    val byId = df.orderBy("id").collect()
    // sparse field (flag missing on every 3rd line) → NULL
    assert(byId(2).isNullAt(byId(2).fieldIndex("flag")))
    // JSON-escaped newline survives into the value (what CSV can't carry)
    assert(byId(7).getAs[String]("title") == "multi\nline 8")
    // dot-access through a NULL struct yields NULL, not an error
    val meta11 = df.where("id = 11").selectExpr("meta.tokens").head()
    assert(meta11.isNullAt(0))
  }

  test("loadJsonlTable registers under the table_<stem> naming rule") {
    val f = "/root/repo/src/test/resources/fixtures/docs_fixture.jsonl"
    val (name, _) = Ingest.loadJsonlTable(spark, f)
    assert(name == "table_docs_fixture")
    assert(spark.sql(s"SELECT count(*) FROM $name").head().getLong(0) == 25L)
  }

  test("duck type names map to Spark types") {
    import org.apache.spark.sql.types._
    assert(Ingest.sparkType("VARCHAR") == StringType)
    assert(Ingest.sparkType("decimal(10,2)") == DecimalType(10, 2))
    assert(Ingest.sparkType("DECIMAL") == DecimalType(38, 18))
    assert(Ingest.sparkType("BIGINT") == LongType)
    assert(Ingest.sparkType("whatever") == StringType)
  }

  test("loadDir registers the testdata star schema") {
    val tables = Ingest.loadDir(spark, "/root/testdata/sf0.001")
    assert(tables.keySet.contains("lineitem"))
    assert(spark.sql("SELECT count(*) FROM lineitem").head().getLong(0) == 6000L)
  }
}
