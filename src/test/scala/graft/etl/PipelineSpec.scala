package graft.etl

import java.nio.file.Files

import graft.SparkSpec
import graft.model.RawProduct

/** End-to-end orchestration parity with `/root/reference/main.py:26-109`
  * and the sink-skip semantics of `utils/load.py:269-324`. */
class PipelineSpec extends SparkSpec {

  private def rawFixture = {
    import spark.implicits._
    Seq(
      RawProduct("Test Product", "$99.99", "4.5 / 5", "3 Colors", "Size: M", "Gender: Unisex", "2023-10-01"),
      RawProduct("Unknown Product", "N/A", "N/A", "Unknown Colors", "", "", "2023-10-01")
    ).toDF()
  }

  test("full run: extract → transform → csv sink → summary") {
    val out = Files.createTempDirectory("graft_pipe").resolve("csv").toString
    val plan = Pipeline.planSinks(csvPath = Some(out))
    val outcome = Pipeline.run(rawFixture, plan)
    outcome match {
      case l: Pipeline.Loaded =>
        assert(l.success && l.rows == 1)
        val s = Pipeline.summary(outcome, plan)
        assert(s("csv") == out && s("rows") == "1")
      case other => fail(s"unexpected $other")
    }
    assert(spark.read.option("header", "true").csv(out).count() == 1)
  }

  test("empty extract aborts (main.py:32-34)") {
    import spark.implicits._
    val plan = Pipeline.planSinks(csvPath = Some("/tmp/unused"))
    assert(Pipeline.run(Seq.empty[RawProduct].toDF(), plan) == Pipeline.EmptyExtract)
  }

  test("all-dirty input aborts after transform (main.py:40-42)") {
    import spark.implicits._
    val dirty = Seq(RawProduct("Unknown Product", "N/A", "N/A", "", "", "", "x")).toDF()
    val plan = Pipeline.planSinks(csvPath = Some("/tmp/unused2"))
    assert(Pipeline.run(dirty, plan) == Pipeline.EmptyTransform)
  }

  test("incomplete sink configs are skipped with a notice (load.py:269-314)") {
    val out = Files.createTempDirectory("graft_pipe_skip").resolve("csv").toString
    val plan = Pipeline.planSinks(csvPath = Some(out),
      jdbcUrl = Some("jdbc:x"), jdbcTable = None, sheetsCredentials = Some("creds.json"))
    assert(plan.sinks.map(_.name) == Seq("csv"))
    val s = Pipeline.summary(Pipeline.run(rawFixture, plan), plan)
    assert(s.contains("postgres_skipped") && s.contains("sheets_skipped"))
    assert(s("csv") == out)
  }

  test("run metrics ride the sink write via observe() — no second scan (K5 at scale)") {
    import org.apache.spark.sql.functions._
    // the reference re-counts the frame for its summary (main.py:35/43);
    // at 100 TB the summary must piggyback on the write job itself
    val obs = org.apache.spark.sql.Observation("run_metrics")
    val out = Files.createTempDirectory("graft_obs").resolve("pq").toString
    Transform.transform(rawFixture)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("rating").isNull, 1L).otherwise(0L)).as("n_null_rating"))
      .write.mode("overwrite").parquet(out)
    assert(obs.get("n_rows") == 1L)
    assert(obs.get("n_null_rating") == 0L)
    assert(spark.read.parquet(out).count() == 1)
  }

  test("sheets skip semantics match load.py:296-300: missing creds skips, present creds plans the sink") {
    // no credentials → the reference's 'credentials not provided' notice
    val none = Pipeline.planSinks(csvPath = Some("/tmp/unused3"))
    assert(none.skipped("sheets").contains("credentials path not provided"))
    // credentials + transport → a real sheets sink is planned
    val sheet = new Sheets.Spreadsheet {
      val id = "pipe-sheet"
      val ws = new Sheets.Worksheet {
        def clear(): Unit = ()
        def update(v: Seq[Seq[String]]): Unit = ()
      }
      def worksheet(name: String) = Some(ws)
      def addWorksheet(name: String, rows: Int, cols: Int) = ws
      def share(role: String, permType: String): Unit = ()
    }
    val client = new Sheets.SheetsClient {
      def openByKey(id: String) = Some(sheet)
      def create(title: String) = sheet
    }
    val creds = Files.createTempFile("pipe_creds", ".json").toString
    val plan = Pipeline.planSinks(csvPath = None,
      sheetsCredentials = Some(creds), sheetsClient = Some(client))
    assert(plan.sinks.map(_.name) == Seq("sheets") && plan.skipped.isEmpty)
    val outcome = Pipeline.run(rawFixture, plan)
    assert(Pipeline.summary(outcome, plan)("sheets") == "pipe-sheet")
  }

  test("a three-sink run checks emptiness once: at most 7 Spark jobs, same rows in every sink") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_pipe_jobs").toString
    (1 to 30).map { i =>
      if (i % 4 == 0) RawProduct("Unknown Product", "N/A", "N/A", "", "", "", "2023-10-01")
      else RawProduct(s"Product $i", f"$$${i * 3}%d.99", s"${i % 5}.5 / 5", s"${i % 4} Colors",
        "Size: M", "Gender: Unisex", "2023-10-01")
    }.toDF().repartition(3).write.parquet(s"$root/raw")
    val derby = "jdbc:derby:memory:graftpipejobs;create=true"
    val plan = Pipeline.SinkPlan(Seq(CsvSink(s"$root/csv", singleFile = true),
      ParquetSink(s"$root/pq"), JdbcSink(derby, "PRODUCTS")), Map.empty)
    val raw = spark.read.parquet(s"$root/raw") // its schema read is not the run's
    var outcome: Pipeline.Outcome = null
    val jobs = jobsOf { outcome = Pipeline.run(raw, plan); () }
    val want = Transform.transform(raw).collect().map(_.toString).sorted.toSeq
    outcome match {
      case l: Pipeline.Loaded =>
        assert(l.success, l.results)
        assert(l.rows == want.size.toLong && want.nonEmpty)
      case other => fail(s"unexpected $other")
    }
    assert(jobs <= 7, s"the three-sink run took $jobs Spark jobs")
    val clean = graft.model.Schemas.clean
    Seq(spark.read.option("header", "true").schema(clean).csv(s"$root/csv"),
      spark.read.parquet(s"$root/pq"),
      spark.read.jdbc(derby, "PRODUCTS", new java.util.Properties)).foreach { df =>
      val got = df.select(clean.fieldNames.map(df.col): _*).collect().map(_.toString).sorted.toSeq
      assert(got == want)
    }
  }

  test("loadData fails every sink on an empty frame, as each sink's own guard does") {
    import spark.implicits._
    val empty = Seq.empty[graft.model.Product].toDF()
    val root = Files.createTempDirectory("graft_pipe_empty").toString
    val sinks = Seq(CsvSink(s"$root/csv"), ParquetSink(s"$root/pq"), JdbcSink("jdbc:none", "t"))
    val results = Load.loadData(empty, sinks)
    sinks.foreach { s =>
      val own = intercept[LoadError](s.write(empty)).getMessage
      results(s.name) match {
        case scala.util.Failure(e: LoadError) => assert(e.getMessage == own)
        case other => fail(s"${s.name}: unexpected $other")
      }
    }
    assert(!new java.io.File(s"$root/csv").exists() && !new java.io.File(s"$root/pq").exists())
  }
}
