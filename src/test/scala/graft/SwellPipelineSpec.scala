package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.model.{Location, Schemas}
import graft.pipeline.{PlanLint, SwellPipeline}
import graft.ingest.{FixtureFetcher, Ingest}
import java.sql.{Date, Timestamp}

/** Flagship pipeline spec over the FIXTURES.md §2 payload: 3 hourly rows,
  * a swell-height tie on 2026-08-10 broken by latest timestamp.
  */
class SwellPipelineSpec extends SparkSuite {

  val payload: String =
    """{"latitude": 33.1505, "longitude": -117.3483,
      |"timezone": "America/Los_Angeles",
      |"hourly_units": {"time": "iso8601", "wave_height": "m"},
      |"hourly": {
      |  "time": ["2026-08-10T00:00", "2026-08-10T01:00", "2026-08-11T00:00"],
      |  "wave_height":          [1.2, 1.4, 0.9],
      |  "wave_direction":       [270.0, 275.0, 180.0],
      |  "wind_wave_direction":  [260.0, 265.0, 170.0],
      |  "swell_wave_height":    [1.1, 1.1, 0.8],
      |  "swell_wave_direction": [250.0, 255.0, 160.0],
      |  "swell_wave_period":    [14.0, 15.0, 9.0]
      |}}""".stripMargin

  /** Raw rows; a null `loc` needs `nullable` (the raw contract declares
    * location NOT NULL, the stored table does not enforce it).
    */
  def rawDf(rows: Seq[(String, String, String)], nullable: Boolean = false) = {
    val data = rows.map { case (ts, loc, d) =>
      Row(Timestamp.valueOf(ts), loc, d)
    }
    val schema =
      if (nullable) StructType(Schemas.raw.map(_.copy(nullable = true)))
      else Schemas.raw
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }

  def tableDir(table: String): java.io.File =
    new java.io.File(new java.net.URI(spark.sql(s"DESCRIBE FORMATTED $table")
      .where(col("col_name") === "Location").select("data_type")
      .head.getString(0)))

  /** name → (size, mtime) of each data file in one `dt=` partition */
  def partitionFiles(table: String, dt: String): Map[String, (Long, Long)] =
    Option(new java.io.File(tableDir(table), s"dt=$dt").listFiles())
      .toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap

  test("stage explodes 7 parallel arrays into typed hourly rows") {
    val staged = SwellPipeline.stage(
      rawDf(Seq(("2026-08-12 00:00:00", "Tamarack", payload))))
    assert(staged.schema.fieldNames.toSeq ==
      Schemas.staged.fieldNames.toSeq)
    val rows = staged.orderBy("timestamp").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Timestamp]("timestamp") ==
      Timestamp.valueOf("2026-08-10 00:00:00"))
    assert(rows(1).getAs[Double]("wave_height") == 1.4)
    assert(rows(2).getAs[Date]("dt") == Date.valueOf("2026-08-11"))
  }

  test("stage handles empty arrays, null elements, corrupt JSON") {
    val empty = """{"hourly": {"time": [], "wave_height": [],
      |"wave_direction": [], "wind_wave_direction": [],
      |"swell_wave_height": [], "swell_wave_direction": [],
      |"swell_wave_period": []}}""".stripMargin
    val nulls = """{"hourly": {"time": ["2026-08-10T05:00"],
      |"wave_height": [null], "wave_direction": [1.0],
      |"wind_wave_direction": [2.0], "swell_wave_height": [3.0],
      |"swell_wave_direction": [4.0], "swell_wave_period": [5.0]}}""".stripMargin
    val staged = SwellPipeline.stage(rawDf(Seq(
      ("2026-08-12 00:00:00", "A", empty),
      ("2026-08-12 00:00:00", "B", nulls),
      ("2026-08-12 00:00:00", "C", "not json at all"))))
    val rows = staged.collect()
    assert(rows.length == 1) // empty → 0 rows; corrupt → dead-lettered
    assert(rows(0).getString(1) == "B")
    assert(rows(0).isNullAt(2)) // null metric survives as null double
    assert(rows(0).getAs[Double]("swell_wave_height") == 3.0)
  }

  test("dailyMax keeps max swell per (dt, location), tie → latest hour") {
    val daily = SwellPipeline.full(
      rawDf(Seq(("2026-08-12 00:00:00", "Tamarack", payload))))
      .orderBy("dt").collect()
    assert(daily.length == 2)
    // 2026-08-10: swell tie 1.1 @ 00:00 and 01:00 → latest (01:00) wins
    assert(daily(0).getAs[Timestamp]("timestamp") ==
      Timestamp.valueOf("2026-08-10 01:00:00"))
    assert(daily(0).getAs[Double]("swell_wave_period") == 15.0)
    assert(daily(1).getAs[Timestamp]("timestamp") ==
      Timestamp.valueOf("2026-08-11 00:00:00"))
  }

  test("re-ingesting a day stays idempotent: one winner per (dt, location)") {
    val twice = rawDf(Seq(
      ("2026-08-12 00:00:00", "Tamarack", payload),
      ("2026-08-13 00:00:00", "Tamarack", payload)))
    val daily = SwellPipeline.full(twice).collect()
    assert(daily.length == 2)
  }

  val payload2: String =
    """{"latitude": 33.1505, "longitude": -117.3483,
      |"timezone": "America/Los_Angeles",
      |"hourly_units": {"time": "iso8601", "wave_height": "m"},
      |"hourly": {
      |  "time": ["2026-08-11T03:00", "2026-08-12T00:00"],
      |  "wave_height":          [1.0, 1.1],
      |  "wave_direction":       [200.0, 210.0],
      |  "wind_wave_direction":  [190.0, 205.0],
      |  "swell_wave_height":    [2.5, 0.5],
      |  "swell_wave_direction": [180.0, 195.0],
      |  "swell_wave_period":    [16.0, 8.0]
      |}}""".stripMargin

  test("runIncremental: touched-partition refresh == full rebuild, " +
      "untouched partitions untouched on disk, idempotent rerun") {
    val rawT = "raw.swell_inc"
    val presT = "presentation.swell_inc"
    spark.sql(s"DROP TABLE IF EXISTS $rawT")
    spark.sql(s"DROP TABLE IF EXISTS $presT")
    // batch 1 (days 08-10, 08-11) → first run = partitioned full build
    val b1 = rawDf(Seq(("2026-08-12 00:00:00", "Tamarack", payload)))
    spark.sql("CREATE DATABASE IF NOT EXISTS raw")
    b1.write.mode("append").saveAsTable(rawT)
    SwellPipeline.runIncremental(spark, b1, rawT, presT)
    assert(spark.table(presT).count() == 2)
    val day10Before = partitionFiles(presT, "2026-08-10")
    assert(day10Before.nonEmpty)
    // batch 2: re-fetch of 08-11 with a new maximum + a new day 08-12
    val b2 = rawDf(Seq(("2026-08-13 00:00:00", "Tamarack", payload2)))
    b2.write.mode("append").saveAsTable(rawT)
    SwellPipeline.runIncremental(spark, b2, rawT, presT)
    val cols = SwellPipeline.present(SwellPipeline.dailyMax(
      SwellPipeline.stage(spark.table(rawT)))).columns.toSeq
    def snapshot() = spark.table(presT).select(cols.map(col): _*)
      .collect().toSet
    val incr = snapshot()
    val rebuild = SwellPipeline.full(spark.table(rawT)).collect().toSet
    assert(incr == rebuild)
    // the 08-11 winner now comes from the re-fetched payload
    val d11 = spark.table(presT).where(col("dt") === "2026-08-11")
      .select("swell_wave_height").head.getDouble(0)
    assert(d11 == 2.5)
    // 08-10 was not rewritten: same files, sizes, mtimes
    assert(partitionFiles(presT, "2026-08-10") == day10Before)
    // idempotent: re-running the same batch changes nothing
    SwellPipeline.runIncremental(spark, b2, rawT, presT)
    assert(snapshot() == incr)
  }

  test("end-to-end: ingest appends raw rows, runAll materializes contract") {
    import spark.implicits._
    val fetcher = new FixtureFetcher(_ => payload)
    val res = Ingest.run(spark, fetcher)
    assert(res.map(_.rows).sum == 3)
    Ingest.run(spark, fetcher) // append-only: second run adds 3 more
    assert(spark.table("raw.swell_data").count() == 6)
    val pres = SwellPipeline.runAll(spark)
    // 3 locations × 2 days, dedup'd across the two ingest runs
    assert(pres.count() == 6)
    assert(spark.table("presentation.daily_max_swell")
      .where($"dt".isNull || $"location".isNull).count() == 0)
    // docs-as-contract persisted into the catalog (reference persist_docs)
    val cols = spark.catalog.listColumns("presentation.daily_max_swell")
      .collect().map(c => c.name -> c.description).toMap
    SwellPipeline.contractDocs.foreach { case (c, doc) =>
      assert(cols.get(c).flatMap(Option(_)).contains(doc), s"col $c")
    }
    assert(spark.catalog.getTable("presentation.daily_max_swell")
      .description != null)
  }

  test("persistDocs survives apostrophes in doc strings") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS doc_quote")
    Seq((Date.valueOf("2024-01-01"), "x")).toDF("dt", "v")
      .write.saveAsTable("doc_quote")
    SwellPipeline.persistDocs(spark, "doc_quote",
      Map("dt" -> "The day's date, o'clock-aligned."))
    val doc = spark.catalog.listColumns("doc_quote")
      .collect().find(_.name == "dt").flatMap(c => Option(c.description))
    assert(doc.contains("The day's date, o'clock-aligned."), doc.toString)
  }

  /** SQL executions run by `op` whose executed plan scans the table
    * directory `dir`.
    */
  def executionsScanning(dir: java.io.File)(op: => Unit): Int = {
    val root = dir.toURI.getPath.stripSuffix("/")
    val hits = new java.util.concurrent.atomic.AtomicInteger
    def count(qe: QueryExecution): Unit =
      if (PlanLint.nodes(qe.executedPlan).exists {
        case s: FileSourceScanExec => s.relation.location.rootPaths
          .exists(_.toUri.getPath.stripSuffix("/") == root)
        case _ => false
      }) hits.incrementAndGet(): Unit
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = count(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        count(qe)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { op; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    hits.get
  }

  val overwriteMode = "spark.sql.sources.partitionOverwriteMode"

  /** Runs `op` and checks it left the partition-overwrite conf as it found
    * it and no more persistent RDDs (staged blocks) than before.
    */
  def leavesNoTrace[T](op: => T): T = {
    val conf = spark.conf.getOption(overwriteMode)
    val rdds = spark.sparkContext.getPersistentRDDs.size
    try op
    finally {
      assert(spark.conf.getOption(overwriteMode) == conf)
      assert(spark.sparkContext.getPersistentRDDs.size <= rdds)
    }
  }

  def rebuildRaw(table: String, rows: Seq[(String, String, String)]): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS raw")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    rawDf(rows).write.saveAsTable(table)
  }

  test("not_null gate: runAll throws on a null location before the " +
      "contract table is replaced") {
    val presT = "presentation.daily_max_swell"
    rebuildRaw("raw.swell_data",
      Seq(("2026-08-12 00:00:00", "Tamarack", payload)))
    spark.sql(s"DROP TABLE IF EXISTS $presT")
    leavesNoTrace(SwellPipeline.runAll(spark))
    val before = spark.table(presT).collect().toSet
    assert(before.size == 2)
    rawDf(Seq(("2026-08-13 00:00:00", null, payload2)), nullable = true)
      .write.mode("append").saveAsTable("raw.swell_data")
    val e = intercept[IllegalArgumentException](
      leavesNoTrace(SwellPipeline.runAll(spark)))
    assert(e.getMessage.contains("not_null violated on dt,location"))
    assert(spark.table(presT).collect().toSet == before)
    spark.sql("DROP TABLE raw.swell_data")
  }

  test("not_null gate: runIncremental throws on a null location before " +
      "any table or partition is written") {
    val rawT = "raw.swell_gate"
    val presT = "presentation.swell_gate"
    val bad = rawDf(Seq(("2026-08-13 00:00:00", null, payload2)),
      nullable = true)
    spark.sql(s"DROP TABLE IF EXISTS $presT")
    // first build: the gate fails, no table is created
    rebuildRaw(rawT, Seq(("2026-08-12 00:00:00", "Tamarack", payload)))
    bad.write.mode("append").saveAsTable(rawT)
    val first = intercept[IllegalArgumentException](
      leavesNoTrace(SwellPipeline.runIncremental(spark, bad, rawT, presT)))
    assert(first.getMessage.contains("not_null violated on dt,location"))
    assert(!spark.catalog.tableExists(presT))
    // touched-date slice: the gate fails, every partition keeps its files
    rebuildRaw(rawT, Seq(("2026-08-12 00:00:00", "Tamarack", payload)))
    spark.conf.set(overwriteMode, "static")
    try {
      leavesNoTrace(SwellPipeline.runIncremental(
        spark, spark.table(rawT), rawT, presT))
      val dts = Seq("2026-08-10", "2026-08-11")
      val before = dts.map(dt => dt -> partitionFiles(presT, dt)).toMap
      assert(before.values.forall(_.nonEmpty))
      bad.write.mode("append").saveAsTable(rawT)
      val slice = intercept[IllegalArgumentException](
        leavesNoTrace(SwellPipeline.runIncremental(spark, bad, rawT, presT)))
      assert(slice.getMessage.contains("not_null violated on dt,location"))
      assert(dts.map(dt => dt -> partitionFiles(presT, dt)).toMap == before)
      assert(partitionFiles(presT, "2026-08-12").isEmpty)
    } finally spark.conf.unset(overwriteMode)
  }

  test("runAll and runIncremental scan raw once per run") {
    val rawT = "raw.swell_once"
    val presT = "presentation.swell_once"
    rebuildRaw("raw.swell_data",
      Seq(("2026-08-12 00:00:00", "Tamarack", payload)))
    assert(executionsScanning(tableDir("raw.swell_data"))(
      SwellPipeline.runAll(spark)) == 1)
    rebuildRaw(rawT, Seq(("2026-08-12 00:00:00", "Tamarack", payload)))
    spark.sql(s"DROP TABLE IF EXISTS $presT")
    SwellPipeline.runIncremental(spark, spark.table(rawT), rawT, presT)
    val b2 = rawDf(Seq(("2026-08-13 00:00:00", "Tamarack", payload2)))
    b2.write.mode("append").saveAsTable(rawT)
    assert(executionsScanning(tableDir(rawT))(
      SwellPipeline.runIncremental(spark, b2, rawT, presT)) == 1)
    spark.sql("DROP TABLE raw.swell_data")
  }
}
