package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.ingest.Ingest
import graft.pipeline.{Checks, SwellPipeline}

/** Times the swell pipeline through its public entry points only.
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <work dir> <cores>`.
  * Writes `<work dir>/jvm.json` with the raw samples; `perfbench/run.py`
  * turns them into metrics and checks the outputs.
  *
  * One client, closed loop: the nightly scheduler waits for each run, so
  * the next operation starts when the previous one ends.
  */
object Main {
  val RawTable = "raw.swell_data"
  val PresTable = "presentation.daily_max_swell"

  /** Records the wall time of each named span of one operation. */
  final class Spans {
    val ns = mutable.LinkedHashMap.empty[String, Long]
    val ms = mutable.LinkedHashMap.empty[String, (Long, Long)]
    def apply[T](name: String)(f: => T): T = {
      val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try f finally {
        ns(name) = System.nanoTime() - t0
        ms(name) = (m0, System.currentTimeMillis())
      }
    }
  }

  /** One workload: how raw is seeded, one operation, and the plan
    * prefixes whose `noop` writes split an operation's compute by layer.
    */
  sealed trait Workload {
    def gen: GenConfig
    /** operations in one pass, the fixed sequence `wall_s` times */
    def opsPerPass: Int
    /** untimed: what must exist before the first operation */
    def firstBuild(spark: SparkSession): Unit
    /** one operation for `night`; returns the appended batch */
    def op(spark: SparkSession, rg: RawGen, night: Int, sp: Spans): DataFrame
    /** (stage prefix, stage + daily max prefix) of the operation's plan */
    def prefixes(spark: SparkSession, batch: DataFrame): (DataFrame, DataFrame)
  }

  def fetch(spark: SparkSession, rg: RawGen, night: Int): DataFrame =
    Ingest.fetchBatch(spark, rg.fetcher(night), rg.locations, rg.now(night))

  def touched(batch: DataFrame): DataFrame =
    SwellPipeline.stage(batch).select(col("dt")).distinct()

  /** Nightly full rebuild: append one batch, `runAll`, then the dbt tests. */
  object Rebuild extends Workload {
    // ≈1.5e5 hourly rows: sized so one run (three set-ups plus ~15 s of
    // operations) takes about 50 s on 4 vCPUs
    val gen = GenConfig(locations = 28, historyNights = 30,
      forecastHours = 168, tieShare = 0.05, corruptShare = 0.01,
      nullShare = 0.002)
    val opsPerPass = 2
    def firstBuild(spark: SparkSession): Unit = ()
    def op(spark: SparkSession, rg: RawGen, night: Int,
           sp: Spans): DataFrame = {
      val batch = sp("ingest.fetch_batch")(fetch(spark, rg, night))
      sp("ingest.append")(Ingest.append(spark, batch))
      val pres = sp("pipeline")(SwellPipeline.runAll(spark))
      val key = Seq("dt", "location")
      sp("checks")(Checks.runAll(Map(
        "not_null_dt_location" -> Checks.notNull(pres, key),
        "unique_dt_location" -> Checks.unique(pres, key))))
      batch
    }
    def prefixes(spark: SparkSession, batch: DataFrame) = {
      val staged = SwellPipeline.stage(spark.table(RawTable))
      (staged, SwellPipeline.dailyMax(staged))
    }
  }

  /** Nightly incremental refresh: append one batch, `runIncremental`. */
  object Refresh extends Workload {
    val gen = Rebuild.gen
    val opsPerPass = 3
    def firstBuild(spark: SparkSession): Unit =
      SwellPipeline.runIncremental(spark, spark.table(RawTable))
    def op(spark: SparkSession, rg: RawGen, night: Int,
           sp: Spans): DataFrame = {
      val batch = sp("ingest.fetch_batch")(fetch(spark, rg, night))
      sp("ingest.append")(Ingest.append(spark, batch))
      sp("pipeline")(SwellPipeline.runIncremental(spark, batch))
      batch
    }
    // the slice `runIncremental` recomputes: all of raw is parsed, then
    // semi-joined to the dates the batch touches
    def prefixes(spark: SparkSession, batch: DataFrame) = {
      val staged = SwellPipeline.stage(spark.table(RawTable))
      (staged, SwellPipeline.dailyMax(
        staged.join(broadcast(touched(batch)), Seq("dt"), "left_semi")))
    }
  }

  val workloads: Map[String, Workload] =
    Map("swell_rebuild" -> Rebuild, "swell_refresh" -> Refresh)

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** Data files under a table directory, with size and modification time. */
  def dataFiles(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString ->
          ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
        .toMap
      finally s.close()
    }
  }

  def stealJiffies(): Long = try {
    val l = Files.readAllLines(Paths.get("/proc/stat")).get(0)
    l.trim.split("\\s+").drop(1).lift(7).map(_.toLong).getOrElse(0L)
  } catch { case NonFatal(_) => 0L }

  def vmHwmKb(): Long = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  } catch { case NonFatal(_) => 0L }

  def secs(ns: Long): Double = ns / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def noopWrite(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    secs(System.nanoTime() - t0)
  }

  /** Per-layer record of one traced operation; every value is per op. */
  def layerRecord(spark: SparkSession, w: Workload, tracer: Tracer,
                  c: OpCounters, sp: Spans, opS: Double, batch: DataFrame,
                  rawBefore: Map[String, (Long, Long)],
                  presBefore: Map[String, (Long, Long)],
                  rawDir: String, presDir: String,
                  cores: Int): Map[String, Double] = {
    val rawAfter = dataFiles(rawDir)
    val presAfter = dataFiles(presDir)
    def within(span: String, kind: String): Double = {
      val (a, b) = sp.ms.getOrElse(span, (0L, -1L))
      c.executions.collect {
        case (k, t0, t1) if k == kind && t0 >= a && t0 <= b => t1 - t0
      }.sum / 1e3
    }
    val pipelineS = secs(sp.ns("pipeline"))
    val gateS = within("pipeline", "query")
    val writeQ = within("pipeline", "write")
    val scans = c.rawScanStages.toDouble

    // untimed prefix runs, after the operation's counters are final
    tracer.begin()
    val (stagePrefix, dailyPrefix) = w.prefixes(spark, batch)
    val stageS = noopWrite(stagePrefix)
    val dailyS = noopWrite(dailyPrefix)
    ListenerDrain(spark.sparkContext)
    val exchanges = tracer.lastNoopExchanges.toDouble
    val stagedRows = stagePrefix.count().toDouble
    val touchedDates = touched(batch)
    val usefulRows = stagePrefix
      .join(broadcast(touchedDates), Seq("dt"), "left_semi").count().toDouble
    def partition(f: String) = f.takeWhile(_ != '/')
    val changedParts = presAfter.keySet.union(presBefore.keySet)
      .filter(f => presAfter.get(f) != presBefore.get(f))
      .map(partition).filter(_.startsWith("dt="))

    val layers = Map(
      "ingest.fetch_batch_s" -> secs(sp.ns("ingest.fetch_batch")),
      "ingest.append_s" -> secs(sp.ns("ingest.append")),
      "pipeline.stage_s" -> scans * stageS,
      "pipeline.daily_max_s" -> scans * (dailyS - stageS),
      "pipeline.write_s" -> (writeQ - dailyS),
      "pipeline.checks_s" -> (sp.ns.get("checks").map(secs).getOrElse(0.0) +
        gateS - dailyS),
      "pipeline.catalog_s" -> (pipelineS - gateS - writeQ))
    val busy = secs(c.taskBusyNs)
    layers ++ Map(
      "pipeline.unattributed_s" -> (opS - layers.values.sum),
      "ingest.append_files" ->
        (rawAfter.keySet -- rawBefore.keySet).size.toDouble,
      "pipeline.stage_rows_out" -> stagedRows,
      // bytes of the raw files the op's scans select: raw has no partition
      // to prune, so each scan covers every file
      "pipeline.raw_bytes_read" -> scans * rawAfter.values.map(_._1).sum,
      "pipeline.daily_max_exchanges" -> exchanges,
      "pipeline.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "pipeline.output_files" ->
        presAfter.count { case (f, v) => !presBefore.get(f).contains(v) }
          .toDouble,
      "pipeline.raw_scans_per_op" -> scans,
      "pipeline.refresh_useful_row_share" ->
        (if (w == Refresh) usefulRows / stagedRows else 1.0),
      "pipeline.partitions_touched_per_refresh" ->
        (if (w == Refresh) touchedDates.count().toDouble else 0.0),
      "pipeline.partitions_rewritten_per_refresh" ->
        (if (w == Refresh) changedParts.size.toDouble else 0.0),
      "spark.jobs_per_op" -> c.jobs.toDouble,
      "spark.tasks_per_op" -> c.tasks.toDouble,
      "spark.plan_s_per_op" -> secs(c.planNs),
      "spark.task_busy_s" -> busy,
      "spark.slot_idle_share" -> (1.0 - busy / (opS * cores)),
      "spark.shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
      "spark.spill_bytes" -> c.spillBytes.toDouble,
      "spark.gc_s" -> c.gcMs / 1e3,
      "spark.broadcasts" -> c.broadcasts.toDouble,
      "pipeline.catalog_commands" ->
        c.executions.count(_._1 == "catalog").toDouble,
      "ingest.jobs_per_op" -> c.jobsByFile.getOrElse("Ingest.scala", 0L)
        .toDouble,
      "pipeline.jobs_per_op" -> c.jobsByFile
        .getOrElse("SwellPipeline.scala", 0L).toDouble,
      "pipeline.checks_jobs_per_op" -> c.jobsByFile
        .getOrElse("Checks.scala", 0L).toDouble,
      "spark.unattributed_jobs_per_op" ->
        c.jobsByFile.getOrElse("?", 0L).toDouble,
      "pipeline.task_s" ->
        c.taskNsByFile.getOrElse("SwellPipeline.scala", 0L) / 1e9,
      "trace.op_s" -> opS)
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] => m.map { case (k, x) =>
      json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n: Number => n.toString
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, work, coresS) = args
    val (seed, seconds, trace, cores) =
      (seedS.toLong, secondsS.toInt, traceS == "1", coresS.toInt)
    val w = workloads(name)
    val rg = new RawGen(seed, w.gen)
    val hist = w.gen.historyNights
    val warehouse = s"$work/warehouse"
    val rawDir = s"$warehouse/raw.db/swell_data"
    val presDir = s"$warehouse/presentation.db/daily_max_swell"
    val out = mutable.LinkedHashMap.empty[String, Any]

    // Set-up, several times: session start, input generation, raw load,
    // first build and one warm-up operation, each on an empty warehouse.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to 3) {
      if (spark != null) spark.stop()
      deleteTree(new File(warehouse))
      val t0 = System.nanoTime()
      spark = session(work, cores)
      Ingest.append(spark,
        (0 until hist).map(fetch(spark, rg, _)).reduce(_ union _))
      w.firstBuild(spark)
      w.op(spark, rg, hist, new Spans)
      setupS += secs(System.nanoTime() - t0)
    }

    val tracer = new Tracer(RawTable)
    if (trace) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }

    val opS = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val layerRecs = mutable.ArrayBuffer.empty[Map[String, Double]]
    val errors = mutable.ArrayBuffer.empty[String]
    var (night, attempted, failed) = (hist + 1, 0, 0)
    val steal0 = stealJiffies()
    val start = System.nanoTime()
    while (passS.isEmpty && attempted < 20 * w.opsPerPass ||
      secs(System.nanoTime() - start) < seconds) {
      var passNs = 0L
      var passOk = true
      for (_ <- 1 to w.opsPerPass) {
        attempted += 1
        val rawBefore =
          if (trace) dataFiles(rawDir) else Map.empty[String, (Long, Long)]
        val presBefore =
          if (trace) dataFiles(presDir) else Map.empty[String, (Long, Long)]
        val counters = tracer.begin()
        val sp = new Spans
        val t0 = System.nanoTime()
        try {
          val batch = w.op(spark, rg, night, sp)
          val ns = System.nanoTime() - t0
          opS += secs(ns)
          passNs += ns
          if (trace) {
            ListenerDrain(spark.sparkContext)
            layerRecs += layerRecord(spark, w, tracer, counters, sp,
              secs(ns), batch, rawBefore, presBefore, rawDir, presDir, cores)
          }
        } catch {
          case NonFatal(e) =>
            failed += 1
            passOk = false
            errors += s"night $night: $e"
        }
        night += 1
      }
      if (passOk) passS += secs(passNs)
    }
    val measuredS = secs(System.nanoTime() - start)
    val stealS = (stealJiffies() - steal0) / 100.0

    // Untimed output checks the program can answer for itself.
    val checks = mutable.LinkedHashMap.empty[String, Any]
    val pres = spark.table(PresTable)
    checks("pres_rows") = pres.count()
    if (w == Refresh) {
      val full = SwellPipeline.full(spark.table(RawTable))
      val cur = pres.select(full.columns.toSeq.map(col): _*)
      checks("refresh_minus_rebuild") = cur.exceptAll(full).count()
      checks("rebuild_minus_refresh") = full.exceptAll(cur).count()
    }
    val nights = 0 until night
    rg.dump(nights, s"$work/raw.tsv")

    out("workload") = name
    out("setup_s") = setupS
    out("op_s") = opS
    out("pass_s") = passS
    out("measured_s") = measuredS
    out("attempted") = attempted
    out("failed") = failed
    out("errors") = errors.take(5)
    out("peak_rss_mb") = vmHwmKb() / 1024.0
    out("steal_s") = stealS
    out("checks") = checks
    out("pres_dir") = presDir
    out("partitioned") = w == Refresh
    if (trace) {
      val keys = layerRecs.headOption.map(_.keys.toSeq.sorted)
        .getOrElse(Seq.empty)
      out("layers") = keys.map(k => k -> median(layerRecs.map(_(k)).toSeq))
        .toMap
      out("traced_ops") = layerRecs.size
    }
    spark.stop()
    Files.writeString(Paths.get(s"$work/jvm.json"), json(out))
  }
}
