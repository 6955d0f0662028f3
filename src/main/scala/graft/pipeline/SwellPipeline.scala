package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.operators.Checkpoints

/** The flagship pipeline: raw swell payloads → staged hourly rows →
  * daily per-location arg-max → presentation contract table.
  *
  * Re-expresses the reference's three dbt models
  * (`dbt/models/staging/stg_open_meteo__swell_data.sql`,
  * `intermediate/int_open_meteo__max_swell_per_day.sql`,
  * `presentation/pres_open_meteo__daily_max_swell.sql`) as pure
  * `DataFrame => DataFrame` functions. Because each layer is a lazy plan,
  * composing them hands Catalyst ONE logical tree — the same whole-pipeline
  * optimization DuckDB gets from view inlining (SURVEY.md §3 EP2).
  *
  * Scale posture: the only shuffle in the composed plan is the window's
  * `hashpartitioning(dt, location)`. At 100 TB the raw table is partitioned
  * by (ingest_date, location) on disk, so a day's recompute prunes to one
  * partition; the explode is narrow (no shuffle); the arg-max shuffles
  * already-projected hourly rows only. Each materialization executes
  * the composed plan ONCE: the not_null count is observed on the job
  * that materializes the presentation rows ([[gatedWrite]]), and the
  * write reads those staged rows — at most one per (dt, location), so
  * small next to raw — which are freed after the write.
  */
object SwellPipeline {

  /** Staging (`stg...sql`): parse the JSON payload with an explicit schema,
    * zip the 7 parallel arrays, explode once, cast types.
    *
    * The reference probes each array per index with
    * `json_extract_string(j, printf('$[%d]', i))` over a
    * `generate_series` lateral join (`stg...sql:25-36`) — O(n²) string
    * probing. `arrays_zip` + `explode` is the linear, typed Spark form.
    */
  def stage(raw: DataFrame): DataFrame = {
    val parsed = raw.withColumn(
      "p",
      from_json(
        col("data"), Schemas.payload,
        Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record"))
    )
    // Dead-letter: malformed payloads (or ones missing $.hourly.time) drop
    // out here rather than poisoning downstream casts (stg...sql keeps only
    // parseable rows implicitly; we make it explicit).
    val ok = parsed.where(col("p._corrupt_record").isNull &&
      col("p.hourly.time").isNotNull)
    val zipped = ok.withColumn(
      "h",
      explode(arrays_zip(
        col("p.hourly.time").as("time") +:
          Schemas.metricNames.map(m => col(s"p.hourly.$m").as(m)): _*))
    )
    zipped.select(
      to_timestamp(col("h.time"), "yyyy-MM-dd'T'HH:mm").as("timestamp") +:
        col("location") +:
        Schemas.metricNames.map(m => col(s"h.$m").as(m)): _*
    ).withColumn("dt", to_date(col("timestamp")))
  }

  /** Intermediate (`int...sql:10-30`): per (dt, location) keep the hourly
    * row with max swell height; ties broken by latest timestamp
    * (`int...sql:15` orders `swell_wave_height desc, timestamp desc`).
    *
    * Window + `rn = 1` (not bare `max`) so tie-break semantics match the
    * reference / DuckDB oracle exactly. Spark ≥3.5's
    * `InferWindowGroupLimit` rewrites this to a per-partition top-1 below
    * the sort, so it does NOT materialize full sorted groups at scale.
    */
  def dailyMax(staged: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("dt"), col("location"))
      .orderBy(col("swell_wave_height").desc, col("timestamp").desc)
    staged
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }

  /** Presentation (`pres...sql:10-20`): passthrough projection — the
    * external data contract (`README.md:37`).
    */
  def present(daily: DataFrame): DataFrame =
    daily.select(Schemas.staged.fieldNames.map(col).toSeq: _*)

  /** The whole pipeline as one lazy plan. */
  def full(raw: DataFrame): DataFrame = present(dailyMax(stage(raw)))

  // -------- Layered materialization (S4, S6–S9, O1–O6) --------

  /** dbt's `not_null` schema tests on the int model
    * (`_int_open_meteo.yml:10-16`), enforced at materialization time
    * without a second pass over the pipeline: `df` is staged once, the
    * null count rides that staging job as an observation, and `write`
    * only runs — on the staged rows — once the count is 0. A violation
    * therefore throws before any table or partition is replaced. The
    * staged rows are freed after the write, whether or not it succeeds.
    */
  private[graft] def gatedWrite(df: DataFrame, notNull: Seq[String])(
      write: DataFrame => Unit): Unit = {
    val (staged, nulls) = Checkpoints.stageObserving[Long](df,
      count(when(notNull.map(col(_).isNull).reduce(_ || _), lit(1))))
    try {
      require(nulls == 0, s"not_null violated on ${notNull.mkString(",")}")
      write(staged)
    } finally org.apache.spark.sql.GraftSqlBridge.freeLocalCheckpoint(staged)
  }

  /** Bootstrap the layered catalog namespaces — Spark databases replace the
    * reference's two-file DuckDB ATTACH topology (`profiles.yml:5-11`).
    * Idempotent, like the reference's `CREATE ... IF NOT EXISTS`
    * (`open_meteo.py:62-71`).
    */
  def bootstrap(spark: SparkSession): Unit =
    Seq("raw", "staging", "intermediate", "presentation")
      .foreach(db => spark.sql(s"CREATE DATABASE IF NOT EXISTS $db"))

  /** Materialize the layers the way the reference does: stg + int as views
    * (`stg...sql:4`, `int...sql:2` — logical only, no copy), presentation
    * as a physically rebuilt table (`pres...sql:2`). Re-runs are
    * idempotent: raw appends + derived overwrite (SURVEY.md §2.4 O6).
    *
    * The pipeline plan executes once: the job that materializes the
    * presentation rows also counts nulls in (dt, location), and the
    * overwrite — gated on that count — writes the staged rows (at most
    * one per (dt, location)), which are freed afterwards.
    */
  def runAll(spark: SparkSession): DataFrame = {
    bootstrap(spark)
    val raw = spark.table("raw.swell_data")
    val staged = stage(raw)
    staged.createOrReplaceTempView("stg_swell_data")
    val daily = dailyMax(spark.table("stg_swell_data"))
    daily.createOrReplaceTempView("int_max_swell_per_day")
    val pres = present(spark.table("int_max_swell_per_day"))
    gatedWrite(pres, Seq("dt", "location"))(_.write.mode(SaveMode.Overwrite)
      .saveAsTable("presentation.daily_max_swell"))
    persistDocs(spark)
    spark.table("presentation.daily_max_swell")
  }

  /** Incremental presentation materialization — the reference rebuilds
    * `presentation.daily_max_swell` from scratch every run
    * (`pres_open_meteo__daily_max_swell.sql:2`, materialized='table');
    * at 100 TB that is a full-derived-layer rewrite per night. This
    * mode keeps the contract table PARTITIONED BY `dt` and per batch:
    *
    *  1. derives the forecast dates the new raw batch touches (narrow
    *     pass over just the batch);
    *  2. recomputes the daily arg-max for ONLY those dates — the raw
    *     read is restricted by a broadcast semi join on dt (partition
    *     pruning, not a post-scan filter, once raw is date-partitioned);
    *  3. materializes that slice ONCE — the not_null count on
    *     (dt, location) is observed on the same job — and checks the
    *     count before anything is written;
    *  4. replaces exactly the affected dt partitions via dynamic
    *     partition overwrite from the staged slice (at most one row per
    *     (dt, location); freed after the write) — untouched dates are
    *     neither read nor rewritten.
    *
    * The first build (no presentation table yet) is the same one-pass
    * gated write over all of raw, creating the table partitioned by dt.
    *
    * Result-identical to the full rebuild in every case (the slice is
    * recomputed from ALL raw rows of the touched dates, so partial-day
    * appends and re-fetched payloads resolve the same winners), and
    * idempotent: re-running the same batch rewrites the same partitions
    * with identical content.
    */
  def runIncremental(spark: SparkSession, batchRaw: DataFrame,
                     rawTable: String = "raw.swell_data",
                     presTable: String = "presentation.daily_max_swell")
      : DataFrame = {
    bootstrap(spark)
    if (!spark.catalog.tableExists(presTable)) {
      val all = present(dailyMax(stage(spark.table(rawTable))))
      gatedWrite(all, Seq("dt", "location"))(
        _.write.partitionBy("dt").saveAsTable(presTable))
    } else {
      require(spark.catalog.listColumns(presTable).collect()
        .exists(c => c.isPartition && c.name == "dt"),
        s"$presTable must be partitioned by dt for incremental runs")
      val touched = stage(batchRaw).select(col("dt")).distinct()
      val slice = present(dailyMax(stage(spark.table(rawTable))
        .join(broadcast(touched), Seq("dt"), "left_semi")))
      // partition columns sit last in the table schema; insertInto is
      // positional
      val cols = spark.table(presTable).columns.toSeq
      gatedWrite(slice, Seq("dt", "location")) { staged =>
        // dynamic overwrite via the SESSION conf, restored afterwards:
        // insertInto ignores a `partitionOverwriteMode` writer option,
        // so `.option(...)` would silently run a static overwrite and
        // drop every partition outside the slice
        val prev = spark.conf
          .getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try staged.select(cols.map(col): _*)
          .write.mode(SaveMode.Overwrite).insertInto(presTable)
        finally prev match {
          case Some(v) =>
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None =>
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
      spark.catalog.refreshTable(presTable)
    }
    spark.table(presTable)
  }

  /** Docs-as-contract: persist the presentation table's description and
    * column docs into the catalog — the reference's `persist_docs`
    * (`dbt_project.yml:11-13`) with the column descriptions of
    * `_int_open_meteo.yml:8-18` / `_pres_open_meteo.yml:4-5`.
    */
  val contractDocs: Map[String, String] = Map(
    "dt" -> "Forecast date (UTC) the maximum applies to.",
    "location" -> "Named surf spot the forecast row belongs to.",
    "swell_wave_height" -> "Maximum hourly swell height of the day (m).",
    "timestamp" -> "Hour (UTC) at which the daily maximum occurred.")

  def persistDocs(spark: SparkSession,
                  table: String = "presentation.daily_max_swell",
                  docs: Map[String, String] = contractDocs): Unit = {
    // SQL-escape doc strings (doubled single quotes) — an apostrophe in
    // a description must not break the interpolated statement
    def q(s: String): String = "'" + s.replace("'", "''") + "'"
    spark.sql(s"COMMENT ON TABLE $table IS " +
      q("Daily maximum swell per location (external contract table)."))
    docs.foreach { case (c, doc) =>
      spark.sql(s"ALTER TABLE $table ALTER COLUMN $c COMMENT ${q(doc)}")
    }
  }
}
