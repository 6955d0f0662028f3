"""DuckDB oracle for the swell pipeline's presentation table.

Re-runs the reference's three dbt models (stg: JSON extract + explode by
`generate_series`; int: `row_number() ... rn = 1` arg-max per (dt,
location), ties to the latest hour; pres: passthrough projection) over the
raw rows the benchmark generated, and compares the result with the
parquet files the program wrote. Untimed.
"""
import duckdb

METRICS = ["wave_height", "wave_direction", "wind_wave_direction",
           "swell_wave_height", "swell_wave_direction", "swell_wave_period"]
COLUMNS = ["timestamp", "location"] + METRICS + ["dt"]

STG = """
CREATE TABLE stg AS
WITH parsed AS (
  SELECT location, CAST(data AS JSON) AS j FROM raw WHERE json_valid(data)
), arrays AS (
  SELECT location,
    CAST(json_extract(j, '$.hourly.time') AS VARCHAR[]) AS t,
    {arrays}
  FROM parsed WHERE json_extract(j, '$.hourly.time') IS NOT NULL
), hourly AS (
  SELECT *, unnest(generate_series(0, len(t) - 1)) AS i FROM arrays
)
SELECT strptime(t[i + 1], '%Y-%m-%dT%H:%M') AS timestamp, location,
  {elements},
  CAST(strptime(t[i + 1], '%Y-%m-%dT%H:%M') AS DATE) AS dt
FROM hourly
""".format(
    arrays=",\n    ".join(
        f"CAST(json_extract(j, '$.hourly.{m}') AS DOUBLE[]) AS {m}"
        for m in METRICS),
    elements=", ".join(f"{m}[i + 1] AS {m}" for m in METRICS))

INT = """
CREATE VIEW int_max AS
SELECT * EXCLUDE (rn) FROM (
  SELECT *, row_number() OVER (
    PARTITION BY dt, location
    ORDER BY swell_wave_height DESC NULLS LAST, timestamp DESC) AS rn
  FROM stg)
WHERE rn = 1
"""

PRES = f"CREATE TABLE pres AS SELECT {', '.join(COLUMNS)} FROM int_max"


def check_presentation(raw_tsv, pres_dir, partitioned, tmp_dir):
    """Returns a dict of named check results; `ok` is the verdict."""
    con = duckdb.connect(config={"temp_directory": str(tmp_dir)})
    con.execute(
        f"""CREATE TABLE raw AS SELECT * FROM read_csv('{raw_tsv}',
            delim='\t', header=false, quote='', escape='',
            max_line_size=100000000,
            columns={{'timestamp': 'TIMESTAMP', 'location': 'VARCHAR',
                      'data': 'VARCHAR'}})""")
    for ddl in (STG, INT, PRES):
        con.execute(ddl)
    cols = ", ".join(COLUMNS)
    glob = f"{pres_dir}/**/*.parquet" if partitioned else f"{pres_dir}/*.parquet"
    con.execute(f"""CREATE VIEW program AS SELECT {cols} FROM
        read_parquet('{glob}', hive_partitioning={str(partitioned).lower()})""")

    def scalar(sql):
        return con.execute(sql).fetchone()[0]

    expected = scalar("SELECT count(*) FROM pres")
    got = scalar("SELECT count(*) FROM program")
    missing = scalar(
        f"SELECT count(*) FROM (SELECT {cols} FROM pres EXCEPT ALL "
        f"SELECT {cols} FROM program)")
    extra = scalar(
        f"SELECT count(*) FROM (SELECT {cols} FROM program EXCEPT ALL "
        f"SELECT {cols} FROM pres)")
    return {
        "oracle_rows": expected,
        "program_rows": got,
        "oracle_rows_missing": missing,
        "program_rows_extra": extra,
        # (dt, location) groups whose top swell is shared by several hours,
        # so the `timestamp desc` tie-break picks the winner
        "tie_groups": scalar(
            """SELECT count(*) FROM (
                 SELECT dt, location FROM (
                   SELECT dt, location FROM stg QUALIFY swell_wave_height =
                     max(swell_wave_height) OVER (PARTITION BY dt, location))
                 GROUP BY ALL HAVING count(*) > 1)"""),
        "ok": expected > 0 and expected == got and missing == 0 and extra == 0,
    }
