"""DuckDB restatement of the level1 rules, and the level4 property checks.

The program computes level1 with Spark windows; here the same rules are
written again in SQL over the generated raw table, and the level4 store
is checked against properties the method must have.
"""
import duckdb

SENSORS = ["count", "pressure1", "internal_temperature", "internal_humidity",
           "battery", "tube_temperature", "tube_humidity", "rain",
           "vwc1", "vwc2", "vwc3", "pressure2",
           "external_temperature", "external_humidity"]

# +-3 h smoothing radius, plus the 1 s the reference adds, in microseconds
RADIUS_US = (3 * 3600 + 1) * 1_000_000


def level1_sql(raw, until_us):
    """(site_no, t, flag, is_dup) for every kept raw row up to `until_us`
    (epoch microseconds), by the reference's
    rules: drop corrupt rows, lag count over the raw sequence, drop rows
    equal on every sensor field to a row in the 29 minutes before, skip
    each site's first row, flag 4 on battery < 10 and 1 on a count jump.
    """
    part = ", ".join(SENSORS)
    return f"""
    WITH kept AS (
      SELECT *, epoch_us(time) AS t FROM read_parquet('{raw}/*.parquet')
      WHERE NOT (count IS NULL AND battery IS NULL) AND epoch_us(time) <= {until_us}),
    lagged AS (
      SELECT *, lag(count) OVER (PARTITION BY site_no ORDER BY t) AS prev_count
      FROM kept),
    marked AS (
      SELECT *, max(t) OVER (PARTITION BY site_no, {part} ORDER BY t
        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
      FROM lagged)
    SELECT site_no, t,
      CASE WHEN battery < 10 THEN 4
           WHEN count::DOUBLE < 0.8::DOUBLE * prev_count::DOUBLE
             OR count::DOUBLE > 1.2::DOUBLE * prev_count::DOUBLE THEN 1
           ELSE flag END AS flag,
      prev_count IS NULL AS first_row,
      coalesce(prior >= t - 29 * 60 * 1000000, false) AS is_dup
    FROM marked"""


def check_level1(con, raw, until_us, program):
    """The program's level1 vs. the SQL restatement: flag-1 and flag-4
    counts, 29-min dedup drops, and the rows themselves."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE own AS {level1_sql(raw, until_us)}")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE prog AS
      SELECT site_no, epoch_us(time) AS t, flag
      FROM read_parquet('{program}/*.parquet')""")
    own = con.execute("""SELECT
        count(*) FILTER (WHERE NOT is_dup AND NOT first_row),
        count(*) FILTER (WHERE NOT is_dup AND NOT first_row AND flag = 1),
        count(*) FILTER (WHERE NOT is_dup AND NOT first_row AND flag = 4),
        count(*) FILTER (WHERE is_dup)
      FROM own""").fetchone()
    kept, sites = con.execute(
        "SELECT count(*), count(DISTINCT site_no) FROM own").fetchone()
    prog = con.execute("""SELECT count(*), count(*) FILTER (WHERE flag = 1),
        count(*) FILTER (WHERE flag = 4) FROM prog""").fetchone()
    prog_dups = kept - sites - prog[0]
    counts_ok = (own[1], own[2], own[3]) == (prog[1], prog[2], prog_dups)
    diff = con.execute("""SELECT count(*) FROM (
        (SELECT site_no, t, flag FROM own WHERE NOT is_dup AND NOT first_row
         EXCEPT ALL SELECT site_no, t, flag FROM prog)
        UNION ALL
        (SELECT site_no, t, flag FROM prog
         EXCEPT ALL SELECT site_no, t, flag FROM own WHERE NOT is_dup AND NOT first_row))
      """).fetchone()[0]
    return [
        ("level1 flag-1, flag-4 and 29-min dedup counts equal the SQL restatement",
         counts_ok,
         f"SQL {own[1]}/{own[2]}/{own[3]}, program {prog[1]}/{prog[2]}/{prog_dups}"),
        ("level1 rows and flags equal the SQL restatement", diff == 0,
         f"{diff} rows differ of {own[0]}"),
    ]


def check_level4(con, store):
    """Every level4 key is a flag-0 level1 key, and each smoothed value lies
    within its flag-0 neighbours' range (needs table `own`)."""
    con.execute(f"""CREATE OR REPLACE TEMP TABLE l4 AS
      SELECT site_no::INTEGER AS site_no, epoch_us(time) AS t, soil_moist,
             soil_moist_filtered
      FROM read_parquet('{store}/**/*.parquet', hive_partitioning = true)""")
    rows = con.execute("SELECT count(*) FROM l4").fetchone()[0]
    stray = con.execute("""SELECT count(*) FROM l4 ANTI JOIN
        (SELECT site_no, t FROM own WHERE flag = 0 AND NOT is_dup AND NOT first_row)
        USING (site_no, t)""").fetchone()[0]
    outside = con.execute(f"""SELECT count(*) FROM (
        SELECT a.site_no, a.t, any_value(a.soil_moist_filtered) AS f,
               min(b.soil_moist) AS lo, max(b.soil_moist) AS hi
        FROM l4 a JOIN l4 b ON a.site_no = b.site_no
          AND b.t BETWEEN a.t - {RADIUS_US} AND a.t + {RADIUS_US}
        GROUP BY a.site_no, a.t)
      WHERE f IS NULL OR f < lo - 1e-9 * abs(lo) OR f > hi + 1e-9 * abs(hi)
      """).fetchone()[0]
    return [
        ("every level4 key is a flag-0 level1 key", rows > 0 and stray == 0,
         f"{stray} of {rows} level4 keys are not flag-0 level1 keys"),
        ("each soil_moist_filtered lies within its +-3 h neighbours' soil_moist range",
         rows > 0 and outside == 0, f"{outside} of {rows} outside"),
    ]


def run(info):
    """All levels checks for a run record's `info`."""
    con = duckdb.connect()
    try:
        out = check_level1(con, info["duck.raw"], int(info["duck.raw_until_us"]),
                           info["duck.level1_program"])
        out += check_level4(con, info["duck.level4_store"])
        return out
    finally:
        con.close()


def flip_one_flag(src, dst):
    """Copy the program's level1 with one flag-0 row turned into flag 1."""
    con = duckdb.connect()
    try:
        con.execute(f"""COPY (
            WITH p AS (SELECT *, row_number() OVER (ORDER BY site_no, time) AS rn
                       FROM read_parquet('{src}/*.parquet'))
            SELECT site_no, time,
              CASE WHEN rn = (SELECT min(rn) FROM p WHERE flag = 0) THEN 1 ELSE flag END
                AS flag
            FROM p) TO '{dst}/part-0.parquet' (FORMAT PARQUET)""")
    finally:
        con.close()
