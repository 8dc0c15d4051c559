#!/usr/bin/env python3
"""DuckDB oracle for the `crime_etl` outputs.

Recomputes, from the generated CSV alone, every output of one pipeline
pass and compares:
  - the three TSV sinks of `CrimePipeline.runAll` (weekly histograms by
    category and by district, daily star triplets), line for line and in
    order, and its dropped-row audit as a set;
  - the Derby star tables the LoadStarDB step wrote (dumped to CSV by the
    harness), as sets of rows.
The CSV scan mirrors the engine's reader exactly as SparkEntry's
`s1_crime_*` oracles do: positional all-VARCHAR columns, header skipped,
doubled-quote escapes, short rows null-padded, empty fields NULL.
"""
import csv
import glob
import os

import duckdb

COLUMNS = ["IncidntNum", "Category", "Descript", "DayOfWeek", "Date", "Time",
           "PdDistrict", "Resolution", "Address", "X", "Y", "Location"]


def scan_sql(path):
    cols = ",".join(f"'{c}':'VARCHAR'" for c in COLUMNS)
    return (f"SELECT * FROM read_csv('{path}', auto_detect=false, delim=',', "
            f"header=true, quote='\"', escape='\"', null_padding=true, "
            f"columns={{{cols}}})")


def wom(d):
    """java.util.Calendar.WEEK_OF_MONTH (US locale) in DuckDB SQL."""
    return (f"(CAST(floor((dayofmonth({d}) + dayofweek(date_trunc('month', {d}))"
            f" - 1) / 7.0) AS INT) + 1)")


def expected(con, path):
    con.execute(f"""CREATE TEMP TABLE tagged AS
        SELECT "IncidntNum" AS num, "Category" AS cat, "PdDistrict" AS dist,
          CAST(try_strptime(split_part("Date", ' ', 1), '%m/%d/%Y') AS DATE) AS d
        FROM ({scan_sql(path)})""")
    con.execute("""CREATE TEMP TABLE clean AS SELECT * FROM tagged
        WHERE cat IS NOT NULL AND dist IS NOT NULL AND d IS NOT NULL""")
    for key in ("cat", "dist"):
        con.execute(f"""CREATE TEMP TABLE dict_{key} AS
            SELECT CAST(row_number() OVER (ORDER BY name) - 1 AS BIGINT) AS idx, name
            FROM (SELECT DISTINCT {key} AS name FROM clean)""")

    def lines(sql):
        return [r[0] for r in con.sql(sql).fetchall()]

    def weekly(key):
        counts = ", ".join(f"count(*) FILTER (WHERE b = {b})" for b in range(17))
        return lines(f"""SELECT k || chr(9) || concat_ws(',', {counts})
            FROM (SELECT {key} AS k, (month(d) - 1) * 5 + {wom('d')} AS b FROM clean)
            GROUP BY k ORDER BY k""")

    fact = """SELECT strftime(c.d, '%Y/%m/%d') AS d, dc.idx AS cat_idx,
          dd.idx AS dist_idx, count(*) AS n
        FROM clean c JOIN dict_cat dc ON c.cat = dc.name
        JOIN dict_dist dd ON c.dist = dd.name
        GROUP BY 1, 2, 3"""
    return {
        "tsv/bycategory": weekly("cat"),
        "tsv/bydistrict": weekly("dist"),
        "tsv/star": lines(f"""SELECT d || chr(9) || concat_ws(',', cat_idx, dist_idx, n)
            FROM ({fact}) ORDER BY d, cat_idx, dist_idx"""),
        "tsv/badrecords": sorted(lines("""SELECT num || chr(9) ||
            CASE WHEN cat IS NULL THEN 'missing_category'
                 WHEN dist IS NULL THEN 'missing_district'
                 ELSE 'bad_date' END
            FROM tagged WHERE cat IS NULL OR dist IS NULL OR d IS NULL""")),
        "derby/category": sorted(lines(
            "SELECT idx || chr(9) || name FROM dict_cat")),
        "derby/district": sorted(lines(
            "SELECT idx || chr(9) || name FROM dict_dist")),
        "derby/fact": sorted(lines(
            f"SELECT concat_ws(chr(9), d, cat_idx, dist_idx, n) FROM ({fact})")),
    }


def part_lines(d):
    out = []
    for p in sorted(glob.glob(os.path.join(d, "part-*"))):
        with open(p, newline="") as f:
            out += [ln.rstrip("\n") for ln in f if ln.strip()]
    return out


def csv_rows(d):
    out = []
    for p in sorted(glob.glob(os.path.join(d, "part-*"))):
        with open(p, newline="") as f:
            out += ["\t".join(r) for r in list(csv.reader(f))[1:]]
    return sorted(out)


def check(csv_path, tsv_dir, verify_dir):
    """Returns (outputs checked, list of mismatch descriptions)."""
    con = duckdb.connect()
    want = expected(con, csv_path)
    got = {
        "tsv/bycategory": part_lines(os.path.join(tsv_dir, "bycategory")),
        "tsv/bydistrict": part_lines(os.path.join(tsv_dir, "bydistrict")),
        "tsv/star": part_lines(os.path.join(tsv_dir, "star")),
        "tsv/badrecords": sorted(part_lines(os.path.join(tsv_dir, "badrecords"))),
        **{f"derby/{t}": csv_rows(os.path.join(verify_dir, f"derby_{t}"))
           for t in ("category", "district", "fact")},
    }
    failures = []
    for name, rows in want.items():
        if got[name] != rows:
            diff = next((i for i, (a, b) in enumerate(zip(got[name], rows))
                         if a != b), min(len(got[name]), len(rows)))
            failures.append(
                f"{name}: {len(got[name])} rows vs oracle {len(rows)}; first "
                f"difference at row {diff}: "
                f"{got[name][diff:diff + 1]} vs {rows[diff:diff + 1]}")
    return len(want), failures
