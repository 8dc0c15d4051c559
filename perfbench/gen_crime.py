#!/usr/bin/env python3
"""Seeded generator for a crime-shaped CSV of any size.

Usage: python3 perfbench/gen_crime.py <out.csv> <seed> <rows>

Same layout and value sets as tools/gen_crime_fixture.py (FIXTURES.md
section B): the positional 12-column SF incident export with a header row,
quoted fields with embedded commas and doubled quotes, dates spread over
Q1 2013 with a cluster on 03/31 (the week-6, bucket-16 edge). One row in
500 is malformed, cycling through the fixture's five malformed-row
classes (short row, unparseable date, ISO date, empty category, empty
district), so the drop-and-audit path runs at every size.

The same (seed, rows) always writes a byte-identical file.
"""
import datetime
import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "tools"))
import gen_crime_fixture as fx  # noqa: E402

BAD_EVERY = 500
HEADER = ("IncidntNum,Category,Descript,DayOfWeek,Date,Time,PdDistrict,"
          "Resolution,Address,X,Y,Location")


def bad_row(n, kind):
    """The fixture's malformed-row classes, keyed by `kind` 0..4."""
    num = f"9{n:08d}"
    if kind == 0:
        return f"{num},short row"
    date, cat, dist = "01/15/2013 12:00", "ASSAULT", "MISSION"
    if kind == 1:
        date = "not-a-date"
    elif kind == 2:
        date = "2013-01-15 12:00"
    elif kind == 3:
        cat = ""
    else:
        dist = ""
    return fx.row([num, cat, "BATTERY", "Monday", date, "12:00", dist,
                   "NONE", "100 Block", "-122.4", "37.7", "(37.7, -122.4)"])


def generate(path, seed, rows):
    rng = np.random.default_rng(seed)
    span = (fx.D1 - fx.D0).days + 1
    days = [fx.D0 + datetime.timedelta(days=d) for d in range(span)]
    day_str = [d.strftime("%m/%d/%Y") for d in days]
    dow = [fx.DOW[d.weekday()] for d in days]
    cats = [fx.csv_field(c) for c in fx.CATEGORIES]
    descs = [[fx.csv_field(d) for d in fx.DESCRIPTS[c]] for c in fx.CATEGORIES]
    res = [fx.csv_field(x) for x in fx.RESOLUTIONS]
    day = rng.integers(0, span, rows)
    day[::150] = span - 1  # the 03/31 cluster, as in the fixture
    cat = rng.integers(0, len(cats), rows)
    desc = rng.random(rows)
    dist = rng.integers(0, len(fx.DISTRICTS), rows)
    resn = rng.integers(0, len(res), rows)
    hh, mm = rng.integers(0, 24, rows), rng.integers(0, 60, rows)
    block = rng.integers(1, 38, rows) * 100
    xs = np.round(-122.5143 + rng.random(rows) * 0.146, 6).tolist()
    ys = np.round(37.7080 + rng.random(rows) * 0.105, 6).tolist()
    lines = [HEADER]
    for i in range(rows):
        if i % BAD_EVERY == BAD_EVERY - 1:
            lines.append(bad_row(i, (i // BAD_EVERY) % 5))
            continue
        c, d, t = cat[i], day[i], f"{hh[i]:02d}:{mm[i]:02d}"
        x, y = xs[i], ys[i]
        lines.append(
            f"{i + 1:09d},{cats[c]},{descs[c][int(desc[i] * len(descs[c]))]},"
            f"{dow[d]},{day_str[d]} {t},{t},{fx.DISTRICTS[dist[i]]},"
            f"{res[resn[i]]},{block[i]} Block of FIXTURE ST,{x},{y},"
            f'"({y}, {x})"')
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, path)
    return {"rows": rows, "bytes": os.path.getsize(path)}


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])))
