#!/usr/bin/env python3
"""Seeded taxi feed for the Task4 stream: one day of per-minute CSV files.

Each file `part-2015-12-01-HHMM.csv` is headerless and mixes the yellow-20
and green-22 layouts of FIXTURES.md section 1, with a diurnal volume of
about 417k rows a day. All ground truth comes from the plan below, never
from the pipeline:

  - background dropoffs keep a clear margin from both headquarters;
  - every file carries a few near misses, strictly outside each polygon;
  - a thin stream of dropoffs strictly inside each polygon;
  - planted doubling windows: the first file of a planted 10-minute window
    carries 12-16 dropoffs inside one polygon plus one late dropoff of the
    previous window, whose other dropoffs for that polygon are suppressed.
    Whatever files a micro-batch holds, the batch that reads this file
    updates both windows, the new one at >= 12 and >= 2x the old one, so
    Task4's batch-scoped trend join fires.

Usage:
  gen_taxi.py backlog <dir> <seed> <n_files>
  gen_taxi.py live    <dir> <seed> <first> <n_files> <interval_ms> <start_ms|0> <log.json>
"""
import json
import os
import sys
import time

import numpy as np

DAY_ROWS = 417_740
HOURLY = [0.55, 0.40, 0.30, 0.22, 0.18, 0.22, 0.45, 0.75, 0.95, 1.00, 0.95, 0.95,
          1.00, 1.00, 1.05, 1.10, 1.10, 1.15, 1.35, 1.45, 1.35, 1.30, 1.25, 1.00]
GOLDMAN = [(-74.0141012, 40.7152191), (-74.013777, 40.7152275),
           (-74.0141027, 40.7138745), (-74.0144185, 40.7140753)]
CITIGROUP = [(-74.011869, 40.7217236), (-74.009867, 40.721493),
             (-74.010140, 40.720053), (-74.012083, 40.720267)]
HQS = {"goldman": GOLDMAN, "citigroup": CITIGROUP}
BOX = (-74.02, -73.93, 40.70, 40.80)   # background dropoff area
MARGIN = 0.001                          # background keeps this far from any HQ
PLANT_EVERY = 40                        # minutes between planted windows
HQ_RATE = 0.05                          # per file and HQ: one dropoff inside
GREEN_SHARE = 46_741 / 417_740


def file_name(minute):
    return f"part-2015-12-01-{minute // 60:02d}{minute % 60:02d}.csv"


def window_ts(minute):
    """Seconds of day of the end of the 10-minute window holding `minute`
    (wraps at midnight, as Task4's `timestamp` column does)."""
    return ((minute // 10 + 1) * 600) % 86_400


def inside(poly, x, y):
    """Even-odd point-in-polygon test."""
    hit = False
    for (x1, y1), (x2, y2) in zip(poly, poly[1:] + poly[:1]):
        if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
            hit = not hit
    return hit


def f32(x):
    """The float32 a CSV reader declared `Float` parses, printed exactly."""
    return repr(float(np.float32(x)))


def _bbox(poly, pad):
    xs, ys = zip(*poly)
    return min(xs) - pad, max(xs) + pad, min(ys) - pad, max(ys) + pad


def plan(seed):
    """Per-minute counts: background rows, HQ rows and planted windows."""
    rng = np.random.default_rng([seed, 1_000_000])
    w = np.repeat(HOURLY, 60)
    rows = rng.poisson(DAY_ROWS * w / w.sum())
    planted = {}   # start minute of the planted window -> (hq, rows inside)
    for i, m in enumerate(range(20, 1440, PLANT_EVERY)):
        planted[m] = ("goldman" if i % 2 == 0 else "citigroup", int(rng.integers(12, 17)))
    quiet = {(hq, s - 10 + k) for s, (hq, _) in planted.items() for k in range(10)}
    minutes = []
    for m in range(1440):
        hq_rows = {hq: int(rng.random() < HQ_RATE and (hq, m) not in quiet) for hq in HQS}
        p = planted.get(m)
        minutes.append({"minute": m, "background": int(rows[m]), "hq": hq_rows,
                        "planted": list(p) if p else None})
    return minutes


def counts(entry):
    """(window timestamp, hq) -> rows of one file, and its total rows."""
    m = entry["minute"]
    out = {}

    def add(ts, hq, n):
        if n:
            out[(ts, hq)] = out.get((ts, hq), 0) + n
    near = 2 * len(HQS)
    add(window_ts(m), "none", entry["background"] + near)
    for hq, n in entry["hq"].items():
        add(window_ts(m), hq, n)
    if entry["planted"]:
        hq, n = entry["planted"]
        add(window_ts(m), hq, n)
        add(window_ts(m - 1), hq, 1)
    return out, sum(out.values())


def manifest(seed):
    files = []
    for e in plan(seed):
        c, total = counts(e)
        files.append({"name": file_name(e["minute"]), "minute": e["minute"], "rows": total,
                      "counts": [[ts, hq, n] for (ts, hq), n in sorted(c.items())],
                      "planted": e["planted"]})
    return {"seed": seed, "files": files}


# --- rows ----------------------------------------------------------------

def _ts(minute, sec):
    return f"2015-12-01 {minute // 60:02d}:{minute % 60:02d}:{sec:02d}"


def _point_in(rng, poly):
    """A point well inside a convex polygon: a convex combination with
    every weight at least 0.15."""
    wts = 0.15 + 0.4 * rng.dirichlet(np.ones(len(poly)))
    wts /= wts.sum()
    return (sum(wt * x for wt, (x, _) in zip(wts, poly)),
            sum(wt * y for wt, (_, y) in zip(wts, poly)))


def _point_near(rng, poly):
    """A point just outside the polygon's bounding box."""
    x0, x1, y0, y1 = _bbox(poly, 0.0003)
    side = rng.integers(0, 4)
    if side < 2:
        return (x0, x1)[side], rng.uniform(y0, y1)
    return rng.uniform(x0, x1), (y0, y1)[side - 2]


def _point_background(rng):
    boxes = [_bbox(p, MARGIN) for p in HQS.values()]
    while True:
        x, y = rng.uniform(BOX[0], BOX[1]), rng.uniform(BOX[2], BOX[3])
        if not any(a <= x <= b and c <= y <= d for a, b, c, d in boxes):
            return x, y


def _row(rng, minute, sec, lon, lat):
    drop = _ts(minute, sec)
    ride = int(rng.integers(120, 2400))
    t = minute * 60 + sec - ride
    pick = _ts(max(t, 0) // 60, max(t, 0) % 60) if t >= 0 else "2015-11-30 23:59:00"
    plon, plat = rng.uniform(BOX[0], BOX[1]), rng.uniform(BOX[2], BOX[3])
    fare = round(2.5 + ride / 90, 2)
    tip = round(fare * 0.15, 2)
    total = round(fare + tip + 0.8, 2)
    dist = ride / 400
    if rng.random() < GREEN_SHARE:
        return (f"green,2,{pick},{drop},N,1,{f32(plon)},{f32(plat)},{f32(lon)},{f32(lat)},"
                f"1,{dist:.2f},{fare},0,0.5,{tip},0,,0.3,{total},1,1")
    return (f"yellow,1,{pick},{drop},1,{dist:.2f},{f32(plon)},{f32(plat)},1,N,"
            f"{f32(lon)},{f32(lat)},1,{fare},0,0.5,{tip},0,0.3,{total}")


def rows(seed, entry):
    """The CSV lines of one minute-file, in shuffled order."""
    m = entry["minute"]
    rng = np.random.default_rng([seed, m])
    sec = lambda: int(rng.integers(0, 60))
    out = [_row(rng, m, sec(), *_point_background(rng)) for _ in range(entry["background"])]
    for poly in HQS.values():
        out += [_row(rng, m, sec(), *_point_near(rng, poly)) for _ in range(2)]
    for hq, n in entry["hq"].items():
        out += [_row(rng, m, sec(), *_point_in(rng, HQS[hq])) for _ in range(n)]
    if entry["planted"]:
        hq, n = entry["planted"]
        out += [_row(rng, m, sec(), *_point_in(rng, HQS[hq])) for _ in range(n)]
        out.append(_row(rng, m - 1, 59, *_point_in(rng, HQS[hq])))
    rng.shuffle(out)
    return out


def write_file(directory, seed, entry):
    """Write then rename, so the stream never lists a partial file."""
    name = file_name(entry["minute"])
    tmp = os.path.join(directory, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(rows(seed, entry)) + "\n")
    os.rename(tmp, os.path.join(directory, name))
    return name


def main(argv):
    mode = argv[0]
    directory, seed = argv[1], int(argv[2])
    os.makedirs(directory, exist_ok=True)
    entries = plan(seed)
    if mode == "backlog":
        n = int(argv[3])
        base = time.time() - n - 10
        for e in entries[:n]:
            path = os.path.join(directory, write_file(directory, seed, e))
            # strictly increasing mtimes: the file source then reads the
            # backlog in minute order, 60 files (one hour) per trigger
            t = base + e["minute"]
            os.utime(path, (t, t))
        return
    first, n, interval, start = (int(a) for a in argv[3:7])
    start = start or int(time.time() * 1000) + 200   # 0: from now
    log = []
    for i, e in enumerate(entries[first:first + n]):
        due = start + i * interval
        wait = due / 1000 - time.time()
        if wait > 0:
            time.sleep(wait)
        name = write_file(directory, seed, e)
        log.append({"name": name, "due_ms": due, "done_ms": int(time.time() * 1000)})
    with open(argv[7], "w") as f:
        json.dump(log, f)


if __name__ == "__main__":
    main(sys.argv[1:])
