"""Pure metric and output-check functions of the benchmark (no I/O)."""
import json
import re
from datetime import datetime

LADDER = (50, 75, 90, 95, 99, 99.9)


def tail_percentile(n):
    """The highest percentile of LADDER that leaves at least 10 of `n`
    samples beyond it, or None when even p50 does not."""
    best = None
    for p in LADDER:
        if n * (100 - p) / 100 >= 10 - 1e-9:
            best = p
    return best


def percentile(values, p):
    """Linear-interpolation percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50)


def query_medians(rows):
    """Query name -> median of its times over the timed passes, from the
    harness's per-pass rows (`name`, `wall`; `wall` is None when the query
    failed in that pass)."""
    walls = {}
    for r in rows:
        if r["wall"] is not None:
            walls.setdefault(r["name"], []).append(r["wall"])
    return {n: median(w) for n, w in walls.items()}


# --- streaming -------------------------------------------------------------

def progress_end_ms(progress):
    """Wall-clock end of the trigger a progress event reports: its start
    timestamp plus its `triggerExecution` duration."""
    start = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%f%z")
    return int(start.timestamp() * 1000) + progress["durationMs"]["triggerExecution"]


def batch_files(entries):
    """Batch id -> sorted file names, from file-source log entries
    (dicts with `path` and `batchId`, as in `<checkpoint>/sources/0`)."""
    out = {}
    for e in entries:
        name = e["path"].rsplit("/", 1)[-1]
        out.setdefault(e["batchId"], set()).add(name)
    return {b: sorted(v) for b, v in out.items()}


def read_source_log(text):
    """Entries of one file-source log file: a version line, then JSON."""
    return [json.loads(line) for line in text.splitlines()[1:] if line.strip()]


def file_latencies(due_ms, batches, progress):
    """Per file: end of the trigger whose batch read it, minus the time the
    file was due to be written. `due_ms` maps file name -> due time;
    `batches` maps batch id -> file names; `progress` is the list of
    progress events. Files without a due time (the backlog) are skipped."""
    end = {}
    for p in progress:
        # idle triggers repeat a batch id with no input; keep the real one
        if p["numInputRows"] > 0:
            end.setdefault(p["batchId"], progress_end_ms(p))
    out = {}
    for b, names in batches.items():
        for n in names:
            if n in due_ms and b in end:
                out[n] = end[b] - due_ms[n]
    return out


def replay_trends(manifest, batches):
    """Task4's fired trends, recomputed from the generator's counts.

    Each batch is an update-mode result: every (window, hq) group its
    files touched, with the count accumulated over all batches so far.
    The trend join pairs groups of the same batch 600 s apart, for an HQ
    other than `none`, with count >= 10 and count - prev >= prev.
    Returns sorted (hq, count, timestamp, prev) tuples."""
    by_name = {f["name"]: f for f in manifest["files"]}
    state = {}
    fired = []
    for b in sorted(batches):
        touched = set()
        for name in batches[b]:
            for ts, hq, n in by_name[name]["counts"]:
                state[(ts, hq)] = state.get((ts, hq), 0) + n
                touched.add((ts, hq))
        for ts, hq in touched:
            if hq == "none" or (ts - 600, hq) not in touched:
                continue
            c, prev = state[(ts, hq)], state[(ts - 600, hq)]
            if c >= 10 and c - prev >= prev:
                fired.append((hq, c, ts, prev))
    return sorted(fired)


def planted_windows(manifest, names):
    """(hq, timestamp) of every planted window among the files `names`."""
    out = set()
    for f in manifest["files"]:
        if f["name"] in names and f["planted"]:
            out.add((f["planted"][0], ((f["minute"] // 10 + 1) * 600) % 86_400))
    return out


# printed by the harness between the warm-up stream and the timed query
TIMED_MARK = "graftbench: timed query starts"
TREND = re.compile(r"The number of arrivals to (\w+) has doubled from (\d+) to (\d+) at (\d+)!")


def printed_trends(stdout):
    """(hq, count, timestamp, prev) of every trend line the timed query
    printed: the lines after TIMED_MARK (the warm-up stream prints before)."""
    if TIMED_MARK not in stdout:
        raise ValueError("the harness printed no start mark for the timed query")
    timed = stdout.split(TIMED_MARK, 1)[1]
    return sorted((m.group(1), int(m.group(3)), int(m.group(4)), int(m.group(2)))
                  for m in TREND.finditer(timed))
