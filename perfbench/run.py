#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one fresh JVM.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (sbt, offline) when any
source changed, generates the workload's inputs from the seed, runs the
harness JVM (`graftbench.Main`), checks every output, and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones.

`--pin` records the batch digests of the seed's table variant in
digests.json instead of checking them (see README.md).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen_taxi  # noqa: E402
import metrics as M  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
DIGESTS = os.path.join(HERE, "digests.json")
DEADLINE_S = 170          # every run ends within 180 s
VARIANTS = 4              # batch table variants; the seed picks one
PROGRAM_CACHES = ("/tmp/graft_dedup_pairs", "/tmp/graft_ivfpq_index", "/tmp/graft_lsh_index")

# Every 12th of the 117 registered queries in sorted order (fixed here, so
# queries registered later do not change the workload): all 8 families,
# and compose is about half of the wall time.
SUITE = [
    "dedup_cand_pairs", "dedup_source_overlap", "ev_interval_join", "mm_ahash_pairs",
    "pipe_dataset_card", "rel_cube_agg", "rel_scalar_subquery", "sim_quantize_int8",
    "sketch_exact_distinct", "text_langid",
]
# A suite run times `min_passes` passes over the tables, or more if they end
# before --seconds; a query's time is its median over the passes.
# The taxi backlog is drained `files_per_trigger` files at a time, so the
# timed drain spans many triggers. The warm-up stream runs `warm_files`
# files in triggers of `warm_per_trigger`: enough triggers and rows for the
# JIT to compile the per-trigger and per-row code before the drain is timed.
WORKLOADS = {
    "suite_sf0.1": {"queries": SUITE, "sf": 0.1, "min_passes": 3},
    "taxi_task4": {"backlog": 240, "files_per_trigger": 20, "interval_ms": 100,
                   "warm_files": 40, "warm_per_trigger": 4},
}
# Per-layer metric prefixes a workload does not exercise: those read 0.
# Every other per-layer metric must be reported, or the run is an error.
IDLE_LAYERS = {
    "suite_sf0.1": ("streaming.", "gen."),
    "taxi_task4": ("operators.", "catalyst.", "execution.", "family_wall_s."),
}
WARM_SF = 0.001           # the batch warm-up tables
SBT_OPTS = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- build ---------------------------------------------------------------

def _sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(fs)]
    return out


def build():
    """sbt-compile the program and the harness when a source changed;
    returns the harness's runtime classpath."""
    for f in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, f)):
            raise BenchError(f"not a graft checkout: {f} is missing under {ROOT}")
    h = hashlib.sha256()
    for f in _sources():
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = fh.read().split("\n", 1)
        if saved[0] == stamp:
            return saved[1].strip()
    os.makedirs(BUILD, exist_ok=True)
    opts = list(SBT_OPTS)
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building the program and the harness (sbt)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export graftbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [x for x in r.stdout.splitlines() if x.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1][:1]:
        raise BenchError(f"sbt build failed (exit {r.returncode}); see {BUILD}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp)
    return cp


# --- processes -------------------------------------------------------------

def run_jvm(cp, mode, opts, work, deadline):
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", mode] + [f"{k}={v}" for k, v in opts.items()]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.out"), "w") as out, \
            open(os.path.join(work, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("the harness JVM ran past the time limit")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        raise BenchError(f"the harness JVM exited {code}; see {work}/jvm.err")
    with open(opts["out"]) as fh:
        return json.load(fh)


def python_step(args):
    """Run a generator as its own single-threaded process; its seconds."""
    t = time.time()
    subprocess.run([sys.executable] + args, check=True, stdin=subprocess.DEVNULL,
                   env=dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1"))
    return time.time() - t


def remove_program_caches(work):
    """graft caches pair relations and indexes under /tmp, one entry per
    input directory, named after its path. Removes the entries of the
    directories under `work`, so runs leave nothing behind."""
    prefix = re.sub(r"[^A-Za-z0-9._-]", "_", os.path.realpath(work))
    for d in PROGRAM_CACHES:
        try:
            names = os.listdir(d)
        except OSError:
            continue
        for n in names:
            if n.startswith(prefix):
                shutil.rmtree(os.path.join(d, n), ignore_errors=True)


def host_load():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return 0.0


# --- workloads -------------------------------------------------------------

def batch(cp, spec, seed, a, work, deadline):
    variant = seed % VARIANTS
    data, warm = os.path.join(work, "data"), os.path.join(work, "warm")
    gen = os.path.join(HERE, "gen_tables.py")
    gen_s = python_step([gen, data, str(variant), str(spec["sf"])])
    gen_s += python_step([gen, warm, str(100 + variant), str(WARM_SF)])
    launch = time.time()
    r = run_jvm(cp, "batch", {
        "data": data, "warm": warm, "queries": ",".join(spec["queries"]), "trace": a.trace,
        "seconds": a.seconds, "min_passes": spec["min_passes"],
        "out": os.path.join(work, "result.json"), "work": work, "cpus": cpus()}, work, deadline)

    pins = load_digests().get(a.workload, {}).get(str(variant), {})
    failed = {}
    for q in r["queries"]:
        if q["error"]:
            failed[q["name"]] = q["error"]
        elif not a.pin and pins.get(q["name"]) != q["digest"]:
            failed[q["name"]] = f"digest {q['digest']} != pinned {pins.get(q['name'])}"
        elif a.pin and q["digest"] != r["queries"][spec["queries"].index(q["name"])]["digest"]:
            failed[q["name"]] = f"digest {q['digest']} differs between passes"
    for n, why in failed.items():
        log(f"FAILED {n}: {why}")
    if a.pin:
        save_digests(a.workload, variant, {q["name"]: q["digest"] for q in r["queries"]})

    per_query = list(M.query_medians(r["queries"]).values())
    e2e = {
        "setup_s": gen_s + r["timed_start_ms"] / 1000 - launch,
        "wall_s": sum(per_query),
        "latency_p50_ms": 1000 * M.median(per_query),
        "latency_p90_ms": 1000 * M.percentile(per_query, 90),
    }
    L = dict(r["layers"])
    if a.trace:
        run_s = L.get("execution.task_run_s", 0.0)
        L["execution.cpu_per_run"] = L.get("execution.task_cpu_s", 0.0) / run_s if run_s else 0.0
        busy = L.get("execution.s", 0.0) * r["cpus"]
        L["execution.slot_busy"] = run_s / busy if busy else 0.0
        L["trace.wall_s"] = e2e["wall_s"]
        write_trace(work, r["spans"])
    return e2e, L, r, len(spec["queries"]), len(failed)


def taxi(cp, spec, seed, a, work, deadline):
    feed, warm = os.path.join(work, "feed"), os.path.join(work, "warm")
    gen = os.path.join(HERE, "gen_taxi.py")
    manifest = gen_taxi.manifest(seed)
    t0 = time.time()
    python_step([gen, "backlog", feed, str(seed), str(spec["backlog"])])
    python_step([gen, "backlog", warm, str(seed + 1), str(spec["warm_files"])])
    gen_s = time.time() - t0
    live_log = os.path.join(work, "gen-live.json")
    # the live phase lasts --seconds: one minute-file every interval
    n_live = int(a.seconds * 1000 / spec["interval_ms"])
    live = "|".join([sys.executable, gen, "live", feed, str(seed), str(spec["backlog"]),
                     str(n_live), str(spec["interval_ms"]), "0", live_log])
    cp_dir = os.path.join(work, "checkpoint")
    launch = time.time()
    r = run_jvm(cp, "taxi", {
        "input": feed, "output": os.path.join(work, "out"), "checkpoint": cp_dir,
        "warm": warm, "gen": live, "files_per_trigger": spec["files_per_trigger"],
        "warm_per_trigger": spec["warm_per_trigger"],
        "out": os.path.join(work, "result.json"), "work": work, "cpus": cpus()}, work, deadline)

    with open(os.path.join(work, "result.json.progress.jsonl")) as fh:
        progress = [json.loads(x) for x in fh if x.strip()]
    with open(live_log) as fh:
        gen_log = json.load(fh)
    entries = []
    src = os.path.join(cp_dir, "sources", "0")
    for f in sorted(os.listdir(src)):
        if not f.startswith("."):
            with open(os.path.join(src, f)) as fh:
                entries += M.read_source_log(fh.read())
    batches = M.batch_files(entries)
    with open(os.path.join(work, "jvm.out")) as fh:
        printed = M.printed_trends(fh.read())

    # output checks
    written = {f["name"] for f in manifest["files"][:spec["backlog"]]} | {g["name"] for g in gen_log}
    read = {n for names in batches.values() for n in names}
    rows = {f["name"]: f["rows"] for f in manifest["files"]}
    expected = M.replay_trends(manifest, batches)
    fired = {(hq, ts) for hq, _, ts, _ in printed}
    checks = {
        "every written file read once": read == written
        and sum(len(v) for v in batches.values()) == len(written),
        "rows processed == rows generated":
            sum(p["numInputRows"] for p in progress) == sum(rows[n] for n in written),
        "trend set == replay of the generator's counts": printed == expected,
        "planted windows fire": M.planted_windows(manifest, read) <= fired,
    }
    triggers = [p for p in progress if p["numInputRows"] > 0]
    # the drain is timed from the end of its first trigger, which also pays
    # for the query's start-up, to the end of its last
    backlog_names = {f["name"] for f in manifest["files"][:spec["backlog"]]}
    drain = [p for p in triggers if set(batches.get(p["batchId"], [])) <= backlog_names]
    if len(drain) < 3:
        raise BenchError(f"the backlog drained in {len(drain)} triggers: too few to time")
    failed = [k for k, ok in checks.items() if not ok]
    if r["error"] or r["gen_exit"]:
        failed.append(f"stream error: {r['error']} / generator exit {r['gen_exit']}")
    for k in failed:
        log(f"FAILED {k}")

    due = {g["name"]: g["due_ms"] for g in gen_log}
    lat = list(M.file_latencies(due, batches, progress).values())
    if len(lat) < len(gen_log):
        failed.append("live files without a trigger")
    if M.tail_percentile(len(lat)) is None or M.tail_percentile(len(lat)) < 90:
        raise BenchError(f"only {len(lat)} live files: too few for a p90")
    e2e = {
        "setup_s": gen_s + r["timed_start_ms"] / 1000 - launch,
        "wall_s": (M.progress_end_ms(drain[-1]) - M.progress_end_ms(drain[0])) / 1000,
        "latency_p50_ms": M.median(lat),
        "latency_p90_ms": M.percentile(lat, 90),
    }
    layers = {}
    if a.trace:
        layers = stream_layers(triggers, drain, e2e["wall_s"], batches, gen_log)
        layers["trace.wall_s"] = e2e["wall_s"]
        write_trace(work, [{"name": f"trigger#{p['batchId']}", "kind": "trigger",
                            "parent": "stream",
                            "start_ms": M.progress_end_ms(p) - p["durationMs"]["triggerExecution"],
                            "end_ms": M.progress_end_ms(p),
                            "s": p["durationMs"]["triggerExecution"] / 1000}
                           for p in triggers])
    return e2e, layers, r, len(triggers) + len(checks), len(failed)


def stream_layers(triggers, drain, drain_s, batches, gen_log):
    d = lambda k: [p["durationMs"][k] for p in triggers]
    last_state = triggers[-1]["stateOperators"]
    if not last_state:
        raise BenchError("the last trigger reported no state operator")
    drain_rows = sum(p["numInputRows"] for p in drain[1:])
    # files due but not yet read when each live trigger started
    done = {g["name"]: g["done_ms"] for g in gen_log}
    seen, outstanding = set(), [0]
    for p in triggers:
        start = M.progress_end_ms(p) - p["durationMs"]["triggerExecution"]
        outstanding.append(sum(1 for n, t in done.items() if t <= start and n not in seen))
        seen |= set(batches.get(p["batchId"], []))
    lag = [g["done_ms"] - g["due_ms"] for g in gen_log]
    return {
        "streaming.batches": len(triggers),
        "streaming.trigger_ms_p50": M.median(d("triggerExecution")),
        "streaming.addBatch_ms": M.median(d("addBatch")),
        "streaming.queryPlanning_ms": M.median(d("queryPlanning")),
        "streaming.latestOffset_ms": M.median(d("latestOffset")),
        "streaming.getBatch_ms": M.median(d("getBatch")),
        "streaming.walCommit_ms": M.median(d("walCommit")),
        "streaming.commitOffsets_ms": M.median(d("commitOffsets")),
        "streaming.rows_per_batch_p50": M.median([p["numInputRows"] for p in triggers]),
        "streaming.state_rows": sum(s["numRowsTotal"] for s in last_state),
        "streaming.state_mem_bytes": sum(s["memoryUsedBytes"] for s in last_state),
        "streaming.backlog_files_max": max(outstanding),
        "streaming.drain_rows_per_s": drain_rows / drain_s,
        "gen.lag_ms_p90": M.percentile(lag, 90),
        "gen.lag_ms_max": max(lag),
    }


def write_trace(work, spans):
    """Spans (name, kind, parent, start, end) of the traced run."""
    with open(os.path.join(work, "trace.json"), "w") as fh:
        json.dump(spans, fh)


# --- digests ---------------------------------------------------------------

def load_digests():
    if not os.path.exists(DIGESTS):
        return {}
    with open(DIGESTS) as fh:
        return json.load(fh)


def save_digests(workload, variant, digests):
    d = load_digests()
    d.setdefault(workload, {})[str(variant)] = dict(sorted(digests.items()))
    with open(DIGESTS, "w") as fh:
        json.dump(d, fh, indent=1, sort_keys=True)
        fh.write("\n")


def cpus():
    """Spark slots: half the cores. The other half absorbs the JIT and GC
    threads, the feed generator and the host's steal, so that one stalled
    core does not hold up every task of a stage."""
    return str(os.environ.get("SPARK_GRAFT_CPUS") or max(1, (os.cpu_count() or 4) // 2))


# --- main ------------------------------------------------------------------

def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pin", action="store_true")
    a = p.parse_args(argv)
    start = time.time()
    cp = build()
    deadline = time.time() + DEADLINE_S - min(time.time() - start, 10)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in
                 json.load(fh)["per_layer" if a.trace else "end_to_end"]}
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = host_load()
    spec = WORKLOADS[a.workload]
    fn = taxi if "backlog" in spec else batch
    try:
        e2e, layers, r, attempted, failed = fn(cp, spec, a.seed, a, work, deadline)
    finally:
        remove_program_caches(work)
    values = e2e
    if a.trace:
        busy = r["busy_jiffies"]
        layers["host.steal_frac"] = r["steal_jiffies"] / busy if busy else 0.0
        layers["host.load_before"] = load_before
        layers["host.rss_peak_mb"] = r["rss_peak_mb"]
        missing = [n for n in units if n not in layers
                   and not n.startswith(IDLE_LAYERS[a.workload])]
        if missing:
            raise BenchError(f"the traced run did not report {', '.join(missing)}")
        values = {n: float(layers.get(n, 0.0)) for n in units}
    for d in ("data", "feed"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units}}))


if __name__ == "__main__":
    # a terminated run still kills and waits for the JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main(sys.argv[1:])
    except (BenchError, OSError, subprocess.SubprocessError, KeyError, ValueError) as e:
        log(f"error: {e}")
        sys.exit(2)
