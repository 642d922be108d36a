#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, end to end or per layer.

    python3 perfbench/run.py --workload crawl_deep|query_block \
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a graft checkout. The first run builds the Scala
driver (perfbench/build.sbt, which depends on the checkout's own build) into
`.bench_build/`; later runs reuse it until a source file changes. The last
line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the run's spans are kept in .bench_build/spans/.
"""
import argparse
import hashlib
import json
import os
import shutil
import stat
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# query_block's input: a copy of the repository's 0.01-scale test tables
TABLES = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("crawl_deep", "query_block")
MODULES = ("relational", "text", "vector", "image", "media")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# crawl-root subdirectories behind each state.*_bytes metric
STATE_DIRS = {"attempts": ["attempts"], "frontier": ["frontier", "frontier_rem"],
              "seen": ["seen"], "keys": ["frontier_keys", "seen_keys"],
              "bloom": ["bloom"]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def percentile(xs, p):
    """Linear-interpolated p-th percentile (0..100) of a non-empty list."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(xs, beyond=10):
    """(value, percentile) of the highest percentile on TAIL_LADDER with at
    least `beyond` samples strictly above it; (max, 100) when no percentile
    has that many, and (0, 0) for no samples."""
    if not xs:
        return 0.0, 0.0
    for p in TAIL_LADDER:
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= beyond:
            return v, p
    return max(xs), 100.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tree_bytes(root, seen=None):
    """Bytes of the regular files under `root`, recursively, counting each
    inode once (hard links share one inode). `seen` carries the inodes
    already counted across calls."""
    seen = set() if seen is None else seen
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            key = (st.st_dev, st.st_ino)
            if stat.S_ISREG(st.st_mode) and key not in seen:
                seen.add(key)
                total += st.st_size
    return total


# ---------------------------------------------------------------- metrics

def declared_metrics():
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def work_units(raw, workload):
    """The workload's units of batch work: a deep round after round 0 (one
    resume call), or one warm pass over the query list (its queries summed).
    Round 0 (run in set-up) and the cold pass are warm-up, not work."""
    ops = [o for o in raw["ops"] if o["ok"]]
    if workload == "crawl_deep":
        return [o for o in ops if o["kind"] == "round"]
    passes = {}
    for o in ops:
        if o["kind"].startswith("warm."):
            passes.setdefault(o["kind"], []).append(o)
    n = max((len(v) for v in passes.values()), default=0)
    return [{k: sum(q[k] for q in qs) for k in
             ("wall_s", "cpu_s", "task_s", "busy_s", "shuffle_read",
              "shuffle_write", "spill", "input", "output")}
            for qs in passes.values() if len(qs) == n]


def end_to_end(raw, workload):
    return {
        "work_cpu_s": median([o["cpu_s"] for o in work_units(raw, workload)]),
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        "setup_s": median(raw["setup_s"]),
    }


def per_layer(raw, workload, disk, oracle_s, failed, names):
    cores = raw["cores"]
    ops = [o for o in raw["ops"] if o["ok"]]
    kind = lambda *ks: [o for o in ops if o["kind"] in ks]
    m = {}

    crawl = kind("round")
    urls = sum(o["urls"] for o in crawl)
    crawl_wall = sum(o["wall_s"] for o in crawl)
    m["urls_per_s"] = urls / crawl_wall if crawl_wall else 0.0
    m["cpu_ms_per_url"] = 1e3 * sum(o["cpu_s"] for o in crawl) / urls if urls else 0.0
    rounds = kind("round")
    m["round_s_p50"] = median([o["wall_s"] for o in rounds])
    m["round_s_tail"], m["round_s_tail_pct"] = tail([o["wall_s"] for o in rounds])
    m["round_s_n"] = len(rounds)
    lookups = kind("lookup")
    m["lookup_ms_p50"] = 1e3 * median([o["wall_s"] for o in lookups])
    lookup_tail, m["lookup_ms_tail_pct"] = tail([o["wall_s"] for o in lookups])
    m["lookup_ms_tail"] = 1e3 * lookup_tail
    m["lookup_n"] = len(lookups)
    passes = work_units(raw, "query_block")
    m["query_block_s"] = median([p["wall_s"] for p in passes])
    m["query_cpu_s"] = median([p["cpu_s"] for p in passes])
    scheduled = raw.get("counts", {}).get("scheduled", 0)
    m["disk_bytes_per_url"] = disk.get("total", 0) / scheduled if scheduled else 0.0
    m["setup_first_s"] = raw["setup_first_s"]
    m["error_rate"] = failed / max(raw["attempted"], 1)

    m["engine.run.wall_s"] = median(raw.get("engine_run_s", []))
    m["engine.round.cpu_s"] = median([o["cpu_s"] for o in rounds])
    m["engine.round.output_bytes"] = median([o["output"] for o in rounds])
    raw_us = raw.get("fetch_raw_us_per_url", 0.0)
    m["fetch.raw_us_per_url"] = raw_us
    m["engine.eff_vs_raw"] = (m["urls_per_s"] / (cores * 1e6 / raw_us)
                              if raw_us else 0.0)
    m["engine.round.driver_only_s"] = median(
        [o["wall_s"] - o["busy_s"] for o in rounds])
    m["engine.round.core_idle_frac"] = median(
        [1 - o["task_s"] / (cores * o["wall_s"]) for o in rounds])
    for k, src in (("jobs", "jobs"), ("tasks", "tasks"),
                   ("shuffle_read_bytes", "shuffle_read"),
                   ("shuffle_write_bytes", "shuffle_write"),
                   ("spill_bytes", "spill")):
        m[f"engine.round.{k}"] = median([o[src] for o in rounds])
    m["snapshot.latest_ms"] = raw.get("snapshot_latest_ms", 0.0)
    for k in STATE_DIRS:
        m[f"state.{k}_bytes"] = disk.get(k, 0)
    m["lookup.cpu_ms_p50"] = 1e3 * median([o["cpu_s"] for o in lookups])
    m["lookup.input_bytes"] = median([o["input"] for o in lookups])
    m["lookup.driver_only_ms"] = 1e3 * median(
        [o["wall_s"] - o["busy_s"] for o in lookups])

    counts = raw.get("counts", {})
    for k in ("scheduled", "fetched_ok", "rounds", "frontier_rows", "seen_rows"):
        m[f"engine.{k}"] = counts.get(k, 0)
    m["engine.fetch_ok_ratio"] = (counts["fetched_ok"] / counts["scheduled"]
                                  if counts.get("scheduled") else 0.0)

    queries = [o for o in ops if o["kind"].startswith("warm.")]
    for name in names:  # query.<name>.wall_s / .cpu_s, one per headline query
        parts = name.split(".")
        if parts[0] == "query" and len(parts) == 3 and parts[2] in ("wall_s", "cpu_s"):
            m[name] = median([o[parts[2]] for o in queries
                              if o["name"] == f"query.{parts[1]}"])
    n_pass = max(len(passes), 1)
    for mod in MODULES:
        qs = [o for o in queries if o["module"] == mod]
        m[f"ops.{mod}.wall_s"] = sum(o["wall_s"] for o in qs) / n_pass
        m[f"ops.{mod}.shuffle_bytes"] = sum(
            o["shuffle_read"] + o["shuffle_write"] for o in qs) / n_pass
        m[f"ops.{mod}.spill_bytes"] = sum(o["spill"] for o in qs) / n_pass
    m["query.driver_only_s"] = median([p["wall_s"] - p["busy_s"] for p in passes])
    m["query.core_idle_frac"] = median(
        [1 - p["task_s"] / (cores * p["wall_s"]) for p in passes])

    m["box.steal_pct"] = raw["box_steal_pct"]
    m["box.busy_pct"] = raw["box_busy_pct"]
    m["oracle.check_s"] = raw["check_s"] + oracle_s
    all_wall = sum(o["wall_s"] for o in ops)
    m["trace.overhead_frac"] = raw["trace_self_s"] / all_wall if all_wall else 0.0
    m["trace.cpu_coverage"] = (sum(o["cpu_s"] for o in ops) / raw["listener_cpu_s"]
                               if raw["listener_cpu_s"] else 1.0)
    m["trace.work_cpu_s"] = end_to_end(raw, workload)["work_cpu_s"]
    return m


# ---------------------------------------------------------------- checks

def oracle_check(raw):
    """Each query result against its DuckDB oracle SQL, as multisets of
    rows. Returns the names that differ (or could not be compared)."""
    import duckdb
    con = duckdb.connect()
    tables = raw["tables_dir"]
    for f in sorted(os.listdir(tables)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"parquet_scan('{os.path.join(tables, f)}')")
    bad = []
    for name, sql in sorted(raw["oracle_sql"].items()):
        d = os.path.join(raw["results_dir"], name)
        try:
            got = con.execute(f"SELECT * FROM parquet_scan('{d}/*.parquet')").fetchall()
            want = con.execute(sql).fetchall()
        except Exception as e:  # a missing or unreadable result is a mismatch
            log(f"oracle {name}: {e}")
            bad.append(name)
            continue
        norm = lambda rows: sorted(tuple(str(v) for v in r) for r in rows)
        if norm(got) != norm(want):
            log(f"oracle {name}: {len(got)} rows vs {len(want)} expected, values differ")
            bad.append(name)
    return bad


def disk_usage(root):
    """Inode-unique bytes under a crawl root: in total and per state kind."""
    out = {"total": tree_bytes(root)}
    for k, dirs in STATE_DIRS.items():
        seen = set()
        out[k] = sum(tree_bytes(os.path.join(root, d), seen) for d in dirs)
    return out


# ---------------------------------------------------------------- build/run

def source_stamp():
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _d, fs in os.walk(base):
            files += [os.path.join(dirpath, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build the driver if its sources changed; return its classpath."""
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log("building the driver with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "sbt.log"), "w") as sbt_log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sbt_log,
            text=True, timeout=BUILD_TIMEOUT_S)
        sbt_log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise RuntimeError("sbt build failed; see .bench_build/sbt.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def heap():
    """Half of MemTotal in whole GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_driver(args, work, cores, cp):
    h = heap()
    cmd = (["java"] + [x for p in JDK_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{h}", f"-Xms{h}", "-XX:+UseParallelGC",
              f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Driver",
              args.workload, str(args.seed), str(args.seconds), str(args.trace),
              work, str(cores), "1" if args.smoke else "0", TABLES])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(os.path.join(work, "driver.log"), "w") as out:
        p = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    if p.returncode != 0:
        with open(os.path.join(work, "driver.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"driver exited with {p.returncode}")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one set-up; for the benchmark's own tests")
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no graft sources next to {HERE}; run from a graft checkout")
        return 2
    e2e_units, layer_units = declared_metrics()
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass

    cp = classpath()
    work = os.path.join(BUILD, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        raw = run_driver(args, work, cores, cp)
        log(f"driver {time.time() - t0:.1f}s (set-up {raw['setup_first_s']:.1f}s, "
            f"checks {raw['check_s']:.1f}s; box busy {raw['box_busy_pct']:.0f}%, "
            f"steal {raw['box_steal_pct']:.1f}%)")
        t0 = time.time()
        mismatches = oracle_check(raw) if args.workload == "query_block" else []
        oracle_s = time.time() - t0
        log(f"oracle check {oracle_s:.1f}s")
        disk = disk_usage(raw["crawl_root"]) if "crawl_root" in raw else {}
        if args.trace:
            os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
            shutil.copy(raw["spans_file"], os.path.join(
                BUILD, "spans", f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed_checks = [k for k, ok in raw["checks"].items() if not ok] + mismatches
    correct = not failed_checks and raw["failed"] == 0
    for k in failed_checks:
        log(f"check failed: {k}")
    failed = raw["failed"] + len(failed_checks)
    attempted = max(raw["attempted"], 1)
    if args.trace:
        values = per_layer(raw, args.workload, disk, oracle_s, failed,
                           layer_units)
        units = layer_units
    else:
        values = end_to_end(raw, args.workload)
        units = e2e_units
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not computed: {sorted(missing)}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
