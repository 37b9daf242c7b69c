#!/usr/bin/env python3
"""graft benchmark: run one workload for one seed and print its metrics.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --certify

Run from the root of a checkout. A run builds the program and the runner
with sbt (offline) when their sources changed since the last build, and
otherwise reuses it. The last stdout line
is one JSON object with the keys `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. Every run checks each query's result against
certified.json; `--certify` rebuilds that file from the DuckDB oracle. See
README.md in this directory for the workloads and what each metric means.
"""
import argparse
import bisect
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
# Result fingerprints of every manifest query, certified against the DuckDB
# oracle by `run.py --certify`.
CERTIFIED = os.path.join(HERE, "certified.json")
JVM_TIMEOUT_S = 150     # one runner JVM, wall
LAYER_TOLERANCE = 0.05  # layer-sum check: uncovered share of a query's wall
# Quiet-host bounds: a run beyond any of them is flagged in its output.
HOST_BOUNDS = {"steal": 0.25, "iowait": 0.10, "load_per_core": 1.0,
               "calibration_drift": 1.5}

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_qps": "1/s",
             "query_p50_s": "s", "query_tail_s": "s", "cpu_s": "s",
             "live_heap_mb": "MB", "ok_frac": "ratio"}


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- math ---

def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((a if lo is None else max(a, lo),
                      b if hi is None else min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it that its children cover."""
    start, end = span
    return (end - start) - union_length(children, start, end)


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it, as
    (value, percentile, samples beyond). Too few samples give the maximum,
    with 0 beyond."""
    s = sorted(samples)
    if not s:
        raise BenchError("no samples")
    k = len(s) - 1 - beyond
    if k < 0:
        return s[-1], 100.0, 0
    return s[k], 100.0 * (k + 1) / len(s), len(s) - 1 - k


def failed_frac(attempted, threw, wrong):
    """Share of query executions that threw or returned a wrong result."""
    if attempted < 1:
        raise BenchError("nothing attempted")
    return (threw + wrong) / attempted


def family(name):
    return name.split("_", 1)[0] + "_"


def resolve(workload, manifest, all_names):
    """The exact query names a workload times, checked against the program's
    query map: each must exist, be listed once and belong to a listed family,
    and each listed family must still have the size the manifest records."""
    names = manifest["queries"]
    dups = sorted({n for n in names if names.count(n) > 1})
    if dups:
        raise BenchError(f"{workload}: listed twice: {dups}")
    present = set(all_names)
    missing = [n for n in names if n not in present]
    if missing:
        raise BenchError(f"{workload}: not in SparkEntry.queries: {missing}")
    families = manifest["families"]
    stray = [n for n in names if family(n) not in families]
    if stray:
        raise BenchError(f"{workload}: outside the listed families: {stray}")
    for fam, size in sorted(families.items()):
        now = sum(1 for n in all_names if family(n) == fam)
        if now != size:
            raise BenchError(f"{workload}: family {fam} has {now} queries, "
                             f"the manifest records {size}")
    return list(names)


def fixtures():
    """The read-only seed-42 sf0.1 fixture directory, found as graft.Bench
    finds it."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# ------------------------------------------------------------ process ---

def run_logged(cmd, log, timeout, env=None, cwd=None, on_line=None):
    """Run `cmd` with its stderr in `log`; return (exit code, stdout lines).
    `on_line` sees each stdout line as it arrives. The process is killed
    after `timeout` seconds, and always waited for."""
    lines = []
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             text=True, env=env, cwd=cwd)
        timer = threading.Timer(timeout, p.kill)
        timer.start()
        try:
            for line in p.stdout:
                lines.append(line.rstrip("\n"))
                if on_line:
                    on_line(lines[-1])
        except BaseException:
            p.kill()
            raise
        finally:
            p.wait()
            timer.cancel()
    return p.returncode, lines


def source_key():
    """A hash of everything the build reads: both build definitions, every
    file under both source trees, and the heap size the root build takes
    from the environment."""
    h = hashlib.sha256(os.environ.get("SPARK_DRIVER_MEM", "").encode())
    for base in (ROOT, HERE):
        files = [os.path.join(base, "build.sbt")]
        for pattern in ("*.sbt", "*.scala", "*.properties"):
            files += glob.glob(os.path.join(base, "project", pattern))
        for d, _, fs in os.walk(os.path.join(base, "src")):
            files += [os.path.join(d, f) for f in fs]
        for path in sorted(files):
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the runner; return {"key", "classpath",
    "java_options", "names"}. The build is kept in out/build.json and
    reused while source_key() is unchanged, so a change to the program is
    always measured; sbt recompiles only what changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"no {need} at the checkout root: nothing to "
                             "build")
    stamp = os.path.join(OUT, "build.json")
    key = source_key()
    if os.path.exists(stamp):
        b = json.load(open(stamp))
        if b["key"] == key:
            return b
    log = os.path.join(OUT, "build.log")
    jvm_txt = os.path.join(OUT, "jvm.txt")
    if os.path.exists(jvm_txt):
        os.remove(jvm_txt)
    code, lines = run_logged(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "benchJvm"], log, 840,
        cwd=HERE)
    if code != 0 or not os.path.exists(jvm_txt):
        raise BenchError(f"build failed (exit {code}); see {log} and stdout "
                         + " | ".join(lines[-5:]))
    cp, *flags = open(jvm_txt).read().splitlines()
    b = {"key": key, "classpath": cp, "java_options": flags}
    _, names = jvm(b, ["list"], "list")
    b["names"] = names
    with open(stamp, "w") as f:
        json.dump(b, f)
    return b


def jvm(b, args, name):
    """Run the runner with the root build's JVM flags, as graft.Bench runs;
    return (seconds from launch to its READY line, stdout lines). Its
    stderr goes to out/<name>.log. Spark's scratch files go to out/tmp."""
    tmp, work = os.path.join(OUT, "tmp"), os.path.join(OUT, "work")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    cmd = ["java", *b["java_options"], f"-Djava.io.tmpdir={tmp}",
           "-cp", b["classpath"], "perfbench.Runner", *args]
    t0 = time.perf_counter()
    ready = []

    def on_line(line):
        if line == "READY" and not ready:
            ready.append(time.perf_counter() - t0)

    log = os.path.join(OUT, name + ".log")
    code, lines = run_logged(cmd, log, JVM_TIMEOUT_S, cwd=work,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=tmp),
                             on_line=on_line)
    if code != 0:
        raise BenchError(f"runner {args[0]} failed (exit {code}); see {log}")
    return (ready[0] if ready else None), lines


def certify(b, names, sf_dir):
    """Rewrite certified.json: run each query once, write its result as
    parquet and compare it with its `oracleSql` in DuckDB under
    tools/check_oracle.py's rules; keep the fingerprint of each that
    matches bitwise. Returns the names that did not."""
    rdir = os.path.join(OUT, "results")
    shutil.rmtree(rdir, ignore_errors=True)
    os.makedirs(rdir)
    fp_path = os.path.join(OUT, "certify.json")
    jvm(b, ["certify", "--sf", sf_dir, "--names", ",".join(names),
             "--dir", rdir, "--out", fp_path], "certify")
    fps = json.load(open(fp_path))["fingerprints"]
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    import duckdb

    class LimitedDuckdb:
        """Some oracles would otherwise take all of the host's memory."""
        @staticmethod
        def connect():
            con = duckdb.connect()
            con.execute("SET memory_limit='4GB'")
            con.execute("SET threads=2")
            return con
    check_oracle.duckdb = LimitedDuckdb
    report_path = os.path.join(OUT, "oracle.json")
    check_oracle.main(sf_dir, rdir, report_path)
    report = json.load(open(report_path))["queries"]
    ok = {n: fps[n] for n in names
          if all(report.get(n, {}).get(k) for k in
                 ("rows_match", "schema_match", "hash_match"))}
    with open(CERTIFIED, "w") as f:
        json.dump(ok, f, indent=1, sort_keys=True)
        f.write("\n")
    return sorted(set(names) - set(ok))


# --------------------------------------------------------------- host ---

def host_snapshot():
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return ticks, load


def host_record(start, end, calibration, cores):
    """Steal and iowait shares of all CPU time over the run, 1-minute load
    at its start and end, and the calibration query's wall at both ends."""
    d = [b - a for a, b in zip(start[0], end[0])]
    total = sum(d) or 1
    cal = [c["wall_s"] for c in calibration]
    rec = {"steal": d[7] / total, "iowait": d[4] / total,
           "load_start": start[1], "load_end": end[1],
           "calibration_s": cal}
    flags = []
    if rec["steal"] > HOST_BOUNDS["steal"]:
        flags.append("steal")
    if rec["iowait"] > HOST_BOUNDS["iowait"]:
        flags.append("iowait")
    if start[1] > HOST_BOUNDS["load_per_core"] * cores:
        flags.append("load")
    if max(cal) > HOST_BOUNDS["calibration_drift"] * min(cal):
        flags.append("calibration_drift")
    rec["flags"] = flags
    return rec


# ------------------------------------------------------------ metrics ---

def seconds(span):
    return (span["end"] - span["start"]) / 1e3


def outcomes(r, cert):
    """(attempted, threw, wrong, names of wrong queries) over the timed
    executions. Every execution of a query whose checked result does not
    match its certified one counts as wrong."""
    queries = [s for s in r["spans"] if s["name"] == "query"]
    bad = sorted(n for n, fp in r["fingerprints"].items()
                 if cert.get(n) != fp)
    threw = sum(1 for q in queries if q["error"])
    wrong = sum(1 for q in queries if not q["error"] and q["query"] in bad)
    return len(queries), threw, wrong, bad


def end_to_end(r, setup_s, attempted, threw, wrong):
    """Per-query times come from every warm pass. Throughput and CPU come
    from the median pass of the later half: over the first half the JIT is
    still compiling, which shows as falling pass wall and CPU."""
    spans = r["spans"]
    passes = [s for s in spans if s["name"] == "pass"]
    warm = passes[1:]
    settled = warm[len(warm) // 2:]
    warm_q = [seconds(s) for s in spans
              if s["name"] == "query" and s["pass"] >= 1]
    tail_s, pct, beyond = tail(warm_q)
    m = {"setup_s": setup_s,
         "cold_pass_s": seconds(passes[0]),
         "warm_qps": len(warm_q) / len(warm)
                     / statistics.median(seconds(p) for p in settled),
         "query_p50_s": statistics.median(warm_q),
         "query_tail_s": tail_s,
         "cpu_s": statistics.median(p["cpu_s"] for p in settled),
         "live_heap_mb": r["live_heap_bytes"] / 2**20,
         "ok_frac": 1 - failed_frac(attempted, threw, wrong)}
    notes = {"query_tail_s": f"p{pct:.1f} of {len(warm_q)} warm samples, "
             f"{beyond} beyond"}
    return m, notes


def query_seconds(r):
    """Per query: its cold wall and the median of its warm walls."""
    out = {}
    for s in r["spans"]:
        if s["name"] == "query":
            out.setdefault(s["query"], []).append((s["pass"], seconds(s)))
    return {n: {"cold": min(v)[1],
                "warm": statistics.median(t for p, t in v if p >= 1)}
            for n, v in sorted(out.items())}


class Timeline:
    """Places an event time on the build/execute/release span of the query
    that was running then (one query runs at a time)."""

    def __init__(self, spans):
        self.phases = sorted((s for s in spans
                              if s["name"] in ("build", "execute", "release")),
                             key=lambda s: s["start"])
        self.starts = [s["start"] for s in self.phases]

    def at(self, t):
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.phases[i]["end"]:
            return self.phases[i]
        return None


LAYER_KEYS = [
    "queries.build_s", "queries.eager_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.no_task_s",
    "exec.task_s", "exec.task_cpu_s", "exec.deserialize_s", "exec.task_gc_s",
    "scan.bytes", "scan.rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "spill.disk_bytes",
    "stream.batches", "stream.trigger_s", "stream.add_batch_s",
    "stream.query_planning_s", "stream.wal_s", "stream.state_commit_s",
    "stream.state_update_s", "stream.state_rows", "stream.state_bytes",
    "jvm.gc_s", "cache.release_s"]


def layers(r):
    """Per-layer numbers for every timed query execution, from the spans
    and the events the traced runner recorded; plus the layer-sum check."""
    spans, ev = r["spans"], r["events"]
    tl = Timeline(spans)
    rows = {}
    for q in spans:
        if q["name"] == "query":
            rows[q["qid"]] = dict.fromkeys(LAYER_KEYS, 0.0) | {
                "query": q["query"], "pass": q["pass"], "wall_s": seconds(q),
                "jvm.gc_s": q["gc_s"], "cpu_s": q["cpu_s"],
                "_span": q, "_covered": []}
    for s in tl.phases:
        row = rows[s["qid"]]
        row["_covered"].append((s["start"], s["end"]))
        if s["name"] == "build":
            row["queries.build_s"] += seconds(s)
        elif s["name"] == "release":
            row["cache.release_s"] += seconds(s)
    unplaced = {"jobs": 0, "stages": 0, "phases": 0, "batches": 0}
    run_span = next(s for s in spans if s["name"] == "run")

    def place(kind, t):
        """The query row and phase span an event started in; None for
        events outside the timed passes (warm-up, calibration, the
        correctness pass) and for those between spans, which are counted."""
        if not run_span["start"] <= t <= run_span["end"]:
            return None, None
        s = tl.at(t)
        if s is None:
            unplaced[kind] += 1
            return None, None
        return rows[s["qid"]], s

    job_span = {}
    for j in ev["jobs"]:
        row, s = place("jobs", j["time"])
        if row is None:
            continue
        job_span[j["job"]] = s
        row["sched.jobs"] += 1
        if s["name"] == "build":
            row["queries.eager_jobs"] += 1
    for st in ev["stages"]:
        s = job_span.get(st["job"])
        if s is None:
            row, s = place("stages", st["time"])
            if row is None:
                continue
        row = rows[s["qid"]]
        row["sched.stages"] += 1
        row["sched.tasks"] += st["tasks"]
        for key, src, scale in (
                ("exec.task_s", "run_ms", 1e-3),
                ("exec.task_cpu_s", "cpu_ns", 1e-9),
                ("exec.deserialize_s", "deserialize_ms", 1e-3),
                ("exec.task_gc_s", "gc_ms", 1e-3),
                ("scan.bytes", "input_bytes", 1),
                ("scan.rows", "input_rows", 1),
                ("shuffle.write_bytes", "shuffle_write_bytes", 1),
                ("shuffle.read_bytes", "shuffle_read_bytes", 1),
                ("shuffle.fetch_wait_s", "fetch_wait_ms", 1e-3),
                ("spill.disk_bytes", "spill_disk_bytes", 1)):
            row[key] += st.get(src, 0) * scale
    for ph in ev["phases"]:
        row, s = place("phases", ph["start"])
        # the root write's planning; eager actions inside the closure and
        # streaming micro-batches plan inside `build` and stay there
        if row is None or s["name"] != "execute":
            continue
        key = "catalyst." + ph["phase"] + "_s"
        if key in row:
            row[key] += (ph["end"] - ph["start"]) / 1e3
            row["_covered"].append((ph["start"], ph["end"]))
    for b in ev["batches"]:
        row, s = place("batches", b["time"])
        if row is None:
            continue
        d = b["durations_ms"]
        row["stream.batches"] += 1
        row["stream.trigger_s"] += d.get("triggerExecution", 0) / 1e3
        row["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
        row["stream.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
        row["stream.wal_s"] += (d.get("walCommit", 0)
                                + d.get("commitOffsets", 0)) / 1e3
        row["stream.state_commit_s"] += b["state_commit_ms"] / 1e3
        row["stream.state_update_s"] += b["state_update_ms"] / 1e3
        row["stream.state_rows"] += b["state_rows"]
        row["stream.state_bytes"] = max(row["stream.state_bytes"],
                                        b["state_bytes"])
    tasks = sorted(tuple(t) for t in ev["tasks"])
    starts = [t[0] for t in tasks]
    misses = []
    for row in rows.values():
        q = row["_span"]
        lo = bisect.bisect_left(starts, q["start"] - 600e3)
        hi = bisect.bisect_right(starts, q["end"])
        busy = union_length(tasks[lo:hi], q["start"], q["end"]) / 1e3
        row["sched.no_task_s"] = row["wall_s"] - busy
        row["stream.lifecycle_s"] = (row["queries.build_s"]
                                     - row["stream.trigger_s"]
                                     if row["stream.batches"] else 0.0)
        gap = self_time((q["start"], q["end"]), row["_covered"]) / 1e3
        row["uncovered_s"] = gap
        if gap > LAYER_TOLERANCE * row["wall_s"]:
            misses.append({"query": row["query"], "pass": row["pass"],
                           "wall_s": row["wall_s"], "uncovered_s": gap})
        for k in ("_span", "_covered"):
            del row[k]
    return list(rows.values()), misses, unplaced


def per_layer(r, rows):
    """Per-layer totals over every timed pass of the run."""
    m = {k: sum(row[k] for row in rows) for k in LAYER_KEYS}
    m["stream.state_bytes"] = max((row["stream.state_bytes"]
                                   for row in rows), default=0)
    m["stream.lifecycle_s"] = sum(row["stream.lifecycle_s"] for row in rows)
    wall = sum(seconds(s) for s in r["spans"] if s["name"] == "pass")
    m["exec.core_util"] = m["exec.task_s"] / (wall * r["cores"])
    m["cache.pinned_builds"] = len(r["pinned"])
    m["cache.pinned_build_s"] = sum(b["build_s"] for b in r["pinned"])
    m["cache.residual_rdds"] = max(c["rdds"] - c["pinned"]
                                   for c in r["census"])
    m["cache.resident_bytes"] = r["resident_bytes"]
    return m


def by_query(rows):
    """Per-query means over that query's timed executions."""
    out = {}
    for row in rows:
        agg = out.setdefault(row["query"], {"n": 0})
        agg["n"] += 1
        for k, v in row.items():
            if isinstance(v, (int, float)) and k != "pass":
                agg[k] = agg.get(k, 0) + v
    for agg in out.values():
        for k in list(agg):
            if k != "n":
                agg[k] /= agg["n"]
    return out


UNITS = {"_s": "s", "_bytes": "bytes", ".bytes": "bytes",
         "_util": "ratio", "_rdds": "count"}


def unit(name):
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


# --------------------------------------------------------------- main ---

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--certify", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not a.certify and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    manifests = json.load(open(os.path.join(HERE, "workloads.json")))
    if not (a.certify or a.workload in manifests):
        raise BenchError(f"unknown workload {a.workload}; "
                         f"known: {sorted(manifests)}")
    sf_dir = fixtures()
    if not os.path.isdir(sf_dir):
        raise BenchError(f"fixtures not found: {sf_dir}")
    os.makedirs(OUT, exist_ok=True)
    b = build()
    resolved = {w: resolve(w, m, b["names"]) for w, m in manifests.items()}
    if a.certify:
        failed = certify(b, sorted({n for ns in resolved.values()
                                     for n in ns}), sf_dir)
        if failed:
            raise BenchError(f"not certified: {failed}")
        return
    names = resolved[a.workload]
    cert = json.load(open(CERTIFIED))
    uncertified = [n for n in names if n not in cert]
    if uncertified:
        raise BenchError(f"no certified result for {uncertified}; "
                         "run with --certify")
    # whole warm passes only, so every run of a workload does the same work
    passes = max(1, round(a.seconds / manifests[a.workload]["warm_pass_s"]))

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    raw = os.path.join(OUT, tag + ".raw.json")
    host0 = host_snapshot()
    setup_s, _ = jvm(b, ["run", "--sf", sf_dir, "--names", ",".join(names),
                          "--seed", str(a.seed), "--passes", str(passes),
                          "--trace", str(a.trace), "--out", raw], tag)
    r = json.load(open(raw))
    os.remove(raw)
    shutil.rmtree(os.path.join(OUT, "tmp"), ignore_errors=True)

    attempted, threw, wrong, bad = outcomes(r, cert)
    failed = threw + wrong
    e2e, notes = end_to_end(r, setup_s, attempted, threw, wrong)
    host = host_record(host0, host_snapshot(), r["calibration"], r["cores"])
    report = {"workload": a.workload, "seed": a.seed, "passes": passes,
              "queries": len(names), "host": host, "wrong": bad,
              "errors": sorted({s["query"] for s in r["spans"]
                                if s["error"]}),
              "pinned": r["pinned"], "end_to_end": e2e, "notes": notes,
              "peak_rss_mb": r["peak_rss_kb"] / 1024,
              "query_s": query_seconds(r),
              "pass_s": [(seconds(s), s["cpu_s"], s["gc_s"])
                         for s in r["spans"] if s["name"] == "pass"]}
    for k, v in e2e.items():
        print(f"{k:>14} {v:12.4f} {unit(k):<6} {notes.get(k, '')}")
    print("host:", json.dumps(host))
    if bad or threw:
        print("wrong results:", bad, "errors:", report["errors"])
    metrics = e2e
    if a.trace:
        rows, misses, unplaced = layers(r)
        metrics = per_layer(r, rows)
        report.update(per_layer=metrics, layer_sum_misses=misses,
                      unplaced_events=unplaced, per_query=by_query(rows))
        for k, v in metrics.items():
            print(f"{k:>24} {v:16.4f} {unit(k)}")
        print(f"layer-sum check (tolerance {LAYER_TOLERANCE:.0%} of wall): "
              + (f"{len(misses)} misses: " + ", ".join(
                  f"{x['query']}@{x['pass']}" for x in misses)
                 if misses else "every query covered"))
        untraced = sorted(glob.glob(os.path.join(
            OUT, f"{a.workload}-seed*-trace0.json")), key=os.path.getmtime)
        if untraced:
            base = json.load(open(untraced[-1]))["end_to_end"]
            overhead = {k: e2e[k] - base[k] for k in e2e}
            report["tracing_overhead"] = overhead
            print("tracing overhead (traced - untraced):",
                  json.dumps({k: round(v, 4) for k, v in overhead.items()}))
        else:
            print("tracing overhead: no untraced run of this workload yet")
    with open(os.path.join(OUT, tag + ".json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
