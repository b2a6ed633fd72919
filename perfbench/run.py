#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

The first run builds the engine and the harness (perfbench/harness, sbt)
and generates the fixture (perfbench/gen.py); both are cached under
.perfbench/ in the checkout, keyed on a hash of their sources, so a run
after any source change rebuilds (incrementally) or regenerates first.
Each run then starts one JVM at local[N], N = the CPUs this process may
use, and drives the workload's registry queries as a closed loop with one
client (see Harness.scala). The JVM runs
in a private mount namespace whose /tmp is a fresh directory under
.perfbench/run, so the table and stream directories the engine writes under
/tmp start empty on every run and are removed after it.

Outputs are checked against expected.json: result hashes of the DuckDB
oracle (`SparkEntry.oracleSql`) on the same fixture, in the canonical form
of scripts/driver_mimic.py. A wrong output counts as a failed execution.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics of BENCHMARK.json with --trace 0,
the per-layer ones with --trace 1). The lines before it say which
percentile query_tail_s is, each query's median time, the pass-time
drift, the query order, and where the trace sidecar was written.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RUN = os.path.join(STATE, "run")
DEADLINE_S = 170
BASE_SF = 0.01

# Each workload: registry queries, fixture, untimed passes (the first is
# the output-check pass) and the seconds one warm pass takes on 4 cores,
# which sets how many timed passes --seconds buys. The pass count is then
# the same on every commit, so query_tail_s is always the same order
# statistic. Every run pays ~7 s of JVM and session start and a cold
# check pass 3-5x slower than a warm one, and the 4 + 22 x 3 runs of a
# full comparison must fit in under an hour: hence the short lists.
# Pass times keep falling for 5-10 passes as the JIT warms; `warm` is the
# most untimed passes that budget allows each workload.
WORKLOADS = {
    # single-pass star-schema reads at 3-13 jobs per query and a busy
    # ratio of ~0.05: planning and job launch dominate; the control a
    # scan or loop change must not slow
    "olap": {
        "fixture": "base", "warm": 4, "pass_s": 1.4,
        "queries": ["q_sql_shipping_priority", "q_sql_recursive", "q_window_topk",
                    "q_window_rank", "q_window_running_sum"]},
    # MinHash dedup over a corpus stretched 16x (8,000 docs): 26 tasks,
    # 21 MB of shuffle and a busy ratio of ~0.4, the highest of the
    # workloads, while every scan stays a single task
    "corpus": {
        "fixture": "stretch16", "warm": 3, "pass_s": 2.5,
        "queries": ["q_dedup_minhash"]},
    # a table-format history (commit, two merges, compaction) read back
    # as a change-feed stream, and a stateful stream (mapGroupsWithState
    # over the keyed event topic): table writes beside reads, a stream's
    # start, drain and stop, and state-store commits
    "lakehouse": {
        "fixture": "base", "warm": 3, "pass_s": 3.3,
        "queries": ["q_stream_changefeed", "q_stream_ewma"]},
}

# Per-layer metrics (--trace 1), by module. Counters are summed over one
# traced pass and reported as the median over the run's traced passes.
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.scan_s": "s", "sources.scan_tasks": "count",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "operators.build_s": "s", "operators.build_jobs": "count", "operators.exec_s": "s",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_gap_s": "s", "sched.task_overhead_s": "s",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.busy_ratio": "ratio", "exec.skew_max": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "snapshots.output_mb": "MB", "snapshots.files_written": "count",
    "snapshots.disk_mb": "MB", "snapshots.tmp_left_mb": "MB",
    "streaming.batches": "count", "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.lifecycle_s": "s",
    "streaming.state_rows": "count", "streaming.state_commit_ms": "ms",
    "trace.overhead": "ratio",
}

# A fixed-size heap under the parallel collector: peak RSS then follows
# retained memory, not how far an adaptive heap happened to grow.
JVM_FLAGS = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g"]

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def source_key(paths, root=ROOT):
    """sha256 over the names and bytes of the files at or under paths
    (relative to root), skipping sbt's output and hidden directories."""
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(root, top)
        files = [full] if os.path.isfile(full) else []
        for d, ds, fs in os.walk(full):
            ds[:] = sorted(x for x in ds if x != "target" and not x.startswith("."))
            files += [os.path.join(d, f) for f in sorted(fs)]
        for f in files:
            h.update(os.path.relpath(f, root).encode() + b"\0")
            h.update(open(f, "rb").read())
    return h.hexdigest()


# what the harness's classpath is compiled from: the engine's build and
# sources, and the harness's own
BUILD_INPUTS = ["build.sbt", "project", "src/main", "perfbench/harness"]


def classpath():
    """Builds the engine and the harness (incrementally, with sbt) whenever
    their sources differ from those of the last build in this checkout;
    returns the harness's runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine source at {need}: run from the root of a graft checkout")
    stamp = os.path.join(STATE, "build.json")
    key = source_key(BUILD_INPUTS)
    if os.path.exists(stamp):
        built = json.load(open(stamp))
        if built["key"] == key:
            return built["classpath"]
    os.makedirs(STATE, exist_ok=True)
    log("building engine and harness (sources changed since the last build)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=sbt_env(), stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=850)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": cps[-1]}, f)
    return cps[-1]


# -------------------------------------------------------------- fixture


def fixture(name):
    """base = gen.py at BASE_SF; stretch<k> = base with documents and
    embeddings stretched k times by the engine's scripts/stretch.py. Made
    again when either script or BASE_SF changes."""
    path = os.path.join(STATE, "fixture", name)
    key = source_key(["perfbench/gen.py", "scripts/stretch.py"]) + f" sf={BASE_SF}"
    key_file = os.path.join(path, "KEY")
    if os.path.exists(key_file) and open(key_file).read() == key:
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if name == "base":
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), tmp, str(BASE_SF)],
                       check=True)
    else:
        base = fixture("base")
        os.makedirs(tmp)
        for f in os.listdir(base):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(base, f), tmp)
        subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "stretch.py"),
                        base, tmp, name.removeprefix("stretch"), "documents", "embeddings"],
                       check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(tmp, "KEY"), "w") as f:
        f.write(key)
    os.rename(tmp, path)
    return path


# ------------------------------------------------------------------ run


def can_unshare():
    try:
        return subprocess.run(["unshare", "-m", "true"], capture_output=True,
                              timeout=10).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def du(path):
    """Bytes in the regular files at or under path."""
    if not os.path.isdir(path):
        return 0 if os.path.islink(path) else os.path.getsize(path)
    return sum(du(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def launch(cp, fx, seed, warm, timed, trace, queries, deadline):
    """Runs the harness JVM; returns (result dict, launch epoch seconds,
    MB left in the private /tmp after exit)."""
    shutil.rmtree(RUN, ignore_errors=True)
    for d in ("tmp", "jtmp", "out"):
        os.makedirs(os.path.join(RUN, d))
    if not can_unshare():
        fail("cannot make a private mount namespace (unshare -m): the engine "
             "would write its fixed-name tables into the shared /tmp")
    java = ["java"] + JVM_FLAGS
    for p in JAVA_OPENS:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    java += [f"-Djava.io.tmpdir={os.path.join(RUN, 'jtmp')}",
             "-cp", cp, "graftbench.Harness", fx, RUN, str(seed), str(warm),
             str(timed), str(trace), ",".join(queries)]
    cmd = ["unshare", "-m", "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"',
           os.path.join(RUN, "tmp")] + java
    stdout = open(os.path.join(RUN, "jvm.out"), "w")
    stderr = open(os.path.join(RUN, "jvm.err"), "w")
    t_launch = time.time()
    proc = subprocess.Popen(cmd, stdout=stdout, stderr=stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = "timeout"
    stdout.close()
    stderr.close()
    left_bytes = du(os.path.join(RUN, "tmp"))
    result_file = os.path.join(RUN, "result.json")
    if code != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(os.path.join(RUN, "jvm.err")).read()[-4000:])
        fail(f"harness JVM ended with {code}")
    return json.load(open(result_file)), t_launch, left_bytes / 1e6


# ---------------------------------------------------------------- check


def canon_hash(df):
    """md5 of a result in scripts/driver_mimic.py's canonical form:
    columns sorted by name, rows sorted by every column, cells as str."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    h = hashlib.md5("\t".join(df.columns).encode())
    for row in df.astype(str).itertuples(index=False):
        h.update(("\n" + "\t".join(row)).encode())
    return f"{len(df)}:{h.hexdigest()}"


def output_hashes(out_dir, queries):
    import pandas as pd
    hashes = {}
    for q in queries:
        files = sorted(glob.glob(os.path.join(out_dir, q, "*.parquet")))
        if files:
            hashes[q] = canon_hash(pd.concat([pd.read_parquet(f) for f in files],
                                             ignore_index=True))
    return hashes


def expected_hashes(workload):
    path = os.path.join(HERE, "expected.json")
    return json.load(open(path)).get(workload, {}) if os.path.exists(path) else {}


def check(out_dir, queries, expected):
    """Names of queries whose check-pass output is missing or differs
    from the expected hash."""
    got = output_hashes(out_dir, queries)
    return [q for q in queries if got.get(q) is None or got.get(q) != expected.get(q)]


def verdict(res, wrong):
    """(attempted, failed, correct): a check-pass output that is wrong
    counts as one more failed execution, unless its query already failed."""
    failed = res["failed"] + len(set(wrong) - set(res["check_failed"]))
    return res["attempted"], failed, failed == 0


# -------------------------------------------------------------- metrics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """The highest percentile with at least ten samples beyond it, the
    (n-10)-th smallest of n, when that is p75 or above (n >= 40). Fewer
    samples have no such percentile, and p75 by nearest rank stands in:
    unlike the maximum, no single outlying sample sets it."""
    s = sorted(samples)
    k = len(s) - 11 if len(s) >= 40 else math.ceil(0.75 * len(s)) - 1
    return s[k], 100.0 * (k + 1) / len(s), len(s)


def drift(walls):
    """Least-squares slope of pass wall time over pass number, as a
    fraction of the median pass."""
    n = len(walls)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, statistics.fmean(walls)
    slope = sum((i - mx) * (w - my) for i, w in enumerate(walls)) / \
        sum((i - mx) ** 2 for i in range(n))
    return slope / median(walls)


def unattributed_plans(sidecar):
    """Queries with a traced execution to which the listeners attributed
    no analysis, optimization or planning time: every query is analysed
    and planned, so this means the trace lost its plan phases."""
    rows = [json.loads(l) for l in open(sidecar)]
    return sorted({r["query"] for r in rows if r.get("row") == "query" and r["ok"] and
                   r["analysis_ms"] + r["optimization_ms"] + r["planning_ms"] == 0})


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    w = WORKLOADS[args.workload]

    cp = classpath()
    fx = fixture(w["fixture"])
    deadline = max(deadline, time.time() + DEADLINE_S)  # after a first build
    expected = expected_hashes(args.workload)
    timed = max(3, round(args.seconds / w["pass_s"]))
    if args.trace:
        timed = max(2, (timed + 1) // 2)  # then each is an untraced and a traced pass
    res, t_launch, tmp_left_mb = launch(cp, fx, args.seed, w["warm"], timed, args.trace,
                                        w["queries"], deadline)

    wrong = check(os.path.join(RUN, "out"), w["queries"], expected)
    for q in wrong:
        log(f"{q}: output does not match expected hash")
    attempted, failed, correct = verdict(res, wrong)

    untraced = [p for p in res["passes"] if p["kind"] == "untraced"]
    traced = [p for p in res["passes"] if p["kind"] == "traced"]
    walls = [p["wall_s"] for p in untraced]
    lat = [s["build_s"] + s["exec_s"] for p in untraced for s in p["samples"] if s["ok"]]
    setup_s = res["first_timed_epoch_ms"] / 1e3 - t_launch
    tail_v, tail_pct, n = tail(lat) if lat else (0.0, 0.0, 0)
    print(f"workload={args.workload} seed={args.seed} cores={res['cores']} "
          f"timed_passes={len(untraced)} tables={','.join(res['tables'])}")
    print(f"order pass1={','.join(untraced[0]['order']) if untraced else ''}")
    print(f"pass walls s={[round(x, 3) for x in walls]} drift={drift(walls):+.4f}/pass "
          f"({drift(walls) * (len(walls) - 1):+.3f} across the timed passes)")
    print(f"query_tail_s is p{tail_pct:.1f} of {n} samples ({n - round(tail_pct * n / 100)} beyond it)")
    print("query median s " + " ".join(
        f"{q}={median([s['build_s'] + s['exec_s'] for p in untraced for s in p['samples'] if s['query'] == q and s['ok']]):.3f}"
        for q in w["queries"]))
    shutil.copy(os.path.join(RUN, "trace.jsonl"),
                os.path.join(STATE, f"trace-{args.workload}-seed{args.seed}-t{args.trace}.jsonl"))
    print(f"sidecar {os.path.relpath(STATE, ROOT)}/trace-{args.workload}-seed{args.seed}"
          f"-t{args.trace}.jsonl")

    if args.trace == 0:
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "wall_s": metric(median(walls), "s"),
            "query_p50_s": metric(median(lat), "s"),
            "query_tail_s": metric(tail_v, "s"),
            "ok_frac": metric((attempted - failed) / attempted, "ratio"),
            "peak_rss_mb": metric(res["rss_hwm_kb"] / 1024.0, "MB"),
        }
    else:
        unplanned = unattributed_plans(os.path.join(RUN, "trace.jsonl"))
        if unplanned:
            fail(f"no plan phase attributed to traced executions of {', '.join(unplanned)}")
        layers = {k: median([p["layers"][k] for p in traced]) for k in traced[0]["layers"]}
        layers.update({
            "exec.busy_ratio": median([p["layers"]["exec.task_s"] / (p["wall_s"] * res["cores"])
                                       for p in traced]),
            "session.start_s": res["session_start_s"],
            "session.warmup_s": res["warmup_s"],
            "snapshots.tmp_left_mb": tmp_left_mb,
            "trace.overhead": median([p["wall_s"] for p in traced]) / median(walls),
        })
        metrics = {k: metric(layers[k], unit) for k, unit in LAYER_UNITS.items()}
    for d in ("tmp", "jtmp", "out", "local", "warehouse"):
        shutil.rmtree(os.path.join(RUN, d), ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
