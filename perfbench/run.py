#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark harness from source (sbt, offline) into perfbench/target; later
runs reuse the build while the sources are unchanged. Inputs are generated
from the seed (perfbench/gen.py) under perfbench/.work, the workload runs in
its own JVM on local[nproc], outputs are checked outside the timed regions,
and the last line on stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The full artifact (samples, checks, machine
context, self time per layer) goes to
perfbench/results/<workload>-seed<n>-trace<t>.json and, for traced runs, the
spans to perfbench/results/<workload>-seed<n>-spans.jsonl.
DESIGN.md describes the workloads, the metrics and what each layer metric
is predicted to move.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
TARGET = os.path.join(HERE, "target")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ["monthly_report", "query_warm", "index_maintain", "lineage_build"]
# fixed heap and young generation: G1's adaptive sizing otherwise makes
# peak RSS swing by a fifth between identical runs
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
DEADLINE_S = 170  # a run must end within 180 s
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build():
    """Compile the program plus harness with sbt (offline) unless the
    sources are unchanged since the last build; returns the classpath and
    the hash of the sources."""
    files = sorted(
        glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) +
        glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) +
        [os.path.join(HERE, "build.sbt"),
         os.path.join(HERE, "project/build.properties"),
         os.path.join(ROOT, "build.sbt")])
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in files):
        raise SystemExit("program sources (src/main/scala) not found")
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(TARGET, "perfbench-classpath.txt")
    stamp_file = os.path.join(TARGET, "perfbench-stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program + harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"build failed (exit {p.returncode})")
    cp = [ln for ln in p.stdout.splitlines()
          if ln.startswith(os.path.join(HERE, "target"))][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, stamp


def run_jvm(cp, workload, work, args, deadline):
    """Runs the workload's JVM and waits for it; returns its result, its
    peak RSS (MB, from its own rusage) and its launch time."""
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java", *ADD_OPENS, *HEAP, f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "graft.perfbench.Main", workload] +
           [f"{k}={v}" for k, v in args.items()])
    with open(log_path, "ab") as jvm_log:
        t_launch = time.time()
        p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                             stdout=jvm_log, stderr=jvm_log,
                             start_new_session=True)
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                os.wait4(p.pid, 0)
                raise SystemExit("workload JVM passed the run deadline")
            time.sleep(0.05)
    code = p.returncode = os.waitstatus_to_exitcode(status)
    res_file = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(res_file):
        with open(log_path, "rb") as f:
            sys.stderr.write(f.read()[-6000:].decode("utf-8", "replace"))
        raise SystemExit(f"workload JVM exited with {code}")
    with open(res_file) as f:
        res = json.load(f)
    return res, ru.ru_maxrss / 1024.0, t_launch


def oracle_check(sf_dir, out_dir):
    """Each headliner's Spark result against its DuckDB oracle, with
    tools/diff_oracle.py's canonicalisation (sorted columns and rows,
    source-type comparison)."""
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "diff_oracle", os.path.join(ROOT, "tools", "diff_oracle.py"))
    do = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(do)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    detail = {}
    for name, sql in sorted(oracle.items()):
        parts = glob.glob(f"{out_dir}/{name}/*.parquet")
        try:
            got = do.norm(con.execute(
                f"SELECT * FROM read_parquet({parts!r})").fetchdf())
            want = do.norm(con.execute(sql).fetchdf())
            ok = (list(got.columns) == list(want.columns) and len(got) > 0 and
                  len(got) == len(want) and not do.type_mismatches(parts, con, sql)
                  and bool(((got == want) | (got.isna() & want.isna())).all().all()))
            detail[name] = f"{'PASS' if ok else 'FAIL'} ({len(got)} rows)"
        except Exception as e:  # a broken query or dump is a failed check
            detail[name] = f"FAIL {e}"
    return all(v.startswith("PASS") for v in detail.values()), detail


def hop_lines():
    """First line of each `// hop N` block of TrainQueries.pipelineLineage,
    which the traced lineage run uses to give each job to its hop; empty
    when the source no longer has the four markers."""
    path = os.path.join(ROOT, "src/main/scala/graft/TrainQueries.scala")
    with open(path) as f:
        lines = f.read().splitlines()
    start = next((i for i, ln in enumerate(lines)
                  if "def pipelineLineage(" in ln), None)
    if start is None:
        return ""
    hops = []
    for i in range(start, len(lines)):
        if lines[i].strip().startswith(f"// hop {len(hops) + 1}"):
            hops.append(i + 1)
            if len(hops) == 4:
                return ",".join(map(str, hops))
    return ""


def overhead(workload, seed, traced_p50_ms):
    """Tracing overhead: this traced run's primary p50 against the
    untraced run of the same workload and seed in this checkout; None
    when there is no such run."""
    path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)["end_to_end"]["primary_p50_ms"]
    return {"traced_p50_ms": traced_p50_ms, "untraced_p50_ms": base,
            "frac": traced_p50_ms / base - 1 if base else None}


def tail(values):
    """The highest percentile with at least ten samples beyond it; with
    fewer than 11 samples there is none, and the maximum stands in
    (percentile 100)."""
    n = len(values)
    if n == 0:
        return None
    s = sorted(values)
    if n < 11:
        return {"value": s[-1], "percentile": 100, "samples": n}
    return {"value": s[n - 11], "percentile": int(100 * (n - 10) / n),
            "samples": n}


def med(xs):
    return statistics.median(xs) if xs else 0.0


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(SPEC) as f:
        spec = json.load(f)
    cp, stamp = build()
    t_start = time.time()  # the deadline counts from the end of the build
    sys.path.insert(0, HERE)
    import gen

    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}")
    os.makedirs(work)
    meta = gen.generate(a.workload, a.seed, work)
    args = {"work": work, "cores": cores, "trace": a.trace, "seed": a.seed,
            "seconds": a.seconds}
    if a.workload == "monthly_report":
        args.update(exports=f"{work}/exports.parquet", start=meta["start"],
                    end=meta["end"], lenders=meta["lenders"],
                    poison=",".join(map(str, meta["poison_ids"])))
    elif a.workload == "query_warm":
        args.update(sf_dir=meta["sf_dir"])
    elif a.workload == "index_maintain":
        args.update(docs=f"{work}/docs.parquet", corpus=meta["corpus"],
                    batch=meta["batch"], batches=meta["batches"])
    else:
        args.update(full_dir=meta["full_dir"], slice_dir=meta["slice_dir"],
                    hop_lines=hop_lines())
    res, rss_mb, t_launch = run_jvm(cp, a.workload, work, args,
                                    t_start + DEADLINE_S)
    # set-up: process launch until the session is ready, plus the cold
    # set-up operation (plan builds, the initial index write) if any
    setup_s = (res["context"]["session_ready_us"] / 1e6 - t_launch +
               sum(res["setup_op_s"]))
    primary = res["primary_ms"]
    if a.workload == "monthly_report":
        # the operator's wall: process launch until the report is written
        primary = [(res["report_done_us"] / 1e6 - t_launch) * 1e3]
        res["ops_wall_s"] = primary[0] / 1e3
    checks = dict(res["checks"])
    detail = dict(res.get("check_detail", {}))
    if a.workload == "query_warm":
        checks["oracle"], detail["oracle"] = oracle_check(
            meta["sf_dir"], res["oracle_dir"])
    correct = all(v is True for v in checks.values())
    ops_per_s = res["ops"] / res["ops_wall_s"] if res["ops_wall_s"] > 0 else 0.0
    e2e = {"setup_s": setup_s,
           "primary_p50_ms": med(primary),
           "secondary_p50_ms": med(res["secondary_ms"]),
           "ops_per_s": ops_per_s,
           "peak_rss_mb": rss_mb}
    tails = {"primary": tail(primary), "secondary": tail(res["secondary_ms"])}

    os.makedirs(RESULTS, exist_ok=True)
    metrics = {}
    if a.trace == 0:
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": e2e[m["name"]], "unit": m["unit"]}
    else:
        layers = dict(res["layers"])
        layers["session.start_s"] = res["session_start_s"]
        layers["primary_tail_ms"] = (tails["primary"] or {}).get("value", 0.0)
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": float(layers.get(m["name"], 0.0)),
                                  "unit": m["unit"]}
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(
                RESULTS, f"{a.workload}-seed{a.seed}-spans.jsonl"))

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "correct": correct, "checks": checks,
        "check_detail": detail, "attempted": res["attempted"],
        "failed": res["failed"], "end_to_end": e2e, "tails": tails,
        "samples": {"setup_op_s": res["setup_op_s"], "primary_ms": primary,
                    "secondary_ms": res["secondary_ms"]},
        "ops_ms": res["ops_ms"],
        "query_p50_ms": res.get("query_p50_ms", {}),
        "metrics": metrics, "self_time_s": res.get("self_time_s", {}),
        "overhead": (overhead(a.workload, a.seed, e2e["primary_p50_ms"])
                     if a.trace else None),
        "inputs": {k: v for k, v in meta.items() if k != "poison_ids"},
        "context": {
            "nproc": os.cpu_count(), "cores_used": cores,
            "load_start": load_start, "load_end": os.getloadavg(),
            "git_head": git_head(), "source_sha256": stamp, "heap": HEAP,
            "client": "one closed-loop client in one process",
            **res["context"]},
    }
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(RESULTS, f"{name}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.copy(os.path.join(work, "jvm.log"),
                os.path.join(RESULTS, f"{name}.log"))
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
