#!/usr/bin/env python3
"""Benchmark for the graft engine: three workloads driven through the
library's public entry points from a harness JVM of its own.

    python3 perfbench/run.py --workload <stream_window|gate_grow|curate_batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
harness from source with sbt (offline) into `.bench_build/`; later runs
reuse that build while the sources are unchanged. Each run works in a
fresh directory under `.bench_build/` (checkpoints, staging, spark local
dirs, java.io.tmpdir) and removes it when it ends, failed or not.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer ones with --trace 1). The line before it is the run's
self-describing record; its `extra_metrics` hold every other measured
number, such as the workload-specific layer metrics of a traced run. See
perfbench/NOTES.md for what each number means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("stream_window", "gate_grow", "curate_batch")
JVM_LIMIT_S = 165          # the whole run must end within 180 s
BUILD_LIMIT_S = 600        # first run in a checkout: build + run within 900 s
XMX = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads, in a stable order."""
    picks = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            picks += [os.path.join(d, f) for f in sorted(files)]
    return picks


def build(root, out_dir):
    """Compile library + harness once per source state; return the
    harness's runtime classpath."""
    files = source_files(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out_dir, "stamp")
    cp_file = os.path.join(out_dir, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
                "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out_dir, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln for ln in lines if "perfbench" in ln and "classes" in ln and ":" in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed", 3)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip(), stamp


def git_commit(root):
    """The checkout's commit, or None outside a git work tree."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                       text=True, stdin=subprocess.DEVNULL)
    return p.stdout.strip() or None


# ---------------------------------------------------------------- oracle

def canon(v):
    """Stable, orderable string form; bitwise-exact for floats (the same
    canonical form as the repository's DuckDB oracle check)."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keyed = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for row in keyed:
        h.update("\x01".join(row).encode())
        h.update(b"\x02")
    return h.hexdigest(), len(rows)


def oracle_check(check, cache_dir, stamp):
    """Compare a pass's output (parquet) with the query's DuckDB oracle on
    the same generated tables. The oracle's digest is cached per
    (query, seed, build) so it runs once per seed."""
    import duckdb
    con = duckdb.connect()
    got = con.sql(f"SELECT * FROM read_parquet('{check['got']}/*.parquet')")
    got_d = digest([d[0] for d in got.description], got.fetchall())
    key = hashlib.sha256(f"{check['query']}|{check['seed']}|{stamp}".encode()).hexdigest()[:24]
    cached = os.path.join(cache_dir, f"{check['query']}-{key}.json")
    if os.path.isfile(cached):
        with open(cached) as fh:
            want_d = tuple(json.load(fh))
    else:
        for t in check["tables"]:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{check['dir']}/{t}.parquet/*.parquet')")
        want = con.sql(check["sql"])
        want_d = digest([d[0] for d in want.description], want.fetchall())
        os.makedirs(cache_dir, exist_ok=True)
        with open(cached, "w") as fh:
            json.dump(list(want_d), fh)
    con.close()
    return got_d == want_d, got_d, want_d


# ---------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    root = os.getcwd()
    spec_file = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        die("BENCHMARK.json not found (run from the repository root)")
    with open(spec_file) as fh:
        spec = json.load(fh)
    missing = [f for f in source_files(root)[:4] if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("the graft sources are not here (run from the repository root); "
            f"missing: {missing or ['src/main/scala/graft']}")
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out_dir, exist_ok=True)
    classpath, stamp = build(root, out_dir)
    built_s = time.monotonic() - t_start

    cpus = len(os.sched_getaffinity(0))
    launch_ms = int(time.time() * 1000)
    work = os.path.join(out_dir, f"run-{os.getpid()}-{launch_ms}")
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    trace_file = os.path.join(out_dir, "traces", f"{a.workload}-seed{a.seed}.json")
    cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--out", result_file, "--work", work, "--trace-out", trace_file,
              "--launch-ms", str(launch_ms), "--cpus", str(cpus)])
    log = os.path.join(work, "jvm.log")
    res = None
    child = []

    def on_term(signum, _frame):
        for c in child:
            if c.poll() is None:
                os.killpg(c.pid, signal.SIGKILL)
                c.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)
    try:
        with open(log, "w") as fh:
            p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            child.append(p)
            limit = max(30.0, JVM_LIMIT_S - (time.monotonic() - t_start - built_s))
            try:
                p.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                with open(log) as lf:
                    sys.stderr.write("".join(lf.readlines()[-40:]))
                die(f"harness exceeded {limit:.0f} s", 4)
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
        if not os.path.isfile(result_file):
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            die(f"harness exited {p.returncode} without a result", 5)
        with open(result_file) as fh:
            res = json.load(fh)
        for check in res["pending"]:
            ok, got_d, want_d = oracle_check(check, os.path.join(out_dir, "oracle"), stamp)
            res["attempted"] += 1
            res["record"].setdefault("oracle", {})[check["query"]] = {
                "ok": ok, "rows": got_d[1], "oracle_rows": want_d[1]}
            if not ok:
                res["failed"] += 1
                res["errors"].append(f"{check['query']}: output differs from the DuckDB "
                                     f"oracle ({got_d[1]} vs {want_d[1]} rows)")
        if res["failed"]:
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics, errors = {}, list(res["errors"])
    for m in names:
        got = res["metrics"].get(m["name"])
        v = got["value"] if got else None
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            errors.append(f"metric {m['name']} was not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = int(res["failed"]) + (len(errors) - len(res["errors"]))
    attempted = max(1, int(res["attempted"]))
    res["record"]["failed_ratio"] = failed / attempted
    res["record"]["build_s"] = round(built_s, 3)
    res["record"]["wall_s"] = round(time.monotonic() - t_start, 3)
    res["record"]["workload"] = a.workload
    res["record"]["source_stamp"] = stamp[:16]
    res["record"]["git_commit"] = git_commit(root)
    res["record"]["extra_metrics"] = {k: v for k, v in res["metrics"].items()
                                      if k not in metrics}
    if errors:
        res["record"]["errors"] = errors
        for e in errors:
            print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(json.dumps({"record": res["record"]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
