#!/usr/bin/env python3
"""graft's benchmark: one command per workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It builds graft and the benchmark from source (perfbench/build.py),
generates the workload's inputs from the seed, runs the workload in a
fresh JVM against graft's public entry points, checks every output,
and prints a summary followed, as the last line, by one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones,
and the run's spans and per-layer self-time table are written to
.perfbench/artifacts/. See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import analysis  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = {
    # (events, users): sf0.1's events-per-user density at a twentieth of its rows
    "event_queries": {"cpus": 4, "sizes": {"events": (5_000, 75)}},
    "corpus_curation": {"cpus": 4, "sizes": {"documents": 500, "embeddings": 500}},
    # three task threads beside the one-thread generator process
    "live_bus": {"cpus": 3},
}
END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms", "pass_s": "s",
              "heap_live_mb": "MB"}
PER_LAYER = {
    "setup_cold_s": "s", "prime_s": "s", "error_rate": "ratio",
    "build_ms": "ms", "plan_ms": "ms", "exec_ms": "ms", "driver_gap_ms": "ms",
    "jobs_per_op": "count", "stages_per_op": "count", "tasks_per_op": "count",
    "task_cpu_ms": "ms", "task_run_ms": "ms", "gc_ms": "ms",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB", "scan_mb": "MB",
    "persisted_rdds": "count", "state_rows": "count", "state_mb": "MB",
    "trace_overhead_pct": "%",
}
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 170


# ---- correctness against DuckDB (the rule scripts/check.py applies) ----------

def _render(df):
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    return list(df.columns), ["|".join(repr(v) if isinstance(v, float) else str(v) for v in row)
                              for row in df.itertuples(index=False)]


def oracle_failures(data_dir, run_dir):
    """Ops whose priming-pass output differs from their DuckDB oracle."""
    import duckdb
    import pandas as pd
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(run_dir, "dump", name, "*.parquet")))
        try:
            got = _render(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            exp = _render(con.execute(sql).fetchdf())
        except Exception as e:  # a failing oracle is a failed check, never a skipped one
            out[name] = f"oracle check error: {e}"
            continue
        if got[0] != exp[0]:
            out[name] = f"columns differ: spark={got[0]} duckdb={exp[0]}"
        elif got[1] != exp[1]:
            diff = next((i for i, (a, b) in enumerate(zip(got[1], exp[1])) if a != b),
                        min(len(got[1]), len(exp[1])))
            out[name] = f"rows differ from DuckDB (spark={len(got[1])} duckdb={len(exp[1])}, " \
                        f"first at row {diff})"
    return out


# ---- processes ---------------------------------------------------------------

def _stop(procs):
    for p in procs:
        if p.poll() is None:
            p.kill()
    for p in procs:
        try:
            p.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass


def _tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def run_jvm(classpath, run_dir, workload, data_dir, seconds, trace, seed, deadline):
    cfg = WORKLOADS[workload]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_FLAGS, "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-cp", ":".join(classpath), "graftbench.BenchMain",
           "--workload", workload, "--data", data_dir or "", "--run", run_dir,
           "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cfg["cpus"])]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(run_dir, "jvm.log")
    procs = []
    try:
        if workload == "live_bus":
            glog = open(os.path.join(run_dir, "busgen.log"), "w")
            procs.append(subprocess.Popen(
                [sys.executable, os.path.join(HERE, "busgen.py"), "--run", run_dir,
                 "--seed", str(seed), "--seconds", str(seconds)],
                stdout=glog, stderr=subprocess.STDOUT, cwd=HERE))
            ready = os.path.join(run_dir, "ctl", "prime_ready")
            while not os.path.exists(ready):
                if procs[0].poll() is not None or time.monotonic() > deadline:
                    raise RuntimeError("generator failed:\n" + _tail(glog.name))
                time.sleep(0.01)
        with open(log, "w") as out:
            jvm = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=ROOT)
            procs.append(jvm)
            rc = jvm.wait(timeout=max(1.0, deadline - time.monotonic()))
        if rc != 0:
            raise RuntimeError(f"JVM exited {rc}:\n" + _tail(log))
        for p in procs[:-1]:
            if p.wait(timeout=max(1.0, deadline - time.monotonic())) != 0:
                raise RuntimeError("generator failed:\n" + _tail(os.path.join(run_dir, "busgen.log")))
    except subprocess.TimeoutExpired:
        raise RuntimeError("run timed out:\n" + _tail(log))
    finally:
        _stop(procs)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


# ---- main --------------------------------------------------------------------

def main():
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        classpath = build.build()
    except SystemExit as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_TIMEOUT_S

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(STATE, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data_dir = None
    if "sizes" in WORKLOADS[a.workload]:
        sizes = WORKLOADS[a.workload]["sizes"]
        tag = "-".join(f"{k}{v}" for k, v in sorted(sizes.items())).replace(" ", "")
        data_dir = gen.generate(os.path.join(STATE, "data", f"seed{a.seed}-{tag}"), a.seed, sizes)
    jvm_start = time.monotonic()
    try:
        res = run_jvm(classpath, run_dir, a.workload, data_dir, a.seconds, a.trace, a.seed,
                      deadline)
        jvm_s = time.monotonic() - jvm_start
        if a.workload == "live_bus":
            with open(os.path.join(run_dir, "ctl", "ticks.json")) as f:
                ticks = json.load(f)
            with open(os.path.join(run_dir, "ctl", "backlog_ready")) as f:
                backlog = json.load(f)
            e2e, layers, extra, failures, attempted = analysis.live_metrics(res, ticks, backlog)
        else:
            e2e, layers, extra, failures, attempted = analysis.batch_metrics(
                res, oracle_failures(data_dir, run_dir))
    except RuntimeError as e:
        print(f"perfbench: {run_id} failed: {e}", file=sys.stderr)
        return 1

    failed = len(failures)
    layers["setup_cold_s"] = res["setup_s"][0]
    layers["prime_s"] = res["prime_s"]
    layers["error_rate"] = failed / attempted if attempted else 1.0
    bad_values = [k for k, (v, _) in e2e.items() if not v == v] + \
        ([k for k in PER_LAYER if not layers.get(k, float("nan")) == layers.get(k)]
         if a.trace else [])
    correct = failed == 0 and not bad_values

    artifact_dir = os.path.join(STATE, "artifacts")
    os.makedirs(artifact_dir, exist_ok=True)
    artifact = os.path.join(artifact_dir, run_id + ".json")
    with open(artifact, "w") as f:
        json.dump({"run": run_id, "end_to_end": e2e, "per_layer": layers, "detail": extra,
                   "failures": failures}, f, indent=1)

    print(f"{run_id}: {attempted} ops attempted, {failed} failed, "
          f"error_rate {layers['error_rate']:.4f}")
    batch = a.workload != "live_bus"
    for name, (v, n) in e2e.items():
        note = ""
        if batch and name.startswith(("latency", "pass")):
            note = f" over the mix's operations at their medians of >= {e2e['pass_s'][1]} samples"
        elif name.endswith("p90_ms") and not analysis.tail_ok(n, 0.9):
            note = f" [only {analysis.beyond(n, 0.9)} samples beyond p90]"
        print(f"  {name} = {v:.4f} {END_TO_END[name]} (n={n}){note}")
    for k, v in extra.items():
        if isinstance(v, (int, float)):
            print(f"  {k} = {v:.4f}")
    if "self_time" in extra:
        print("  self time by span (ms):")
        for k, row in sorted(extra["self_time"].items(), key=lambda kv: -kv[1]["self_ms"]):
            print(f"    {k:<14} n={row['count']:<5} total={row['total_ms']:10.1f} "
                  f"self={row['self_ms']:10.1f}")
    seen = set()
    for fl in failures:
        if (fl["op"], fl["reason"]) not in seen:
            seen.add((fl["op"], fl["reason"]))
            print(f"  FAILED {fl['op']}: {fl['reason']}")
    for k in bad_values:
        print(f"  MISSING {k}: no value measured")
    print(f"  setups: {', '.join(f'{v:.2f}' for v in res['setup_s'])} s; "
          f"priming {res['prime_s']:.2f} s; JVM {jvm_s:.1f} s of "
          f"{time.monotonic() - started:.1f} s wall")
    print(f"  artifact: {os.path.relpath(artifact, ROOT)}")

    def number(v):  # a metric that could not be measured is null, never NaN
        return v if v is not None and v == v else None
    if a.trace:
        metrics = {k: {"value": number(layers.get(k)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": number(e2e[k][0]), "unit": u} for k, u in END_TO_END.items()}
    shutil.copy(os.path.join(run_dir, "result.json"), artifact[:-len(".json")] + ".raw.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
