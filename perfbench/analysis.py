"""Pure arithmetic of the benchmark: percentiles, span self time, the
tick-to-trigger mapping of the live bus and the metrics computed from a
run's raw record (`result.json`, written by graftbench.BenchMain).
Everything here is deterministic and covered by test_analysis.py.
"""
import datetime
import math
import re
import statistics
from collections import defaultdict

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
MB = 1024.0 * 1024.0
# micro-batch phases in the order Spark runs them inside one trigger
TRIGGER_PARTS = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                 "commitOffsets"]
HANDLERS = ["sessionize", "trim", "dead_letter", "windowed"]


def valid_name(name):
    return bool(NAME_RE.fullmatch(name))


def valid_unit(unit):
    return bool(UNIT_RE.fullmatch(unit))


# ---- percentiles -------------------------------------------------------------

def percentile(values, q):
    """The q-quantile, interpolated linearly between the two samples
    around position q·(n-1) of the sorted values."""
    s = sorted(values)
    h = q * (len(s) - 1)
    lo = math.floor(h)
    return s[lo] if lo + 1 >= len(s) else s[lo] + (h - lo) * (s[lo + 1] - s[lo])


def beyond(n, q):
    """Samples lying wholly past the q-quantile's position among n."""
    return n - 1 - math.floor(q * (n - 1)) if n else 0


def tail_ok(n, q, need=10):
    """The reporting rule: a percentile counts only with `need` samples beyond it."""
    return n > 0 and beyond(n, q) >= need


def median(values):
    return statistics.median(values) if values else float("nan")


def mean(values):
    return sum(values) / len(values) if values else 0.0


# ---- spans -------------------------------------------------------------------

def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per span name: count, total time and self time, where a span's self
    time is its duration minus the part of it its children cover."""
    children = defaultdict(list)
    for sp in spans:
        children[sp["parent"]].append((sp["start_ms"], sp["end_ms"]))
    table = {}
    for sp in spans:
        dur = sp["end_ms"] - sp["start_ms"]
        own = dur - union_ms(children.get(sp["id"], []), sp["start_ms"], sp["end_ms"])
        row = table.setdefault(sp["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["count"] += 1
        row["total_ms"] += dur
        row["self_ms"] += own
    return table


# ---- live bus: ticks to triggers ---------------------------------------------

def epoch_ms(iso):
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def batches_by_query(progress):
    """Per query name: [(cumulative input rows after the batch, end epoch ms,
    progress report)] in batch order."""
    out = defaultdict(list)
    for p in sorted(progress, key=lambda p: (p["name"], p["batchId"], epoch_ms(p["timestamp"]))):
        cum = (out[p["name"]][-1][0] if out[p["name"]] else 0) + p["numInputRows"]
        end = epoch_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)
        out[p["name"]].append((cum, end, p))
    return out


def trigger_end(batches, cum_rows):
    """End of the first trigger whose cumulative input reaches `cum_rows`:
    files are read in order, so that trigger read the file holding row
    `cum_rows`. None if no trigger got that far."""
    for cum, end, _ in batches:
        if cum >= cum_rows:
            return end
    return None


def tick_latencies(ticks, batches):
    """Per tick: ms from its file becoming visible to the end of the
    trigger that read it, in the slowest of the queries (None when some
    query never read it), plus which queries did read it."""
    out = []
    for t in ticks:
        ends = {q: trigger_end(b, t["cum_rows"]) for q, b in batches.items()}
        done = {q for q, e in ends.items() if e is not None}
        lat = None
        if ends and len(done) == len(ends):
            lat = max(ends.values()) - t["visible_ns"] / 1e6
        out.append((lat, done))
    return out


# ---- metrics from one run -------------------------------------------------------

def _job_totals(jobs):
    by_key = defaultdict(list)
    for j in jobs:
        by_key[j["key"]].append(j)
    return by_key


def _per_op_layers(groups, ops_count):
    """Scheduler counters averaged over traced operations (or triggers)."""
    keys = list(groups)
    def avg(f):
        return sum(f(groups[k]) for k in keys) / max(1, ops_count)
    return {
        "jobs_per_op": avg(len),
        "stages_per_op": avg(lambda js: sum(j["stages"] for j in js)),
        "tasks_per_op": avg(lambda js: sum(j["tasks"] for j in js)),
        "task_cpu_ms": avg(lambda js: sum(j["task_cpu_ms"] for j in js)),
        "task_run_ms": avg(lambda js: sum(j["task_run_ms"] for j in js)),
        "gc_ms": avg(lambda js: sum(j["gc_ms"] for j in js)),
        "shuffle_write_mb": avg(lambda js: sum(j["shuffle_write_bytes"] for j in js)) / MB,
        "shuffle_read_mb": avg(lambda js: sum(j["shuffle_read_bytes"] for j in js)) / MB,
        "spill_mb": avg(lambda js: sum(j["spill_bytes"] for j in js)) / MB,
        "scan_mb": avg(lambda js: sum(j["input_bytes"] for j in js)) / MB,
    }


def _job_spans(jobs, parents, next_id):
    """Job spans under the phase span (or operation span) that was running
    when each job started. `parents[key]` lists (span id, start, end),
    the operation span first."""
    out = []
    for j in jobs:
        cands = parents.get(j["key"])
        if not cands or j["end_ms"] != j["end_ms"]:  # unattributed or never ended
            continue
        parent = cands[0][0]
        for sid, s, e in cands[1:]:
            if s <= j["start_ms"] <= e:
                parent = sid
        next_id += 1
        out.append({"id": next_id, "name": "job", "parent": parent, "start_ms": j["start_ms"],
                    "end_ms": j["end_ms"], "key": j["key"]})
    return out


def batch_metrics(res, oracle_failures):
    """End-to-end and per-layer numbers of a batch run, plus the failures."""
    prime = {e["op"]: e for e in res["prime"]}
    ops = {o["name"]: o for o in res["ops"]}
    bad_ops = dict(oracle_failures)
    for name, o in ops.items():
        p = prime[name]
        if "error" in p:
            bad_ops[name] = p["error"]
        elif not o["oracle"] and p["rows"] == 0:
            bad_ops[name] = "empty output"
    failures, good = [], []
    for e in res["execs"]:
        reason = e.get("error") or bad_ops.get(e["op"])
        if reason is None and e["hash"] != prime[e["op"]]["hash"]:
            reason = "output differs from the priming pass"
        if reason:
            failures.append({"op": e["op"], "pass": e["pass"], "reason": reason})
        else:
            good.append(e)
    per_op = defaultdict(list)
    for e in good:
        per_op[e["op"]].append(e["ms"])
    # a run measures each operation only a few times, so percentiles over
    # the raw samples would jump between operations as the sample count
    # moves; they are taken over one pass instead, each operation at its
    # median latency of the run
    lat = [median(v) for v in per_op.values()] if len(per_op) == len(ops) else []
    per_op_n = min((len(v) for v in per_op.values()), default=0)
    family = defaultdict(float)
    for name, ms in per_op.items():
        family[ops[name]["family"]] += median(ms)
    writes = [e for e in good if e["write"]]
    e2e = {
        "setup_s": (median(res["setup_s"]), len(res["setup_s"])),
        "latency_p50_ms": (percentile(lat, 0.5) if lat else float("nan"), len(lat)),
        "latency_p90_ms": (percentile(lat, 0.9) if lat else float("nan"), len(lat)),
        "pass_s": (sum(lat) / 1000.0 if lat else float("nan"), per_op_n),
        "heap_live_mb": (res["heap_live_mb"], 1),
    }
    extra = {f"family.{f}_ms": v for f, v in sorted(family.items())}
    extra.update({f"op.{n}_ms": median(v) for n, v in sorted(per_op.items())})
    if writes:
        extra["write_ms"] = mean([e["ms"] for e in writes])
        extra["write_files"] = mean([e["files"] for e in writes])
    layers = {}
    if res["traced"]:
        layers, spans = _batch_layers(res, good)
        extra["self_time"] = self_times(spans)
        extra["spans"] = spans
    return e2e, layers, extra, failures, len(res["execs"])


def _batch_layers(res, good):
    traced = [e for e in good if e["traced"]]
    keys = {f"t:{e['pass']}:{e['op']}" for e in traced}
    spans = list(res["spans"])
    ops = {s["key"]: s for s in spans if s["name"] == "op" and s["key"] in keys}
    phases = defaultdict(list)
    for s in spans:
        phases[s["parent"]].append(s)
    parents = {k: [(o["id"], o["start_ms"], o["end_ms"])] +
               [(c["id"], c["start_ms"], c["end_ms"]) for c in phases[o["id"]]]
               for k, o in ops.items()}
    jobs = [j for j in res["jobs"] if j["key"] in keys]
    spans += _job_spans(jobs, parents, max((s["id"] for s in spans), default=0))
    groups = _job_totals(jobs)
    layers = _per_op_layers(groups, len(ops))

    def phase_ms(name):
        return mean([c["end_ms"] - c["start_ms"] for o in ops.values() for c in phases[o["id"]]
                     if c["name"] == name])
    gaps = []
    for k, o in ops.items():
        ivs = [(j["start_ms"], j["end_ms"]) for j in groups.get(k, [])]
        gaps.append(o["end_ms"] - o["start_ms"] - union_ms(ivs, o["start_ms"], o["end_ms"]))
    untraced = defaultdict(list)
    traced_ms = defaultdict(list)
    for e in good:
        (traced_ms if e["traced"] else untraced)[e["op"]].append(e["ms"])
    ratios = [mean(traced_ms[n]) / mean(untraced[n]) for n in traced_ms if untraced.get(n)]
    layers.update({
        "build_ms": phase_ms("build"),
        "plan_ms": phase_ms("plan"),
        "exec_ms": phase_ms("exec"),
        "driver_gap_ms": mean(gaps),
        "persisted_rdds": mean([e["persisted_rdds"] for e in good]),
        "state_rows": 0,
        "state_mb": 0.0,
        "trace_overhead_pct": (median(ratios) - 1.0) * 100.0 if ratios else float("nan"),
    })
    return layers, spans


def live_metrics(res, ticks, backlog):
    """End-to-end and per-layer numbers of a live-bus run, plus failures."""
    batches = batches_by_query(res["progress"])
    lats = tick_latencies(ticks, batches)
    failures = []
    for h in HANDLERS:
        err = res["parity"].get(h)
        if err:
            failures += [{"op": h, "tick": t["tick"], "reason": err} for t in ticks]
        else:
            failures += [{"op": h, "tick": t["tick"], "reason": "tick never processed"}
                         for t, (_, done) in zip(ticks, lats) if h not in done]
    ok = [lat for lat, done in lats if lat is not None]
    drain_rows = backlog["first_row"] + backlog["rows"]
    ends = [trigger_end(b, drain_rows) for b in batches.values()]
    drain_s = (max(ends) - backlog["visible_ns"] / 1e6) / 1000.0 \
        if ends and None not in ends else math.nan
    e2e = {
        "setup_s": (median(res["setup_s"]), len(res["setup_s"])),
        "latency_p50_ms": (percentile(ok, 0.5) if ok else float("nan"), len(ok)),
        "latency_p90_ms": (percentile(ok, 0.9) if ok else float("nan"), len(ok)),
        "pass_s": (drain_s, 1),
        "heap_live_mb": (res["heap_live_mb"], 1),
    }
    extra = {
        "drain_eps": backlog["rows"] / drain_s if drain_s > 0 else float("nan"),
        "gen_late_ms": median([(t["visible_ns"] - t["due_ns"]) / 1e6 for t in ticks]),
        "backlog_drain_s": lats[-1][0] / 1000.0 if lats and lats[-1][0] is not None
        else float("nan"),
    }
    data = {q: [p for _, _, p in b if p["numInputRows"] > 0] for q, b in batches.items()}
    for q, ps in data.items():
        def d(key):
            return mean([p["durationMs"].get(key, 0) for p in ps])
        last = batches[q][-1][2].get("stateOperators", []) if batches[q] else []
        ops = [p.get("stateOperators", []) for p in ps]
        extra.update({
            f"live.{q}.trigger_ms": d("triggerExecution"),
            f"live.{q}.source_ms": d("latestOffset") + d("getBatch"),
            f"live.{q}.planning_ms": d("queryPlanning"),
            f"live.{q}.checkpoint_ms": d("walCommit") + d("commitOffsets"),
            f"live.{q}.add_batch_ms": d("addBatch"),
            f"live.{q}.rows_per_trigger": mean([p["numInputRows"] for p in ps]),
            f"live.{q}.state_rows": sum(s.get("numRowsTotal", 0) for s in last),
            f"live.{q}.state_mb": sum(s.get("memoryUsedBytes", 0) for s in last) / MB,
            f"live.{q}.state_commit_ms": mean([sum(s.get("commitTimeMs", 0) for s in o) for o in ops]),
            f"live.{q}.state_update_ms": mean([sum(s.get("allUpdatesTimeMs", 0) for s in o)
                                              for o in ops]),
            f"live.{q}.watermark_dropped": sum(s.get("numRowsDroppedByWatermark", 0)
                                               for o in ops for s in o),
        })
    layers = {}
    if res["traced"]:
        layers, spans = _live_layers(res, batches, data, lats, ticks)
        extra["self_time"] = self_times(spans)
        extra["spans"] = spans
    return e2e, layers, extra, failures, len(HANDLERS) * len(ticks)


def _live_layers(res, batches, data, lats, ticks):
    spans = list(res["spans"])
    next_id = max((s["id"] for s in spans), default=0)
    parents, triggers = {}, {}
    for q, b in batches.items():
        for _, end, p in b:
            next_id += 1
            start = epoch_ms(p["timestamp"]) - res["epoch_ms0"]
            tid = next_id
            spans.append({"id": tid, "name": "trigger", "parent": -1, "start_ms": start,
                          "end_ms": end - res["epoch_ms0"], "key": q})
            key = f"{p['id']}/{p['batchId']}"
            parents[key] = [(tid, start, end - res["epoch_ms0"])]
            t = start
            for part in TRIGGER_PARTS:
                dur = p["durationMs"].get(part, 0)
                next_id += 1
                spans.append({"id": next_id, "name": part, "parent": tid, "start_ms": t,
                              "end_ms": t + dur, "key": q})
                parents[key].append((next_id, t, t + dur))
                t += dur
            triggers[key] = (start, end - res["epoch_ms0"], p)
    jobs = [j for j in res["jobs"] if j["key"] in parents]
    spans += _job_spans(jobs, parents, next_id)
    groups = _job_totals(jobs)
    seen = [k for k in triggers if k in groups]
    layers = _per_op_layers({k: groups[k] for k in seen}, len(seen))
    gaps = [triggers[k][1] - triggers[k][0] -
            union_ms([(j["start_ms"], j["end_ms"]) for j in groups[k]], triggers[k][0],
                     triggers[k][1]) for k in seen]
    all_data = [p for ps in data.values() for p in ps]
    windows = [(s + res["epoch_ms0"], e + res["epoch_ms0"]) for s, e in res["trace_windows"]]

    def in_window(t):
        ms = t["visible_ns"] / 1e6
        return any(s <= ms <= e for s, e in windows)
    on = [lat for (lat, _), t in zip(lats, ticks) if lat is not None and in_window(t)]
    off = [lat for (lat, _), t in zip(lats, ticks) if lat is not None and not in_window(t)]
    states = [s for b in batches.values() if b for s in b[-1][2].get("stateOperators", [])]
    layers.update({
        "build_ms": res["build_ms"],
        "plan_ms": mean([p["durationMs"].get("queryPlanning", 0) for p in all_data]),
        "exec_ms": mean([p["durationMs"].get("addBatch", 0) for p in all_data]),
        "driver_gap_ms": mean(gaps),
        "persisted_rdds": res["persisted_rdds"],
        "state_rows": sum(s.get("numRowsTotal", 0) for s in states),
        "state_mb": sum(s.get("memoryUsedBytes", 0) for s in states) / MB,
        "trace_overhead_pct": (median(on) / median(off) - 1.0) * 100.0 if on and off
        else float("nan"),
    })
    return layers, spans
