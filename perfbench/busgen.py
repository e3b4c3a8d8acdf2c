"""The live-bus generator: a process of its own, beside the Spark JVM,
that drops one JSONL file per tick into the directory the standing
queries tail.

    python3 perfbench/busgen.py --run DIR --seed N --seconds S

Phases (marker files in DIR/ctl, see LiveBus.scala):
  1. priming files, then `prime_ready`;
  2. on `go_backlog`: the drain backlog, visible at once, then
     `backlog_ready`;
  3. on `go_rate`: one file every TICK_S seconds at RATE events/s for
     S seconds, each timed from when it became visible; then
     `ticks.json` and `gen_done`.

Every event is generated from the seed before the first file is
written. Event time advances monotonically across the whole feed (30
days over all rows), so files are offered in event-time order. Users
are drawn from USERS ids with a heavy head, so the keep-last-50 trim
and the third-delivery dead-letter rule both fire.
"""
import argparse
import json
import os
import sys
import time

import numpy as np

sys.dont_write_bytecode = True
from gen import events_columns, rng  # noqa: E402

USERS = 20_000
RATE = 2_000
TICK_S = 0.1
PRIME_ROWS = 2_000
BACKLOG_ROWS = 40_000
# small files: each query drains the backlog in three triggers, not one
# (with one, which query finished last varied too much from run to run)
FILE_ROWS = 250


def heavy_users(r, n):
    return np.floor(USERS * r.random(n) ** 2.5).astype(np.int64)


def lines(seed, n):
    c = events_columns(rng(seed, 4), n, heavy_users)
    return [
        f'{{"event_id":{i},"ts_us":{t},"user_id":{u},"event_type":"{e}",'
        f'"value":{float(v)!r},"props":"{{\\"k\\": {k}}}"}}\n'
        for i, t, u, e, v, k in zip(c["event_id"], c["ts_us"], c["user_id"],
                                     c["event_type"], c["value"], c["k"])]


def put(bus, name, rows):
    """Write a file under a hidden name, then rename it into view."""
    tmp = os.path.join(bus, "." + name)
    with open(tmp, "w") as f:
        f.writelines(rows)
    os.rename(tmp, os.path.join(bus, name))
    return time.time_ns()


def mark(ctl, name, body):
    tmp = os.path.join(ctl, "." + name)
    with open(tmp, "w") as f:
        json.dump(body, f)
    os.rename(tmp, os.path.join(ctl, name))


def await_mark(ctl, name, timeout_s):
    deadline = time.monotonic() + timeout_s
    while not os.path.exists(os.path.join(ctl, name)):
        if time.monotonic() > deadline:
            sys.exit(f"busgen: timed out waiting for {name}")
        time.sleep(0.002)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--run", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    bus, ctl = os.path.join(a.run, "bus"), os.path.join(a.run, "ctl")
    os.makedirs(bus, exist_ok=True)
    os.makedirs(ctl, exist_ok=True)
    n_ticks = int(round(a.seconds / TICK_S))
    tick_rows = int(RATE * TICK_S)
    feed = lines(a.seed, PRIME_ROWS + BACKLOG_ROWS + n_ticks * tick_rows)
    pos = 0

    for i in range(PRIME_ROWS // FILE_ROWS):
        put(bus, f"p-{i:05d}.jsonl", feed[pos:pos + FILE_ROWS])
        pos += FILE_ROWS
    mark(ctl, "prime_ready", {"rows": pos})

    await_mark(ctl, "go_backlog", 180)
    n_files = BACKLOG_ROWS // FILE_ROWS
    now_ms = time.time_ns() // 1_000_000
    names = []
    for i in range(n_files):
        # distinct, ordered modification times: the file source reads in that order
        name = f"b-{i:05d}.jsonl"
        with open(os.path.join(bus, "." + name), "w") as f:
            f.writelines(feed[pos:pos + FILE_ROWS])
        os.utime(os.path.join(bus, "." + name), ns=((now_ms - n_files + i) * 1_000_000,) * 2)
        names.append(name)
        pos += FILE_ROWS
    visible_ns = time.time_ns()
    for name in names:
        os.rename(os.path.join(bus, "." + name), os.path.join(bus, name))
    mark(ctl, "backlog_ready", {"rows": BACKLOG_ROWS, "visible_ns": visible_ns,
                                "first_row": PRIME_ROWS})

    await_mark(ctl, "go_rate", 180)
    ticks = []
    t0, e0 = time.monotonic_ns(), time.time_ns()
    tick_ns = int(TICK_S * 1e9)
    for k in range(n_ticks):
        due = t0 + k * tick_ns
        wait = (due - time.monotonic_ns()) / 1e9
        if wait > 0:
            time.sleep(wait)
        visible = put(bus, f"t-{k:05d}.jsonl", feed[pos:pos + tick_rows])
        pos += tick_rows
        ticks.append({"tick": k, "rows": tick_rows, "cum_rows": pos,
                      "due_ns": e0 + k * tick_ns, "visible_ns": visible})
    with open(os.path.join(ctl, "ticks.json"), "w") as f:
        json.dump(ticks, f)
    mark(ctl, "gen_done", {"rows": pos})


if __name__ == "__main__":
    main()
