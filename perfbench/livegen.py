"""Open-loop event generator for the live_tail workload.

Publishes small parquet files of events into a Topic directory at one
fixed rate, on a fixed schedule that does not wait for the consumer.
Event i is scheduled at t0 + i / rate and carries that time (epoch
microseconds) in `sched_us`; every TICK_S seconds the events scheduled
since the last tick are written to a dot-prefixed file (invisible to
Spark's file listing) and renamed into the topic. Single-threaded, no
Spark.  At the end it writes its publish log and the per-key totals it
computed itself, then creates the `--done` marker.

    python3 perfbench/livegen.py --seed 3 --rate 400 --seconds 8 \
        --keys 64 --topic DIR --log gen.json --done gen_done

With `--burst N` it writes N files at once, without a schedule (the
pre-generated warm-up input).
"""
import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TICK_S = 0.1  # one file per tick
SCHEMA = pa.schema([(n, pa.int64()) for n in ("event_id", "key", "value", "sched_us")])


def _publish(topic, idx, ids, keys, values, sched_us):
    tmp = os.path.join(topic, f".part-{idx:06d}.parquet")
    pq.write_table(pa.table([ids, keys, values, sched_us], schema=SCHEMA), tmp)
    name = f"part-{idx:06d}.parquet"
    os.rename(tmp, os.path.join(topic, name))
    return name


def events(seed, n, keys):
    rng = np.random.default_rng(seed)
    return rng.integers(0, keys, n), rng.integers(1, 1000, n)


def run(a):
    n = int(round(a.rate * a.seconds))
    keys, values = events(a.seed, n, a.keys)
    ids = np.arange(n, dtype=np.int64)
    os.makedirs(a.topic, exist_ok=True)
    if a.burst:
        per = max(1, n // a.burst)
        for f in range(a.burst):
            sl = slice(f * per, n if f == a.burst - 1 else (f + 1) * per)
            _publish(a.topic, f, ids[sl], keys[sl], values[sl], ids[sl])
        return
    t0 = time.time() + 0.05
    sched = t0 + ids / a.rate
    sched_us = np.round(sched * 1e6).astype(np.int64)
    files, late = [], []
    n_ticks = int(np.ceil(a.seconds / TICK_S))
    lo = 0
    for k in range(1, n_ticks + 1):
        due = t0 + k * TICK_S
        hi = int(np.searchsorted(sched, due, side="right")) if k < n_ticks else n
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        if hi > lo:
            sl = slice(lo, hi)
            name = _publish(a.topic, k, ids[sl], keys[sl], values[sl], sched_us[sl])
            now = time.time()
            files.append({"name": name, "first": lo, "n": hi - lo, "published": now})
            late.append(now - due)
        lo = hi
    tot_cnt = np.bincount(keys, minlength=a.keys)
    tot_sum = np.bincount(keys, weights=values, minlength=a.keys).astype(np.int64)
    log = {"t0": t0, "rate": a.rate, "events": n, "files": files,
           "sched_us": sched_us.tolist(), "keys": keys.tolist(),
           "lateness_s": late,
           "totals": {str(k): [int(tot_cnt[k]), int(tot_sum[k])]
                      for k in range(a.keys) if tot_cnt[k]}}
    tmp = a.log + ".tmp"
    with open(tmp, "w") as f:
        json.dump(log, f)
    os.rename(tmp, a.log)
    open(a.done, "w").close()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="events per second")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--keys", type=int, required=True)
    ap.add_argument("--topic", required=True)
    ap.add_argument("--log")
    ap.add_argument("--done")
    ap.add_argument("--burst", type=int, default=0)
    run(ap.parse_args())
