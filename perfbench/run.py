#!/usr/bin/env python3
"""graft's benchmark: one command, three workloads, oracle-checked.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (outputs under `.bench_build/` and the
builds' own `target/` directories). Each run makes its tables from
`--seed`, runs the workload in the JVM harness (`perfbench.Main`), checks
every timed output, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`.
See perfbench/README.md for the workloads and every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# Sessions.local(n, n): n is nproc capped at 4, or PERFBENCH_CORES (the
# README's local[1] reference figure is PERFBENCH_CORES=1)
CORES = int(os.environ.get("PERFBENCH_CORES", max(1, min(4, os.cpu_count() or 1))))
RUN_LIMIT_S = 170    # everything after the build ends within this
HEAP = "2g"
SF = 0.01
TAIL_BEYOND = 10     # samples the tail figure leaves beyond it

# The lists. A run makes round(seconds / PASS_SLOT_S) timed passes, at
# least one, whatever its speed, so every run of a workload attempts the
# same calls; at HEAD (4 cores) a batch_mix pass takes about 4 s, so a
# 12 s run times three passes. stream_backfill (a pass takes about 5 s)
# runs with the same command but is not in BENCHMARK.json: a full
# evaluation of three workloads does not fit the time allowed for it.
BATCH_MIX = [
    "q01_agg", "q06_join5",
    "q40_token_count", "q44_minhash_sig", "q86_semdedup",
    "q189_pagerank_iter",
    "q50_ann_topk",
]
STREAM_BACKFILL = [
    "q130_stream_ewma", "q268_stream_bm25", "q224_stream_component_census",
]
PASS_SLOT_S = 4.0
# live_tail's warm-up stream: warm_files micro-batches of 200 events each
LIVE = {"rate": 400.0, "keys": 64, "warm_files": 6}
WORKLOADS = {"batch_mix": BATCH_MIX, "stream_backfill": STREAM_BACKFILL,
             "live_tail": []}

E2E = ["setup_s", "pass_s", "query_s.p50", "query_s.tail", "latency_s.p50",
       "latency_s.tail", "processed_eps", "retained_heap_mb"]
UNITS = {"setup_s": "s", "pass_s": "s", "query_s.p50": "s", "query_s.tail": "s",
         "latency_s.p50": "s", "latency_s.tail": "s", "processed_eps": "events/s",
         "retained_heap_mb": "MB"}
LAYER_SUMS = [
    "Sessions.gc_s", "Tables.scan_ms", "Tables.scan_rows", "Tables.scan_bytes",
    "Tables.scan_tasks", "plans.plan_ms", "plans.codegen_compiles", "plans.codegen_ms",
    "plans.interpreted_exprs", "plans.exchanges", "plans.smj", "plans.bhj",
    "operators.task_s", "operators.cpu_s", "operators.shuffle_write_bytes",
    "operators.shuffle_read_bytes", "operators.shuffle_fetch_wait_ms",
    "operators.spill_bytes", "operators.jobs", "operators.tasks",
    "streaming.batches", "streaming.nodata_batches", "streaming.trigger_ms",
    "streaming.add_batch_ms", "streaming.planning_ms", "streaming.wal_ms",
    "streaming.commit_ms", "streaming.latest_offset_ms", "streaming.state_rows",
    "streaming.state_bytes", "streaming.state_removed", "streaming.state_commit_ms",
    "streaming.drain_s",
]
LAYER_RATIOS = ["operators.busy_frac", "operators.task_skew"]
LAYER_OWN = ["Sessions.build_s", "sources.Topic.lag_s", "sources.Topic.files_per_batch",
             "sources.KvStore.upsert_s.p50", "sources.KvStore.upsert_s.tail",
             "gen.lateness_s", "trace.pass_s", "trace.query_s.p50", "trace.latency_s.p50"]


def per_layer_names(workload):
    """BENCHMARK.json's per-layer metrics (batch_mix's queries), plus the
    workload's own pairings when it is stream_backfill."""
    qs = [f"queries.{q}_s" for q in dict.fromkeys(BATCH_MIX + WORKLOADS[workload])]
    return LAYER_OWN[:1] + LAYER_SUMS + LAYER_RATIOS + LAYER_OWN[1:] + qs


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness when the sources changed or the outputs
    are gone; return the
    launch spec (classpath, JVM options)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no engine sources here (build.sbt, src/main/scala); "
                         "run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, spec = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "launch.txt")
    digest = _sources_digest()
    if not (os.path.exists(spec) and os.path.exists(stamp)
            and open(stamp).read() == digest
            and all(os.path.exists(e) for e in open(spec).readline().strip().split(":"))):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = env.get("SBT_OPTS", "")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "sbt.repository.config" not in opts and os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true -Dsbt.server.autostart=false"
                           f" -Dsbt.global.base={os.path.join(BUILD, 'sbt')}").strip()
        log("building engine and harness with sbt (first run only)")
        t = time.time()
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"],
                                 cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
        if rc != 0:
            raise SystemExit(f"perfbench: sbt build failed (rc={rc}); see {BUILD}/build.log")
        shutil.copy(os.path.join(HERE, "target", "launch.txt"), spec)
        with open(stamp, "w") as f:
            f.write(digest)
        log(f"built in {time.time() - t:.0f} s")
    lines = open(spec).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


# ------------------------------------------------------------------ JVM

def jvm(spec, work, args):
    cp, opts = spec
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
           + opts + ["-cp", cp, "perfbench.Main", "--work", work,
                     "--cores", str(CORES), "--launched-at", repr(time.time())] + args)
    return subprocess.Popen(cmd, cwd=work, stdout=subprocess.DEVNULL,
                            stderr=open(os.path.join(work, "jvm.log"), "a"),
                            stdin=subprocess.DEVNULL)


def wait(p, deadline, what):
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"perfbench: {what} timed out")
    if rc != 0:
        raise SystemExit(f"perfbench: {what} exited with {rc}")


def record(work):
    with open(os.path.join(work, "record.json")) as f:
        return json.load(f)


def fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -------------------------------------------------------------- metrics

def tail(xs):
    """The highest percentile with TAIL_BEYOND samples beyond it; below
    forty samples, where that percentile would be no tail, the upper
    quartile."""
    s = sorted(xs)
    if len(s) < 2:
        return s[0] if s else None
    return s[len(s) - 1 - TAIL_BEYOND] if len(s) >= 4 * TAIL_BEYOND else statistics.quantiles(s, n=4)[2]



def median(xs):
    """The median, or None (printed as null) when nothing was measured."""
    return statistics.median(xs) if xs else None


def closed_metrics(rec, data_dir, scratch, trace):
    import oracle  # imports the checkout's tools/check.py, so only after build()
    orc = oracle.Oracle(data_dir, scratch)
    verdict = {}
    for o in rec["outputs"]:
        why = orc.check(rec["oracle_sql"].get(o["q"]), o["path"])
        verdict[(o["q"], o["digest"])] = why
        if why:
            log(f"FAIL {o['q']}: {why}")
    calls = rec["calls"]
    for c in calls:
        c["pass_ok"] = c["ok"] and verdict.get((c["q"], c["digest"]), "unchecked") is None
        if not c["ok"]:
            log(f"FAIL {c['q']} pass {c['pass']}: {c['err']}")
    good = [c for c in calls if c["pass_ok"]]
    times = [c["s"] for c in good]
    # a pass counts only whole: a failed call must not make it read faster
    by_pass, broken = {}, {c["pass"] for c in calls if not c["pass_ok"]}
    for c in good:
        if c["pass"] not in broken:
            by_pass.setdefault(c["pass"], []).append(c["s"])
    m = {"pass_s": median([sum(v) for v in by_pass.values()]),
         "query_s.p50": median(times),
         # 21 calls in three passes, the slowest always q189: too few for
         # tail(), so the median over the passes of each pass's slowest call
         "query_s.tail": median([max(v) for v in by_pass.values()]),
         "processed_eps": len(good) / rec["timed_s"]}
    # closed loop, one client: an operation's latency is its own time
    m["latency_s.p50"], m["latency_s.tail"] = m["query_s.p50"], m["query_s.tail"]
    layers = {}
    if trace:
        per_q = {}
        for c in good:
            per_q.setdefault(c["q"], []).append(c["s"])
        layers = {f"queries.{q}_s": median(v) for q, v in per_q.items()}
        layers.update(_layers(rec, rec["passes"]))
        layers["trace.pass_s"] = m["pass_s"]
        layers["trace.query_s.p50"] = m["query_s.p50"]
        layers["trace.latency_s.p50"] = m["latency_s.p50"]
    failed = len(calls) - len(good)
    return len(calls), failed, failed == 0, m, layers


def _layers(rec, units, whole=()):
    """Layer sums per unit of work (per pass, or per micro-batch), except
    the ratios and the `whole` ones, which are reported as measured."""
    raw = rec.get("layers", {})
    out = {k: raw.get(k, 0.0) / (1 if k in whole else max(1, units)) for k in LAYER_SUMS}
    out.update({k: raw.get(k, 0.0) for k in LAYER_RATIOS})
    return out


def _source_log(ckpt):
    """file name -> the set of micro-batch ids it was read in, from the
    file source's own log. Every tenth batch the log also writes an
    `N.compact` file that repeats the entries of the batches before it,
    so an entry counts once per batch id."""
    d = os.path.join(ckpt, "sources", "0")
    batches_of = {}
    for f in os.listdir(d):
        if f.startswith("."):
            continue
        with open(os.path.join(d, f)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    batches_of.setdefault(os.path.basename(e["path"]), set()).add(e["batchId"])
    return batches_of


def _commit_rate(commits, batch_of, genlog):
    """Events committed per second while the generator ran: the events
    of the batches committed after the first commit and before the
    generator's last publish, over the time between those commits."""
    end = genlog["t0"] + len(genlog["sched_us"]) / genlog["rate"]
    per_batch = {}
    for f in genlog["files"]:
        b = batch_of.get(f["name"])
        per_batch[b] = per_batch.get(b, 0) + f["n"]
    done = sorted((e, per_batch.get(b, 0)) for b, (s, e) in commits.items() if e <= end)
    if len(done) < 2:
        log("live_tail committed fewer than two batches while the generator ran")
        return None
    return sum(n for _, n in done[1:]) / (done[-1][0] - done[0][0])


def live_metrics(rec, genlog, trace):
    """An event fails when its file was not read in exactly one committed
    micro-batch, or when the store's (count, sum) of its key differs
    from the generator's own totals. Only the other events' latencies
    are measured."""
    commits = {int(b): (s, e) for b, s, e in rec["commits"]}
    batches_of = _source_log(rec["checkpoint"])
    batch_of = {f: min(bs) for f, bs in batches_of.items() if len(bs) == 1 and min(bs) in commits}
    want = {int(k): tuple(v) for k, v in genlog["totals"].items()}
    got = {int(k): (c, t) for k, c, t in rec["store"]}
    bad_keys = {k for k in want.keys() | got.keys() if got.get(k) != want.get(k)}
    keys, sched = genlog["keys"], genlog["sched_us"]
    lat, failed = {}, 0
    for f in genlog["files"]:
        b = batch_of.get(f["name"])
        for i in range(f["first"], f["first"] + f["n"]):
            if b is None or keys[i] in bad_keys:
                failed += 1
            else:
                lat.setdefault(b, []).append(commits[b][1] - sched[i] / 1e6)
    if failed:
        log(f"FAIL live_tail: {failed} of {genlog['events']} events lost, read twice "
            f"or in a key whose store total is wrong ({len(bad_keys)} such keys)")
    upserts = [e - s for s, e in commits.values()]
    m = {"pass_s": median([p["trigger_ms"] / 1e3 for p in rec["progress"]]),
         "query_s.p50": median(upserts), "query_s.tail": tail(upserts),
         "latency_s.p50": median([x for v in lat.values() for x in v]),
         # the events of a micro-batch share its commit, so they are one
         # sample: the tail is over each batch's slowest event
         "latency_s.tail": tail([max(v) for v in lat.values()]),
         "processed_eps": _commit_rate(commits, batch_of, genlog)}
    layers = {}
    if trace:
        # one long-lived query: its state at the end is the store's size
        layers = _layers(rec, len(commits), whole=("streaming.state_rows",
                                                    "streaming.state_bytes"))
        pub = {f["name"]: f["published"] for f in genlog["files"]}
        start_of = {b: s for b, (s, _) in commits.items()}
        lags = [start_of[batch_of[n]] - t for n, t in pub.items() if n in batch_of]
        layers.update({
            "sources.Topic.lag_s": median(lags),
            "sources.Topic.files_per_batch": len(genlog["files"]) / max(1, len(commits)),
            "sources.KvStore.upsert_s.p50": m["query_s.p50"],
            "sources.KvStore.upsert_s.tail": m["query_s.tail"],
            "gen.lateness_s": max(genlog["lateness_s"]),
            "trace.pass_s": m["pass_s"], "trace.query_s.p50": m["query_s.p50"],
            "trace.latency_s.p50": m["latency_s.p50"]})
    return genlog["events"], failed, failed == 0, m, layers


# ----------------------------------------------------------------- main

def livegen(args):
    return [sys.executable, os.path.join(HERE, "livegen.py"), "--rate", str(LIVE["rate"]),
            "--keys", str(LIVE["keys"])] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = fresh(os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    work = fresh(os.path.join(run_dir, "work"))
    data = os.path.join(run_dir, "data")
    live = a.workload == "live_tail"
    procs = []
    try:
        if not live:
            gen.generate(a.seed, SF, data)
        else:
            os.makedirs(os.path.join(work, "live", "topic", "events"))
            subprocess.check_call(livegen(
                ["--seed", str(a.seed + 1), "--seconds", str(LIVE["warm_files"] * 200 / LIVE["rate"]),
                 "--burst", str(LIVE["warm_files"]),
                 "--topic", os.path.join(work, "warm", "stage")]))
        passes = max(1, round(a.seconds / PASS_SLOT_S))
        p = jvm(spec, work, ["--workload", a.workload, "--data", data,
                             "--seconds", str(a.seconds), "--passes", str(passes),
                             "--trace", str(a.trace),
                             "--queries", ",".join(WORKLOADS[a.workload])])
        procs.append(p)
        if live:
            ready = os.path.join(work, "live", "ready")
            while not os.path.exists(ready):
                if p.poll() is not None or time.time() > deadline:
                    raise SystemExit("perfbench: live_tail harness never became ready")
                time.sleep(0.01)
            g = subprocess.Popen(livegen(
                ["--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--topic", os.path.join(work, "live", "topic", "events"),
                 "--log", os.path.join(work, "gen.json"),
                 "--done", os.path.join(work, "live", "gen_done")]),
                stdin=subprocess.DEVNULL)
            procs.append(g)
            wait(g, deadline, "live generator")
        wait(p, deadline, "harness")
        rec = record(work)
        log(f"setup {rec['setup_s']:.2f} s (session {rec['build_s']:.2f} s, "
            f"warm-up {rec['warmup_s']:.2f} s), timed {rec['timed_s']:.2f} s")
        if live:
            with open(os.path.join(work, "gen.json")) as f:
                attempted, failed, correct, m, layers = live_metrics(rec, json.load(f), a.trace)
        else:
            attempted, failed, correct, m, layers = closed_metrics(rec, data, run_dir, a.trace)
        m["setup_s"] = rec["setup_s"]
        m["retained_heap_mb"] = rec["retained_heap_mb"]
        if a.trace:
            layers["Sessions.build_s"] = rec["build_s"]
            metrics = {k: {"value": number(layers.get(k, 0.0)), "unit": unit_of(k)}
                       for k in per_layer_names(a.workload)}
        else:
            metrics = {k: {"value": number(m[k]), "unit": UNITS[k]} for k in E2E}
    finally:
        for q in procs:
            if q.poll() is None:
                q.kill()
            q.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def number(v):
    return None if v is None else float(v)


def unit_of(name):
    if name.endswith("_s") or name.endswith("_s.p50") or name.endswith("_s.tail"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac") or name.endswith("_skew"):
        return "ratio"
    if name == "sources.Topic.files_per_batch":
        return "files"
    return "count"


if __name__ == "__main__":
    main()
