#!/usr/bin/env python3
"""Benchmark of the outbreak engine, end to end and layer by layer.

    python3 perfbench/run.py --workload app|query_mix|all --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selfcheck [--runs N] [--seconds S]

Run it from the repository root. The first run builds the engine and this
harness with sbt (offline) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. See `perfbench/README.md` for the
workloads, the metrics and which layer moves which metric.

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones.
Any failed correctness check makes the exit code nonzero.
"""

import argparse
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
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tables  # noqa: E402

# app workload shape: the reference's 20 terms x 175 regions
HISTORY_DAYS = 6           # daily basis, 2 records per series per day
WARMUP_DAYS = 1            # first live day after launch: reported, not in p50
MIN_LIVE_SAMPLES = 2       # live days measured after the warm-up, at least
LIVE_DAYS_MAX = 6          # hourly basis, 24 records per series per day
HISTORY_OUTBREAKS = (2, 4)  # day indices with a planted outbreak
LIVE_OUTBREAKS = (7,)
# recall/precision are scored on the closed days every run reaches
EVAL_DAYS = range(0, HISTORY_DAYS - 1 + WARMUP_DAYS + MIN_LIVE_SAMPLES)

# the reference's EP3 batch queries but q37 (see README.md)
QUERIES = [
    "q09_cum_avg", "q11_daily_agg", "q12_pivot_events", "q13_onehot_month",
    "q14_detrend", "q36_iforest_scores", "q40_outbreak_features",
    "q41_outbreak_scores"]

# the contract's end-to-end metrics, name -> unit; see README.md for why
# the per-item latencies are printed but not among them
END_TO_END = {
    "setup_s": "s", "batch_s": "s", "live_heap_mb": "MiB",
    "outbreak_recall": "share", "outbreak_precision": "share"}

PER_LAYER = [
    ("streaming.batches", "count"), ("streaming.empty_batches", "count"),
    ("streaming.input_rows", "rows"), ("streaming.add_batch_s", "s"),
    ("streaming.planning_s", "s"), ("streaming.source_s", "s"),
    ("streaming.commit_s", "s"), ("streaming.state_rows", "rows"),
    ("streaming.state_bytes", "bytes"), ("streaming.state_commit_s", "s"),
    ("streaming.state_store_instances", "count"),
    ("streaming.shuffle_partitions", "count"),
    ("app.landing_write_s", "s"), ("app.landing_files", "count"),
    ("app.score_write_s", "s"), ("app.score_files", "count"),
    ("app.checkpoint_files", "count"),
    ("outbreak.fit_s", "s"), ("outbreak.fit_jobs", "count"),
    ("outbreak.select_k_s", "s"), ("outbreak.increment_s", "s"),
    ("outbreak.increment_jobs", "count"), ("outbreak.state_load_s", "s"),
    ("outbreak.state_save_s", "s"), ("outbreak.refits", "count"),
    ("outbreak.increments", "count"), ("outbreak.redelivery_skips", "count"),
    ("queries.build_s", "s"), ("queries.run_s", "s"),
    ("queries.jobs", "count"), ("queries.build_jobs", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.gc_s", "s"), ("spark.parallel_speedup", "ratio"),
]

# which end-to-end metric each layer should move, on which workload
LAYER_MOVES = {
    "streaming": "day_latency_p50_s and batch_s on app; nothing on query_mix",
    "app": "batch_s on app mostly; little on the live phase",
    "outbreak.fit": "batch_s on app; nothing on the live phase",
    "outbreak.select_k": "batch_s (query_mix only: see README)",
    "outbreak.refits": "outbreak_recall/precision on app",
    "outbreak.increments": "outbreak_recall/precision on app",
    "outbreak.redelivery": "outbreak_recall/precision on app",
    "outbreak.increment": "day_latency_p50_s on app",
    "outbreak.state": "day_latency_p50_s on app",
    "queries": "batch_s and query_geomean_s on query_mix; nothing on app",
    "spark": "every time metric; GC also live_heap_mb",
}

# the module opens the repository's build passes to forked JVMs
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

WAIT_S = 150  # longest wait for one completion signal


class BenchError(Exception):
    pass


def now():
    return time.time()


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """JVM heap, sized like the repository's test command: half the
    machine's memory, between 2 and 8 GiB, pinned (-Xms = -Xmx) so G1
    does not grow and shrink it during a run."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


# ------------------------------------------------------------------ build

def _source_key():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project")):
        for dirpath, dirnames, files in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            for name in sorted(files):
                p = os.path.join(dirpath, name)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError("no engine sources at %s (missing %s)" % (ROOT, need))
    os.makedirs(WORK, exist_ok=True)
    key = _source_key()
    stamp = os.path.join(WORK, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("key") == key:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s -Dsbt.offline=true -Xmx4g"
                   % os.path.expanduser("~/.sbt/repositories"))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=850)
        out.write(p.stdout)
    lines = [l.strip() for l in p.stdout.splitlines()
             if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise BenchError("build failed (exit %d), see %s" % (p.returncode, log))
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": lines[-1]}, f)
    return lines[-1]


# ------------------------------------------------------------ processes

class Jvm:
    """One JVM of the program under test, with the benchmark's listeners
    attached through Spark configuration. Its event log is tailed for
    completion signals."""

    def __init__(self, cp, main, args, run_dir, conf, name):
        self.log = os.path.join(run_dir, name + ".events.jsonl")
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-Xmx" + heap(), "-Xms" + heap()]
        for p in ADD_OPENS:
            cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
        conf = dict(conf, **{"spark.ui.enabled": "false",
                             "spark.local.dir": os.path.join(tmp, "spark"),
                             "spark.perfbench.log": self.log})
        cmd += ["-D%s=%s" % kv for kv in sorted(conf.items())]
        cmd += ["-Djava.io.tmpdir=" + tmp, "-cp", cp, main] + list(args)
        self.out = open(os.path.join(run_dir, name + ".jvm.log"), "w")
        self.t_launch = now()
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=conf["spark.local.dir"])
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=self.out,
                                     stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL)
        self.events = []
        self._pos = 0

    def poll_events(self):
        if os.path.exists(self.log):
            with open(self.log) as f:
                f.seek(self._pos)
                chunk = f.read()
            end = chunk.rfind("\n") + 1
            self._pos += len(chunk[:end].encode())
            for line in chunk[:end].splitlines():
                self.events.append(json.loads(line))
        return self.events

    def wait_for(self, pred, what, timeout=WAIT_S):
        """Block until an event satisfies `pred`; return it."""
        seen = 0
        deadline = now() + timeout
        while True:
            evs = self.poll_events()
            for e in evs[seen:]:
                if e.get("ev") == "terminated" and e.get("error"):
                    raise BenchError("query failed: %s" % e["error"][:500])
                if pred(e):
                    return e
            seen = len(evs)
            if self.proc.poll() is not None:
                self.poll_events()
                raise BenchError("program exited (%s) while waiting for %s"
                                 % (self.proc.returncode, what))
            if now() > deadline:
                raise BenchError("timed out waiting for " + what)
            time.sleep(0.01)

    def wait_exit(self, timeout=WAIT_S):
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.stop()
            raise BenchError("program did not finish in %ds" % timeout)
        self.poll_events()
        return self.proc.returncode

    def stop(self, grace=60):
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=grace)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.out.close()
        self.poll_events()


def fresh_dir(name):
    d = os.path.join(WORK, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def count_files(path):
    return sum(len([f for f in files if not f.startswith(".")])
               for _, _, files in os.walk(path))


def read_parquet_dir(path):
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


# -------------------------------------------------------- app workload

def run_app(cp, seed, seconds, trace, master=None, backfill_only=False, tag="app"):
    """One set-up-only launch of the app (`--once` on an empty directory),
    then the measured launch: backfill, then (unless `backfill_only`) new
    days in a closed loop until `seconds` have passed. Returns
    (observations, checks)."""
    run_dir = fresh_dir(tag)
    watched, staging = os.path.join(run_dir, "in"), os.path.join(run_dir, "staging")
    os.makedirs(watched)
    os.makedirs(staging)
    feed = gen.Feed(seed, outbreak_days=HISTORY_OUTBREAKS + LIVE_OUTBREAKS)
    for d in range(HISTORY_DAYS):
        gen.stage(feed.lines(d, 2), staging, "day-%03d.json" % d)
        gen.publish(staging, watched, "day-%03d.json" % d)
    live_days = [] if backfill_only else list(range(HISTORY_DAYS, HISTORY_DAYS + LIVE_DAYS_MAX))
    for d in live_days:  # generated ahead, published one at a time
        gen.stage(feed.lines(d, 24), staging, "day-%03d.json" % d)

    stop_file = os.path.join(run_dir, "stop")
    conf = {"spark.sql.streaming.streamingQueryListeners": "perfbench.ProgressLog",
            # a deployment setting (spark-submit --conf): at Spark's default
            # of 200 one backfill takes ~90 s and one new day ~44 s on 4
            # cores, too long to repeat; see README.md
            "spark.sql.shuffle.partitions": str(nproc())}
    if trace:
        conf["spark.extraListeners"] = "perfbench.EngineListener"
    main = "perfbench.TracedApp" if trace else "graft.app.Main"

    def launch(name, base, input_dir, extra):
        """Start the app on `input_dir` with outputs under `base`; return
        the JVM and the time its query started."""
        argv = ["--master", master or "local[%d]" % nproc(), "--json-dir", input_dir,
                "--landing", os.path.join(base, "landing"),
                "--scores", os.path.join(base, "scores"),
                "--checkpoint", os.path.join(base, "ckpt")] + extra
        jvm = Jvm(cp, main, argv, run_dir, conf, name)
        try:
            t0 = jvm.wait_for(lambda e: e["ev"] == "started", name + " query start")["t"]
        except BaseException:
            jvm.stop()
            raise
        obs["setups"].append(t0 - jvm.t_launch)
        return jvm, t0

    def emitted_after(t):
        return lambda e: (e["ev"] == "batch" and e["rows_emitted"] > 0
                          and e["t_start"] >= t)

    obs = {"setups": [], "latencies": [], "warmup": [], "live_events": 0}
    if not backfill_only:
        # one more set-up sample: the same program on an empty directory
        probe = os.path.join(run_dir, "setup")
        os.makedirs(os.path.join(probe, "in"))
        jvm, _ = launch("setup", probe, os.path.join(probe, "in"), ["--once"])
        try:
            if jvm.wait_exit() != 0:
                raise BenchError("set-up launch exited %d" % jvm.proc.returncode)
        finally:
            jvm.stop()
    extra = ["--once"] if backfill_only else ["--stop-file", stop_file] if trace else []
    jvm, t0 = launch("run", run_dir, watched, extra)
    try:
        first = jvm.wait_for(emitted_after(0), "backfill")
        obs["backfill_s"] = first["t_start"] + first["trigger_s"] - t0
        obs["last_closed"] = HISTORY_DAYS - 2
        live0 = now()
        for d in live_days:
            if now() - live0 >= seconds and len(obs["latencies"]) >= MIN_LIVE_SAMPLES:
                break
            t_w = gen.publish(staging, watched, "day-%03d.json" % d)
            b = jvm.wait_for(emitted_after(t_w), "day %d" % (d - 1))
            latency = b["t_start"] + b["trigger_s"] - t_w
            if len(obs["warmup"]) < WARMUP_DAYS:
                obs["warmup"].append(latency)
            else:
                obs["latencies"].append(latency)
                obs["live_events"] += len(gen.TERMS) * len(feed.regions) * 24
            obs["last_closed"] = d - 1
        if backfill_only:
            jvm.wait_exit()
        else:
            open(jvm.log + ".gc", "w").close()
            obs["live_heap_mb"] = jvm.wait_for(
                lambda e: e["ev"] == "heap", "heap report")["live_heap_mb"]
            if trace:
                open(stop_file, "w").close()
                jvm.wait_exit()
    finally:
        jvm.stop()
    obs["events"] = jvm.events
    obs["setup_s"] = statistics.median(obs["setups"])
    obs["peak_heap_mb"] = max([e.get("old_gen_mb", 0.0) for e in obs["events"]] + [0.0])
    out = {k: os.path.join(run_dir, k) for k in ("landing", "scores", "ckpt")}
    obs["landing_files"] = count_files(out["landing"])
    obs["score_files"] = count_files(out["scores"])
    obs["checkpoint_files"] = count_files(out["ckpt"])

    # correctness, outside the timed window
    checks = {}
    closed = range(0, obs["last_closed"] + 1)
    want = feed.landing_rows(closed)
    t = read_parquet_dir(out["landing"]).to_pydict()
    got = {}
    for date, region, kw, value in zip(t["date"], t["region"], t["kw"], t["value"]):
        key = (str(date), region, kw)
        got[key] = got.get(key, 0) + value
    checks["landing_rows_equal_generator_sums"] = got == want
    s = read_parquet_dir(out["scores"]).to_pydict()
    flagged = {(r, str(d)) for r, d in zip(s.get("region", []), s.get("date", []))}
    eval_dates = {gen.day_str(d) for d in EVAL_DAYS if d <= obs["last_closed"]}
    planted = {p for p in feed.planted() if p[1] in eval_dates}
    flagged = {p for p in flagged if p[1] in eval_dates}
    hit = len(planted & flagged)
    obs["recall"] = hit / len(planted) if planted else float("nan")
    obs["precision"] = hit / len(flagged) if flagged else float("nan")
    checks["outbreaks_detected"] = hit > 0
    return obs, checks


def app_result(cp, seed, seconds, trace):
    obs, checks = run_app(cp, seed, seconds, trace)
    lat = obs["latencies"]
    named = {
        "setup_s": (obs["setup_s"], "s"),
        "setup_samples": (len(obs["setups"]), "count"),
        "backfill_s": (obs["backfill_s"], "s"),
        "first_day_latency_s": (obs["warmup"][0], "s"),
        "day_latency_p50_s": (statistics.median(lat), "s"),
        "day_latency_samples": (len(lat), "count"),
        "live_events_per_s": (obs["live_events"] / sum(lat), "1/s"),
        "outbreak_recall": (obs["recall"], "share"),
        "outbreak_precision": (obs["precision"], "share"),
        "peak_heap_mb": (obs["peak_heap_mb"], "MiB"),
        "live_heap_mb": (obs["live_heap_mb"], "MiB"),
    }
    e2e = {"setup_s": obs["setup_s"], "batch_s": obs["backfill_s"],
           "live_heap_mb": obs["live_heap_mb"],
           "outbreak_recall": obs["recall"], "outbreak_precision": obs["precision"]}
    batches = [e for e in obs["events"] if e["ev"] == "batch"]
    attempted = len(batches) + len(checks)
    layers = None
    if trace:
        layers = app_layers(obs)
        base, _ = run_app(cp, seed, seconds, True, master="local[1]",
                          backfill_only=True, tag="app_local1")
        layers["spark.parallel_speedup"] = base["backfill_s"] / obs["backfill_s"]
        named["backfill_local1_s"] = (base["backfill_s"], "s")
        decisions = [(e["batch"], e["decision"]) for e in obs["events"] if e["ev"] == "decision"]
        print("batch decisions (batch id, decision): %s" % decisions)
    return named, e2e, layers, attempted, checks


def span_sum(events, name, key=None):
    sel = [e for e in events if e["ev"] == "span" and e["name"] == name]
    if key == "jobs":
        return sum(e["jobs"] for e in sel)
    return sum(e["t1"] - e["t0"] for e in sel)


def app_layers(obs):
    ev = obs["events"]
    batches = [e for e in ev if e["ev"] == "batch"]
    engine = next(e for e in reversed(ev) if e["ev"] == "engine")
    decisions = [e["decision"] for e in ev if e["ev"] == "decision"]
    last = batches[-1]
    m = {name: 0.0 for name, _ in PER_LAYER}
    m.update({
        "streaming.batches": len(batches),
        "streaming.empty_batches": sum(1 for b in batches if b["input_rows"] == 0),
        "streaming.input_rows": sum(b["input_rows"] for b in batches),
        "streaming.add_batch_s": sum(b["add_batch_s"] for b in batches),
        "streaming.planning_s": sum(b["planning_s"] for b in batches),
        "streaming.source_s": sum(b["source_s"] for b in batches),
        "streaming.commit_s": sum(b["commit_s"] for b in batches),
        "streaming.state_rows": last["state_rows"],
        "streaming.state_bytes": last["state_bytes"],
        "streaming.state_commit_s": sum(b["state_commit_s"] for b in batches),
        "streaming.state_store_instances": last["state_store_instances"],
        "streaming.shuffle_partitions": last["shuffle_partitions"],
        "app.landing_write_s": span_sum(ev, "app.landing_write"),
        "app.landing_files": obs["landing_files"],
        "app.score_write_s": span_sum(ev, "app.score_write"),
        "app.score_files": obs["score_files"],
        "app.checkpoint_files": obs["checkpoint_files"],
        "outbreak.fit_s": span_sum(ev, "outbreak.fit"),
        "outbreak.fit_jobs": span_sum(ev, "outbreak.fit", "jobs"),
        "outbreak.select_k_s": engine["select_k_s"],
        "outbreak.increment_s": span_sum(ev, "outbreak.increment"),
        "outbreak.increment_jobs": span_sum(ev, "outbreak.increment", "jobs"),
        "outbreak.state_load_s": span_sum(ev, "outbreak.state_load"),
        "outbreak.state_save_s": span_sum(ev, "outbreak.state_save"),
        "outbreak.refits": decisions.count("refit"),
        "outbreak.increments": decisions.count("increment"),
        "outbreak.redelivery_skips": decisions.count("skip"),
    })
    m.update(engine_layers(engine))
    return m


def engine_layers(engine):
    return {"spark." + k: engine[k] for k in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s")}


# -------------------------------------------------- query_mix workload

def query_data():
    d = os.path.join(WORK, "tables")
    stamp = os.path.join(d, "_done")
    if not os.path.exists(stamp):
        shutil.rmtree(d, ignore_errors=True)
        tables.write_all(d)
        open(stamp, "w").close()
    return d


def run_query_mix(cp, seconds, trace):
    """A set-up-only launch of the client, then the timed one. Returns
    (set-up samples, the timed launch's events)."""
    data = query_data()
    run_dir = fresh_dir("query_mix")
    conf = {"spark.extraListeners": "perfbench.EngineListener"} if trace else {}
    master = "local[%d]" % nproc()
    setups = []
    for name, order in (("setup", ""), ("timed", ",".join(QUERIES))):
        jvm = Jvm(cp, "perfbench.QueryMix",
                  [data, order, str(seconds), "1" if trace else "0", master],
                  run_dir, conf, name)
        try:
            rc = jvm.wait_exit(timeout=170)
        finally:
            jvm.stop()
        if rc != 0:
            raise BenchError("query mix exited %d, see %s/%s.jvm.log" % (rc, run_dir, name))
        ready = next(e for e in jvm.events if e["ev"] == "ready")
        setups.append(ready["t"] - jvm.t_launch)
    return setups, jvm.events


def query_mix_result(cp, seed, seconds, trace):
    setups, ev = run_query_mix(cp, seconds, trace)
    passes = [e["s"] for e in ev if e["ev"] == "pass"]
    per_query = {}
    for e in ev:
        if e["ev"] == "query":
            per_query.setdefault(e["name"], []).append(e["build_s"] + e["run_s"])
    medians = [statistics.median(v) for v in per_query.values()]
    geomean = math.exp(sum(math.log(v) for v in medians) / len(medians))
    with open(os.path.join(HERE, "fingerprints.json")) as f:
        committed = json.load(f)
    seen = {e["name"]: {"rows": e["rows"], "fp": e["fp"]} for e in ev if e["ev"] == "fingerprint"}
    checks = {"fingerprint:" + q: q in seen and seen[q] == committed.get(q) for q in QUERIES}
    anomalies = next(e for e in ev if e["ev"] == "anomalies")["rows"]
    flagged = {tuple(x.split("|")) for x in anomalies.split(",") if x}
    planted = tables.planted()
    hit = len(planted & flagged)
    recall = hit / len(planted)
    precision = hit / len(flagged) if flagged else float("nan")
    checks["outbreaks_detected"] = hit > 0
    timed_end = next(e for e in ev if e["ev"] == "timed_end")
    named = {
        "setup_s": (statistics.median(setups), "s"),
        "setup_samples": (len(setups), "count"),
        "query_mix_s": (statistics.median(passes), "s"),
        "query_mix_passes": (len(passes), "count"),
        "query_geomean_s": (geomean, "s"),
        "outbreak_recall": (recall, "share"),
        "outbreak_precision": (precision, "share"),
        "peak_heap_mb": (timed_end["old_gen_mb"], "MiB"),
        "live_heap_mb": (timed_end["live_heap_mb"], "MiB"),
    }
    e2e = {"setup_s": named["setup_s"][0], "batch_s": named["query_mix_s"][0],
           "live_heap_mb": timed_end["live_heap_mb"],
           "outbreak_recall": recall, "outbreak_precision": precision}
    attempted = sum(len(v) for v in per_query.values()) + len(checks)
    layers = None
    if trace:
        engine = next(e for e in reversed(ev) if e["ev"] == "engine")
        layers = {name: 0.0 for name, _ in PER_LAYER}
        layers.update({
            "queries.build_s": span_sum(ev, "queries.build"),
            "queries.run_s": span_sum(ev, "queries.run"),
            "queries.jobs": span_sum(ev, "queries.build", "jobs") + span_sum(ev, "queries.run", "jobs"),
            "queries.build_jobs": span_sum(ev, "queries.build", "jobs"),
            "outbreak.select_k_s": engine["select_k_s"],
        })
        layers.update(engine_layers(engine))
        layers["spark.parallel_speedup"] = 0.0
    return named, e2e, layers, attempted, checks


# -------------------------------------------------------------- report

RUNNERS = {"app": app_result, "query_mix": query_mix_result}


def run_workload(cp, workload, seed, seconds, trace):
    named, e2e, layers, attempted, checks = RUNNERS[workload](cp, seed, seconds, trace)
    failed = sum(1 for ok in checks.values() if not ok)
    named["failed_share"] = (failed / attempted, "share")
    print("== %s (seed %d, %ss, trace %d)" % (workload, seed, seconds, trace))
    for name, (value, unit) in named.items():
        print("  %-22s %14.4f %s" % (name, value, unit))
    for name, ok in checks.items():
        if not ok:
            print("  CHECK FAILED: %s" % name)
    if trace:
        print("  per-layer:")
        for name, unit in PER_LAYER:
            moves = next(v for k, v in LAYER_MOVES.items() if name.startswith(k))
            print("  %-34s %16.4f %-6s -> %s" % (name, layers[name], unit, moves))
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    # the end-to-end figures of traced runs too, for the overhead report
    with open(os.path.join(WORK, "last_result.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "trace": trace,
                   "end_to_end": e2e, "named": named}, f)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _terminate(signum, frame):
    raise BenchError("interrupted by signal %d" % signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(RUNNERS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)  # BENCHMARK.json run_seconds
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--runs", type=int, default=5)
    a = ap.parse_args()
    try:
        cp = build()
        if a.selfcheck:
            import selfcheck
            return selfcheck.main(a.runs, a.seconds)
        if a.workload is None:
            ap.error("--workload is required")
        names = sorted(RUNNERS) if a.workload == "all" else [a.workload]
        results = [run_workload(cp, w, a.seed, a.seconds, a.trace) for w in names]
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        print("benchmark error: %s" % e, file=sys.stderr)
        return 2
    ok = all(r["correct"] for r in results)
    if len(results) == 1:
        print(json.dumps(results[0]))
    else:
        print(json.dumps({"correct": ok,
                          "attempted": sum(r["attempted"] for r in results),
                          "failed": sum(r["failed"] for r in results),
                          "workloads": dict(zip(names, results))}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
