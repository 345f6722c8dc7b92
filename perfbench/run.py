#!/usr/bin/env python3
"""Benchmark of the engine as users run it.

    python3 perfbench/run.py --workload <tile_job|admin_join|izer_tiles|web_graph>
                             --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each invocation is one fresh process and
one fresh Spark session: no cached block or `persist_latest` entry carries
from one run into the next. The run

  1. generates the seeded inputs under perfbench/.work/data, if they are
     missing, in a child process of its own: generating runs Spark and
     DuckDB, which would otherwise warm this process's JVM and grow its
     memory on a seed's first run only,
  2. starts the session and sets up once (input check, polygon build,
     warm-up), as a user's first call would,
  3. repeats the workload's ops until --seconds have passed, timing each
     op and checking its output outside the timed window,
  4. prints a record of every figure and setting as one JSON line, then
     the result line: {"correct", "attempted", "failed", "metrics"}.

With --trace 1 the run measures an untraced repetition (the baseline)
after a warm-up one, starts a new session with Spark's event log on and,
after
a warm-up repetition, times the cumulative cut points of each op (scan,
+geocode, +keys, ...; the full op is the last cut, timed in a repetition
before the traced one and one after it) and one traced repetition. It
reports the per-layer metrics instead of the end-to-end ones.

Every file the run writes stays under perfbench/.work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# pages in the seeded table, per workload: sized so a run (session, inputs,
# set-up, ops, checks) takes about 30 s on four cores and a hundred runs
# across the workloads fit in an hour; ops take 2-9 s, so a run measures
# one repetition
PAGES = {"tile_job": 4_000, "admin_join": 20_000, "izer_tiles": 4_000,
         "web_graph": 10_000}
# tile_job builds a regional extract: a worldwide page spread fills all
# 4096 part_key buckets, and the sink writes one file per bucket per task
# (40k files at 60k pages), which on an ext4 disk takes minutes to write
# and delete and varies 100x between runs
REGIONAL = {"tile_job"}
DRIVER_MEM = "3g"  # well below host RAM; the engine's own default is 32g
# the layer self times, cut to cut, must sum to the separately traced
# repetition's wall within this share of it (negative self times count
# as error); a breach fails the traced run
LAYER_SUM_TOLERANCE_PCT = 15.0  # about twice the largest error seen
CUT_REPEATS = 3  # each prefix cut is timed this often; the median counts


def _env() -> dict:
    """Keep every file Spark and Python write inside the work directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    return {"tmp": tmp, "local": local}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _fs_of(path: str) -> str:
    """Filesystem type of the mount holding path (from /proc/mounts)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                    and len(mnt) > len(best):
                best, kind = mnt, fstype
    return kind


def session(cores: int, dirs: dict, event_dir: str | None = None):
    """The engine's own session, `api.spark_session`, sized from outside:
    _env() sets SPARK_GRAFT_DRIVER_MEM and SPARK_LOCAL_DIRS, which it
    reads. Only the benchmark's extras (temp dir, UI off, warehouse under
    .work, and the event log of the traced run) are added, as --conf at
    JVM launch or, for a session in a running JVM, as the JVM system
    properties every new SparkConf loads. (The JVM is not restarted
    between sessions: the engine's module-level UDFs keep a handle on the
    JVM they were first used in.)"""
    import shlex

    from pyspark import SparkContext

    from avecado_spark import api
    extra = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
             "spark.ui.enabled": "false",
             "spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
             "spark.eventLog.enabled": "false"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    if SparkContext._jvm is None:
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in extra.items()
        ) + " pyspark-shell"
    else:
        for k, v in extra.items():
            SparkContext._jvm.java.lang.System.setProperty(k, v)
    spark = api.spark_session(f"local[{cores}]", app="perfbench",
                              shuffle_partitions=2 * cores,
                              max_partition_bytes="4m")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the JVM the sessions ran in, then wait for every process this
    run started (the JVM, its python daemon and workers) to end."""
    import signal

    from pyspark import SparkContext

    from spans import process_tree
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of stdin
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (left := process_tree(os.getpid())[1:]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def control_s(spark) -> float:
    """bench.py's pure-JVM control (md5 + groupBy over spark.range, no
    Python, no parquet), sized down: host context, not a gate."""
    from pyspark.sql import functions as F
    df = spark.range(0, 2_000_000, 1, 8)
    t = time.perf_counter()
    (df.select(F.md5(F.col("id").cast("string")).alias("h"))
       .groupBy(F.substring("h", 1, 2).alias("b")).count().count())
    return time.perf_counter() - t


def _median(v):
    return statistics.median(v) if v else 0.0


class Runner:
    def __init__(self, args, dirs):
        self.args, self.dirs = args, dirs
        self.cores = _cores()
        self.n_pages = PAGES[args.workload]
        self.failures: list[str] = []
        self.attempted = 0
        self.gen_s = 0.0  # spent waiting for the input-generating child

    def generate(self) -> None:
        """Generate the seeded inputs in a child process, unless a
        previous run left them complete."""
        import inputs
        d = inputs.data_dir(WORK, self.args.seed, self.n_pages,
                            self.args.workload in REGIONAL)
        if os.path.exists(os.path.join(d, "READY")):
            return
        t = time.perf_counter()
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", self.args.workload,
                        "--seed", str(self.args.seed), "--seconds", "0",
                        "--generate"], check=True)
        self.gen_s = time.perf_counter() - t

    def start(self, event_dir=None, tag_jobs=False):
        """Session + inputs + workload object; returns (session_s, inputs_s)."""
        import inputs
        import workloads
        from spans import Tracer
        t0 = time.perf_counter()
        self.spark = session(self.cores, self.dirs, event_dir)
        t1 = time.perf_counter()
        self.paths = inputs.prepare(self.spark, WORK, self.args.seed,
                                    self.n_pages, self.args.workload in REGIONAL)
        t2 = time.perf_counter()
        self.tracer = Tracer(self.spark.sparkContext, tag_jobs)
        self.w = workloads.WORKLOADS[self.args.workload](
            self.spark, self.paths, self.n_pages, WORK, self.args.seed,
            self.tracer)
        self.w.prepare()
        return t1 - t0, time.perf_counter() - t1

    def setup_once(self) -> float:
        """Input check, then the workload's polygon build and warm-up."""
        import inputs
        t = time.perf_counter()
        self.w.facts = inputs.check_pages(self.spark, self.paths, self.n_pages)
        self.w.setup()
        return time.perf_counter() - t

    def rep(self, mem=None, tagged=False, prefix="") -> dict:
        """One repetition: every op timed, then checked. Span names are
        <workload>.<prefix><op>. Returns {op: (seconds, items, cpu_s, unit)}."""
        from contextlib import nullcontext

        from spans import tree_cpu_s
        out = {}
        for op in self.w.ops():
            self.spark.catalog.clearCache()
            self.attempted += 1
            name = f"{self.w.name}.{prefix}{op.name}"
            items, c0, t0 = 0, tree_cpu_s(os.getpid()), time.perf_counter()
            try:
                with self.tracer.span(name, tag=tagged), \
                        (mem.active() if mem else nullcontext()):
                    items = op.run()
                t1, c1 = time.perf_counter(), tree_cpu_s(os.getpid())
                errs = op.check()
            except Exception as e:  # an op that raises counts as failed
                t1, c1 = time.perf_counter(), tree_cpu_s(os.getpid())
                errs = [repr(e)]
            if errs:
                self.failures.append(f"{name}: {'; '.join(errs)}")
                print(f"FAILED {name}: {errs}", file=sys.stderr)
            out[op.name] = (t1 - t0, items, c1 - c0, op.unit)
        self.w.cleanup()
        return out

    def stop(self):
        self.spark.stop()


# the ops behind the two gated throughput metrics, op1_per_s and op2_per_s
OP_SLOTS = {"tile_job": (["build"], ["resume"]),
            "admin_join": (["knn"], ["s2index", "s2join"]),
            "izer_tiles": (["walk"], ["feature_encode"]),
            "web_graph": (["rank"], ["components"])}


E2E_UNITS = {"setup_s": "s", "rep_s": "s", "op1_per_s": "pages/s",
             "op2_per_s": "pages/s", "cpu_s": "cpu-s", "peak_mem_mb": "MB"}


def e2e(workload: str, reps: list[dict], n_pages: int) -> tuple[dict, dict]:
    """(gated metrics, metrics by the workload's own names) from the
    repetitions' op timings."""
    def rate(ops):  # the ops' own items (tiles, points, ...) per second
        return _median([sum(r[o][1] for o in ops) / sum(r[o][0] for o in ops)
                        for r in reps])

    def pages_rate(ops):  # seeded input pages through each op per second
        return _median([n_pages * len(ops) / sum(r[o][0] for o in ops)
                        for r in reps])

    if workload == "tile_job":
        named = {"tiles_per_s": (rate(["build"]), "tiles/s"),
                 "resume_s": (_median([r["resume"][0] for r in reps]), "s")}
    elif workload == "admin_join":
        named = {f"{m}_points_per_s": (rate([m]), "points/s")
                 for m in ("knn", "s2index", "s2join")}
    elif workload == "izer_tiles":
        named = {"features_per_s": (rate(["walk"]), "features/s"),
                 "tiles_per_s": (rate(["feature_encode"]), "tiles/s")}
    else:
        named = {"pages_per_s": (pages_rate(["rank", "components"]) / 2,
                                 "pages/s")}
    first, second = OP_SLOTS[workload]
    gated = {"rep_s": _median([sum(v[0] for v in r.values()) for r in reps]),
             "op1_per_s": pages_rate(first), "op2_per_s": pages_rate(second),
             "cpu_s": _median([sum(v[2] for v in r.values()) for r in reps])}
    return gated, named


def untraced(runner: Runner, args) -> tuple[dict, dict]:
    from spans import MemSampler
    session_s, inputs_s = runner.start()
    setup_once_s = runner.setup_once()
    # process start to the first timed op, input generation excluded: the
    # interpreter, engine imports, JVM and session, then one cold set-up
    setup_s = time.perf_counter() - T_START - runner.gen_s
    ctl = [control_s(runner.spark)]
    reps = []
    with MemSampler(os.getpid(), runner.spark.sparkContext._jvm) as mem:
        t_end = time.perf_counter() + args.seconds
        while not reps or time.perf_counter() < t_end:
            reps.append(runner.rep(mem))
    ctl.append(control_s(runner.spark))
    runner.stop()
    gated, named = e2e(args.workload, reps, runner.n_pages)
    gated["setup_s"] = setup_s
    gated["peak_mem_mb"] = mem.peak
    metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in gated.items()}
    named["failed_share"] = (len(runner.failures) / runner.attempted, "ratio")
    named["host.control_s"] = (ctl, "s")
    named["peak_rss_mb"] = (mem.peak_tree, "MB")  # JVM included; not gated
    record = {"named": {**{k: {"value": v, "unit": u}
                           for k, (v, u) in named.items()}, **metrics},
              "reps": [{op: {"s": v[0], "items": v[1], "cpu_s": v[2],
                             "unit": v[3]} for op, v in r.items()} for r in reps],
              "session_s": session_s, "setup_once_s": setup_once_s,
              "inputs_s": inputs_s, "generate_s": runner.gen_s}
    return metrics, record


def traced(runner: Runner, args) -> tuple[dict, dict]:
    """A session with an untraced repetition (the baseline), then one
    with the event log on: a warm-up repetition, the prefix cut
    points, one traced repetition between two whose full ops are the last
    cuts, and the per-layer metrics read from the log."""
    from spans import EventLog

    runner.start()
    runner.setup_once()
    ctl = [control_s(runner.spark)]
    # the baseline follows set-up and a warm-up repetition, as the traced
    # repetition does
    runner.rep(prefix="warm.")
    plain = runner.rep()
    runner.stop()

    wl = args.workload
    events = os.path.join(WORK, "events", f"{wl}_s{args.seed}")
    shutil.rmtree(events, ignore_errors=True)
    runner.start(event_dir=events, tag_jobs=True)
    sc = runner.spark.sparkContext
    bcast_bytes: dict[str, int] = {}
    orig = sc.broadcast

    def sized_broadcast(value):  # record the pickled size of each broadcast
        b = orig(value)
        span = runner.tracer.current()
        bcast_bytes[span] = bcast_bytes.get(span, 0) + os.path.getsize(b._path)
        return b
    sc.broadcast = sized_broadcast
    runner.setup_once()
    runner.w.tr_metrics = True
    # a session's first repetition of an op ran up to 50% slower than the
    # next; set-up warms most of each op's path and this repetition the
    # rest, so every timing below is taken after it
    runner.rep(prefix="warm.")
    # the cumulative prefixes of the ops, in order, CUT_REPEATS times; a
    # cut's time is its median, and only the first pass's jobs carry the
    # span's name into the event log
    cut_fns = runner.w.cuts()
    times: dict[str, list[float]] = {name: [] for name in cut_fns}
    for i in range(CUT_REPEATS):
        for name, fn in cut_fns.items():
            runner.spark.catalog.clearCache()
            t = time.perf_counter()
            with runner.tracer.span(f"{wl}.cut.{name}", tag=i == 0):
                fn()
            times[name].append(time.perf_counter() - t)
    cut = {name: _median(v) for name, v in times.items()}
    # the full ops are the last cuts, timed apart from the traced
    # repetition: the mean of one repetition before it and one after it
    before = runner.rep(tagged=True, prefix="cut.")
    rep = runner.rep(tagged=True)
    after = runner.rep(tagged=True, prefix="cut.")
    cut.update({op: (before[op][0] + after[op][0]) / 2 for op in rep})
    ctl.append(control_s(runner.spark))
    runner.stop()
    log = EventLog(events)

    walls = {op: v[0] for op, v in rep.items()}
    lay = runner.w.layers(log, cut)
    tot = log.totals([f"{wl}.{op}" for op in rep])
    plain_s = sum(v[0] for v in plain.values())
    traced_s = sum(walls.values())
    # the self times telescope to the full-op cuts; their gap to the
    # separately traced ops, plus every negative self time, is the error
    negative = {k: v for k, v in lay["self"].items() if v < 0}
    err_pct = 100.0 * (abs(sum(lay["self"].values()) - traced_s)
                       + sum(-v for v in negative.values())) / traced_s
    runner.attempted += 1
    if err_pct > LAYER_SUM_TOLERANCE_PCT:
        msg = (f"trace: layer self times miss the traced wall {traced_s:.2f}s "
               f"by {err_pct:.1f}% (tolerance {LAYER_SUM_TOLERANCE_PCT}%), "
               f"negative self times {negative}")
        runner.failures.append(msg)
        print(f"FAILED {msg}", file=sys.stderr)
    units = {d["name"]: d["unit"] for d in _bench_json()["per_layer"]}
    m = dict.fromkeys(units, 0.0)  # layers the workload does not run read 0
    m.update(lay["metrics"])
    m.update({
        "adminizer.knn.broadcast_bytes": bcast_bytes.get("admin_join.knn.index", 0),
        "adminizer.s2index.broadcast_bytes":
            bcast_bytes.get("admin_join.s2index", 0),
        "spark.gc_s": tot["gc_s"], "spark.spill_bytes": tot["spill"],
        "spark.shuffle_bytes": tot["shuffle_w"], "spark.tasks": tot["tasks"],
        "spark.task_retries": tot["retries"],
        "trace.overhead_pct": 100.0 * (traced_s - plain_s) / plain_s,
        "trace.wall_s": traced_s,
        "trace.layer_sum_err_pct": err_pct,
        "host.control_s": _median(ctl),
    })
    unknown = set(m) - set(units)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}
    record = {"self_s": lay["self"], "cuts_s": cut, "traced_walls_s": walls,
              "untraced_walls_s": {op: v[0] for op, v in plain.items()},
              "spans": runner.tracer.spans, "run_id": runner.tracer.run_id,
              "broadcast_bytes": bcast_bytes}
    return metrics, record


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PAGES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the child that generates the inputs (Runner.generate)
    ap.add_argument("--generate", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    dirs = _env()
    try:
        import avecado_spark  # noqa: F401
        import pyspark  # noqa: F401
        _bench_json()
    except (ImportError, OSError) as e:
        print(f"perfbench: the engine is not here to measure: {e}",
              file=sys.stderr)
        return 2

    runner = Runner(args, dirs)
    if args.generate:
        try:
            runner.start()  # inputs.prepare and the workload's prepare
            runner.stop()
        finally:
            stop_jvm()
        open(os.path.join(runner.paths["dir"], "READY"), "w").close()
        return 0
    runner.generate()
    try:
        metrics, record = (traced if args.trace else untraced)(runner, args)
    finally:
        stop_jvm()
        shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    record.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "settings": {"cores": runner.cores, "driver_mem": DRIVER_MEM,
                     "spark_local_dirs": os.path.relpath(dirs["local"], ROOT),
                     "output_fs": _fs_of(WORK), "pages": runner.n_pages,
                     "seconds": args.seconds},
        "failures": runner.failures, "total_s": time.perf_counter() - T_START})
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}_s{args.seed}_t{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"record": {k: record[k] for k in record
                                 if k not in ("spans",)}}, default=str))
    print(json.dumps({"correct": not runner.failures,
                      "attempted": runner.attempted,
                      "failed": len(runner.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
