"""End-to-end benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One closed-loop client in this process drives
one local Spark session (``local[<cores>]``). Workloads are defined in
``perfbench/workloads.json``:

* ``curation_closure`` runs catalog queries; an operation is one query
  built and executed into the noop sink;
* ``monthly_load`` uploads generated monthly CSVs; an operation is one
  upload: ingest -> run_etl -> publish_warehouse -> read-back.

Every run makes its inputs, sets the session up SETUP_CYCLES times
(``setup_s`` is the median), verifies outputs untimed (query results against
their DuckDB twins; warehouse contents against a pure-Python expectation),
then times ``rounds`` complete rounds, where rounds = ceil(seconds / nominal
round length). Between operations, outside the timed region, the Spark
cache is cleared and both the Python and the JVM garbage collectors run. ``--seed`` permutes the query order of every round, or seeds
the CSV generator. With ``--trace 1`` the run also records spans around the
package's public functions and Spark's event log, and prints per-layer
metrics instead of the end-to-end ones.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Everything the run writes lives under ``.perfbench_work/`` in the current
directory and is removed before exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_CYCLES = 7


T_START = time.time()


def log(msg: str) -> None:
    print(f"[{time.time() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- process tree

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak memory of this process and all its descendants, as the summed
    proportional set size (PSS), so pages the forked Python workers share
    are counted once."""

    def __init__(self, period: float = 1.0) -> None:
        super().__init__(daemon=True)
        self.period, self.peak, self._done = period, 0, threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                    total += next(int(line.split()[1]) for line in f
                                  if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._done.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._done.set()
        self.join()
        self.sample()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to end; kill what is left after ``timeout``."""
    deadline = time.time() + timeout
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


# ----------------------------------------------------------------- spans

class NoTracer:
    """Untraced runs call straight through and record nothing."""

    def begin(self, layer: str, name: str) -> int:
        return -1

    def end(self, idx: int) -> None:
        pass

    def call(self, layer, name, fn, *args, **kwargs):
        return fn(*args, **kwargs)


# ----------------------------------------------------------------- session

class Session:
    """Owns the Spark session and the JVM behind it."""

    def __init__(self, work: str, extra_conf: dict, trace: bool, tracer) -> None:
        self.work, self.tracer = work, tracer
        self.cores = len(os.sched_getaffinity(0))
        conf = dict(extra_conf)
        conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
        if trace:
            self.event_dir = os.path.join(work, "eventlog")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        self.conf, self.spark = conf, None

    def start(self):
        from etl_lorettoscarpa_1asfb2jf21_spark.session import get_spark

        self.spark = self.tracer.call(
            "session", "get_spark", get_spark, "perfbench",
            master=f"local[{self.cores}]", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def settle(self) -> None:
        """Drop what the last operation left behind, outside any timing."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()

    def warm(self) -> None:
        """The untimed warm-up every setup ends with: one job on every
        core, so the executor threads and block manager are up."""
        self.spark.range(0, self.cores, 1, self.cores).count()

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait until the JVM and every
        Python worker it started have ended."""
        from pyspark import SparkContext

        started = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc = gw.proc
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        reap(started)


def setup(sess: Session) -> list[float]:
    """Session start + warm-up, SETUP_CYCLES times; the first cycle also
    launches the JVM. Returns each cycle's seconds."""
    times = []
    for i in range(SETUP_CYCLES):
        if i:
            sess.spark.stop()
        t0 = time.perf_counter()
        sess.start()
        sess.warm()
        times.append(time.perf_counter() - t0)
    return times


# ----------------------------------------------------------------- workloads

class Op:
    __slots__ = ("name", "t0", "t1", "ok", "rows", "build_s")

    def __init__(self, name: str) -> None:
        self.name, self.ok, self.rows, self.build_s = name, False, 0, 0.0


def run_queries(sess: Session, wl: dict, work: str, seed: int, rounds: int, tracer):
    """Verify every query once, then time ``rounds`` permuted passes."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import value_hash

    import __spark_entry__ as entry

    from tpch_gen import TABLES, write_tables

    data = os.path.join(work, "data")
    write_tables(data, wl["sf"])
    qs, oracles = entry.queries(), entry.oracle_sql()
    spark = sess.spark
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    # Untimed verification, which is also the warm-up pass. The queries run
    # concurrently (the catalog supports concurrent callers), which shortens
    # the run; their results are compared one by one afterwards.
    def collect(name):
        try:
            return qs[name](spark, data).toPandas()
        except Exception:  # noqa: BLE001 — a failing query is a counted error
            log(f"{name}:\n{traceback.format_exc()}")
            return None

    t_verify = time.perf_counter()
    with ThreadPoolExecutor(max_workers=len(wl["queries"])) as pool:
        results = dict(zip(wl["queries"], pool.map(collect, wl["queries"])))
    sess.settle()
    rows: dict[str, int] = {}
    bad: set[str] = set()
    for name, got in results.items():
        ok = got is not None
        if ok:
            rows[name] = len(got)
            want = con.execute(oracles[name]).fetchdf()
            ok = (len(got) == len(want) and sorted(got.columns) == sorted(want.columns)
                  and value_hash(got) == value_hash(want))
        if not ok:
            bad.add(name)
            log(f"verify FAIL {name}")
    con.close()
    log(f"verified {len(results) - len(bad)}/{len(results)} in "
        f"{time.perf_counter() - t_verify:.1f}s")

    rng = random.Random(seed)
    ops: list[Op] = []
    log("timing")
    for _ in range(rounds):
        order = list(wl["queries"])
        rng.shuffle(order)
        for name in order:
            op = Op(name)
            root = tracer.begin("bench", "op")
            op.t0 = time.time()
            try:
                df = tracer.call("queries_catalog", name, qs[name], spark, data)
                op.build_s = time.time() - op.t0
                tracer.call("execute", "noop_write",
                            df.write.format("noop").mode("overwrite").save)
                op.ok, op.rows = name not in bad, rows.get(name, 0)
            except Exception:  # noqa: BLE001
                log(traceback.format_exc())
            op.t1 = time.time()
            tracer.end(root)
            ops.append(op)
            sess.settle()
            log(f"{name} {op.t1 - op.t0:.3f}s build {op.build_s:.3f}s ok={op.ok}")
    return ops, {}


def run_load(sess: Session, wl: dict, work: str, seed: int, rounds: int, tracer):
    """Run ``rounds`` load cycles, each into a fresh gold directory, and
    check every upload against the expectation. A cycle's first upload is
    the initial load: verified but untimed, it also warms the load path.
    The later uploads (a new month plus the re-sent previous one) are timed."""
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.plans import star

    from loadgen import Expectation, month_rows, read_rows, write_batches

    spark = sess.spark
    csvs = write_batches(os.path.join(work, "csv"), seed, wl["months"], wl["rows_per_month"])

    def read_back(gold):
        wh = star.read_warehouse(spark, gold)
        total = wh.fato_lancamento.agg(F.sum("valor")).collect()[0][0]
        return wh, wh.counts(), total

    def batch(csv_path, gold, current):
        staging, _quarantine = star.ingest_lancamentos(spark, csv_path)
        wh = star.run_etl(staging, current)
        star.publish_warehouse(wh, gold)
        return tracer.call("plans", "read_back", read_back, gold)

    ops: list[Op] = []
    log("timing")
    extra = {"uploaded_rows": 0, "landed_rows": 0, "gold_bytes": 0, "csv_bytes": 0}
    for r in range(rounds):
        gold = os.path.join(work, f"gold_{r}")
        exp, current, landed_before, base_ok = Expectation(), None, 0, True
        for i, path in enumerate(csvs):
            op = Op(f"batch_{i}")
            appended = exp.load(read_rows(path))
            fresh = Expectation().load(month_rows(seed, i, wl["rows_per_month"]))
            root = tracer.begin("bench", "op") if i else -1
            op.t0 = time.time()
            try:
                current, counts, total = batch(path, gold, current)
                op.t1 = time.time()
                want = exp.counts()
                # the re-sent previous month lands nothing
                op.ok = (counts == want and total == exp.valor_sum() and appended == fresh
                         and counts["fato_lancamento"] - landed_before == appended)
                if not op.ok:
                    log(f"verify FAIL {op.name}: {counts} sum={total} want {want} "
                        f"sum={exp.valor_sum()}")
                op.rows = counts["fato_lancamento"] - landed_before
                landed_before = counts["fato_lancamento"]
            except Exception:  # noqa: BLE001
                op.t1 = time.time()
                log(traceback.format_exc())
            sess.settle()
            log(f"{op.name} {op.t1 - op.t0:.3f}s ok={op.ok}" + ("" if i else " (initial load, untimed)"))
            if i == 0:
                base_ok = op.ok
                continue
            tracer.end(root)
            op.ok = op.ok and base_ok
            ops.append(op)
        extra["uploaded_rows"] += exp.uploaded
        extra["landed_rows"] += landed_before
        extra["gold_bytes"] += _du(gold)
        extra["csv_bytes"] += sum(os.path.getsize(p) for p in csvs)
        shutil.rmtree(gold)
    return ops, extra


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# ----------------------------------------------------------------- metrics

def tail(lat: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (seconds, percentile); with ten or fewer samples, the slowest one."""
    s = sorted(lat)
    k = len(s) - 11 if len(s) > 10 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


def end_to_end(setup_times, ops: list[Op], rss_peak: int) -> dict:
    lat = [o.t1 - o.t0 for o in ops]
    wall = sum(lat)
    tail_s, pct = tail(lat)
    log(f"op_tail_s is p{pct:.1f} of {len(lat)} ops; setup cycles "
        + ", ".join(f"{t:.2f}" for t in setup_times))
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "ops_per_s": (len(ops) / wall, "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_s, "s"),
        "ok_rate": (sum(o.ok for o in ops) / len(ops), "ratio"),
        "peak_rss_mb": (rss_peak / 2**20, "MB"),
        "rows_per_s": (sum(o.rows for o in ops) / wall, "1/s"),
    }


def per_layer(tracer, events, ops: list[Op], extra: dict, wall: float) -> dict:
    from spans import LAYERS, attribute_jobs, job_submit_times, self_seconds, spark_metrics

    spans = tracer.spans
    roots = {i for i, s in enumerate(spans) if s.layer == "bench"}
    # every span inside a timed op, with its own (self) time and job count
    inside = [False] * len(spans)
    for i, s in enumerate(spans):
        inside[i] = i in roots or (s.parent >= 0 and inside[s.parent])
    own_s = self_seconds(spans)
    jobs_of = [0] * len(spans)
    for idx in attribute_jobs(spans, job_submit_times(events)):
        if idx >= 0:
            jobs_of[idx] += 1
    subtree_jobs = list(jobs_of)
    for i in range(len(spans) - 1, -1, -1):
        if spans[i].parent >= 0:
            subtree_jobs[spans[i].parent] += subtree_jobs[i]

    out: dict[str, tuple[float, str]] = {}
    build = [i for i, s in enumerate(spans) if inside[i] and s.layer == "queries_catalog"]
    out["queries_catalog.build_s"] = (sum(spans[i].t1 - spans[i].t0 for i in build), "s")
    out["queries_catalog.build_jobs"] = (sum(subtree_jobs[i] for i in build), "count")
    for layer in LAYERS:
        mine = [i for i, s in enumerate(spans) if inside[i] and s.layer == layer]
        out[f"{layer}.self_s"] = (sum(own_s[i] for i in mine), "s")
        out[f"{layer}.calls"] = (len(mine), "count")
        out[f"{layer}.jobs"] = (sum(jobs_of[i] for i in mine), "count")
    for step, fn in (("ingest", "ingest_lancamentos"), ("etl", "run_etl"),
                     ("publish", "publish_warehouse"), ("read", "read_back")):
        mine = [i for i, s in enumerate(spans)
                if inside[i] and s.layer == "plans" and s.name == fn]
        out[f"plans.{step}_s"] = (sum(spans[i].t1 - spans[i].t0 for i in mine), "s")
        out[f"plans.{step}_jobs"] = (sum(subtree_jobs[i] for i in mine), "count")
    sm = spark_metrics(events, [(o.t0, o.t1) for o in ops])
    for k, v in sm.items():
        unit = "s" if k.endswith("_s") else ("bytes" if k.endswith("_bytes") else "count")
        out[f"spark.{k}"] = (v, unit)
    gets = [s.t1 - s.t0 for s in spans if s.layer == "session"]
    out["session.start_s"] = (statistics.median(gets) if gets else 0.0, "s")
    up = extra.get("uploaded_rows", 0)
    out["monthly_load.rows_landed_ratio"] = (extra["landed_rows"] / up if up else 0.0, "ratio")
    cb = extra.get("csv_bytes", 0)
    out["monthly_load.gold_bytes_per_csv_byte"] = (extra["gold_bytes"] / cb if cb else 0.0, "ratio")
    out["trace.wall_s"] = (wall, "s")
    return out


# ----------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        log(f"unknown workload {args.workload!r}; have {sorted(cfg['workloads'])}")
        return 2
    sys.path.insert(0, ROOT)
    try:
        import etl_lorettoscarpa_1asfb2jf21_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the engine package from {ROOT}: {exc}")
        return 2
    wl = cfg["workloads"][args.workload]
    rounds = max(1, math.ceil(args.seconds / wl["nominal_round_s"]))

    work = os.path.abspath(os.path.join(".perfbench_work", str(os.getpid())))
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # the package's scratch dirs, Spark's block and shuffle files, and the
    # Python workers all follow these
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM (the launcher and the driver) keeps its temp files, and no
    # perf-data file, under the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    tracer = NoTracer()
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()
    sess = Session(work, cfg["session"]["extra_conf"], bool(args.trace), tracer)
    rss = RssSampler()
    rss.start()
    try:
        setup_times = setup(sess)
        log("setup done")
        runner = run_queries if wl["kind"] == "queries" else run_load
        ops, extra = runner(sess, wl, work, args.seed, rounds, tracer)
        sess.stop()  # also flushes the event log
        log("session stopped")
        if args.trace:
            from spans import read_event_log

            events = read_event_log(sess.event_dir)
    finally:
        try:
            sess.stop()
            rss.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    wall = sum(o.t1 - o.t0 for o in ops)
    if args.trace:
        metrics = per_layer(tracer, events, ops, extra, wall)
    else:
        metrics = end_to_end(setup_times, ops, rss.peak)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's directory is still there
    failed = sum(not o.ok for o in ops)
    log(f"{args.workload}: {len(ops)} ops in {wall:.2f}s timed, {failed} failed")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
