"""Closed-loop benchmark of the engine's compute paths.

One client issues one query at a time. Each execution is a build
(``__spark_entry__.queries()[name](spark, sf_dir)``) and then an action
(``.write.format("noop")``), followed by the cleanup bench.py's
``run_once`` does (``clearCache``, ``gc.collect``, ``StateStore.stop()``
and ``System.gc()`` every tenth execution) outside the query timer.

A run:

1. set-up (``setup_s``): imports, ``get_spark`` and a cold round that
   collects every query's result for the output check;
2. measured phase: a fixed number of whole rounds, each in an order
   shuffled by ``--seed``: ``--seconds`` over the workload's nominal
   round time (``ROUND_S``), at least one;
3. stops Spark, waits until the JVM and its Python workers have
   exited, and checks the collected results against each query's
   DuckDB oracle (``__spark_entry__.oracle_sql()``) with
   ``tools/check_oracle.canon``;
4. prints a context line, then one JSON result line: the
   ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
   ``per_layer`` metrics with ``--trace 1``.

With ``--trace 1`` the session is created with a Spark event log,
whose listener is detached except in traced rounds. After one more
warm-up round, the measured rounds come in pairs, one untraced and one
traced (event log, listener and layer timers on, see ``layers.py``).

The inputs are the seed-42 testdata tables under ``testdata/`` (scale
0.01; 0.001 for the smoke test), read-only.

Usage, from the repository root:
  python3 perfbench/run.py --workload history_dag --seed 1 --seconds 20 --trace 0
"""

from __future__ import annotations

import argparse
import gc
import itertools
import json
import math
import os
import random
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

#: driver JVM heap, committed up front (-Xms = -Xmx) so that peak RSS
#: does not depend on when G1 decides to grow the heap
HEAP = "1g"

#: seconds one measured round of each workload takes on a quiet 4-vCPU
#: host; the measured phase is round(--seconds / ROUND_S) rounds, so
#: every run measures the same work however fast the host is that day
ROUND_S = {"history_dag": 6.0, "lake_upsert": 11.0}

#: paper compute path -> the registry entries one round runs
WORKLOADS = {
    # path 2: the daily DAG building the history fact (bench.py HEADLINE)
    "history_dag": [
        "q1_history", "rolling_engagement", "latest_wins", "top_k_per_group",
        "recent_n_per_user", "asof_enrichment", "posts_flatten", "anti_join",
        "scalar_suite", "quality_gates", "pricing_summary",
    ],
    # path 1: JSON lake -> transform -> latest-wins upsert, plus the search reads
    "lake_upsert": [
        "json_lake_ingest", "posts_flatten", "streaming_upsert", "streaming_dedup",
        "streaming_multi_sink", "cdc_merge", "upsert_audit", "binary_put_sink",
        "bm25_search", "hybrid_search_rrf", "keyword_search_ranked",
    ],
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=2, help="N of the local[N] master")
    ap.add_argument("--sf", choices=("0.01", "0.001"), default="0.01", help="input scale")
    return ap.parse_args(argv)


def cpu_jiffies() -> tuple[int, int]:
    """(iowait + steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[4] + v[7], sum(v)


def hd_quantile(xs: list[float], p: float, steps: int = 4096) -> float:
    """Harrell-Davis estimate of the ``p`` quantile of ``xs``: the mean of
    all order statistics weighted by a Beta(p(n+1), (1-p)(n+1)) density.
    A run has only 22-33 latencies from 11 queries, so a plain
    percentile reads one or two executions of one query, and jumps
    with them from run to run."""
    xs = sorted(xs)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    inner = (k / steps for k in range(1, steps))
    pdf = [0.0, *(math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_beta) for t in inner), 0.0]
    # Beta CDF on the grid, by the trapezoid rule
    cdf = list(itertools.accumulate(((u + v) / (2 * steps) for u, v in zip(pdf, pdf[1:])), initial=0.0))
    weights = (cdf[(i + 1) * steps // n] - cdf[i * steps // n] for i in range(n))
    return sum(x * w for x, w in zip(xs, weights)) / cdf[-1]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``, zombies included."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):  # ended meanwhile
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _ended(pid: int) -> bool:
    """Whether ``pid`` has exited; reaps it if it is a child of ours."""
    try:
        return os.waitpid(pid, os.WNOHANG)[0] == pid
    except ChildProcessError:  # not our child, or reaped already
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except (FileNotFoundError, ProcessLookupError):
        return True


def _wait_ended(pids: list[int], timeout: float) -> list[int]:
    """Polls until every pid has exited or ``timeout`` s have passed;
    returns those still running."""
    deadline = time.monotonic() + timeout
    while True:
        pids = [p for p in pids if not _ended(p)]
        if not pids or time.monotonic() > deadline:
            return pids
        time.sleep(0.05)


def stop_processes(timeout: float = 60.0) -> None:
    """Ends the Spark gateway JVM and every process below it (the
    Python workers) and waits until each has exited. The JVM exits when
    its stdin closes; whatever still runs after ``timeout`` s is
    killed. Without this the JVM outlives the harness by its shutdown
    time."""
    pids = descendants(os.getpid())
    if not pids:
        return
    context = sys.modules.get("pyspark.core.context")
    gateway = context and context.SparkContext._gateway
    if gateway is not None and gateway.proc is not None and gateway.proc.stdin is not None:
        gateway.proc.stdin.close()
    left = _wait_ended(pids, timeout)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    left = _wait_ended(left, 10.0)
    if left:
        print(f"processes still running: {left}", file=sys.stderr)


class Runner:
    """One session, one client: runs executions and counts failures."""

    def __init__(self, spark, queries, sf_dir: str) -> None:
        self.spark, self.queries, self.sf_dir = spark, queries, sf_dir
        self.jvm = spark.sparkContext._jvm
        self.attempted = 0
        self.failed = 0

    def execute(self, name: str, collect: bool = False):
        """Build + action for one query, then the scrub. Returns (build s,
        action s, epoch-ms (build, action, scrub) windows, collected pandas
        frame or None), or None if the query raised."""
        self.attempted += 1
        w0, t0 = time.time(), time.perf_counter()
        result = None
        try:
            df = self.queries[name](self.spark, self.sf_dir)
            w1, t1 = time.time(), time.perf_counter()
            if collect:
                result = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            w2, t2 = time.time(), time.perf_counter()
        except Exception as exc:  # a failing query is counted, the run goes on
            print(f"query {name} failed: {exc!r}"[:500], file=sys.stderr)
            self.failed += 1
            self.scrub()
            return None
        self.scrub()
        w3 = time.time()
        windows = ((w0 * 1e3, w1 * 1e3), (w1 * 1e3, w2 * 1e3), (w2 * 1e3, w3 * 1e3))
        return t1 - t0, t2 - t1, windows, result

    def scrub(self) -> None:
        """bench.py run_once's between-query cleanup."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        if self.attempted % 10 == 0:
            self.jvm.System.gc()

    def round(self, names: list[str], on_exec=None) -> tuple[float, dict[str, float]]:
        """Every query once, in ``names`` order: (round wall s, {query: s})."""
        t0 = time.perf_counter()
        lat = {}
        for name in names:
            r = self.execute(name)
            if r is not None:
                lat[name] = r[0] + r[1]
                if on_exec is not None:
                    on_exec(r[2])
        return time.perf_counter() - t0, lat


def check_outputs(results: dict, sf_dir: str, entrymod) -> list[str]:
    """Names whose collected result differs from the DuckDB oracle's
    (columns, row count, order-insensitive values) or whose oracle fails."""
    import duckdb

    from check_oracle import canon
    from data_pipeline_capstone_project_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entrymod.oracle_sql()
    bad = []
    for name, spd in results.items():
        try:
            opd = con.execute(oracles[name]).df()
        except Exception as exc:  # a failing oracle fails its query only
            print(f"oracle {name} failed: {exc!r}"[:500], file=sys.stderr)
            bad.append(name)
            continue
        if not (
            sorted(spd.columns) == sorted(opd.columns)
            and len(spd) == len(opd)
            and canon(spd) == canon(opd)
        ):
            print(f"output mismatch: {name}", file=sys.stderr)
            bad.append(name)
    con.close()
    return bad


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds like an exception, so that the JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no __spark_entry__.py under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]

    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    sf_dir = os.path.join(HERE, "testdata", f"sf{args.sf}")

    # Everything the engine, Spark and the JVM write goes under run_dir.
    run_dir = os.path.join(BUILD, "run", str(os.getpid()))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    ev_dir = os.path.join(run_dir, "events")
    if args.trace:
        os.makedirs(ev_dir)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{ev_dir}",
            "spark.eventLog.compress": "false",
        }
    try:
        return bench(args, spec, sf_dir, conf, ev_dir)
    finally:
        stop_processes()
        shutil.rmtree(run_dir, ignore_errors=True)


def bench(args, spec, sf_dir, conf, ev_dir) -> int:
    t_setup = time.perf_counter()
    import __spark_entry__ as entrymod
    from data_pipeline_capstone_project_spark import session

    names = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    rounds = max(1, round(args.seconds / ROUND_S[args.workload]))

    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}", cpus=args.cpus, extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    master = spark.sparkContext.master
    runner = Runner(spark, entrymod.queries(), sf_dir)
    if args.trace:
        import layers

        event_log = layers.EventLogSwitch(spark)
        event_log.off()
    try:
        # set-up ends with a cold round whose results are checked later
        t0 = time.perf_counter()
        results = {}
        for name in rng.sample(names, len(names)):
            r = runner.execute(name, collect=True)
            if r is not None:
                results[name] = r[3]
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup

        steal0 = cpu_jiffies()
        walls, by_name = [], {n: [] for n in names}
        if args.trace:
            layer, walls = traced_phase(rounds, runner, names, rng, entrymod, session, event_log, ev_dir)
        else:
            for _ in range(rounds):
                wall, qs = runner.round(rng.sample(names, len(names)))
                walls.append(wall)
                for n, q in qs.items():
                    by_name[n].append(q)
        steal1 = cpu_jiffies()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        trace_state = {
            "eventLog": spark.conf.get("spark.eventLog.enabled", "false"),
            "listeners": len(spark._jsparkSession.streams().listListeners()),
        }
    finally:
        try:
            spark.stop()
        finally:
            stop_processes()

    bad = check_outputs(results, sf_dir, entrymod)
    failed = runner.failed + len(bad)
    steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "master": master,
        "sf_dir": os.path.relpath(sf_dir, ROOT),
        "host.steal_frac": steal_frac,
        "trace_state": trace_state,
        "mismatched": bad,
        "rounds_s": walls,
    }
    if args.trace:
        values = layer | {
            "session.get_spark_s": get_spark_s,
            "setup.warm_s": warm_s,
            "setup.warm_rounds": 1,
            "host.steal_frac": steal_frac,
        }
    else:
        lat = [q for qs in by_name.values() for q in qs]
        context |= {"query_s.samples": len(lat), "query_s": by_name}
        values = {
            "setup_s": setup_s,
            "wall_s": sum(walls),
            "query_s.p50": hd_quantile(lat, 0.5),
            "query_s.p90": hd_quantile(lat, 0.9),
            "peak_rss_mb": peak_rss_mb,
            "ok_frac": 1 - failed / runner.attempted,
        }
    print(json.dumps({"context": context}))
    result = {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }
    print(json.dumps(result))
    return 0


def traced_phase(rounds, runner, names, rng, entrymod, session, event_log, ev_dir) -> dict:
    """One more warm-up round, then pairs of one untraced and one traced
    round: ``rounds`` rounded up to whole pairs and at least two pairs,
    in alternating order so that a linear drift cancels in
    ``trace.overhead``. Returns the per-layer metrics and the round
    times."""
    import layers
    from data_pipeline_capstone_project_spark.sources import readers

    spark = runner.spark
    spans = layers.Spans()
    spans.install(session, "ship_package", "ship_package")
    spans.install(entrymod, "_tune", "tune")
    spans.install(readers, "load_table", "load_table")
    progress = layers.StreamProgress()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    # the first round after the cold one is still 10-25% slow (README.md,
    # "Warm-up"); it would land on the untraced side alone
    runner.round(rng.sample(names, len(names)))
    plain, traced = [], []
    for pair in range(max(2, (rounds + 1) // 2)):
        for on in (False, True) if pair % 2 == 0 else (True, False):
            if not on:
                plain.append(runner.round(rng.sample(names, len(names)))[0])
                continue
            execs = []
            event_log.on()
            spark.streams.addListener(progress)
            spans.active = True
            wall, _ = runner.round(
                rng.sample(names, len(names)),
                on_exec=lambda w: execs.append(layers.Execution(*w)),
            )
            spans.active = False
            bus.waitUntilEmpty()
            spark.streams.removeListener(progress)
            event_log.off()
            traced.append((wall, execs, spans.take()))
    layer = layers.layer_metrics(traced, layers.read_event_log(ev_dir), progress.batches)
    layer["trace.overhead"] = sum(w for w, _, _ in traced) / sum(plain)
    return layer, {"plain": plain, "traced": [w for w, _, _ in traced]}


if __name__ == "__main__":
    sys.exit(main())
