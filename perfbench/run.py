"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload lidar_polygon --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run:

1. starts Spark with ``get_spark`` on ``local[nproc]``;
2. generates the workload's inputs from ``--seed`` under its own scratch
   directory ``.perfbench_runs/<run>/`` and computes every operation's
   expected rows with DuckDB (untimed);
3. runs one warm-up pass (codegen, Python workers, operator caches);
   ``setup_s`` is the ``get_spark`` time plus the warm-up time;
4. runs the box-state riders of ``bench._calibrate``;
5. runs whole passes over the workload's operations, back to back (each
   starts when the previous one finished), until ``--seconds`` have
   elapsed and at least ``MIN_OPS`` operations have run, forcing every
   result into its fingerprint;
6. runs the riders again, fingerprints the DuckDB rows with the same
   aggregate (on a warm session, so the check adds no cold start) and
   checks every measured result against them;
7. stops Spark and every process it started.

The last line of standard output is the result: ``correct``, ``attempted``,
``failed`` and the metrics of ``BENCHMARK.json`` -- the end-to-end ones with
``--trace 0``, the per-layer ones with ``--trace 1``. The line before it
holds the ungated context: the session the run actually got, the riders,
per-operation latencies, the tail percentile used, the peak RSS, the fail
rate and phase times.

With ``--trace 1`` every operation runs twice, traced (``perfbench.trace``
spans around each layer's public functions) and untraced, alternating which
goes first; per-layer numbers are means per traced operation, and the
median traced-minus-untraced difference is reported as
``trace.overhead_s``. Spans are written to the run directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Spark JVM heap (session.get_spark defaults to 8g).
JVM_HEAP = "2g"
#: Peak-RSS sampling interval, seconds.
RSS_INTERVAL = 0.1
#: Fewest measured operation runs: op_p50_s and op_tail_s rest on at least
#: this many samples whatever the machine's speed.
MIN_OPS = 12


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Self-test switches (perfbench/selftest.py): tiny inputs, and one part
    # of every expected fingerprint corrupted, which must surface as failures.
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--tamper", choices=("n", "h", "float"), help=argparse.SUPPRESS)
    return ap.parse_args(argv)


# --------------------------------------------------------------------------
# processes
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of the JVM and its descendants (Python workers)."""

    def __init__(self, jvm_pid: int) -> None:
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak = 0
        self.samples = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            total = sum(_rss_bytes(p) for p in process_tree(self.jvm_pid))
            self.peak = max(self.peak, total)
            self.samples += 1
            self._stop_evt.wait(RSS_INTERVAL)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def _steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def shutdown_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and its Python
    workers have exited."""
    spark.stop()
    proc = _jvm_proc()
    if proc is None:
        return
    pids = process_tree(proc.pid)
    from pyspark import SparkContext

    SparkContext._gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            try:
                with open(f"/proc/{p}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


# --------------------------------------------------------------------------
# environment
# --------------------------------------------------------------------------


def hermetic_env(run_dir: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir``; returns the session confs that go with it."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        # A capped heap fills early, so peak RSS tracks the footprint of the
        # work rather than when the JVM chose to grow its heap.
        "spark.driver.memory": JVM_HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": "file:" + os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
    }


def trace_conf(run_dir: str) -> dict[str, str]:
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file:" + log_dir,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    }


def start_spark(session_mod, cpus: int, conf: dict):
    """get_spark with the JVM's standard output sent to stderr, so the
    result line stays the last line of this process's stdout."""
    if _jvm_proc() is not None:
        return session_mod.get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        return session_mod.get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    finally:
        os.dup2(saved, 1)
        os.close(saved)


def session_record(spark, cpus: int, seed: int) -> dict:
    sc = spark.sparkContext
    rec = {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_version": spark.version,
        "nproc": cpus,
        "seed": seed,
    }
    rec["suspect_cpus_ignored"] = rec["default_parallelism"] != cpus
    return rec


# --------------------------------------------------------------------------
# measurement
# --------------------------------------------------------------------------


def riders(spark) -> dict[str, float]:
    """The fixed-work box-state probes of ``bench._calibrate`` (a constant
    JVM range aggregate on all cores and a single-core Python loop), run
    once each: they are ungated context for reading a run's numbers."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(10**8).select(F.sum((F.col("id") % 7) * 3).alias("s")).collect()
    t1 = time.perf_counter()
    acc = 0
    for i in range(5 * 10**6):
        acc ^= i * 31 + (i >> 3)
    return {"jvm_range_agg_sec": t1 - t0, "py_loop_sec": time.perf_counter() - t1}


def tail(latencies: list[float]) -> tuple[float, float]:
    """(latency, percentile) at the highest percentile with at least ten
    samples beyond it, once that is the 90th percentile or higher (from 100
    samples); below that, the 90th percentile by nearest rank."""
    s = sorted(latencies)
    n = len(s)
    if n >= 100:
        return s[n - 11], 100.0 * (n - 10) / n
    k = math.ceil(0.9 * n)
    return s[k - 1], 100.0 * k / n


def run_op(spark, op, tracer, op_id: int | None):
    """Construct and force one operation. Returns (latency, fingerprint);
    the fingerprint is None when the operation raised."""
    from perfbench import check

    traced = tracer is not None and op_id is not None
    if traced:
        tracer.op = op_id
        root = tracer.enter("op", "op")
    t0 = time.perf_counter()
    fp = None
    try:
        if traced:
            with tracer.span("plans.construct", "plans"):
                df = op.build(spark)
            with tracer.span("exec.action", "exec"):
                fp = check.fingerprint(df)
        else:
            df = op.build(spark)
            fp = check.fingerprint(df)
    except Exception as exc:  # an operation failure is a measured outcome
        print(f"# FAILED {op.kind}: {type(exc).__name__}: {exc}", file=sys.stderr)
    latency = time.perf_counter() - t0
    if traced:
        tracer.exit(root)
        tracer.op = None
    return latency, fp


def judge(op, fp) -> bool:
    """Whether an operation's result matches its expected fingerprint."""
    from perfbench import check

    if fp is None:
        return False
    if check.matches(fp, op.expected):
        return True
    print(f"# MISMATCH {op.kind} {op.meta}: got {fp} want {op.expected}", file=sys.stderr)
    return False


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "usgs_lidar_spark")):
        print(f"error: no usgs_lidar_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("error: --seconds must be positive", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(
        ROOT, ".perfbench_runs",
        f"{args.workload}_s{args.seed}_t{args.trace}_{os.getpid()}",
    )
    os.makedirs(run_dir, exist_ok=True)
    conf = hermetic_env(run_dir)

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()
        conf.update(trace_conf(run_dir))

    import numpy as np

    from perfbench import check
    from perfbench import trace as tr
    from usgs_lidar_spark import session as session_mod

    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](os.path.join(run_dir, "data"), args.seed, args.tiny)

    spark = None
    try:
        if tracer:
            tracer.on = True
        t0 = time.perf_counter()
        spark = start_spark(session_mod, cpus, conf)
        t_session = time.perf_counter() - t0
        if tracer:
            tracer.on = False
            tracer.attach(spark)
        t = time.perf_counter()
        wl.write_inputs(spark)
        t_inputs = time.perf_counter() - t
        wl.run_oracles()
        t_oracle = time.perf_counter() - t - t_inputs
        t = time.perf_counter()
        for op in wl.warmup:
            run_op(spark, op, None, None)
        setup_s = t_session + time.perf_counter() - t

        t = time.perf_counter()
        riders_pre = riders(spark)
        t_riders = time.perf_counter() - t
        session_rec = session_record(spark, cpus, args.seed)

        jvm = _jvm_proc()
        sampler = RssSampler(jvm.pid)
        sampler.start()
        passes = wl.passes(np.random.default_rng([args.seed, 1]))
        lat_plain, lat_traced, outcomes = [], [], []
        traced_ids, op_log = [], []
        # Whole passes only, so every run measures the same mix of
        # operation kinds whatever the seed's order: a new pass starts while
        # less than --seconds have elapsed or fewer than MIN_OPS operations
        # have run. A traced run runs every operation twice, traced and
        # untraced, alternating which goes first, so warming trends cancel
        # out of the overhead estimate.
        steal0 = _steal_jiffies()
        t_start = time.perf_counter()
        i = 0  # operation runs so far
        min_ops = 1 if args.tiny else MIN_OPS
        while time.perf_counter() - t_start < args.seconds or i < min_ops:
            for j, op in enumerate(next(passes)):
                modes = [False] if tracer is None else [j % 2 == 0, j % 2 == 1]
                for traced in modes:
                    if tracer:
                        tracer.on = traced
                    lat, fp = run_op(spark, op, tracer, i if traced else None)
                    (lat_traced if traced else lat_plain).append(lat)
                    if traced:
                        traced_ids.append(i)
                    outcomes.append((op, fp))
                    op_log.append([op.kind, round(lat, 4), traced])
                    i += 1
        elapsed = time.perf_counter() - t_start
        steal1 = _steal_jiffies()
        if tracer:
            tracer.on = False
        sampler.stop()
        t = time.perf_counter()
        riders_post = riders(spark)
        t_riders += time.perf_counter() - t
        t = time.perf_counter()
        wl.derive_expected(spark)
        if args.tamper:
            for op in (op for g in wl.groups for op in g):
                op.expected = check.tampered(op.expected, args.tamper)
        results = [judge(op, fp) for op, fp in outcomes]
        t_oracle += time.perf_counter() - t

        layer = None
        if tracer:
            jobs = tracer.jobs_by_group()
            exec_jobs = [j for sp in tracer.spans if sp[tr.LAYER] == "exec"
                         for j in jobs.get(sp[tr.GROUP], ())]
            stages = tracer.stage_counts(exec_jobs)
        t = time.perf_counter()
        shutdown_spark(spark)
        t_shutdown = time.perf_counter() - t
        spark = None
        if tracer:
            layer = per_layer(
                tracer, jobs, stages,
                tr.eventlog_bytes(os.path.join(run_dir, "eventlog")),
                traced_ids, lat_traced, lat_plain, benchmark_spec()["per_layer"],
            )
            tracer.dump(os.path.join(run_dir, "spans.json"))
    finally:
        if spark is not None:
            shutdown_spark(spark)

    attempted = len(results)
    failed = attempted - sum(results)
    latencies = lat_plain + lat_traced
    tail_s, tail_pct = tail(latencies) if latencies else (0.0, 0.0)
    if tracer:
        metrics = layer
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ops_per_s": {"value": (attempted - failed) / elapsed, "unit": "1/s"},
            "op_p50_s": {"value": statistics.median(latencies), "unit": "s"},
            "op_tail_s": {"value": tail_s, "unit": "s"},
        }
    context = {
        "workload": args.workload,
        "session": session_rec,
        "riders": {"pre": riders_pre, "post": riders_post},
        "samples": {"ops": attempted, "rss": sampler.samples},
        "ops": op_log,
        "phase_s": {"inputs": t_inputs, "oracle": t_oracle, "riders": t_riders,
                    "shutdown": t_shutdown, "total": time.perf_counter() - T_START},
        "op_tail_percentile": tail_pct,
        # Peak summed RSS of the JVM and its Python workers while measuring,
        # MB: ungated, its run-to-run spread on llm_curation reached the
        # 0.25 bound (how many forked workers are alive at the peak varies).
        "peak_rss_mb": sampler.peak / 2**20,
        "fail_rate": failed / attempted if attempted else None,
        "measured_s": elapsed,
        # CPU time the hypervisor gave other machines while this run was
        # measuring: the main source of run-to-run spread on shared hosts.
        "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "run_dir": os.path.relpath(run_dir, ROOT),
    }
    with open(os.path.join(run_dir, "run.json"), "w") as fh:
        json.dump({"context": context, "metrics": metrics}, fh, indent=1)
    for sub in ("data", "tmp", "spark-local", "warehouse", "eventlog"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": attempted > 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def per_layer(tracer, jobs, stages, group_bytes, traced_ids, lat_traced, lat_plain, spec):
    """Per-layer metrics, as means per traced operation."""
    from perfbench import trace as tr

    spans = tracer.spans
    selfs = tr.self_times(spans)
    n_ops = max(1, len(traced_ids))
    traced = set(traced_ids)
    acc: dict[str, float] = {}

    def add(key, v):
        acc[key] = acc.get(key, 0.0) + v

    by_id = {sp[tr.ID]: sp for sp in spans}

    def construct_root(sp):
        while sp is not None and sp[tr.NAME] != "plans.construct":
            sp = by_id.get(sp[tr.PARENT])
        return sp

    read_paths: dict[int, set] = {}
    for sp in spans:
        if sp[tr.OP] not in traced:
            continue
        s, py = selfs[sp[tr.ID]]
        lay, name = sp[tr.LAYER], sp[tr.NAME]
        n_jobs = len(jobs.get(sp[tr.GROUP], ()))
        in_construct = construct_root(sp) is not None
        if in_construct:
            add("plans.construct.jobs", n_jobs)
        if name == "plans.construct":
            add("plans.construct.py4j_calls", sp[tr.PY1] - sp[tr.PY0])
        if lay == "op":
            add("trace.remainder_s", s)
        elif lay == "plans":
            add("plans.construct.s", s)
        elif lay == "exec":
            add("exec.action.s", s)
            add("exec.jobs", n_jobs)
            for k, v in group_bytes.get(sp[tr.GROUP], {}).items():
                add(f"exec.{k}", v)
        elif lay == "functions":
            add("functions.s", s)
            add("functions.py4j_calls", py)
        elif lay in ("sources.write", "sources.read"):
            add(f"{lay}.s", s)
        else:  # catalog, operators.<m>, multimodal.binary_ops
            key = "catalog.load_table" if lay == "catalog" else lay
            add(f"{key}.s", s)
            add(f"{key}.calls", 1)
            add(f"{key}.jobs", n_jobs)
        if lay == "sources.write" and sp[tr.ARG]:
            b, f = _written(sp[tr.ARG])
            add("sources.write.bytes", b)
            add("sources.write.files", f)
        if (name == "catalog.load_table" or lay == "sources.read") and sp[tr.ARG]:
            read_paths.setdefault(sp[tr.OP], set()).add(sp[tr.ARG])

    table_bytes = sum(_written(p)[0] for paths in read_paths.values() for p in paths)
    getspark = [sp[tr.T1] - sp[tr.T0] for sp in spans if sp[tr.NAME] == "session.get_spark"]
    out = {}
    for m in spec:
        name, unit = m["name"], m["unit"]
        if name == "session.get_spark_s":
            v = statistics.median(getspark) if getspark else 0.0
        elif name == "trace.overhead_s":
            v = statistics.median(t - u for t, u in zip(lat_traced, lat_plain))
        elif name == "exec.scan_ratio":
            v = acc.get("exec.files_read_bytes", 0.0) / table_bytes if table_bytes else 0.0
        elif name in ("exec.stages", "exec.tasks", "exec.failed_tasks"):
            v = stages[name.split(".", 1)[1]] / n_ops
        else:
            v = acc.get(name, 0.0) / n_ops
        out[name] = {"value": v, "unit": unit}
    return out


def _written(path: str) -> tuple[int, int]:
    """(bytes, data files) under a dataset path."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


if __name__ == "__main__":
    sys.exit(main())
