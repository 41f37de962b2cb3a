#!/usr/bin/env python3
"""Crawl-frontier benchmark.

    python3 crawlbench/run.py --workload ref_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one client, one crawl
operation in flight (a closed loop); Spark runs ``local[nproc]``. The
last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. ``--selftest`` runs both
workloads on tiny inputs through every layer entry point the traced run
uses. See crawlbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK_BASE = os.path.join(ROOT, ".crawlbench")
SETUPS = 3  # setup_s is the median of this many session starts + warm-ups

# Crawl cost is gated in CPU seconds of the whole process tree: hypervisor
# steal on a shared VM swung the BFS operation's wall time 30-58 s across
# seeds; wall times are logged on stderr and traced as trace.crawl_s.
END_TO_END = {
    "setup_s": "s",
    "crawl_cpu_s": "s",
    "urls_per_cpu_s": "URL/cpu-s",
    "cpu_s_per_round": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "urls.canon_s": "s",
    "urls.rows_in": "count",
    "urls.rows_dropped": "count",
    "global_seq.s": "s",
    "global_seq.rows": "count",
    "fetch.s": "s",
    "fetch.rows": "count",
    "fetch.ok_ratio": "ratio",
    "fetch.spans": "count",
    "engine.rounds": "count",
    "engine.fetched": "count",
    "engine.seen_rows": "count",
    "engine.offer_dup_ratio": "ratio",
    "bloom.build_s": "s",
    "bloom.test_s": "s",
    "bloom.candidates": "count",
    "bloom.flagged_ratio": "ratio",
    "cuckoo.build_s": "s",
    "cuckoo.test_s": "s",
    "cuckoo.flagged_ratio": "ratio",
    "checkpoint.save_s": "s",
    "checkpoint.load_s": "s",
    "checkpoint.bytes": "bytes",
    "export.s": "s",
    "export.bytes": "bytes",
    "stream.wave_s.0": "s",
    "stream.wave_s.1": "s",
    "stream.committed_bytes": "bytes",
    "analytics.word_topk_s": "s",
    "analytics.media_alt_coverage_s": "s",
    "analytics.link_domain_topk_s": "s",
    "analytics.internal_external_split_s": "s",
    "analytics.status_breakdown_s": "s",
    "analytics.spans_dedup_s": "s",
    "trace.crawl_s": "s",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
}

# span name -> per-layer time metric (self time, summed over the run)
SPAN_METRICS = {
    "urls.canon": "urls.canon_s",
    "global_seq": "global_seq.s",
    "fetch": "fetch.s",
    "bloom.build": "bloom.build_s",
    "bloom.test": "bloom.test_s",
    "cuckoo.build": "cuckoo.build_s",
    "cuckoo.test": "cuckoo.test_s",
    "checkpoint.save": "checkpoint.save_s",
    "checkpoint.load": "checkpoint.load_s",
    "export": "export.s",
    "stream.wave_s.0": "stream.wave_s.0",
    "stream.wave_s.1": "stream.wave_s.1",
    **{
        f"analytics.{a}": f"analytics.{a}_s"
        for a in (
            "word_topk", "media_alt_coverage", "link_domain_topk",
            "internal_external_split", "status_breakdown", "spans_dedup",
        )
    },
}


def log(msg: str) -> None:
    print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """2 GiB, or a quarter of physical RAM when that is smaller."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    return min(2048, total_kb // 4096)


def configure_env(work: str) -> None:
    """Session sizing and per-run scratch dirs, set before pyspark starts."""
    dirs = {k: os.path.join(work, k) for k in ("local", "state", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_mb()}m",
        SPARK_GRAFT_LOCAL_DIR=dirs["local"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_STATE_DIR=dirs["state"],
        TMPDIR=dirs["tmp"],
        # every JVM, the launcher included: temp files in the run dir and
        # no hsperfdata file under the system /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    )
    tempfile.tempdir = dirs["tmp"]
    sys.path[:0] = [ROOT, HERE]


def start_session(work: str):
    from ai4orgwebscraper_spark.session import get_spark

    return get_spark(
        app_name="crawlbench",
        cpus=nproc(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def warm_up(spark) -> None:
    """A small pass through the URL layer's column expressions (the
    first JVM job of a session pays codegen and JIT)."""
    import inputs
    from pyspark.sql import functions as F

    from ai4orgwebscraper_spark.functions import urls as U

    canon = U.canonicalize_col(F.col("url"))
    inputs.seed_frame(spark, "warm-up", 256).select(
        U.url_hash_col(canon), U.host_col(canon)
    ).collect()


def setup(work: str, times: int) -> tuple:
    """Start (or restart) the session and warm it up ``times`` times;
    the first start also launches the JVM. Returns the session, each
    set-up's wall seconds and each session start's."""
    spark, totals, starts = None, [], []
    for _ in range(times):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(work)
        starts.append(time.perf_counter() - t0)
        warm_up(spark)
        totals.append(time.perf_counter() - t0)
    log("setups: " + " ".join(f"{s:.2f}+{t - s:.2f}" for s, t in zip(starts, totals)))
    return spark, totals, starts


def peak_rss_mb() -> float:
    """VmHWM of this process plus the JVM it launched, from /proc."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        pids.append(gw.proc.pid)
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM"))
    return kb / 1024.0


def teardown(spark) -> None:
    """Stop the session and the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


class Counter:
    def __init__(self) -> None:
        self.attempted = self.failed = 0

    def record(self, what: str, fn):
        """Run one operation; an exception or a failed check is a failure."""
        self.attempted += 1
        try:
            result = fn()
        except Exception:
            self.failed += 1
            log(f"{what} raised:\n{traceback.format_exc()}")
            return None
        problems = result if isinstance(result, list) else []
        if problems:
            self.failed += 1
            log(f"{what} failed its check: {problems}")
        return result


def history_path(workload: str) -> str:
    return os.path.join(WORK_BASE, f"untraced-{workload}.json")


def load_history(workload: str) -> list[float]:
    try:
        with open(history_path(workload)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return []


def run_untraced(wl_cls, spark, setup_totals, work, seed, seconds, counter) -> dict:
    from tracer import NullTracer

    wl = wl_cls(spark, work, seed, NullTracer())
    ops, busy, k = [], 0.0, 0
    while k == 0 or busy < seconds:
        res = counter.record(f"op {k}", lambda k=k: wl.op(k, str(k)))
        if res is None:
            break
        busy += res["crawl_s"]
        counter.record(f"check {k}", lambda res=res: wl.check(res))
        ops.append(res)
        log(
            f"op {k}: crawl_s={res['crawl_s']:.3f} crawl_cpu_s={res['crawl_cpu_s']:.3f}"
            f" rounds={res['rounds']} fetched={res['fetched']}"
        )
        shutil.rmtree(res["out_dir"], ignore_errors=True)
        shutil.rmtree(res["ckpt_dir"], ignore_errors=True)
        k += 1
    if not ops:
        return {}
    med = statistics.median
    # the traced run's overhead is measured against these
    with open(history_path(wl_cls.name), "w") as fh:
        json.dump(load_history(wl_cls.name) + [r["crawl_s"] for r in ops], fh)
    log(
        f"wall: crawl_s={med(r['crawl_s'] for r in ops):.3f}"
        f" urls_per_s={med(r['fetched'] / r['crawl_s'] for r in ops):.2f}"
        f" s_per_round={med(r['crawl_s'] / r['rounds'] for r in ops):.3f}"
    )
    return {
        "setup_s": med(setup_totals),
        "crawl_cpu_s": med(r["crawl_cpu_s"] for r in ops),
        "urls_per_cpu_s": med(r["fetched"] / r["crawl_cpu_s"] for r in ops),
        "cpu_s_per_round": med(r["crawl_cpu_s"] / r["rounds"] for r in ops),
    }


def run_traced(wl_cls, spark, starts, work, seed, counter, small=False) -> dict:
    """The op with spans, then every layer entry point the workload uses
    on that op's outputs. Tracing overhead is the traced crawl_s minus
    the median crawl_s of this checkout's earlier untraced runs; with no
    such run yet, one untraced op runs first."""
    from tracer import NullTracer, Tracer

    tracer = Tracer()
    m = dict.fromkeys(PER_LAYER, 0)
    m["session.start_s"] = starts[0]
    untraced = [] if small else load_history(wl_cls.name)
    if not untraced:
        base = counter.record(
            "untraced op", lambda: wl_cls(spark, work, seed, NullTracer(), small).op(0, "untraced")
        )
        untraced = [base["crawl_s"]] if base else []
    wl = wl_cls(spark, work, seed, tracer, small)
    res = counter.record("traced op", lambda: wl.op(0, "traced"))
    if res is not None:
        counter.record("traced check", lambda: wl.check(res))
        m["trace.crawl_s"] = res["crawl_s"]
        if untraced:
            m["trace.overhead_s"] = res["crawl_s"] - statistics.median(untraced)
        layers = counter.record("layer re-runs", lambda: wl.layer_metrics(res))
        m.update(layers or {})
        counter.record("analytics", lambda: wl.analytics(res))
    if "stream" in wl.layers:
        counter.record("stream waves", lambda: wl.stream(m))
    self_s = tracer.self_times()
    for span, metric in SPAN_METRICS.items():
        m[metric] = self_s.get(span, 0.0)
    m["peak_rss_mb"] = peak_rss_mb()
    out_dir = os.path.join(ROOT, "crawlbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{wl_cls.name}-{seed}.json")
    tracer.write(path)
    log(f"spans written to {path}")
    for name, s in sorted(self_s.items(), key=lambda kv: -kv[1]):
        log(f"  self {s:9.3f} s  {name}")
    return m


def result_line(counter: Counter, metrics: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": counter.failed == 0 and counter.attempted > 0,
            "attempted": max(counter.attempted, 1),
            "failed": counter.failed if counter.attempted else 1,
            "metrics": {
                k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()
            },
        }
    )


def selftest(work: str) -> int:
    """Both workloads, tiny inputs, traced: every layer entry point."""
    from workloads import WORKLOADS

    spark, _totals, starts = setup(work, 1)
    counter = Counter()
    try:
        for cls in WORKLOADS.values():
            m = run_traced(cls, spark, starts, os.path.join(work, cls.name), 0, counter, small=True)
            # every layer the workload uses must have spent time
            idle = sorted(
                metric for span, metric in SPAN_METRICS.items()
                if span.split(".")[0] in cls.layers and not m[metric]
            )
            if idle:
                counter.failed += 1
                log(f"{cls.name}: layer metrics left at zero: {idle}")
    finally:
        teardown(spark)
    log(f"self-test: attempted={counter.attempted} failed={counter.failed}")
    return 0 if counter.failed == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "ai4orgwebscraper_spark")):
        log(f"no ai4orgwebscraper_spark/ package under {ROOT}; run from a checkout's root")
        return 2
    work = os.path.join(WORK_BASE, f"run-{os.getpid()}")
    # a terminated run still stops its JVM and removes its dirs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    configure_env(work)
    from workloads import WORKLOADS

    if not args.selftest and args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    try:
        if args.selftest:
            return selftest(work)
        wl_cls = WORKLOADS[args.workload]
        counter = Counter()
        spark = None
        try:
            if args.trace:
                spark, _totals, starts = setup(work, 1)
                metrics = run_traced(wl_cls, spark, starts, work, args.seed, counter)
                units = PER_LAYER
            else:
                spark, totals, _starts = setup(work, SETUPS)
                metrics = run_untraced(wl_cls, spark, totals, work, args.seed, args.seconds, counter)
                units = END_TO_END
        finally:
            teardown(spark)
        if not metrics:
            log("no operation completed")
            return 1
        failed_ratio = counter.failed / max(counter.attempted, 1)
        log(f"failed_ops_ratio={failed_ratio:.4f} ({counter.failed}/{counter.attempted})")
        for k, u in units.items():
            log(f"  {k} = {metrics.get(k, 0.0):.6g} {u}")
        print(result_line(counter, metrics, units), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
