"""The engine's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {prepare,update,serve,headline} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The first run stages the corpus (docs +
base store, cached under ``.perfbench/cache``); every run then stages its
seed's inputs (cached too), starts Spark on ``local[<cores - 1>]``, warms up,
runs the workload's closed loop for ``--seconds`` and at least the
workload's ``min_ops`` ops, checks the outputs, and prints the workload's
own metrics by name (``name = value unit``) followed, as the last line, by
the result object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones (spans written to
``.perfbench/spans/``). See ``perfbench/README.md`` for what each metric
means and which layer should move which end-to-end metric."""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

RUN_LIMIT_S = 170  # a run must end within 180 s; staging is exempt

class PeakRss:
    """Samples the RSS of this process and all its descendants (the JVM and
    the Python workers) on a background thread; ``peak_mb`` is the max."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        # the engine's descendant-tree walk: pyspark's daemon leaves the
        # process group, so the tree, not the group, holds every worker
        from osmquadtree_bin_spark.hostmetrics import _job_pids

        total = 0
        for pid in _job_pids() or ():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return total * os.sysconf("SC_PAGE_SIZE")

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    spawned) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:  # the program under test must be in the checkout
        import jobs.prepare_job  # noqa: F401
        import osmquadtree_bin_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not found in {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import stage
    from perfbench.report import check_result, host_cores, median, result_line, self_times
    from perfbench.session import WORK, start_spark
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    run_dir = os.path.join(WORK, "runs", f"{wl.name}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    # -- staging: one-time corpus (child process) + the seed's inputs
    t_stage = time.perf_counter()
    if not stage.corpus_ready():
        subprocess.run([sys.executable, "-m", "perfbench.stage"],
                       check=True, stdout=sys.stderr, cwd=ROOT)
    fingerprint = {k: v for k, v in wl.stage(args.seed).items() if k != "per_batch"}
    staging_s = time.perf_counter() - t_stage
    signal.alarm(RUN_LIMIT_S)

    t_spark = time.perf_counter()
    spark = start_spark(f"perfbench-{wl.name}",
                        os.path.join(run_dir, "eventlog") if args.trace else None)
    spark_start_s = time.perf_counter() - t_spark
    tracer = undo = None
    ops: list[dict] = []
    failed_ops = 0
    try:
        from osmquadtree_bin_spark.hostmetrics import (
            pg_cpu_jiffies, pg_cpu_seconds_delta, proc_stat)

        with PeakRss() as rss:
            wl.setup(spark, run_dir)
            setup_s = time.perf_counter() - T0 - staging_s
            if args.trace:
                from perfbench import trace

                tracer = trace.Tracer(spark.sparkContext)
            host0 = proc_stat()
            t_end = time.perf_counter() + args.seconds
            i = 0
            while (time.perf_counter() < t_end or i < wl.min_ops) and wl.ops_left():
                # traced runs alternate blocks of traced and untraced ops, so
                # the overhead is measured within one run
                traced = tracer is not None and (i // wl.trace_block) % 2 == 0
                if traced:
                    undo = trace.install(tracer)
                cpu0 = pg_cpu_jiffies()
                t = time.perf_counter()
                try:
                    if traced:
                        with tracer.op(i):
                            r = wl.op(i, tracer)
                    else:
                        r = wl.op(i, None)
                    r["wall"] = time.perf_counter() - t
                    r["cpu"] = pg_cpu_seconds_delta(cpu0, pg_cpu_jiffies())
                    r["traced"] = traced
                    r["op_id"] = i
                    ops.append(r)
                except TimeoutError:  # the run limit: stop, do not count an op
                    raise
                except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                    traceback.print_exc(file=sys.stderr)
                    failed_ops += 1
                finally:
                    if traced:
                        trace.uninstall(undo)
                i += 1
            host1 = proc_stat()
            valid = [wl.validate(o) for o in ops]
            failed_ops += valid.count(False)
            ops = [o for o, ok in zip(ops, valid) if ok]
            checks = wl.checks()
            peak_mb = rss.peak_mb
        wl.close()
        signal.alarm(0)
    finally:
        stop_spark(spark)

    failed = failed_ops + sum(1 for _, ok, _ in checks if not ok)
    attempted = len(ops) + failed_ops + len(checks)
    for name, ok, detail in checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}" + ("" if ok else f": {detail}"))
    print(f"input fingerprint = {json.dumps(fingerprint, sort_keys=True)}")
    print(f"staging_s = {staging_s:.3f} s (one-time, cached; not in setup_s)")
    print(f"spark_start_s = {spark_start_s:.3f} s (part of setup_s)")
    print(f"workload_setup_s = {setup_s - (t_stage - T0) - spark_start_s:.3f} s "
          "(part of setup_s, with the warm-up)")
    cores = host_cores(host0, host1)
    if cores:
        print(f"host cores during the loop: busy {cores[0]:.2f}, steal {cores[1]:.2f}")
    if not ops:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1

    walls = [o["wall"] for o in ops]
    print("op walls = " + " ".join(f"{w:.3f}" for w in walls) + " s")
    # CPU seconds of the process tree per op, steal excluded: when it rises
    # with the walls, the host ran this run's threads slower
    print("op cpu = " + " ".join(f"{o['cpu']}" for o in ops) + " s")
    named = {
        "setup_s": (setup_s, "s", "process start to first timed op, minus staging"),
        "peak_rss_mb": (peak_mb, "MB", "process tree"),
        "failed_ratio": (failed / attempted, "ratio", f"{failed} of {attempted}"),
        **wl.report(ops),
    }
    for k, (v, unit, how) in named.items():
        print(f"{k} = {v:.6g} {unit}  ({how})")
    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (median(wl.latencies(ops)) * 1e3, "ms"),
            "work_per_s": (sum(o["work"] for o in ops) / sum(walls), "1/s"),
        }
    else:
        from perfbench.layers import layer_metrics

        own = self_times(tracer.spans)
        for sp in tracer.spans:
            sp["self_s"] = own[sp["id"]]
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        with open(os.path.join(WORK, "spans", f"{wl.name}-s{args.seed}.json"), "w") as f:
            json.dump(tracer.spans, f)
        metrics = layer_metrics(tracer, os.path.join(run_dir, "eventlog"), ops,
                                wl, host0, host1)
        for k, (v, unit) in metrics.items():
            print(f"{k} = {v:.6g} {unit}")
    shutil.rmtree(run_dir, ignore_errors=True)
    line = result_line(failed == 0, attempted, failed, metrics)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if tracer else "end_to_end"]
    errs = check_result(json.loads(line), [m["name"] for m in declared])
    if errs:
        print(f"perfbench: result does not match BENCHMARK.json: {errs}", file=sys.stderr)
        return 3
    print(line)
    return 0


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


if __name__ == "__main__":
    signal.signal(signal.SIGALRM, _timeout)
    sys.exit(main())
