"""Benchmark of the cqi-spark engine on the host it runs on.

    python3 perfbench/run.py --workload dedup_corpus --seed 1 --seconds 16 \
        --trace 0

Run from the root of a source checkout (the directory holding
``cqi_engine/``).  Inputs are generated from ``--seed``; the engine runs
on ``local[<cores>]`` in this process; every output is checked against
an oracle outside the timed windows.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).  The line before it carries the host fingerprint and
the raw samples.  Exit code 0 only when every run succeeded and every
check passed.  See DESIGN.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402

# timed runs per invocation, at least, however long they take
MIN_RUNS = 2
# the traced pass's layer self times should sum to its wall within this
# share of it
TRACE_TOLERANCE = 0.2

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "rows/s"),
    ("batch_s_p50", "s"),
]

# end-to-end figures too noisy on a shared host to carry a bound (a p90
# of a handful of batches, a heap-dependent RSS peak) are reported with
# the layers.  Both workloads in BENCHMARK.json measure every layer here.
PER_LAYER = [
    ("batch_s_p90", "s"), ("peak_rss_mb", "MB"),
    ("session.build_s", "s"), ("session.warmup_s", "s"),
    ("session.retained_rdds", "count"),
    ("session.retained_storage_mb", "MB"),
    ("catalog.minhash.self_s", "s"),
    ("catalog.minhash.band_rows", "count"),
    ("catalog.minhash.cand_rows", "count"),
    ("catalog.minhash.rows_out", "count"),
    ("catalog.minhash.keep_ratio", "ratio"),
    ("catalog.minhash.shuffle_mb", "MB"),
    ("catalog.minhash.spill_mb", "MB"),
    ("dedup.band_frames.self_s", "s"),
    ("dedup.band_frames.rows_out", "count"),
    ("dedup.annotate.self_s", "s"),
    ("dedup.annotate.cand_rows", "count"),
    ("dedup.annotate.keep_ratio", "ratio"),
    ("dedup.annotate.index_read_mb", "MB"),
    ("dedup.index_write.self_s", "s"),
    ("dedup.index_write.bytes", "bytes"),
    ("dedup.index_write.files", "count"),
    ("dedup.commit.self_s", "s"),
    ("dedup.index_bytes_per_input_byte", "ratio"),
    ("trace.overhead_ratio", "ratio"),
    ("trace.self_coverage", "ratio"),
]


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _p90(xs) -> float:
    if len(xs) < 2:
        return _median(xs)
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])


def _confine(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark at
    ``work``, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"),
              os.path.join(work, "warehouse")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host.cpu_count())
    # the shuffle width bench.py uses for the same host
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(max(2 * host.cpu_count(), 16))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", shlex.quote(
            "spark.sql.warehouse.dir=" + os.path.join(work, "warehouse")),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell"])


class Bench:
    def __init__(self, wl, seconds: float, trace: bool):
        self.wl = wl
        self.seconds = seconds
        self.trace = trace
        self.spark = None
        self.rss = host.RssSampler()
        self.steal = host.Steal()
        self.attempted = 0
        self.failed = 0

    # -- session -----------------------------------------------------------
    def _setup(self) -> dict:
        """One set-up: it launches the JVM, so it is what a user waits for
        before the first result."""
        from cqi_engine.session import build_session, ship_package

        t0 = time.perf_counter()
        self.spark = build_session("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        ship_package(self.spark)
        t1 = time.perf_counter()
        self.wl.warm_up(self.spark)
        t2 = time.perf_counter()
        self._isolate()
        return {"setup_s": t2 - t0, "build_s": t1 - t0, "warmup_s": t2 - t1}

    def _isolate(self) -> tuple[int, float]:
        """Drop what a run left behind: force a GC in Python and in the
        JVM, count the persisted RDDs still held, then release them."""
        gc.collect()
        sc = self.spark.sparkContext
        sc._jvm.System.gc()
        time.sleep(0.2)          # the context cleaner works asynchronously
        jsc = sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        storage = sum(i.memSize() + i.diskSize() for i in infos) / 2 ** 20
        rdds = jsc.getPersistentRDDs()
        retained = rdds.size()
        self.spark.catalog.clearCache()
        for key in list(rdds.keySet()):
            rdds.get(key).unpersist(True)
        return retained, storage

    # -- runs --------------------------------------------------------------
    def _timed_run(self, samples: dict, settle: bool = False) -> None:
        """One checked run.  A settle run's wall goes to ``settle_s``
        only."""
        self.attempted += 1
        if not settle:
            self.steal.start()
            self.rss.active.set()
        out = None
        try:
            lat, out = self.wl.run(self.spark)
        except Exception:  # a failed run is counted, not fatal
            lat = None
            self._fail(traceback.format_exc())
        finally:
            if not settle:
                self.rss.active.clear()
                self.steal.stop()
        if lat is not None:
            if settle:
                samples["settle_s"].append(sum(lat))
            else:
                samples["wall_s"].append(sum(lat))
                samples["batch_s"].extend(lat)
            if out is not None:
                self._check(out)
        self.wl.after_run(self.spark)
        retained, storage = self._isolate()
        samples["retained_rdds"].append(retained)
        samples["retained_storage_mb"].append(storage)

    def _check(self, out) -> None:
        try:
            err = self.wl.check(self.spark, out)
        except Exception:
            err = traceback.format_exc()
        if err:
            self._fail(err)

    def _fail(self, msg: str) -> None:
        self.failed += 1
        print(f"perfbench: {msg}", file=sys.stderr)

    def run(self) -> dict:
        t0 = time.perf_counter()
        self.wl.prepare()
        prep_s = time.perf_counter() - t0
        setup = self._setup()
        samples = {"settle_s": [], "wall_s": [], "batch_s": [],
                   "retained_rdds": [], "retained_storage_mb": [],
                   "traced_wall_s": []}
        layers: dict[str, list[float]] = {}
        store = None
        if self.trace:
            import sqlmetrics
            store = sqlmetrics.StatusStore(self.spark)
        # Closed loop, one client.  Settle runs come first.  The timed run
        # count is then fixed by --seconds and the workload's nominal run
        # time, not by a clock, so every invocation samples the same
        # stretch of runs.  With --trace 1 one untraced run is paired with
        # one traced pass, which costs two to three runs; their ratio is
        # the tracing overhead.
        for _ in range(self.wl.settle_runs):
            self._timed_run(samples, settle=True)
        if self.trace:
            self._timed_run(samples)
            self._traced_pass(store, samples, layers)
        else:
            for _ in range(max(MIN_RUNS, round(
                    self.seconds / self.wl.nominal_run_s))):
                self._timed_run(samples)
        return self._report(setup, samples, layers, prep_s)

    def _traced_pass(self, store, samples, layers) -> None:
        self.attempted += 1
        try:
            wall, figures, ref = self.wl.trace(self.spark, store)
        except Exception:
            self._fail(traceback.format_exc())
            return
        finally:
            self.wl.after_run(self.spark)
            self._isolate()
        samples["traced_wall_s"].append(wall)
        covered = sum(figures.get(f"{name}.self_s", 0.0)
                      for name in self.wl.pass_layers)
        cov = figures["trace.self_coverage"] = covered / wall
        if abs(cov - 1.0) > TRACE_TOLERANCE:
            self._fail(f"layer self times cover {cov:.2f} of the traced "
                       f"wall, outside 1 +- {TRACE_TOLERANCE}")
        for k, v in {**figures, **ref}.items():
            layers.setdefault(k, []).append(float(v))

    # -- result ------------------------------------------------------------
    def _report(self, setup, samples, layers, prep_s) -> dict:
        wall = _median(samples["wall_s"])
        e2e = {
            "setup_s": setup["setup_s"],
            "wall_s": wall,
            "rows_per_s": self.wl.n_input / wall if wall else 0.0,
            "batch_s_p50": _median(samples["batch_s"]),
        }
        # score_ways also traces pipeline.* layers: they reach the detail
        # line only, since that workload is not in BENCHMARK.json
        per_layer = {name: 0.0 for name, _ in PER_LAYER}
        per_layer.update({
            "batch_s_p90": _p90(samples["batch_s"]),
            "peak_rss_mb": self.rss.peak_mb,
            "session.build_s": setup["build_s"],
            "session.warmup_s": setup["warmup_s"],
            "session.retained_rdds": _median(samples["retained_rdds"]),
            "session.retained_storage_mb":
                _median(samples["retained_storage_mb"]),
        })
        for k, vs in layers.items():
            per_layer[k] = _median(vs)
        index_bytes = getattr(self.wl, "index_bytes", [])
        if index_bytes:
            per_layer["dedup.index_bytes_per_input_byte"] = \
                _median(index_bytes) / self.wl.text_bytes
        if samples["traced_wall_s"]:
            per_layer["trace.overhead_ratio"] = \
                _median(samples["traced_wall_s"]) / wall if wall else 0.0
        units = dict(END_TO_END + PER_LAYER)
        chosen = ({k: per_layer[k] for k, _ in PER_LAYER} if self.trace
                  else e2e)
        detail = {
            "workload": self.wl.name, "seed": self.wl.seed,
            "input_rows": self.wl.n_input, "prepare_s": prep_s,
            "host": {**host.fingerprint(os.getcwd(), self.spark),
                     "steal_pct": self.steal.pct},
            "samples": samples,
            "end_to_end": e2e,
            "per_layer": per_layer,
        }
        print(json.dumps(detail, sort_keys=True))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in chosen.items()},
        }

    def close(self) -> None:
        """Stop Spark and the JVM, and wait for every child to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        self.rss.close()
        deadline = time.time() + 30
        while host.descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in host.descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cqi_engine", "session.py")):
        print("perfbench: run from a source checkout: no cqi_engine/ here",
              file=sys.stderr)
        return 2
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"{args.workload}-{os.getpid()}")
    _confine(work)
    sys.path.insert(0, root)
    bench = Bench(workloads.WORKLOADS[args.workload](args.seed, work),
                  args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:     # another invocation is still using it
            pass
    print(json.dumps(result, sort_keys=True))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
