"""Job-level benchmark of the extraction engine.

    python3 perfbench/run.py --workload extract_crawl --seed 1 \
        --seconds 5 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. Each workload is a closed loop with one
client: one Python process runs the job back to back at ``local[4]``
for ``--seconds`` (at least MIN_REPS reps) and checks every output.
The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``:

- ``--trace 0``: the end-to-end metrics. ``setup_s`` is the median of
  three set-ups plus one warm-up. Each set-up is a fresh session and
  the input staged to parquet, timed from the stop of the one before;
  the JVM outlives the sessions, so only the first pays its launch.
  The warm-up is the first job rep of the last session, checked: it
  starts the Python workers and pays every first-run cost. ``wall_s``
  is the median job time of the timed reps, which start after a full
  GC, ``docs_per_s``
  input rows over ``wall_s``, and ``peak_rss_mb`` the median over reps
  of the highest summed RSS of driver, JVM and Python workers during a
  rep. ``failed / attempted`` is the share of output checks that
  failed; a rep that raises fails all its checks.
- ``--trace 1``: the per-layer metrics. Each layer's public function
  is timed on its input, materialized off the clock, under an
  in-memory span; spans go to ``.perfbench_work/trace-<workload>-
  <seed>.json`` with their self time. Metrics of layers that are not
  on the workload's path read 0.

``--smoke`` runs each workload once, traced and untraced, on small
inputs, and asserts that every metric named in ``BENCHMARK.json`` is
present and every check passes.

All files are written under ``.perfbench_work/`` in the working
directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

PACKAGE = "pdf_to_text_extraction_service_spark"
CPUS = 4
SETUPS = 3
MIN_REPS = 1
SCALES = {                 # workload -> (full input size, smoke size)
    "extract_crawl": (2000, 300),
    "neardup_clusters": (500, 200),
}
END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
              "peak_rss_mb": "MB"}
# per-layer metric -> (unit, workload whose path it is on, the
# end-to-end metrics it should move there)
_JOB = ("wall_s", "docs_per_s")
_EC, _ND = "extract_crawl", "neardup_clusters"
PER_LAYER = {
    "control.us_per_page": ("us", "every", ()),    # box-speed diagnostic
    "trace.coverage": ("ratio", "every", ()),
    "trace.overhead": ("ratio", "every", ()),
    "sources.scan_s": ("s", "every", _JOB),
    "plans.tune_arrow_batch_s": ("s", _EC, _JOB),
    "plans.arrow_batch_rows": ("count", _EC, _JOB),
    "operators.salt_s": ("s", _EC, _JOB),
    **{f"kernel.us_per_doc.{c}": ("us", _EC, _JOB) for c in (
        "html", "pdf", "docx", "xlsx", "pptx", "opendocument", "epub",
        "other")},
    "kernel.dispatch_us_per_doc": ("us", _EC, _JOB),
    "kernel.cpu_s": ("s", _EC, _JOB),
    "functions.extract_s": ("s", _EC, _JOB),
    "functions.boundary_s": ("s", _EC, _JOB + ("peak_rss_mb",)),
    "operators.dedup_latest_s": ("s", _EC, _JOB),
    "operators.dedup_rows_in": ("count", _EC, _JOB),
    "operators.dedup_rows_out": ("count", _EC, _JOB),
    "plans.useful_extract_ratio": ("ratio", _EC, _JOB),
    "plans.extract_pipeline_s": ("s", _EC, _JOB),
    "plans.scaling_eff_1to4": ("ratio", _EC, ()),  # diagnostic, no gate
    "jobs.sink_s": ("s", _EC, _JOB),
    "operators.minhash_lsh_pairs_s": ("s", _ND, _JOB),
    "operators.simhash_pairs_s": ("s", _ND, _JOB),
    "operators.connected_components_s": ("s", _ND, _JOB),
    "operators.minhash_pairs": ("count", _ND, _JOB),
    "operators.simhash_pairs": ("count", _ND, _JOB),
    "operators.cc_edges_in": ("count", _ND, _JOB),
    "operators.components": ("count", _ND, _JOB),
}


def _environment(root: str, work: str) -> None:
    """Process settings, before pyspark starts its JVM: the package
    importable by the Python workers, and every scratch file under the
    work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell")
    sys.path.insert(0, root)


def _session(master: str | None = None):
    from pdf_to_text_extraction_service_spark.plans.session import (
        build_session,
    )

    spark = build_session(app_name="perfbench", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _setup(wl, tag: str):
    """One set-up: a fresh session and the workload's inputs staged to
    parquet. Returns the session and the seconds taken."""
    t0 = time.perf_counter()
    spark = _session()
    wl.stage(spark, tag)
    return spark, time.perf_counter() - t0


def _collect_garbage(spark) -> None:
    """A full GC in the JVM and the driver, off the clock, so that the
    timed reps start from the same heap. Without it the JVM keeps what
    staging and the earlier sessions left, and its resident size at the
    start of the reps differs by hundreds of MB between runs."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _workload(name: str, seed: int, smoke: bool, work: str):
    n = SCALES[name][1 if smoke else 0]
    if name == "extract_crawl":
        from extract_crawl import ExtractCrawl
        return ExtractCrawl(seed, n, work)
    from neardup_clusters import NeardupClusters
    return NeardupClusters(seed, n, work)


class Checks:
    """Output checks counted across reps."""

    def __init__(self):
        self.attempted = self.failed = 0

    def rep(self, wl, spark, rep_dir: str, tracer=None) -> float:
        """Run and time one job rep, then check its output off the
        clock. Returns the job seconds. With a tracer the job runs
        under a ``jobs.<workload>`` span."""
        t0 = time.perf_counter()
        try:
            if tracer is None:
                wl.run(spark, rep_dir)
            else:
                with tracer.span(f"jobs.{wl.name}"):
                    wl.run(spark, rep_dir)
            dt = time.perf_counter() - t0
            results = wl.check(spark, rep_dir)
        except Exception:
            dt = time.perf_counter() - t0
            traceback.print_exc()
            results = [("rep_raised", False)]
        for name, ok in results:
            self.attempted += 1
            if not ok:
                self.failed += 1
                print(f"perfbench: {wl.name} check failed: {name}",
                      file=sys.stderr)
        shutil.rmtree(rep_dir, ignore_errors=True)
        return dt


def run_untraced(wl, seconds: float, work: str):
    from probe import RssSampler

    wl.reference()
    checks = Checks()
    setups = []
    for i in range(SETUPS):
        spark, dt = _setup(wl, f"s{i}")
        setups.append(dt)
        if i < SETUPS - 1:
            spark.stop()
    try:
        warmup = checks.rep(wl, spark, f"{work}/warmup")
        _collect_garbage(spark)
        walls, peaks = [], []
        t_end = time.perf_counter() + seconds
        while len(walls) < MIN_REPS or time.perf_counter() < t_end:
            sampler = RssSampler().start()
            walls.append(checks.rep(wl, spark, f"{work}/rep{len(walls)}"))
            peaks.append(sampler.stop())
    finally:
        spark.stop()
    wall = statistics.median(walls)
    metrics = {"setup_s": statistics.median(setups) + warmup,
               "wall_s": wall,
               "docs_per_s": wl.input_rows / wall,
               "peak_rss_mb": statistics.median(peaks)}
    info = {"setups_s": setups, "warmup_s": warmup, "walls_s": walls,
            "peaks_mb": peaks}
    return checks, metrics, info


def run_traced(wl, work: str):
    from probe import Tracer

    tracer = Tracer()
    wl.reference()
    checks = Checks()
    with tracer.span("setup"):
        spark, _ = _setup(wl, "s0")
        checks.rep(wl, spark, f"{work}/warmup")
    try:
        _collect_garbage(spark)
        # untraced and traced reps in ABBA order, so a JIT still warming
        # up or a drifting box favours neither side
        untraced, traced = [], []
        for i, mode in enumerate("uttu"):
            if mode == "u":
                untraced.append(checks.rep(wl, spark, f"{work}/u{i}"))
            else:
                traced.append(checks.rep(wl, spark, f"{work}/t{i}", tracer))
        untraced = statistics.median(untraced)
        traced = statistics.median(traced)
        with tracer.span("sweep"):
            metrics = wl.sweep(spark, tracer, untraced)
        metrics["trace.coverage"] = tracer.covered_seconds() / untraced
        metrics["trace.overhead"] = traced / untraced - 1
        if hasattr(wl, "pipeline_seconds"):
            # BASELINE's N -> 4N scaling check on the same input:
            # extract_pipeline docs/s at local[4] / (4 x at local[1])
            hi = wl.pipeline_seconds(spark, tracer, "scaling.local4")
            spark.stop()
            spark = _session("local[1]")
            wl.pipeline_seconds(spark, tracer, "scaling.local1.prime")
            lo = wl.pipeline_seconds(spark, tracer, "scaling.local1")
            metrics["plans.scaling_eff_1to4"] = lo / (CPUS * hi)
    finally:
        spark.stop()
    return checks, metrics, tracer


def measure(name: str, seed: int, seconds: float, trace: bool,
            smoke: bool, work: str) -> dict:
    from probe import control_us_per_page

    control = control_us_per_page()
    wl = _workload(name, seed, smoke, work)
    if trace:
        checks, metrics, tracer = run_traced(wl, work)
        metrics["control.us_per_page"] = control
        metrics = {k: float(metrics.get(k, 0.0)) for k in PER_LAYER}
        tracer.dump(os.path.join(os.path.dirname(work),
                                 f"trace-{name}-{seed}.json"),
                    {"workload": name, "seed": seed, "metrics": metrics,
                     "moves": {k: {"workload": w, "end_to_end": list(e)}
                               for k, (_, w, e) in PER_LAYER.items()}})
        units = {k: v[0] for k, v in PER_LAYER.items()}
    else:
        checks, metrics, info = run_untraced(wl, seconds, work)
        units = END_TO_END
        error_rate = checks.failed / checks.attempted
        print(f"perfbench {name} seed={seed}: "
              + " ".join(f"{k}={v:.4f}{END_TO_END[k]}"
                         for k, v in metrics.items())
              + f" error_rate={error_rate:.4f}"
              f" control_us_per_page={control:.1f}"
              f" setups_s={[round(x, 2) for x in info['setups_s']]}"
              f" warmup_s={info['warmup_s']:.2f}"
              f" walls_s={[round(x, 2) for x in info['walls_s']]}"
              f" peaks_mb={[round(x) for x in info['peaks_mb']]}",
              flush=True)
    return {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }


def smoke(root: str, work: str) -> int:
    """Every workload once, traced and untraced, on small inputs; every
    metric BENCHMARK.json names must be present and every check pass.
    Also pins the benchmark's fast minhash truth to the all-pairs
    DuckDB oracle."""
    from gen import documents
    from neardup_clusters import oracle_pairs

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    docs = documents(150, 7)
    if oracle_pairs(docs)[0] != oracle_pairs(docs, full=True)[0]:
        print("smoke: minhash truth differs from the oracle")
        ok = False
    for w in spec["workloads"]:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            res = measure(w["name"], 7, 1, trace, True,
                          os.path.join(work, f"{w['name']}-{trace}"))
            want = {m["name"] for m in spec[key]}
            if set(res["metrics"]) != want or not res["correct"]:
                print(f"smoke: {w['name']} trace={int(trace)} failed: "
                      f"missing={sorted(want - set(res['metrics']))} "
                      f"correct={res['correct']}")
                ok = False
    print("smoke ok" if ok else "smoke FAILED")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and args.workload is None:
        ap.error("--workload is required")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work",
                        "smoke" if args.smoke else
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(root, work)
    try:
        if args.smoke:
            return smoke(root, work)
        result = measure(args.workload, args.seed, args.seconds,
                         bool(args.trace), False, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
