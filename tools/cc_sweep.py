"""Size the driver bound of ``operators/components.connected_components``.

    python tools/cc_sweep.py                     # 2^10 .. 2^21 edges
    python tools/cc_sweep.py --min-log2 14 --max-log2 16 --budget 30

    python tools/cc_sweep.py --min-log2 22 --max-log2 22 \
        --shapes random --settings driver    # memory: one size a process

Times ``connected_components`` on three graph shapes at 2^k distinct
edges, in one ``local[4]`` session built as the jobs build theirs
(8 GB driver heap unless ``SPARK_GRAFT_DRIVER_MEM`` says otherwise),
under four settings:

- ``default``: as shipped — the driver finish at or under the bound,
  CCF rounds down to the bound above it;
- ``driver``: every size finished on the driver (bound 2^62);
- ``rounds``: every size labelled by CCF rounds alone (bound -1);
- ``reference``: the CCF rounds with a per-round anti-join ``count()``
  kept in tests/reference/components.py.

Shapes: ``path`` (a chain whose minimum id sits at the far end, the
longest diameter), ``star`` (one hub above every leaf id, the largest
group) and ``random`` (2^k edges between uniform endpoints over 2^k
nodes). Each edge relation is built in Spark and localCheckpointed off
the clock; the timed region is the call plus a ``noop`` write of its
labels. A series (shape, setting) stops after the first size that
takes more than ``--budget`` seconds: CCF's intermediate relation on a
long chain grows roughly quadratically before it shrinks. Above the
bound ``default`` starts with those same rounds on the whole relation,
so it skips a shape whose ``rounds`` series has stopped; a sweep that
starts above the bound should leave ``path`` out. ``--repeat`` runs
each size that many times, cycling through the settings.

One JSON line per run on stdout: shape, log2 edges, setting, seconds,
the driver JVM's resident set just before the call, and the peak
resident set, in MB, of the driver JVM and of the Python driver
process during the run (each peak is reset to the current resident
set just before the call). The JVM keeps heap pages it has
touched, so its peak only means the run's own cost when the run is
the first large one in its process: measure memory one size a process.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

SETTINGS = {"default": None, "driver": 1 << 62, "rounds": -1,
            "reference": None}


def _reset_peak(pid: int) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _peak_mb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _edges(spark, shape: str, n: int):
    from pyspark.sql import functions as F

    i = F.col("id")
    if shape == "path":
        cols = (F.lit(n) - i, F.lit(n - 1) - i)
    elif shape == "star":
        cols = (F.lit(n), i)
    else:
        cols = (F.pmod(F.xxhash64(i, F.lit(1)), F.lit(n)),
                F.pmod(F.xxhash64(i, F.lit(2)), F.lit(n)))
    return spark.range(n).select(
        cols[0].alias("id_a"), cols[1].alias("id_b")
    ).localCheckpoint(eager=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--min-log2", type=int, default=10)
    ap.add_argument("--max-log2", type=int, default=21)
    ap.add_argument("--shapes", default="path,star,random")
    ap.add_argument("--settings", default="default,driver,rounds")
    ap.add_argument("--budget", type=float, default=60.0)
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()

    from pdf_to_text_extraction_service_spark.operators import components
    from pdf_to_text_extraction_service_spark.plans.session import (
        build_session,
    )
    from tests.reference.components import (
        connected_components as reference,
    )

    spark = build_session(app_name="cc-sweep", master="local[4]",
                          shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc.pid
    shipped = components.DRIVER_EDGES
    over = set()
    try:
        for k in range(args.min_log2, args.max_log2 + 1):
            for shape in args.shapes.split(","):
                edges = _edges(spark, shape, 1 << k)
                for setting in args.settings.split(",") * args.repeat:
                    if (shape, setting) in over or (
                            setting == "default" and (1 << k) > shipped
                            and (shape, "rounds") in over):
                        continue
                    bound = SETTINGS[setting]
                    components.DRIVER_EDGES = (
                        shipped if bound is None else bound)
                    label = (reference if setting == "reference"
                             else components.connected_components)
                    _reset_peak(jvm)
                    _reset_peak(os.getpid())
                    jvm_before = _peak_mb(jvm)
                    t0 = time.perf_counter()
                    label(edges).write.format("noop").mode(
                        "overwrite").save()
                    secs = time.perf_counter() - t0
                    if secs > args.budget:
                        over.add((shape, setting))
                    print(json.dumps({
                        "shape": shape, "log2_edges": k,
                        "setting": setting, "s": round(secs, 3),
                        "jvm_rss_before_mb": jvm_before,
                        "jvm_peak_rss_mb": _peak_mb(jvm),
                        "python_peak_rss_mb": _peak_mb(os.getpid()),
                    }), flush=True)
                edges.unpersist()
    finally:
        components.DRIVER_EDGES = shipped
        spark.stop()


if __name__ == "__main__":
    main()
