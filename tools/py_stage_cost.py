"""What one Python stage costs beyond its work: a trivial ``mapInArrow``
stage against a JVM projection over the same rows, at 1, 4 and 16 tasks,
with Spark's own per-stage Python-worker metrics read from the event log.

    python tools/py_stage_cost.py

The stages run on ``MASTER`` over ``ROWS`` rows. Every stage runs once to
warm the workers, then ``REPS`` times, the stages interleaved. For each
(kind, tasks) it prints one JSON line with the medians over the reps:

- ``wall_s``: ``collect()`` as the driver times it;
- ``stage_s``: the stage's submission to completion, from the event log;
- ``task_run_ms``: the tasks' summed ``executorRunTime``;
- for Python stages, Spark's SQL metrics summed over the tasks:
  ``start_ms`` (``time to start Python workers``), ``init_ms`` (``time to
  initialize Python workers``), ``run_ms`` (``time to run Python
  workers``), ``sent_bytes`` and ``returned_bytes`` (data sent to and
  returned from Python);
- for Python stages, the tasks' summed split by the function's own clock:
  ``launch_to_fn_ms`` from the task's launch to the function's first
  line, ``fn_ms`` inside the function, ``fn_to_finish_ms`` from its last
  line to the task's end.

A reused worker starts its clock for ``start_ms`` and ``init_ms`` when
it finishes the task before, so on reused workers they count the idle
time between tasks (``start_ms`` is then 0 or negative and ``init_ms``
can exceed the task); ``run_ms`` runs from the JVM's task start to the
function's end and is comparable across tasks.

The event log is written uncompressed and unrolled to a temporary
directory; the session is the package's
``build_session``, so the stages run the same workers every job does.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MASTER = "local[4]"
ROWS = 40
REPS = 5
TASKS = (1, 4, 16)
PYTHON_METRICS = {
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "returned_bytes",
}


def _clocked(batches):
    """The trivial Python pass: one row per task, the partition and the
    epoch milliseconds of the function's first and last line."""
    import pyarrow as pa
    from pyspark import TaskContext

    t_in = time.time() * 1e3
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pylist([{
        "part": TaskContext.get().partitionId(), "t_in": t_in,
        "t_out": time.time() * 1e3}])


def _stage(spark, kind: str, tasks: int):
    df = spark.range(0, ROWS, 1, tasks)
    if kind == "python":
        return df.mapInArrow(_clocked, "part long, t_in double, t_out double")
    return df.selectExpr("id + 1 AS id")


def _read_log(path: str) -> dict[str, dict]:
    """Per job group (one job each): the stage span, the tasks' summed
    run time, the Python metrics, and each task's launch and finish
    time by partition."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = e["Properties"].get("spark.jobGroup.id")
                if group:
                    out[group] = {"stage_s": 0.0, "task_run_ms": 0,
                                  "tasks": {}}
                    for s in e["Stage IDs"]:
                        stage_group[s] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                if group is not None:
                    info = e["Task Info"]
                    out[group]["tasks"][info["Index"]] = (
                        info["Launch Time"], info["Finish Time"])
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is None or "Completion Time" not in info:
                    continue
                row = out[group]
                row["stage_s"] += (info["Completion Time"]
                                   - info["Submission Time"]) / 1e3
                for acc in info["Accumulables"]:
                    name = acc.get("Name")
                    key = PYTHON_METRICS.get(name)
                    if name == "internal.metrics.executorRunTime":
                        key = "task_run_ms"
                    if key:
                        row[key] = row.get(key, 0) + int(acc["Value"])
    return out


def main() -> None:
    event_dir = tempfile.mkdtemp(prefix="py_stage_cost_")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{event_dir} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    from pdf_to_text_extraction_service_spark.plans.session import (
        build_session,
    )

    spark = build_session(app_name="py_stage_cost", master=MASTER)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    labels = [(kind, n) for n in TASKS for kind in ("jvm", "python")]
    for kind, n in labels:
        _stage(spark, kind, n).collect()
    runs: dict[str, tuple[float, list]] = {}
    for rep in range(REPS):
        for kind, n in labels:
            group = f"{kind}-{n}-{rep}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            rows = _stage(spark, kind, n).collect()
            runs[group] = (time.perf_counter() - t0, rows)
    sc.setLocalProperty("spark.jobGroup.id", None)
    app_id = sc.applicationId
    spark.stop()

    (log,) = glob.glob(os.path.join(event_dir, f"{app_id}*"))
    jobs = _read_log(log)
    for kind, n in labels:
        reps = []
        for rep in range(REPS):
            group = f"{kind}-{n}-{rep}"
            wall, rows = runs[group]
            job = jobs[group]
            rec = {"wall_s": wall, "stage_s": job["stage_s"],
                   "task_run_ms": job["task_run_ms"]}
            if kind == "python":
                rec.update({key: job.get(key, 0)
                            for key in PYTHON_METRICS.values()})
                spans = [(job["tasks"][r.part], r.t_in, r.t_out)
                         for r in rows]
                rec["launch_to_fn_ms"] = sum(t_in - launch for
                                             (launch, _), t_in, _ in spans)
                rec["fn_ms"] = sum(t_out - t_in for _, t_in, t_out in spans)
                rec["fn_to_finish_ms"] = sum(finish - t_out for
                                             (_, finish), _, t_out in spans)
            reps.append(rec)
        row = {"kind": kind, "tasks": n, "rows": ROWS}
        row.update({key: round(statistics.median(r[key] for r in reps), 4)
                    for key in reps[0]})
        print(json.dumps(row))
    print(json.dumps({"event_log": log}))


if __name__ == "__main__":
    main()
