"""Per-layer metrics of a traced run: span self times joined with the
per-job metrics of the event log. Every name is reported on every
workload; a layer the workload bypasses reads 0.
"""

from __future__ import annotations

import sys

import eventlog
import nightly
import queries
from spans import covered, self_times

STAGES = ("ingest", "release", "dashboard", queries.CONSTRUCT, queries.EXEC)
SPARK_FIELDS = (
    ("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("python_worker_s", "s"),
    ("driver_idle_s", "s"),
)


def names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [(f"{layer}_s", "s") for layer in nightly.LAYER_NAMES]
    out += [("rules.validate_jobs", "count"),
            ("io.bronze.merge_jobs", "count"), ("io.bronze.bytes_written", "bytes"),
            ("io.bronze.rows_rewritten_per_row_changed", "ratio")]
    out += [(f"stage.{st}_s", "s") for st in STAGES]
    out += [(f"trace.{st}.unattributed_s", "s") for st in ("ingest", "release")]
    for q in queries.headline():
        out += [(f"query.{q}.construct_s", "s"), (f"query.{q}.exec_s", "s")]
    out += [(f"spark.{st}.{f}", u) for st in STAGES for f, u in SPARK_FIELDS]
    out += [("trace.wall_s", "s"), ("trace.overhead_s", "s")]
    return out


def per_layer(tracer, events_dir: str, expected: dict | None, n_iter: int, wall: float) -> dict:
    spans = tracer.spans
    jobs = eventlog.reduce_jobs(eventlog.read_events(events_dir))
    by_group: dict[str, list] = {}
    for j in jobs.values():
        by_group.setdefault(j.group, []).append(j)
    own = {s.sid: by_group.get(s.group, []) for s in spans}  # jobs run in the span itself
    selfs = self_times(spans)
    v = {name: 0.0 for name, _ in names()}

    def total(layer: str) -> float:
        return sum(selfs[s.sid] for s in spans if s.name == layer)

    for layer in nightly.LAYER_NAMES:
        v[f"{layer}_s"] = total(layer)
    v["rules.validate_jobs"] = sum(len(own[s.sid]) for s in spans if s.name == "rules.validate")
    v["io.bronze.merge_jobs"] = sum(len(own[s.sid]) for s in spans if s.name == "io.bronze.merge")
    bronze = [j for s in spans if s.name in nightly.BRONZE_WRITES for j in own[s.sid]]
    v["io.bronze.bytes_written"] = sum(j.out_bytes for j in bronze)
    if expected is not None:
        changed = sum(n for rc, n in expected["batches"].values() if rc == 0) * n_iter
        v["io.bronze.rows_rewritten_per_row_changed"] = (
            sum(j.out_records for j in bronze) / max(changed, 1))
    for q in queries.headline():
        v[f"query.{q}.construct_s"] = total(f"query.{q}.construct")
        v[f"query.{q}.exec_s"] = total(f"query.{q}.exec")

    v["trace.overhead_s"] = tracer.overhead_s
    for st in STAGES:
        members = [s for s in spans if s.stage == st]
        top = [s for s in members if s.parent is None]
        st_jobs = [j for s in members for j in own[s.sid]]
        wall_st = sum(s.t1 - s.t0 for s in top)
        busy = sum(covered(s.t0, s.t1, [(j.t0, j.t1) for j in st_jobs]) for s in top)
        v[f"stage.{st}_s"] = wall_st
        v[f"spark.{st}.jobs"] = len(st_jobs)
        v[f"spark.{st}.tasks"] = sum(j.tasks for j in st_jobs)
        v[f"spark.{st}.executor_cpu_s"] = sum(j.cpu_s for j in st_jobs)
        v[f"spark.{st}.gc_s"] = sum(j.gc_s for j in st_jobs)
        v[f"spark.{st}.shuffle_mb"] = sum(j.shuffle_bytes for j in st_jobs) / 1e6
        v[f"spark.{st}.spill_mb"] = sum(j.spill_bytes for j in st_jobs) / 1e6
        v[f"spark.{st}.python_worker_s"] = sum(j.python_s for j in st_jobs)
        v[f"spark.{st}.driver_idle_s"] = wall_st - busy
        if st in ("ingest", "release"):
            layered = sum(selfs[s.sid] for s in members if s.parent is not None)
            v[f"trace.{st}.unattributed_s"] = wall_st - layered
            if wall_st:
                print(f"reconcile {st}: wall {wall_st:.2f}s = layer self {layered:.2f}s"
                      f" + unattributed {wall_st - layered:.2f}s; jobs busy {busy:.2f}s,"
                      f" driver idle {wall_st - busy:.2f}s", file=sys.stderr)
    # sums over the measured iterations become per-iteration means
    units = dict(names())
    out = {k: (x / n_iter, units[k]) for k, x in v.items()}
    out["io.bronze.rows_rewritten_per_row_changed"] = (
        v["io.bronze.rows_rewritten_per_row_changed"], "ratio")
    out["trace.wall_s"] = (wall, "s")
    return out
