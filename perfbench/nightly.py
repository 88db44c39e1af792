"""The ``nightly_fresh`` workload: ``cli.cmd_nightly`` on an empty warehouse.

One iteration sweeps the seeded uploads (ingest every batch), builds the
consortium release and updates the dashboard. The stage functions
(``cmd_ingest``, ``cmd_release``, ``cmd_dashboard``) are always wrapped,
to time each operation and keep its return code; the traced run also
wraps the public functions of each layer in ``LAYERS``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

import genie_uploads
from spans import Target

STAGES = (
    ("genie_spark.cli", "cmd_ingest", "ingest"),
    ("genie_spark.cli", "cmd_release", "release"),
    ("genie_spark.cli", "cmd_dashboard", "dashboard"),
)

# (owner, attribute, layer); ``cli`` binds the bronze writers at import
# time, so they are patched on ``genie_spark.cli`` where it looks them up
LAYERS = (
    ("genie_spark.io.status", "prior_status", "io.status"),
    ("genie_spark.io.status", "record_status", "io.status"),
    ("genie_spark.rules.engine:RuleSet", "validate", "rules.validate"),
    ("genie_spark.cli", "merge_into_bronze", "io.bronze.merge"),
    ("genie_spark.cli", "rewrite_bronze", "io.bronze.rewrite"),
    ("genie_spark.release.pipeline", "run_release", "release.pipeline.build"),
    ("genie_spark.io.writers", "write_tsv", "io.writers.tsv"),
    ("genie_spark.io.writers", "write_cna_wide", "io.writers.cna_wide"),
    ("genie_spark.io.writers", "write_cbio_clinical", "io.writers.clinical"),
    ("genie_spark.io.writers", "write_cbio_clinical_split", "io.writers.clinical"),
    ("genie_spark.io.writers", "case_list_texts", "io.writers.case_lists"),
    ("genie_spark.io.writers", "case_list_alteration_texts", "io.writers.case_lists"),
    ("genie_spark.release.qc", "validate_release", "release.qc.validate"),
)
LAYER_NAMES = ("formats.read",) + tuple(dict.fromkeys(name for _, _, name in LAYERS))
BRONZE_WRITES = ("io.bronze.merge", "io.bronze.rewrite")


def make_inputs(work: str, seed: int) -> dict:
    return genie_uploads.write_uploads(os.path.join(work, "uploads"), seed)


def _batch(args, kwargs) -> str:
    ns = args[1]
    return genie_uploads.batch_key(ns.center, ns.paths)


def _targets(traced: bool) -> list[Target]:
    targets = [Target(owner, attr, stage, stage, True, _batch if stage == "ingest" else None)
               for owner, attr, stage in STAGES]
    if traced:
        from genie_spark.formats import FORMATS

        targets += [Target(fmt, "read", "formats.read") for fmt in FORMATS]
        targets += [Target(owner, attr, name) for owner, attr, name in LAYERS]
    return targets


def run_once(spark, tracer, work: str, i: int, traced: bool) -> dict:
    """One nightly into a fresh warehouse; returns its walls and outputs."""
    from genie_spark import cli

    out = {d: os.path.join(work, f"{d}{i}") for d in ("warehouse", "release", "dashboard")}
    captured = io.StringIO()
    error = None
    with tracer.patched(_targets(traced)), contextlib.redirect_stdout(captured):
        t0 = time.perf_counter()
        try:
            rc = cli.cmd_nightly(spark, argparse.Namespace(
                input_dir=os.path.join(work, "uploads"), warehouse=out["warehouse"],
                centers=None, output=out["release"], dashboard=out["dashboard"],
                version=f"BENCH{i}", study_id="genie_private", pad=10, force=False,
                prev_release=None,
            ))
        except Exception as exc:  # counted as failed operations, never fatal
            rc, error = None, f"{type(exc).__name__}: {exc}"
        wall = time.perf_counter() - t0
    sys.stderr.write(captured.getvalue())
    return {"wall": wall, "rc": rc, "error": error, "stdout": captured.getvalue(), **out}


def _ops(tracer, first_span: int) -> list:
    """Stage spans (ingest batches, release, dashboard) of one iteration."""
    stages = {s for _, _, s in STAGES}
    return [s for s in tracer.spans[first_span:] if s.name in stages]


def _release_rows(path: str) -> int:
    with open(path) as f:
        lines = [ln for ln in f if ln.strip() and not ln.startswith("#")]
    return max(0, len(lines) - 1)


def check(spark, tracer, first_span: int, result: dict, expected: dict) -> tuple[int, int, list]:
    """(attempted, failed, problems) for one iteration. Every ingest batch,
    the nightly's own rc, the release and the dashboard is one operation."""
    problems: list[str] = []
    ops = _ops(tracer, first_span)
    seen: dict[str, int] = {}
    for s in ops:
        if s.name == "ingest":
            seen[s.key] = s.result
    failed = 0
    for key, (rc, _) in expected["batches"].items():
        if seen.get(key) != rc:
            failed += 1
            problems.append(f"ingest {key}: rc {seen.get(key)}, expected {rc}")
    unexpected = set(seen) - set(expected["batches"])
    for key in unexpected:
        failed += 1
        problems.append(f"unexpected ingest batch {key}")
    if any(name in key for key in seen for name in expected["skipped"]):
        problems.append("an unrecognised file was ingested")  # an unexpected batch
    if result["error"] or result["rc"] != expected["nightly_rc"]:
        failed += 1
        problems.append(f"nightly rc {result['rc']} ({result['error']}), "
                        f"expected {expected['nightly_rc']}")
    rcs = {s.name: s.result for s in ops if s.name != "ingest"}
    release_ok = _check_release(spark, result, expected, problems)
    if rcs.get("release") != 0:
        problems.append(f"release rc {rcs.get('release')}")
        release_ok = False
    dash_ok = rcs.get("dashboard") == 0 and os.path.isdir(
        os.path.join(result["dashboard"], "sample_counts"))
    if not dash_ok:
        problems.append(f"dashboard rc {rcs.get('dashboard')}")
    failed += (not release_ok) + (not dash_ok)
    return len(expected["batches"]) + len(unexpected) + 3, failed, problems


def _check_release(spark, result: dict, expected: dict, problems: list) -> bool:
    ok = True
    qc = [json.loads(ln) for ln in result["stdout"].splitlines()
          if ln.startswith('{"release"')]
    if not qc or qc[-1].get("qc_errors") != 0:
        problems.append(f"release QC: {qc[-1] if qc else 'no summary line'}")
        ok = False
    for table, fname in (("clinical", "data_clinical.txt"),
                         ("maf", "data_mutations_extended.txt")):
        path = os.path.join(result["release"], fname)
        got = _release_rows(path) if os.path.exists(path) else None
        if got != expected["release"][table]:
            problems.append(f"release {table}: {got} rows, expected {expected['release'][table]}")
            ok = False
    status = os.path.join(result["warehouse"], "validation_status")
    invalid = genie_uploads.INVALID_CENTER
    rows = spark.read.parquet(status).where(
        f"center = '{invalid}' AND name LIKE 'data_mutations_extended%'"
    ).select("status").collect() if os.path.isdir(status) else []
    if [r[0] for r in rows] != ["INVALID"]:
        problems.append(f"status of the invalid upload: {[r[0] for r in rows]}")
        ok = False
    return ok
