"""Unit tests of the benchmark's own code; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import genie_uploads  # noqa: E402
import query_data  # noqa: E402
from spans import Span, Target, Tracer, covered, self_times, union_length  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_uploads_are_deterministic_per_seed(tmp_path):
    a = genie_uploads.write_uploads(str(tmp_path / "a"), 7)
    b = genie_uploads.write_uploads(str(tmp_path / "b"), 7)
    c = genie_uploads.write_uploads(str(tmp_path / "c"), 8)
    assert a == b
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert _tree(str(tmp_path / "a")) != _tree(str(tmp_path / "c"))
    assert set(a["batches"]) == set(c["batches"])  # same files, other contents


def test_uploads_plant_known_outcomes(tmp_path):
    exp = genie_uploads.write_uploads(str(tmp_path), 3)
    bad = genie_uploads.INVALID_CENTER
    assert exp["batches"][f"{bad}:data_mutations_extended_{bad}.txt"] == (1, 0)
    assert [k for k, (rc, _) in exp["batches"].items() if rc] == [
        f"{bad}:data_mutations_extended_{bad}.txt"]
    assert os.path.exists(tmp_path / bad / genie_uploads.UNRECOGNISED)
    assert not any(genie_uploads.UNRECOGNISED in k for k in exp["batches"])

    def rows(path):
        with open(path) as f:
            return [ln.rstrip("\n").split("\t") for ln in f][1:]

    big = genie_uploads.CENTERS[0][0]
    samples = {r[0] for r in rows(tmp_path / big / f"data_clinical_supp_sample_{big}.txt")}
    with open(tmp_path / big / "sampleRetraction.csv") as f:
        retracted = {ln.strip() for ln in f}
    assert retracted < samples
    assert exp["release"]["clinical"] == len(samples - retracted)
    maf = rows(tmp_path / big / f"data_mutations_extended_{big}.txt")
    off_panel = [r for r in maf if r[0] == genie_uploads.OFF_PANEL_CHROM]
    assert off_panel
    kept = [r for r in maf if r[0] != genie_uploads.OFF_PANEL_CHROM and r[5] not in retracted]
    assert exp["release"]["maf"] == len(kept)
    # no two calls of one sample closer than SLOT: nothing for the cis filter
    by_sample: dict = {}
    for r in maf:
        by_sample.setdefault((r[5], r[0]), []).append(int(r[1]))
    for pos in by_sample.values():
        pos.sort()
        assert all(b - a >= genie_uploads.SLOT for a, b in zip(pos, pos[1:]))


def test_query_tables_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    a = query_data.write_tables(str(tmp_path / "a"), 5)
    query_data.write_tables(str(tmp_path / "b"), 5)
    query_data.write_tables(str(tmp_path / "c"), 6)
    for name in a:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    differs = [not pq.read_table(tmp_path / "a" / f"{n}.parquet").equals(
        pq.read_table(tmp_path / "c" / f"{n}.parquet")) for n in ("lineitem", "documents")]
    assert all(differs)


def _span(sid, parent, t0, t1, name="x"):
    return Span(sid, name, "st", parent, t0, t1)


def test_union_and_covered():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert covered(1, 4, [(0, 2), (3, 10)]) == pytest.approx(2.0)
    assert covered(1, 4, [(5, 6)]) == 0


def test_self_time_is_span_minus_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: counted once
        _span(3, 1, 1.5, 2.0),
        _span(4, None, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(1.0)


@dataclasses.dataclass(frozen=True)
class _Fmt:
    read: object


def test_tracer_patches_and_restores():
    mod = types.ModuleType("fake_mod")

    class Rules:
        def validate(self, x):
            return fmt.read(x) + 1

    fmt = _Fmt(read=lambda x: x * 2)
    mod.Rules = Rules

    def cmd(x):
        return Rules().validate(x)

    mod.cmd = cmd
    original_validate, original_read = Rules.validate, fmt.read
    tracer = Tracer()
    targets = [
        Target(mod, "cmd", "stage.cmd", "cmd", True, lambda a, k: f"arg{a[0]}"),
        Target(Rules, "validate", "rules.validate"),
        Target(fmt, "read", "formats.read"),
    ]
    with tracer.patched(targets):
        assert mod.cmd(3) == 7
    assert Rules.validate is original_validate and fmt.read is original_read
    names = [(s.name, s.stage, s.parent) for s in tracer.spans]
    assert names == [("stage.cmd", "cmd", None), ("rules.validate", "cmd", 0),
                     ("formats.read", "cmd", 1)]
    assert tracer.spans[0].result == 7 and tracer.spans[0].key == "arg3"
    assert all(s.t1 >= s.t0 for s in tracer.spans)


def test_eventlog_reducer_on_recorded_log():
    jobs = eventlog.reduce_jobs(eventlog.read_events(os.path.join(HERE, "data")))
    assert sorted(jobs) == [0, 4, 7, 27, 28]
    assert {j: jobs[j].group for j in jobs} == {
        0: "pb1", 4: "pb3", 7: "pb3", 27: None, 28: None}
    j4 = jobs[4]
    assert j4.tasks == 4
    assert j4.t1 - j4.t0 == pytest.approx(2.712)
    assert j4.cpu_s == pytest.approx(0.746066201)
    assert j4.gc_s == pytest.approx(0.228)
    assert j4.shuffle_bytes == 29060
    assert j4.python_s == pytest.approx(16.169)  # start + initialize + run, ms
    assert jobs[0].python_s == 0 and jobs[0].tasks == 1
    assert sum(j.tasks for j in jobs.values()) == 14
