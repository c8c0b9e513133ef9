"""The benchmark's own smoke tests.

Run from the repository root: ``python3 -m pytest perfbench -q``. The
end-to-end test runs one traced ``etl_pipeline`` run (about a minute);
the rest need no Spark.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import steady  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402
from workloads import AnalystSession  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
               for n in names if os.path.isfile(os.path.join(a, n)))


def test_same_seed_generates_same_inputs(tmp_path):
    for seed, sub in ((3, "a"), (3, "b"), (4, "c")):
        gen.make_tables(str(tmp_path / sub), seed, 0.001)
        gen.make_csv_shards(str(tmp_path / sub / "csv"), seed, 2, 500)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert _same_tree(str(tmp_path / "a" / "csv"), str(tmp_path / "b" / "csv"))
    assert not filecmp.cmp(tmp_path / "a" / "lineitem.parquet",
                           tmp_path / "c" / "lineitem.parquet", shallow=False)


def test_generated_row_counts_follow_scale(tmp_path):
    rows = gen.make_tables(str(tmp_path), 1, 0.001)
    assert rows["lineitem"] == 6_000
    assert rows["orders"] == 1_500
    assert rows["documents"] == 500


def _span(i, name, parent, start, end):
    return Span(id=i, name=name, parent=parent, op="o", start=start, end=end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "pass", None, 0.0, 10.0),
        _span(1, "op", 0, 1.0, 3.0),
        _span(2, "op", 0, 2.0, 5.0),    # overlaps the first op
        _span(3, "op", 0, 7.0, 8.0),
        _span(4, "exec", 3, 7.25, 7.75),
        _span(5, "exec", 0, 9.5, 11.0),  # runs past its parent's end
    ]
    got = self_times(spans)
    # covered: [1,5] + [7,8] + [9.5,10] = 5.5
    assert got["pass"] == pytest.approx(10.0 - 5.5)
    # ops: 2 + 3 + (1 - 0.5); exec leaves keep their whole duration
    assert got["op"] == pytest.approx(2.0 + 3.0 + 0.5)
    assert got["exec"] == pytest.approx(0.5 + 1.5)


def test_tracer_records_parents_and_op_ids():
    t = Tracer(True)
    with t.span("pass", op="p0"):
        with t.span("op", op="p0.k"):
            with t.span("exec"):
                pass
    names = [(s.name, s.parent, s.op) for s in t.spans]
    assert names == [("pass", None, "p0"), ("op", 0, "p0.k"), ("exec", 1, "p0.k")]
    assert all(s.end >= s.start for s in t.spans)
    off = Tracer(False)
    with off.span("pass"):
        pass
    assert off.spans == []


def test_each_pass_reads_the_data_under_a_name_of_its_own(tmp_path):
    """Session memos are keyed by the data directory name: each pass
    must bring a fresh one, all pointing at the same files."""
    wl = AnalystSession(SimpleNamespace(work_dir=str(tmp_path)))
    os.makedirs(wl.data_dir())
    dirs = [wl.pass_dir(i) for i in (-1, 0, 1, 1)]
    assert len(set(dirs)) == 3
    assert {os.path.realpath(d) for d in dirs} == {os.path.realpath(wl.data_dir())}


def test_action_gmean_weighs_every_operation():
    assert run._gmean([1.0, 4.0]) == pytest.approx(2.0)
    # a failed pipeline records 0 s; its failure is counted elsewhere
    assert run._gmean([1.0, 4.0, 0.0]) == pytest.approx(2.0)
    assert run._gmean([]) == 0.0


def test_compare_refuses_different_stamps(tmp_path):
    def result_file(name, nproc):
        stamp = {"nproc": nproc, "master": "local[2]", "default_parallelism": 2,
                 "spark": "4", "python": "3"}
        path = tmp_path / name
        path.write_text(json.dumps({"summary": {}, "runs": [{"stamp": stamp}]}))
        return str(path)

    assert steady.compare(result_file("a", 4), result_file("b", 4)) == 0
    assert steady.compare(result_file("a", 4), result_file("c", 8)) == 2


def test_every_metric_printed_with_its_unit():
    """One traced etl_pipeline run prints every end-to-end metric line
    and, as its last line, every per-layer metric with its unit."""
    spec = _spec()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "etl_pipeline",
         "--seed", "1", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    printed = {
        line.split()[1]: line.split()[3] for line in lines if line.startswith("metric ")
    }
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert printed.get(m["name"]) == m["unit"], m["name"]
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert set(last["metrics"]) == {m["name"] for m in spec["per_layer"]}
    for m in spec["per_layer"]:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]
    assert last["metrics"]["typedetect.jobs"]["value"] > 0
