"""Self-tests of the benchmark: generators, stage arithmetic, output check.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import check  # noqa: E402
import gen  # noqa: E402
import stages  # noqa: E402


def _digest(root: str) -> dict:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("kind", ["flow", "proxy"])
def test_same_seed_same_files(tmp_path, kind):
    def make(out, seed):
        if kind == "flow":
            return gen.flow_day(str(out), seed, 3000, 200, 40, 5, 4)
        return gen.proxy_day(str(out), seed, 3000, 100, 60, 5, 4)

    a, b, c = (make(tmp_path / n, s) for n, s in (("a", 3), ("b", 3), ("c", 4)))
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert a == b
    assert a["records"] == 3000
    tiers = [p[0] for p in a["planted"]]
    assert tiers.count("loud") == 5 and tiers.count("quiet") == 4
    assert len({tuple(p[1:]) for p in a["planted"]}) == 9  # keys are distinct
    with open(tmp_path / "a" / "planted.json") as fh:
        assert json.load(fh) == json.loads(json.dumps(a))


def test_planted_rows_are_in_the_input_without_marks(tmp_path):
    import pyarrow.parquet as pq

    m = gen.flow_day(str(tmp_path), 5, 2000, 100, 20, 3, 3)
    t = pq.read_table(tmp_path / "day.parquet").to_pydict()
    keys = set(zip(t["sip"], t["dip"], t["sport"], t["dport"]))
    assert all(tuple(p[1:]) in keys for p in m["planted"])
    assert "loud" not in json.dumps(t) and "quiet" not in json.dumps(t)


def _stage(i, start, end, status="COMPLETE", tasks=4, task_ms=1000):
    return {"id": i, "status": status, "submitted_ms": start, "completed_ms": end,
            "tasks": tasks, "task_ms": task_ms, "cpu_ns": 5 * 10**8, "gc_ms": 10,
            "shuffle_write_bytes": 100, "spill_bytes": 7}


def test_union_ms_merges_overlaps_and_clips():
    assert stages.union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert stages.union_ms([(0, 10), (5, 20), (30, 40)], 8, 35) == 17
    assert stages.union_ms([], 0, 10) == 0
    assert stages.union_ms([(50, 60)], 0, 10) == 0


def test_span_metrics_driver_time_and_totals():
    st = [_stage(1, 1000, 3000), _stage(2, 2000, 4000), _stage(3, None, None, "SKIPPED", 0, 0),
          _stage(4, 7000, 8000)]
    m = stages.span_metrics(st, 0.0, 10_000.0, cores=4)
    assert m["wall_s"] == 10.0
    assert m["driver_s"] == pytest.approx(10.0 - 4.0)  # covered: 1-4 s and 7-8 s
    assert m["stages"] == 3 and m["planned"] == 4 and m["skipped"] == 1
    assert m["tasks"] == 12
    assert m["task_s"] == 3.0 and m["cpu_s"] == 1.5 and m["gc_s"] == 0.03
    assert m["core_util"] == pytest.approx(3.0 / (10.0 * 4))
    assert m["shuffle_write_bytes"] == 300 and m["spill_bytes"] == 21


class _Opt:
    def __init__(self, ms):
        self.ms = ms

    def isDefined(self):
        return self.ms is not None

    def get(self):
        return self

    def getTime(self):
        return self.ms


class _JStage:
    """Duck-typed v1.StageData as py4j returns it."""

    def __init__(self, d):
        self.d = d

    def __getattr__(self, name):
        d = self.d
        vals = {"stageId": d["id"], "status": _Str(d["status"]),
                "submissionTime": _Opt(d["submitted_ms"]),
                "completionTime": _Opt(d["completed_ms"]), "numTasks": d["tasks"],
                "executorRunTime": d["task_ms"], "executorCpuTime": d["cpu_ns"],
                "jvmGcTime": d["gc_ms"], "shuffleWriteBytes": d["shuffle_write_bytes"],
                "memoryBytesSpilled": d["spill_bytes"], "diskBytesSpilled": 0}
        return lambda: vals[name]


class _Str:
    def __init__(self, s):
        self.s = s

    def toString(self):
        return self.s


class _FakeLog(stages.StageLog):
    def __init__(self, store: list, high=-1):
        self.store = store
        self.high = high

    def _list(self):
        class Seq(list):
            def size(self):
                return len(self)

            def apply(self, i):
                return self[i]
        return Seq(_JStage(s) for s in reversed(self.store))


def test_stage_log_returns_only_new_stages():
    store = [_stage(0, 0, 1), _stage(1, 1, 2)]
    log = _FakeLog(store, high=0)
    assert [s["id"] for s in log.new_stages()] == [1]
    assert log.new_stages() == []
    store.append(_stage(2, 5, 6, "SKIPPED"))
    got = log.new_stages()
    assert [(s["id"], s["status"]) for s in got] == [(2, "SKIPPED")]


def test_tracer_attributes_stages_to_spans_and_gaps():
    store: list = []
    tracer = stages.Tracer(_FakeLog(store), cores=2)

    def layer(x):
        store.append(_stage(len(store), 0, 1))
        return x + 1

    def gap():
        store.append(_stage(len(store), 0, 1, "SKIPPED"))

    wrapped = tracer.wrap("a.b", layer, after=lambda out, x: {"a.rows": out})
    assert wrapped(1) == 2
    gap()
    assert wrapped(2) == 3
    assert tracer.spans["a.b"]["stages"] == 2
    assert tracer.counts == {"a.rows": 3}
    assert tracer.between and tracer.skipped_ratio() == pytest.approx(1 / 3)


def test_tracer_does_not_nest_spans():
    store: list = []
    tracer = stages.Tracer(_FakeLog(store), cores=1)
    inner = tracer.wrap("inner", lambda: store.append(_stage(len(store), 0, 1)))
    outer = tracer.wrap("outer", lambda: inner())
    outer()
    assert set(tracer.spans) == {"outer"}
    assert tracer.spans["outer"]["stages"] == 1


COLS = ["sip", "dip", "score"]
PLANTED = [["loud", "a", "b"], ["quiet", "c", "d"]]


def test_check_accepts_sorted_output_and_measures_recall():
    rows = [["a", "b", "1e-5"], ["x", "y", "0.5"], ["x", "z", "0.5"]]
    assert check.check(rows, COLS, 3, PLANTED, ["sip", "dip"]) == 0.5


@pytest.mark.parametrize("rows,why", [
    ([["a", "b", "0.2"], ["x", "y", "0.1"]], "below previous"),
    ([["a", "b", "1.5"]], "outside"),
    ([["a", "b", "-0.1"]], "outside"),
    ([["a", "b", "nan?"]], "not a number"),
    ([["a", "b", "0.1"]] * 4, "> K"),
    ([], "empty"),
    ([["a", "0.1"]], "fields"),
])
def test_check_rejects(rows, why):
    with pytest.raises(check.CheckFailed, match=why):
        check.check(rows, COLS, 3, PLANTED, ["sip", "dip"])


def test_read_tsv_parses_spark_part_files(tmp_path):
    (tmp_path / "part-00001-x.csv").write_text("c\td\t0.3\n")
    (tmp_path / "part-00000-x.csv").write_text('a\t"b\tq"\t0.1\n')
    (tmp_path / "_SUCCESS").write_text("")
    assert check.read_tsv(str(tmp_path)) == [["a", "b\tq", "0.1"], ["c", "d", "0.3"]]
    with pytest.raises(check.CheckFailed):
        check.read_tsv(str(tmp_path / "missing"))
