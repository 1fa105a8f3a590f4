"""Fast checks of the benchmark's own arithmetic; no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import stats as st  # noqa: E402
from spans import Span, covered, self_time_by_name, self_times  # noqa: E402
from tests.oracle import _norm_cell  # noqa: E402


# ------------------------------------------------------ percentile rule

@pytest.mark.parametrize("n,expected", [
    (1000, 99), (999, 95), (200, 95), (199, 90), (100, 90), (99, 85),
    (74, 85), (40, 75), (39, None), (5, None)])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = st.tail_percentile(n)
    assert p == expected
    if p is not None:
        values = list(range(n))
        beyond = [v for v in values if v > st.percentile(values, p)]
        assert len(beyond) >= 10


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert st.percentile(values, 50) == 3.0
    assert st.percentile(values, 100) == 5.0
    assert st.percentile(values, 1) == 1.0


def test_geomean_weighs_every_op_by_its_ratio():
    assert st.geomean([10.0, 1000.0]) == pytest.approx(100.0)
    assert st.geomean([4.0]) == pytest.approx(4.0)
    # doubling one op moves the mean by the same factor wherever it sits
    assert (st.geomean([2.0, 100.0]) / st.geomean([1.0, 100.0])
            == pytest.approx(st.geomean([1.0, 200.0])
                             / st.geomean([1.0, 100.0])))


# ------------------------------------------------ digest normalization

def _digest(cols, rows):
    return st.digest(cols, rows, _norm_cell)


def test_digest_ignores_row_and_column_order():
    a = _digest(["k", "v"], [(1, "x"), (2, "y")])
    b = _digest(["v", "k"], [("y", 2), ("x", 1)])
    assert a == b


def test_digest_absorbs_last_bit_float_noise_only():
    base = _digest(["s"], [(0.1 + 0.2,)])
    assert base == _digest(["s"], [(0.3,)])
    assert base != _digest(["s"], [(0.3001,)])


def test_digest_normalizes_timestamps_nan_and_lists():
    naive = dt.datetime(2024, 1, 1, 12, 30)
    aware = naive.replace(tzinfo=dt.timezone.utc)
    assert _digest(["t"], [(naive,)]) == _digest(["t"], [(aware,)])
    nan = float("nan")
    assert _digest(["x"], [(nan,)]) == _digest(["x"], [(nan,)])
    assert (_digest(["a"], [([1.0, 2.0],)])
            == _digest(["a"], [((1.0, 2.0000000000001),)]))


def test_digest_sees_column_names_values_and_multiplicity():
    base = _digest(["k"], [(1,), (1,)])
    assert base != _digest(["j"], [(1,), (1,)])
    assert base != _digest(["k"], [(1,)])
    assert base != _digest(["k"], [(1,), (2,)])
    assert _digest(["k"], [(None,)]) != _digest(["k"], [("None",)])


# ------------------------------------------------------ seed determinism

def test_rotation_is_a_seeded_permutation():
    from workloads import rotation
    names = [f"q{i:02d}" for i in range(37)]
    r = rotation(names, 7, 0)
    assert sorted(r) == names
    assert r == rotation(names, 7, 0)
    assert r != rotation(names, 8, 0)
    assert r != rotation(names, 7, 1)


def _docs(n=60):
    rng = datagen.np.random.default_rng(0)
    return datagen.documents(0.0, rng).slice(0, n).to_pylist()


def test_epoch_files_are_seed_deterministic():
    docs = _docs()
    a = datagen.epoch_lines(docs, 3, 5)
    assert a == datagen.epoch_lines(docs, 3, 5)
    assert a != datagen.epoch_lines(docs, 3, 6)


def test_epochs_carry_every_doc_once_plus_the_malformed_lines():
    docs = _docs()
    epochs, n_bad = datagen.epoch_lines(docs, 3, 11)
    assert len(epochs) == 3 and all(epochs)
    parsed, bad = [], 0
    for lines in epochs:
        for line in lines:
            try:
                parsed.append(json.loads(line)["doc_id"])
            except json.JSONDecodeError:
                bad += 1
    assert bad == n_bad and 3 <= n_bad <= 9
    assert sorted(parsed) == [d["doc_id"] for d in docs]


def test_write_epochs_orders_files_by_mtime(tmp_path):
    epochs, _ = datagen.epoch_lines(_docs(), 3, 1)
    datagen.write_epochs(str(tmp_path), epochs)
    files = sorted(tmp_path.iterdir(), key=lambda p: p.stat().st_mtime)
    assert [p.name for p in files] == [f"epoch_{i:03d}.jsonl"
                                       for i in range(3)]


def test_generated_tables_are_seed_deterministic():
    a = datagen.tables(0.001, 3)
    assert a["lineitem"].equals(datagen.tables(0.001, 3)["lineitem"])
    assert not a["lineitem"].equals(datagen.tables(0.001, 4)["lineitem"])
    assert set(a) == set(datagen.TABLES)


# ---------------------------------------------------- self-time arithmetic

def test_covered_merges_overlaps_and_clips_to_parent():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 5)]) == 4
    assert covered((0, 10), [(-5, 2), (8, 20)]) == 4
    assert covered((0, 10), [(11, 12)]) == 0


def test_self_times_subtract_children_once():
    spans = [Span(0, "round", 0.0, 10.0, None, "r0"),
             Span(1, "workload.plan_build", 1.0, 3.0, 0, "op"),
             Span(2, "spark.exec", 3.0, 8.0, 0, "op"),
             Span(3, "bench.accounting", 4.0, 5.0, 2, "op")]
    st_ = self_times(spans)
    assert st_ == {0: 3.0, 1: 2.0, 2: 4.0, 3: 1.0}
    by_name = self_time_by_name(spans)
    # the layers' self times add up to the root's wall exactly
    assert sum(by_name.values()) == pytest.approx(10.0)


def test_concurrent_children_are_not_double_subtracted():
    spans = [Span(0, "streaming.query", 0.0, 10.0, None, None),
             Span(1, "streaming.epoch", 1.0, 6.0, 0, "e0"),
             Span(2, "streaming.epoch", 4.0, 7.0, 0, "e1")]
    assert self_times(spans)[0] == pytest.approx(4.0)


# ------------------------------------------------------- process tree CPU

def test_tree_cpu_counts_child_processes():
    import subprocess
    import proc
    before = proc.tree_cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass\n"
         "print('busy', flush=True)\ninput()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        assert child.stdout.readline() == b"busy\n"
        # this process only waited; the child, still alive, burnt 0.5 s
        assert child.pid in proc.descendants(proc.proc_table())
        assert proc.tree_cpu_s() - before >= 0.45
    finally:
        child.communicate(b"\n")
    assert child.pid not in proc.descendants(proc.proc_table())
