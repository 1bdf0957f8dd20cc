"""Tests of the benchmark's pure helpers: python3 -m pytest perfbench/tests"""

import decimal
import os
import subprocess
import sys
import time

import pytest

import helpers

# ------------------------------------------------------------------ digests


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 2.5), (2, "b", None), (3, "c", float("nan"))]
    d1 = helpers.digest_rows(["k", "s", "x"], rows)
    d2 = helpers.digest_rows(["x", "k", "s"], [(r[2], r[0], r[1]) for r in reversed(rows)])
    assert d1 == d2
    assert d1[1] == 3


def test_digest_canonicalizes_nan_null_and_numbers():
    assert helpers.canon_cell(float("nan")) == "NaN"
    assert helpers.canon_cell(float("-inf")) == "-Inf"
    assert helpers.canon_cell(None) == "NULL"
    # a NULL is not the string "NULL", nor an empty string
    assert len({helpers.canon_cell(v) for v in (None, "NULL", "")}) == 3
    # an engine's BIGINT and the other's integral DOUBLE are the same value
    assert helpers.canon_cell(3) == helpers.canon_cell(3.0) == "3"
    assert helpers.canon_cell(-0.0) == helpers.canon_cell(0)
    assert helpers.canon_cell(decimal.Decimal("2.5")) == helpers.canon_cell(2.5)
    # summation-order noise in the last bits does not change the digest
    a = 0.1 + 0.2 + 0.3
    b = 0.3 + 0.2 + 0.1
    assert a != b and helpers.canon_cell(a) == helpers.canon_cell(b)
    assert helpers.canon_cell(True) == "true"
    assert helpers.canon_cell([1, None, "x"]) == '[1,NULL,"x"]'


def test_digest_distinguishes_values_and_nulls():
    base = helpers.digest_rows(["a"], [(1,), (None,)])
    assert base != helpers.digest_rows(["a"], [(1,), ("NULL",)])
    assert base != helpers.digest_rows(["a"], [(1,), (1,)])
    assert base != helpers.digest_rows(["b"], [(1,), (None,)])
    # NaN equals NaN after canonicalisation, so NaN rows digest alike
    nan = helpers.digest_rows(["a"], [(float("nan"),)])
    assert nan == helpers.digest_rows(["a"], [(float("nan"),)])
    assert nan != helpers.digest_rows(["a"], [(None,)])
    assert helpers.digest_rows(["a"], [])[1] == 0


# --------------------------------------------------------------- statistics


def test_median_and_geomean():
    assert helpers.median([3.0, 1.0, 2.0]) == 2.0
    assert helpers.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert helpers.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert helpers.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        helpers.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        helpers.median([])


# ---------------------------------------------------------- seeded ordering


def test_pass_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(12)]
    a = helpers.pass_order(names, seed=7, pass_index=3)
    assert sorted(a) == sorted(names)
    assert a == helpers.pass_order(names, seed=7, pass_index=3)
    assert a != helpers.pass_order(names, seed=8, pass_index=3)
    assert a != helpers.pass_order(names, seed=7, pass_index=4)
    assert names == [f"q{i}" for i in range(12)]  # input left alone


# ------------------------------------------------------- process-tree CPU


def _stat(pid, comm, ppid, utime, stime=0, cutime=0, cstime=0):
    rest = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 30
    return f"{pid} ({comm}) " + " ".join(map(str, rest))


def test_parse_stat_handles_odd_comm():
    ppid, comm, ticks = helpers.parse_stat(_stat(9, "a (b) c", 4, 5, 6, 7, 8))
    assert (ppid, comm, ticks) == (4, "a (b) c", 26)


def test_tree_cpu_counts_reaped_children_once():
    # driver 10 -> java 11 -> python daemon 12 -> worker 13; 99 is foreign
    live = {
        10: (1, "python3", 100),
        11: (10, "java", 500),
        12: (11, "python3", 20),
        13: (12, "python3", 30),
        99: (1, "java", 7000),
    }
    got = helpers.tree_cpu(live, 10, helpers.spark_class)
    assert got == {"driver": 100, "jvm": 500, "pyworker": 50}
    # the daemon reaps the worker: the worker's ticks move into the
    # daemon's children fields, and the totals do not change
    reaped = dict(live)
    del reaped[13]
    reaped[12] = (11, "python3", 20 + 30)
    assert helpers.tree_cpu(reaped, 10, helpers.spark_class) == got


def test_tree_cpu_of_a_real_child_before_and_after_reaping():
    hz = helpers.clock_ticks_per_second()
    me = os.getpid()

    def total():
        return sum(helpers.tree_cpu(helpers.read_proc_table(), me, helpers.spark_class).values())

    before = total()
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt=time.process_time()\nwhile time.process_time()-t<0.4: pass"]
    )
    # wait for the child to end without reaping it: it stays a zombie
    while helpers._alive(child.pid):
        time.sleep(0.02)
    as_zombie = total()
    child.wait()  # reap: its ticks move into our children fields
    after_reap = total()
    assert as_zombie - before >= 0.3 * hz
    assert 0 <= after_reap - as_zombie <= 0.05 * hz + 2


def test_wait_gone_returns_once_processes_end():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(0.2)"])
    assert helpers.wait_gone([child.pid], timeout=10) == []
    child.wait()
