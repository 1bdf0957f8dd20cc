"""Pure helpers of the benchmark: statistics, output digests, the seeded
query order and process-tree CPU accounting.

Nothing here imports Spark, so ``perfbench/tests`` can check every helper
without a session.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import random
import statistics

# ---------------------------------------------------------------- statistics


def median(values):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def geomean(values):
    """Geometric mean of positive values; every value weighs the same."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


# ---------------------------------------------------------- seeded ordering


def pass_order(names, seed, pass_index):
    """The query order of one pass: a permutation of ``names`` that depends
    only on the seed and the pass index, so a run is repeatable and the
    order changes from pass to pass."""
    order = list(names)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


# ----------------------------------------------------------- output digests


def canon_cell(v):
    """One cell as a string that is equal for equal values from Spark and
    from DuckDB.

    Integers and integral doubles print alike (``3`` and ``3.0``), other
    doubles keep 12 significant digits so a last-bit difference between
    the engines' summation orders does not count, NaN and the infinities
    get fixed names, strings are JSON-quoted so a string ``"NULL"`` never
    equals a NULL, and nested values recurse."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return "%.12g" % v
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, dict):
        items = sorted((canon_cell(k), canon_cell(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return json.dumps(str(v))


def digest_rows(columns, rows):
    """Orderless digest of a result: columns are taken in name order and
    rows are sorted after canonicalisation, so neither column order nor
    row order changes the digest. Returns ``(sha256 hex, row count)``."""
    columns = list(columns)
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\t".join(canon_cell(row[i]) for i in idx) for row in rows
    )
    h = hashlib.sha256()
    h.update("\t".join(columns[i] for i in idx).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest(), len(lines)


# -------------------------------------------------- process-tree CPU time


def read_proc_table(proc="/proc"):
    """Every process visible in ``proc`` as ``{pid: (ppid, comm, cpu_ticks)}``
    where ``cpu_ticks`` is utime + stime + cutime + cstime.

    The children's fields hold what the kernel added when the process
    reaped a child, so a reaped child is counted in its parent and a live
    or zombie child in its own entry: summed over a tree, each process is
    counted exactly once."""
    table = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        table[int(name)] = parse_stat(stat)
    return table


def parse_stat(stat):
    """``(ppid, comm, cpu_ticks)`` from the text of a ``/proc/<pid>/stat``."""
    # comm is in parentheses and may itself hold spaces or parentheses
    lpar, rpar = stat.index("("), stat.rindex(")")
    comm = stat[lpar + 1 : rpar]
    fields = stat[rpar + 2 :].split()
    # fields[0] is field 3 (state); ppid is field 4, utime..cstime 14..17
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, comm, ticks


def tree_cpu(table, root, classify):
    """CPU ticks of ``root`` and all its descendants in ``table``, summed
    per class: ``classify(pid, comm, ancestors)`` names the class of one
    process, where ``ancestors`` lists its parents up to ``root``."""
    children = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    totals = {}
    stack = [(root, ())]
    while stack:
        pid, ancestors = stack.pop()
        if pid not in table:
            continue
        _, comm, ticks = table[pid]
        cls = classify(pid, comm, ancestors)
        totals[cls] = totals.get(cls, 0) + ticks
        for child in children.get(pid, ()):
            stack.append((child, ancestors + ((pid, comm),)))
    return totals


def spark_class(pid, comm, ancestors):
    """Class of a process under a PySpark driver: the JVM, the Python
    workers the JVM starts, or the driver itself (with any other helper
    it runs)."""
    if comm == "java":
        return "jvm"
    if any(c == "java" for _, c in ancestors):
        return "pyworker"
    return "driver"


def clock_ticks_per_second():
    return os.sysconf("SC_CLK_TCK")


def is_descendant(pid, root, table):
    """Whether ``pid`` descends from ``root`` in a process table."""
    seen = set()
    while pid in table and pid not in seen:
        seen.add(pid)
        pid = table[pid][0]
        if pid == root:
            return True
    return False


def _alive(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"  # a zombie has ended


def wait_gone(pids, timeout):
    """Wait until none of ``pids`` runs; kill what outlives ``timeout``
    and give the kill five more seconds."""
    import signal
    import time

    deadline = time.monotonic() + timeout
    killed = False
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _alive(p)]
        if alive and time.monotonic() > deadline:
            if killed:
                return alive
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 5
        if alive:
            time.sleep(0.05)
    return []
