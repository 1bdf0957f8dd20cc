"""The persisted-table store (``gdp_etl_spark.io``): every persisted
serving table — exact-dedup and MinHash indexes, IVF/PQ indexes, NDV
and histogram sketches — goes through one create, append, stamp and
compaction-swap protocol.  These tests pin the protocol's safety steps
on every kind, from tiny in-memory frames."""

from __future__ import annotations

import glob
import shutil

import pytest

import gdp_etl_spark.io as store
import gdp_etl_spark.operators.ann_index as ai
import gdp_etl_spark.operators.dedup as dd
import gdp_etl_spark.operators.sketches as sk
from gdp_etl_spark.io import read_stamp


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"document number {i} with a few shared words") for i in range(8)],
        "doc_id long, text string",
    )


def _vecs(spark):
    return spark.createDataFrame(
        [(i, [((i * 7 + j) % 5) / 5.0 - 0.4 for j in range(4)])
         for i in range(16)],
        "vec_id bigint, embedding array<double>",
    )


def _nums(spark):
    return spark.createDataFrame(
        [(i % 3, i * 7 % 23) for i in range(40)], "g int, v bigint"
    )


def _drop_all(spark, table):
    """Drop ``table`` and every companion, tmp and ``__old`` name."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in spark.catalog.listTables():
        if t.name.startswith(table):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    for path in glob.glob(f"{wh}/{table}*"):
        shutil.rmtree(path, ignore_errors=True)


def _rows(spark, table):
    spark.catalog.refreshTable(table)
    return sorted(tuple(r) for r in spark.table(table).collect())


#: kind -> (build, compact, stamp prefix); the exact-dedup index has
#: no stamp, so its prefix matches nothing
KINDS = {
    "dedup": (
        lambda s, t: dd.write_dedup_index(_docs(s), "text", t, n_buckets=2),
        dd.compact_dedup_index,
        "dedup.",
    ),
    "minhash": (
        lambda s, t: dd.write_minhash_index(
            _docs(s), "text", "doc_id", t, num_perm=8, bands=4, n_buckets=2
        ),
        dd.compact_minhash_index,
        "minhash.",
    ),
    "ivf": (
        lambda s, t: ai.write_ivf_index(
            _vecs(s), t, num_centroids=2, n_iter=1, num_buckets=2
        ),
        ai.compact_ivf_index,
        "ivf.",
    ),
    "pq": (
        lambda s, t: ai.write_pq_index(
            _vecs(s), t, m=2, k_codes=2, n_iter=1, dim=4, num_buckets=2
        ),
        ai.compact_pq_index,
        "pq.",
    ),
    "ndv": (
        lambda s, t: sk.write_ndv_sketch(_nums(s), ["g"], "v", t, p=4),
        sk.compact_ndv_sketch,
        "ndv.",
    ),
    "hist": (
        lambda s, t: sk.write_hist_sketch(_nums(s), ["g"], "v", t, 5.0),
        sk.compact_hist_sketch,
        "hist.",
    ),
}


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_compaction_heals_crash_between_renames(spark, kind):
    """A kill between 'live -> __old' and '__compacting -> live' leaves
    no table under the live name; the kind's next compaction restores
    ``__old`` before anything reads the table (its own stamp read
    included) and completes with the same contents and stamp."""
    build, compact, prefix = KINDS[kind]
    table = f"t_store_heal_{kind}"
    _drop_all(spark, table)
    try:
        build(spark, table)
        before = _rows(spark, table)
        stamp = read_stamp(spark, table, prefix)
        assert bool(stamp) == (kind != "dedup")
        spark.sql(f"ALTER TABLE {table} RENAME TO {table}__old")
        assert not spark.catalog.tableExists(table)

        compact(spark, table)
        assert spark.catalog.tableExists(table)
        assert not spark.catalog.tableExists(f"{table}__old")
        assert _rows(spark, table) == before
        assert read_stamp(spark, table, prefix) == stamp
    finally:
        _drop_all(spark, table)


@pytest.mark.parametrize("kind", ["ivf", "minhash", "ndv"])
def test_failed_stamp_leaves_no_live_table(spark, monkeypatch, kind):
    """The stamp is written on the tmp table before its rename, so a
    failing stamp write leaves no live table at all — never a live
    table without its stamp (which MinHash would read as a legacy
    index and leave unchecked) — and a retry succeeds."""
    build, _, prefix = KINDS[kind]
    table = f"t_store_stampfail_{kind}"
    _drop_all(spark, table)

    def fail(*args, **kwargs):
        raise RuntimeError("stamp write failed")

    try:
        monkeypatch.setattr(store, "write_stamp", fail)
        with pytest.raises(RuntimeError, match="stamp write failed"):
            build(spark, table)
        assert not spark.catalog.tableExists(table)
        monkeypatch.undo()
        build(spark, table)
        assert read_stamp(spark, table, prefix)
    finally:
        _drop_all(spark, table)


def test_compaction_tripwire_catches_racing_index_append(spark, monkeypatch):
    """An append that lands while ``compact_dedup_index`` rewrites the
    index changes the live row count; the swap must raise instead of
    dropping the appended hash with ``__old``, and the live index
    keeps it."""
    from gdp_etl_spark.operators.dedup import (
        append_to_dedup_index,
        compact_dedup_index,
        dedup_against_index,
    )

    table = "t_store_race_dedup"
    _drop_all(spark, table)
    late = spark.createDataFrame(
        [(99, "a late document")], "doc_id long, text string"
    )
    try:
        dd.write_dedup_index(_docs(spark), "text", table, n_buckets=2)
        orig = dd.compact_table
        state = {"raced": False}

        def race(spark_, tbl, fold, **kw):
            def racing_fold(df):
                if not state["raced"]:
                    state["raced"] = True
                    # a second writer appends while the rewrite runs
                    append_to_dedup_index(late, "text", tbl)
                return fold(df)
            return orig(spark_, tbl, racing_fold, **kw)

        monkeypatch.setattr(dd, "compact_table", race)
        with pytest.raises(RuntimeError, match="changed during compaction"):
            compact_dedup_index(spark, table)
        monkeypatch.setattr(dd, "compact_table", orig)
        assert not spark.catalog.tableExists(f"{table}__compacting")
        # the raced append survived: the late text is now a duplicate
        assert dedup_against_index(
            spark, late, "text", "doc_id", table
        ).count() == 0
        # a quiet compaction then completes
        compact_dedup_index(spark, table)
        assert len(_rows(spark, table)) == 9
    finally:
        _drop_all(spark, table)


def test_stamp_round_trips_quotes_and_backslashes(spark):
    """Stamp values are escaped for the SQL string literal: a quote or
    a backslash in a column name is stored verbatim, not altered."""
    table = "t_store_stamp_escape"
    _drop_all(spark, table)
    try:
        store.create_table(_nums(spark), table)
        props = {"x.quote": "it's", "x.backslash": "a\\b\\'c"}
        store.write_stamp(spark, table, props)
        assert read_stamp(spark, table, "x.") == props
    finally:
        _drop_all(spark, table)
