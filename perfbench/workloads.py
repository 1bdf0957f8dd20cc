"""The benchmark's workloads: which registered queries each runs, and the
sink each query's result goes to.

Every list is a trimmed subset of the queries the workload's description
names, so that a warm pass stays within about six seconds on ``local[4]`` and a
run fits its time budget with enough timed passes for steady medians.
"""

from __future__ import annotations

WORKLOADS = {
    # the paper's release dataflow: extract, transform, load, one QA chapter
    "gdp_release": [
        "build_fact",
        "excel_scan",
        "pad_codes",
        "recode_values",
        "union_by_name",
        "join_label",
        "closure_leaves",
        "usis_export",
        "diff_classify",
        "qa_top_log_ratio",
    ],
    # k-means training, persisted index write/append/probe, Arrow boundary,
    # plus one lazy text dedup (dedup.exact_dedup); the eager dedup and
    # sketch writers cost 2-9 s a call and do not fit the run's budget
    "vector_index": [
        "pq_index",
        "mean_pool",
        "exact_dedup",
    ],
}

#: the warm pass time each workload budgets for on ``local[4]``: a run
#: makes ``--seconds / SECONDS_PER_PASS`` timed passes (at least three)
SECONDS_PER_PASS = {"gdp_release": 6.0, "vector_index": 6.5}

#: queries loaded the way the reference delivers a release: one CSV file
#: through ``io.write_single_csv``; every other query uses the noop sink
CSV_SINK = frozenset({"usis_export", "diff_classify"})


def all_queries():
    return [q for names in WORKLOADS.values() for q in names]
