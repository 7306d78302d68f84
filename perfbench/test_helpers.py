"""Unit tests of the benchmark's own pure helpers (no Spark session).

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import random
import statistics

import helpers
import pytest
import tracer


# -- the >=10-beyond percentile rule -------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
     (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_supported_percentile(n, expected):
    assert helpers.supported_percentile(n) == expected


def test_samples_beyond_counts_strictly_above():
    assert helpers.samples_beyond(40, 75) == 10
    assert helpers.samples_beyond(39, 75) == 9
    assert helpers.samples_beyond(20, 50) == 10


def test_percentile_interpolates_between_ranks():
    vals = [4.0, 1.0, 3.0, 2.0]
    assert helpers.percentile(vals, 0) == 1.0
    assert helpers.percentile(vals, 100) == 4.0
    assert helpers.percentile(vals, 50) == 2.5
    assert helpers.percentile([7.0], 90) == 7.0


def test_quartile_spread_matches_statistics_quantiles():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    got = helpers.quartile_spread(vals)
    assert (got["q1"], got["median"], got["q3"]) == (q1, q2, q3)
    assert got["spread"] == pytest.approx((q3 - q1) / q2)


# -- self-time arithmetic ------------------------------------------------------


def test_union_length_merges_overlaps_and_clips():
    assert helpers.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert helpers.union_length([(0, 10)], 2, 5) == 3
    assert helpers.union_length([(0, 1)], 2, 5) == 0
    assert helpers.union_length([]) == 0


def test_self_time_subtracts_children_once():
    spans = [
        {"start": 0.0, "end": 10.0, "parent": None},
        {"start": 1.0, "end": 3.0, "parent": 0},
        {"start": 2.0, "end": 5.0, "parent": 0},  # overlaps its sibling
        {"start": 7.0, "end": 8.0, "parent": 0},
        {"start": 7.5, "end": 8.0, "parent": 3},  # grandchild: not the root's
    ]
    assert helpers.self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 0.5, 0.5])


def test_self_time_ignores_child_time_outside_the_parent():
    spans = [
        {"start": 0.0, "end": 2.0, "parent": None},
        {"start": 1.0, "end": 4.0, "parent": 0},
    ]
    assert helpers.self_times(spans) == pytest.approx([1.0, 3.0])


def test_layer_metrics_and_coverage_from_spans():
    spans = [
        {"name": "lake.merge.merge_changes", "start": 0.0, "end": 4.0, "parent": None,
         "trace": "b0", "skipped": False},
        {"name": "lake.table.write_files", "start": 1.0, "end": 3.0, "parent": 0,
         "trace": "b0", "files": 2, "bytes": 100, "footer_s": 0.5},
        {"name": "lake.merge.merge_changes", "start": 5.0, "end": 9.0, "parent": None,
         "trace": "b1", "skipped": True},
    ]
    m = tracer.layer_metrics(spans, n_passes=2, nproc=4)
    assert m["lake.merge.merge_changes.busy_s"] == pytest.approx(4.0)  # 8 s over 2 passes
    assert m["lake.merge.merge_changes.self_s"] == pytest.approx(3.0)
    assert m["lake.merge.merge_changes.calls"] == 1.0
    assert m["lake.merge.merge_changes.skipped"] == 0.5
    assert m["lake.table.write_files.bytes"] == 50.0
    assert m["lake.table.footer_s"] == 0.25
    assert m["functions.extract.us_per_row"] == 0.0
    assert tracer.coverage(spans, (0.0, 10.0)) == pytest.approx(0.8)


# -- the oracle hash -----------------------------------------------------------


def test_table_hash_is_order_independent():
    rows = [("u%d" % i, i * 1000, i, "en" if i % 2 else None, "téxt %d" % i)
            for i in range(200)]
    shuffled = rows[:]
    random.Random(3).shuffle(shuffled)
    assert helpers.table_hash(rows) == helpers.table_hash(shuffled)
    assert helpers.table_hash(rows)[0] == 200


def test_table_hash_sees_one_changed_value_and_duplicates():
    rows = [("a", 1, 1, "en", "x"), ("b", 2, 2, "de", "y")]
    changed = [("a", 1, 1, "en", "x"), ("b", 2, 2, "de", "z")]
    assert helpers.table_hash(rows) != helpers.table_hash(changed)
    assert helpers.table_hash(rows + rows[:1]) != helpers.table_hash(rows)
    # None and the empty string are different values
    assert helpers.row_digest(("a", None)) != helpers.row_digest(("a", ""))


# -- /proc parsing -------------------------------------------------------------


STATUS = """Name:\tjava
Umask:\t0022
State:\tS (sleeping)
VmPeak:\t 9000000 kB
VmRSS:\t  1286892 kB
Threads:\t93
"""


def test_parse_status_rss_kb():
    assert helpers.parse_status_rss_kb(STATUS) == 1286892
    assert helpers.parse_status_rss_kb("Name:\tzombie\nState:\tZ (zombie)\n") == 0


def test_parse_stat_handles_parentheses_in_the_command_name():
    line = "4242 (python (worker) x) S 4100 4242 4100 0 -1 4194560 1 2 3"
    assert helpers.parse_stat(line) == ("S", 4100)
    assert helpers.parse_stat("7 (java) Z 1 7 7 0") == ("Z", 1)


def test_parse_meminfo_and_driver_memory():
    text = "MemTotal:       16479432 kB\nMemFree:        14397952 kB\n"
    assert helpers.parse_meminfo_kb(text) == 16479432
    assert helpers.parse_meminfo_kb(text, "MemFree") == 14397952
    assert helpers.driver_memory_for(16479432) == "2g"
    assert helpers.driver_memory_for(2 * 1024 * 1024) == "1g"
    assert helpers.driver_memory_for(128 * 1024 * 1024) == "4g"
    with pytest.raises(KeyError):
        helpers.parse_meminfo_kb(text, "SwapTotal")


def test_descendants_walks_the_whole_subtree():
    ppid_of = {10: 1, 11: 10, 12: 11, 13: 11, 20: 1, 21: 20}
    assert helpers.descendants(10, ppid_of) == {11, 12, 13}
    assert helpers.descendants(13, ppid_of) == set()
