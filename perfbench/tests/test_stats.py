import json
import os

import pytest

import metrics
from stats import (
    highest_supported_percentile,
    interval_union_s,
    percentile,
    ratio,
    timing_summary,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0
    assert percentile([3, 1, 2], 0) == 1
    with pytest.raises(ValueError):
        percentile([], 50)


def test_highest_percentile_needs_ten_samples_beyond_it():
    assert highest_supported_percentile(3) is None
    assert highest_supported_percentile(99) is None
    assert highest_supported_percentile(100) == 90.0
    assert highest_supported_percentile(200) == 95.0
    assert highest_supported_percentile(1000) == 99.0
    assert highest_supported_percentile(10_000) == 99.9


def test_timing_summary_states_sample_count():
    assert timing_summary([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    s = timing_summary([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["p90"] == 90.0


def test_ratio_over_its_base():
    # recrawl_resume: 64 new docs out of 576 parsed
    assert ratio(64, 576) == pytest.approx(0.1111111)
    assert ratio(3, 0) == 0.0


def test_useful_parse_ratio_uses_docs_parsed_as_base():
    from collections import namedtuple

    import workloads

    Row = namedtuple("Row", "partition_id doc_count attempt")
    rows = ([Row(p, 70, 1) for p in range(8)]
            + [Row(p, 72, 2) for p in range(6)])
    pids, m = workloads.manifest_counts(rows, attempt=2, needed=64)
    assert pids == set(range(6))
    assert m["manifest.partitions_skipped"] == 2
    assert m["manifest.docs_parsed"] == 432
    assert m["manifest.useful_parse_ratio"] == pytest.approx(64 / 432)


@pytest.mark.parametrize("seed", [-1, 99_999, 999_999, 2**31 - 1, 2**63])
def test_every_seed_window_stays_in_pandas_timestamp_range(seed):
    """warc_ts is doc_id seconds after 2024; the extraction UDF converts
    it to nanosecond pandas timestamps, which end in 2262."""
    import pandas as pd

    import workloads
    from ragflow_spark.sources.pages import make_doc

    for profile, n, offset in (("web", 512, 600), ("mixed", 576, 0)):
        ids = workloads.window(profile, seed, n, offset)
        assert ids.start >= 0
        ts = make_doc(ids[-1], profile)["warc_ts"]
        assert ts < pd.Timestamp.max.to_pydatetime(warn=False)


def test_interval_union_counts_overlap_once():
    assert interval_union_s([]) == 0.0
    assert interval_union_s([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert interval_union_s([(5, 6), (0, 10)]) == 10.0


def test_catalogue_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in spec["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == list(metrics.PER_LAYER)
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
