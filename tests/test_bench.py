"""bench.py's build-leg summary: best leg per level, ratios divided by
hi/lo, [min, median, max] spread, and key names that follow the core
counts (N = 32 gives the historical _8c/_32c keys)."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def _leg(cores, build_sec, n_docs=1000):
    return {"cores": cores, "n_docs": n_docs, "build_sec": build_sec,
            "docs_per_sec": n_docs / build_sec,
            "marginal_docs_per_sec": 2 * n_docs / build_sec,
            "tokens_per_sec": 10 * n_docs / build_sec,
            "postings_per_sec": 5.0, "stage1_sec": 0.5, "stats_sec": 0.25,
            "partition_skew_ratio": 1.1, "term_df_skew_ratio": 3.0}


def _summary(cpus, lo_secs, hi_secs, kernel_lo=1e6, kernel_hi=3e6):
    lo, hi = bench.leg_levels(cpus)
    legs = [_leg(lo, s) for s in lo_secs] + [_leg(hi, s) for s in hi_secs]
    return bench.summarize_legs(legs, {lo: kernel_lo, hi: kernel_hi}, lo, hi)


def test_levels_follow_the_host():
    assert bench.leg_levels(32) == (8, 32)
    assert bench.leg_levels(4) == (1, 4)
    assert bench.leg_levels(2) == (1, 2)


def test_32_cores_keep_the_historical_keys():
    s = _summary(32, [20.0, 10.0, 15.0], [8.0, 5.0, 4.0])
    assert s["build_sec_8c"] == 10.0 and s["build_sec_32c"] == 4.0
    assert s["docs_per_sec_8c"] == 100.0 and s["docs_per_sec_32c"] == 250.0
    # (250 / 100) / (32 / 8)
    assert s["scaling_efficiency_8_to_32"] == 0.625
    assert s["scaling_efficiency_marginal_8_to_32"] == 0.625
    assert s["kernel_tokens_per_sec_8p"] == 1e6
    assert s["kernel_tokens_per_sec_32p"] == 3e6
    assert s["kernel_scaling_efficiency_8_to_32"] == 0.75
    assert s["tokens_per_sec_32c"] == 2500.0
    assert s["postings_per_sec_32c"] == 5.0
    assert s["build_sec_spread_8c"] == [10.0, 15.0, 20.0]
    assert s["build_sec_spread_32c"] == [4.0, 5.0, 8.0]
    assert not any(k.endswith(("_1c", "_4c", "_1p", "_4p")) for k in s)


def test_4_cores_name_keys_after_1_and_4():
    s = _summary(4, [40.0, 30.0], [12.0, 10.0])
    assert s["build_sec_1c"] == 30.0 and s["build_sec_4c"] == 10.0
    # (100 / 33.3) / 4
    assert s["scaling_efficiency_1_to_4"] == 0.75
    assert s["kernel_tokens_per_sec_1p"] == 1e6
    assert s["kernel_scaling_efficiency_1_to_4"] == 0.75
    # two rounds: the median is the midpoint
    assert s["build_sec_spread_1c"] == [30.0, 35.0, 40.0]
    assert s["build_sec_spread_4c"] == [10.0, 11.0, 12.0]
    assert not any("_8c" in k or "_32c" in k for k in s)


def test_unmeasurable_marginal_rate_is_none():
    # same docs in both builds, or a full build no slower than the small
    assert bench.marginal_rate(0, 5.0) is None
    assert bench.marginal_rate(1000, 0.0) is None
    assert bench.marginal_rate(1000, -1.5) is None
    assert bench.marginal_rate(1000, 4.0) == 250.0
    lo, hi = bench.leg_levels(4)
    legs = [_leg(lo, 30.0), dict(_leg(hi, 10.0), marginal_docs_per_sec=None)]
    s = bench.summarize_legs(legs, {lo: 1e6, hi: 3e6}, lo, hi)
    assert s["marginal_docs_per_sec_1c"] == 66.7
    assert s["marginal_docs_per_sec_4c"] is None
    assert s["scaling_efficiency_marginal_1_to_4"] is None
    assert s["scaling_efficiency_1_to_4"] == 0.75


def test_spread_is_min_median_max():
    assert bench.spread([3.0, 1.0, 2.0]) == [1.0, 2.0, 3.0]
    assert bench.spread([5.0]) == [5.0, 5.0, 5.0]


def test_kernel_samples_report_a_spread_beside_the_best():
    lo, hi = bench.leg_levels(4)
    legs = [_leg(lo, 30.0), _leg(hi, 10.0)]
    samples = {lo: [2.1e6, 1.8e6, 4.0e6], hi: [9.0e6, 12.0e6, 10.5e6]}
    s = bench.summarize_legs(legs, {c: max(v) for c, v in samples.items()},
                             lo, hi, samples)
    assert s["kernel_tokens_per_sec_spread_1p"] == [1.8e6, 2.1e6, 4.0e6]
    assert s["kernel_tokens_per_sec_spread_4p"] == [9.0e6, 10.5e6, 12.0e6]
    # the existing keys keep the best sample
    assert s["kernel_tokens_per_sec_1p"] == 4.0e6
    assert s["kernel_tokens_per_sec_4p"] == 12.0e6
    assert s["kernel_scaling_efficiency_1_to_4"] == 0.75
    # without samples the summary carries no spread key
    plain = bench.summarize_legs(legs, {lo: 4.0e6, hi: 12.0e6}, lo, hi)
    assert not any("kernel_tokens_per_sec_spread" in k for k in plain)


def test_python_task_floor_is_a_spread_in_ms():
    secs = [0.41, 0.172, 0.19, 0.2, 0.1654]
    assert bench.task_floor_ms(secs) == [165.4, 190.0, 410.0]
    assert bench.task_floor_ms([0.25]) == [250.0, 250.0, 250.0]


def test_agg_summary_is_a_spread_and_median_jobs_per_query_and_kind():
    passes = [{"dup": {"count_matches": (70.04, 1), "terms_agg": (210.0, 2)},
               "join": {"count_matches": (900.0, 4)}},
              {"dup": {"count_matches": (64.0, 1), "terms_agg": (190.0, 2)},
               "join": {"count_matches": (800.0, 4)}},
              {"dup": {"count_matches": (99.96, 1), "terms_agg": (200.0, 3)},
               "join": {"count_matches": (850.0, 5)}}]
    s = bench.summarize_aggs(passes)
    assert s["agg_ms"] == {
        "dup": {"count_matches": [64.0, 70.0, 100.0],
                "terms_agg": [190.0, 200.0, 210.0]},
        "join": {"count_matches": [800.0, 850.0, 900.0]}}
    assert s["agg_spark_jobs"] == {"dup": {"count_matches": 1,
                                           "terms_agg": 2},
                                   "join": {"count_matches": 4}}
