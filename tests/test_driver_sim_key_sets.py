"""The named key sets of tools/driver_sim.py, checked without a
SparkSession: every set names registered keys, ``@decade`` is the
registry minus the two sampled classes, every ``@full_output`` key
declares a hashable column of its own output, and ``@money_tpch`` is
the 43-key sf10 money/TPC-H audit list.
"""

from __future__ import annotations

import driver_sim

from bigdataprojectspring16_spark import ORACLES, QUERIES


def test_named_sets_are_registered_and_decade_is_the_rest():
    sets = driver_sim.named_sets(QUERIES)
    assert set(sets) == {"@all_pairs", "@full_output", "@money_tpch", "@decade"}
    for name, keys in sets.items():
        assert keys and set(keys) <= set(QUERIES), name
        assert len(set(keys)) == len(keys), name
    decade = set(sets["@decade"])
    sampled = set(sets["@all_pairs"]) | set(sets["@full_output"])
    assert not decade & set(sets["@all_pairs"])
    assert not decade & set(sets["@full_output"])
    assert decade | sampled == set(QUERIES)
    assert len(sets["@all_pairs"]) == len(sets["@full_output"]) == 13


def test_resolve_keys_expands_sets_and_names():
    keys = driver_sim.resolve_keys(["@all_pairs", "tpch_q6_revenue_delta"], QUERIES)
    assert keys == sorted(set(driver_sim.ALL_PAIRS_KEYS) | {"tpch_q6_revenue_delta"})
    assert driver_sim.resolve_keys([], QUERIES) == []


def test_full_output_sample_column_is_in_each_output(ddb):
    """The sample column must be an integer or timestamp column of the
    key's output, which ``knuth_hash`` maps the same on both engines."""
    for key, col in driver_sim.FULL_OUTPUT.items():
        described = ddb.execute(f"DESCRIBE SELECT * FROM ({ORACLES[key]})").fetchall()
        types = {row[0]: row[1] for row in described}
        assert col in types, f"{key}: {col} not in {sorted(types)}"
        assert types[col] in ("BIGINT", "INTEGER") or types[col].startswith("TIMESTAMP"), (
            f"{key}: {col} is {types[col]}"
        )


def test_money_tpch_is_the_sf10_audit_list():
    money = driver_sim.MONEY_TPCH_KEYS
    assert len(money) == len(set(money)) == 43
    tpch = {k for k in money if k.startswith("tpch_")}
    assert tpch == {k for k in QUERIES if k.startswith("tpch_")}
    assert set(money) - tpch == {
        "agg_pricing_summary", "agg_global", "agg_having", "agg_rollup",
        "agg_cube", "agg_grouping_sets", "agg_conditional",
        "agg_weighted_percentile", "agg_salted_topk", "agg_multi_distinct",
        "agg_percentiles", "window_share_of_total", "window_rank_topn",
        "orders_yoy_growth", "orders_abc_by_segment", "orders_rfm_segments",
        "orders_open_backlog_by_month", "custdist_two_level_agg",
        "supplier_return_rate_topk", "merge_upsert_batch",
        "rollup_incremental_merge", "join_skew_events_customers",
        "join_multiway_star",
    }
