"""The op scripts depend on the seed alone."""

import datetime as dt
from collections import Counter

import numpy as np

from data import fixture_dir, read_fixtures, vocabulary
from script import (ORDER_DATE_HI, ORDER_DATE_LO, PRIORITIES, SERVING_BLOCK,
                    llm_pass, serving_blocks, setup_batch_bounds)

ORDERS = read_fixtures(fixture_dir("sf0.1"))["orders"]
CUST = ORDERS["o_custkey"].to_numpy()
OKEYS = ORDERS["o_orderkey"].to_numpy()
VOCAB = vocabulary(read_fixtures(fixture_dir("sf0.01"))["documents"])


def test_script_constants_match_the_fixture():
    dates = ORDERS["o_orderdate"].to_pylist()
    assert (min(dates).date(), max(dates).date()) == (ORDER_DATE_LO, ORDER_DATE_HI)
    assert sorted(set(ORDERS["o_orderpriority"].to_pylist())) == list(PRIORITIES)


def test_same_seed_same_serving_script():
    assert serving_blocks(7, CUST, OKEYS, 5) == serving_blocks(7, CUST, OKEYS, 5)
    assert serving_blocks(7, CUST, OKEYS, 5) != serving_blocks(8, CUST, OKEYS, 5)


def test_same_seed_same_llm_pass():
    gates = ["dedup_exact", "graph_triangle_count"]
    assert llm_pass(3, 1, gates, 500, VOCAB) == llm_pass(3, 1, gates, 500, VOCAB)
    assert llm_pass(3, 1, gates, 500, VOCAB) != llm_pass(3, 2, gates, 500, VOCAB)


def test_llm_pass_new_documents_never_collide():
    ids = [r[0] for i in range(3) for op in llm_pass(1, i, [], 500, VOCAB)
           if op.kind == "upsert" for r in op.rows if r[0] >= 500]
    assert len(ids) == len(set(ids))


def test_every_block_has_the_exact_mix():
    for block in serving_blocks(11, CUST, OKEYS, 4):
        assert Counter(op.kind for op in block) == dict(SERVING_BLOCK)


def test_point_keys_are_zipf_skewed():
    keys = Counter(
        op.sql.rsplit("=", 1)[1].strip()
        for block in serving_blocks(5, CUST, OKEYS, 40)
        for op in block if op.kind == "point")
    n = sum(keys.values())
    # uniform over 15k customers would repeat a key about never
    assert keys.most_common(1)[0][1] > 0.05 * n


def test_setup_batches_cover_the_base_dates_once():
    bounds = setup_batch_bounds()
    assert all(hi == lo for (_, hi), (lo, _) in zip(bounds, bounds[1:]))
    first = dt.datetime.fromisoformat(bounds[0][0].split("'")[1])
    last = dt.datetime.fromisoformat(bounds[-1][1].split("'")[1])
    dates = ORDERS["o_orderdate"].to_numpy()
    assert np.datetime64(first) <= dates.min() and dates.max() < np.datetime64(last)
