"""Entry-module PPRL queries against their DuckDB oracles.

Runs the entry module's PPRL dataflow queries (embed, block, score,
match, cluster, delta) at sf0.001 through the same per-query comparison
``tools/check_oracles.py`` uses, and checks that ``entry(spark)`` is the
mutual-best-match query.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tools.check_oracles import compare_query, duck_views, sorted_rows

SF_DIR = "/root/testdata/sf0.001"  # the table entry() reads

QUERIES = [
    "pprl_bloom_embed",
    "pprl_bloom_stats",
    "pprl_minhash_blocks",
    "pprl_score_pairs",
    "pprl_dice_pairs",
    "pprl_suppressed_pairs",
    "pprl_thresholds",
    "pprl_mutual_best_match",
    "pprl_clusters",
    "delta_match_pairs",
]


@pytest.fixture(scope="module")
def duck():
    con = duck_views(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_entry_query_matches_oracle(spark, duck, name):
    status, detail = compare_query(
        spark, duck, SF_DIR, entry.queries()[name], entry.oracle_sql()[name]
    )
    assert status == "PASS", f"{name}: {detail}"


def test_entry_is_mutual_best_match(spark, duck):
    status, detail = compare_query(
        spark, duck, SF_DIR, lambda s, _: entry.entry(s),
        entry.oracle_sql()["pprl_mutual_best_match"],
    )
    assert status == "PASS", detail
    assert sorted_rows(entry.entry(spark)) == sorted_rows(
        entry.queries()["pprl_mutual_best_match"](spark, SF_DIR)
    )
