"""The driver's correctness gate checks the FIRST 50 entries of
``queries()`` — ordering is evidence budget. These tests pin the rotation
contract: queries with driver evidence on file (any CORRECTNESS_r*.json)
sort behind queries that still need a slot.
"""

from __future__ import annotations

import json
import os

from iceberg_v2_to_v3_upgrade_spark.registry import (
    _driver_evidenced,
    load_all_operators,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_front_slots_hold_unevidenced_queries():
    evidenced = _driver_evidenced()
    names = list(load_all_operators())
    front, back = names[:50], names[50:]
    n_unevidenced = sum(1 for n in names if n not in evidenced)
    # every front slot is spent on a query without driver evidence, for as
    # long as there are enough of them to fill the budget
    expect_front_unevidenced = min(50, n_unevidenced)
    assert (
        sum(1 for n in front if n not in evidenced) == expect_front_unevidenced
    )


def test_evidenced_set_reads_correctness_files():
    with open(os.path.join(REPO, "CORRECTNESS_r01.json")) as f:
        r01 = json.load(f)
    evidenced = _driver_evidenced()
    for name, row in r01.items():
        if row.get("hash_match"):
            assert name in evidenced, name
    # the round-1 failures are not evidenced BY r01 (they errored there);
    # later CORRECTNESS files may legitimately green them
    import glob

    later = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))[1:]
    greened: set[str] = set()
    for path in later:
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:
            continue
        greened |= {
            n
            for n, row in rows.items()
            if isinstance(row, dict) and row.get("hash_match")
        }
    for name in ("c7_asof_join", "h5_array_agg"):
        if name not in greened:
            assert name not in evidenced


def test_every_query_has_fn_and_most_have_oracles():
    reg = load_all_operators()
    assert len(reg) >= 125
    no_oracle = [n for n, q in reg.items() if q.oracle is None]
    # rows-only is the exception, not the rule: hash-based (n2c/n2d),
    # bucketed-ANN (n3c), and sketch estimates (n8, n50 HLL, d11 GK
    # quantiles) — the sketch ones self-validate in-query against exact
    assert len(no_oracle) <= 8, no_oracle
