"""Property-based model test for the mutable-table module (§2.I).

Hypothesis drives random DML programs (insert / delete / update / merge /
compaction / snapshot expiry / V2->V3 upgrade / rename column / widen
column; delete and update merge-on-read or copy-on-write, drawn per
example) against a ``LocalTable``
and an in-memory list-of-rows model applying the same relational
semantics. After every operation the table scan must equal the model —
including straight through compaction (invisible by contract) and the
format upgrade. This generalizes the reference's single scripted demo arc
(create -> insert -> delete -> update -> upgrade -> compact -> verify,
internal/create_demo_table.py + internal/upgrade_table.py) to arbitrary
interleavings.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

CATEGORIES = ("electronics", "clothing", "furniture")

_ids = st.integers(min_value=1, max_value=30)
_row = st.tuples(
    _ids,
    st.sampled_from(CATEGORIES),
    st.integers(min_value=0, max_value=99900),
)
_insert = st.tuples(
    st.just("insert"), st.lists(_row, min_size=1, max_size=5)
)
# MERGE source: one row per key (upsert on id)
_merge = st.tuples(
    st.just("merge"),
    st.lists(_row, min_size=1, max_size=4, unique_by=lambda r: r[0]),
)
_delete = st.tuples(
    st.just("delete"), st.lists(_ids, min_size=1, max_size=4, unique=True)
)
_update = st.tuples(st.just("update"), st.sampled_from(CATEGORIES))
_compact = st.tuples(st.just("compact"), st.none())
_expire = st.tuples(st.just("expire"), st.none())
_upgrade = st.tuples(st.just("upgrade"), st.none())
_rename = st.tuples(st.just("rename"), st.none())
_widen = st.tuples(st.just("widen"), st.none())
_evolve = st.tuples(
    st.just("evolve"),
    st.sampled_from(
        [
            ["bucket(4, id)"],
            ["truncate(2, category)"],
            ["category"],
            [],  # unpartitioned
        ]
    ),
)

_program = st.lists(
    st.one_of(
        _insert, _delete, _update, _merge, _compact, _expire, _upgrade,
        _rename, _widen, _evolve,
    ),
    min_size=3,
    max_size=7,
)


def _apply_model(model: list[dict], op: str, arg) -> None:
    if op == "insert":
        for id_, cat, cents in arg:
            model.append(
                {"id": id_, "category": cat, "amount": cents / 100.0}
            )
    elif op == "delete":
        model[:] = [r for r in model if r["id"] not in arg]
    elif op == "update":
        for r in model:
            if r["category"] == arg:
                r["amount"] = round(r["amount"] + 1.5, 2)
    elif op == "merge":
        src = {id_: (cat, cents / 100.0) for id_, cat, cents in arg}
        for r in model:
            if r["id"] in src:
                r["category"], r["amount"] = src[r["id"]]
        live = {r["id"] for r in model}
        for id_, (cat, amount) in src.items():
            if id_ not in live:
                model.append({"id": id_, "category": cat, "amount": amount})
    # compact / expire / upgrade / rename / widen / evolve: semantically
    # invisible (rename/widen change only the schema; partition evolution
    # changes only the LAYOUT of future writes, never row values)


def _table_rows(t, amount_col: str) -> list[tuple]:
    rows = t.scan().select("id", "category", amount_col).collect()
    return sorted((r.id, r.category, round(r[amount_col], 2)) for r in rows)


def _model_rows(model: list[dict]) -> list[tuple]:
    return sorted(
        (r["id"], r["category"], round(r["amount"], 2)) for r in model
    )


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    program=_program,
    mode=st.sampled_from(["merge-on-read", "copy-on-write"]),
)
def test_random_dml_program_matches_model(
    spark, tmp_path_factory, program, mode
):
    wh = tmp_path_factory.mktemp("model_wh")
    catalog = LocalCatalog(spark, str(wh))
    t = catalog.create_table(
        "model_db",
        "t",
        "id INT, category STRING, amount DOUBLE",
        partition_by=["category"],
        properties={
            "format-version": "2",
            "write.delete.mode": mode,
            "write.update.mode": mode,
        },
    )
    model: list[dict] = []
    amount_col = "amount"
    n_renames = 0
    for op, arg in program:
        if op == "insert":
            t.insert_values(
                [(id_, cat, cents / 100.0) for id_, cat, cents in arg]
            )
        elif op == "delete":
            t.delete_where(
                f"id IN ({', '.join(str(i) for i in arg)})"
            )
        elif op == "update":
            t.update_set(
                {amount_col: f"round({amount_col} + 1.5, 2)"},
                f"category = '{arg}'",
            )
        elif op == "merge":
            # an INT id merged into the (possibly widened) table: the
            # write aligns the source to the declared types
            t.merge_into(
                spark.createDataFrame(
                    [(id_, cat, cents / 100.0) for id_, cat, cents in arg],
                    f"id INT, category STRING, {amount_col} DOUBLE",
                ),
                ["id"],
            )
        elif op == "compact":
            t.rewrite_data_files(rewrite_all=True)
        elif op == "expire":
            t.expire_snapshots(
                older_than=datetime.datetime(2030, 1, 1), retain_last=1
            )
        elif op == "upgrade":
            t.set_properties({"format-version": "3"})
        elif op == "rename":
            n_renames += 1
            new = f"amount_v{n_renames}"
            t.rename_column(amount_col, new)
            amount_col = new
        elif op == "widen":
            if dict(t.scan().dtypes)["id"] == "int":
                t.widen_column("id", "bigint")
        elif op == "evolve":
            if t.partition_by != arg:
                t.evolve_partition_spec(arg)
        _apply_model(model, op, arg)
        assert _table_rows(t, amount_col) == _model_rows(model), (
            f"divergence after {op} in program {program} ({mode})"
        )
    if t.format_version == 3:
        assert "next-row-id" in t._meta["properties"]


_v3_program = st.lists(
    st.one_of(_insert, _delete, _update, _compact),
    min_size=3,
    max_size=7,
)


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(program=_v3_program)
def test_v3_row_lineage_invariant_under_random_dml(
    spark, tmp_path_factory, program
):
    """V3 row-lineage property: across ANY interleaving of insert / MoR
    delete / MoR update / compaction on a V3 table, a logical row's
    ``_row_id`` changes ONLY when the row is deleted and re-inserted —
    never because of an UPDATE or a compaction. This pins the
    seq-scoped-tombstone read path (a carried id must not be eaten by
    its own rewrite's delete file) far beyond the scripted i18 arc."""
    wh = tmp_path_factory.mktemp("v3model_wh")
    catalog = LocalCatalog(spark, str(wh))
    t = catalog.create_table(
        "v3model_db",
        "t",
        "id INT, category STRING, amount DOUBLE",
        properties={
            "format-version": "2",
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        },
    )
    t.set_properties({"format-version": "3"})
    model: list[dict] = []
    lineage: dict[int, int] = {}  # logical id -> expected _row_id
    for op, arg in program:
        if op == "insert":
            # keep logical ids unique: drop ids already live AND batch
            # duplicates (the model tracks one row per id so lineage is
            # well-defined)
            fresh, seen_batch = [], set()
            for i, c, a in arg:
                if i not in lineage and i not in seen_batch:
                    fresh.append((i, c, a))
                    seen_batch.add(i)
            if not fresh:
                continue
            t.insert_values([(i, c, cents / 100.0) for i, c, cents in fresh])
            _apply_model(model, op, fresh)
            got = {
                r.id: r._row_id
                for r in t.scan(with_row_lineage=True).collect()
            }
            for i, _, _ in fresh:
                lineage[i] = got[i]  # birth id
        elif op == "delete":
            t.delete_where(f"id IN ({', '.join(str(i) for i in arg)})")
            _apply_model(model, op, arg)
            for i in arg:
                lineage.pop(i, None)
        elif op == "update":
            t.update_set(
                {"amount": "round(amount + 1.5, 2)"}, f"category = '{arg}'"
            )
            _apply_model(model, op, arg)
        elif op == "compact":
            t.rewrite_data_files(rewrite_all=True)
        rows = {
            r.id: (r.category, round(r.amount, 2), r._row_id)
            for r in t.scan(with_row_lineage=True).collect()
        }
        assert sorted(rows) == sorted(lineage), (
            f"live-row divergence after {op} in {program}"
        )
        assert _table_rows(t, "amount") == _model_rows(model)
        for i, rid in lineage.items():
            assert rows[i][2] == rid, (
                f"row {i} changed _row_id after {op} in {program}"
            )
