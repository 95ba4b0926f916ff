"""Manifest-stats file skipping: per-dir min/max recorded at write time,
consulted by scan(data_filter=...) to skip whole dirs (Iceberg manifest
pruning analog)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

from tests.conftest import SF_SMALL


def _build(spark, tmp_path, n_chunks=4):
    catalog = LocalCatalog(spark, str(tmp_path / "wh"))
    t = catalog.create_table(
        "skip_db",
        "orders_ranged",
        "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE",
    )
    od = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lo, hi = od.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    step = (hi - lo) / n_chunks
    for i in range(n_chunks):  # each commit covers one disjoint price range
        a = lo + i * step
        b = hi + 1 if i == n_chunks - 1 else lo + (i + 1) * step
        t.insert(od.filter((F.col("o_totalprice") >= a) & (F.col("o_totalprice") < b)))
    return t, od, lo, hi


def test_scan_skips_dirs_outside_predicate_range(spark, tmp_path):
    t, od, lo, hi = _build(spark, tmp_path)
    cut = lo + (hi - lo) * 0.8  # inside the last chunk's range
    got = t.scan(data_filter=f"o_totalprice > {cut}")
    rows = sorted(r.o_orderkey for r in got.collect())
    want = sorted(
        r.o_orderkey
        for r in od.filter(F.col("o_totalprice") > cut).collect()
    )
    assert rows == want
    assert t.last_scan_pruning["candidate_dirs"] == 4
    assert t.last_scan_pruning["read_dirs"] == 1  # only the last range chunk


def _positional_delete(t, spark):
    t.delete_where("o_orderkey % 7 = 0")


def _equality_delete(t, spark):
    keys = t.scan().filter("o_orderkey % 7 = 0").select("o_orderkey")
    t.delete_by_keys(keys, ["o_orderkey"])


def _v3_carried_update(t, spark):
    t.set_properties({"format-version": "3"})
    t.update_set({"o_custkey": "o_custkey + 1"}, "o_orderkey % 7 = 0")
    assert t._meta.get("carried_row_ids")


@pytest.mark.parametrize(
    "mutate",
    [_positional_delete, _equality_delete, _v3_carried_update],
    ids=["positional", "equality", "v3_carried"],
)
def test_pruned_scan_equals_unpruned_after_mor_delete(spark, tmp_path, mutate):
    t, od, lo, hi = _build(spark, tmp_path)
    mutate(t, spark)
    cut = lo + (hi - lo) * 0.5
    pred = f"o_totalprice >= {cut}"
    pruned = sorted(r.o_orderkey for r in t.scan(data_filter=pred).collect())
    assert t.last_scan_pruning["read_dirs"] < 4
    unpruned = sorted(
        r.o_orderkey for r in t.scan().filter(pred).collect()
    )
    assert pruned == unpruned


def test_unparseable_or_renamed_predicates_are_conservative(spark, tmp_path):
    t, od, lo, hi = _build(spark, tmp_path)
    # OR predicates never prune
    t.scan(data_filter=f"o_totalprice > {hi} OR o_custkey < 0").collect()
    assert t.last_scan_pruning["read_dirs"] == 4
    # rename: stats stored under the old name stop matching -> read all,
    # but results stay correct
    t.rename_column("o_totalprice", "price")
    got = t.scan(data_filter=f"price > {lo + (hi - lo) * 0.8}")
    assert got.count() > 0
    assert t.last_scan_pruning["read_dirs"] == 4


def test_write_sort_order_property_clusters_files(spark, tmp_path):
    """Iceberg WRITE ORDERED BY analog: with write.sort-order set, each
    written file is internally sorted on the declared key (narrow parquet
    row-group stats — the write-side half of data skipping)."""
    import glob

    catalog = LocalCatalog(spark, str(tmp_path / "wh2"))
    t = catalog.create_table(
        "skip_db",
        "orders_sorted",
        "o_orderkey BIGINT, o_totalprice DOUBLE",
        properties={"write.sort-order": "o_totalprice"},
    )
    od = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t.insert(od.repartition(4))
    files = glob.glob(f"{t.root}/data/snap-*/*.parquet")
    assert len(files) >= 2
    for f in files:
        vals = [r.o_totalprice for r in spark.read.parquet(f).collect()]
        assert vals == sorted(vals), f"file {f} not sorted"
    # scan still returns everything
    assert t.scan().count() == od.count()


def test_sql_router_select_prunes_dirs(spark, tmp_path):
    """`SELECT ... WHERE price > X` through the SQL gateway consults the
    manifest stats: non-matching data dirs are skipped before Catalyst
    ever sees a row."""
    from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL

    t, od, lo, hi = _build(spark, tmp_path)
    catalog = LocalCatalog(spark, str(tmp_path / "wh"))
    router = EngineSQL(catalog)
    cut = lo + (hi - lo) * 0.8
    res = router.execute_one(
        f"SELECT count(*) AS n FROM skip_db.orders_ranged "
        f"WHERE o_totalprice > {cut}"
    )
    n = res.df.collect()[0].n
    want = od.filter(F.col("o_totalprice") > cut).count()
    assert n == want
    assert router.last_scan_pruning == {
        "skip_db.orders_ranged": {"candidate_dirs": 4, "read_dirs": 1}
    }
    # a join mentions two tables -> no pruning attempted, still correct
    res2 = router.execute_one(
        "SELECT count(*) AS n FROM skip_db.orders_ranged a "
        "WHERE o_totalprice > 0 AND o_custkey >= 0"
    )
    assert res2.df.collect()[0].n == od.count()


def test_position_deletes_metadata_table(spark, tmp_path):
    """table.position_deletes lists exactly the masked row ids; its count
    equals scan-visible row loss, and the SQL metadata-table path serves
    it; compaction clears it."""
    from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL

    catalog = LocalCatalog(spark, str(tmp_path / "wh3"))
    t = catalog.create_table(
        "pd_db", "orders_pd", "o_orderkey BIGINT, o_totalprice DOUBLE"
    )
    od = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t.insert(od)
    before = t.scan().count()
    t.delete_where("o_orderkey % 5 = 0")
    after = t.scan().count()
    pd_rows = t.position_deletes().count()
    assert pd_rows == before - after > 0
    router = EngineSQL(catalog)
    via_sql = router.execute_one(
        "SELECT count(*) AS n FROM pd_db.orders_pd.position_deletes"
    ).df.collect()[0].n
    assert via_sql == pd_rows
    t.rewrite_data_files()  # compaction folds deletes into data files
    assert t.position_deletes().count() == 0
    assert t.scan().count() == after


def test_pruning_never_changes_results_property(spark, tmp_path):
    """Property: for ANY simple predicate over ANY chunking of the data,
    scan(data_filter=pred) == scan().filter(pred). Hypothesis drives the
    chunk boundaries and predicates (including ones the pruner refuses);
    a pruning bug shows up as missing rows, not a flaky perf number."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    catalog = LocalCatalog(spark, str(tmp_path / "wh_prop"))
    rows = [(i, float((i * 37) % 1000)) for i in range(300)]
    base = spark.createDataFrame(rows, "k BIGINT, v DOUBLE")

    tables = {}

    def table_for(boundaries):
        key = tuple(boundaries)
        if key not in tables:
            t = catalog.create_table(
                "prop_db", f"t{len(tables)}", "k BIGINT, v DOUBLE"
            )
            lo = 0
            for b in list(boundaries) + [1000]:
                chunk = base.filter((F.col("v") >= lo) & (F.col("v") < b))
                if chunk.count():
                    t.insert(chunk)
                lo = b
            tables[key] = t
        return tables[key]

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        boundaries=st.lists(
            st.integers(min_value=1, max_value=999),
            min_size=1,
            max_size=3,
            unique=True,
        ).map(sorted),
        op=st.sampled_from([">", ">=", "<", "<=", "="]),
        val=st.integers(min_value=-50, max_value=1050),
        conj=st.sampled_from(["", " AND k >= 0", " OR k < 0"]),
    )
    def check(boundaries, op, val, conj):
        t = table_for(boundaries)
        pred = f"v {op} {val}{conj}"
        pruned = sorted(r.k for r in t.scan(data_filter=pred).collect())
        plain = sorted(r.k for r in t.scan().filter(pred).collect())
        assert pruned == plain, (boundaries, pred)

    check()
