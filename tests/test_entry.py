"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.001, compare row count, column
names, and (order-insensitively) values."""

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) or hasattr(v, "tolist") and not isinstance(v, str) else v
            )
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cells_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
        return (b is None or (isinstance(b, float) and math.isnan(b))) and (
            a is None or (isinstance(a, float) and math.isnan(a))
        )
    return a == b


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_vs_oracle(spark, sf_dir, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, sf_dir).toPandas()
    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        assert len(sdf) >= 0  # rows-only check for non-SQL-expressible ops
        return
    odf = ddb.execute(oracle).df()
    assert sorted(sdf.columns) == sorted(odf.columns), f"{name}: column mismatch"
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} != oracle {len(odf)}"
    a, b = _norm(sdf), _norm(odf)
    for col in a.columns:
        av, bv = list(a[col]), list(b[col])
        bad = [i for i in range(len(av)) if not _cells_equal(av[i], bv[i])]
        assert not bad, f"{name}.{col}: {len(bad)} mismatched cells, first: {av[bad[0]]!r} != {bv[bad[0]]!r}"


def test_registry_fits_driver_verification_window():
    """The driver's correctness gate verifies only the FIRST 50 registry
    entries (VERDICT r2 #1: 22 of 72 entries silently had no oracle row).
    Pin the registry size so the gap class can't recur; merge entries
    (part-tagged unions) instead of growing past the window."""
    names = list(entry_mod.queries())
    assert len(names) <= 50, (
        f"{len(names)} queries() entries exceed the driver's 50-entry "
        "verification window — merge entries instead"
    )
    # every entry is oracle-gated (r4: mm_image_chunks, the last
    # rows-only entry, gained a SQL replay of its deterministic chain),
    # and oracle_sql() has no key that is not an entry
    oracles = set(entry_mod.oracle_sql())
    assert oracles == set(names), (
        f"entries without an oracle: {sorted(set(names) - oracles)}; "
        f"oracles without an entry: {sorted(oracles - set(names))}"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.schema is not None


def test_registry_names_stable_vs_last_round():
    """VERDICT r3 #9 part 2: every registry name must match a key the
    driver actually recorded in the last round's CORRECTNESS file — a
    rename would silently orphan an oracle's verification history.
    Intentional additions/renames go in ALLOWED_NEW with a comment."""
    import glob
    import json
    import os

    ALLOWED_NEW: set[str] = set()  # r4: none — names are 1:1 with r3

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")))
    if not files:
        pytest.skip("no driver CORRECTNESS file yet")
    recorded = set(json.load(open(files[-1])))
    names = set(entry_mod.queries())
    orphaned = names - recorded - ALLOWED_NEW
    assert not orphaned, (
        f"registry names not in {os.path.basename(files[-1])}: {orphaned} "
        "— renamed entries orphan their verification history; add to "
        "ALLOWED_NEW only for intentional new entries"
    )


# Cardinality-sensitive entries re-gated at LARGER scale factors: the r5
# lesson is that hash width / collision behavior is a correctness dial that
# only turns at cardinality (32-bit span hashes silently deleted 2.5M tokens
# at 53M windows). The driver gates sf0.01 only; this runs the two entries
# whose semantics depend on hash cardinality — span dedup window hashes and
# PQ code assignment — at sf0.01 AND sf0.1 so such defects surface in CI
# before the 1M-doc probes. Heavier than the default sf0.001 sweep
# (~45 s total); deselect with -k 'not second_scale' for quick loops.
@pytest.mark.parametrize("scale", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
@pytest.mark.parametrize("name", ["dedup_paragraphs", "ann_ivf_cosine"])
def test_query_vs_oracle_second_scale(spark, name, scale):
    import os

    if not os.path.isdir(scale):
        pytest.skip(f"{scale} not generated")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{scale}/{t}.parquet'")
    sdf = entry_mod.queries()[name](spark, scale).toPandas()
    odf = con.execute(entry_mod.oracle_sql()[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns), f"{name}: column mismatch"
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} != oracle {len(odf)}"
    a, b = _norm(sdf), _norm(odf)
    for col in a.columns:
        av, bv = list(a[col]), list(b[col])
        bad = [i for i in range(len(av)) if not _cells_equal(av[i], bv[i])]
        assert not bad, f"{name}.{col}@{scale}: {len(bad)} mismatched cells, first: {av[bad[0]]!r} != {bv[bad[0]]!r}"
