"""Property tests of the CROSS-ENGINE ORACLE CONVENTIONS themselves.

The whole correctness gate rests on three conventions hammered out in
rounds 1-2 (see docs/SCALE_NOTES.md "oracle conventions"):

1. money compares as integer cents — ``CAST(round(x*100) AS BIGINT)`` —
   because float sums depend on partial-aggregation order, so a Spark
   32-partition sum and a DuckDB single-thread sum of the same doubles
   can differ in the last ulps and hash-mismatch;
2. periods compare as formatted STRINGS (``yyyy-MM[-dd]``), because
   timestamp binary values render differently across engines/timezones;
3. the driver's value hash is order-insensitive in both rows and
   columns (columns sorted by name, rows sorted after rendering).

These tests pin each convention for ALL inputs hypothesis can find, not
just the query corpus: (1) is checked as *partition-count invariance +
engine parity* of grouped cent-sums, (2) as engine parity of period
rendering over arbitrary epochs, (3) as a pure permutation-invariance
property of the hash function itself. A failure here means the gate —
not a query — is broken, which is exactly the regression this file
exists to catch.
"""

import glob
import importlib.util
import os

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from panelsplit_spark.functions.exact import cents

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "check_oracle", os.path.join(_REPO, "tools", "check_oracle.py")
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)
value_hash = check_oracle.value_hash
norm_cell = check_oracle.norm_cell


# money-like doubles: exact-cent amounts plus 4-decimal rates — the two
# shapes every monetary column in the corpus takes
_money = st.one_of(
    st.integers(min_value=-(10**8), max_value=10**8).map(
        lambda c: c / 100.0
    ),
    st.integers(min_value=-(10**8), max_value=10**8).map(
        lambda c: c / 10000.0
    ),
)

_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=4), _money),
    min_size=1,
    max_size=40,
)


@given(_rows, st.integers(min_value=1, max_value=7))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cent_sums_partition_invariant_and_engine_equal(
    spark, rows, n_parts
):
    """sum(cents(x)) per group must hash identically whatever the Spark
    partitioning, and identically to DuckDB's reading of the same SQL
    text — the invariant every money aggregate in the corpus relies on."""
    pdf = pd.DataFrame(rows, columns=["k", "x"])
    sdf = (
        spark.createDataFrame(pdf)
        .repartition(n_parts)
        .groupBy("k")
        .agg(F.sum(cents(F.col("x"))).alias("cents_sum"))
    )
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.register("t", pdf)
    d = con.execute(
        "SELECT k, sum(CAST(round(x * 100) AS BIGINT)) AS cents_sum "
        "FROM t GROUP BY k"
    )
    d_rows = d.fetchall()
    con.close()

    cols = ["k", "cents_sum"]
    assert value_hash(cols, s_rows) == value_hash(cols, d_rows)


@given(
    st.lists(
        # 1990..2100 in seconds; odd offsets hit month/day boundaries
        st.integers(min_value=631_152_000, max_value=4_102_444_800),
        min_size=1,
        max_size=30,
    )
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_period_strings_engine_equal(spark, epochs):
    """yyyy-MM / yyyy-MM-dd period rendering must agree between Spark's
    date_format (UTC session) and DuckDB's strftime for arbitrary
    timestamps — the convention every fold-assignment oracle uses."""
    pdf = pd.DataFrame(
        {"ts": pd.to_datetime(epochs, unit="s")}
    )
    sdf = spark.createDataFrame(pdf).select(
        F.date_format("ts", "yyyy-MM").alias("pm"),
        F.date_format("ts", "yyyy-MM-dd").alias("pd"),
    )
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.register("t", pdf)
    d_rows = con.execute(
        "SELECT strftime(ts, '%Y-%m') AS pm, "
        "strftime(ts, '%Y-%m-%d') AS pd FROM t"
    ).fetchall()
    con.close()

    cols = ["pm", "pd"]
    assert value_hash(cols, s_rows) == value_hash(cols, d_rows)


_cells = st.one_of(
    st.none(),
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_infinity=False, width=64),
    st.text(
        alphabet=st.characters(
            min_codepoint=32, max_codepoint=126, exclude_characters="\x01"
        ),
        max_size=12,
    ),
    st.booleans(),
)


@given(
    st.integers(min_value=1, max_value=5).flatmap(
        lambda ncols: st.tuples(
            st.just(ncols),
            st.lists(
                st.lists(_cells, min_size=ncols, max_size=ncols),
                min_size=0,
                max_size=20,
            ),
            st.randoms(use_true_random=False),
        )
    )
)
@settings(max_examples=200, deadline=None)
def test_value_hash_permutation_invariant(case):
    """The driver-style hash must be invariant to row order and to
    column order (columns travel WITH their names), and sensitive to an
    actual value change."""
    ncols, rows, rng = case
    cols = [f"c{i}" for i in range(ncols)]
    h0 = value_hash(cols, [tuple(r) for r in rows])

    # permute rows
    shuffled = list(rows)
    rng.shuffle(shuffled)
    assert value_hash(cols, [tuple(r) for r in shuffled]) == h0

    # permute columns together with their names
    perm = list(range(ncols))
    rng.shuffle(perm)
    pcols = [cols[i] for i in perm]
    prows = [tuple(r[i] for i in perm) for r in rows]
    assert value_hash(pcols, prows) == h0

    # a changed cell must change the hash (pick a non-None numeric cell)
    for ri, row in enumerate(rows):
        for ci, v in enumerate(row):
            if isinstance(v, int) and not isinstance(v, bool):
                mut = [list(r) for r in rows]
                mut[ri][ci] = v + 1
                assert (
                    value_hash(cols, [tuple(r) for r in mut]) != h0
                )
                return


def test_float_render_matches_duckdb_formatting():
    """norm_cell's %.6f float rendering is the cross-engine contract —
    NaN spells 'NaN' and -0.0 renders like 0.0 only if both engines
    agree; pin the exact strings."""
    assert norm_cell(float("nan")) == "NaN"
    assert norm_cell(1.0) == "1.000000"
    assert norm_cell(2 / 3) == "0.666667"
    assert norm_cell(None) == "NULL"
    assert norm_cell(True) == "1"


def test_oracle_result_types_are_driver_safe():
    """Every oracle's result columns must bind to driver-safe DuckDB
    types.  DuckDB widens ``sum(BIGINT)`` to HUGEINT (int128); the
    driver's arrow/pandas fetch renders HUGEINT as Decimal/float64 and
    the value hash breaks even when values are bit-identical — the
    exact class behind all 9 CORRECTNESS_r03 hash-fails.  Oracles must
    outer-cast every aggregate (``CAST(sum(...) AS BIGINT)``).  Binding
    only (LIMIT-0-style): no data is scanned, so this lints all 188
    oracles in seconds and fails the moment a new uncast sum is added.
    """
    from tests.conftest import SF_DIR
    import importlib.util as _ilu

    # Leaves PANELSPLIT_ORACLE_SF_DIR alone: the registry bakes it into
    # two oracle strings when first built, so setting it here would move
    # the digests test_registry_oracles_pinned checks when this file runs
    # on its own. Binding needs only that each oracle's path exists.
    spec = _ilu.spec_from_file_location(
        "oracle_type_scan", os.path.join(_REPO, "tools", "oracle_type_scan.py")
    )
    scan = _ilu.module_from_spec(spec)
    spec.loader.exec_module(scan)

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for name in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    # src_sorted_clustering's oracle reads parquet FOOTERS that the
    # Spark query itself writes (spark-warehouse/sinks/clustering/...).
    # On a fresh checkout those files don't exist yet and DuckDB's
    # parquet_metadata() fails at BIND time with IOException. Its bind
    # schema is fixed (independent of file contents), so a stub parquet
    # at each path lets the type lint cover that oracle too; the query
    # rmtree's the directory before writing, so stubs never leak into
    # real results.
    stubs = []
    for layout in ("v_clustered", "v_scattered"):
        d = os.path.join(
            os.getcwd(), "spark-warehouse", "sinks", "clustering", layout
        )
        if not glob.glob(os.path.join(d, "*.parquet")):
            os.makedirs(d, exist_ok=True)
            stub = os.path.join(d, "stub.parquet")
            con.execute(
                "COPY (SELECT CAST(1 AS BIGINT) AS d) TO "
                f"'{stub}' (FORMAT PARQUET)"
            )
            stubs.append(stub)
    try:
        offenders = []
        for name, sql in sorted(entrymod.oracle_sql().items()):
            rel = con.sql(sql)
            bad = [
                f"{c}={t}"
                for c, t in zip(rel.columns, [str(t) for t in rel.types])
                if not scan.type_ok(t)
            ]
            if bad:
                offenders.append(f"{name}: {', '.join(bad)}")
    finally:
        # the stubs exist only for bind-time schema resolution: left
        # behind, a standalone DuckDB run of the src_sorted_clustering
        # oracle would silently return stub-derived rows where it
        # previously failed loudly (ADVICE r09)
        for stub in stubs:
            try:
                os.remove(stub)
            except OSError:
                pass
    assert not offenders, (
        "oracle result columns outside the driver-safe type set "
        "(wrap aggregates in CAST(... AS BIGINT)):\n"
        + "\n".join(offenders)
    )


def test_fold_cte_fragments_pinned():
    """The TimeSeriesSplit fold scaffold has ONE definition site
    (panelsplit_spark/oracle_fragments.fold_cte); the two composed
    fragments every CV oracle builds on are hash-pinned here so a edit
    to the shared builder is a deliberate, reviewed change (with an
    oracle-sweep rerun), never silent drift across 200+ oracles.

    Pinned at the round-6 refactor, byte-identical to the pre-refactor
    inline strings (verified against the full 278-query oracle_sql()
    hash snapshot when the builder landed).
    """
    import hashlib

    from panelsplit_spark.queries import _FOLD_CTE
    from panelsplit_spark.queries_data import _LI_FOLD_CTE

    assert hashlib.sha256(_FOLD_CTE.encode()).hexdigest() == (
        "e37dea7d81da759644b14757f813a4b9330b0fd525aebbce3a64be75ae728fb5"
    )
    assert hashlib.sha256(_LI_FOLD_CTE.encode()).hexdigest() == (
        "614db70b01872d90f76a367dd962b017c8fb7a9e7586bd22234d12ceffbc559f"
    )


def test_registry_oracles_pinned():
    """Every registry name and its oracle SQL, hash-pinned: a refactor
    of the Spark side must leave the DuckDB oracles byte-identical. The
    digest runs over the names in sorted order (``name\\0oracle\\0``
    each), so reordering ``queries()`` does not move it; adding,
    renaming or editing a query does, deliberately. A second digest
    pins the ORDER of ``queries()`` (``name\\0`` each, registry order)."""
    import hashlib

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    h = hashlib.sha256()
    for name in sorted(entrymod.queries()):
        h.update(name.encode() + b"\0" + oracles[name].encode() + b"\0")
    assert h.hexdigest() == (
        "b40bf850fd594b062541e7461e5b2629f8d9b9f9885250fb92e17fcccb317b9e"
    )
    order = hashlib.sha256()
    for name in entrymod.queries():
        order.update(name.encode() + b"\0")
    assert order.hexdigest() == (
        "2c69a5d3da80185b1dcb5fa89b836d73f4402974b7a685650c480f73dbb1b5e6"
    )


def test_bench_headline_covers_registry_exactly():
    """Every declared query must be benched (and nothing phantom):
    bench.HEADLINE is an ordered list, so registry additions must be
    appended — this guard turns the forgotten append (which silently
    shrinks sf0.1/sf1 coverage) into a test failure."""
    import bench
    import __spark_entry__ as entrymod

    listed = list(bench.HEADLINE)
    assert len(listed) == len(set(listed)), "duplicate HEADLINE entries"
    assert set(listed) == set(entrymod.queries())
