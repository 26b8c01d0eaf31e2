"""Round-8 operators: the persisted MinHash signature store.

The oracle gate proves incremental == full recompute cross-engine at
the query's fixed 3-split schedule; these tests pin the OPERATOR
theorem at two growth steps on the Spark side — after each increment,
the accumulated candidate-pair set equals a from-scratch
lsh_candidate_pairs over the corpus ingested so far — and the store's
on-disk lifecycle (bootstrap overwrite, append-only growth, no text
columns ever stored).
"""

import os

from pyspark.sql import functions as F

from conftest import SF_DIR

_MH = dict(n_hashes=12, band_size=3, shingle_n=3)


def _full_pairs(docs):
    from panelsplit_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(
        docs, n_hashes=_MH["n_hashes"], shingle_n=_MH["shingle_n"]
    )
    return lsh_candidate_pairs(
        sigs, n_hashes=_MH["n_hashes"], band_size=_MH["band_size"]
    )


def _pairs_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_signature_store_equals_full_recompute_at_two_growth_steps(
    spark, tmp_path
):
    from panelsplit_spark.operators.dedup import signature_store_rounds
    from panelsplit_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    b = F.crc32(F.col("doc_id").cast("string")) % 10
    s0 = docs.where(b < 6)
    s1 = docs.where(b == 6)
    s2 = docs.where(b > 6)

    # growth step 1: base + one increment
    store1 = str(tmp_path / "store1")
    inc1 = signature_store_rounds(spark, [s0, s1], store1, **_MH)
    assert _pairs_set(inc1) == _pairs_set(_full_pairs(s0.unionByName(s1)))

    # growth step 2: base + both increments
    store2 = str(tmp_path / "store2")
    inc2 = signature_store_rounds(spark, [s0, s1, s2], store2, **_MH)
    assert _pairs_set(inc2) == _pairs_set(_full_pairs(docs))


def test_signature_store_layout_and_growth(spark, tmp_path):
    """The store grows by exactly the batch's band rows (duplicates
    included — it is an index, not an admission list), and holds only
    (doc_id, band_id, band_sig): no text ever persists."""
    from panelsplit_spark.operators.dedup import (
        explode_bands,
        minhash_signatures,
        signature_store_rounds,
    )
    from panelsplit_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    b = F.crc32(F.col("doc_id").cast("string")) % 10
    s0, s1 = docs.where(b < 8), docs.where(b >= 8)
    store = str(tmp_path / "store")
    signature_store_rounds(spark, [s0, s1], store, **_MH)
    back = spark.read.parquet(store)
    assert sorted(back.columns) == ["band_id", "band_sig", "doc_id"]
    n_bands = _MH["n_hashes"] // _MH["band_size"]
    assert back.count() == docs.count() * n_bands
    # the stored rows are exactly the corpus' exploded bands
    want = explode_bands(
        minhash_signatures(
            docs, n_hashes=_MH["n_hashes"], shingle_n=_MH["shingle_n"]
        ),
        n_hashes=_MH["n_hashes"],
        band_size=_MH["band_size"],
    )
    assert back.exceptAll(want).count() == 0
    assert want.exceptAll(back).count() == 0


def test_signature_store_bootstrap_overwrites_stale_state(
    spark, tmp_path
):
    """A re-run from scratch must not union with a previous run's
    store (step 0 overwrites)."""
    from panelsplit_spark.operators.dedup import signature_store_rounds
    from panelsplit_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    store = str(tmp_path / "store")
    first = signature_store_rounds(spark, [docs], store, **_MH)
    n1 = spark.read.parquet(store).count()
    second = signature_store_rounds(spark, [docs], store, **_MH)
    assert spark.read.parquet(store).count() == n1
    assert _pairs_set(first) == _pairs_set(second)
    assert os.path.isdir(store)


def test_signature_store_empty_splits_returns_empty(spark, tmp_path):
    """No splits → empty (id_a, id_b) frame, and no store mutation
    (ADVICE r8: previously crashed on found=None and rmtree'd the
    caller's store_dir)."""
    from panelsplit_spark.operators.dedup import signature_store_rounds

    store = str(tmp_path / "untouched")
    os.makedirs(store)
    marker = os.path.join(store, "keep.txt")
    with open(marker, "w") as fh:
        fh.write("stale state must survive an empty ingest\n")
    out = signature_store_rounds(spark, [], store, **_MH)
    assert out.columns == ["id_a", "id_b"]
    assert out.count() == 0
    assert os.path.exists(marker)


def test_incremental_store_branches_agree(spark, monkeypatch):
    """The corpus-size switch between the directory store and the
    bucketed catalog store must be invisible in the result: forcing
    the bucketed branch (threshold 0) returns exactly the default
    (directory) branch's pairs."""
    from panelsplit_spark import queries_round8 as r8

    base = r8.q_dedup_incremental_store(spark, SF_DIR)
    rows_dir = sorted(map(tuple, base.collect()))
    monkeypatch.setattr(r8, "_BUCKETED_STORE_MIN_BYTES", 0)
    rows_bucketed = sorted(
        map(tuple, r8.q_dedup_incremental_store(spark, SF_DIR).collect())
    )
    assert rows_dir == rows_bucketed
    assert rows_dir, "gate corpus must produce at least one pair"


def test_corpus_bytes_walks_partitioned_dataset(spark, tmp_path):
    """A two-level partitioned documents.parquet is sized by its data
    files at every depth; Spark's ``.crc`` / ``_SUCCESS`` side files
    and ``_``/``.`` directories are not counted."""
    from panelsplit_spark import queries_round8 as r8

    dest = tmp_path / "documents.parquet"
    spark.range(40).select(
        (F.col("id") % 2).alias("a"),
        (F.col("id") % 3).alias("b"),
        F.col("id").cast("string").alias("text"),
    ).write.partitionBy("a", "b").parquet(str(dest))
    (dest / "_temporary").mkdir()
    (dest / "_temporary" / "part-stale.parquet").write_bytes(b"x" * 999)
    data = list(dest.glob("a=*/b=*/part-*.parquet"))
    assert len(data) >= 6
    assert r8._corpus_bytes(str(tmp_path)) == sum(
        f.stat().st_size for f in data
    )
