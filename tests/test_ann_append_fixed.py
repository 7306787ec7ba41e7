"""The fixed-books append twin: base+delta union semantics, hash-checked.

``ann_append_serving_fixed`` exists so the incremental-append contract
(watermark cut, frozen base models, O(delta) encode, base+delta codes
union — ``ann_index._base_info`` / ``cached_relation``) is verified by
the driver's DuckDB hash, not just rows-counted (VERDICT r13 order 1).
These tests pin the pieces the oracle parity rests on: the frozen-base
book resolution is a pure cache, the delta path never rewrites the base
artifact, and a poisoned base artifact is what serves (proving the load
path, the analogue of test_ann_index's KMeans-poison test).
"""

from __future__ import annotations

import os

import pytest

from mapreduce_hadoop_spark.operators import ann_index, similarity


@pytest.fixture()
def index_dir(tmp_path, monkeypatch):
    d = str(tmp_path / "annidx")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", d)
    ann_index.clear_memos()
    yield d
    ann_index.clear_memos()


def _demo_dirs(sf_dir: str) -> tuple[str, str]:
    root = os.path.join(
        ann_index.index_root(), "append_demo_fixed", ann_index._fingerprint(sf_dir)
    )
    return os.path.join(root, "base"), os.path.join(root, "full")


def _artifact_files(path: str) -> dict[str, tuple[int, float]]:
    return {
        f: (os.path.getsize(os.path.join(path, f)), os.path.getmtime(os.path.join(path, f)))
        for f in sorted(os.listdir(path))
    }


def test_fixed_serving_matches_oracle(spark, sf_dir, duck, index_dir):
    """End-to-end hash parity: the derived base/full lineage served
    through frozen fixed books equals the DuckDB restatement over the
    ORIGINAL corpus — the exact comparison the driver runs at sf0.01."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from tools.check_oracle import value_hash

    sdf = similarity.ann_append_serving_fixed(spark, sf_dir).toPandas()
    odf = duck.execute(similarity.ANN_APPEND_FIXED_ORACLE).df()
    assert len(sdf) == len(odf) == similarity.N_QUERIES * similarity.TOP_K
    assert value_hash(sdf) == value_hash(odf)


def test_delta_path_builds_once_and_leaves_base_untouched(spark, sf_dir, index_dir):
    """Serving the appended corpus must (a) create a delta codes
    artifact keyed by base fingerprint + watermark, (b) never rewrite
    the base snapshot's codes artifact, and (c) reproduce bit-identically
    on a warm re-serve with every memo dropped."""
    first = similarity.ann_append_serving_fixed(spark, sf_dir).collect()
    base_dir, full_dir = _demo_dirs(sf_dir)

    base_codes = os.path.join(
        ann_index._corpus_dir(base_dir), similarity.FIXED_CODES_FNAME
    )
    assert os.path.isfile(os.path.join(base_codes, "_SUCCESS"))
    before = _artifact_files(base_codes)

    info = ann_index._base_info(full_dir)
    assert info is not None and info["base"] == base_dir
    dname = (
        f"{similarity.FIXED_CODES_FNAME}.delta."
        f"{ann_index._fingerprint(base_dir)}.w{info['watermark']}"
    )
    dpath = os.path.join(ann_index._corpus_dir(full_dir), dname)
    assert os.path.isfile(os.path.join(dpath, "_SUCCESS")), dpath

    ann_index.clear_memos()
    second = similarity.ann_append_serving_fixed(spark, sf_dir).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    assert _artifact_files(base_codes) == before, "base codes artifact rewritten"


def test_frozen_base_books_are_a_pure_cache(spark, sf_dir, index_dir):
    """The fixed books are a pure function of the model corpus, so the
    frozen-base artifact load and the declared below-watermark recompute
    must return bit-identical rows — the property that makes the whole
    append path SQL-expressible."""
    similarity.ann_append_serving_fixed(spark, sf_dir).collect()
    _base_dir, full_dir = _demo_dirs(sf_dir)

    ann_index.clear_memos()
    from_base = similarity.topk_pq_fixed(spark, full_dir)  # loads frozen artifact
    rows_base = ann_index._MODEL_MEMO[
        (ann_index._fingerprint(full_dir), similarity.FIXED_BOOKS_FNAME)
    ]

    # Remove the base artifact; the full corpus now computes its books
    # from the declared below-watermark rows and persists its own copy.
    base_books = os.path.join(
        ann_index._corpus_dir(_base_dir), similarity.FIXED_BOOKS_FNAME
    )
    aside = base_books + ".aside"
    os.replace(base_books, aside)
    try:
        ann_index.clear_memos()
        similarity.topk_pq_fixed(spark, full_dir)
        rows_recomputed = ann_index._MODEL_MEMO[
            (ann_index._fingerprint(full_dir), similarity.FIXED_BOOKS_FNAME)
        ]
        assert [tuple(r[:2]) + (list(r[2]),) for r in rows_base] == [
            tuple(r[:2]) + (list(r[2]),) for r in rows_recomputed
        ]
    finally:
        os.replace(aside, base_books)
    del from_base


def test_poisoned_base_books_are_what_serve(spark, sf_dir, index_dir):
    """Frozen-model contract: the FULL corpus serves the BASE's persisted
    books — perturb the base artifact and the loaded rows must carry the
    perturbation (the fixed-books analogue of the KMeans-poison test)."""
    similarity.ann_append_serving_fixed(spark, sf_dir).collect()
    base_dir, full_dir = _demo_dirs(sf_dir)
    base_books = os.path.join(
        ann_index._corpus_dir(base_dir), similarity.FIXED_BOOKS_FNAME
    )
    loaded = ann_index._load_model(base_books, ["m", "code", "cd"])
    poisoned = [
        (int(m), int(c), [x + 1000.0 for x in cd]) for m, c, cd in loaded
    ]
    ann_index._save_model(
        base_books,
        {
            "m": [r[0] for r in poisoned],
            "code": [r[1] for r in poisoned],
            "cd": [r[2] for r in poisoned],
        },
    )
    # Drop the full corpus' own persisted copy if any (there is none by
    # default — fixed_model resolves the base artifact first) plus memos.
    full_books = os.path.join(
        ann_index._corpus_dir(full_dir), similarity.FIXED_BOOKS_FNAME
    )
    if os.path.exists(full_books):
        os.remove(full_books)
    ann_index.clear_memos()
    rows = ann_index.fixed_model(
        full_dir,
        similarity.FIXED_BOOKS_FNAME,
        ["m", "code", "cd"],
        lambda: (_ for _ in ()).throw(AssertionError("must load, not compute")),
    )
    assert all(x > 500.0 for _, _, cd in rows for x in cd)
