"""Persisted ANN index artifacts: the FAISS train/add split, machine-checked.

The contract (VERDICT r10 order 4): fitted model parameters (coarse
centroids, PQ codebooks, corpus counts) are written ONCE per corpus
snapshot under the index root; a warm session — even a brand-new Python
process — loads the artifact and plans ZERO training jobs; an in-place
corpus mutation changes the snapshot fingerprint so stale artifacts are
never served.
"""

from __future__ import annotations

import os
import shutil

import pytest

from mapreduce_hadoop_spark.operators import ann_index
from mapreduce_hadoop_spark.operators.similarity import _codes_histogram, _with_norm
from mapreduce_hadoop_spark.sources.tables import load_table


def _emb(spark, sf_dir):
    """The (vec_id, v, norm) relation every similarity operator trains
    on — coarse_centroids expects the projected column ``v``."""
    return _with_norm(load_table(spark, sf_dir, "embeddings"))


@pytest.fixture()
def index_dir(tmp_path, monkeypatch):
    d = str(tmp_path / "annidx")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", d)
    ann_index.clear_memos()
    yield d
    ann_index.clear_memos()


def test_warm_load_plans_zero_training_jobs(spark, sf_dir, index_dir, monkeypatch):
    """Second load of the same model must come from the disk artifact:
    after clearing the in-session memo, KMeans itself is poisoned — if
    the warm path ever re-fits, the test explodes."""
    emb = _emb(spark, sf_dir)
    cold = ann_index.coarse_centroids(spark, emb, sf_dir, k=4)
    assert len(cold) == 4 and len(cold[0][1]) > 0

    ann_index.clear_memos()
    import pyspark.ml.clustering as mlc

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("warm load must not re-fit KMeans")

    monkeypatch.setattr(mlc, "KMeans", boom)
    warm = ann_index.coarse_centroids(spark, emb, sf_dir, k=4)
    assert warm == cold


def test_artifacts_keyed_by_corpus_fingerprint(spark, sf_dir, index_dir, tmp_path):
    """An in-place corpus rewrite (same path, new bytes/mtime) must yield
    a NEW snapshot key — stale artifacts orphan instead of serving."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"),
        corpus / "embeddings.parquet",
    )
    key1 = ann_index._fingerprint(str(corpus))
    # Same snapshot -> same key (stable across calls).
    assert ann_index._fingerprint(str(corpus)) == key1
    os.utime(corpus / "embeddings.parquet", ns=(1, 1))
    key2 = ann_index._fingerprint(str(corpus))
    assert key2 != key1


def test_corpus_count_persists(spark, sf_dir, index_dir, monkeypatch):
    emb = _emb(spark, sf_dir)
    n = ann_index.corpus_count(emb, sf_dir)
    assert n == emb.count()
    # Warm path: memo cleared, count() poisoned -> must read meta.json.
    ann_index.clear_memos()
    from pyspark.sql import DataFrame

    def boom(self):  # pragma: no cover - failure path
        raise AssertionError("warm corpus_count must not run a count() job")

    monkeypatch.setattr(DataFrame, "count", boom)
    assert ann_index.corpus_count(emb, sf_dir) == n


def _kinds(spark, sf_dir):
    """The four model artifacts ``fixed_model`` resolves, as zero-arg
    loaders: coarse centroids, PQ books, a code histogram and the query
    vectors."""
    import pyspark.sql.functions as F

    emb = _emb(spark, sf_dir)
    nvt = emb.select(
        "vec_id", F.transform(F.col("v"), lambda x: x / F.col("norm")).alias("nv")
    )
    codes = emb.select(
        "vec_id", *[((F.col("vec_id") + m) % 8).cast("int").alias(f"c{m}") for m in range(2)]
    )
    return {
        "coarse": lambda: ann_index.coarse_centroids(spark, emb, sf_dir, k=4),
        "pq_books": lambda: ann_index.pq_codebooks(
            spark, nvt, sf_dir, 4, 16, 8, tag="nv"
        ),
        "histogram": lambda: _codes_histogram(spark, codes, sf_dir, 2, 8, "probe"),
        "queries": lambda: ann_index.query_vectors(emb, sf_dir, 5),
    }


def _py_types(v):
    """The nested Python types of a model's rows."""
    if isinstance(v, (list, tuple)):
        return (type(v), tuple(_py_types(x) for x in v))
    return type(v)


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("kind", ["coarse", "pq_books", "histogram", "queries"])
def test_pq_codebooks_shape_and_warm_identity(spark, sf_dir, index_dir, monkeypatch, kind):
    """Every model kind resolves through the one load-or-compute path:
    the warm call (memos cleared, so it must come from the disk
    artifact) launches no Spark job, never re-fits, and returns rows
    equal to the cold rows with the same Python types."""
    load = _kinds(spark, sf_dir)[kind]
    cold, cold_jobs = _jobs_in(spark, f"cold_{kind}", load)
    assert cold and cold_jobs > 0
    if kind == "pq_books":
        m_sub, sub, k = 4, 16, 8
        assert len(cold) == m_sub * k
        assert all(len(cd) == sub for _, _, cd in cold)
        assert {m for m, _, _ in cold} == set(range(m_sub))
        assert {c for _, c, _ in cold} == set(range(k))

    ann_index.clear_memos()
    import pyspark.ml.clustering as mlc

    monkeypatch.setattr(
        mlc, "KMeans", lambda *a, **kw: (_ for _ in ()).throw(AssertionError("refit"))
    )
    warm, warm_jobs = _jobs_in(spark, f"warm_{kind}", load)
    assert warm_jobs == 0
    assert warm == cold
    assert _py_types(warm) == _py_types(cold)


def test_query_vectors_never_read_the_append_base(spark, sf_dir, index_dir, tmp_path):
    """On a declared lineage the query vectors come from the live corpus:
    the base snapshot's ``queries_n*.parquet`` is never loaded, even
    when it exists."""
    import json

    base = tmp_path / "base"
    base.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"), base / "embeddings.parquet"
    )
    live = ann_index.query_vectors(_emb(spark, str(base)), str(base), 5)
    # Doctor the base artifact: any read of it would now serve zeros.
    ann_index._save_model(
        os.path.join(ann_index._corpus_dir(str(base)), "queries_n5.parquet"),
        {"vec_id": [i for i, _ in live], "v": [[0.0] * len(v) for _, v in live]},
    )
    app = tmp_path / "app"
    app.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"), app / "embeddings.parquet"
    )
    with open(app / "ann_base.json", "w") as f:
        json.dump({"base": str(base), "watermark": 10}, f)
    ann_index.clear_memos()
    assert ann_index.query_vectors(_emb(spark, str(app)), str(app), 5) == live


def test_volatile_corpus_gets_no_disk_artifact(spark, sf_dir, index_dir, tmp_path):
    """Unlistable/remote corpus -> volatile fingerprint, session-memo only:
    a path whose bytes cannot be fingerprinted must never serve a stale
    model across sessions (mirrors parquet_scan_width's
    unknown-never-narrow stance)."""
    key = ann_index._fingerprint("/no/such/dir")
    assert key.startswith("volatile-")
    assert not ann_index._durable(key)

    # A count against a volatile key memoizes but writes nothing to disk.
    emb = _emb(spark, sf_dir)
    n = ann_index.corpus_count(emb, "/no/such/dir")
    assert n == emb.count()
    assert key in ann_index._META_MEMO
    assert not os.path.exists(index_dir) or key not in os.listdir(index_dir)


def test_cached_relation_builds_once(spark, sf_dir, index_dir):
    """The FAISS `add` half: second load must come from the parquet
    artifact — the build callable is poisoned after the first call."""
    emb = _emb(spark, sf_dir)
    small = emb.select("vec_id").limit(7)
    got = ann_index.cached_relation(spark, sf_dir, "t.parquet", lambda: small)
    assert got.count() == 7

    def boom():  # pragma: no cover - failure path
        raise AssertionError("warm cached_relation must not rebuild")

    warm = ann_index.cached_relation(spark, sf_dir, "t.parquet", boom)
    assert warm.count() == 7
    # And the artifact is a committed Spark parquet directory.
    d = os.path.join(index_dir, ann_index._fingerprint(sf_dir), "t.parquet")
    assert os.path.isfile(os.path.join(d, "_SUCCESS"))


def test_cached_relation_volatile_skips_disk(spark, sf_dir, index_dir):
    emb = _emb(spark, sf_dir)
    small = emb.select("vec_id").limit(3)
    got = ann_index.cached_relation(spark, "/no/such/dir", "t.parquet", lambda: small)
    assert got.count() == 3
    key = ann_index._fingerprint("/no/such/dir")
    assert not os.path.exists(os.path.join(index_dir, key))


def test_incremental_append_serves_without_refit(spark, sf_dir, index_dir, tmp_path, monkeypatch):
    """The FAISS ``add`` contract (round 12): an append-only corpus with
    a declared lineage (ann_base.json) serves against the BASE
    snapshot's FROZEN models — KMeans is poisoned, so any refit
    explodes — encoding ONLY the appended rows into a delta artifact;
    the base codes artifact's bytes are untouched, and the appended
    vectors are immediately searchable (an exact duplicate of each
    query vector must come back at cosine 1.0)."""
    import json

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mapreduce_hadoop_spark.operators.similarity import (
        N_QUERIES,
        topk_ivfpq_trained,
        topk_pq_trained,
        unpersist_intermediates,
    )

    base = tmp_path / "base"
    base.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"), base / "embeddings.parquet"
    )
    # Index the base snapshot (train + add, persisted under its key).
    for fn in (topk_pq_trained, topk_ivfpq_trained):
        fn(spark, str(base)).collect()
        unpersist_intermediates()

    # Appended corpus: base rows + an exact duplicate of every query
    # vector at vec_id = watermark + qid.
    wm = 1_000_000
    t = pq.read_table(base / "embeddings.parquet")
    dup = t.filter(pc.less(t.column("vec_id"), pa.scalar(N_QUERIES)))
    dup = dup.set_column(
        dup.schema.get_field_index("vec_id"),
        dup.schema.field("vec_id"),
        pc.add(dup.column("vec_id"), pa.scalar(wm, pa.int64())),
    )
    app = tmp_path / "app"
    app.mkdir()
    pq.write_table(pa.concat_tables([t, dup]), app / "embeddings.parquet")
    with open(app / "ann_base.json", "w") as f:
        json.dump({"base": str(base), "watermark": wm}, f)

    base_key = ann_index._fingerprint(str(base))
    base_dir = os.path.join(index_dir, base_key)
    snapshot = {
        os.path.join(r, fn): os.path.getmtime(os.path.join(r, fn))
        for r, _, fns in os.walk(base_dir)
        for fn in fns
    }
    assert any("codes_" in p for p in snapshot)

    ann_index.clear_memos()
    import pyspark.ml.clustering as mlc

    monkeypatch.setattr(
        mlc,
        "KMeans",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("append must serve frozen models, not refit")
        ),
    )
    for fn in (topk_pq_trained, topk_ivfpq_trained):
        rows = fn(spark, str(app)).collect()
        unpersist_intermediates()
        hits = {
            (r["query_id"], r["vec_id"]) for r in rows if r["cosine"] == 1.0
        }
        for qid in range(N_QUERIES):
            assert (qid, wm + qid) in hits, (fn.__name__, qid)

    # Base artifacts byte-untouched; delta artifacts live under the
    # APPENDED corpus' own fingerprint.
    after = {
        os.path.join(r, fn): os.path.getmtime(os.path.join(r, fn))
        for r, _, fns in os.walk(base_dir)
        for fn in fns
    }
    assert after == snapshot
    app_dir = os.path.join(index_dir, ann_index._fingerprint(str(app)))
    deltas = [d for d in os.listdir(app_dir) if ".delta." in d]
    # Flat-PQ codes + IVF-PQ residual codes; both builders re-rank from
    # the corpus itself, so no raw-vector copy is committed.
    assert len(deltas) == 2, deltas
    for d in deltas:
        # The delta name keys the base fingerprint AND the watermark
        # (ADVICE r12): an in-place ann_base.json edit must orphan it.
        assert f".delta.{base_key}.w{wm}" in d, d
        assert os.path.isfile(os.path.join(app_dir, d, "_SUCCESS"))
        n_delta = pq.read_table(os.path.join(app_dir, d)).num_rows
        assert n_delta == N_QUERIES, (d, n_delta)

    # Rewriting the DECLARATION in place (same embeddings bytes, new
    # watermark) must orphan the old delta: the served union re-encodes
    # under the new watermark instead of silently riding the stale one.
    ann_index.cached_relation(
        spark,
        str(base),
        "t.parquet",
        lambda: spark.createDataFrame([(1,)], "vec_id long"),
    )
    built = []

    def delta(w):
        built.append(w)
        return spark.createDataFrame([(w,)], "vec_id long")

    for new_wm in (wm + 1, wm + 2):
        ann_index.clear_memos()
        with open(app / "ann_base.json", "w") as f:
            json.dump({"base": str(base), "watermark": new_wm}, f)
        got = ann_index.cached_relation(
            spark,
            str(app),
            "t.parquet",
            lambda: (_ for _ in ()).throw(AssertionError("base must serve")),
            delta_build=delta,
        )
        assert got.count() == 2
    assert built == [wm + 1, wm + 2]


def test_fingerprint_directory_source_is_durable(spark, sf_dir, index_dir, tmp_path):
    """A directory-shaped embeddings.parquet (standard Spark writer
    output) must fingerprint durably from its largest part file — before
    round 13 it IsADirectoryError'd into volatile, silently disabling
    artifact persistence — and a regeneration with different bytes must
    re-key."""
    import pyarrow.parquet as pq

    corpus = tmp_path / "corpus"
    emb_dir = corpus / "embeddings.parquet"
    emb_dir.mkdir(parents=True)
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    pq.write_table(t.slice(0, 100), emb_dir / "part-00000.parquet")
    pq.write_table(t.slice(100, 50), emb_dir / "part-00001.parquet")

    key = ann_index._fingerprint(str(corpus))
    assert not key.startswith("volatile-")
    # Stable across calls (memoized) and across processes (stat-derived).
    assert ann_index._fingerprint(str(corpus)) == key
    ann_index.clear_memos()
    assert ann_index._fingerprint(str(corpus)) == key

    # Regenerating the largest member in place (same mtime preserved via
    # utime) still re-keys: the footer hash sees the new bytes.
    st = os.stat(emb_dir / "part-00000.parquet")
    pq.write_table(t.slice(200, 100), emb_dir / "part-00000.parquet")
    os.utime(emb_dir / "part-00000.parquet", ns=(st.st_atime_ns, st.st_mtime_ns))
    ann_index.clear_memos()
    key2 = ann_index._fingerprint(str(corpus))
    if os.path.getsize(emb_dir / "part-00000.parquet") == st.st_size:
        assert key2 != key  # footer must carry the difference
    else:
        assert key2 != key  # size already re-keys


def test_fingerprint_memoized_one_footer_read(sf_dir, monkeypatch):
    """The 64 KiB footer read runs once per stat-identical snapshot per
    session (ADVICE r12: it was re-read on every call)."""
    ann_index.clear_memos()
    opens = []
    real_open = open

    def counting_open(path, *a, **k):
        if str(path).endswith(".parquet"):
            opens.append(str(path))
        return real_open(path, *a, **k)

    monkeypatch.setattr("builtins.open", counting_open)
    k1 = ann_index._fingerprint(sf_dir)
    k2 = ann_index._fingerprint(sf_dir)
    k3 = ann_index._fingerprint(sf_dir)
    assert k1 == k2 == k3
    assert len(opens) == 1, opens


def test_append_lineage_missing_base_meta_warns(spark, sf_dir, index_dir, tmp_path):
    """A declared lineage whose base was never indexed falls back to the
    live count — correct but expensive — and must say so (ADVICE r12:
    the silent fallback hid a full retrain behind an 'append')."""
    import json
    import warnings

    import pyarrow.parquet as pq

    base = tmp_path / "base"
    base.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"), base / "embeddings.parquet"
    )
    app = tmp_path / "app"
    app.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"), app / "embeddings.parquet"
    )
    with open(app / "ann_base.json", "w") as f:
        json.dump({"base": str(base), "watermark": 10}, f)

    emb = _emb(spark, str(app))
    live_n = pq.read_metadata(app / "embeddings.parquet").num_rows
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        n = ann_index.model_corpus_count(emb, str(app))
    assert n == live_n
    assert any("no index meta.json" in str(w.message) for w in caught), [
        str(w.message) for w in caught
    ]

    # Once the base is indexed (meta.json exists) the frozen geometry
    # resolves silently.
    ann_index.corpus_count(_emb(spark, str(base)), str(base))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        n2 = ann_index.model_corpus_count(emb, str(app))
    assert n2 == live_n  # same bytes, so same n — but from the base meta
    assert not caught, [str(w.message) for w in caught]


def test_train_sample_caps_large_corpora(spark, sf_dir, index_dir, monkeypatch):
    """Up to TRAIN_SAMPLE_CAP rows the k-means input is the whole corpus;
    above it, a deterministic xxhash64(vec_id) sample of about the cap —
    in one vec_id-sorted partition either way."""
    emb = _emb(spark, sf_dir)
    n = emb.count()
    assert ann_index._train_sample(emb, sf_dir).count() == n
    cap = n // 4
    monkeypatch.setattr(ann_index, "TRAIN_SAMPLE_CAP", cap)
    sample = ann_index._train_sample(emb, sf_dir)
    assert sample.rdd.getNumPartitions() == 1
    ids = [r["vec_id"] for r in sample.collect()]
    assert 0 < len(ids) < 2 * cap
    assert ids == sorted(set(ids))
    assert [r["vec_id"] for r in ann_index._train_sample(emb, sf_dir).collect()] == ids


def test_base_declaration_ignored_unless_readable_and_durable(tmp_path):
    """An append declaration (``ann_base.json``) that cannot be parsed, or
    whose base cannot be fingerprinted, is ignored: frozen models never
    ride an unverifiable lineage."""
    import json

    decl = tmp_path / "ann_base.json"
    assert ann_index._base_info(str(tmp_path)) is None  # no declaration
    decl.write_text("{not json")
    assert ann_index._base_info(str(tmp_path)) is None
    decl.write_text(json.dumps({"base": str(tmp_path / "gone"), "watermark": 3}))
    assert ann_index._base_info(str(tmp_path)) is None
    base = tmp_path / "base"
    base.mkdir()
    (base / "embeddings.parquet").write_bytes(b"PAR1")
    decl.write_text(json.dumps({"base": str(base), "watermark": 3}))
    assert ann_index._base_info(str(tmp_path)) == {"base": str(base), "watermark": 3}


def test_write_committed_post_swap_recheck(spark, index_dir, tmp_path):
    """The swap must end with a committed build in place; replacing an
    existing artifact goes through the aside-rename (never an in-place
    rmtree) and cleans up after itself."""
    path = str(tmp_path / "rel.parquet")
    one = spark.createDataFrame([(1,)], "a long")
    ann_index._write_committed(one, path)
    assert os.path.isfile(os.path.join(path, "_SUCCESS"))
    two = spark.createDataFrame([(1,), (2,)], "a long")
    ann_index._write_committed(two, path)
    assert spark.read.parquet(path).count() == 2
    leftovers = [
        d for d in os.listdir(tmp_path) if ".old." in d or ".tmp." in d
    ]
    assert not leftovers, leftovers


def test_fit_is_layout_independent(spark, sf_dir, index_dir, tmp_path):
    """The canonicalized training sample (one partition, vec_id-sorted —
    ``_train_sample``) makes every KMeans fit a pure
    function of LOGICAL corpus content. Same rows written in a shuffled
    physical order must yield bit-identical coarse centroids AND PQ
    books — the property whose absence shifted hashes across sessions
    (k-means|| seeds by row position; 48705ef:SCALE_ann_r15.md §1
    records 1999/2000 book cells moving without the canonicalization)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    src = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    perm = np.random.default_rng(7).permutation(src.num_rows)
    shuf = tmp_path / "shuffled_corpus"
    shuf.mkdir()
    pq.write_table(src.take(pa.array(perm)), str(shuf / "embeddings.parquet"))

    def fits(d):
        emb = _emb(spark, d)
        cents = ann_index.coarse_centroids(spark, emb, d, k=8)
        nvt = emb.select(
            "vec_id",
            F.transform(F.col("v"), lambda x: x / F.col("norm")).alias("nv"),
        )
        books = ann_index.pq_codebooks(spark, nvt, d, 4, 16, 8, tag="nv")
        return cents, sorted(books)

    orig = fits(sf_dir)
    shuffled = fits(str(shuf))
    assert shuffled[0] == orig[0], "coarse centroids track physical row order"
    assert shuffled[1] == orig[1], "PQ books track physical row order"


def test_zero_row_delta_serves_base_alone(spark, sf_dir, index_dir, tmp_path):
    """A degenerate append declaration (watermark above every vec_id —
    a legal zero-row delta) must serve the base artifact alone: the
    zero-row delta commits an empty data file that reads back as 0
    rows, so the base+delta union equals the base (ADVICE r15)."""
    import json

    base = tmp_path / "base"
    base.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"), base / "embeddings.parquet"
    )
    emb_base = _emb(spark, str(base))
    app = tmp_path / "app"
    app.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"), app / "embeddings.parquet"
    )
    with open(app / "ann_base.json", "w") as f:
        json.dump({"base": str(base), "watermark": 1 << 40}, f)

    import pyspark.sql.functions as F

    name = "zrd_flat.parquet"
    got = ann_index.cached_relation(
        spark,
        str(base),
        name,
        lambda: emb_base.select(
            "vec_id", (F.col("vec_id") % 4).cast("int").alias("cent_id")
        ),
        delta_build=None,
    )
    n_base = got.count()
    emb_app = _emb(spark, str(app))
    served = ann_index.cached_relation(
        spark,
        str(app),
        name,
        lambda: emb_app.select(
            "vec_id", (F.col("vec_id") % 4).cast("int").alias("cent_id")
        ),
        delta_build=lambda wm: emb_app.filter(F.col("vec_id") >= wm).select(
            "vec_id", (F.col("vec_id") % 4).cast("int").alias("cent_id")
        ),
    )
    dpath = os.path.join(
        ann_index._corpus_dir(str(app)), name + ".delta" + ann_index.lineage_suffix(str(app))
    )
    assert os.path.isfile(os.path.join(dpath, "_SUCCESS")), dpath
    assert served.count() == n_base
