"""Derive a larger scale factor from the driver testdata by key-shifted
replication, for scale validation of the gate and bench beyond sf0.1.

Each replica r shifts every key-family column by r * OFFSET (consistently
across tables, so the relational structure — events.user_id ->
customer.c_custkey, lineitem.l_orderkey -> orders.o_orderkey, embeddings.
vec_id <-> documents.doc_id — stays intact), and leaves values/timestamps
untouched: 10 replicas of sf0.1 behave like sf1 (10x keys, 10x rows, same
per-key history). Query-pinned key ranges (similarity query vectors
vec_id < 10, IVF centroids [100, 116)) live only in replica 0, so the
probe set stays fixed while the corpus scales — the realistic shape.
Schemas are preserved bit-for-bit (pyarrow, single parquet file per table,
timestamp[ns] intact) so both Spark's and DuckDB's readers see exactly the
driver layout.

``--mutate`` makes the DERIVED similarity structure organic instead of
quadratic: byte-identical replication turns every true near-dup pair into
~factor^2 replica pairs (output-bound by data shape), which is why the
pair-generation family was excluded from earlier scale probes. Mutation
keeps replica 0 byte-identical (query-pinned probe/centroid key ranges
live there) and, for each replica r > 0, applies a replica-keyed
CONTENT-preserving transform:

- documents.text: a deterministic token-TYPE substitution (md5(token|r)
  selects ~60% of the vocabulary; each selected token t becomes "t'x{r}'").
  Tokenwise injective, so within a replica every Jaccard is EXACTLY the
  source corpus's Jaccard (shingle sets map 1:1), while across replicas
  a 3-shingle survives both substitutions with p ~ (0.4^2)^3 ~ 0.004,
  pushing cross-replica similarity far below the 0.5 pair threshold.
- embeddings.embedding: a replica-keyed coordinate permutation COMPOSED
  with a diagonal +-1 sign flip — exactly orthogonal, so norms and all
  intra-replica cosines are EXACTLY preserved, while cross-replica
  cosines collapse toward the random-direction baseline (the sign flip
  kills the corpus's shared mean component, which a permutation alone
  preserves).

Result: true pair counts grow ~linearly in factor, so the pair family
(minhash/simhash/jaccard/embedding near-dup) can be scale-probed on the
derived data without the replica^2 output artifact.

``--skew`` additionally concentrates keys the way production power laws
do — one hot taxi absorbs ~10% of all positions (events.user_id) and one
hot source ~50% of all documents (documents.source) — while keys stay
valid FKs (the hot values are existing ones). This is the stress shape for
the sessionize window (one giant partition key), the per-source corpus
ops, and AQE's skew-join handling; 48705ef:SKEW_r4.md records the measured
bench deltas vs the uniform derivation.

Usage: python tools/make_scale_data.py [factor=10] [src=/root/testdata/sf0.1]
       [dst=<repo>/.scale_data/sf1] [--skew]
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFF = {
    "C": 10_000_000,  # custkey / user_id
    "O": 10_000_000,  # orderkey
    "P": 1_000_000,  # partkey
    "S": 1_000_000,  # suppkey
    "E": 100_000_000,  # event_id
    "D": 10_000_000,  # doc_id / vec_id
}
SHIFT_COLS = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": "C"},
    "supplier": {"s_suppkey": "S"},
    "part": {"p_partkey": "P"},
    "orders": {"o_orderkey": "O", "o_custkey": "C"},
    "lineitem": {"l_orderkey": "O", "l_partkey": "P", "l_suppkey": "S"},
    "events": {"event_id": "E", "user_id": "C"},
    "documents": {"doc_id": "D"},
    "embeddings": {"vec_id": "D"},
}


def _apply_skew(table: str, out: pa.Table) -> pa.Table:
    """Concentrate keys onto one hot value, deterministically by row key.

    events: rows with event_id % 10 == 0 (~10%) move to the hot taxi (the
    minimum user_id, which exists in customer so the FK holds).
    documents: rows with doc_id % 2 == 0 (~50%) move to the hot source
    (the first source value present).
    """
    if table == "events":
        hot = pc.min(out.column("user_id"))
        mask = pa.array(out.column("event_id").to_numpy() % 10 == 0)
        newcol = pc.if_else(mask, hot, out.column("user_id"))
        return out.set_column(
            out.schema.get_field_index("user_id"),
            out.schema.field("user_id"),
            newcol.cast(out.schema.field("user_id").type),
        )
    if table == "documents":
        hot = out.column("source")[0]
        mask = pa.array(out.column("doc_id").to_numpy() % 2 == 0)
        newcol = pc.if_else(mask, hot, out.column("source"))
        return out.set_column(
            out.schema.get_field_index("source"),
            out.schema.field("source"),
            newcol.cast(out.schema.field("source").type),
        )
    return out


# % of token types substituted per replica. 60 rather than a gentler rate
# because the synthetic vocabulary is only 31 types: at 35% the both-
# replicas-unmutated type set is large enough that short documents kept
# cross-replica Jaccard above the 0.5 pair threshold (measured 2.3x-linear
# growth at factor 10); at 60% a shingle survives both substitutions with
# p ~ (0.4^2)^3 ~ 0.004 and growth is ~linear.
MUTATE_PCT = 60


def _mutate_text(col: pa.ChunkedArray, vocab: list[str], r: int) -> pa.ChunkedArray:
    """Replica-keyed token-type substitution (see module docstring)."""
    import hashlib
    import re

    out = col
    for tok in vocab:
        sel = int(hashlib.md5(f"{tok}|{r}".encode()).hexdigest()[:8], 16) % 100
        if sel < MUTATE_PCT:
            # re.escape: an arbitrary source dir may carry tokens with regex
            # metacharacters; an unescaped token would corrupt the
            # substitution (breaking the injectivity/exact-Jaccard guarantee)
            # or raise mid-replication.
            out = pc.replace_substring_regex(
                out, pattern=rf"\b{re.escape(tok)}\b", replacement=f"{tok}x{r}"
            )
    return out


def _mutate_embedding(col: pa.ChunkedArray, r: int) -> pa.Array:
    """Replica-keyed coordinate permutation (orthogonal; see docstring)."""
    import numpy as np

    flat = pc.list_flatten(col).to_numpy(zero_copy_only=False)
    n = len(col)
    dim = len(flat) // n
    rng = np.random.default_rng(1_000_003 * r + 17)
    perm = rng.permutation(dim)
    # Permutation alone preserved the corpus's shared mean component (the
    # all-ones direction is permutation-invariant), keeping cross-replica
    # cosines high — a replica-keyed diagonal +-1 flip kills it while the
    # combined transform stays exactly orthogonal.
    signs = (rng.integers(0, 2, size=dim) * 2 - 1).astype("float32")
    arr = flat.reshape(n, dim)[:, perm] * signs
    return pa.FixedSizeListArray.from_arrays(
        pa.array(arr.reshape(-1), type=pa.float32()), dim
    ).cast(col.type)


def _doc_vocab(src: str) -> list[str]:
    t = pq.read_table(f"{src}/documents.parquet", columns=["text"])
    vocab: set[str] = set()
    for s in t.column("text").to_pylist():
        vocab.update(s.split())
    return sorted(vocab)


def replicate(
    src: str, dst: str, factor: int, skew: bool = False, mutate: bool = False
) -> None:
    os.makedirs(dst, exist_ok=True)
    vocab = _doc_vocab(src) if mutate else []
    for table, shifts in SHIFT_COLS.items():
        t = pq.read_table(f"{src}/{table}.parquet")
        if not shifts:  # fixed dims: single copy
            out = t
        else:
            parts = []
            for r in range(factor):
                cols = {}
                for name, fam in shifts.items():
                    col = t.column(name)
                    cols[name] = pc.add(col, pa.scalar(r * OFF[fam], col.type))
                if mutate and r > 0 and table == "documents":
                    cols["text"] = _mutate_text(t.column("text"), vocab, r)
                if mutate and r > 0 and table == "embeddings":
                    cols["embedding"] = _mutate_embedding(t.column("embedding"), r)
                parts.append(
                    pa.table(
                        {n: cols.get(n, t.column(n)) for n in t.schema.names},
                        schema=t.schema,
                    )
                )
            out = pa.concat_tables(parts)
        if skew:
            out = _apply_skew(table, out)
        pq.write_table(out, f"{dst}/{table}.parquet")
        back = pq.read_schema(f"{dst}/{table}.parquet")
        assert back.equals(t.schema), (table, back, t.schema)
        print(f"{table}: {t.num_rows} -> {out.num_rows} rows")
    # The dataset under dst may have been rewritten in place: drop the
    # fitted IVF models memoized in this process so queries refit on the
    # new data.
    try:
        from mapreduce_hadoop_spark.operators import ann_index

        ann_index.clear_memos()
    except ImportError:
        pass  # standalone use outside the repo: nothing cached to clear


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a not in ("--skew", "--mutate")]
    skew = "--skew" in sys.argv[1:]
    mutate = "--mutate" in sys.argv[1:]
    factor = int(args[0]) if len(args) > 0 else 10
    src = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    dst = (
        args[2]
        if len(args) > 2
        else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".scale_data",
            "sf1skew" if skew else "sf1",
        )
    )
    replicate(src, dst, factor, skew, mutate)
