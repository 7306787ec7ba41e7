"""The driver-window rotation policy (registry.py docstring), machine-checked.

The correctness driver only ever sees the first DRIVER_WINDOW registry
entries, so a rotation mistake (a changed query left in the tail, or a
tail entry whose last driver row has aged out) would silently weaken the
evidence chain. These tests make that a suite failure instead.
"""

from __future__ import annotations

import json
import os
import re

from mapreduce_hadoop_spark import registry

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _names() -> list[str]:
    return list(registry.queries())


def _correctness_rounds() -> dict[int, str]:
    rounds = {}
    for fn in os.listdir(REPO_ROOT):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fn)
        if m:
            rounds[int(m.group(1))] = fn
    assert rounds, "no CORRECTNESS_r*.json committed"
    return rounds


def test_head_window_size_and_total():
    names = _names()
    assert len(names) >= registry.DRIVER_WINDOW, len(names)
    # Update alongside registering/retiring queries. Round 17: 92 - 1
    # retirement + 1 new (similarity_topk_ivf_spann_fixed) = 92 — at the
    # cap.
    assert len(names) == 92, len(names)
    # Size policy: past MAX_REGISTRY the 2-round rotation cadence cannot
    # cover every entry — adding a query then requires retiring one.
    assert len(names) <= registry.MAX_REGISTRY, (
        f"registry {len(names)} > MAX_REGISTRY {registry.MAX_REGISTRY}: "
        "retire an entry (see the size policy in registry.py)"
    )
    head = registry.HEAD
    assert len(head) == registry.DRIVER_WINDOW, len(head)
    assert len(set(head)) == len(head), "duplicate names in HEAD"
    assert names[: registry.DRIVER_WINDOW] == list(head)


# Rule 1a pins: {query: (gate_log_filename, pre_rewrite_hash)} where the
# hash is read from the gate log as committed BEFORE the rewrite landed
# (round 8: GATE_sf0.01_r7.log at commit c9dc989) and the filename is the
# REGENERATED post-rewrite log whose SRCHASH must match the current tree.
# Must cover exactly registry.REWRITTEN_HASH_IDENTICAL — and MUST be
# updated in the SAME commit that edits that tuple (rounds 8 and 9 both
# shipped a red handoff by moving only one side).
PINNED_REWRITE_HASHES: dict[str, tuple[str, str]] = {
    # Round 17 pins (the lazy flat-codes re-layout's two consumers),
    # carried forward through the round-18 optimization rewrites: the
    # pre-rewrite hashes are still the committed GATE_sf0.01_r16.log /
    # r17 rows; the post log is regenerated at the current operator tree.
    "similarity_topk_ivfpq_fixed": ("GATE_sf0.01_r27.log", "6a1948aaeb5952e9"),
    "similarity_topk_ivfpq_trained": ("GATE_sf0.01_r27.log", "301db5bb25ca2186"),
    # Round 18 (optimization round): tail queries whose PLANS were
    # rewritten (guide-§2.4 shuffle removals — fused corpus scan,
    # map-side IVF assignment, one-shuffle LSH candidates, shared
    # quality_exprs) with outputs verified bit-identical. Pre-rewrite
    # hashes = the committed GATE_sf0.01_r17.log rows.
    "corpus_clean_stats": ("GATE_sf0.01_r27.log", "1c8da89924dfdcf7"),
    "similarity_topk_ivf_adaptive": ("GATE_sf0.01_r27.log", "ca0d1a60e6a9b222"),
    "dedup_clusters": ("GATE_sf0.01_r27.log", "9a946014010f31c1"),
    "dedup_keep_best": ("GATE_sf0.01_r27.log", "e739163b2c22caaf"),
    "text_quality_score": ("GATE_sf0.01_r27.log", "d7227a8ffa987e13"),
    "dedup_exact": ("GATE_sf0.01_r27.log", "7ab7bc08b2572bb0"),
    "dedup_exact_normalized": ("GATE_sf0.01_r27.log", "ea26fcaddcc61a85"),
    # Second r18 batch (candidate-side exchange fold in topk_lsh; the
    # simhash zero-shingle filter moved to a token-count test at the
    # scan). Pre-rewrite hashes = the committed GATE_sf0.01_r17.log rows.
    "similarity_topk_lsh": ("GATE_sf0.01_r27.log", "0e7f2f0d8d7a2cfb"),
    "dedup_simhash": ("GATE_sf0.01_r27.log", "15ca8f177d42b079"),
    "segment_customer_setops": ("GATE_sf0.01_r27.log", "e75cc4483c2d5a2f"),
    "text_tfidf_top_terms": ("GATE_sf0.01_r27.log", "233a4fef595713c6"),
    # Round 19 (optimization round 2): the banded-LSH near-dup pass was
    # de-payloaded (id-only bucket pairs + vector re-attach joins, VERDICT
    # r18 order 1); corpus_clean_stats' r19 broadcast anti-join rides its
    # existing pin above. Pre-rewrite hash = the committed
    # GATE_sf0.01_r18.log row; the post log is the regenerated r19 tree's.
    "similarity_near_dup_lsh": ("GATE_sf0.01_r27.log", "8c65978035fd9679"),
}


def test_hash_identical_rewrites_pinned():
    """Rule 1a: a rewrite may stay in the tail only while its output is
    provably unchanged — the committed gate log (REGENERATED after the
    rewrite: its `# SRCHASH` line must match the current operator tree,
    closing the stale-log loophole) must still carry the exact pre-rewrite
    value hashes. If an optimization ever changes output bytes, this fails
    and the query must move to the driver head.
    """
    assert set(PINNED_REWRITE_HASHES) == set(registry.REWRITTEN_HASH_IDENTICAL)
    if not PINNED_REWRITE_HASHES:
        return
    from tools.check_oracle import src_hash

    logs_checked = set()
    for q, (log_name, h) in PINNED_REWRITE_HASHES.items():
        with open(os.path.join(REPO_ROOT, log_name)) as f:
            log = f.read()
        if log_name not in logs_checked:
            m = re.search(r"# SRCHASH ([0-9a-f]+)", log)
            assert m and m.group(1) == src_hash(), (
                f"{log_name} was not regenerated after the last change to "
                "the operator tree — re-run tools/check_oracle.py and "
                "commit the refreshed log"
            )
            logs_checked.add(log_name)
        # PASS lines (hash-verified queries) and ok? lines (rows-only —
        # hashed since round 12) both carry the same value hash.
        m = re.search(rf"(?:PASS|ok\?)\s+{q}:.*?rows=\d+ hash=([0-9a-f]+)", log)
        assert m, f"{q} missing from {log_name}"
        assert m.group(1) == h, f"{q}: output changed ({m.group(1)} != {h})"


def test_staged_entries_are_new_and_in_tail():
    """Rule 1b: STAGED_NEXT_ROUND entries must be genuinely new (no driver
    row in ANY committed round — once one exists they leave the tuple) and
    must sit in the tail (they did not fit this round's head window).
    """
    rounds = _correctness_rounds()
    seen: set[str] = set()
    for fn in rounds.values():
        with open(os.path.join(REPO_ROOT, fn)) as f:
            seen |= set(json.load(f))
    tail = set(_names()[registry.DRIVER_WINDOW :])
    for q in registry.STAGED_NEXT_ROUND:
        assert q in tail, f"staged entry {q} not in the tail"
        assert q not in seen, f"{q} has a driver row; remove it from STAGED"


def test_changed_queries_are_in_driver_window():
    head = set(_names()[: registry.DRIVER_WINDOW])
    missing = [q for q in registry.CHANGED_THIS_ROUND if q not in head]
    assert not missing, f"changed queries outside the driver window: {missing}"
    unknown = [q for q in registry.CHANGED_THIS_ROUND if q not in set(_names())]
    assert not unknown, f"CHANGED_THIS_ROUND names not in registry: {unknown}"


def test_tail_entries_have_preceding_round_rows():
    """Rotation rule 3: every entry past the driver window must carry a
    driver row from registry.ROUND's immediately preceding round (or any
    later round). Keyed to registry.ROUND rather than the newest file on
    disk because the driver drops CORRECTNESS_r{ROUND} — which covers
    only the head — at round close, before the registry can possibly be
    re-rotated. Each round's builder bumps registry.ROUND when rotating;
    the bump is what arms this check for the new round.
    """
    rounds = _correctness_rounds()
    eligible = [r for r in rounds if r >= registry.ROUND - 1]
    assert eligible, (
        f"no CORRECTNESS file from round >= {registry.ROUND - 1}; "
        f"have {sorted(rounds)}"
    )
    covered: set[str] = set()
    for r in eligible:
        with open(os.path.join(REPO_ROOT, rounds[r])) as f:
            covered |= set(json.load(f))
    tail = _names()[registry.DRIVER_WINDOW :]
    staged = set(registry.STAGED_NEXT_ROUND)  # rule 1b: no row yet by design
    stale = [q for q in tail if q not in covered and q not in staged]
    assert not stale, (
        f"tail entries with no driver row since round {registry.ROUND - 1}: "
        f"{stale} — rotate them into the head"
    )


# The five k-means-trained queries' sf0.001 output hashes, as committed in
# the round-15, round-16 AND round-17 gate logs — three independent
# sessions, two driver testdata regenerations apart, all bit-identical:
# round 15 shipped the deterministic fit (canonicalized
# training sample), so these hashes are pure functions of logical corpus
# content, and two independent sessions a round apart must (and do)
# produce them bit-identically. Before r15 this was impossible: k-means||
# seeds by physical row position and a relayouted corpus moved 1999/2000
# book cells (SCALE_ann_r15.md §1). If the testdata is regenerated
# with DIFFERENT logical content, re-derive both sides from the
# new round's logs in the rotation commit — a layout-only regeneration
# must NOT move them.
KMEANS_CROSS_ROUND_PINS: dict[str, str] = {
    "similarity_topk_pq_trained": "4dd7c1a1dcb14e48",
    "similarity_topk_ivf_trained": "9e4108f48b4b057e",
    "similarity_topk_ivfpq_trained": "4a94d621c79121a3",
    "similarity_topk_ivf_spann": "054444a01bc886d2",
    "ann_append_serving": "3e0da5dc1c62b513",
}


def test_kmeans_outputs_are_cross_session_stable():
    import glob

    logs = sorted(glob.glob(os.path.join(REPO_ROOT, "GATE_sf0.001_r1[567].log")))
    assert len(logs) == 3, logs
    for log_path in logs:
        with open(log_path) as f:
            log = f.read()
        for q, h in KMEANS_CROSS_ROUND_PINS.items():
            m = re.search(rf"ok\?\s+{q}:.*?rows=\d+ hash=([0-9a-f]+)", log)
            assert m, f"{q} missing from {log_path}"
            assert m.group(1) == h, (
                f"{q}: {os.path.basename(log_path)} hash {m.group(1)} != "
                f"pinned {h} — a kmeans output moved across sessions"
            )
