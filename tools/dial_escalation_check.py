"""Escalating-widen neutrality check (round 16, VERDICT r15 order 2).

The escalating widen dial (PQ_ADAPT_WIDEN_DEEP/PQ_ADAPT_DEEP_COVER) may
only change outputs where 4x widening was LOSING neighbors; on every
organic gate corpus the 4x dial already reads recall 1.0 on its fires
(SCALE_ann_r14.md), so a deep fire there re-ranks a superset of an
already-true top-k and the output hash must not move. This tool serves
the dial's two consumers (similarity_topk_pq_trained,
ann_append_serving) at every gate scale and compares the value hash
against the committed round-16 GATE logs — the evidence behind either
the rule-1a pins (neutral) or a head-slot claim (changed).

Usage: python tools/dial_escalation_check.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import value_hash  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCALES = {
    "sf0.001": "/root/testdata/sf0.001",
    "sf0.01": "/root/testdata/sf0.01",
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(REPO, ".scale_data", "sf1"),
    "sf1skew": os.path.join(REPO, ".scale_data", "sf1skew"),
}
QUERIES = ("similarity_topk_pq_trained", "ann_append_serving")


def committed_hash(scale: str, query: str) -> "str | None":
    path = os.path.join(REPO, f"GATE_{scale}_r16.log")
    with open(path) as f:
        log = f.read()
    m = re.search(rf"(?:PASS|ok\?)\s+{query}:.*?rows=\d+ hash=([0-9a-f]+)", log)
    return m.group(1) if m else None


def main() -> int:
    from mapreduce_hadoop_spark import registry
    from mapreduce_hadoop_spark.session import get_spark, unpersist_intermediates

    spark = get_spark("dial-escalation-check")
    q = registry.queries()
    bad = 0
    for scale, sf_dir in SCALES.items():
        for name in QUERIES:
            spark.catalog.clearCache()
            unpersist_intermediates()
            got = value_hash(q[name](spark, sf_dir).toPandas())
            want = committed_hash(scale, name)
            ok = got == want
            bad += 0 if ok else 1
            print(f"{'OK  ' if ok else 'DIFF'} {scale:8s} {name}: {got} vs r16 {want}")
    print(f"{bad} difference(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
