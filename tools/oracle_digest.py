"""Print a whitespace-insensitive digest of every DuckDB oracle string.

Usage: python tools/oracle_digest.py

For each registry entry that has an oracle, prints ``<sha256>  <name>``,
where the hash is taken over the oracle text after every whitespace run
is collapsed to one space and the ends are stripped. Then prints the count. Two trees
whose output is identical differ, at most, in oracle whitespace, so a
refactor that recomposes oracle SQL from shared fragments can diff this
output against its parent's to show that no SQL token moved.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def digest(sql: str) -> str:
    return hashlib.sha256(re.sub(r"\s+", " ", sql).strip().encode()).hexdigest()


def main() -> None:
    from mapreduce_hadoop_spark import registry

    oracles = dict(registry.oracle_sql())
    for name in sorted(oracles):
        print(f"{digest(oracles[name])}  {name}")
    print(f"{len(oracles)} oracles")


if __name__ == "__main__":
    main()
