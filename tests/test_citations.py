"""Guard: docs and code cite only what is committed.

A cited file must be tracked by git (``git add`` is enough), so a log
that exists only in one working tree fails here. Every tracked ``.md``,
``.py`` and ``.sh`` file is scanned except ``_skipped`` ones: the
benchmark's own ``perfbench/`` and the top-level all-caps Markdown
files other than README.md — the project's history and inputs, which
record what other trees held. Round reports (``<NAME>_r<N>.md``) are
not all-caps and are scanned. Three kinds of citation must resolve:

- a round artifact, ``<NAME>_r<N>...`` ending in ``.log``, ``.json`` or
  ``.md``. A ``{a,b}`` list expands to every member, and a ``*`` or
  ``[567]`` glob must match at least one file. A name with a ``{N}``-style
  placeholder is a pattern, not a citation, and is skipped;
- a top-level ``plans/...`` path (not ``mapreduce_hadoop_spark/plans/``),
  placeholders such as ``<tag>`` skipped;
- ``<commit>:<path>``, which must name a blob in git history
  (``git cat-file -e``).

No Spark session is started.

Run on its own (prints each unresolved citation):
    python tests/test_citations.py [checkout root]
"""

from __future__ import annotations

import fnmatch
import re
import subprocess
import sys
from pathlib import Path

import pytest

_COMMIT = re.compile(r"(?<![\w/.-])([0-9a-f]{7,40}):([\w./-]*\w)")
_ARTIFACT = re.compile(
    r"(?<![\w./{},*\[\]-])"
    r"([\w./{},*\[\]-]*_r(?:\d|[{\[*])[\w./{},*\[\]-]*?\.(?:log|json|md))"
    r"(?![\w])"
)
_PLANS = re.compile(r"(?<![\w./-])(plans/[\w./{},*\[\]<>-]*[\w/}\]*>])")
_PLACEHOLDER = re.compile(r"\{[^{},]*[A-Za-z][^{},]*\}|<[^>]*>")


def _expand(s: str) -> list[str]:
    """Shell-style brace expansion: ``a{b,c}d`` -> ``abd``, ``acd``."""
    m = re.search(r"\{([^{}]*)\}", s)
    if not m:
        return [s]
    out = []
    for alt in m.group(1).split(","):
        out += _expand(s[: m.start()] + alt + s[m.end() :])
    return out


def _skipped(path: str) -> bool:
    # this file too: its pattern checks quote example citations on purpose
    if path.startswith("perfbench/") or path == "tests/test_citations.py":
        return True
    stem = path[: -len(".md")]
    return (
        path.endswith(".md") and "/" not in path and stem.isupper()
        and path != "README.md"
    )


def _tracked(root: Path) -> list[str]:
    return subprocess.run(
        ["git", "-C", str(root), "ls-files"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.splitlines()


def _committed(tracked: list[str], name: str) -> bool:
    """A tracked file, a directory holding one, or a glob matching one."""
    name = name.rstrip("/.")
    if any(c in name for c in "*?["):
        return any(fnmatch.fnmatch(t, name) for t in tracked)
    return any(t == name or t.startswith(name + "/") for t in tracked)


def _in_history(root: Path, sha: str, path: str) -> bool:
    return (
        subprocess.run(
            ["git", "-C", str(root), "cat-file", "-e", f"{sha}:{path}"],
            capture_output=True,
        ).returncode
        == 0
    )


def unresolved(root: Path) -> list[str]:
    """``<file>:<line>: <citation>`` for every citation that resolves to
    nothing."""
    tracked = _tracked(root)
    scanned = [
        f
        for f in tracked
        if f.endswith((".md", ".py", ".sh"))
        and not _skipped(f)
        and (root / f).is_file()
    ]
    bad = []
    for rel in scanned:
        text = (root / rel).read_text(encoding="utf-8", errors="replace")
        for lineno, line in enumerate(text.splitlines(), 1):
            where = f"{rel}:{lineno}"
            for m in _COMMIT.finditer(line):
                if not _in_history(root, m.group(1), m.group(2)):
                    bad.append(f"{where}: {m.group(0)}")
            line = _COMMIT.sub(" ", line)
            for pat in (_ARTIFACT, _PLANS):
                for m in pat.finditer(line):
                    cite = m.group(1)
                    if _PLACEHOLDER.search(cite):
                        continue
                    for name in _expand(cite):
                        if not _committed(tracked, name):
                            bad.append(f"{where}: {cite}")
                            break
    return bad


def _git_root(root: Path) -> bool:
    return (
        subprocess.run(
            ["git", "-C", str(root), "rev-parse", "--git-dir"], capture_output=True
        ).returncode
        == 0
    )


def test_citations_resolve():
    root = Path(__file__).resolve().parent.parent
    if not _git_root(root):
        pytest.skip("not a git checkout: tracked files and history unknown")
    bad = unresolved(root)
    assert not bad, "citations of files that are not committed:\n" + "\n".join(bad)


def test_citation_patterns():
    """The three patterns and the expansion rules, on fixed strings."""
    found = [m.group(1) for m in _ARTIFACT.finditer(
        "see GATE_sf{0.001,0.01}_r28.log, `GATE_sf0.001_r1[567].log` and "
        "CORRECTNESS_r*.json; BENCH_rN.json is prose"
    )]
    assert found == [
        "GATE_sf{0.001,0.01}_r28.log",
        "GATE_sf0.001_r1[567].log",
        "CORRECTNESS_r*.json",
    ]
    assert _expand(found[0]) == ["GATE_sf0.001_r28.log", "GATE_sf0.01_r28.log"]
    assert _PLACEHOLDER.search("CORRECTNESS_r{N}.json")
    assert not _PLACEHOLDER.search(found[0])
    assert [m.group(1) for m in _PLANS.finditer(
        "plans/r19/x_before.txt, mapreduce_hadoop_spark/plans/checks.py"
    )] == ["plans/r19/x_before.txt"]
    assert _skipped("VERDICT.md") and _skipped("perfbench/run.py")
    assert not _skipped("README.md") and not _skipped("OPTIMIZATION_r19.md")
    m = _COMMIT.search("(see 48705ef:SCALE_ann_r11.md §6)")
    assert m and m.groups() == ("48705ef", "SCALE_ann_r11.md")
    assert not _ARTIFACT.search(_COMMIT.sub(" ", m.string))


if __name__ == "__main__":
    found = unresolved(Path(sys.argv[1] if len(sys.argv) > 1 else ".").resolve())
    print("\n".join(found) or "every citation resolves")
    raise SystemExit(1 if found else 0)
