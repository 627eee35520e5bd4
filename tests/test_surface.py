"""The public surface rule: a public library def stays only if a declared
query, a library or script caller, or the paper (SURVEY.md, BASELINE.json's
north rule) needs it.

``scan_test_only_defs`` lists the public top-level library defs that only
code under ``tests/`` references, or that nothing references. Every name it
finds must be in ``KEPT_TEST_ONLY`` with the reason the rule keeps it: a
new test-only def fails here, and so does an allowlisted name that gains a
non-test caller (or disappears) without the list following it.

A reference is a code reference only: an AST ``Name``, an ``Attribute``,
an import alias (re-exports in an ``__init__.py`` do not count) or a
keyword argument name; a name in a docstring or comment is not one. A
same-named def elsewhere shares its references. Static AST pass, no Spark.

Run the scan by hand from the repo root::

    python -c "import sys; sys.path.insert(0, 'tests'); import test_surface as s; \\
        [print(*r) for r in s.scan_test_only_defs()]"
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "htrc_feature_reader_spark"

KEPT_TEST_ONLY = {
    "layout_timeline": "north rule: explicit repartitionByRange + secondary sort",
    "restrict_to_vocab": "SURVEY operator: vocabulary restriction",
    "with_lag_lead": "SURVEY operator: lag/lead windows of the point-in-time layer",
    "weighted_embedding_average": "SURVEY operator: weighted embedding average",
    "extract_htid": "SURVEY S10: the reference's id utilities",
    "pairtree_path": "SURVEY S10: the reference's pairtree layout",
    "stubbytree_filename": "SURVEY S10: the reference's stubbytree layout",
    "copy_volumes": "SURVEY S9: the skip_compression copy path",
    "generate_tokenlist": "synth fixture: distributed tokenlist generator",
    "write_ef_json_fixtures": "synth fixture: EF-JSON volume files",
    "stream_exact_dedup": "streaming face of exact dedup",
    "stream_ingest_against_store": "streaming face of the digest-store ingest",
    "stream_ingest_near_dup": "streaming face of the signature-store ingest",
    "stream_ingest_clean": "streaming face of ingest_clean_batch",
    "stream_jsonl": "streaming face of the JSONL reader",
    "route_good_and_quarantine": "streaming face of the JSONL quarantine split",
    "stream_session_counts": "streaming face of sessionize",
    "stream_windowed_rollup": "streaming face of the windowed rollup",
    "stream_asof_join": "streaming face of asof_join",
    "stream_forward_fill": "streaming face of forward_fill",
    "verify_output": "north rule: re-derives the manifest's per-partition digests from the stored data",
    "repair_write": "north rule: heals partitions damaged after their manifest entry landed, which resume_write cannot see",
}


def repo_trees(root: pathlib.Path = ROOT) -> dict[pathlib.Path, ast.Module]:
    """``{path relative to root: AST}`` of every Python file of the repo,
    skipping ``.git`` and the top-level ``plans/`` plan-dump directory (the
    library's own ``plans`` package is scanned)."""
    trees = {}
    for p in sorted(root.rglob("*.py")):
        rel = p.relative_to(root)
        if rel.parts[0] in ("plans", ".git"):
            continue
        trees[rel] = ast.parse(p.read_text())
    return trees


def is_test(p: pathlib.Path) -> bool:
    return p.parts[0] == "tests"


def code_refs(trees: dict[pathlib.Path, ast.Module]) -> dict[str, set[pathlib.Path]]:
    """name -> the files that reference it in code."""
    refs: dict[str, set[pathlib.Path]] = {}
    for p, t in trees.items():
        for n in ast.walk(t):
            if isinstance(n, ast.Name):
                names = [n.id]
            elif isinstance(n, ast.Attribute):
                names = [n.attr]
            elif isinstance(n, ast.alias) and p.name != "__init__.py":
                names = [n.name.split(".")[-1], n.asname]
            elif isinstance(n, ast.keyword):
                names = [n.arg]
            else:
                continue
            for name in names:
                refs.setdefault(name, set()).add(p)
    return refs


def scan_test_only_defs(root: pathlib.Path = ROOT) -> list[tuple[str, str, str]]:
    """``(kind, path:line, name)`` of each public top-level library def
    that only tests reference (``test-only``) or nothing does
    (``unreferenced``)."""
    trees = repo_trees(root)
    refs = code_refs(trees)
    out = []
    for p, t in trees.items():
        if p.parts[0] != PACKAGE:
            continue
        for d in t.body:
            if isinstance(d, ast.FunctionDef) and not d.name.startswith("_"):
                hits = refs.get(d.name, set())
                if all(is_test(q) for q in hits):
                    kind = "test-only" if hits else "unreferenced"
                    out.append((kind, f"{p}:{d.lineno}", d.name))
    return out


def test_test_only_defs_match_allowlist():
    found = {name: f"{kind} {where}" for kind, where, name in scan_test_only_defs()}
    new = {n: w for n, w in found.items() if n not in KEPT_TEST_ONLY}
    gone = sorted(set(KEPT_TEST_ONLY) - set(found))
    assert not new, f"public defs only tests reach; delete them or give a reason: {new}"
    assert not gone, f"allowlisted names no longer test-only; drop them from KEPT_TEST_ONLY: {gone}"
