"""The public surface rule: a public library def, or an option of one,
stays only if a declared query, a library or script caller, or the paper
(SURVEY.md, BASELINE.json's north rule) needs it — for an option, needs a
value other than its default. Otherwise the default is the code.

``scan_test_only_defs`` lists the public top-level library defs that only
code under ``tests/`` references, or that nothing references. Every name it
finds must be in ``KEPT_TEST_ONLY`` with the reason the rule keeps it: a
new test-only def fails here, and so does an allowlisted name that gains a
non-test caller (or disappears) without the list following it.

``scan_test_set_options`` lists the defaulted parameters of library defs
that only tests set, or that no call sets. The ones only tests set must
equal ``KEPT_TEST_SET_OPTIONS``, each with its reason, the same way. The
never-set ones are reported, not gated: a default nothing overrides is
already the code's one value.

A reference is a code reference only: an AST ``Name``, an ``Attribute``,
an import alias (re-exports in an ``__init__.py`` do not count) or a
keyword argument name; a name in a docstring or comment is not one. A
same-named def elsewhere shares its references. Static AST pass, no Spark.

Run the scans by hand from the repo root::

    python -c "import sys; sys.path.insert(0, 'tests'); import test_surface as s; \\
        [print(*r) for r in s.scan_test_only_defs() + s.scan_test_set_options()]"
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
    "survivorship": "observability (ROADMAP aim 4): the cleaning funnel report",
}

_COLUMN = "column name: API shape, not a behaviour fork"
_ASOF = "merge_asof parity of the as-of join (north rule)"
_REFERENCE_API = "SURVEY: an option of the reference's Corpus API"
_SYNTH = "synth fixture: sizes and seeds the generated test data"
_SQL_KEY = "SQL replay: the SQL cannot see the key column's type"

KEPT_TEST_SET_OPTIONS = {
    "from_ef_json(multiline=)": _REFERENCE_API,
    "tokenlist(case=)": _REFERENCE_API,
    "tokenlist(pos=)": _REFERENCE_API,
    "tokenlist(chunk=)": _REFERENCE_API,
    "tokenlist(chunk_target=)": _REFERENCE_API,
    "tokens(min_count=)": _REFERENCE_API,
    "read_ef_json(validate=)": "SURVEY: the reference's per-file schema-version gate",
    "copy_volumes(compression=)": "SURVEY S9: the reference's copy transcodes to a chosen compression",
    "stubbytree_filename(fmt=)": "SURVEY S10: the reference's stubbytree layout options",
    "stubbytree_filename(compression=)": "SURVEY S10: the reference's stubbytree layout options",
    "asof_join(value_cols=)": _ASOF,
    "asof_join(tolerance_s=)": _ASOF,
    "asof_join(allow_exact_matches=)": _ASOF,
    "stream_asof_join(tolerance_s=)": _ASOF,
    "stream_asof_join(allow_exact_matches=)": _ASOF,
    "trailing_window_features(strict=)": "north rule: the serving-time frame [ts - h, ts) next to the inclusive one",
    "layout_timeline(n_partitions=)": "north rule: the explicit repartitionByRange width",
    "pack_sequences(n_partitions=)": "scale: sizes the barrier so one partition's tokens fit executor memory",
    "ensure_min_parallelism(size_threshold=)": "test seam: the at-scale no-op branch is reachable on test data only through it",
    "near_dup_pairs(exact=)": "test seam: the brute-force all-pairs reference for the banded miner",
    "rolling_hash(base=)": "hash family: the BASE2 fold of the dual ids",
    "mixture_sql_predicate(string_key=)": _SQL_KEY,
    "split_sql_case(string_key=)": _SQL_KEY,
    "distinct_sampled_sql(string_key=)": _SQL_KEY,
    "pack_documents_padded(eos_token=)": "mirrors pack_sequences(eos_token=), which the packing queries set",
    "mixture_rates_from_counts(target_total=)": "mixture recipe: a corpus-size target above the cap repeats epochs",
    "corpus_stats(quantiles=)": "dataset card: the length quantiles to report; corpus_stats_sql replays any set",
    "repair_write(snapshot_id=)": "mirrors resume_write(snapshot_id=), which the scripts set",
    "stream_exact_dedup(normalize=)": "streaming face: mirrors content_digest(normalize=)",
    "stream_exact_dedup(watermark=)": "streaming face: the bounded-state regime",
    "stream_ingest_near_dup(threshold=)": "streaming face: mirrors ingest_batch_near_dup(threshold=), which a query sets",
    "stream_ingest_near_dup(n_bands=)": "streaming face: the band layout of ingest_batch_near_dup, checked against the 8-hash signature",
    "stream_ingest_near_dup(rows_per_band=)": "streaming face: the band layout of ingest_batch_near_dup, checked against the 8-hash signature",
    "stream_ingest_clean(config=)": "streaming face: mirrors ingest_clean_batch(config=), which a query sets",
    "stream_jsonl(required=)": "streaming face: mirrors read_jsonl(required=)",
    "stream_jsonl(split=)": "streaming face: the one tagged stream route_good_and_quarantine consumes",
    "stream_session_counts(gap=)": "streaming face: mirrors sessionize(gap_s=)",
    "stream_windowed_rollup(watermark=)": "streaming face: the bounded-state regime",
    "decontaminate(flag_col=)": _COLUMN,
    "pack_sequences(tokens_col=)": _COLUMN,
    "pack_sequences(doc_col=)": _COLUMN,
    "pack_sequences(order_cols=)": _COLUMN,
    "split_by_hash(key_col=)": _COLUMN,
    "with_lag_lead(key=)": _COLUMN,
    "forward_fill(suffix=)": _COLUMN,
    "read_jsonl(corrupt_col=)": _COLUMN,
    "stream_jsonl(corrupt_col=)": _COLUMN,
    "stream_asof_join(on=)": _COLUMN,
    "stream_asof_join(ts=)": _COLUMN,
    "stream_exact_dedup(text_col=)": _COLUMN,
    "stream_exact_dedup(ts_col=)": _COLUMN,
    "stream_session_counts(key=)": _COLUMN,
    "stream_session_counts(ts=)": _COLUMN,
    "stream_windowed_rollup(value=)": _COLUMN,
    "generate_sequences(seed=)": _SYNTH,
    "generate_tokenlist(n_docs=)": _SYNTH,
    "generate_tokenlist(pages_per_doc=)": _SYNTH,
    "generate_tokenlist(rows_per_page=)": _SYNTH,
    "write_ef_json_fixtures(n_volumes=)": _SYNTH,
    "write_ef_json_fixtures(era=)": _SYNTH,
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


def scan_test_set_options(root: pathlib.Path = ROOT) -> list[tuple[str, str, str]]:
    """``(kind, path:line, 'def(param=)')`` of each defaulted parameter of
    a library def (methods and nested defs included) that only tests set
    (``set only in tests``) or no call sets (``never set``).

    A call sets a parameter by keyword or by position; a ``*args`` or
    ``**kwargs`` call counts as setting every parameter. Calls match defs
    by the called name, so a same-named def elsewhere shares its call
    sites: check such candidates by hand."""
    trees = repo_trees(root)
    calls: dict[str | None, list[tuple[pathlib.Path, ast.Call]]] = {}
    for p, t in trees.items():
        for c in ast.walk(t):
            if isinstance(c, ast.Call):
                f = c.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append((p, c))
    out = []
    for p, t in trees.items():
        if p.parts[0] != PACKAGE:
            continue
        for d in ast.walk(t):
            if not isinstance(d, ast.FunctionDef):
                continue
            pos = [a.arg for a in d.args.posonlyargs + d.args.args]
            off = 1 if pos[:1] in (["self"], ["cls"]) else 0
            defaulted = pos[len(pos) - len(d.args.defaults):] + [
                a.arg for a, v in zip(d.args.kwonlyargs, d.args.kw_defaults)
                if v is not None
            ]
            for a in defaulted:
                setters = [
                    q for q, c in calls.get(d.name, [])
                    if any(k.arg in (a, None) for k in c.keywords)
                    or any(isinstance(x, ast.Starred) for x in c.args)
                    or (a in pos and len(c.args) > pos.index(a) - off)
                ]
                if all(is_test(q) for q in setters):
                    kind = "set only in tests" if setters else "never set"
                    out.append((kind, f"{p}:{d.lineno}", f"{d.name}({a}=)"))
    return out


def test_test_only_defs_match_allowlist():
    found = {name: f"{kind} {where}" for kind, where, name in scan_test_only_defs()}
    new = {n: w for n, w in found.items() if n not in KEPT_TEST_ONLY}
    gone = sorted(set(KEPT_TEST_ONLY) - set(found))
    assert not new, f"public defs only tests reach; delete them or give a reason: {new}"
    assert not gone, f"allowlisted names no longer test-only; drop them from KEPT_TEST_ONLY: {gone}"


def test_test_set_options_match_allowlist():
    found = {name: where for kind, where, name in scan_test_set_options()
             if kind == "set only in tests"}
    new = {n: w for n, w in found.items() if n not in KEPT_TEST_SET_OPTIONS}
    gone = sorted(set(KEPT_TEST_SET_OPTIONS) - set(found))
    assert not new, f"options only tests set; make the default the code or give a reason: {new}"
    assert not gone, f"allowlisted options no longer set only in tests; drop them from KEPT_TEST_SET_OPTIONS: {gone}"
