"""Every public top-level name in the package is reached from a user path,
or is listed in ``UNREACHED`` with the reason it stays; and every optional
parameter of the corpus drivers is set by a user path, or is listed in
``UNSET_OPTIONS`` with one of three fixed reasons it stays.

Roots are what users run: ``__spark_entry__.py``, ``bench.py``,
``scripts/`` and ``perfbench/`` (its self-tests excluded). Tests are not
roots, so a function only tests call counts as unreached. A name is
reached when live code mentions it as a name, an attribute, an import
alias or a string constant (``getattr`` lookups). A reached package
definition makes everything it mentions live in turn, and module-level
code other than definitions, imports and ``__all__`` runs on import, so
it is live too. Matching is by bare name: a mention of ``foo`` reaches
every package ``foo``. No Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "serverless_data_pipeline_spark"
ROOTS = [REPO / "__spark_entry__.py", REPO / "bench.py",
         *sorted((REPO / "scripts").glob("*.py")),
         *sorted((REPO / "perfbench").glob("*.py"))]

UNREACHED = {
    "functions.layout.quantize": "S8 layout: Z-order key input",
    "functions.layout.zorder_key": "S8 layout: Morton key",
    "functions.text.word_shingles": "reference shingles_from_tokens matches",
    "operators.bpe_artifact.load_artifact": "X8 tokenizer artifact I/O",
    "operators.bpe_artifact.save_artifact": "X8 tokenizer artifact I/O",
    "operators.corpus.latest_packed_state": "versioned commit protocol",
    "operators.corpus.packing_stream": "versioned commit protocol",
    "operators.corpus.unpack_token_blocks": "inverse tests check packing by",
    "operators.dedup.corpus_jaccard_minhash": "X2 corpus-level estimate",
    "operators.relational.sessionize": "batch form of ST5 session windows",
    "operators.sketches.cms_merge": "G Count-Min sketch merge",
    "operators.urls.canonicalize_url": "X18 URL curation",
    "operators.urls.url_host": "X18 URL curation",
    "plans.control.PipelineControl": "EP2 control plane",
    "plans.scheduler.ScheduledTrigger": "S9 fixed-rate trigger",
    "plans.streaming_pipeline.run_streaming_pipeline": "EP1 as a stream",
    "sources.readers.read_csv_raw": "S1 CSV scan",
    "sources.readers.read_stream_files": "S5 stream source",
    "sources.writers.write_clustered": "S8 clustered layout",
    "streaming.monitor.liveness_alarm": "stream liveness alarm",
}

# the corpus drivers whose optional parameters are guarded, by module
DRIVERS = {
    "operators.dedup": ("minhash_signatures", "minhash_lsh_pairs"),
    "operators.incremental": ("corpus_index", "incremental_dedup",
                              "commit_batch", "maintenance_stream"),
    "plans.corpus_pipeline": ("prepare_training_corpus",),
}

# The only reasons an option no root sets may stay. A strategy choice
# (a shape, an arm, a flag) is none of them: it becomes a constant.
_COLUMN = "names an input column"
_DEPLOYMENT = "when or how much a live stream reads"
_CURATION_BOUND = "a data-policy bound the corpus owner sets"
REASONS = {_COLUMN, _DEPLOYMENT, _CURATION_BOUND}
UNSET_OPTIONS = {
    "incremental_dedup.id_col": _COLUMN,
    "incremental_dedup.text_col": _COLUMN,
    "commit_batch.id_col": _COLUMN,
    "commit_batch.text_col": _COLUMN,
    "maintenance_stream.id_col": _COLUMN,
    "maintenance_stream.text_col": _COLUMN,
    "maintenance_stream.threshold": _CURATION_BOUND,
    "maintenance_stream.interval_s": _DEPLOYMENT,
    "maintenance_stream.max_files_per_tick": _DEPLOYMENT,
    "prepare_training_corpus.id_col": _COLUMN,
    "prepare_training_corpus.text_col": _COLUMN,
    "prepare_training_corpus.languages": _CURATION_BOUND,
    "prepare_training_corpus.min_quality": _CURATION_BOUND,
    "prepare_training_corpus.jaccard_threshold": _CURATION_BOUND,
    "prepare_training_corpus.semantic_threshold": _CURATION_BOUND,
    "prepare_training_corpus.semantic_clusters": _CURATION_BOUND,
    "prepare_training_corpus.decontam_ngram": _CURATION_BOUND,
}


def _mentions(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def _package() -> tuple[dict[str, list[tuple[str, ast.AST]]], set[str]]:
    """({name: [(module, definition)]}, names import-time code mentions)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    live: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                names = [stmt.name]
            elif isinstance(stmt, ast.Assign):
                names = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
            elif isinstance(stmt, ast.AnnAssign):
                names = [stmt.target.id]
            else:
                names = []
            if not names:
                live |= _mentions(stmt)
            for name in names:
                if name != "__all__":
                    defs.setdefault(name, []).append((mod, stmt))
    return defs, live


def _roots() -> list[ast.AST]:
    return [ast.parse(root.read_text()) for root in ROOTS]


def test_every_public_name_is_reached_or_listed():
    defs, live = _package()
    for tree in _roots():
        live |= _mentions(tree)
    todo, reached = list(live & defs.keys()), set()
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for _mod, stmt in defs[name]:
                todo.extend(_mentions(stmt) & defs.keys() - reached)
    unreached = {f"{mod}.{name}" for name, found in defs.items()
                 if name not in reached and not name.startswith("_")
                 for mod, _stmt in found}
    assert not unreached - UNREACHED.keys(), (
        "no user path reaches these; wire them into one or delete them "
        f"with their tests: {sorted(unreached - UNREACHED.keys())}")
    assert not UNREACHED.keys() - unreached, (
        "reached or gone now; drop them from UNREACHED: "
        f"{sorted(UNREACHED.keys() - unreached)}")


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return (f.id if isinstance(f, ast.Name)
            else f.attr if isinstance(f, ast.Attribute) else None)


def test_every_driver_option_is_set_by_a_root_or_listed():
    """An optional parameter stays only when a user path passes it (by
    keyword, or by position) or ``UNSET_OPTIONS`` gives one of the
    ``REASONS`` it stays."""
    assert set(UNSET_OPTIONS.values()) <= REASONS, (
        "an unset option stays only for a reason in REASONS; make the "
        "others constants: "
        f"{sorted(k for k, v in UNSET_OPTIONS.items() if v not in REASONS)}")
    calls = [n for tree in _roots() for n in ast.walk(tree)
             if isinstance(n, ast.Call)]
    unset = set()
    for mod, names in DRIVERS.items():
        path = PKG.joinpath(*mod.split(".")).with_suffix(".py")
        for fn in ast.parse(path.read_text()).body:
            if not (isinstance(fn, ast.FunctionDef) and fn.name in names):
                continue
            a = fn.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            optional = positional[len(positional) - len(a.defaults):]
            optional += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
                         if d is not None]
            passed = set()
            for call in calls:
                if _callee(call) == fn.name:
                    passed |= {k.arg for k in call.keywords}
                    passed |= set(positional[:len(call.args)])
            unset |= {f"{fn.name}.{p}" for p in optional if p not in passed}
    assert not unset - UNSET_OPTIONS.keys(), (
        "no user path sets these options; delete them or say in "
        f"UNSET_OPTIONS why they stay: {sorted(unset - UNSET_OPTIONS.keys())}")
    assert not UNSET_OPTIONS.keys() - unset, (
        "set by a user path or gone now; drop them from UNSET_OPTIONS: "
        f"{sorted(UNSET_OPTIONS.keys() - unset)}")
