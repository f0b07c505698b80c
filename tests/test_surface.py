"""Every public top-level name in the package is reached from a user path,
or is listed in ``UNREACHED`` with the reason it stays.

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
    "operators.dedup.lsh_plan": "X2 S-curve (bands, rows) planner",
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


def test_every_public_name_is_reached_or_listed():
    defs, live = _package()
    for root in ROOTS:
        live |= _mentions(ast.parse(root.read_text()))
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
