"""Caller map of the package: print every top-level def and constant no
root reaches.

Roots are the code that runs outside the tests:

- the query registry: ``__spark_entry__.py``, whose ``queries()`` and
  ``oracle_sql()`` pull in the ``QUERIES``/``ORACLES`` tables of
  ``entry_queries*.py``;
- ``bench.py``, ``perfbench/`` and ``tools/`` (test files excluded).

No package module is a root: a package def counts as reached only through
these entry points.

The map is name-level and uses only ``ast``. A package top-level def or
constant is reached when a root file, or the body of a reached def or
constant, mentions its name as a ``Name``, an ``Attribute`` or an imported
name (``from m import a as b`` also links ``b`` to ``a``). Names are not
resolved to modules, so one mention reaches every def or constant of that
name: the printed list is a lower bound on what is dead. Module-level
statements other than defs, constants and imports run on import, so they
count as roots too.

A constant is a top-level assignment target; dunder names such as
``__all__`` are not reported. An unreached def or constant stays only if
it is listed in ``KEPT`` with its reason. ``tests/test_reachability.py``
asserts the unreached set equals ``set(KEPT)``, which also catches a stale
entry.

Usage: python tools/reachability.py   (exit 1 when the set differs from KEPT)
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "super_speedy_syslog_searcher_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py")
ROOT_DIRS = ("perfbench", "tools")

# Unreached defs and constants kept on purpose, keyed "module.name" relative
# to the package.
# (a) s4 parity: implements an s4 behaviour the reference documents.
# (b) test reference: a test checks a reached def against it.
# (c) test fixture: builds inputs for the tests.
KEPT = {
    # s4 reads gz/bz2/lz4/xz/tar inputs transparently (SURVEY S4/S5)
    "sources.compressed.sniff_codec": "(a) s4 parity: codec sniffed from magic bytes",
    "sources.compressed.decompress_payload": "(a) s4 parity: gz/bz2/lz4/xz stream decode",
    "sources.compressed._chain": "(a) s4 parity: helper of decompress_payload",
    "sources.compressed._looks_tar": "(a) s4 parity: tar detection for expand_file",
    "sources.compressed.expand_tar_members": "(a) s4 parity: tar member extraction",
    "sources.compressed.expand_file": "(a) s4 parity: one input file to its log members",
    "sources.compressed.read_archive_files": "(a) s4 parity: compressed/tar files as raw members",
    "sources.compressed._strip_source_name": "(a) s4 parity: rotation/compression suffixes merged",
    "sources.compressed.read_compressed_docs": "(a) s4 parity: compressed inputs as a docs table",
    "functions.lz4_pure.lz4_frame_decompress": "(a) s4 parity: the .lz4 codec without a C library",
    "functions.lz4_pure.xxh32": "(a) s4 parity: lz4 frame checksums",
    "functions.lz4_pure._rotl": "(a) s4 parity: helper of xxh32",
    # s4 guesses a file's type from its name (SURVEY S2)
    "sources.catalog.guess_filetype": "(a) s4 parity: pathbuf_to_filetype rules",
    "sources.catalog.filetype_col": "(a) s4 parity: pathbuf_to_filetype as a column",
    "operators.output.journal_output": "(a) s4 parity: --journal-output modes (SURVEY O5)",
    "operators.evtx.evtx_summary": "(a) s4 parity: SummaryEvtxReader counters (SURVEY A5)",
    "operators.filters.dt_pass_filters": "(a) s4 parity: the -a/-b range check (SURVEY F2)",
    "operators.journal.parse_journal_export_binary": "(a) s4 parity: journal export reader (SURVEY P13)",
    "operators.tokens._viterbi_segment": "(b) test reference for train_unigram/apply_unigram",
    "operators.tokens.apply_bpe": "(b) test reference for train_bpe and apply_wordpiece",
    "operators.tokens.decode_bpe": "(b) test reference: inverts apply_wordpiece",
    "sources.tokenized.gen_year_rollover_doc": "(c) test fixture: year-rollover doc and golden",
    "functions.lz4_pure.lz4_frame_compress_stored": "(c) test fixture: .lz4 inputs",
    "functions.codec.decode_tokens_array": "(c) test fixture: decodes a token array in asserts",
    "entry_queries.US_EXACT_FAMS": "(c) test fixture: perfbench's routed-sink fixture reads it",
    # constants that only the kept defs above read
    "sources.compressed._MAGICS": "(a) s4 parity: the magic table of sniff_codec",
    "operators.filters.BEFORE_RANGE": "(a) s4 parity: a dt_pass_filters result",
    "operators.filters.IN_RANGE": "(a) s4 parity: a dt_pass_filters result",
    "operators.filters.AFTER_RANGE": "(a) s4 parity: a dt_pass_filters result",
}
KEPT.update(
    {f"functions.lz4_pure.{n}": "(a) s4 parity: an xxh32/lz4 frame constant"
     for n in ("_P1", "_P2", "_P3", "_P4", "_P5", "_M", "_LZ4F_MAGIC")}
)
KEPT.update(
    {f"sources.catalog.{n}": "(a) s4 parity: a pathbuf_to_filetype table"
     for n in ("TEXT", "FIXEDSTRUCT", "EVTX", "JOURNAL", "UNPARSABLE", "COMPRESSION_SUFFIXES",
               "ROTATION_RE", "FIXEDSTRUCT_NAMES", "UNPARSABLE_EXTS")}
)


def _mentions(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO / PACKAGE).with_suffix("")
    return ".".join(rel.parts)


def _root_paths() -> list[Path]:
    paths = [REPO / f for f in ROOT_FILES]
    for d in ROOT_DIRS:
        paths += [
            p for p in sorted((REPO / d).rglob("*.py"))
            if "tests" not in p.relative_to(REPO).parts and not p.name.startswith("test_")
        ]
    return paths


def caller_map():
    """Return (defs, edges, roots).

    ``defs`` maps "module.name" to (name, path, first line, n lines) for every
    package top-level function, class and constant; ``edges`` maps a bare name
    to the names mentioned by each def/constant/alias of that name; ``roots``
    is the set of names the roots mention.
    """
    defs: dict[str, tuple[str, Path, int, int]] = {}
    edges: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in sorted((REPO / PACKAGE).rglob("*.py")):
        mod = _module_name(path)
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{stmt.name}"] = (
                    stmt.name, path, stmt.lineno, stmt.end_lineno - stmt.lineno + 1,
                )
                edges.setdefault(stmt.name, set()).update(_mentions(stmt))
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [n for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
                for n in names:
                    edges.setdefault(n.id, set()).update(_mentions(stmt))
                    if isinstance(n.ctx, ast.Store) and not n.id.startswith("__"):
                        defs[f"{mod}.{n.id}"] = (
                            n.id, path, stmt.lineno, stmt.end_lineno - stmt.lineno + 1,
                        )
                if not names:
                    roots |= _mentions(stmt)
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for a in stmt.names:
                    if a.asname:
                        edges.setdefault(a.asname, set()).add(a.name)
            elif not (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)):
                roots |= _mentions(stmt)
    for path in _root_paths():
        tree = ast.parse(path.read_text(), str(path))
        roots |= _mentions(tree)
        roots.update(s.name for s in tree.body if hasattr(s, "name"))
    return defs, edges, roots


def unreached() -> dict[str, tuple[str, Path, int, int]]:
    """Every package top-level def and constant that no root reaches."""
    defs, edges, roots = caller_map()
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(edges.get(name, ()))
    return {q: d for q, d in defs.items() if d[0] not in seen}


def main() -> int:
    dead = unreached()
    for q in sorted(dead):
        _, path, line, n = dead[q]
        reason = KEPT.get(q, "NOT KEPT: delete it or give a reason in KEPT")
        print(f"{q}  {path.relative_to(REPO)}:{line}  {n} lines  {reason}")
    stale = sorted(set(KEPT) - set(dead))
    for q in stale:
        print(f"{q}  STALE: KEPT names it but a root reaches it or it is gone")
    print(f"{len(dead)} unreached, {sum(d[3] for d in dead.values())} lines")
    return 0 if set(dead) == set(KEPT) else 1


if __name__ == "__main__":
    raise SystemExit(main())
