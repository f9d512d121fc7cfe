"""Regrowth guard: every top-level def in the package's operator layers,
query module and session modules (``SCANNED``) is reached by production
code, or is named in ``KEEP`` with a reason.

Production code is the package itself, ``jobs/``, ``tools/``, the
``bench*.py`` scripts, ``__spark_entry__.py`` and ``perfbench/``. A def
is reached when a Name, an Attribute, an import alias or an
identifier-shaped string constant in production code names it, outside
the bodies of scanned defs that are themselves unreached. A query
decorated with ``@q(...)`` is reached: the decorator registers it in
``driver_queries.QUERIES``. Liveness is a fixed point: a helper that
only an unreached operator or query calls is unreached too. Tests do
not count as callers: an operator that only its own test calls serves
no workload and has no DuckDB oracle.

Module-level assignments in ``SCANNED`` are held to the same name rule,
with tests counted as readers: a constant that nothing reads is deleted.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "granulate_char_ocr_spark"
SCANNED = (
    "operators/", "functions/", "sources/", "streaming/", "plans/",
    "driver_queries.py", "alphabet.py", "session.py", "worker_daemon.py",
)

# def name, or module path under the package (every def in it), -> why
# it stays without a production caller (SURVEY ids are the rows of the
# reference analysis in SURVEY.md)
KEEP = {
    "operators/validate.py": "SURVEY P5 validation predicates",
    "streaming/stream.py": "SURVEY 2.9 streaming-shaped surface",
    "operators/debug_sink.py": "SURVEY S8 debug image sink",
    "sources/binary_files.py": "SURVEY S4 corpus scan, EP3 corpus evaluation",
    "read_ledger": "resume audit: the committed-bucket ledger",
    "read_output": "resume audit: the committed output",
    "cosine_topk": "exact reference of cosine_topk_gemm (ANN recall tests)",
    "ivf_topk": "single-probe baseline of ivf_topk_multiprobe's recall",
    "train_bpe_spark": "Spark trainer of the committed BPE merges",
    "quality_score_docs": "retired query; the only exact DuckDB parity "
    "check of textstats.quality_score",
    "html_extract_docs": "retired query; the only exact DuckDB parity "
    "check of docparse.html_main_texts",
    "purchases_within_72h_events": "retired query; the only exact DuckDB "
    "parity check of temporal.range_join",
}


def _py_files(*rel):
    for r in rel:
        p = os.path.join(ROOT, r)
        if os.path.isfile(p):
            yield p
            continue
        for d, _, fs in os.walk(p):
            for f in sorted(fs):
                if f.endswith(".py"):
                    yield os.path.join(d, f)


def _production_files():
    top = [f for f in os.listdir(ROOT) if f.endswith(".py")
           and (f.startswith("bench") or f == "__spark_entry__.py")]
    return list(_py_files(PKG, "jobs", "tools", "perfbench", *top))


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _names(node, loads_only=False):
    """Every name a node references: Names, Attributes, import aliases
    and identifier-shaped string constants. ``loads_only`` skips the
    Names a statement assigns."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            if not (loads_only and isinstance(n.ctx, ast.Store)):
                out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and n.value.isidentifier():
            out.add(n.value)
    return out


def _registers_query(stmt):
    """True for a def decorated with ``@q(...)``: the decorator puts it in
    ``driver_queries.QUERIES``, the graded query surface."""
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
        and d.func.id == "q" for d in stmt.decorator_list
    )


def _kept(path, name, keep):
    rel = os.path.relpath(path, os.path.join(ROOT, PKG))
    return name in keep or rel in keep


def unreached(keep=KEEP):
    """(module path, def name) of every scanned top-level def that no
    production code reaches and ``keep`` does not name."""
    scanned = tuple(os.path.join(ROOT, PKG, s) for s in SCANNED)
    defs = {}  # (path, name) -> names its body references
    roots = set()
    for path in _production_files():
        tree = _parse(path)
        in_scope = path.startswith(scanned)
        for stmt in tree.body:
            if in_scope and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs[(path, stmt.name)] = _names(stmt) - {stmt.name}
                if _registers_query(stmt):
                    roots.add(stmt.name)
            else:
                roots |= _names(stmt)
    live = roots | {n for p, n in defs if _kept(p, n, keep)}
    while True:
        grown = set(live)
        for (_, name), refs in defs.items():
            if name in live:
                grown |= refs
        if grown == live:
            break
        live = grown
    return sorted(
        (os.path.relpath(p, ROOT), n) for p, n in defs if n not in live
    )


def test_every_scanned_def_is_reached_or_kept():
    dead = unreached()
    assert not dead, (
        "defs no query, job, tool or benchmark reaches; delete them, or "
        "add a KEEP entry with its reason:\n"
        + "\n".join(f"  {p}:{n}" for p, n in dead)
    )


def test_keep_entries_are_needed():
    """Every KEEP entry names a def (or a module holding one) that would
    be unreached without it, so the table cannot silently go stale."""
    dead = unreached(keep={})
    names = {n for _, n in dead}
    modules = {os.path.relpath(p, PKG) for p, _ in dead}
    assert set(KEEP) <= names | modules, sorted(set(KEEP) - names - modules)


def unread_constants():
    """(module path, name) of every module-level assignment in a scanned
    module that no production file and no test reads."""
    scanned = tuple(os.path.join(ROOT, PKG, s) for s in SCANNED)
    consts = set()
    read = set()
    for path in _production_files() + list(_py_files("tests")):
        tree = _parse(path)
        read |= _names(tree, loads_only=True)
        if not path.startswith(scanned):
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) \
                    else [stmt.target]
                consts |= {
                    (os.path.relpath(path, ROOT), n.id)
                    for t in targets for n in ast.walk(t)
                    if isinstance(n, ast.Name)
                    and not (n.id.startswith("__") and n.id.endswith("__"))
                }
    return sorted((p, n) for p, n in consts if n not in read)


def test_every_scanned_constant_is_read():
    unread = unread_constants()
    assert not unread, (
        "module-level assignments nothing reads; delete them:\n"
        + "\n".join(f"  {p}:{n}" for p, n in unread)
    )
