"""List the package's top-level functions and classes that nothing runs.

A definition is reached when its name appears in code that runs: package
module code outside top-level definitions (imports count, ``__init__.py``
re-exports do not), the bodies of reached definitions, and ``scripts/``,
``perfbench/`` (not its tests), ``bench.py`` and ``__spark_entry__.py``.
``@query`` and ``@register_convictor`` definitions are the roots.  The scan
iterates to a fixpoint, so a helper that only unreached code calls is
unreached too.  Matching is by name (identifiers, attribute names and
imported names; never docstrings or comments), so a name shared with
reached code counts as reached.

Usage: python scripts/unreached.py
Prints ``module:line name`` for each unreached definition not on ``ALLOW``,
one a line, and exits 1 if there is any.
"""

from __future__ import annotations

import ast
import glob
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cassandra_util_spark"
ROOT_DECORATORS = {"query", "register_convictor"}

# Unreached on purpose: name -> why it stays.  "PARITY row" quotes the
# PARITY.md table row that maps a reference capability onto the name.
ALLOW = {
    # reference capabilities named in a PARITY.md table row
    "ttl_counter": "PARITY row 'TTL ≈ state timeout | ... streaming/stateful.py ttl_counter'",
    "WriteBatch": "PARITY row 'Write path INSERT (+USING TIMESTAMP) | plans/batch.py WriteBatch'",
    "observed_counts": "PARITY row 'Kept/dropped counters + rates | ... core/metrics.py observed_counts'",
    "query_class": "PARITY row 'Statement classification regex | core/metrics.py query_class/table_ref'",
    "table_ref": "PARITY row 'Statement classification regex | core/metrics.py query_class/table_ref'",
    "age_seconds": "PARITY row 'µs→s TTL age math | functions.age_seconds, ttl_convict_expr'",
    "temperature_weights": "PARITY row 'Temperature-scaled source mixing | operators/sampling.py temperature_weights (+ mixed_sample)'",
    "mixed_sample": "PARITY row 'Temperature-scaled source mixing | operators/sampling.py temperature_weights (+ mixed_sample)'",
    "dequantize_embedding": "PARITY row 'int8 embedding quantization | operators/similarity.py quantize_embedding/dequantize_embedding'",
    "progress_listener": "PARITY row 'Progress reporting interval | ... streaming/events.py progress_listener'",
    "get_opt": "PARITY row 'Typed row accessors (RichRow) | functions/rows.py'",
    "get_or": "PARITY row 'Typed row accessors (RichRow) | functions/rows.py'",
    "get_list": "PARITY row 'Typed row accessors (RichRow) | functions/rows.py'",
    "get_set": "PARITY row 'Typed row accessors (RichRow) | functions/rows.py'",
    "get_map": "PARITY row 'Typed row accessors (RichRow) | functions/rows.py'",
    "cql": "PARITY row 'In()/Fields()/Inline/named params | plans/statement.py' (the builder's entry point)",
    "windowed_rollup": "PARITY row 'Windowed aggs + watermark | windowed_rollup, ...'",
    "streaming_retention": "PARITY row 'Retrospective deletion (late data) | streaming/events.py streaming_retention'",
    "streaming_dedup": "PARITY row 'Streaming exact dedup, bounded state | streaming/events.py streaming_dedup'",
    "continuous_rollup": "PARITY row 'Continuous aggregate (hypertable rollup) | streaming/events.py continuous_rollup'",
    "register_codec": "PARITY row 'Multimodal binary columns | operators/multimodal.py (... register_codec(name, fn) ...)'",
    "adaptive_length_filter": "PARITY row 'Per-language adaptive length gate | operators/text.py adaptive_length_report / adaptive_length_filter'",
    "pack_greedy": "PARITY row 'Sequence packing (concat-and-chunk + greedy no-split) | operators/packing.py'",
    "retention_with_indexes": "the reference's index cleanup (SURVEY.md:354,464); PARITY row 'Derived-index maintenance'",
    "DerivedIndex": "the reference's index cleanup (SURVEY.md:354,464); PARITY row 'Derived-index maintenance'",
    # helpers of allowed definitions
    "mixture_fractions": "computes mixed_sample's per-source fractions",
    "BatchError": "raised by WriteBatch",
    # reference capabilities described in PARITY.md prose, not in a table row
    "read_cassandra_table": "the connector read path (PARITY.md 'Round 5: Cassandra connector resolution attempt'); needs a live cluster",
    "read_options": "builds read_cassandra_table's connector options",
    "ConnectorUnavailable": "raised by read_cassandra_table without the connector jar",
    "_check_connector": "read_cassandra_table's connector probe",
    "streaming_apply_changelog": "store-backed changelog drain (PARITY.md 'Round 4 (continued): delete-semantics completion')",
    "read_changelog_state": "the live view of a streaming_apply_changelog store",
    "stream_count_min_to_store": "store-backed Count-Min drain (PARITY.md 'Round 5 ... streaming sketches')",
    "heavy_hitters_from_store": "reads stream_count_min_to_store's store (PARITY.md round 6, item 7)",
    "cm_join_size_estimate": "Count-Min join-size bound over two sketch tables (operators/sketches.py)",
    "derive_writetime": "type-introspecting writetime path (PARITY.md 'ANSI does NOT guard numeric→timestamp casts')",
    # test instruments
    "selected_buckets": "test instrument for bucket pruning",
    "join_is_colocated": "test instrument for exchange-free bucketed joins",
    "write_zordered": "the z-order file writer whose per-file footer spans zorder_file_stats measures (operators/zorder.py)",
    # public readers of a drain's mark
    "applied_batch_hwm": "public reader of a drain's mark; the drain tests assert through it",
    "applied_txn_app_id": "public reader of a drain's mark; the drain tests assert through it",
}


def _names(tree: ast.AST, imports: bool = True) -> set[str]:
    """Identifiers, attribute names and (if ``imports``) imported names
    used in ``tree``."""
    out: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if imports:
                out |= {a.name.rsplit(".", 1)[-1] for a in node.names}
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        stack.extend(ast.iter_child_nodes(node))
    return out


def _decorator_name(dec: ast.expr) -> str:
    if isinstance(dec, ast.Call):
        dec = dec.func
    if isinstance(dec, ast.Attribute):
        return dec.attr
    return dec.id if isinstance(dec, ast.Name) else ""


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _external_files() -> list[str]:
    files = glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    files += [p for p in glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
              if not os.path.basename(p).startswith("test_")]
    files += [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    return sorted(p for p in files if os.path.exists(p))


def unreached() -> list[tuple[str, int, str]]:
    """Every unreached top-level definition as ``(module path, line, name)``."""
    defs: list[tuple[str, ast.AST]] = []
    live: set[str] = set()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, ROOT)
        reexports = os.path.basename(path) == "__init__.py"
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.append((rel, node))
                if any(_decorator_name(d) in ROOT_DECORATORS for d in node.decorator_list):
                    live.add(node.name)
            else:
                live |= _names(node, imports=not reexports)
    for path in _external_files():
        live |= _names(_parse(path))

    scanned: set[int] = set()
    while True:
        new: set[str] = set()
        for i, (_, node) in enumerate(defs):
            if i not in scanned and node.name in live:
                scanned.add(i)
                new |= _names(node)
        if new <= live:
            break
        live |= new
    return sorted((rel, node.lineno, node.name) for rel, node in defs if node.name not in live)


def main() -> int:
    stray = [(rel, line, name) for rel, line, name in unreached() if name not in ALLOW]
    for rel, line, name in stray:
        print(f"{rel}:{line} {name}")
    return 1 if stray else 0


if __name__ == "__main__":
    sys.exit(main())
