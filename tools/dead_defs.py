"""List package top-level defs that nothing outside the tests reaches,
package imports that nothing uses, and private module-level bindings
that nothing reads.

Usage:
    python tools/dead_defs.py

Parses (never imports) every module of ``futures_eos_cdc_spark`` and
collects its top-level ``def``/``class`` names. A def counts as reached
when its name is used — called, attribute-accessed, imported or passed —
anywhere in a package module (outside the def's own body), in ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. ``q_*`` query
builders always count as reached: they register by decorator.

Prints four lists and exits 1 when any disagrees with this file:

- defs reached by nothing at all, tests included (must be empty);
- defs reached only from ``tests/`` (must equal ``TEST_ONLY_ALLOWED``,
  whose values name the COVERAGE.md row or reference test each one backs);
- imported names (module-level or local, ``__future__`` aside) that their
  module never mentions, neither as a name nor as a whole string constant
  such as an ``__all__`` entry (must be empty);
- underscore-prefixed module-level names a package module binds
  (``_X = ...``) that no code reads — package, callers or tests — by
  name, attribute or whole string constant (must be empty).

Matching is by name, not by resolved binding, so a def shadowed by a
same-named def elsewhere can read as reached: the scan under-reports,
never over-reports.
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "futures_eos_cdc_spark"
# Non-package callers that make a def production-reachable.
CALLER_PATHS = ("tools", "perfbench", "bench.py", "__spark_entry__.py")
TEST_PATHS = ("tests",)

# Package defs that only tests call: public API, sinks and sources that
# need an absent connector, or reference implementations tests compare
# against. Each value names the COVERAGE.md row or the test that keeps it.
TEST_ONLY_ALLOWED = {
    "bpe.apply_bpe_py": "reference implementation: test_spark_apply_matches_python_on_fixture",
    "bpe.load_bpe_merges": "public API: test_merge_table_save_load_roundtrip",
    "bpe.save_bpe_merges": "public API: test_merge_table_save_load_roundtrip",
    "bpe.train_bpe_py": "reference implementation: test_train_hand_example",
    "bucketing.bucketed_join": "public API: test_bucketed_join_has_no_exchange_or_sort",
    "bucketing.read_partition_pruned": "COVERAGE Hive-partitioned layout row",
    "bucketing.write_bucketed": "public API: test_bucketed_join_has_no_exchange_or_sort",
    "bucketing.write_partitioned": "COVERAGE Hive-partitioned layout row",
    "clustering.dedup_keep_representatives": "public API: test_dedup_keep_representatives",
    "dsir.dsir_ratio_literal": "COVERAGE composed streaming selection gate row",
    "generator.generate_signals": "COVERAGE S3/P17 (synthetic signal generator)",
    "jdbc.recent_orders": "COVERAGE S6 (recent orders)",
    "kafka.kafka_txn_decisions_writer": "COVERAGE S2+ (transactional Kafka EOS sink)",
    "kafka.kafka_txn_decisions_writer_parallel": (
        "COVERAGE S2+: test_kafka_txn.py, test_kafka_loopback.py"
    ),
    "kafka.write_decisions_kafka": "COVERAGE S2 (Kafka sink; needs spark-sql-kafka)",
    "linkage.fuzzy_link_values": (
        "public API: test_fuzzy_link_values_includes_exact_and_both_orientations"
    ),
    "manifest.manifest_pruned_read": "public API: test_manifest_prunes_files_and_preserves_results",
    "manifest.refresh_scan_manifest": "public API: test_manifest_incremental_refresh",
    "monitor.attach_progress_recorder": (
        "public API: test_progress_recorder_captures_throughput_and_state"
    ),
    "monitor.console_peek_writer": "COVERAGE S9 (console/peek sink)",
    "monitor.peek": "COVERAGE S9 (console/peek sink)",
    "multimodal.attach_synthetic_media": (
        "public API: test_multimodal_resize_is_real_and_frame_sample_shapes"
    ),
    "multimodal.decode_media_features": "public API: test_media_decode_rejects_compressed_formats",
    "multimodal.resize_media": "public API: test_multimodal_resize_is_real_and_frame_sample_shapes",
    "order_pipeline.parse_debezium_envelope": "COVERAGE S7 (Debezium CDC source)",
    "outbox.content_duplicate_report": "COVERAGE T7 (content dedup)",
    "outbox.jdbc_orders_outbox_writer": "COVERAGE S5/T8 (JDBC transactional sink)",
    "outbox.parquet_cdc_merge_writer": "COVERAGE continuous CDC snapshot row",
    "outbox.parquet_incremental_agg_writer": "COVERAGE incremental-aggregate view row",
    "outbox.read_cdc_snapshot": "COVERAGE versioned-store time travel row",
    "pipeline.arrival_order_last10": "COVERAGE A2 (bit-exact arrival-order option)",
    "pipeline.dedup_gate_writer": "COVERAGE unified dedup admission gate row",
    "pipeline.read_signal_stream_kafka": "COVERAGE S1 (Kafka source; needs spark-sql-kafka)",
    "pipeline.read_signal_stream_rate": "COVERAGE S3/T9: test_rate_source_sustains_1000_rps",
    "pipeline.selection_gate_expr": "COVERAGE composed streaming selection gate row",
    "pipeline.stream_dedup_against_corpus": "COVERAGE continuous ingestion dedup row",
    "pipeline.stream_stream_click_attribution": "COVERAGE stream-stream watermarked range join row",
    "pipeline.streaming_candles": "COVERAGE OHLCV candles row (streaming twin)",
    "pipeline.streaming_decide_bounded": "COVERAGE bounded-state decide row",
    "pipeline.streaming_sessionize": "COVERAGE T4 (session windows)",
    "sampling.write_training_shards": "COVERAGE training-shard export row",
    "signal_pipeline.parse_signals": "COVERAGE P1/P2 (lenient JSON parse)",
    "skew.salted_join": "COVERAGE hot-key salting row",
    "tables.refresh_tables": "public API: test_refresh_tables_drops_table_handles",
    "unigram.viterbi_tokens_py": "reference implementation: test_viterbi_matches_brute_force",
    "wordpiece.wordpiece_tokens_py": "reference implementation: test_greedy_longest_match_first",
}


def _py_files(rel: str) -> list[str]:
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        return [path]
    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return sorted(out)


def _names_used(node: ast.AST) -> set[str]:
    """Every identifier ``node`` mentions as a use (not as a definition),
    including inside string constants that parse as Python code (scripts
    a test runs in a subprocess)."""
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            used |= _names_in_code_string(n.value)
    return used


def _names_in_code_string(s: str) -> set[str]:
    if "\n" not in s or "import" not in s:
        return set()  # prose (docstrings, messages), not a script
    try:
        return _names_used(ast.parse(s))
    except SyntaxError:
        return set()


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def scan() -> tuple[list[str], list[str]]:
    """(reached by nothing, reached only from tests), as sorted
    ``module.name`` keys (module = the file's stem)."""
    defs: dict[str, str] = {}  # "module.name" -> name
    body_uses: dict[str, set[str]] = {}  # "module.name" -> names its body uses
    reached: set[str] = set()  # names used at module level or by callers
    for path in _py_files(PACKAGE):
        mod = os.path.splitext(os.path.basename(path))[0]
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                key = f"{mod}.{node.name}"
                defs[key] = node.name
                body_uses[key] = _names_used(node)
                # decorators run at import time: a registering decorator
                # is a use from module level
                for dec in node.decorator_list:
                    reached |= _names_used(dec)
            else:
                reached |= _names_used(node)
    for path in (p for rel in CALLER_PATHS for p in _py_files(rel)):
        reached |= _names_used(_parse(path))
    test_reached = set()
    for path in (p for rel in TEST_PATHS for p in _py_files(rel)):
        test_reached |= _names_used(_parse(path))

    dead, test_only = [], []
    for key, name in sorted(defs.items()):
        from_package = any(
            name in used for other, used in body_uses.items() if other != key
        )
        if name.startswith("q_") or from_package or name in reached:
            continue
        (test_only if name in test_reached else dead).append(key)
    return dead, test_only


def unused_imports() -> list[str]:
    """Sorted ``path:line:name`` for every package import whose bound
    name its module never uses. Per module, not per scope: a local import
    whose name the module uses elsewhere reads as used."""
    out = []
    for path in _py_files(PACKAGE):
        tree = _parse(path)
        bound: dict[str, int] = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and n.module == "__future__":
                continue
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                for a in n.names:
                    bound[(a.asname or a.name).split(".")[0]] = n.lineno
        used = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                used.add(n.value)
        rel = os.path.relpath(path, ROOT)
        out += [f"{rel}:{line}:{name}" for name, line in bound.items() if name not in used]
    return sorted(out)


def unread_bindings() -> list[str]:
    """Sorted ``path:line:name`` for every underscore-prefixed (not
    dunder) module-level binding of a package module that no scanned
    file reads: a load of the name, an attribute of that name (so
    ``module._X`` from another file counts) or a string constant equal
    to it (``getattr``/``monkeypatch.setattr`` targets)."""
    bound: dict[str, str] = {}  # name -> "path:line"
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for n in (n for t in targets for n in ast.walk(t)):
                if isinstance(n, ast.Name) and n.id.startswith("_") and not n.id.startswith("__"):
                    bound[n.id] = f"{os.path.relpath(path, ROOT)}:{node.lineno}"
    read = set()
    for rel in (PACKAGE, *CALLER_PATHS, *TEST_PATHS):
        for path in _py_files(rel):
            for n in ast.walk(_parse(path)):
                if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                    read.add(n.id)
                elif isinstance(n, ast.Attribute):
                    read.add(n.attr)
                elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                    read.add(n.value)
                    read |= _names_in_code_string(n.value)
    return sorted(f"{where}:{name}" for name, where in bound.items() if name not in read)


def main() -> int:
    dead, test_only = scan()
    print(f"reached by nothing ({len(dead)}):")
    for key in dead:
        print(f"  {key}")
    print(f"reached only from tests ({len(test_only)}):")
    for key in test_only:
        print(f"  {key}  [{TEST_ONLY_ALLOWED.get(key, 'NOT ALLOWLISTED')}]")
    stale = sorted(set(TEST_ONLY_ALLOWED) - set(test_only))
    for key in stale:
        print(f"allowlisted but no longer test-only: {key}")
    unused = unused_imports()
    print(f"unused imports ({len(unused)}):")
    for key in unused:
        print(f"  {key}")
    unread = unread_bindings()
    print(f"unread private bindings ({len(unread)}):")
    for key in unread:
        print(f"  {key}")
    failed = dead or stale or unused or unread or set(test_only) - set(TEST_ONLY_ALLOWED)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
