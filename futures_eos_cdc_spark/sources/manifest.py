"""File-level data skipping from parquet footer statistics (manifest scan).

Hive-style directory partitioning (bucketing.write_partitioned) prunes on
the PARTITION column only. Delta/Iceberg additionally skip whole files on
any clustered column by consulting per-file min/max statistics kept in a
manifest — which is why Z-ordering (bucketing.zorder_key_expr) pays off:
sorted/clustered layouts give files tight, disjoint value ranges.

This module supplies that manifest layer over plain parquet directories,
no table-format jars required:

- :func:`build_scan_manifest` reads ONLY parquet footers (a few KB per
  file, via pyarrow) — distributed over the executors with one task per
  file chunk, so a 100 TB / 100k-file table costs a metadata-sized job,
  not a data scan. The manifest (file, column, min, max, rows) is
  collected to the driver: ~#files × #cols rows, kilobytes per thousand
  files — the same order as Spark's own file listing.
- :func:`prune_files` intersects a conjunction of closed ranges with the
  manifest and returns the surviving file list.
- :func:`manifest_pruned_read` reads only those files and re-applies the
  predicate as a normal Catalyst filter (file skipping is a superset
  admission test — row-level filtering still happens, and still pushes
  into the row-group reader).

Stats semantics: a file with NO footer stats for a column (or with nulls
only) is always ADMITTED — skipping must be conservative. min/max are
compared with Python ordering; use this for numeric/date columns without
reservation. For long STRING columns, verify the writer's statistics
truncation first: parquet writers may truncate min/max at a byte budget,
and a writer that truncates max without incrementing the final byte
produces a max LOWER than the true max — an unsound skip. (parquet-mr
and arrow increment correctly; treat third-party writers as suspect and
drop string columns from the manifest if unsure.)
"""

from __future__ import annotations

import os
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession


def _list_parquet(path: str) -> list[str]:
    """The same non-recursive ``*.parquet`` listing every manifest builder
    uses — shared so coverage checks compare like with like."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return [path]


def _file_stats(path: str, cols: tuple[str, ...]) -> list[tuple]:
    """(file, column, min, max, n_rows, has_nulls) rows from one footer."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out = []
    for col in cols:
        i = idx.get(col)
        if i is None:
            out.append((path, col, None, None, md.num_rows, True))
            continue
        mn = mx = None
        has_nulls = False
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            if st.null_count is None or st.null_count > 0:
                has_nulls = True
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if not ok:
            mn = mx = None
            has_nulls = True
        out.append((path, col, mn, mx, md.num_rows, has_nulls))
    return out


def build_scan_manifest(
    spark: SparkSession, path: str, cols: Iterable[str]
) -> list[dict]:
    """Per-file min/max manifest for ``cols`` over every ``*.parquet`` file
    under ``path`` (non-recursive — pair with a directory-partitioned
    layout by manifesting each leaf dir, or pass a single flat dir).

    Footer reads are distributed: one Spark task per file batch; only
    metadata bytes move. Returns driver-side dicts (file, column, min,
    max, rows, has_nulls) — persist as its own tiny parquet/JSON table in
    production and refresh incrementally on append.
    """
    cols = tuple(cols)
    files = _list_parquet(path)
    if not files:
        return []
    sc = spark.sparkContext
    n_slices = min(len(files), sc.defaultParallelism)
    rows = (
        sc.parallelize(files, n_slices)
        .flatMap(lambda f: _file_stats(f, cols))
        .collect()
    )
    return [
        {
            "file": f,
            "column": c,
            "min": mn,
            "max": mx,
            "rows": n,
            "has_nulls": hn,
        }
        for (f, c, mn, mx, n, hn) in rows
    ]


def refresh_scan_manifest(
    spark: SparkSession, path: str, cols: Iterable[str], manifest: list[dict]
) -> list[dict]:
    """Incremental manifest maintenance for append-only tables: read
    footers ONLY for files not already covered by ``manifest`` and return
    the merged manifest. An appended batch of K files costs K footer
    reads, never a full re-scan — the same append-only discipline as
    :meth:`operators.gate_index.DedupGateIndex.append`. Entries for files
    that no longer exist are dropped (compaction/GC)."""
    cols = tuple(cols)
    known = {e["file"] for e in manifest}
    files = set(_list_parquet(path))
    kept = [e for e in manifest if e["file"] in files]
    new = sorted(files - known)
    if not new:
        return kept
    sc = spark.sparkContext
    rows = (
        sc.parallelize(new, min(len(new), sc.defaultParallelism))
        .flatMap(lambda f: _file_stats(f, cols))
        .collect()
    )
    kept.extend(
        {
            "file": f,
            "column": c,
            "min": mn,
            "max": mx,
            "rows": n,
            "has_nulls": hn,
        }
        for (f, c, mn, mx, n, hn) in rows
    )
    return kept


def prune_files(
    manifest: list[dict], ranges: dict[str, tuple[Any, Any]]
) -> list[str]:
    """Files that MAY contain rows satisfying every ``col: (lo, hi)``
    closed-range predicate (either bound may be None = unbounded).
    A file is skipped only when some column's footer range provably
    misses the query range; missing stats admit the file."""
    by_file: dict[str, dict[str, dict]] = {}
    for e in manifest:
        by_file.setdefault(e["file"], {})[e["column"]] = e

    def admit(stats: dict[str, dict]) -> bool:
        for col, (lo, hi) in ranges.items():
            e = stats.get(col)
            if e is None or e["min"] is None or e["max"] is None:
                continue  # conservative: no stats → cannot skip
            if lo is not None and e["max"] < lo:
                return False
            if hi is not None and e["min"] > hi:
                return False
        return True

    return [f for f, stats in sorted(by_file.items()) if admit(stats)]


def manifest_pruned_read(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple[Any, Any]],
    manifest: list[dict] | None = None,
) -> DataFrame:
    """Range-predicate read that skips whole files via the footer manifest,
    then re-applies the predicate row-level (pushed into the row-group
    reader as usual). Build the manifest once and pass it in to amortize;
    omitted → built on the fly.

    Returns an EMPTY DataFrame with the directory's schema when every file
    is pruned (schema comes from one footer, no data read)."""
    from pyspark.sql import functions as F

    if manifest is None:
        manifest = build_scan_manifest(spark, path, tuple(ranges))
    keep = prune_files(manifest, ranges)
    # Coverage check (r6 ADVICE): a file on disk but absent from a STALE
    # caller-supplied manifest (appended after build_scan_manifest) has no
    # stats to judge it by — the module's conservative-admission contract
    # ("skipping must be conservative") applies to missing FILE entries
    # exactly as to missing column stats, so admit it rather than silently
    # dropping its rows. refresh_scan_manifest is the cheap way to restore
    # skipping for such files.
    covered = {e["file"] for e in manifest}
    unknown = [f for f in _list_parquet(path) if f not in covered]
    if unknown:
        keep = sorted(set(keep) | set(unknown))

    def residual(df: DataFrame) -> DataFrame:
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(col) >= lo)
            if hi is not None:
                df = df.filter(F.col(col) <= hi)
        return df

    if not keep:
        empty = spark.read.parquet(path).limit(0)
        return residual(empty)
    return residual(spark.read.parquet(*keep))
