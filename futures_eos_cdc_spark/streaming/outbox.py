"""Transactional order+outbox sink: the reference's S5/T8 leg on Spark.

The reference writes each order and its outbox event in ONE Postgres
transaction and relies on `client_order_id` / `event_id` uniqueness to make
at-least-once delivery effectively exactly-once (DatabaseManager.kt:33-88,
configmap-init.yaml:49, OrderService.kt:94-101). Spark's equivalent
(SURVEY.md §7.3): micro-batch checkpointing makes offset+state progress
atomic, and the sink must be idempotent per batch:

- ``jdbc_orders_outbox_writer`` — the production shape: one connection per
  partition, one transaction per partition-batch, both INSERTs with
  ``ON CONFLICT DO NOTHING`` (idempotent under batch replay). Code-complete
  but requires a JDBC driver jar on the classpath; not exercised in this
  container.
- ``parquet_orders_outbox_writer`` — the locally-verifiable stand-in with
  the same contract on a local filesystem: per-batch atomicity via a
  staging-dir rename, replay idempotency via a driver-side dedup on the
  unique key. Each epoch costs the micro-batch's own Spark job (the staged
  write) plus a pyarrow read of the key column of every file in the table —
  the O(table files) part that remains. Used by the EOS tests and the
  benchmark's streaming workloads.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConcurrentWriterError(RuntimeError):
    """A second live writer tried to publish into a versioned store."""


DEFAULT_LEASE_TTL_S = 600.0
# Reader-protection window for versioned-store GC: a published version
# directory younger than this is never deleted, whatever keep_versions says
# (see _VersionedParquet docstring). Sized like the lease TTL: both bound
# "how long can one scan/batch legitimately run".
DEFAULT_GC_GRACE_S = 300.0


class _WriterLease:
    """TTL lease file enforcing the versioned stores' single-writer rule.

    The versioned-parquet writers are correct ONLY single-writer (their
    pointer swap is last-write-wins; two writers would silently interleave
    snapshot lineages). Through round 5 that was a documented convention;
    this makes it enforced: a writer must hold ``_WRITER_LOCK`` in the
    store dir, created O_EXCL, heartbeat-renewed (mtime) on every publish,
    and released on clean shutdown. A second writer FAILS LOUDLY with
    :class:`ConcurrentWriterError` unless the lease is stale (no heartbeat
    for ``ttl_s`` — a crashed holder), in which case takeover re-races
    through unlink + O_EXCL so exactly one contender wins.

    TTL staleness (not pid-liveness) is deliberate: it is the only signal
    that works on a shared filesystem where writers run on different hosts.
    Liveness under LONG batches (r7 VERDICT #7): a daemon heartbeat thread
    (``start_heartbeat``, ttl/3 cadence) renews the mtime while the writer
    process lives, so a micro-batch longer than the TTL no longer loses
    the lease merely by being slow — takeover now requires an actual dead
    holder (heartbeats stop with the process). The thread renews ONLY
    while the lease file still names this run: it never resurrects a lease
    a contender legitimately took over (e.g. after a >ttl process pause),
    and the pre-swap re-verification still aborts such a usurped writer's
    publish before the commit point (no lineage interleaving — see
    ``_VersionedParquet.publish``).
    Upgrade path: Delta/Iceberg replace this file with optimistic commit
    protocols (conditional pointer swap + conflict detection), which add
    multi-writer MERGE; until those jars are available, the lease turns the
    documented constraint into an error instead of corruption.

    Why not a poor-man's optimistic CAS here (O_EXCL-create of
    ``_commits/<seq>``, loser retries)? Because these writers publish FULL
    merged snapshots: two concurrent merge writers that both CAS-commit
    would each base their snapshot on the pre-conflict state, so the
    second commit silently discards the first one's rows — CAS serializes
    the pointer, not the merge. Safe multi-writer needs per-commit change
    sets plus conflict detection/replay (what Delta's protocol actually
    provides). For snapshot-merge semantics, mutual exclusion IS the
    correct protocol, not a stopgap.
    """

    def __init__(self, base_dir: str, run_id: str, ttl_s: float = DEFAULT_LEASE_TTL_S):
        self.path = os.path.join(base_dir, "_WRITER_LOCK")
        self.run_id = run_id
        self.ttl_s = ttl_s
        self._hb_thread = None
        self._hb_stop = None

    def _holder_age(self) -> tuple[str, float | None]:
        try:
            st = os.stat(self.path)
            with open(self.path) as fh:
                holder = (fh.read().split() or [""])[0]
            return holder, time.time() - st.st_mtime
        except OSError:
            return "", None

    def _create(self) -> None:
        fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as fh:
            fh.write(f"{self.run_id} {os.getpid()} {time.time():.3f}")

    def acquire(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        try:
            self._create()
            return
        except FileExistsError:
            pass
        holder, age = self._holder_age()
        if age is not None and age < self.ttl_s:
            raise ConcurrentWriterError(
                f"{self.path} held by live writer {holder!r} "
                f"(heartbeat {age:.1f}s ago, ttl {self.ttl_s}s); release() the "
                "other writer or wait out the lease"
            )
        try:
            os.unlink(self.path)
        except FileNotFoundError:
            pass
        try:
            self._create()  # losing the takeover race fails loudly below
        except FileExistsError:
            raise ConcurrentWriterError(
                f"lost stale-lease takeover race on {self.path}"
            ) from None

    def check_and_renew(self) -> None:
        holder, _ = self._holder_age()
        if holder != self.run_id:
            raise ConcurrentWriterError(
                f"{self.path} no longer held by this writer "
                f"(holder={holder!r}) — a concurrent writer took over; "
                "refusing to publish over its lineage"
            )
        os.utime(self.path)

    def start_heartbeat(self, interval_s: float | None = None) -> None:
        """Renew the lease mtime every ``interval_s`` (default ttl/3) from
        a daemon thread while this writer lives — the liveness half of the
        lease (class docstring). No-op when ttl_s<=0 (the trust-the-caller
        drill mode) or when already beating. The thread touches the file
        ONLY while it still names this run; a benign race remains where a
        contender's takeover lands between that read and the utime — the
        touch then merely extends the NEW holder's lease a little, it
        never changes who holds it."""
        if self.ttl_s <= 0 or self._hb_thread is not None:
            return
        import threading

        interval = interval_s if interval_s is not None else max(0.05, self.ttl_s / 3.0)
        stop = threading.Event()

        def beat() -> None:
            while not stop.wait(interval):
                holder, _ = self._holder_age()
                if holder != self.run_id:
                    return  # released or taken over — never resurrect
                try:
                    os.utime(self.path)
                except OSError:
                    return

        self._hb_stop = stop
        self._hb_thread = threading.Thread(
            target=beat, name=f"writer-lease-hb-{self.run_id[:8]}", daemon=True
        )
        self._hb_thread.start()

    def stop_heartbeat(self) -> None:
        if self._hb_thread is not None:
            self._hb_stop.set()
            self._hb_thread.join(timeout=5)
            self._hb_thread = None
            self._hb_stop = None

    def release(self) -> None:
        self.stop_heartbeat()
        holder, _ = self._holder_age()
        if holder == self.run_id:
            try:
                os.unlink(self.path)
            except FileNotFoundError:
                pass


def jdbc_orders_outbox_writer(jdbc_url: str, properties: dict[str, str]):
    """foreachBatch writer: atomically upsert orders + outbox over JDBC.

    Returns a (batch_df, epoch_id) callable for
    ``writeStream.foreachBatch``. Each executor partition opens one
    connection, writes its orders and outbox rows in a single transaction,
    and commits — mirroring DatabaseManager.saveOrderWithOutbox, scaled out.
    """

    write_partition = partition_txn_writer(jdbc_url, properties)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        # Distributed sink: each executor partition opens one connection and
        # commits one transaction — no driver-side collect() bottleneck.
        batch_df.foreachPartition(write_partition)

    return write


def partition_txn_writer(jdbc_url: str, properties: dict[str, str]):
    """The per-partition transaction body (runs ON the executor): one
    connection + ONE transaction per partition, both tables written with
    batched ``executemany``. Idempotent under replay via ON CONFLICT DO
    NOTHING on the unique keys (client_order_id / event_id), so
    at-least-once re-delivery of a whole partition is a no-op — the same
    contract as the reference's per-order transaction
    (DatabaseManager.kt:33-88), amortized over a batch.

    Factored out of the foreachBatch wrapper so its transaction/rollback
    logic is unit-testable with a stub DB-API module (the real driver jar
    is absent in this container).
    """

    def write_partition(rows) -> None:
        rows = list(rows)
        if not rows:
            return
        import importlib

        try:
            jaydebeapi = importlib.import_module("jaydebeapi")  # optional
        except ModuleNotFoundError as exc:
            raise RuntimeError(
                "JDBC sink needs a JDBC bridge (jaydebeapi) + driver jar; "
                "use parquet_orders_outbox_writer for local runs"
            ) from exc
        conn = jaydebeapi.connect(properties["driver"], jdbc_url)
        try:
            cur = conn.cursor()
            cur.executemany(
                "INSERT INTO app.orders (id, client_order_id, symbol, side,"
                " qty, price, status) VALUES (?,?,?,?,?,?,?)"
                " ON CONFLICT (client_order_id) DO NOTHING",
                [
                    [r.id, r.client_order_id, r.symbol, r.side, r.qty, r.price, r.status]
                    for r in rows
                ],
            )
            cur.executemany(
                "INSERT INTO app.outbox (event_id, aggregate_type,"
                " aggregate_id, type, payload) VALUES (?,?,?,?,?)"
                " ON CONFLICT (event_id) DO NOTHING",
                [[r.event_id, "ORDER", r.id, "ORDER_CREATED", r.payload] for r in rows],
            )
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    return write_partition


def parquet_orders_outbox_writer(base_dir: str, key_col: str = "client_order_id"):
    """foreachBatch writer with the same exactly-once contract, file-backed.

    Idempotency is ON CONFLICT DO NOTHING by ``key_col``: a row is published
    only if no earlier row of the batch and no file of the table holds its
    key — files another writer dropped into ``orders/`` count too — so a
    replayed epoch writes nothing new. Null keys keep the semantics of
    ``dropDuplicates`` + left-anti join: one null-key row per batch, never
    matched against the table. Atomicity: the batch is staged to a temp dir
    and renamed into place as ``epoch<N>_<i>_<part>.parquet``.

    The Spark plan is written straight to the staging dir, so the epoch
    runs the micro-batch's own job and nothing else: no shuffle for the
    in-batch dedup and no broadcast of the table's keys. The driver then
    dedups with pyarrow — it reads the staged files' and the table's key
    columns, rewrites a staged file only when some of its rows conflict and
    drops one with no new row. That read of every table file's keys is the
    cost that still grows with the table. The renames assume a local
    filesystem, like the rest of this stand-in. An empty first epoch still
    publishes one schema-only file, so the table is readable from the start.
    """
    table_dir = os.path.join(base_dir, "orders")

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        staged = os.path.join(base_dir, f"_stage_{epoch_id}_{uuid.uuid4().hex[:8]}")
        batch_df.write.mode("overwrite").parquet(staged)  # the epoch's one job
        try:
            part_files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
            paths = [os.path.join(staged, f) for f in part_files]
            table_files = _visible_files(table_dir)
            masks = _new_key_masks(paths, table_files, key_col)
            os.makedirs(table_dir, exist_ok=True)
            published = bool(table_files)
            for i, (f, path, mask) in enumerate(zip(part_files, paths, masks)):
                if published and not mask.any():
                    continue  # no new row, and the table already has a schema
                if not mask.all():
                    _rewrite_filtered(path, mask)
                os.rename(path, os.path.join(table_dir, f"epoch{epoch_id}_{i}_{f}"))
                published = True
        finally:
            shutil.rmtree(staged, ignore_errors=True)

    return write


def _visible_files(table_dir: str) -> list[str]:
    """The files a Spark read of ``table_dir`` lists (``_``/``.`` names are
    hidden)."""
    if not os.path.isdir(table_dir):
        return []
    return [
        os.path.join(table_dir, f)
        for f in sorted(os.listdir(table_dir))
        if not f.startswith(("_", "."))
    ]


def _new_key_masks(staged: list[str], table_files: list[str], key_col: str) -> list:
    """Per staged file, a boolean mask of its rows to publish: the first row
    of each key over the staged files in order (nulls form one key, as in
    ``dropDuplicates``) whose key no table file holds (a null never
    matches, as in a left-anti join)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def keys(path: str):
        with pq.ParquetFile(path) as f:
            return f.read(columns=[key_col]).column(0)

    batch = [keys(p) for p in staged]
    sizes = [len(k) for k in batch]
    keep = np.zeros(sum(sizes), dtype=bool)
    if keep.size:
        all_keys = pa.chunked_array([c for k in batch for c in k.chunks], type=batch[0].type)
        firsts = (
            pa.table({"k": all_keys, "i": np.arange(keep.size)})
            .group_by("k", use_threads=False)
            .aggregate([("i", "min")])
        )
        keep[firsts.column("i_min").to_numpy()] = True
        if table_files:
            held = pa.chunked_array(
                [c for p in table_files for c in keys(p).cast(all_keys.type).chunks],
                type=all_keys.type,
            ).combine_chunks()
            conflict = pc.is_in(all_keys, value_set=held, skip_nulls=True)
            keep &= ~conflict.to_numpy(zero_copy_only=False)
    return np.split(keep, np.cumsum(sizes)[:-1])


def _rewrite_filtered(path: str, mask) -> None:
    """Rewrite one staged parquet file in place with only the ``mask`` rows,
    keeping its schema metadata (Spark reads its types from it) and its
    INT96 timestamps, which pyarrow would otherwise write as nanoseconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with pq.ParquetFile(path) as f:
        int96 = any(c.physical_type == "INT96" for c in f.schema)
        table = f.read().filter(pa.array(mask))
    pq.write_table(table, path, use_deprecated_int96_timestamps=int96)


def content_duplicate_report(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """The reference's operational duplicate detectors as an engine op
    (eos-monitor.yaml:29-44, verify-eos.sh:100-112): groups with >1 row."""
    return (
        df.groupBy(*[F.col(c) for c in key_cols])
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def parquet_cdc_merge_writer(
    base_dir: str,
    key_cols: list[str],
    ts_col: str = "ts_ms",
    op_col: str = "op",
    tiebreak_cols: list[str] | None = None,
    lease_ttl_s: float = DEFAULT_LEASE_TTL_S,
    keep_versions: int = 2,
    gc_grace_s: float = DEFAULT_GC_GRACE_S,
):
    """foreachBatch writer that continuously maintains the CDC current-state
    snapshot: each micro-batch of changes is merged latest-wins into the
    previous snapshot (``operators.order_pipeline.cdc_latest_snapshot`` per
    batch — deletes tombstone keys, ties broken deterministically).

    Publication is versioned: the merged snapshot lands in a fresh
    ``snapshot_epoch*`` directory, then a one-line ``_CURRENT`` pointer file
    is swapped via ``os.replace`` (atomic on POSIX) — readers via
    :func:`read_cdc_snapshot` always see a complete version, never a partial
    write. Replay of an epoch is idempotent: latest-wins merge of
    already-merged rows changes nothing.

    Semantics note (mirrors Kafka log compaction): tombstones are NOT
    retained after they delete a key, so changes must arrive per-key
    time-ordered across batches — the reference's own per-partition Kafka
    ordering guarantee. This is the locally-verifiable twin of a
    Delta/Iceberg MERGE or the JDBC upsert path; superseded versions are
    garbage-collected best-effort after the pointer swap.

    Single-writer is ENFORCED via a TTL lease (see :class:`_WriterLease`):
    creating a second writer on a base_dir whose lease is live raises
    :class:`ConcurrentWriterError`. Call ``write.release()`` on clean
    shutdown (after ``query.stop()``); a crashed writer's lease expires
    after ``lease_ttl_s`` without heartbeats.

    ``keep_versions``: how many published snapshot versions GC retains for
    time travel via ``read_cdc_snapshot(spark, base, version=...)``;
    ``gc_grace_s`` additionally shields versions younger than the window
    from GC so concurrent time-travel readers never lose files mid-scan.
    """
    store = _VersionedParquet(
        base_dir, keep_versions=keep_versions, gc_grace_s=gc_grace_s
    )
    run_id = uuid.uuid4().hex  # identifies THIS writer instance / query run
    lease = _WriterLease(base_dir, run_id, ttl_s=lease_ttl_s)
    lease.acquire()
    lease.start_heartbeat()  # liveness under long batches (r7 VERDICT #7)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators.order_pipeline import cdc_latest_snapshot

        lease.check_and_renew()
        spark = batch_df.sparkSession
        cur, last_epoch, last_run, _ = store.current()
        # Replay gate: batch ids are only comparable within one query run.
        # A restart with a FRESH checkpointLocation restarts epochs at 0 —
        # under an epoch-only gate every new batch would be silently dropped
        # until the id caught up (data loss). Skip only when the run that
        # published last is THIS run; a foreign run's batches re-apply,
        # which latest-wins merging makes idempotent.
        if epoch_id <= last_epoch and last_run == run_id:
            return
        changes = batch_df
        if cur:
            changes = spark.read.parquet(cur).unionByName(batch_df)
        merged = cdc_latest_snapshot(
            changes, key_cols, ts_col=ts_col, op_col=op_col,
            tiebreak_cols=tiebreak_cols,
        )
        store.publish(
            merged, epoch_id, run_id, pre_swap_check=lease.check_and_renew
        )

    write.release = lease.release
    return write


class _VersionedParquet:
    """Versioned parquet publication behind an atomic pointer file, with a
    Delta-style transaction log for time travel.

    Each publish writes a fresh ``snapshot_epoch*`` directory, appends one
    line to the append-only ``_VERSIONS.log`` (``<seq> <dir> <epoch>
    <run-id> <fingerprint> <unix-ts>``), then swaps a one-line ``_CURRENT``
    pointer via ``os.replace`` (atomic on POSIX) — readers always see a
    complete version. The recorded (epoch, run-id) pair makes foreachBatch
    replay detection exact WITHIN a query run: batch ids restart at 0 on a
    fresh checkpoint, so writers must skip only same-run replays.

    ``keep_versions`` (default 2) controls GC: the newest N published
    versions' directories are retained, so ``read_version(seq)`` can time
    travel to any retained seq — the locally-verifiable core of Delta/
    Iceberg ``VERSION AS OF``. The default keeps current + immediately
    superseded (a reader that resolved ``_CURRENT`` just before a swap can
    finish its scan). The log itself is never truncated: ``history()``
    lists every publish, with ``retained`` flags.

    ``gc_grace_s`` (default 300) is the reader-protection window: GC never
    deletes a version directory younger than this, regardless of
    ``keep_versions``. The single-writer lease protects WRITERS from each
    other, but not a READER that resolved ``version_path(N)`` and then has
    its files deleted mid-scan by the writer's next publish — the exact
    Iceberg/Delta "vacuum retention" hazard, closed the same way: age-based
    retention on top of count-based. Size the grace above the slowest
    expected snapshot scan. ``gc_grace_s=0`` restores pure count-based GC
    (tests that assert immediate collection use it).

    Crash note: a crash between parquet write and pointer swap leaves a log
    entry whose version never became current — harmless (its dir is intact
    for time travel, and GC counts it toward retention).
    """

    def __init__(
        self,
        base_dir: str,
        keep_versions: int = 2,
        gc_grace_s: float = DEFAULT_GC_GRACE_S,
    ):
        self.base_dir = base_dir
        self.pointer = os.path.join(base_dir, "_CURRENT")
        self.log = os.path.join(base_dir, "_VERSIONS.log")
        self.keep_versions = max(1, keep_versions)
        self.gc_grace_s = gc_grace_s

    def current(self) -> tuple[str | None, int, str, str]:
        if os.path.exists(self.pointer):
            with open(self.pointer) as fh:
                parts = fh.read().strip().split(" ")
            vname = parts[0]
            epoch = int(parts[1]) if len(parts) > 1 and parts[1] else -1
            run_id = parts[2] if len(parts) > 2 else ""
            fingerprint = parts[3] if len(parts) > 3 else ""
            return os.path.join(self.base_dir, vname), epoch, run_id, fingerprint
        return None, -1, "", ""

    def history(self) -> list[dict]:
        """Every publish, oldest first: seq, dir, epoch, run_id,
        fingerprint, ts, retained (directory still on disk)."""
        entries: list[dict] = []
        if os.path.exists(self.log):
            with open(self.log) as fh:
                for line in fh:
                    p = line.strip().split(" ")
                    if len(p) < 6:
                        continue
                    entries.append(
                        {
                            "seq": int(p[0]),
                            "dir": p[1],
                            "epoch": int(p[2]),
                            "run_id": p[3],
                            "fingerprint": p[4],
                            "ts": float(p[5]),
                            "retained": os.path.isdir(
                                os.path.join(self.base_dir, p[1])
                            ),
                        }
                    )
        return entries

    def publish(
        self,
        df: DataFrame,
        epoch_id: int,
        run_id: str = "",
        fingerprint: str = "",
        pre_swap_check=None,
    ) -> None:
        """Write + log + pointer swap (+ GC). ``pre_swap_check``: callable
        invoked AFTER the (possibly long) parquet write, immediately before
        the ``_CURRENT`` swap — the commit point. The lease-holding writers
        pass ``lease.check_and_renew`` so a lease lost DURING a long merge
        write (batch > ttl; the r6 ADVICE hazard) aborts before the swap
        instead of interleaving snapshot lineages with the writer that took
        over: the raise leaves a log entry whose version never became
        current (the documented harmless crash shape)."""
        hist = self.history()
        seq = hist[-1]["seq"] + 1 if hist else 0
        vname = f"snapshot_epoch{epoch_id}_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(os.path.join(self.base_dir, vname))
        with open(self.log, "a") as fh:
            fh.write(
                f"{seq} {vname} {epoch_id} {run_id or '-'} "
                f"{fingerprint or '-'} {time.time()}\n"
            )
        if pre_swap_check is not None:
            pre_swap_check()
        tmp = f"{self.pointer}.tmp{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as fh:
            fh.write(f"{vname} {epoch_id} {run_id} {fingerprint}")
        os.replace(tmp, self.pointer)
        # NB: hist[-0:] would be the WHOLE list — guard the keep_versions=1
        # case (retain only the just-published version) explicitly.
        prev_keep = self.keep_versions - 1
        retained = {
            e["dir"] for e in (hist[-prev_keep:] if prev_keep > 0 else [])
        } | {vname}
        # Age-based reader protection: a version younger than gc_grace_s may
        # still be mid-scan by a reader that resolved it before this publish
        # — never delete it. Publish time comes from the log; a directory
        # with no log entry (crash between parquet write and log append)
        # falls back to its mtime, which errs toward keeping it.
        now = time.time()
        ts_by_dir = {e["dir"]: e["ts"] for e in hist}
        for d in os.listdir(self.base_dir):
            if not d.startswith("snapshot_") or d in retained:
                continue
            full = os.path.join(self.base_dir, d)
            born = ts_by_dir.get(d)
            if born is None:
                try:
                    born = os.path.getmtime(full)
                except OSError:
                    born = now
            if now - born < self.gc_grace_s:
                continue
            shutil.rmtree(full, ignore_errors=True)

    def version_path(self, seq: int) -> str:
        """Path of a retained published version by log seq (negative seq
        counts from the end: -1 = newest, -2 = previous...)."""
        hist = self.history()
        if not hist:
            raise FileNotFoundError(f"no published version under {self.base_dir}")
        by_seq = {e["seq"]: e for e in hist}
        if seq < 0:
            seq = hist[-1]["seq"] + 1 + seq
        e = by_seq.get(seq)
        if e is None:
            raise FileNotFoundError(
                f"version {seq} was never published under {self.base_dir} "
                f"(log has {hist[0]['seq']}..{hist[-1]['seq']})"
            )
        if not e["retained"]:
            raise FileNotFoundError(
                f"version {seq} ({e['dir']}) was garbage-collected; raise "
                "keep_versions on the writer to retain more history"
            )
        return os.path.join(self.base_dir, e["dir"])


def read_cdc_snapshot(spark, base_dir: str, version: int | None = None) -> DataFrame:
    """Read a version published by :func:`parquet_cdc_merge_writer` or
    :func:`parquet_incremental_agg_writer`. Default: the current version
    (resolves ``_CURRENT``). Pass ``version=<seq>`` (or a negative index,
    -2 = previous) to time travel to any retained version — Delta/Iceberg
    ``VERSION AS OF`` over the store's ``_VERSIONS.log``."""
    store = _VersionedParquet(base_dir)
    if version is not None:
        return spark.read.parquet(store.version_path(version))
    path, _, _, _ = store.current()
    if path is None:
        raise FileNotFoundError(f"no published version under {base_dir}")
    return spark.read.parquet(path)


def parquet_incremental_agg_writer(
    base_dir: str,
    key_cols: list[str],
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    checkpoint_fingerprint: str | None = None,
    lease_ttl_s: float = DEFAULT_LEASE_TTL_S,
    keep_versions: int = 2,
    gc_grace_s: float = DEFAULT_GC_GRACE_S,
):
    """foreachBatch writer maintaining a streaming materialized view of
    mergeable per-key aggregates (count / sum / min / max): each micro-batch
    is partially aggregated, then merged with the previous view —
    ``new = old ⊕ partial`` — exactly the map-side-combine algebra Spark
    uses inside a shuffle, applied across batches.

    Sums accumulate as DECIMAL(38,10), so the incremental result is
    bit-identical to a one-shot batch aggregation over all input (no
    float-order drift). Unlike the CDC merge, aggregate merge is NOT
    replay-idempotent, so the epoch recorded with the published version
    gates replays exactly (see :class:`_VersionedParquet`).

    Scale: state is the aggregate table (O(keys)), each batch costs one
    partial agg + a co-partitioned merge — never a rescan of history. The
    100 TB shape for always-on dashboards over unbounded streams.

    Pass ``checkpoint_fingerprint`` (any stable identifier of the query's
    checkpointLocation — e.g. the path itself) to make the crash-recovery
    skip exact: a same-batch-id delivery from a DIFFERENT checkpoint is new
    data, not a replay, and raises instead of silently skipping.

    Single-writer is ENFORCED via the same TTL lease as the CDC writer
    (the epoch/fingerprint gates catch backward-epoch interleaving, but a
    concurrent writer publishing a HIGHER epoch would silently ⊕-merge over
    the other's lineage — the lease closes that hole). ``write.release()``
    on clean shutdown; ``lease_ttl_s=0`` restores the trust-the-caller
    pre-lease behavior (every existing lease treated as stale) for
    crash-recovery drills that restart within the TTL window.
    """
    from ..operators.signal_pipeline import DEC

    sum_cols = sum_cols or []
    min_cols = min_cols or []
    max_cols = max_cols or []
    store = _VersionedParquet(
        base_dir, keep_versions=keep_versions, gc_grace_s=gc_grace_s
    )
    run_id = uuid.uuid4().hex  # identifies THIS writer instance / query run
    lease = _WriterLease(base_dir, run_id, ttl_s=lease_ttl_s)
    lease.acquire()
    lease.start_heartbeat()  # liveness under long batches (r7 VERDICT #7)

    def _partial(df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).cast("long").alias("n")]
        aggs += [F.sum(F.col(c).cast(DEC)).alias(f"sum_{c}") for c in sum_cols]
        aggs += [F.min(c).alias(f"min_{c}") for c in min_cols]
        aggs += [F.max(c).alias(f"max_{c}") for c in max_cols]
        return df.groupBy(*key_cols).agg(*aggs)

    def _merge(a: DataFrame, b: DataFrame) -> DataFrame:
        aggs = [F.sum("n").cast("long").alias("n")]
        aggs += [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols]
        aggs += [F.min(f"min_{c}").alias(f"min_{c}") for c in min_cols]
        aggs += [F.max(f"max_{c}").alias(f"max_{c}") for c in max_cols]
        return a.unionByName(b).groupBy(*key_cols).agg(*aggs)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        lease.check_and_renew()
        spark = batch_df.sparkSession
        cur, last_epoch, last_run, last_fp = store.current()
        if epoch_id == last_epoch and last_run not in ("", run_id):
            # Crash-recovery replay across process restarts: the view was
            # published for this exact batch id but Spark crashed before
            # committing the checkpoint, so the restarted query (fresh
            # writer instance → new run_id) re-delivers the SAME batch.
            # The published view already contains it — skip. One corner is
            # NOT a replay: a brand-new checkpoint whose first batch id
            # happens to equal the published epoch carries genuinely new
            # data — skipping would silently lose it. When both sides
            # recorded a checkpoint fingerprint, that corner is detectable
            # and raises; without fingerprints it remains indistinguishable
            # (documented: reset base_dir together with the checkpoint).
            if (
                checkpoint_fingerprint
                and last_fp
                and checkpoint_fingerprint != last_fp
            ):
                raise RuntimeError(
                    f"{base_dir}: batch {epoch_id} arrived from checkpoint "
                    f"{checkpoint_fingerprint!r} but the view at the same "
                    f"batch id was published from {last_fp!r} — this is new "
                    "data colliding with a stale view, not a crash replay. "
                    "Reset base_dir together with checkpointLocation."
                )
            return
        if epoch_id <= last_epoch:
            if last_run in ("", run_id):
                return  # same-run replay: merging again would double-count
            # Foreign run with batch ids BEHIND the view: a fresh
            # checkpoint is re-reading source data the view already
            # counted. ⊕-merge is NOT idempotent, so neither skipping
            # (silent data loss) nor merging (double-count) is safe —
            # fail loudly.
            raise RuntimeError(
                f"{base_dir}: incompatible state — batch {epoch_id} from a "
                f"new query run, but the view was published at batch "
                f"{last_epoch} by a previous run. Reset base_dir together "
                "with checkpointLocation (aggregate merge cannot replay "
                "across runs)."
            )
        view = _partial(batch_df)
        if cur:
            view = _merge(spark.read.parquet(cur), view)
        store.publish(
            view,
            epoch_id,
            run_id,
            checkpoint_fingerprint or "",
            pre_swap_check=lease.check_and_renew,
        )

    write.release = lease.release
    return write
