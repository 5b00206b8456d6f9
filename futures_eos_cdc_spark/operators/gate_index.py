"""Unified admission-gate index with atomic batch publication (r7 VERDICT
#8: "unify the admission gates behind one API").

The ingestion admission gates (exact digest, MinHash-LSH near-dup,
SimHash64, containment) share one shape — derive a probe index from the
corpus, candidate-join the batch against it, anti-join the verified hits
away. This module is their one persisted form:

- :class:`DedupGateIndex` — ONE on-disk layout for the index-able kinds
  (``exact``, ``minhash``, ``simhash64``), with build / append / load /
  gate methods, kind + options pinned in a metadata file so an append can
  never silently mix configurations (a gram size or band count change
  invalidates the index);
- atomic publication: every build/append writes ALL of its tables into
  batch-scoped subdirectories (``<table>/b_<uuid>/``) FIRST, then commits
  by appending ONE line to ``_MANIFEST.log``; readers resolve the
  manifest and read only committed batch dirs. This closes the
  bands/shingles two-write visibility gap: ordering the two table writes
  protects only against CRASHES, while a reader listing files CONCURRENT
  with an append could still see a batch's bands without its shingles
  (file-listing race). With the manifest, visibility is a single
  appended line covering every table at once — the same
  single-point-of-commit discipline as
  streaming.outbox._VersionedParquet's pointer swap, adapted to
  append-only growth: full-snapshot versions would rewrite the whole
  index on every append (wrong at 100 TB); here the manifest line IS the
  version, and time travel falls out for free (read a manifest prefix —
  ``tables(as_of=...)``). Unbounded append accumulates small batch dirs;
  :meth:`DedupGateIndex.compact` is the maintenance pass (consolidated
  rewrite + atomic manifest swap under the writer lease).

``containment``'s index persists the ALIGNED-GRAM table (the expensive
explode+md5 pass, operators.dedup.containment_grams) but is by default
NOT self-contained: its verification stage computes md5 over arbitrary
substrings of the CONTAINER text, and duplicating the corpus text into an
index would be wrong — so ``gate(batch, corpus_docs=...)`` takes the
corpus table alongside the index, and text is read only for matched
candidate containers (id-keyed join). For the STREAMING admit-then-index
wiring, where index and corpus growing out of lockstep is exactly the
coverage gap ``assert_coverage`` exists to catch, ``build(...,
self_corpus=True)`` makes the index carry its own ``corpus_docs`` table:
every append writes grams AND container text under the same batch id and
commits both with the ONE manifest line, so a gram row without its
container text is unreachable by construction (r9 VERDICT next #6 — "the
same sink transaction", realized as the same commit point).

Maintenance cadence (r9 VERDICT next #7): :meth:`DedupGateIndex.compact`
after every ~100-1000 appends (it rewrites the whole logical content, so
amortize it over enough micro-batches that the rewrite cost stays a few
percent of the append work it absorbs), and :meth:`DedupGateIndex.gc` on
the same schedule or cheaper — it only lists directories. Both are safe
to run from a second process while appends continue: compact aborts
loudly (never drops a batch) if one commits mid-pass, and gc structurally
skips in-flight appends via their heartbeat-renewed ``_PENDING_<bid>``
intent files (not just via the grace window).

The per-kind probe/verify semantics live in operators.dedup and are
REUSED here (the gate methods delegate to the existing
``*_against_corpus`` operators with ``corpus_index=...``), so this layer
adds no second implementation to drift.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import spread
from .dedup import (
    SHINGLE_K,
    _minhash_band_rows,
    _minhash_shingle_rows,
    _simhash64_block_rows,
    containment_grams,
    content_digest_expr,
    minhash_dedup_against_corpus,
    simhash64_dedup_against_corpus,
    with_simhash64,
)

_KIND_TABLES = {
    "exact": ("digests",),
    "minhash": ("shingles", "bands"),
    "simhash64": ("blocks",),
    "containment": ("grams",),
}
GATE_KINDS = tuple(_KIND_TABLES)


class DedupGateIndex:
    """Handle on one on-disk admission-gate index (layout: module
    docstring). Construct via :meth:`build` (new index) or :meth:`open`
    (existing one — kind and options come from the metadata file, so
    callers cannot probe with mismatched parameters)."""

    def __init__(self, path: str, kind: str, id_col: str, text_col: str, opts: dict):
        self.path = path
        self.kind = kind
        self.id_col = id_col
        self.text_col = text_col
        self.opts = opts

    # -- lifecycle ---------------------------------------------------------
    @classmethod
    def build(
        cls,
        docs: DataFrame,
        path: str,
        kind: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        **opts,
    ) -> "DedupGateIndex":
        if kind not in _KIND_TABLES:
            raise ValueError(f"kind={kind!r}; expected one of {sorted(_KIND_TABLES)}")
        if opts.get("bloom") and kind != "exact":
            raise ValueError(
                "bloom=True maintains a Bloom-bitmap sidecar over content "
                "digests — only kind='exact' has those; the near-dup kinds "
                "probe band/block tables a membership filter cannot stand "
                "in for"
            )
        os.makedirs(path, exist_ok=True)
        meta = {"kind": kind, "id_col": id_col, "text_col": text_col, "opts": opts}
        meta_path = os.path.join(path, "_GATE_KIND.json")
        if os.path.exists(meta_path):
            raise FileExistsError(
                f"{meta_path} exists — open() + append() to grow an index, "
                "or remove the directory to rebuild"
            )
        with open(meta_path, "w") as fh:
            json.dump(meta, fh)
        idx = cls(path, kind, id_col, text_col, opts)
        idx.append(docs)
        return idx

    @classmethod
    def open(cls, path: str) -> "DedupGateIndex":
        with open(os.path.join(path, "_GATE_KIND.json")) as fh:
            meta = json.load(fh)
        return cls(path, meta["kind"], meta["id_col"], meta["text_col"], meta["opts"])

    # -- write side ---------------------------------------------------------
    def _table_names(self) -> tuple[str, ...]:
        """The tables THIS index maintains: the kind's base tables, plus
        ``corpus_docs`` for a self-corpus containment index (module
        docstring) — one list so append/compact/gc/tables can never
        disagree about what a batch consists of."""
        ts = _KIND_TABLES[self.kind]
        if self.kind == "containment" and self.opts.get("self_corpus"):
            ts = ts + ("corpus_docs",)
        if self.kind == "exact" and self.effective_structural("bloom"):
            ts = ts + ("bloom",)
        return ts

    def _batch_tables(self, docs: DataFrame) -> dict[str, DataFrame]:
        id_col, text_col, o = self.id_col, self.text_col, self.opts
        docs = spread(docs)
        if self.kind == "exact":
            cols = o.get("content_cols") or [text_col]
            dig = docs.select(
                content_digest_expr(cols, docs).alias("content_hash")
            ).distinct()
            out = {"digests": dig}
            if self.effective_structural("bloom"):
                # Per-batch Bloom bitmap as ROWS (word_idx, word): batch
                # bitmaps OR together commutatively and idempotently, so
                # they need no special merge path — the atomic manifest
                # line that publishes the batch's digests publishes its
                # filter increment too, compaction just concatenates rows,
                # and the gate folds committed rows with bit_or. <= m/64
                # rows per batch (m is a config constant), all JVM-side.
                from .bloom import bloom_positions_expr

                m_hex = self.effective_structural("bloom_m_hex")
                bk = self.effective_structural("bloom_k")
                out["bloom"] = (
                    dig.select(
                        F.explode(
                            bloom_positions_expr(F.col("content_hash"), bk, m_hex)
                        ).alias("pos")
                    )
                    .distinct()
                    .select(
                        F.expr("pos div 64").cast("int").alias("word_idx"),
                        F.expr(
                            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
                        ).alias("bit"),
                    )
                    .groupBy("word_idx")
                    .agg(F.expr("bit_or(bit)").alias("word"))
                )
            return out
        if self.kind == "minhash":
            sh = _minhash_shingle_rows(docs, id_col, text_col, o.get("k", SHINGLE_K))
            bands = _minhash_band_rows(sh, id_col)
            return {"shingles": sh, "bands": bands.repartition("band", "key")}
        if self.kind == "simhash64":
            sigs = with_simhash64(docs, id_col, text_col)
            return {
                "blocks": _simhash64_block_rows(sigs, id_col).repartition(
                    "blk", "bval"
                )
            }
        assert self.kind == "containment"
        out = {
            "grams": containment_grams(
                docs, o.get("gram_n", 16), id_col, text_col
            ).repartition("g")
        }
        if o.get("self_corpus"):
            # container text rides the SAME batch/commit as its grams —
            # coverage gap unrepresentable (module docstring). Only the
            # columns verification reads; id-keyed, never shuffled by
            # the gate (text is joined for matched candidates only).
            out["corpus_docs"] = docs.select(id_col, text_col)
        return out

    def append(self, docs: DataFrame, token: str | None = None) -> str:
        """Write ALL tables for this batch under ``b_<uuid>`` dirs, then
        commit with one manifest line — the single visibility point. A
        crash before the line leaves orphan files no reader resolves.

        ``token`` is an idempotency key — pass the foreachBatch epoch id
        (the normal streaming retry unit). A token already in the
        manifest makes the whole call a no-op returning the committed
        batch id, so a RETRIED epoch never re-appends its rows (r8
        VERDICT: the gate's anti-join tolerated the duplicates, but the
        index grew monotonically wrong). Tokens must be retry-stable and
        writer-unique (``f"{stream_id}/{epoch_id}"`` when several streams
        feed one index). The commit itself is serialized under the
        versioned-store ``_WriterLease`` (read-seq-then-append was racy),
        and the token is RE-checked under the lease, so two appenders
        retrying the same epoch commit it exactly once — the loser's
        orphan files are never resolved by a reader.

        GC safety is structural, not timeout-sized (r9 VERDICT next #4):
        the table-write phase runs under a ``_PENDING_<bid>`` intent
        file, heartbeat-renewed from a daemon thread, which :meth:`gc`
        treats as "this batch is an in-flight append, not an orphan" —
        so a slow append survives even a zero-grace GC, and a CRASHED
        append's intent goes stale (heartbeats stop with the process)
        and is reaped after ``_INTENT_TTL_S``."""
        if token is not None:
            token = str(token)
            if not token or any(c.isspace() for c in token):
                raise ValueError(
                    f"token {token!r} must be non-empty and whitespace-free "
                    "(it is stored as one manifest-line field)"
                )
            if token.startswith(self._RESERVED_TOKEN_PREFIX):
                raise ValueError(
                    f"token {token!r}: the {self._RESERVED_TOKEN_PREFIX!r} "
                    "prefix is reserved for compaction marker lines"
                )
            existing = self._token_bids().get(token)
            if existing is not None:
                return existing
        bid = uuid.uuid4().hex[:12]
        with self._pending_intent(bid) as intent:
            for table, df in self._batch_tables(docs).items():
                df.write.mode("error").parquet(
                    os.path.join(self.path, table, f"b_{bid}")
                )
            return self._commit(bid, token, intent=intent)

    @contextlib.contextmanager
    def _pending_intent(self, bid: str):
        """The write-phase intent protocol shared by :meth:`append` and
        :meth:`compact`: create ``_PENDING_<bid>``, heartbeat it from a
        daemon thread while the protected section runs, remove it on the
        way out. :meth:`gc` treats a live intent as "in-flight batch —
        hands off". The file's ABSENCE mid-section means this process
        stalled past ``_INTENT_TTL_S`` and a GC pass may already have
        reaped the batch dirs — committers re-check existence at their
        point of no return and abort instead of publishing a reference
        to possibly-deleted files."""
        import threading

        intent = os.path.join(self.path, f"_PENDING_{bid}")
        with open(intent, "w") as fh:
            fh.write(f"{os.getpid()} {time.time():.3f}\n")
        stop = threading.Event()

        def beat() -> None:
            while not stop.wait(self._INTENT_HB_S):
                try:
                    os.utime(intent)
                except OSError:
                    return  # reaped as stale (a >TTL process pause) — done

        hb = threading.Thread(
            target=beat, name=f"gate-intent-{bid}", daemon=True
        )
        hb.start()
        try:
            yield intent
        finally:
            stop.set()
            hb.join(timeout=5)
            try:
                os.unlink(intent)
            except FileNotFoundError:
                pass

    # manifest-append serialization: contention here is writers COMMITTING
    # (sub-ms file append), not running batches — a short poll is plenty.
    # The lease TTL is likewise short (the critical section is one file
    # append): a committer that crashes INSIDE it heals by stale takeover
    # within _COMMIT_TTL_S, well inside the wait window, instead of
    # blocking appends for the versioned store's 600 s default.
    _COMMIT_TTL_S = 20.0
    _COMMIT_WAIT_S = 60.0
    # append-intent liveness: the heartbeat renews every _INTENT_HB_S
    # while the append's table writes run; gc() treats an intent younger
    # than _INTENT_TTL_S as "in-flight append — hands off" and reaps
    # older ones (a crashed appender's heartbeats stopped with it).
    _INTENT_TTL_S = 60.0
    _INTENT_HB_S = 5.0

    def _commit(
        self, bid: str, token: str | None = None, intent: str | None = None
    ) -> str:
        from ..streaming.outbox import ConcurrentWriterError, _WriterLease

        lease = _WriterLease(
            self.path, run_id=f"commit-{bid}", ttl_s=self._COMMIT_TTL_S
        )
        deadline = time.monotonic() + self._COMMIT_WAIT_S
        while True:
            try:
                lease.acquire()
                break
            except ConcurrentWriterError:
                if time.monotonic() >= deadline:
                    raise
                time.sleep(0.02)
        try:
            if token is not None:
                existing = self._token_bids().get(str(token))
                if existing is not None:
                    return existing  # lost the epoch race; bid's files orphan
            tok = "" if token is None else f" {token}"
            # seq = RAW manifest line count (ADVICE r9): after a
            # compaction the manifest holds 1 + n_tokens lines for ONE
            # committed bid, so numbering by _committed() would mint
            # duplicate seqs pointing at different bids. Nothing parses
            # the field positionally, but audits read it.
            seq = len(self._manifest_rows())
            # abort-don't-clobber (ADVICE r9): if this holder stalled past
            # the TTL after its token re-check, a contender may have taken
            # the lease and committed the same token — appending now would
            # double-commit it. Renew-or-raise immediately before the
            # write so a usurped holder fails loudly instead.
            lease.check_and_renew()
            # commit-the-deleted guard (code-review r10): a >_INTENT_TTL_S
            # process stall lets gc() reap the intent and then the batch
            # dirs — committing now would publish a bid whose files are
            # gone, and readers would fail forever (the bid is "live", so
            # gc never cleans it). The intent's absence IS the stall
            # signal: abort and let the caller retry the whole append.
            if intent is not None and not os.path.exists(intent):
                raise RuntimeError(
                    f"{self.path}: append intent for batch {bid} was "
                    "reaped mid-write (process stalled past the intent "
                    "TTL; the batch dirs may already be GC'd) — retry "
                    "the append"
                )
            line = f"{seq} {bid} {time.time()}{tok}\n"
            with open(os.path.join(self.path, "_MANIFEST.log"), "a") as fh:
                fh.write(line)
                fh.flush()
                os.fsync(fh.fileno())
            return bid
        finally:
            lease.release()

    def _manifest_rows(self) -> list[list[str]]:
        try:
            with open(os.path.join(self.path, "_MANIFEST.log")) as fh:
                return [ln.split() for ln in fh if ln.strip()]
        except FileNotFoundError:
            return []

    def _committed(self) -> list[str]:
        """Committed batch ids, de-duplicated in first-appearance order:
        compaction carries idempotency tokens forward as extra lines
        naming the SAME consolidated bid, which must not make readers
        scan the dir twice."""
        seen: set[str] = set()
        out: list[str] = []
        for row in self._manifest_rows():
            if row[1] not in seen:
                seen.add(row[1])
                out.append(row[1])
        return out

    # token namespace reserved for compaction's internal marker lines —
    # append() rejects caller tokens with this prefix so they can never
    # collide (code-review r9: 'compacted-N' was a phantom token)
    _RESERVED_TOKEN_PREFIX = "__"

    def _token_bids(self) -> dict[str, str]:
        """idempotency token → committed batch id (lines 4 fields wide);
        reserved marker tokens are not idempotency tokens."""
        return {
            row[3]: row[1]
            for row in self._manifest_rows()
            if len(row) > 3
            and not row[3].startswith(self._RESERVED_TOKEN_PREFIX)
        }

    def compact(self, spark: SparkSession, target_partitions: int = 8) -> str:
        """Rewrite all committed batches into ONE consolidated batch and
        atomically swap the manifest to reference only it — the
        maintenance pass an append-only index needs at scale (thousands
        of micro-batch appends otherwise mean thousands of tiny parquet
        dirs: listing cost and scan fan-out grow without bound while the
        LOGICAL content is unchanged).

        Protocol: write the consolidated tables under a fresh ``b_<id>``
        (invisible — no manifest line), then, holding the writer lease,
        re-check that no new batch committed since the snapshot was read
        (abort loudly if one did — the compaction would silently drop
        it) and REPLACE ``_MANIFEST.log`` via temp-file + atomic rename
        with a single line. Readers either resolve the old manifest (all
        old batches, still on disk) or the new one (the consolidated
        batch) — never a mix. Old batch dirs become orphans; remove them
        out-of-band once no reader can hold the old manifest (the
        versioned-store GC-grace discipline). Time travel resets: the
        compacted line is the new seq 0 (documented trade — keep the old
        manifest as ``_MANIFEST.log.pre-<id>`` for audit).

        Returns the consolidated batch id."""
        from ..streaming.outbox import ConcurrentWriterError, _WriterLease

        snapshot = self._committed()
        if not snapshot:
            raise FileNotFoundError(
                f"{self.path}: nothing to compact (no committed batches)"
            )
        bid = uuid.uuid4().hex[:12]
        with self._pending_intent(bid) as intent:
            return self._compact_guarded(
                spark, snapshot, bid, intent, target_partitions
            )

    def _compact_guarded(
        self, spark, snapshot, bid, intent, target_partitions
    ) -> str:
        """:meth:`compact`'s body, run under the batch's ``_PENDING``
        intent (code-review r10): the consolidated ``b_<bid>`` dirs are
        UNREFERENCED until the manifest swap, so without the intent a
        concurrent zero/short-grace gc() could delete them mid-pass and
        the swap would publish a manifest pointing at nothing — total
        index loss. Same protocol as append's write phase."""
        from ..streaming.outbox import ConcurrentWriterError, _WriterLease

        for t in self._table_names():
            df = spark.read.parquet(
                *[os.path.join(self.path, t, f"b_{b}") for b in snapshot]
            )
            df.repartition(target_partitions).write.mode("error").parquet(
                os.path.join(self.path, t, f"b_{bid}")
            )
        lease = _WriterLease(
            self.path, run_id=f"compact-{bid}", ttl_s=self._COMMIT_TTL_S
        )
        deadline = time.monotonic() + self._COMMIT_WAIT_S
        while True:
            try:
                lease.acquire()
                break
            except ConcurrentWriterError:
                if time.monotonic() >= deadline:
                    raise
                time.sleep(0.02)
        # the critical section below (re-check → tmp write → audit copy →
        # swap) is longer than one file append: heartbeat the lease so a
        # GC pause/FS hiccup can't age it past the TTL mid-section and
        # hand a contender a "stale" lease to commit under (ADVICE r9 —
        # the swap would then silently wipe that commit).
        lease.start_heartbeat()
        try:
            if self._committed() != snapshot:
                raise ConcurrentWriterError(
                    f"{self.path}: batches committed during compaction — "
                    "rerun it (the consolidated batch would drop them)"
                )
            manifest = os.path.join(self.path, "_MANIFEST.log")
            tmp = f"{manifest}.tmp-{bid}"
            now = time.time()
            with open(tmp, "w") as fh:
                fh.write(f"0 {bid} {now} __compacted-{len(snapshot)}\n")
                # CARRY the idempotency tokens forward, re-pointed at the
                # consolidated bid (code-review r9: dropping them voided
                # append()'s retry-exactly-once contract — a streaming
                # epoch retried across a compaction would re-append).
                # _committed() de-duplicates bids, so readers still scan
                # the consolidated dir once.
                for i, tok in enumerate(sorted(self._token_bids()), start=1):
                    fh.write(f"{i} {bid} {now} {tok}\n")
                fh.flush()
                os.fsync(fh.fileno())
            # audit COPY first, then ONE atomic rename: a concurrent
            # reader always finds a complete manifest (old or new), never
            # a missing file
            import shutil

            shutil.copyfile(manifest, f"{manifest}.pre-{bid}")
            # last line of defense against the heartbeat itself stalling
            # (same ADVICE item): renew-or-raise at the point of no
            # return, so a usurped compactor aborts instead of replacing
            # a manifest that now carries a contender's committed line.
            lease.check_and_renew()
            # and the same commit-the-deleted guard as _commit (code-
            # review r10): if this process stalled past the intent TTL,
            # gc may have reaped the UNREFERENCED consolidated dirs —
            # swapping now would leave the manifest pointing at nothing.
            if not os.path.exists(intent):
                raise RuntimeError(
                    f"{self.path}: compaction intent for {bid} was reaped "
                    "mid-pass (stall past the intent TTL; the consolidated "
                    "dirs may already be GC'd) — rerun the compaction"
                )
            os.replace(tmp, manifest)
            # reset the orphans' GC clock: grace must run from the moment
            # a dir became UNREFERENCED, not from its write-era mtime
            # (code-review r9: day-old batches orphaned by this swap had
            # zero effective reader protection)
            for t in self._table_names():
                for b in snapshot:
                    try:
                        os.utime(os.path.join(self.path, t, f"b_{b}"))
                    except OSError:
                        pass
            return bid
        finally:
            lease.release()

    def gc(self, grace_s: float | None = None) -> list[str]:
        """Delete batch dirs the CURRENT manifest no longer references —
        compaction's orphans and crashed appends — once they are older
        than ``grace_s`` (default: the versioned-store reader-protection
        window). The grace exists because a reader may have resolved the
        PRE-swap manifest just before a compaction and still be scanning
        the old dirs; age is measured from the dir's mtime, which
        :meth:`compact` RESETS on the dirs it orphans — so the clock runs
        from the moment of unreferencing, and a young orphan is simply
        left for the next pass.

        In-flight appends are protected STRUCTURALLY, not by sizing the
        grace (r9 VERDICT next #4, closing the "grace must exceed the
        longest append" documentation-only contract): every append's
        table-write phase runs under a heartbeat-renewed
        ``_PENDING_<bid>`` intent file, and any bid whose intent is
        younger than ``_INTENT_TTL_S`` is skipped here outright — a slow
        append survives a zero-grace GC. A CRASHED append's heartbeats
        stop, its intent ages past the TTL, and this pass reaps the
        intent along with the batch dirs (which remain additionally
        covered by the reader-protection grace). Returns the deleted
        ``b_<id>`` names."""
        import shutil

        if grace_s is None:
            from ..streaming.outbox import DEFAULT_GC_GRACE_S

            grace_s = DEFAULT_GC_GRACE_S
        live = set(self._committed())
        now = time.time()
        pending: set[str] = set()
        stale_intents: list[str] = []
        for fn in os.listdir(self.path):
            if not fn.startswith("_PENDING_"):
                continue
            try:
                age = now - os.stat(os.path.join(self.path, fn)).st_mtime
            except OSError:
                continue  # the append just committed and removed it
            if age < self._INTENT_TTL_S:
                pending.add(fn[len("_PENDING_"):])
            else:
                stale_intents.append(fn)
        deleted: list[str] = []
        for t in self._table_names():
            tdir = os.path.join(self.path, t)
            if not os.path.isdir(tdir):
                continue
            for d in os.listdir(tdir):
                if not d.startswith("b_") or d[2:] in live or d[2:] in pending:
                    continue
                full = os.path.join(tdir, d)
                try:
                    if now - os.stat(full).st_mtime < grace_s:
                        continue
                    # re-check the intent FRESH at the point of deletion
                    # (code-review r10): the pending set above was one
                    # listdir at entry, and an append/compact starting
                    # AFTER that scan may have written this dir under a
                    # perfectly live intent — a zero-grace pass would
                    # otherwise delete an in-flight batch (TOCTOU).
                    try:
                        intent_age = time.time() - os.stat(
                            os.path.join(self.path, f"_PENDING_{d[2:]}")
                        ).st_mtime
                        if intent_age < self._INTENT_TTL_S:
                            continue
                    except OSError:
                        pass  # no intent — a plain orphan
                    shutil.rmtree(full)
                    deleted.append(d)
                except OSError:
                    continue  # concurrent GC or an in-flight write — skip
        # reap stale intents LAST: their dirs (if any survived the grace
        # check above) stay protected by grace until the next pass, and a
        # committed bid's leftover intent (crash between commit and the
        # append's own unlink) is just litter either way
        for fn in stale_intents:
            try:
                os.unlink(os.path.join(self.path, fn))
            except OSError:
                pass
        return sorted(deleted)

    # -- read side ----------------------------------------------------------
    def tables(
        self, spark: SparkSession, as_of: int | None = None
    ) -> dict[str, DataFrame]:
        """Committed-batches view of every table (uncommitted batch dirs —
        a concurrent or crashed append — are invisible by construction).

        ``as_of`` is the free time travel the manifest design buys
        (module docstring): read only the first ``as_of + 1`` committed
        batches — the index exactly as it stood after manifest seq
        ``as_of``. Orphaned later batches are never resolved, so
        reproducing yesterday's admission decisions is a prefix read,
        no snapshotting."""
        bids = self._committed()
        if as_of is not None:
            if not 0 <= as_of < len(bids):
                raise ValueError(
                    f"as_of={as_of} out of range: manifest has "
                    f"{len(bids)} committed batches (seq 0..{len(bids) - 1})"
                )
            bids = bids[: as_of + 1]
        if not bids:
            raise FileNotFoundError(
                f"{self.path}: no committed batches in _MANIFEST.log"
            )
        return {
            t: spark.read.parquet(
                *[os.path.join(self.path, t, f"b_{b}") for b in bids]
            )
            for t in self._table_names()
        }

    # options baked into the index DATA at build time (changing one
    # invalidates the tables) vs. legitimately per-gate thresholds
    _STRUCTURAL_OPTS = {
        "k", "gram_n", "content_cols", "self_corpus",
        "bloom", "bloom_m_hex", "bloom_k",
    }
    _GATE_OPTS = {
        "threshold", "max_hamming", "max_gram_occ", "assert_coverage",
        "use_bloom",
    }
    # build-time defaults for the structural options, mirrored from the
    # gate methods' own `o.get(...)` fallbacks. Conflict checks must
    # compare against the EFFECTIVE build value (default included): an
    # index built with default k plus a caller passing a different k is
    # exactly the silent mismatch the guard exists for (ADVICE r8 — the
    # old `opts.get(s, caller_value)` compared the caller to itself).
    _STRUCTURAL_DEFAULTS = {
        "k": SHINGLE_K,
        "gram_n": 16,
        "content_cols": None,
        "self_corpus": False,
        "bloom": False,
        "bloom_m_hex": None,  # resolved lazily to bloom.BLOOM_M_HEX
        "bloom_k": None,  # resolved lazily to bloom.BLOOM_K
    }

    def effective_structural(self, name: str):
        """The structural option value the index DATA was actually built
        with, defaults applied (``content_cols`` resolves to the digest
        column list, i.e. ``[text_col]`` when unset)."""
        v = self.opts.get(name, self._STRUCTURAL_DEFAULTS[name])
        if name == "content_cols":
            return list(v) if v else [self.text_col]
        if name in ("self_corpus", "bloom"):
            return bool(v)
        if name in ("bloom_m_hex", "bloom_k") and v is None:
            from .bloom import BLOOM_K, BLOOM_M_HEX

            return BLOOM_M_HEX if name == "bloom_m_hex" else BLOOM_K
        return v

    def gate(
        self,
        batch_df: DataFrame,
        corpus_docs: DataFrame | None = None,
        as_of: int | None = None,
        **gate_opts,
    ) -> DataFrame:
        """Admission gate: the rows of ``batch_df`` with no duplicate in
        the indexed corpus, returned UNCHANGED (same columns in, same
        columns out — every kind). Delegates to the existing
        ``*_against_corpus`` operators, so semantics cannot drift from
        the raw-corpus path.

        STRUCTURAL options (shingle k, gram_n, content_cols) are baked
        into the index data, so they come from the build-time metadata
        and cannot be overridden here; GATE-TIME thresholds (minhash
        ``threshold``, simhash64 ``max_hamming``, containment
        ``max_gram_occ``) only parameterize verification over the same
        index tables, so they may vary per gate call.

        ``corpus_docs`` is required for (and only for) kind='containment'
        — verification reads container text from the corpus table
        (module docstring). CONTRACT: corpus_docs must cover every id the
        gram index holds — a candidate whose container text is missing
        drops out of the inner verify join and its batch doc would be
        silently ADMITTED; keep the corpus table and the index appended
        in the same sink transaction. Pass ``assert_coverage=True`` to
        enforce the contract per gate call (cheap ids-only anti-join;
        raises instead of admitting on a coverage miss)."""
        bad = set(gate_opts) - self._GATE_OPTS
        if bad:
            raise ValueError(
                f"not gate-time options: {sorted(bad)} (structural options "
                "are pinned by the index metadata at build time)"
            )
        if "assert_coverage" in gate_opts and self.kind != "containment":
            raise ValueError(
                "assert_coverage is the containment coverage contract; it "
                f"means nothing for kind={self.kind!r} — silently accepting "
                "it would fake an enforcement that never runs"
            )
        if "use_bloom" in gate_opts and self.kind != "exact":
            raise ValueError(
                "use_bloom accelerates the exact digest gate; it means "
                f"nothing for kind={self.kind!r} — silently accepting it "
                "would fake an acceleration that never runs"
            )
        # as_of replays the gate against a manifest-prefix snapshot
        # (tables() docstring) — reproduce any past admission decision
        t = self.tables(batch_df.sparkSession, as_of=as_of)
        id_col, text_col, o = self.id_col, self.text_col, self.opts
        if self.kind == "containment":
            if self.opts.get("self_corpus"):
                if corpus_docs is not None:
                    raise ValueError(
                        "this index carries its own corpus_docs table "
                        "(built with self_corpus=True) — passing another "
                        "corpus would silently verify against text the "
                        "grams were not derived from"
                    )
                corpus_docs = t["corpus_docs"]
            elif corpus_docs is None:
                raise ValueError(
                    "containment verification reads container text: pass "
                    "corpus_docs alongside the gram index"
                )
            from .dedup import contained_in_corpus

            if gate_opts.get("assert_coverage"):
                # the docstring contract, ENFORCED (r8 VERDICT wrong #2):
                # an index container id with no corpus_docs row silently
                # drops out of the verify join and its batch doc is
                # ADMITTED — turn that false-negative into an error.
                # ids-only: distinct container ids anti-joined against
                # corpus ids, nothing touches text.
                missing = (
                    t["grams"]
                    .select(F.col("doc_b").alias(id_col))
                    .distinct()
                    .join(
                        corpus_docs.select(id_col).distinct(),
                        id_col,
                        "left_anti",
                    )
                )
                sample = [r[0] for r in missing.limit(5).collect()]
                if sample:
                    raise ValueError(
                        f"containment coverage violation: gram index "
                        f"{self.path} holds container ids missing from "
                        f"corpus_docs (sample: {sample}) — their batch "
                        "duplicates would be silently admitted; keep the "
                        "corpus table and the index appended in the same "
                        "sink transaction"
                    )
            return contained_in_corpus(
                batch_df,
                corpus_docs,
                id_col=id_col,
                text_col=text_col,
                gram_n=o.get("gram_n", 16),
                max_gram_occ=gate_opts.get("max_gram_occ", 10_000),
                corpus_grams=t["grams"],
            )
        if corpus_docs is not None:
            raise ValueError(
                f"corpus_docs is only meaningful for kind='containment' "
                f"(this index is {self.kind!r})"
            )
        if self.kind == "exact":
            cols = o.get("content_cols") or [text_col]
            hashed = batch_df.withColumn(
                "__gate_hash", content_digest_expr(cols, batch_df)
            )
            dig = t["digests"].withColumnRenamed("content_hash", "__gate_hash")
            has_bloom = self.effective_structural("bloom")
            use_bloom = gate_opts.get("use_bloom")
            if use_bloom is None:
                use_bloom = has_bloom  # auto: accelerate when the index can
            if use_bloom:
                if not has_bloom:
                    raise ValueError(
                        "use_bloom=True but this index carries no bloom "
                        "table — build/rebuild it with bloom=True (the "
                        "filter increments are per-batch index data, not "
                        "something a gate call can synthesize cheaply)"
                    )
                from .bloom import bloom_probe_expr

                m_hex = self.effective_structural("bloom_m_hex")
                bk = self.effective_structural("bloom_k")
                # Fold the committed per-batch filter increments: bit_or
                # over <= m/64 word groups — bounded by CONFIG, the same
                # bounded-collect discipline as operators.bloom.
                bitmap = [0] * ((16**m_hex + 63) // 64)
                for r in (
                    t["bloom"]
                    .groupBy("word_idx")
                    .agg(F.expr("bit_or(word)").alias("word"))
                    .collect()
                ):
                    bitmap[r.word_idx] = r.word
                # NULL digest (NULL content cols) -> NULL probe: coalesce
                # to FALSE so the row takes the negative branch — the same
                # admit verdict the plain anti-join gives a NULL hash.
                hashed = hashed.withColumn(
                    "__bloom_pos",
                    F.coalesce(
                        bloom_probe_expr(
                            F.col("__gate_hash"), bitmap, k=bk, m_hex_chars=m_hex
                        ),
                        F.lit(False),
                    ),
                )
                # Negatives are DEFINITELY new (no false negatives): admit
                # them join-free; only bloom positives pay the digest
                # anti-join — at production FP rates that join's input is
                # ~the true-duplicate subset, not the batch.
                neg = hashed.filter(~F.col("__bloom_pos")).drop(
                    "__bloom_pos", "__gate_hash"
                )
                pos = (
                    hashed.filter(F.col("__bloom_pos"))
                    .drop("__bloom_pos")
                    .join(dig, "__gate_hash", "left_anti")
                    .drop("__gate_hash")
                )
                return pos.unionByName(neg)
            return hashed.join(dig, "__gate_hash", "left_anti").drop("__gate_hash")
        if self.kind == "minhash":
            return minhash_dedup_against_corpus(
                batch_df,
                corpus_index=(t["bands"], t["shingles"]),
                id_col=id_col,
                text_col=text_col,
                threshold=gate_opts.get("threshold", 0.4),
                k=o.get("k", SHINGLE_K),
            )
        assert self.kind == "simhash64"
        return simhash64_dedup_against_corpus(
            batch_df,
            corpus_index=t["blocks"],
            id_col=id_col,
            text_col=text_col,
            max_hamming=gate_opts.get("max_hamming", 3),
        )
