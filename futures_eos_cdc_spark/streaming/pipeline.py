"""Structured Streaming shell for the signal→decision pipeline.

Maps the reference's Kafka Streams topology onto Spark Structured Streaming
(SURVEY.md §2.9):

- T1/T3  5-min tumbling window, zero grace → window() + withWatermark 0s
         (late rows dropped identically)
- T2     append mode = exactly one decision per (symbol, window) — the
         engine default (deliberate re-spec, §7.4.4); update mode available
         via output_mode for reference-like per-trigger emission cadence
- T7     content dedup → dropDuplicatesWithinWatermark
- S1-S4  sources: file stream (tests/demo), rate source (load probes), and a
         Kafka builder (requires the spark-sql-kafka package on the
         classpath — gated, not bundled in this container)
- T5/T6  state + exactly-once: checkpointLocation carries offsets + state
         atomically per micro-batch; end-to-end EOS needs an idempotent sink
         (streaming/outbox.py) — same guarantee as the reference, different
         mechanics (§7.3)

Streaming plan shape: unlike the batch path (window functions), streaming
uses ONE stateful aggregation per (symbol, window) that collects the window's
signals and computes every A2-A10 quantity with array expressions in the
finishing statement, which ends in the batch path's own D1-D5 decision tail
(``signal_pipeline.decision_tail_sql``). One shuffle, one state store; state
per key is bounded by the rows that fall in one 5-minute window per symbol.
At 100 TB/d ingest with few symbols that per-key bound is the thing to watch
— :func:`streaming_decide_bounded` keeps only the last-10 buffers and
running counters instead. The array folds are decimal-exact, so streaming
equals batch cell for cell (same tie-breaks) while every summed element
(a price, or a price squared) is below 1e17 in magnitude, i.e. for prices
below ~3e8.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.signal_pipeline import (
    BUFFER_KEEP,
    DEC,
    TOP_RECENT,
    WINDOW_SECONDS,
    decision_tail_sql,
)
from ..schemas import SIGNAL_WIRE_SCHEMA

SIGNAL_STREAM_SCHEMA = (
    "signal_id long, symbol string, side string, qty double, price double, "
    "timeframe string, ts_us long"
)

# T5: the reference's RocksDB state store (SignalTopology.kt:30-37, spilled
# keyed state + changelog recovery) maps to Spark's RocksDB provider — set
# this session conf before starting a stateful stream; checkpointLocation
# replaces the changelog topic. Bundled with Spark ≥3.2, no extra jars.
ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


# ---------------------------------------------------------------------------
# Sources
# ---------------------------------------------------------------------------
def read_signal_stream_files(spark: SparkSession, path: str) -> DataFrame:
    """File-based signal stream (parquet drops) — the test/demo source; the
    schema matches operators.signal_pipeline.signals_from_events output."""
    return spark.readStream.schema(SIGNAL_STREAM_SCHEMA).parquet(path)


def read_signal_stream_rate(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Rate-source synthetic signals (T9 load probe; P17 generator shape).

    Deterministic expressions over the rate source's (timestamp, value):
    symbols/timeframes round-robin, price = base*(1 ± 0.3%), qty ~ U(0.01,0.5)
    via seeded rand — mirrors the reference generator's distributions
    (apps/signal-generator/Main.kt:100-115)."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    sym = F.col("value") % 5
    base = (
        F.when(sym == 0, 65000.0)
        .when(sym == 1, 3000.0)
        .when(sym == 2, 160.0)
        .when(sym == 3, 0.6)
        .otherwise(20000.0)
    )
    return rate.select(
        F.col("value").alias("signal_id"),
        F.when(sym == 0, "BTCUSDT")
        .when(sym == 1, "ETHUSDT")
        .when(sym == 2, "SOLUSDT")
        .when(sym == 3, "XRPUSDT")
        .otherwise("NAS100")
        .alias("symbol"),
        F.when(F.rand(42) < 0.5, "BUY").otherwise("SELL").alias("side"),
        (F.rand(43) * 0.49 + 0.01).alias("qty"),
        (base * (1.0 + (F.rand(44) - 0.5) * 0.006)).alias("price"),
        F.when(F.col("value") % 3 == 0, "1m")
        .when(F.col("value") % 3 == 1, "5m")
        .otherwise("15m")
        .alias("timeframe"),
        F.unix_micros(F.col("timestamp")).alias("ts_us"),
    )


def read_signal_stream_kafka(
    spark: SparkSession,
    brokers: str,
    topics: str = "trading.signal.1m,trading.signal.5m,trading.signal.15m",
) -> DataFrame:
    """Kafka source (S1): one multi-topic subscription replaces the
    reference's 3 sources + merge (U1). Requires the spark-sql-kafka
    package on the classpath; raises a clear error if absent."""
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topics)
            .load()
        )
    except Exception as exc:  # pragma: no cover - needs kafka jars
        raise RuntimeError(
            "Kafka source requires the spark-sql-kafka-0-10 package on the "
            "Spark classpath (spark.jars.packages=org.apache.spark:"
            "spark-sql-kafka-0-10_2.13:<spark-version>)"
        ) from exc
    parsed = raw.withColumn(
        "s", F.from_json(F.col("value").cast("string"), SIGNAL_WIRE_SCHEMA)
    )
    return (
        parsed.filter(F.col("s").isNotNull() & F.col("s.symbol").isNotNull())
        .select("s.*")
        .withColumn("ts_us", F.col("ts") * 1000)
        .withColumn("signal_id", F.monotonically_increasing_id())
    )


# ---------------------------------------------------------------------------
# T7: content dedup within watermark (the EOS demo's input dedup)
# ---------------------------------------------------------------------------
def dedup_signals(signals: DataFrame, ts_col: str = "event_time") -> DataFrame:
    """Drop byte-identical duplicate signals (eos-demo.sh's 5x injection →
    one survivor) while state is bounded by the watermark."""
    return signals.dropDuplicatesWithinWatermark(
        ["symbol", "side", "price", "qty", "timeframe", "ts_us"]
    )


def selection_gate_expr(
    text: Column,
    *,
    gopher: bool = True,
    quality_threshold: float | None = None,
    bloom_bitmap: list[int] | None = None,
    dsir_ratios: list[float] | None = None,
    dsir_threshold: float | None = None,
    langid_model: dict[str, list[int]] | None = None,
    keep_langs: set[str] | None = None,
) -> Column:
    """ONE composed admission predicate for ingestion-time data selection
    (VERDICT r10 next #6): the Gopher rule conjunction, the hashed
    quality-classifier threshold, the Bloom novelty probe, and a DSIR
    importance-score threshold are ALL pure projections — so they compose
    into a single filter expression evaluated in one pass over the scan
    (or the micro-batch), with zero joins, zero state, zero Python.

    * ``gopher`` — Rae 2021 rule conjunction (operators/text.py:
      gopher_metrics, the same expressions the oracle-checked batch query
      runs). NULL text fails (unscoreable).
    * ``quality_threshold`` — keep iff hashed-classifier logit > t
      (operators/text.py: hashed_classifier_logit_expr).
    * ``bloom_bitmap`` — keep only documents whose content digest probes
      NEGATIVE against the reference-corpus Bloom filter
      (operators/bloom.py). This is the LOSSY Dolma-style gate: a false
      positive (engineered rate, ~1% at default sizing; ~1e-6 at
      production sizing) drops a genuinely-new document. For
      exactly-once admission semantics use dedup_gate_writer (the
      verify-join path) instead; this form is for when the verify
      exchange is the thing being avoided. NULL text probes NULL ->
      treated as new (coalesce), matching the anti-join convention.
    * ``dsir_ratios`` (+ ``dsir_threshold``) — keep iff the document's
      DSIR importance score (operators/dsir.py: dsir_score_expr over the
      broadcast log-ratio literal) exceeds the threshold: the streaming
      form of target-distribution selection (the batch sampler takes a
      global top-k, which no single-pass stream can; a score threshold
      is the standard deployment surrogate).
    * ``langid_model`` (+ ``keep_langs``) — keep iff the language-ID
      classifier (operators/langid.py, the trained weight-vector dict)
      predicts one of ``keep_langs``: CCNet's own first gate (language
      ID runs before everything else there). Scoring is the same
      literal-array projection as langid_score.
    """
    from ..operators.bloom import bloom_probe_expr
    from ..operators.dsir import dsir_score_expr
    from ..operators.text import gopher_keep_expr, hashed_classifier_logit_expr

    cond = F.lit(True)
    if langid_model is not None:
        if not keep_langs:
            raise ValueError("langid_model requires keep_langs")
        from ..operators.langid import langid_pred_expr

        cond = cond & langid_pred_expr(text, langid_model).isin(
            *sorted(keep_langs)
        )
    if gopher:
        cond = cond & F.coalesce(gopher_keep_expr(text), F.lit(False))
    if quality_threshold is not None:
        cond = cond & (
            hashed_classifier_logit_expr(text) > F.lit(float(quality_threshold))
        )
    if bloom_bitmap is not None:
        cond = cond & ~F.coalesce(
            bloom_probe_expr(F.md5(text), bloom_bitmap), F.lit(False)
        )
    if dsir_ratios is not None:
        if dsir_threshold is None:
            raise ValueError("dsir_ratios requires dsir_threshold")
        cond = cond & (
            dsir_score_expr(text, dsir_ratios) > F.lit(float(dsir_threshold))
        )
    return cond


def stream_dedup_against_corpus(
    stream: DataFrame, corpus: DataFrame, content_cols: list[str]
) -> DataFrame:
    """Streaming twin of ``operators.dedup.dedup_against_corpus`` (the
    unified foreachBatch entry is :func:`dedup_gate_writer`; this one
    stays a PURE stream-static anti-join — no foreachBatch needed): each
    micro-batch keeps only rows whose content digest is absent from the
    STATIC corpus — the continuous form of daily-crawl ingestion dedup
    (combine with ``dropDuplicatesWithinWatermark`` for intra-stream
    duplicates).

    Stream-static LEFT ANTI joins are natively supported by Structured
    Streaming: the static side plans once per micro-batch with no state
    store at all (nothing to watermark — the corpus is not a stream). At
    100 TB the corpus side should be its maintained digest-index table
    (16-byte digests, bucketed by digest) so each micro-batch's anti-join
    probes a sorted bucket, not the raw corpus.
    """
    from ..operators.dedup import content_digest_expr

    corpus_hashes = corpus.select(
        content_digest_expr(content_cols, corpus).alias("content_hash")
    ).distinct()
    return stream.withColumn(
        "content_hash", content_digest_expr(content_cols, stream)
    ).join(corpus_hashes, "content_hash", "left_anti")


def dedup_gate_writer(
    kind: str,
    sink,
    corpus: DataFrame | None = None,
    corpus_index=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    append_survivors: bool = False,
    stream_id: str | None = None,
    **opts,
):
    """THE unified foreachBatch admission gate (r7 VERDICT #8): one entry
    for all four dedup kinds over the same batch operators
    (operators/dedup.py ``*_against_corpus``, ``contained_in_corpus``).

    ``kind``: 'exact' | 'minhash' | 'simhash64' | 'containment'.
    ``corpus``: raw documents DataFrame — the index derivation recomputes
    per micro-batch (tests / small corpora).
    ``corpus_index``: an :class:`operators.gate_index.DedupGateIndex` (or
    its path) — the production path: each micro-batch probes the
    atomically-committed index tables instead of re-hashing the corpus.
    ``append_survivors=True`` keeps the index current from inside the
    writer: survivors go to the sink AND ``index.append(...,
    token=f"{stream_id}/{epoch_id}")``, so a retried epoch appends
    exactly once (gate_index epoch idempotency). ``stream_id`` is
    REQUIRED then (ADVICE r9): epoch ids are only unique within one
    streaming query, so two streams feeding one index under a default id
    would collide on the token and the second stream's epochs would be
    silently no-op'd — exactly the monotonically-wrong-index failure the
    token exists to prevent, inverted. Use a name stable across restarts
    of the SAME query (its checkpoint identity is the natural choice)
    and unique across queries. CHECKPOINT-RESET HAZARD: wiping a query's
    checkpoint restarts epoch ids at 0, so its new epochs re-use old
    tokens against a persisted index and are treated as already
    committed — after a checkpoint reset, change the stream_id (or start
    a fresh index).
    'containment' takes ``corpus`` alongside an (optional, accelerator)
    gram index by default — its verification reads container text, which
    belongs in the corpus table, not a copy inside an index. The
    admit-then-index wiring is supported for containment ONLY via an
    index built with ``self_corpus=True`` (gate_index module docstring):
    there grams and container text commit under the same manifest line,
    so the writer's append grows both atomically and the coverage gap
    the default layout would create is unrepresentable.

    ``opts`` per kind: content_cols (exact; default [text_col]),
    threshold/k (minhash), max_hamming (simhash64),
    gram_n/max_gram_occ (containment). For 'containment', ``corpus`` is
    required (verification reads container text) with ``corpus_index``
    (the persisted gram table) as an optional accelerator alongside it —
    UNLESS the index was built with ``self_corpus=True``, which carries
    its own container text: then pass only ``corpus_index`` (passing
    ``corpus`` too is refused — the gate must verify against exactly the
    text its grams were derived from).

    Returns a (batch_df, epoch_id) callable handing SURVIVORS (batch rows
    unchanged) to ``sink(survivors_df, epoch_id)``. Why foreachBatch and
    not a pure streaming plan: every kind but 'exact' keeps "docs where NO
    candidate verified", a per-doc aggregation over a stream-derived join
    — outside Structured Streaming's supported stream-static shapes.
    foreachBatch gives each micro-batch full batch semantics, and with a
    checkpointed query + idempotent sink the usual effectively-once
    contract holds ('exact' also streams natively —
    stream_dedup_against_corpus — when no sink-side index maintenance is
    wanted).
    """
    from ..operators.dedup import (
        SHINGLE_K,
        contained_in_corpus,
        content_digest_expr,
        minhash_dedup_against_corpus,
        simhash64_dedup_against_corpus,
    )
    from ..operators.gate_index import GATE_KINDS, DedupGateIndex

    if kind not in GATE_KINDS:
        raise ValueError(f"kind={kind!r}; expected one of {sorted(GATE_KINDS)}")
    if isinstance(corpus_index, str):
        corpus_index = DedupGateIndex.open(corpus_index)
    if kind == "containment":
        if corpus_index is not None and corpus_index.effective_structural(
            "self_corpus"
        ):
            if corpus is not None:
                raise ValueError(
                    "this containment index carries its own corpus_docs "
                    "table (self_corpus=True) — passing corpus too would "
                    "verify against text its grams were not derived from"
                )
        elif corpus is None:
            raise ValueError(
                "containment verification reads container text: corpus is "
                "required (corpus_index accelerates candidates) unless the "
                "index was built with self_corpus=True"
            )
    elif (corpus is None) == (corpus_index is None):
        raise ValueError("pass exactly one of corpus / corpus_index")
    if corpus_index is not None:
        if corpus_index.kind != kind:
            raise ValueError(
                f"index at {corpus_index.path} is kind={corpus_index.kind!r}, "
                f"not {kind!r}"
            )
        # structural options are baked into the index data; an explicit
        # conflicting override here would silently gate against tables
        # built with different parameters — fail loudly instead. Compare
        # against the index's EFFECTIVE build value (defaults included):
        # an index built with the default k plus a caller passing k=9 is
        # exactly the silent mismatch this guard documents (ADVICE r8 —
        # the old `opts.get(s, opts[s])` was vacuous for absent keys).
        structural = set(opts) & DedupGateIndex._STRUCTURAL_OPTS
        for s in structural:
            built = corpus_index.effective_structural(s)
            asked = opts[s]
            if s == "content_cols":
                asked = list(asked) if asked else [text_col]
            if built != asked:
                raise ValueError(
                    f"option {s}={opts[s]!r} conflicts with the index's "
                    f"build-time {s}={built!r} ({corpus_index.path})"
                )
        gate_opts = {
            k_: v for k_, v in opts.items()
            if k_ in DedupGateIndex._GATE_OPTS
        }

    def survivors_of(batch_df: DataFrame) -> DataFrame:
        if corpus_index is not None:
            if kind == "containment":
                return corpus_index.gate(batch_df, corpus_docs=corpus, **gate_opts)
            return corpus_index.gate(batch_df, **gate_opts)
        if kind == "exact":
            cols = opts.get("content_cols") or [text_col]
            hashes = corpus.select(
                content_digest_expr(cols, corpus).alias("__gate_hash")
            ).distinct()
            return (
                batch_df.withColumn(
                    "__gate_hash", content_digest_expr(cols, batch_df)
                )
                .join(hashes, "__gate_hash", "left_anti")
                .drop("__gate_hash")
            )
        if kind == "minhash":
            return minhash_dedup_against_corpus(
                batch_df, corpus, id_col=id_col, text_col=text_col,
                threshold=opts.get("threshold", 0.4),
                k=opts.get("k", SHINGLE_K),
            )
        if kind == "simhash64":
            return simhash64_dedup_against_corpus(
                batch_df, corpus, id_col=id_col, text_col=text_col,
                max_hamming=opts.get("max_hamming", 3),
            )
        return contained_in_corpus(
            batch_df, corpus, id_col=id_col, text_col=text_col,
            gram_n=opts.get("gram_n", 16),
            max_gram_occ=opts.get("max_gram_occ", 10_000),
        )

    if append_survivors and corpus_index is None:
        raise ValueError(
            "append_survivors maintains a persisted index: pass corpus_index"
        )
    if (
        append_survivors
        and kind == "containment"
        and not corpus_index.effective_structural("self_corpus")
    ):
        # growing the gram index per epoch WITHOUT growing corpus_docs
        # creates exactly the coverage violation gate(assert_coverage=True)
        # exists to catch: an indexed container whose text is missing
        # silently ADMITS its duplicates. Supported shape: an index built
        # with self_corpus=True, whose append commits grams AND container
        # text under one manifest line.
        raise ValueError(
            "append_survivors is unsupported for kind='containment' on a "
            "default-layout index: the writer cannot also grow "
            "corpus_docs, and an index/corpus coverage gap silently "
            "admits duplicates — build the index with self_corpus=True "
            "(grams + container text commit atomically) or maintain both "
            "in the sink transaction and gate with assert_coverage=True"
        )
    if append_survivors and stream_id is None:
        # epoch ids are per-query: a default shared stream_id would make
        # two streams (or a checkpoint-reset restart) collide on the
        # idempotency token and silently no-op real epochs (ADVICE r9 —
        # docstring: stream_id contract / checkpoint-reset hazard)
        raise ValueError(
            "append_survivors=True requires an explicit stream_id: the "
            "index idempotency token is f'{stream_id}/{epoch_id}', and "
            "epoch ids are only unique within one streaming query"
        )

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        survivors = survivors_of(batch_df)
        if append_survivors:
            # admit-then-index in one writer (the production wiring the
            # docstring describes): survivors land in the sink AND the
            # index, keyed by the foreachBatch epoch so a RETRIED epoch
            # re-runs the sink (which must be idempotent anyway — the
            # foreachBatch contract) but appends to the index exactly
            # once (gate_index epoch idempotency). Persist so the gate
            # computation isn't executed twice for sink + append.
            survivors.persist()
            try:
                sink(survivors, epoch_id)
                corpus_index.append(
                    survivors, token=f"{stream_id}/{epoch_id}"
                )
            finally:
                survivors.unpersist()
        else:
            sink(survivors, epoch_id)

    return write


# ---------------------------------------------------------------------------
# The streaming decision aggregate
# ---------------------------------------------------------------------------
_TFS = ("1m", "5m", "15m")


def _dec_fold(arr: str, value: str) -> str:
    """Exact sum of ``value`` (an expression over the element ``x``) across
    the array ``arr``, as DOUBLE. A DECIMAL(37,10) accumulator plus a
    DECIMAL(27,10) element widens to DECIMAL(38,10) with no scale loss, so
    the fold equals batch decide's decimal(38,10) ``sum`` while every
    element is below 1e17 in magnitude."""
    return (
        f"CAST(aggregate({arr}, CAST(0 AS DECIMAL(37,10)), (acc, x) -> "
        f"CAST(acc + CAST({value} AS DECIMAL(27,10)) AS DECIMAL(37,10))) AS DOUBLE)"
    )


def _decide_array_sql(view: str, round_dp: int) -> str:
    """The streaming front (A2-A10, P5 over each window's signal array) and
    the shared decision tail, as one statement.

    ``view`` has one row per (symbol, window): symbol, window_start_s,
    ``sigs`` (an array of signal structs whose first two fields are ts_us
    and signal_id, so their natural descending order is the deterministic
    most-recent-first order of SURVEY.md §7.4.1) and, per timeframe, the
    untrimmed whole-window count ``cnt_<tf>`` and buy/sell balance
    ``bal_<tf>`` (A4, A6). ``sigs`` must hold at least each timeframe's
    last-10 buffer. Divisions stay under a presence ``CASE``: an absent
    timeframe's buffer is empty."""

    def per_tf(template: str, sep: str = ",\n    ") -> str:
        return sep.join(template.format(tf=tf, keep=BUFFER_KEEP) for tf in _TFS)

    return f"""
WITH b AS (
  SELECT *,
    {per_tf("slice(sort_array(filter(sigs, s -> s.timeframe = '{tf}'), false), "
            "1, {keep}) AS buf_{tf}")}
  FROM {view}
), f AS (
  SELECT *,
    {per_tf("size(buf_{tf}) AS n_{tf}")},
    {per_tf(_dec_fold("buf_{tf}", "x.price") + " AS sp_{tf}")},
    {per_tf(_dec_fold("buf_{tf}", "x.price * x.price") + " AS sp2_{tf}")},
    {per_tf("size(filter(buf_{tf}, x -> x.side = 'BUY')) AS buy_{tf}")},
    {per_tf("IF(cnt_{tf} > 0, 1, 0)", " + ")} AS n_timeframes
  FROM b
), g AS (
  SELECT *,
    {per_tf("CASE WHEN cnt_{tf} > 0 THEN sp_{tf} / n_{tf} END AS avg_{tf}")},
    {per_tf("CASE WHEN n_{tf} >= 2 THEN sqrt(greatest(sp2_{tf} / n_{tf} "
            "- (sp_{tf} / n_{tf}) * (sp_{tf} / n_{tf}), 0.0d)) "
            "WHEN cnt_{tf} > 0 THEN 0.0d END AS vol_{tf}")},
    {per_tf("CASE WHEN cnt_{tf} > 0 THEN "
            "IF(buy_{tf} > n_{tf} - buy_{tf}, 'BUY', 'SELL') END AS maj_{tf}")}
  FROM f
  WHERE n_timeframes >= 2
), w AS (
  SELECT symbol, window_start_s, n_timeframes,
    {per_tf("bal_{tf}", " + ")} AS balance,
    {per_tf("least(cnt_{tf}, {keep})", " + ")} AS n_signals,
    CAST({per_tf("coalesce(CAST(avg_{tf} AS DECIMAL(27,10)), 0)", " + ")} AS DOUBLE)
      / n_timeframes AS avg_price,
    CAST({per_tf("coalesce(CAST(vol_{tf} AS DECIMAL(27,10)), 0)", " + ")} AS DOUBLE)
      / n_timeframes AS avg_volatility,
    CASE WHEN least({per_tf("maj_{tf}", ", ")}) = greatest({per_tf("maj_{tf}", ", ")})
         THEN 1.0d ELSE 0.5d END AS alignment,
    slice(sort_array(concat({per_tf("buf_{tf}", ", ")}), false), 1, {TOP_RECENT}) AS recent5
  FROM g
), {decision_tail_sql("w", round_dp)}"""


def decisions_from_signal_array(agg: DataFrame, round_dp: int = 6) -> DataFrame:
    """Finishing projection: one row per (symbol, window) with
    (symbol, window_start_s, sigs, cnt_<tf>, bal_<tf>) → one decision.

    The semantics mirror operators.signal_pipeline.decide (A2-A10, D1-D5,
    P5), whose decision tail this statement shares; one ``spark.sql``
    parse, on a streaming DataFrame as on a batch one."""
    from ..sqlutil import sql_over_views

    return sql_over_views(lambda v: _decide_array_sql(v["agg"], round_dp), agg=agg)


def streaming_sessionize(
    signals: DataFrame,
    gap: str = "30 seconds",
    watermark: str = "0 seconds",
) -> DataFrame:
    """T4 session windows (absent in the reference, free in Spark): per-symbol
    activity sessions that close after `gap` of silence.

    ``session_window`` is a merging stateful aggregation — state per key is
    one open session, not the member rows, so it scales with |symbols|, not
    row count. Append mode emits a session once the watermark passes its end.
    """
    sig = signals.withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
    return (
        sig.withWatermark("event_time", watermark)
        .groupBy("symbol", F.session_window("event_time", gap))
        .agg(
            F.count(F.lit(1)).alias("n_signals"),
            _dec_sum_plain(F.col("price")).alias("sum_price"),
        )
        .select(
            "symbol",
            F.unix_timestamp(F.col("session_window.start")).alias("session_start_s"),
            F.unix_timestamp(F.col("session_window.end")).alias("session_end_s"),
            "n_signals",
            "sum_price",
        )
    )


def _dec_sum_plain(col: Column) -> Column:
    return F.sum(col.cast(DEC)).cast("double")


def _schema(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


# The stateful operators' schemas are StructTypes, not DDL strings:
# applyInPandasWithState parses a DDL string through the JVM on every build.
_STR, _INT, _LONG, _DBL = T.StringType(), T.IntegerType(), T.LongType(), T.DoubleType()
_ARRIVAL_OUT_SCHEMA = _schema(
    ("symbol", _STR), ("window_start_s", _LONG), ("timeframe", _STR),
    ("n_buffered", _INT), ("avg_price", _DBL), ("newest_ts_us", _LONG),
)
_ARRIVAL_STATE_SCHEMA = _schema(
    ("prices", T.ArrayType(_DBL)), ("tss", T.ArrayType(_LONG))
)


def arrival_order_last10(
    signals: DataFrame,
    window_seconds: int = WINDOW_SECONDS,
    keep: int = BUFFER_KEEP,
) -> DataFrame:
    """BIT-EXACT arrival-order last-N buffer as a custom stateful operator.

    The engine's default path re-specifies the reference's FIFO-by-arrival
    buffer (SignalAggregator.kt:16-23) to ts-order (SURVEY.md §7.4.1) because
    arrival order is not reproducible under repartitioning. When strict
    arrival semantics ARE required, this operator provides them:
    ``applyInPandasWithState`` keyed by (symbol, window_start_s, timeframe),
    state = the last `keep` (price, ts_us) pairs in processing order, emitted
    per trigger (update semantics — mirrors the reference's per-commit
    cadence, T2).

    Scale: Arrow-batched, state bounded at `keep` rows per key, one shuffle on
    the group key. Arrival order within a micro-batch follows source row
    order per partition — exactly as far as the reference's own guarantee
    goes (Kafka preserves order per partition only).
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            prices, tss = state.get
            prices, tss = list(prices), list(tss)
        else:
            prices, tss = [], []
        for pdf in pdfs:
            for p, t in zip(pdf["price"], pdf["ts_us"]):
                prices.append(float(p))
                tss.append(int(t))
                if len(prices) > keep:  # FIFO eviction (SignalAggregator.kt:19-21)
                    prices.pop(0)
                    tss.pop(0)
        state.update((prices, tss))
        symbol, window_start_s, timeframe = key
        yield pd.DataFrame(
            [
                {
                    "symbol": symbol,
                    "window_start_s": window_start_s,
                    "timeframe": timeframe,
                    "n_buffered": len(prices),
                    "avg_price": sum(prices) / len(prices) if prices else 0.0,
                    "newest_ts_us": tss[-1] if tss else 0,
                }
            ]
        )

    w_us = window_seconds * 1_000_000
    keyed = signals.withColumn(
        "window_start_s", F.expr(f"(ts_us div {w_us}) * {window_seconds}").cast("long")
    )
    return keyed.groupBy("symbol", "window_start_s", "timeframe").applyInPandasWithState(
        update,
        _ARRIVAL_OUT_SCHEMA,
        _ARRIVAL_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_decide(
    signals: DataFrame,
    window_seconds: int = WINDOW_SECONDS,
    watermark: str = "0 seconds",
    dedup: bool = False,
) -> DataFrame:
    """signals stream → decision stream (append mode semantics).

    One stateful windowed aggregation; zero-grace watermark drops late rows
    exactly like TimeWindows.ofSizeWithNoGrace (SignalTopology.kt:52).
    """
    sig = signals.withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
    sig = sig.withWatermark("event_time", watermark)
    if dedup:
        sig = dedup_signals(sig)
    agg = sig.groupBy(
        "symbol", F.window("event_time", f"{window_seconds} seconds")
    ).agg(
        F.expr(
            "collect_list(struct(ts_us, signal_id, side, qty, price, timeframe))"
        ).alias("sigs")
    )
    # the untrimmed per-timeframe counters come from the collected window
    # in the projection, so the aggregation's state keeps its schema
    counters = [
        expr
        for tf in _TFS
        for expr in (
            f"CAST(size(filter(sigs, s -> s.timeframe = '{tf}')) AS BIGINT) AS cnt_{tf}",
            f"aggregate(sigs, 0L, (acc, s) -> acc + CASE WHEN s.timeframe = '{tf}'"
            f" THEN IF(s.side = 'BUY', 1, -1) ELSE 0 END) AS bal_{tf}",
        )
    ]
    framed = agg.selectExpr(
        "symbol", "unix_timestamp(window.start) AS window_start_s", "sigs", *counters
    )
    return decisions_from_signal_array(framed)


def streaming_candles(
    signals: DataFrame,
    candle_seconds: int = 60,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming OHLCV twin of ``plans.registry.q_ohlcv_candles``: the same
    per-(symbol, minute) candle columns from a signal STREAM — one
    watermarked windowed aggregation, append semantics (a candle emits once
    its window passes the watermark, the exactly-the-exchange-feed shape).

    open/close use ``min_by``/``max_by`` over the unique (ts_us, signal_id)
    order — the declarative equivalent of the batch query's rank windows
    (streaming aggregations cannot rank, but argmin/argmax state is O(1)
    per group, which is also the better shape at scale). Volume/VWAP run
    the identical DECIMAL(38,10) expressions, so streaming == batch
    EXACTLY (pinned by tests/test_streaming.py).
    """
    sig = signals.withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
    sig = sig.withWatermark("event_time", watermark)
    return (
        sig.groupBy("symbol", F.window("event_time", f"{candle_seconds} seconds"))
        .agg(
            F.expr("min_by(price, struct(ts_us, signal_id))").alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.expr("max_by(price, struct(ts_us, signal_id))").alias("close"),
            F.expr("CAST(sum(CAST(qty AS DECIMAL(38,10))) AS DOUBLE)").alias("volume"),
            F.expr(
                "round(CAST(sum(CAST(price * qty AS DECIMAL(38,10))) AS DOUBLE)"
                " / CAST(sum(CAST(qty AS DECIMAL(38,10))) AS DOUBLE), 6)"
            ).alias("vwap"),
            F.count(F.lit(1)).cast("long").alias("n_trades"),
        )
        .withColumn("bucket_s", F.unix_timestamp(F.col("window.start")))
        .drop("window")
    )


_BOUNDED_OUT_SCHEMA = _schema(
    ("symbol", _STR), ("window_start_s", _LONG),
    ("ts_us", T.ArrayType(_LONG)), ("signal_id", T.ArrayType(_LONG)),
    ("side", T.ArrayType(_STR)), ("qty", T.ArrayType(_DBL)),
    ("price", T.ArrayType(_DBL)), ("timeframe", T.ArrayType(_STR)),
    ("cnt_1m", _LONG), ("bal_1m", _LONG), ("cnt_5m", _LONG),
    ("bal_5m", _LONG), ("cnt_15m", _LONG), ("bal_15m", _LONG),
)
_BOUNDED_STATE_SCHEMA = _schema(
    ("tss", T.ArrayType(_LONG)), ("ids", T.ArrayType(_LONG)),
    ("sides", T.ArrayType(_STR)), ("qtys", T.ArrayType(_DBL)),
    ("prices", T.ArrayType(_DBL)), ("tfs", T.ArrayType(_STR)),
    ("c1", _LONG), ("b1", _LONG), ("c5", _LONG),
    ("b5", _LONG), ("c15", _LONG), ("b15", _LONG),
)
_BOUNDED_OUT_COLS = _BOUNDED_OUT_SCHEMA.names


def _make_bounded_update(window_seconds: int, keep: int):
    """Build the applyInPandasWithState update fn for the bounded decide path.

    State per (symbol, window_start_s) key is the trimmed per-timeframe
    last-``keep`` buffers (≤ 3×keep rows, column-major arrays) plus six O(1)
    counters — the untrimmed count and buy/sell balance per timeframe
    (A4/A6's whole-window quantities). This mirrors the reference's own state
    shape (SignalAggregator.kt:16-23 keeps only the last-10 buffers and
    running counters, never the raw window), where the default windowed-agg
    path's collect_list state grows with ingest rate.
    """
    import pandas as pd  # noqa: PLC0415 — closure ships to workers

    def update(key, pdfs, state):
        symbol, window_start_s = key
        end_ms = (int(window_start_s) + window_seconds) * 1000

        if state.hasTimedOut:
            # Watermark passed window end: emit the partial once (append
            # semantics, T1), drop state.
            (tss, ids, sides, qtys, prices, tfs, c1, b1, c5, b5, c15, b15) = state.get
            state.remove()
            yield pd.DataFrame(
                [[symbol, int(window_start_s), list(tss), list(ids), list(sides),
                  list(qtys), list(prices), list(tfs), c1, b1, c5, b5, c15, b15]],
                columns=_BOUNDED_OUT_COLS,
            )
            return

        if not state.exists and end_ms <= state.getCurrentWatermarkMs():
            # Entirely-late window (already emitted or never will be): drop —
            # the zero-grace late-row semantics of the windowed-agg path (T3).
            return

        if state.exists:
            st = state.get
            buf = list(zip(st[0], st[1], st[2], st[3], st[4], st[5]))
            counters = list(st[6:12])
        else:
            buf, counters = [], [0, 0, 0, 0, 0, 0]

        for pdf in pdfs:
            for t, i, s, q, p, tf in zip(
                pdf["ts_us"], pdf["signal_id"], pdf["side"], pdf["qty"],
                pdf["price"], pdf["timeframe"],
            ):
                if tf not in _TFS:
                    # Unknown timeframe on the wire (well-formed JSON, bad
                    # enum): drop the row, matching the windowed-agg path's
                    # silent tolerance. Raising here would make one poison
                    # message crash the query on every checkpoint restart.
                    continue
                j = _TFS.index(tf)
                counters[2 * j] += 1
                counters[2 * j + 1] += 1 if s == "BUY" else -1
                buf.append((int(t), int(i), str(s), float(q), float(p), str(tf)))

        # Re-trim: keep the ``keep`` most-recent per timeframe by
        # (ts_us desc, signal_id desc) — the engine's deterministic re-spec
        # of the reference's arrival-order FIFO (SURVEY.md §7.4.1).
        trimmed: list[tuple] = []
        for tf in _TFS:
            rows_tf = [r for r in buf if r[5] == tf]
            rows_tf.sort(key=lambda r: (r[0], r[1]), reverse=True)
            trimmed.extend(rows_tf[:keep])

        state.update((
            [r[0] for r in trimmed], [r[1] for r in trimmed],
            [r[2] for r in trimmed], [r[3] for r in trimmed],
            [r[4] for r in trimmed], [r[5] for r in trimmed],
            *counters,
        ))
        # Emit when the watermark passes window end. max() keeps a retried /
        # straggler batch from setting a timestamp the watermark already
        # passed (illegal) — the window then closes at the next watermark
        # advance instead of crashing the query.
        state.setTimeoutTimestamp(max(end_ms, state.getCurrentWatermarkMs() + 1))

    return update


def streaming_decide_bounded(
    signals: DataFrame,
    window_seconds: int = WINDOW_SECONDS,
    watermark: str = "0 seconds",
) -> DataFrame:
    """signals stream → decision stream with BOUNDED per-key state.

    The 100 TB/day variant of :func:`streaming_decide`: the default path's
    single windowed aggregation collects every signal of a (symbol, window)
    group into state, so per-key state grows with ingest rate — the one
    scale hazard the module docstring names. This path replaces it with a
    custom stateful operator (``applyInPandasWithState``, event-time timeout)
    whose state per key is ≤ 3×BUFFER_KEEP buffer rows + 6 counters
    regardless of rate, exactly mirroring the reference's own state shape
    (SignalAggregator.kt:16-23 keeps only the last-10 buffers and running
    counters, never the raw window).

    The finishing statement is the default path's
    (decisions_from_signal_array): the Python side only maintains buffers
    and counters, which it emits as the ``sigs`` array and the
    ``cnt_<tf>``/``bal_<tf>`` columns; per-timeframe stats, thresholds, and
    the decision CASEs all run as Catalyst expressions on the emitted
    partials — so results match streaming_decide / batch ``decide``
    (asserted row-for-row in tests/test_streaming.py).

    Emission contract: one row per (symbol, window) when the watermark passes
    the window end (append semantics, zero-grace late drops — T1/T3), same as
    the windowed-agg path. Run it on the RocksDB state store provider (T5)
    like any other stateful query.

    (Spark ≥4.0's transformWithStateInPandas could express the same operator
    with typed ListState/ValueState + timers; it needs the protobuf runtime,
    absent in this container, so the engine standardizes on the
    applyInPandasWithState form — same state shape, executable everywhere.)
    """
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    sig = signals.withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
    sig = sig.withWatermark("event_time", watermark)
    w_us = window_seconds * 1_000_000
    keyed = sig.withColumn(
        "window_start_s",
        F.expr(f"(ts_us div {w_us}) * {window_seconds}").cast("long"),
    )
    partials = keyed.groupBy("symbol", "window_start_s").applyInPandasWithState(
        _make_bounded_update(window_seconds, BUFFER_KEEP),
        _BOUNDED_OUT_SCHEMA,
        _BOUNDED_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    # Re-assemble the array<struct> shape the finishing statement consumes;
    # arrays_zip names struct fields after the source columns.
    framed = partials.selectExpr(
        "symbol",
        "window_start_s",
        "arrays_zip(ts_us, signal_id, side, qty, price, timeframe) AS sigs",
        *_BOUNDED_OUT_COLS[8:],
    )
    return decisions_from_signal_array(framed)


def stream_stream_click_attribution(
    purchases: DataFrame,
    clicks: DataFrame,
    window_minutes: int = 30,
) -> DataFrame:
    """Stream-stream inner join: clicks within the `window_minutes` before
    each purchase by the same user (the streaming twin of the batch
    `range_join_click_attribution` query).

    Beyond-reference streaming surface (the reference joins only
    stream-to-constant-map — SignalTopology.kt:76); Spark's watermarked
    stream-stream join is the engine capability that replaces it at scale.

    State-bound reasoning (what makes this safe on an unbounded stream):
    both sides carry a watermark and the join condition constrains the two
    event times to a bounded range, so Spark derives a state-eviction bound
    for each side — click state older than (purchase watermark -
    window_minutes) and purchase state older than the click watermark are
    dropped, keeping state O(window x rate) regardless of stream age.

    Expected columns: purchases(event_id, user_id, event_time),
    clicks(user_id, event_time, value).
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("event_time").alias("p_time"),
    ).withWatermark("p_time", "1 minute")
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_time").alias("c_time"),
        F.col("value").alias("click_value"),
    ).withWatermark("c_time", f"{window_minutes + 1} minutes")
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_time") >= F.col("p_time") - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        & (F.col("c_time") < F.col("p_time"))
    )
    return p.join(c, cond, "inner").select(
        "purchase_id", "p_user", "p_time", "c_time", "click_value"
    )
