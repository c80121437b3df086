"""Structured Streaming operators (SURVEY.md §2 sources/streaming).

The same event-analytics the batch SessionEncoder provides, as
streaming plans: tumbling-window counts with watermarked late-data
handling, and session windows via Spark's native
``F.session_window`` (which works identically on batch DataFrames —
``session_window_features`` is the batch/streaming-agnostic
sessionizer; the lag/cumsum variant in operators/session_encoder.py
exists for engines-parity with explicit session ids)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dedup.overlap import count_hits, doc_gram_keys, key_index
from ..functions.text import MAX_GRAMS_PER_DOC
from ..functions.timeutils import epoch_us


def stream_from_parquet_dir(
    spark: SparkSession, path: str, schema, ts_col: str = "ts"
) -> DataFrame:
    """File-source stream over a parquet directory (each new file is
    a micro-batch) — the standard replay/backfill source shape."""
    return spark.readStream.schema(schema).parquet(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts per group with a watermark bounding
    state for late data. Works on batch or streaming input."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(ts_col, window), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            group_col,
            "n_events",
            "value_sum",
        )
    )


def session_window_features(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Per-(user, session) aggregates using native session windows —
    state-store backed in streaming, plain agg in batch."""
    src = events
    if events.isStreaming and watermark:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.session_window(ts_col, gap), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("first_event"),
            F.max(ts_col).alias("last_event"),
        )
        .select(
            user_col,
            F.col("session_window.start").alias("session_start"),
            "n_events",
            (
                epoch_us("last_event") - epoch_us("first_event")
            ).alias("duration_us"),
        )
    )


def streaming_session_counts(
    spark: SparkSession,
    path: str,
    schema,
    gap: str = "30 minutes",
    query_name: str = "sessions",
):
    """End-to-end streaming pipeline: parquet dir -> session windows
    -> in-memory sink, processing everything currently available.
    Returns the StreamingQuery (caller awaits termination)."""
    stream = stream_from_parquet_dir(spark, path, schema)
    sessions = session_window_features(stream, gap=gap)
    return (
        sessions.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup(
    stream: DataFrame,
    dedup_cols: list[str],
    id_col: str,
):
    """Streaming exact deduplication with UNBOUNDED-history state —
    a custom stateful operator over ``applyInPandasWithState``
    (the LLM-ingest primitive: keep the first document per key
    across ALL micro-batches, not just within a watermark like
    ``dropDuplicates`` on a stream).

    State per key = one boolean (seen); each group emits at most one
    row ever: the min-``id_col`` row of the first batch that carries
    the key. Emission is deterministic given batch contents (the
    batch's rows are reduced by min id), so with a single input file
    the result equals the batch rule "row whose id is the group min".

    At scale: state is one tiny tuple per distinct key in the state
    store (RocksDB-backed on a real cluster); the grouped shuffle is
    the same hash partitioning a batch groupBy would do.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = stream.schema
    id_idx = [f.name for f in out_schema.fields].index(id_col)

    def keep_first(key, pdfs, state):
        import pandas as pd

        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.loc[[pdf[id_col].idxmin()]]
            if best is None or cand[id_col].iloc[0] < best[id_col].iloc[0]:
                best = cand
        if (not state.exists) and best is not None:
            state.update((True,))
            yield best
        elif best is not None:
            yield pd.DataFrame(columns=best.columns).astype(best.dtypes)

    return stream.groupBy(*dedup_cols).applyInPandasWithState(
        keep_first,
        out_schema,
        "seen boolean",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_sessionize(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
):
    """Custom stateful streaming sessionization with EXPLICIT session
    ids that CONTINUE across micro-batches — the property native
    ``session_window`` aggregation doesn't give you (it emits window
    structs, not stable ids on rows).

    ``applyInPandasWithState`` keeps (last_event_us, last_session_id)
    per key; each batch's rows are sorted by event time within the
    group, ids assigned by the gap rule, and the state carried
    forward — so an event in a later micro-batch that falls within
    ``gap_minutes`` of the previous batch's last event joins the SAME
    session, where any stateless per-batch sessionizer would restart
    at 1. On a single ``availableNow`` batch the output is exactly
    batch ``sessionize`` (the SQL oracle). Late rows ordered before
    already-emitted state are a fundamental append-mode limit — at
    scale you put a watermark upstream.

    State per key is two longs in the state store (RocksDB-backed on
    a cluster); the grouped shuffle is the same hash partitioning a
    batch groupBy does.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        stream.schema.fields + [StructField("session_id", LongType())]
    )
    gap_us = int(gap_minutes * 60 * 1_000_000)

    def assign(key, pdfs, state):
        import numpy as np
        import pandas as pd

        last_ts, sid = state.get if state.exists else (None, 0)
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames).sort_values(ts_col, kind="mergesort")
        tsv = pdf[ts_col]
        if getattr(tsv.dtype, "tz", None) is not None:
            tsv = tsv.dt.tz_localize(None)
        ts_us = np.asarray(tsv, dtype="datetime64[ns]").astype("int64") // 1000
        sids = np.empty(len(ts_us), dtype="int64")
        for i, t in enumerate(ts_us):
            if last_ts is None or t - last_ts > gap_us:
                sid += 1
            last_ts = int(t)
            sids[i] = sid
        state.update((int(last_ts), int(sid)))
        yield pdf.assign(session_id=sids)

    return stream.groupBy(user_col).applyInPandasWithState(
        assign,
        out_schema,
        "last_ts long, sid long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins the
    static dimension (re-read per batch, so slowly-changing dims are
    picked up). The dim side is broadcast — no stateful join state,
    no watermark needed; this is the scale-correct shape for
    fact-stream x dim-table enrichment."""
    return stream.join(F.broadcast(dim), on=on, how=how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    interval: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join bounded by an event-time interval:
    right rows within [left_ts - interval, left_ts + interval] on the
    same key. BOTH sides carry watermarks so the state store can
    evict rows older than watermark + interval — the join state stays
    bounded no matter how long the streams run (the unbounded-state
    trap is a stream-stream join with no time bound)."""
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    lt, rt = F.col(left_ts), F.col(right_ts)
    r = r.withColumnRenamed(key, f"__r_{key}")
    if right_ts == left_ts:
        r = r.withColumnRenamed(right_ts, f"__r_{right_ts}")
        rt = F.col(f"__r_{right_ts}")
    cond = (
        (F.col(key) == F.col(f"__r_{key}"))
        & (rt >= lt - F.expr(f"INTERVAL {interval}"))
        & (rt <= lt + F.expr(f"INTERVAL {interval}"))
    )
    return l.join(r, cond, "inner")


def streaming_near_dedup(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_components: int = 16,
    n_bands: int = 8,
    shingle_k: int = 3,
):
    """Streaming MinHash-LSH near-duplicate flagging across
    micro-batches — the ingest-time twin of the batch
    ``dedup_minhash_pairs``.

    Each document's portable md5 minhash signature (one JVM
    expression, see functions/hashing.py) is split into ``n_bands``
    band keys; the stream is exploded to (band_key, doc, band_idx)
    rows and grouped by band key under ``applyInPandasWithState``.
    State per bucket = ONE long: the FIRST-ARRIVED claimant (min id
    within the claiming batch) — the same keep-first semantics as
    ``streaming_dedup``. Every row is emitted back annotated with
    its bucket's claimant, so a document whose bucket was claimed by
    a DIFFERENT document (an earlier batch, or a smaller id in the
    same batch) surfaces with ``first_id != doc_id`` — the
    downstream per-doc summary (one groupBy in the consumer's
    foreachBatch, or a batch query over the sink) flags it.

    Ingest-time semantics, stated honestly: flags follow ARRIVAL
    order. When ids arrive in ascending order (the battery fixture,
    and any ingest keyed by monotonically increasing ids) this
    equals the batch min-id rule, which is what the SQL oracle
    replays. If a smaller id arrives AFTER its bucket was claimed,
    the late row is flagged against the earlier claimant, but
    already-emitted rows are never retro-flagged — append-mode
    output is immutable, the same fundamental limit documented for
    ``streaming_sessionize``'s late rows.

    LSH-only (no exact-Jaccard verify): verification would need gram
    sets in state — unbounded. At 100 TB: state = 8 bytes per
    DISTINCT band bucket in the state store (RocksDB on a cluster),
    the shuffle is the band-key hash partitioning, and the sketch
    is engine-portable so a SQL oracle replays every band key and
    canonical id bit-exactly (battery query
    ``streaming_near_dup_flags``).

    Documents with fewer than ``shingle_k`` words have no shingles
    (their signature would be the degenerate all-P constant) and are
    filtered out of banding — the consumer treats absence as
    not-a-duplicate.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from ..functions.hashing import minhash_from_grams
    from ..functions.text import word_shingles

    if n_components % n_bands != 0:
        # silently ignoring trailing signature components would
        # weaken the sketch without warning (ADVICE r5)
        raise ValueError(
            f"n_components ({n_components}) must be divisible by "
            f"n_bands ({n_bands})"
        )
    from ..functions.hashing import md5_band_keys

    rows_per_band = n_components // n_bands
    band_keys = md5_band_keys(F.col("__sig"), n_bands, rows_per_band)
    # materialize the shingle array ONCE per row: both the
    # has-shingles filter and the signature read the same column
    exploded = (
        stream.withColumn(
            "__grams", word_shingles(F.col(text_col), shingle_k)
        )
        .filter(F.size("__grams") >= 1)
        .withColumn("__sig", minhash_from_grams(F.col("__grams"), n_components))
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(band_keys).alias("band_idx", "band_key"),
        )
    )

    out_schema = StructType([
        StructField("band_key", StringType()),
        StructField("band_idx", LongType()),
        StructField("doc_id", LongType()),
        StructField("first_id", LongType()),
    ])

    def claim(key, pdfs, state):
        import pandas as pd

        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames)
        # first ARRIVAL wins (keep-first, like streaming_dedup);
        # min-merging across batches would desync emitted rows from
        # state, since append-mode output can't be retro-flagged
        first = (
            int(state.get[0]) if state.exists
            else int(pdf["doc_id"].min())
        )
        state.update((first,))
        yield pd.DataFrame({
            "band_key": pdf["band_key"].astype(str),
            "band_idx": pdf["band_idx"].astype("int64"),
            "doc_id": pdf["doc_id"].astype("int64"),
            "first_id": first,
        })

    return exploded.groupBy("band_key").applyInPandasWithState(
        claim,
        out_schema,
        "first long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def near_dup_summary(flags: DataFrame, ids: DataFrame | None = None,
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document view over ``streaming_near_dedup`` output (run it
    batch-side over the sink, or in foreachBatch): ``is_dup`` when
    any band bucket was claimed by a DIFFERENT document (earlier
    arrival, or smaller id within the same batch), plus the minimal
    canonical id over all its buckets. ``ids`` (optional) re-attaches
    documents that had no shingles as non-duplicates."""
    per_doc = flags.groupBy("doc_id").agg(
        F.max((F.col("first_id") != F.col("doc_id")).cast("int"))
        .cast("boolean")
        .alias("is_dup"),
        F.min("first_id").alias("canonical_id"),
    )
    if ids is None:
        return per_doc
    base = ids.select(F.col(id_col).alias("doc_id")).distinct()
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias("canonical_id"),
    )


def streaming_embedding_near_dedup(
    stream: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    planes=None,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Streaming EMBEDDING near-dedup at ingest (r7, VERDICT r6 #7 —
    completes the {exact, minhash-near, embedding-near} x {batch,
    incremental, streaming} dedup matrix): each arriving vector is
    sketched with random-hyperplane LSH (sign-bit bucket per table,
    the same sketch as ``embedding_near_duplicates``), every
    (table, bucket) cell is claimed FIRST-ARRIVAL in the state
    store, and every row is emitted annotated with its cell's
    claimant — ``first_id != vec_id`` flags a near-duplicate of an
    earlier arrival, exactly the ``streaming_near_dedup`` contract
    with hyperplane cells instead of minhash bands.

    ``planes`` ([n_tables][n_planes][dim] literals) freezes the
    sketch: with frozen planes the bucket of a vector is pure
    sign-of-dot-product arithmetic, so a SQL oracle replays every
    cell and claim exactly (battery query
    ``streaming_embedding_dedup``; sign flips would need a dot
    within float-summation error of 0). ``planes`` is REQUIRED — a
    streaming frame cannot be probed for its dimension at plan
    time, so seed-derivation is not available here (the
    ``n_planes``/``n_tables``/``seed`` parameters document the
    sketch shape for callers building planes themselves).

    At 100 TB: state = 8 bytes per DISTINCT populated cell
    (RocksDB on a cluster), the only shuffle is the cell-key hash
    partitioning of ``applyInPandasWithState``, and the sketch runs
    in one Arrow matmul per micro-batch partition. Ascending-id
    ingest makes arrival order equal the min-id rule the oracle
    replays; late smaller ids flag against the earlier claimant
    (append-mode output is immutable — the limit every streaming
    dedup here documents)."""
    import numpy as np
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from ..similarity.index import _buckets_udf

    if planes is None:
        # a streaming frame can't be sampled for dim at plan time,
        # so seed-derived planes need an explicit dimension; callers
        # with a known dim can also build them directly:
        raise ValueError(
            "pass planes explicitly ([n_tables][n_planes][dim]); "
            f"derive from a seed with _planes_for({seed}, {n_tables},"
            f" {n_planes}, dim) — frozen literals additionally make "
            "the sketch SQL-replayable"
        )
    planes_list = [np.asarray(p, dtype="float64") for p in planes]
    exploded = stream.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_buckets_udf(planes_list)(F.col(vec_col))).alias(
            "band_idx", "bucket"
        ),
    ).select(
        "doc_id",
        "band_idx",
        F.concat_ws("-", F.col("band_idx"), F.col("bucket")).alias(
            "band_key"
        ),
    )

    out_schema = StructType([
        StructField("band_key", StringType()),
        StructField("band_idx", LongType()),
        StructField("doc_id", LongType()),
        StructField("first_id", LongType()),
    ])

    def claim(key, pdfs, state):
        import pandas as pd

        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames)
        first = (
            int(state.get[0]) if state.exists
            else int(pdf["doc_id"].min())
        )
        state.update((first,))
        yield pd.DataFrame({
            "band_key": pdf["band_key"].astype(str),
            "band_idx": pdf["band_idx"].astype("int64"),
            "doc_id": pdf["doc_id"].astype("int64"),
            "first_id": first,
        })

    return exploded.groupBy("band_key").applyInPandasWithState(
        claim,
        out_schema,
        "first long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_apply_changes(
    stream: DataFrame,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
):
    """Streaming CDC apply (r8 late — CDC × streaming, completing
    the matrix the batch ``operators/cdc.py::apply_changes``
    starts): change rows arrive in micro-batches; per key the state
    store holds the current winner's (seq, op) — 16 bytes/key — and
    each batch emits EVERY change row annotated with ``applied``:
    True iff the row is its key's within-batch winner (max seq, the
    same 'D'-wins tombstone tiebreak as ``latest_changes``) AND it
    beats the state from earlier batches. Downstream, the applied
    rows ARE the effective changelog — feed them to the batch merge
    or a sink upsert.

    At scale: the grouped shuffle is the same hash partitioning a
    batch window would do; state never stores payloads."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import BooleanType, StructField, StructType

    out_schema = StructType(
        list(stream.schema.fields) + [StructField("applied", BooleanType())]
    )

    def apply_batch(key, pdfs, state):
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch) == 0:
            return
        ordered = batch.sort_values(
            [seq_col, op_col], ascending=[False, True], kind="mergesort"
        )
        w = ordered.iloc[0]
        w_seq, w_op = int(w[seq_col]), str(w[op_col])
        if state.exists:
            b_seq, b_op = state.get
            beats = (w_seq > b_seq) or (w_seq == b_seq and w_op < b_op)
        else:
            beats = True
        batch["applied"] = False
        if beats:
            batch.loc[ordered.index[0], "applied"] = True
            state.update((w_seq, w_op))
        yield batch

    return stream.groupBy(key_col).applyInPandasWithState(
        apply_batch,
        out_schema,
        "best_seq long, best_op string",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_transitions(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    state_col: str = "event_type",
):
    """Stateful Markov-transition extraction on a stream — the
    streaming twin of ``operators/sequence.py::event_transitions``:
    per key the state store carries (last_ts_us, last_id,
    last_state), so a transition whose two events land in DIFFERENT
    micro-batches is still emitted (a stateless per-batch lag would
    drop every batch-boundary transition). With time-ordered
    batches the aggregate over the emitted pairs equals the batch
    transition matrix EXACTLY (battery query
    ``streaming_transitions`` reuses the batch SQL oracle).
    Out-of-order rows across batches are the same append-mode limit
    sessionize documents — put a watermark upstream at scale.

    State per key is two longs + one short string; the grouped
    shuffle is the hash partitioning a batch groupBy would do.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user", LongType()),
            StructField("from_state", StringType()),
            StructField("to_state", StringType()),
        ]
    )

    def emit(key, pdfs, state):
        import numpy as np
        import pandas as pd

        last_ts, last_id, last_state = (
            state.get if state.exists else (None, None, None)
        )
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames)
        tsv = pdf[ts_col]
        if getattr(tsv.dtype, "tz", None) is not None:
            tsv = tsv.dt.tz_localize(None)
        ts_us = (
            np.asarray(tsv, dtype="datetime64[ns]").astype("int64")
            // 1000
        )
        pdf = pdf.assign(__us=ts_us).sort_values(
            ["__us", id_col], kind="mergesort"
        )
        froms, tos = [], []
        for _, row in pdf.iterrows():
            cur = row[state_col]
            if last_state is not None:
                froms.append(last_state)
                tos.append(cur)
            last_state = cur
            last_ts = int(row["__us"])
            last_id = int(row[id_col])
        state.update((last_ts, last_id, last_state))
        if froms:
            yield pd.DataFrame(
                {
                    "user": key[0],
                    "from_state": froms,
                    "to_state": tos,
                }
            )

    return stream.groupBy(user_col).applyInPandasWithState(
        emit,
        out_schema,
        "last_ts long, last_id long, last_state string",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_heavy_hitters(
    stream: DataFrame,
    key_col: str = "user_id",
    *,
    threshold: int = 30,
):
    """Cross-batch heavy-hitter alerts — the streaming twin of a
    batch frequency gate: per key the state store carries ONE
    running count (plus an alerted flag), and the key is emitted
    exactly once, in the micro-batch where its cumulative count
    first reaches ``threshold``, with the count at that moment.
    A stateless per-batch count would miss every key whose volume
    accumulates across batches (the common abuse/quota pattern).

    Emission is once-per-key so append mode is exact; counting is
    order-independent, so the result depends only on HOW rows are
    batched, not on intra-batch order — with a literal batch-split
    predicate the DuckDB oracle replays it exactly (battery query
    ``streaming_heavy_hitters``). State per key: two longs. At
    scale the grouped shuffle is the same hash partitioning a batch
    groupBy would do, and emitted rows are ≤ |keys|.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("key", LongType()),
            StructField("count_at_alert", LongType()),
        ]
    )
    thr = int(threshold)

    def alert(key, pdfs, state):
        import pandas as pd

        cnt, alerted = state.get if state.exists else (0, 0)
        n_new = sum(len(p) for p in pdfs)
        cnt += n_new
        if not alerted and cnt >= thr:
            alerted = 1
            yield pd.DataFrame(
                {"key": [key[0]], "count_at_alert": [cnt]}
            )
        state.update((cnt, alerted))

    return stream.groupBy(key_col).applyInPandasWithState(
        alert,
        out_schema,
        "cnt long, alerted long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_spike_flags(
    stream: DataFrame,
    key_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    *,
    factor: float = 3.0,
):
    """Cross-batch spike flags (r9c) — the streaming twin of the
    batch rolling-anomaly pass (operators/sequence.py::
    rolling_hampel): per key the state store carries the exact
    integer-micro (count, sum) of every PRIOR micro-batch, and each
    row is flagged when value ≥ factor × that running baseline
    mean. Baseline semantics are deliberately BATCH-BOUNDARY (rows
    compare against earlier batches only, never their own batch):
    that makes the result independent of intra-batch row order —
    only the batch split matters — so with a literal split
    predicate the DuckDB oracle replays it exactly (battery query
    ``streaming_spikes``). First-batch rows have no baseline and
    emit is_spike = NULL (explicit cold-start, not false).

    The flag compare is exact integer arithmetic: value·10⁶·cnt ≥
    factor·10⁶-scaled sum products — no IEEE division anywhere.
    State per key: two longs; the grouped shuffle is the same hash
    partitioning a batch groupBy would use.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, StructField,
        StructType,
    )

    # baselines ship as the EXACT integer state pair (cnt, sum6) —
    # the caller derives the mean with engine rounding (python
    # round() is banker's; Spark/DuckDB round HALF_UP).
    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("id", LongType()),
            StructField("value", DoubleType()),
            StructField("baseline_cnt", LongType()),
            StructField("baseline_sum6", LongType()),
            StructField("is_spike", BooleanType()),
        ]
    )
    fac_num = int(round(float(factor) * 1000000))

    def flag(key, pdfs, state):
        import numpy as np
        import pandas as pd

        cnt, s6 = state.get if state.exists else (0, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        # HALF_UP (away-from-zero) micro conversion — pandas
        # .round() is banker's (half-even), which disagrees with the
        # Spark/DuckDB round(v*1e6) the oracle replays on exact .5s.
        scaled = rows[value_col].astype("float64").to_numpy() * 1_000_000
        v6 = pd.Series(
            (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(
                "int64"
            ),
            index=rows.index,
        )
        if cnt > 0:
            # v >= factor * (s6/cnt)/1e6  <=>  v6*cnt*1e6 >= fac_num*s6
            spikes = (
                v6.astype(object) * int(cnt) * 1_000_000
                >= int(fac_num) * int(s6)
            ).astype(bool)
        else:
            spikes = None
        out = pd.DataFrame(
            {
                "key": key[0],
                "id": rows[id_col].astype("int64"),
                "value": rows[value_col].astype("float64"),
                "baseline_cnt": int(cnt) if cnt > 0 else None,
                "baseline_sum6": int(s6) if cnt > 0 else None,
                "is_spike": spikes,
            }
        )
        state.update((int(cnt + len(rows)), int(s6 + int(v6.sum()))))
        yield out

    return stream.groupBy(key_col).applyInPandasWithState(
        flag,
        out_schema,
        "cnt long, s6 long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def upsert_batch(
    batch_df: DataFrame,
    root: str,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
    *,
    batch_id: int,
) -> bool:
    """Idempotent transactional MERGE of ONE micro-batch into the
    versioned snapshot table at ``root`` (r10, VERDICT r9 #5 — the
    exactly-once sink recipe).

    The micro-batch id is Structured Streaming's replay-stable
    transaction key: snapshot version ``batch_id + 1`` commits this
    batch, so a DUPLICATE DELIVERY (same batch replayed after a
    failure, or a rogue double call) finds its version already
    present and is SKIPPED — and the underlying
    ``write_snapshot``'s errorifexists parquet commit closes the
    concurrent-duplicate window. Returns True if the batch was
    applied, False if skipped as already-committed.

    The MERGE itself is ``operators/cdc.py::apply_changes``
    (seq-winner per key within the batch, 'D' tombstones delete),
    against the latest committed snapshot — so state lives in the
    table, not the driver, and any scale of key space works."""
    from ..operators.cdc import apply_changes
    from ..sources.snapshots import (
        read_snapshot, snapshot_versions, write_snapshot,
    )

    spark = batch_df.sparkSession
    version = int(batch_id) + 1
    if version in snapshot_versions(root, spark):
        return False
    existing = snapshot_versions(root, spark)
    base_cols = [c for c in batch_df.columns if c != op_col]
    if existing:
        base = read_snapshot(spark, root, existing[-1])
    else:
        base = spark.createDataFrame(
            [], batch_df.select(*base_cols).schema
        )
    merged = apply_changes(base, batch_df, key_col, seq_col, op_col)
    try:
        write_snapshot(merged.select(*base.columns), root, version=version)
    except ValueError:
        # lost the racy window to a concurrent duplicate — that
        # commit IS this batch, so the outcome is identical
        return False
    return True


def streaming_upsert_sink(
    stream: DataFrame,
    root: str,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
    *,
    checkpoint: str,
):
    """foreachBatch exactly-once upsert: every micro-batch MERGEs
    into the versioned snapshot table via :func:`upsert_batch`
    (idempotent per batch id). Returns the started StreamingQuery;
    the caller awaits termination and reads the final snapshot."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        upsert_batch(
            batch_df, root, key_col, seq_col, op_col, batch_id=batch_id
        )

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_cusum(
    stream: DataFrame,
    key_col: str,
    id_col: str,
    value_col: str,
    *,
    mu6: int,
    k6: int,
    h6: int,
):
    """Streaming one-sided-pair CUSUM drift flags (r10 — the
    sequential companion to the batch reset-on-alarm monitor in
    operators/forecast.py::cusum_monitor): per key, over rows
    ordered by ``id_col`` across micro-batches,

        Sp_t = max(0, Sp_{t−1} + (v_t − μ − k))
        Sn_t = max(0, Sn_{t−1} + (μ − v_t − k))

    WITHOUT alarm reset — which admits the reflected-random-walk
    identity S_t = cum_t − min(0, min_{j≤t} cum_j), so the state per
    key is TWO integer pairs ((cum, min-cum) per side, 32 bytes)
    and the whole trajectory is exact integer-micro arithmetic: the
    DuckDB oracle replays it with plain running-sum/running-min
    WINDOW functions — no recursion, any scale.

    μ, k, h arrive as micro literals. Values quantize HALF_UP
    (away-from-zero) like streaming_spike_flags. Output per row:
    ``(key, id, value, s_pos6, s_neg6, alarm)`` with the S columns
    as exact micro integers."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("id", LongType()),
            StructField("value", DoubleType()),
            StructField("s_pos6", LongType()),
            StructField("s_neg6", LongType()),
            StructField("alarm", BooleanType()),
        ]
    )
    mu_, k_, h_ = int(mu6), int(k6), int(h6)

    def run(key, pdfs, state):
        import numpy as np
        import pandas as pd

        cp, mp, cn, mn = state.get if state.exists else (0, 0, 0, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        rows = rows.sort_values(id_col, kind="mergesort")
        scaled = rows[value_col].astype("float64").to_numpy() * 1_000_000
        v6 = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(
            "int64"
        )
        sp, sn, al = [], [], []
        for v in v6.tolist():
            cp += v - mu_ - k_
            mp = min(mp, cp)
            cn += mu_ - v - k_
            mn = min(mn, cn)
            s_p = cp - min(0, mp)
            s_n = cn - min(0, mn)
            sp.append(s_p)
            sn.append(s_n)
            al.append(s_p > h_ or s_n > h_)
        state.update((int(cp), int(mp), int(cn), int(mn)))
        yield pd.DataFrame(
            {
                "key": key[0],
                "id": rows[id_col].astype("int64").to_numpy(),
                "value": rows[value_col].astype("float64").to_numpy(),
                "s_pos6": sp,
                "s_neg6": sn,
                "alarm": al,
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        run,
        out_schema,
        "cp long, mp long, cn long, mn long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_late_data(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    *,
    window_us: int,
    lateness_us: int,
):
    """Event-time tumbling-window aggregation with explicit allowed
    lateness and a LATE-DATA SIDE OUTPUT (r11, VERDICT r10 #7 — the
    one streaming semantic the repo had not exercised): Spark's
    built-in watermark silently DROPS rows older than the watermark
    in append mode; production pipelines instead QUARANTINE them
    (a dead-letter output to audit / backfill). Per key, the state
    store carries one integer — the max event time seen in PRIOR
    micro-batches — and each arriving row is classified against the
    explicit watermark ``max_prior_ts - lateness``:

    - on-time rows fold into per-(key, tumbling-window) partial
      counts emitted per batch (the consumer sums partials — counts
      are associative, so totals are exact);
    - late rows are emitted individually as quarantine rows.

    Timestamps are integer MICROSECONDS (``ts_col`` long), so the
    classification and window assignment are exact integer
    arithmetic and a SQL oracle replays them over the literal batch
    order (battery ``streaming_late_data``). With no late arrivals
    the summed partials equal the batch tumbling-window aggregation
    bit-for-bit (pinned in tests/test_r11_ops.py).

    Output rows: ``(key, kind 'agg'|'late', window_start_us, n_rows,
    late_id, late_ts_us)`` — agg rows carry the first three, late
    rows the last two. State per key: 8 bytes."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("kind", StringType()),
            StructField("window_start_us", LongType()),
            StructField("n_rows", LongType()),
            StructField("late_id", LongType()),
            StructField("late_ts_us", LongType()),
        ]
    )
    w_us, l_us = int(window_us), int(lateness_us)

    def run(key, pdfs, state):
        import pandas as pd

        prev_max = state.get[0] if state.exists else None
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        rows = rows.sort_values(id_col, kind="mergesort")
        ts = rows[ts_col].astype("int64")
        if prev_max is None:
            late_mask = ts < ts.min()  # all False
        else:
            late_mask = ts < (prev_max - l_us)
        on = rows[~late_mask]
        late = rows[late_mask]
        out = []
        if len(on):
            ws = (on[ts_col].astype("int64") // w_us) * w_us
            counts = ws.value_counts().sort_index()
            out.append(
                pd.DataFrame(
                    {
                        "key": key[0],
                        "kind": "agg",
                        "window_start_us": counts.index.astype("int64"),
                        "n_rows": counts.to_numpy().astype("int64"),
                        "late_id": pd.array(
                            [None] * len(counts), dtype="Int64"
                        ),
                        "late_ts_us": pd.array(
                            [None] * len(counts), dtype="Int64"
                        ),
                    }
                )
            )
        if len(late):
            out.append(
                pd.DataFrame(
                    {
                        "key": key[0],
                        "kind": "late",
                        "window_start_us": pd.array(
                            [None] * len(late), dtype="Int64"
                        ),
                        "n_rows": pd.array(
                            [None] * len(late), dtype="Int64"
                        ),
                        "late_id": late[id_col].astype("int64").to_numpy(),
                        "late_ts_us": late[ts_col]
                        .astype("int64")
                        .to_numpy(),
                    }
                )
            )
        new_max = int(ts.max()) if prev_max is None else max(
            prev_max, int(ts.max())
        )
        state.update((new_max,))
        if out:
            yield pd.concat(out, ignore_index=True)

    return stream.groupBy(key_col).applyInPandasWithState(
        run,
        out_schema,
        "mx long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_decontaminate(
    stream_docs: DataFrame,
    eval_df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    ngram: int = 13,
    max_contamination: float = 0.0,
    out_path: str,
    checkpoint_path: str | None = None,
    max_grams_per_doc: int | None = MAX_GRAMS_PER_DOC,
):
    """Streaming decontamination gate (r12 — the streaming twin of
    `dedup/contamination.py::decontaminate_train`): every arriving
    document is checked for ``ngram``-gram overlap against a STATIC
    eval corpus; matched docs divert to a quarantine side output
    (kind='quarantine') instead of silently dropping, clean docs
    pass through (kind='clean') — the r11 `streaming_late_data`
    side-output discipline applied to corpus hygiene at ingest
    time.

    Broadcast state, built ONCE before the stream starts (not per
    micro-batch): the eval corpus's distinct gram-hash index
    (persisted — it is benchmark-sized, the operator's contract).
    Per micro-batch, inside ``foreachBatch`` (the documented Spark
    pattern for stream-static flows the streaming planner can't
    express — here: a per-doc aggregation with no watermark
    semantics, since the decision is stateless across batches), the
    shingle-overlap kernel (``dedup/overlap.py``, shared with the
    batch operator) counts each doc's distinct grams and its hits in
    ONE broadcast left join + one per-doc reduce, then the kind
    split is appended to ``out_path`` as parquet. Same kernel, same
    ``max_grams_per_doc`` default: the decision is bit-identical to
    the batch operator on the same rows (pinned in tests; the
    battery oracle replays the gram decision over the literal batch
    split).

    Output rows: ``(id_col, kind 'clean'|'quarantine', n_shingles,
    n_contaminated, batch_id)``. Returns the started
    StreamingQuery (availableNow trigger; callers await it)."""
    thresh = float(max_contamination)

    def keys(df):
        return doc_gram_keys(
            df, content_col, id_col, ngram, max_grams_per_doc
        )

    # static side, built once: the distinct eval gram hashes (it
    # needs no ids: ``eval_df`` may have no ``id_col``)
    eval_keys = key_index(
        keys(eval_df.select(F.lit(None).alias(id_col), content_col))
    ).persist()
    eval_keys.count()

    def _decontaminate_batch(batch_df: DataFrame, batch_id: int) -> None:
        hits = F.col("n_hit")
        count_hits(keys(batch_df), F.broadcast(eval_keys)).select(
            F.col("id").alias(id_col),
            F.when(
                hits > thresh * F.greatest(F.col("n_shingles"), F.lit(1)),
                F.lit("quarantine"),
            )
            .otherwise(F.lit("clean"))
            .alias("kind"),
            "n_shingles",
            hits.alias("n_contaminated"),
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
        ).write.mode("append").parquet(out_path)

    writer = stream_docs.writeStream.foreachBatch(_decontaminate_batch)
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    return writer.trigger(availableNow=True).start()
