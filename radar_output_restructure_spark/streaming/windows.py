"""Streaming windowed aggregation + custom stateful operator (SURVEY ST2-ST4
and the beyond-reference streaming surface).

The reference's only "window" is the hourly path time-bin (G2) with no
watermark (ST3). These operators add what a production stream over the same
data needs:

* hourly_event_counts — event-time tumbling window + watermark: the
  watermarked variant of the G2 bin for analytics sinks (append mode emits
  a bin once the watermark passes it; the restructure file sink stays
  unwatermarked by design).
* session_windows — gap-based sessionization via applyInPandasWithState:
  the custom-stateful-operator pattern (state = open session per user,
  emitted when `gap` passes without events or at timeout).
* streaming_simhash_near_dup_pairs / ..._wide — near-duplicate detection
  per (band, bv) bucket. Banding comes from the batch near-dup core
  (operators/dedup_scale._banded); one state function serves both
  fingerprint widths; a batch frame runs the batch self-pair join.
* streaming_dedup, stream_interval_join, streaming_funnel_conversions —
  bounded-state dedup, attribution join and live funnel.

Every operator works on batch DataFrames too (window(), a groupBy-sort or
the batch operator in batch mode), so tests validate semantics without a
long-running query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators.dedup_scale import (
    WIDE_BANDS,
    WIDE_WORD_BITS,
    WIDE_WORDS,
    _banded,
    _self_pairs,
)

#: two's-complement popcount mask for signed 64-bit fingerprints
_U64 = (1 << 64) - 1


def hourly_event_counts(
    df: DataFrame,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("user_id",),
    watermark: str = "2 hours",
    window_len: str = "1 hour",
) -> DataFrame:
    """Tumbling event-time window counts; watermark bounds state/late data.

    On a stream: append-mode emits each (key, window) exactly once after the
    watermark passes window end. On a batch frame: plain window aggregation
    (withWatermark is a no-op); identical results for on-time data.
    """
    stream = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    return (
        stream.groupBy(*keys, F.window(F.col(ts_col), window_len).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *keys,
            F.col("win.start").alias("bin_start"),
            F.col("win.end").alias("bin_end"),
            "n_events",
        )
    )


SESSION_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)
_STATE_SCHEMA = "start_us bigint, end_us bigint, n bigint"


def _session_fn(gap_s: float):
    """Builds the applyInPandasWithState function: one open session per key."""

    def fn(key, pdfs, state):
        import pandas as pd

        gap_us = int(gap_s * 1_000_000)
        (user_id,) = key
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                }
            )
            return
        ts = pd.concat([p["ts"] for p in pdfs]).sort_values()
        us = (ts.astype("int64") // 1000).tolist()
        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us, end_us, n = us[0], us[0], 0
        closed = []
        for t in us:
            if t - end_us > gap_us:
                closed.append((start_us, end_us, n))
                start_us, n = t, 0
            # a LATE cross-batch event older than the open session's start
            # is absorbed into it (documented divergence from batch, which
            # sorts globally and may assign it its own session); extending
            # start keeps (start, end, n) a faithful envelope of the
            # absorbed events instead of silently misreporting the start
            start_us = min(start_us, t)
            end_us = max(end_us, t)
            n += 1
        state.update((start_us, end_us, n))
        state.setTimeoutDuration(int(gap_s * 1000))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _e, _n in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _s, e, _n in closed],
                    "n_events": [n for _s, _e, n in closed],
                }
            )

    return fn


def session_windows(
    df: DataFrame,
    gap_s: float = 1800.0,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessions per user.

    Streaming: applyInPandasWithState (state = the open session; processing-
    time timeout flushes idle sessions). Batch: the equivalent lag/cumsum
    window plan — same output for the same IN-ORDER input, used by tests
    and oracles. Documented divergence for LATE (cross-micro-batch
    out-of-order) events: streaming absorbs them into the key's open
    session (extending session_start downward), while batch sorts globally
    and may place them in their own earlier session — the same
    watermark-delayed-sorter caveat as streaming_funnel_conversions.
    """
    # NULL event times are meaningless for gap sessions and every mode
    # disagreed on them (batch new-session-per-row, oracle absorb-into-
    # last, streaming NaT -> int64 min garbage): drop them uniformly
    df = df.filter(F.col(ts_col).isNotNull())
    if df.isStreaming:
        from pyspark.sql.streaming.state import GroupStateTimeout

        key_type = df.schema[key_col].dataType.simpleString()
        return (
            df.select(F.col(key_col).alias("user_id"), F.col(ts_col).alias("ts"))
            .groupBy("user_id")
            .applyInPandasWithState(
                _session_fn(gap_s),
                # key type mirrors the input (a hard-coded bigint would
                # crash string-keyed streams at the Arrow boundary)
                outputStructType=SESSION_SCHEMA.replace(
                    "user_id bigint", f"user_id {key_type}"
                ),
                stateStructType=_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
            )
        )
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col)
    gap: Column = F.unix_micros(F.col(ts_col)) - F.unix_micros(
        F.lag(ts_col).over(w)
    )
    new_session = (gap.isNull() | (gap > int(gap_s * 1_000_000))).cast("int")
    sess_id = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("__sess", sess_id)
        .groupBy(F.col(key_col).alias("user_id"), F.col("__sess"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("__sess")
    )


def streaming_dedup(
    df: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once-per-key stream dedup with BOUNDED state:
    `dropDuplicatesWithinWatermark` keeps a key's fingerprint only until the
    watermark passes it, so state size is O(keys per watermark window), not
    O(all keys ever) — the requirement for an unbounded 100-TB/day stream.
    The reference's batch equivalent is the offset ledger (a re-delivered
    source file is dropped whole); this is the per-RECORD guard a streaming
    source (Kafka direct, file stream with at-least-once delivery) needs.

    Works on batch frames too (falls back to dropDuplicates — batch has no
    watermark semantics), so tests validate both modes.
    """
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    # deterministic batch fallback: dropDuplicates keeps an ARBITRARY row
    # per key (partitioning-dependent), so batch/stream parity tests would
    # be nondeterministic for re-delivered rows with differing payloads —
    # keep the earliest arrival (min ts; full-row tiebreak) like the
    # streaming first-wins semantics
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in df.columns if c not in keys
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: tuple[str, ...] = ("user_id",),
    left_ts: str = "ts",
    right_ts: str = "anchor_ts",
    window_s: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream attribution join: left rows matched to right (anchor)
    rows of the same keys whose timestamp starts a half-open window
    containing the left timestamp — `right_ts <= left_ts < right_ts +
    window_s`. The streaming face of the batch bucketized
    `operators/timeseries.interval_join`.

    On STREAMS both sides carry watermarks and the event-time range
    condition is exactly what Structured Streaming requires to bound
    stream-stream join state: rows age out of the join buffer once the
    watermark passes `right_ts + window_s` (state is O(events per watermark
    horizon), never unbounded). On BATCH frames the identical plan is a
    plain non-equi join, so tests validate semantics without a long-running
    query — the same dual-mode contract as every operator in this module.

    Columns from `right` must not collide with `left` (alias the anchor
    frame first); both input frames keep their names in the output.
    """
    l_frame = (
        left.withWatermark(left_ts, watermark) if left.isStreaming else left
    )
    r_frame = (
        right.withWatermark(right_ts, watermark) if right.isStreaming else right
    )
    cond = (
        (F.col(left_ts) >= F.col(right_ts))
        & (
            F.col(left_ts)
            < F.col(right_ts) + F.expr(f"INTERVAL {int(window_s)} SECONDS")
        )
    )
    for k in keys:
        cond = cond & (l_frame[k] == r_frame[k])
    return l_frame.join(r_frame, cond).drop(*[r_frame[k] for k in keys])


def _ttl_timeout(state_ttl_s: float | None) -> str:
    """applyInPandasWithState timeout for an optional state TTL: idle keys
    expire after `state_ttl_s` of processing time, or never."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if state_ttl_s is None:
        return GroupStateTimeout.NoTimeout
    return GroupStateTimeout.ProcessingTimeTimeout


NEAR_DUP_PAIR_SCHEMA = "doc_a bigint, doc_b bigint, hamming int"


def _bucket_state_fn(words: list[str], max_hamming: int, state_ttl_s):
    """The applyInPandasWithState function of both streaming near-dup
    detectors: per (band, bv) bucket, the state holds the docs seen and
    one array per fingerprint word. Each arrival popcount-verifies against
    its bucket's state only, never the whole history."""

    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        seen = list(zip(*state.get)) if state.exists else []
        out = []
        for pdf in pdfs:
            # arrival order within the batch: doc id ascending for
            # determinism (micro-batch arrival has no inherent order)
            cols = [pdf[c].tolist() for c in ("doc", *words)]
            for doc, *fp in sorted(zip(*cols)):
                for seen_doc, *seen_fp in seen:
                    # mask to 64 bits: Python ints are signed-unbounded, so
                    # -256 ^ 0 popcounts the magnitude (1 bit) while the
                    # batch verify's bit_count sees the two's-complement
                    # pattern (56 bits)
                    h = sum(
                        ((x ^ y) & _U64).bit_count()
                        for x, y in zip(fp, seen_fp)
                    )
                    if h <= max_hamming and seen_doc != doc:
                        out.append((min(seen_doc, doc), max(seen_doc, doc), h))
                seen.append((doc, *fp))
        if seen:
            state.update(tuple(list(c) for c in zip(*seen)))
        if state_ttl_s is not None:
            state.setTimeoutDuration(int(state_ttl_s * 1000))
        if out:
            yield pd.DataFrame(out, columns=["doc_a", "doc_b", "hamming"])

    return fn


def _streaming_near_dup_pairs(
    df: DataFrame,
    words: list[str],
    word_bits: int,
    bands: int,
    max_hamming: int,
    state_ttl_s: float | None,
) -> DataFrame:
    """Both modes of the streaming near-dup detectors over (doc, *words).
    Batch frames run the batch operators' self-pair join; streams band with
    the same `_banded` and keep per-bucket state. One banding definition
    for both modes is what keeps them in parity."""
    if not df.isStreaming:
        return _self_pairs(df, "doc", words, word_bits, bands, max_hamming)
    banded = _banded(
        df.select("doc", *words), words, word_bits, bands, max_hamming
    )
    return banded.groupBy("band", "bv").applyInPandasWithState(
        _bucket_state_fn(words, max_hamming, state_ttl_s),
        outputStructType=NEAR_DUP_PAIR_SCHEMA,
        stateStructType=", ".join(
            f"{c} array<bigint>" for c in ("docs", *words)
        ),
        outputMode="append",
        timeoutConf=_ttl_timeout(state_ttl_s),
    )


def streaming_simhash_near_dup_pairs(
    df: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    state_ttl_s: float | None = None,
) -> DataFrame:
    """Streaming near-duplicate detection over (doc, simhash) fingerprints:
    emits (doc_a, doc_b, hamming) the moment the SECOND member of a
    qualifying pair arrives — the streaming face of the batch
    `operators/dedup_scale.simhash_near_dup_pairs` (same banded-bucket
    candidates, same exact pigeonhole recall: bands > max_hamming means
    every pair within `max_hamming` bits collides in some band).

    State is per (band, band_value) bucket: the fingerprints seen in that
    bucket. A new arrival popcount-verifies against its bucket's state only
    — never the whole history — so per-bucket work tracks bucket occupancy
    exactly like the batch join. `state_ttl_s` bounds state for unbounded
    streams (processing-time timeout drops idle buckets; dedup guarantees
    then hold within the TTL horizon — the same trade dropDuplicates makes
    with its watermark). A pair colliding in several bands emits once per
    colliding band — kept this way so per-bucket state stays independent
    (cross-bucket coordination would serialize the operator); wrap the
    sink with `foreach_batch_pair_dedup` for exact batch parity (all of a
    pair's emissions land in one micro-batch, see that helper).

    On a BATCH frame: the batch operator's banded self-join itself
    (`dedup_scale._self_pairs`), so tests compare modes directly.
    """
    return _streaming_near_dup_pairs(
        df, ["simhash"], bits, bands, max_hamming, state_ttl_s
    )


def streaming_simhash_near_dup_pairs_wide(
    df: DataFrame,
    max_hamming: int = 3,
    state_ttl_s: float | None = None,
) -> DataFrame:
    """Streaming face of the WIDE (64-bit, 4x16-bit-band) simhash near-dup
    — the scale geometry of `operators/dedup_scale.simhash_near_dup_pairs_
    wide` with the same per-bucket state and batch mode as
    `streaming_simhash_near_dup_pairs`. Input: (doc, fp_lo, fp_hi).

    65,536 buckets per band means per-bucket state stays tiny even on
    unbounded streams — the state-size argument for the wide geometry is
    STRONGER in streaming, where the 32-bit variant's 256-per-band buckets
    would accumulate every fingerprint the stream ever carries into 1,024
    lists. Hamming verifies as popcount(lo xor lo') + popcount(hi xor hi').

    Cross-band multiplicity (shared with the 32-bit streaming variant): a
    pair whose fingerprints collide in several bands is emitted once PER
    colliding band — up to 4x — because per-band state partitions cannot
    see each other's emissions and `flatMapGroupsWithState` output cannot
    be re-aggregated with `.distinct()` in append mode. The batch path
    dedups cross-band hits. Exact batch parity is restored by wrapping the
    sink with `foreach_batch_pair_dedup` below: every duplicate emission
    of a pair lands in the SAME micro-batch (all colliding band groups
    emit at the arrival of the pair's LATER doc), so batch-local
    dropDuplicates is sufficient — no cross-batch dedup state needed.
    """
    return _streaming_near_dup_pairs(
        df, WIDE_WORDS, WIDE_WORD_BITS, WIDE_BANDS, max_hamming, state_ttl_s
    )


def foreach_batch_pair_dedup(sink):
    """Wrap a foreachBatch sink so each micro-batch's near-dup pairs are
    deduped on (doc_a, doc_b) before the sink sees them — closing the
    cross-band multiplicity divergence of the streaming simhash detectors
    (r6-verdict item 5) WITHOUT cross-batch state:

    every duplicate emission of a pair occurs in the SAME micro-batch.
    Per-band state appends a doc exactly once (doc ids are unique in the
    fingerprint stream), so band groups can only emit pair (a, b) in the
    micro-batch where the later of a/b arrives — all colliding bands
    process that same batch. Batch-local dropDuplicates is therefore
    EXACTLY the batch plan's cross-band distinct, not an approximation.

    Usage::

        q = (streaming_simhash_near_dup_pairs_wide(fp_stream)
             .writeStream
             .foreachBatch(foreach_batch_pair_dedup(
                 lambda df, epoch: df.write.mode("append").parquet(out)))
             .option("checkpointLocation", ck)
             .start())

    The wrapped frame keeps deterministic content per epoch (foreachBatch
    re-runs on recovery replay the same batch), so append-mode sinks stay
    exactly-once under the usual idempotent-write discipline.
    """

    def _fb(batch_df: DataFrame, batch_id: int) -> None:
        sink(batch_df.dropDuplicates(["doc_a", "doc_b"]), batch_id)

    return _fb


_FUNNEL_STATE_SCHEMA = "step int, last_us bigint, lags array<bigint>"


def _funnel_out_schema(n_steps: int, key_type: str = "bigint") -> str:
    # key type mirrors the input's user column: a hard-coded bigint would
    # make string-keyed funnels work in batch but crash the streaming
    # Arrow conversion (the dual-mode contract must hold for any key type)
    cols = [f"user_id {key_type}", "converted_at timestamp"] + [
        f"lag{i}_us bigint" for i in range(1, n_steps)
    ]
    # joined as a list so a single-step funnel (no lag columns) yields
    # valid DDL instead of a trailing comma that ParseException rejects
    return ", ".join(cols)


def streaming_funnel_conversions(
    df: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    state_ttl_s: float | None = 86_400.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(user_id, converted_at, lag1_us..): one row per user at their FIRST
    completion of the strict step sequence — the live face of
    `operators/funnel.funnel`, emitting a conversion the micro-batch it
    happens instead of recounting the corpus nightly.

    Streaming: applyInPandasWithState keyed on user. State is three
    scalars per mid-funnel user — (steps matched so far, timestamp of the
    last matched step, accumulated lags) — advanced by a ts-sorted scan of
    each micro-batch; since events arrive time-ordered across batches, the
    first in-order match IS the minimum qualifying timestamp, so the
    greedy scan reproduces the batch operator's min-after-min exactly.
    Completed users keep a tombstone state (step == len(steps)) so later
    events cannot re-convert them; the processing-time TTL expires both
    tombstones and stalled funnels, which bounds state at O(users active
    per TTL window) — the requirement on an unbounded stream. Late
    (out-of-order) events are a documented divergence from batch: a
    production deployment fronts this with a watermark-delayed sorter.

    Batch: the same per-user sequential-min plan as `funnel`, emitted per
    user instead of aggregated — identical output for in-order data, which
    is what the parity test asserts across a micro-batch split.
    """
    n = len(steps)
    out_schema = _funnel_out_schema(
        n, key_type=df.schema[user_col].dataType.simpleString()
    )
    # NULL users are not funnel subjects in either mode (the oracle's
    # JOIN USING chain never matches NULL; operators/funnel shares the
    # same rule), and NULL event times cannot order a strict sequence:
    # the batch min-chain ignores them implicitly, but the streaming
    # path's NaT would become int64-min garbage microseconds (the same
    # trap session_windows pins) — filter both uniformly
    df = df.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    if df.isStreaming:
        import pandas as pd

        def fn(key, pdfs, state):
            (user_id,) = key
            if state.hasTimedOut:
                state.remove()
                return
            ev = pd.concat(list(pdfs))
            ev = ev.sort_values(ts_col, kind="stable")
            if state.exists:
                step, last_us, lags = state.get
                lags = list(lags)
            else:
                step, last_us, lags = 0, -1, []
            rows = None
            if step < n:
                ts_us = ev[ts_col].astype("int64") // 1000
                types = ev[type_col].to_list()
                for t_us, t_type in zip(ts_us.to_list(), types):
                    if step >= n:
                        break
                    # positional match, NOT a type->index dict: with
                    # repeated step types the dict keeps only the LAST
                    # index and the stream never advances past step 0
                    if t_type != steps[step]:
                        continue
                    if step > 0 and t_us <= last_us:
                        continue
                    if step > 0:
                        lags.append(t_us - last_us)
                    last_us = t_us
                    step += 1
                if step == n:
                    rows = pd.DataFrame(
                        {
                            "user_id": [user_id],
                            "converted_at": [pd.Timestamp(last_us, unit="us")],
                            **{
                                f"lag{i}_us": [lags[i - 1]]
                                for i in range(1, n)
                            },
                        }
                    )
            state.update((step, last_us, lags))
            if state_ttl_s is not None:
                state.setTimeoutDuration(int(state_ttl_s * 1000))
            if rows is not None:
                yield rows

        return (
            df.select(
                F.col(user_col).alias("user_id"),
                F.col(ts_col).alias(ts_col),
                F.col(type_col).alias(type_col),
            )
            .groupBy("user_id")
            .applyInPandasWithState(
                fn,
                outputStructType=out_schema,
                stateStructType=_FUNNEL_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=_ttl_timeout(state_ttl_s),
            )
        )

    from radar_output_restructure_spark.operators.funnel import (
        per_user_step_times,
    )

    per_user = per_user_step_times(
        df, steps, user_col, ts_col, type_col
    ).withColumnRenamed(user_col, "user_id")
    lag_cols = [
        (F.unix_micros(F.col(f"t{i}")) - F.unix_micros(F.col(f"t{i-1}")))
        .cast("bigint")
        .alias(f"lag{i}_us")
        for i in range(1, n)
    ]
    return per_user.filter(F.col(f"t{n-1}").isNotNull()).select(
        "user_id", F.col(f"t{n-1}").alias("converted_at"), *lag_cols
    )
