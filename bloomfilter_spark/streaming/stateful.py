"""Custom stateful streaming sketch operators (applyInPandasWithState).

Two operators on top of the sketch monoids:

- `grouped_sketch_stream`: a running sketch PER KEY, updated every
  micro-batch (update mode, no timeout).  The state store holds one
  serialized sketch blob per key; each trigger folds the key's new Arrow
  batches into it vectorized and emits the refreshed estimate.  This is
  the Spark-native replacement for the reference's "thread-safe shared
  filter you keep inserting into" (/root/reference/README.md:69): state
  lives in the checkpointed state store, not a shared array, so it
  survives restarts and scales per-key across executors.

- `windowed_sketch_stream`: tumbling event-time windows + watermark with
  EXACTLY-ONCE finalized emission (append mode).  Rows fold into their
  window's sketch state; when the watermark passes window_end the state
  times out (GroupStateTimeout.EventTimeTimeout), the operator emits the
  finalized window row once, and drops the state.  Late rows within the
  watermark merge into the still-open window; rows later than the
  watermark are filtered by Spark before the operator ever sees them —
  the standard late-data contract, expressed over sketches.

Both fold each micro-batch through the build engine's own fold
(`pipeline._fold_partition`): the state function's pandas slices are
handed back to Arrow with the value column's type from the stream schema,
so a sketch consumes a streamed column by the same rule as a batch build.

Determinism: commutative sketches (Bloom/HLL/CMS) are bit-identical to a
batch build over the same rows regardless of micro-batch slicing — the
streaming tests pin that.  Compaction sketches (KLL/t-digest) depend on
the batch slicing (documented; their bounds still hold).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_type

from bloomfilter_spark.operators.build import bloom_factory
from bloomfilter_spark.operators.pipeline import _fold_partition
from bloomfilter_spark.sketches import serde


def _fold_state(
    sketch, pdfs: Iterator[pd.DataFrame], value_col: str, value_type: pa.DataType
) -> int:
    """Fold a key's micro-batch slices into `sketch`; returns rows folded.
    The explicit Arrow type keeps a slice whose values are all NULL typed
    (inferred, it would become pa.null(), which no sketch consumes)."""
    schema = pa.schema([(value_col, value_type)])
    batches = (
        pa.RecordBatch.from_pandas(
            pdf[[value_col]], schema=schema, preserve_index=False
        )
        for pdf in pdfs
    )
    return _fold_partition(batches, {"s": sketch}, {"s": value_col}, {})


def _estimate_of(sketch) -> float:
    import inspect

    for attr in ("estimate", "estimated_cardinality"):
        fn = getattr(sketch, attr, None)
        if fn is None:
            continue
        # arity check, NOT try/except TypeError around the call: a bug
        # inside a valid zero-arg estimator must surface, not become NaN
        params = inspect.signature(fn).parameters.values()
        if any(
            p.default is p.empty
            and p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
            for p in params
        ):
            # point-query estimator (Misra-Gries estimate(key)): no scalar
            # summary exists; the blob column carries the state
            continue
        return float(fn())
    return float("nan")


def streaming_first_seen(
    stream_df: DataFrame,
    key_col: str,
    n_expected: int,
    fpp: float = 0.01,
    n_shards: int = 16,
) -> DataFrame:
    """Streaming dedup-on-ingest: emit each key's FIRST occurrence only.

    State = one Bloom filter per hash shard (pmod(xxhash64(key), n_shards)
    — the sharded-membership layout of operators/partitioned.py, applied
    to the state store): per trigger, a shard's rows probe its filter
    vectorized, misses are emitted and inserted.  Zero false negatives ⇒
    a seen key is NEVER emitted twice (suppression is perfect); the trade
    is that ~fpp of genuinely novel keys are wrongly suppressed — the
    standard Bloom-dedup contract for trillion-row ingest where per-key
    exact state (one state-store entry per distinct key) is the expensive
    alternative.  State is O(n_shards × shard filter bytes), independent
    of stream length beyond the sized capacity.

    Within one micro-batch, a shard's duplicate keys are deduped against
    each other too (first row in batch order wins).  NULL keys carry no
    identity to dedup on — they are always emitted, never inserted.  The
    dedup identity is the JVM `CAST(key AS STRING)` form (computed once,
    Catalyst-side), so non-string key types dedup on Spark's canonical
    rendering, not pandas repr (str(None) == "None" would otherwise
    collide a null with the literal string "None").
    """
    new_filter = bloom_factory(max(1024, n_expected // n_shards), fpp)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in stream_df.schema
    )
    state_schema = "blob binary"
    key_str = F.col(key_col).cast("string")
    # nulls get a dedicated shard: xxhash64(NULL) is the seed (never NULL),
    # so a coalesce fallback would silently bucket them with real keys
    sharded = stream_df.withColumn("__key_str", key_str).withColumn(
        "__shard",
        F.when(key_str.isNull(), F.lit(-1)).otherwise(
            F.pmod(F.xxhash64(key_str), F.lit(n_shards))
        ),
    )

    def update(key, pdfs, state):
        if key[0] == -1:
            # null-key shard: rows are always emitted, never inserted —
            # keep NO state (a full-size empty Bloom here would re-write
            # ~m/8 bytes into the checkpoint every trigger for nothing)
            for pdf in pdfs:
                out = pdf.drop(columns=["__shard", "__key_str"])
                if len(out):
                    yield out
            return
        if state.exists:
            sk = serde.deserialize(bytes(state.get[0]))
        else:
            sk = new_filter()
        for pdf in pdfs:
            keys = pdf["__key_str"]
            pdf = pdf.drop(columns=["__shard", "__key_str"])
            null_mask = keys.isna().to_numpy()
            novel = ~sk.contains(keys.fillna(""))
            # first-in-batch wins among same-batch duplicates
            novel &= ~keys.duplicated().to_numpy()
            keep = (novel & ~null_mask) | null_mask
            out = pdf[keep]
            insert = keys[novel & ~null_mask]
            if len(insert):
                sk.update(insert)
            if len(out):
                yield out
        state.update((sk.to_bytes(),))

    return sharded.groupBy("__shard").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def grouped_sketch_stream(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    factory: Callable[[], object],
) -> DataFrame:
    """Running per-key sketch over a stream.

    Output (update mode): one row per key per trigger —
    (key, rows_total, estimate, blob).  `blob` is the key's full running
    sketch, so downstream consumers can merge across keys or persist.
    """
    key_ddl = stream_df.schema[key_col].dataType.simpleString()
    out_schema = (
        f"`{key_col}` {key_ddl}, rows_total long, estimate double, blob binary"
    )
    state_schema = "blob binary, rows long"
    value_type = to_arrow_type(stream_df.schema[value_col].dataType)

    def update(key, pdfs, state):
        if state.exists:
            blob, rows = state.get
            sk = serde.deserialize(bytes(blob))
        else:
            sk, rows = factory(), 0
        rows += _fold_state(sk, pdfs, value_col, value_type)
        blob = sk.to_bytes()  # serialize once: state and output share it
        state.update((blob, rows))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "rows_total": [rows],
                "estimate": [_estimate_of(sk)],
                "blob": [blob],
            }
        )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def windowed_sketch_stream(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    factory: Callable[[], object],
    window_seconds: int = 600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Finalized tumbling-window sketches with watermarked late data.

    Append mode: a window's single output row
    (window_start_s epoch seconds, rows, estimate, blob) is emitted exactly
    once, when the event-time watermark passes the window end (state
    timeout), after which its state is freed.  Late rows inside the
    watermark still merge; later-than-watermark rows are dropped by
    Spark's watermark filter upstream of the operator.

    The group key is the window start as EPOCH SECONDS (a long), not a
    rendered timestamp: unix_timestamp is timezone-unambiguous, so the
    event-time timeout (window_end in epoch ms) is correct under any
    spark.sql.session.timeZone — a tz-naive timestamp key re-parsed with
    .timestamp() would shift by the session offset and either trip the
    'timeout below watermark' check or finalize windows hours late.
    """
    w = F.lit(window_seconds)
    # a NULL event time cannot be assigned a window: drop such rows here
    # (Spark's watermark filter does NOT — the null grouping key would
    # reach update() as NaN and wedge the query at setTimeoutTimestamp)
    with_win = (
        stream_df.filter(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .withColumn(
            "window_start_s",
            (F.floor(F.unix_timestamp(F.col(ts_col)) / w) * w).cast("long"),
        )
    )
    out_schema = (
        "window_start_s long, rows long, estimate double, blob binary"
    )
    state_schema = "blob binary, rows long"
    value_type = to_arrow_type(stream_df.schema[value_col].dataType)

    def update(key, pdfs, state):
        if state.hasTimedOut:
            blob, rows = state.get
            sk = serde.deserialize(bytes(blob))
            state.remove()
            yield pd.DataFrame(
                {
                    "window_start_s": [int(key[0])],
                    "rows": [rows],
                    # emit the stored bytes verbatim — deserialize only
                    # for the estimate, never re-serialize the same sketch
                    "estimate": [_estimate_of(sk)],
                    "blob": [bytes(blob)],
                }
            )
            return
        if state.exists:
            blob, rows = state.get
            sk = serde.deserialize(bytes(blob))
        else:
            sk, rows = factory(), 0
        rows += _fold_state(sk, pdfs, value_col, value_type)
        state.update((sk.to_bytes(), rows))
        # finalize when the watermark passes this window's end (epoch ms)
        state.setTimeoutTimestamp((int(key[0]) + window_seconds) * 1000)
        return
        yield  # pragma: no cover — makes `update` a generator on all paths

    return with_win.groupBy("window_start_s").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def streaming_first_seen_windowed(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    window_sec: int,
    n_expected_per_window: int,
    fpp: float = 1e-6,
    n_shards: int = 8,
    keep_generations: int = 2,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Windowed dedup-on-ingest: emit each key's FIRST occurrence PER
    TUMBLING WINDOW (the daily/hourly-unique shape), at constant memory.

    State = a ring of per-generation Bloom filters per hash shard, where
    generation = floor(epoch(ts)/window_sec): an event probes only its own
    generation's filter, novel (key, generation) firsts are emitted and
    inserted, and generations more than `keep_generations` below the
    newest one seen are EVICTED — so state is O(shards × kept generations
    × filter bytes) forever, instead of one filter that only ever fills
    (streaming_first_seen's infinite-window contract).  Eviction is the
    watermark analog: an event arriving later than `keep_generations`
    windows out of order re-emits rather than consults dropped state —
    the same late-data trade a watermarked aggregation makes.

    Within a micro-batch rows are processed in `order_cols` order (default
    event time), so "first" is deterministic and SQL-replayable:
    ROW_NUMBER() OVER (PARTITION BY key, generation ORDER BY order_cols)
    = 1, which is what lets the catalog entry carry a full value oracle.
    The default fpp 1e-6 makes a false suppression (a first wrongly
    dropped) vanishingly rare — at 10^12-event scale a user raises fpp to
    spend less memory and accepts ~fpp of windowed firsts suppressed,
    the standard Bloom-dedup budget.  NULL keys and NULL timestamps carry
    no (key, window) identity: always emitted, never inserted.
    """
    from bloomfilter_spark.operators.sessions import _epoch_us

    new_filter = bloom_factory(max(1024, n_expected_per_window // n_shards), fpp)
    if order_cols is None:
        order_cols = [ts_col]
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in stream_df.schema
    )
    state_schema = "gens array<long>, blobs array<binary>"
    key_str = F.col(key_col).cast("string")
    # tz-independent: generation = floor(epoch_us / window_us).  FLOOR,
    # not truncating integer DIV — truncation would merge the two windows
    # straddling the 1970 epoch.  Double division is exact at every
    # window boundary for |epoch_us| < 2^53 (±285 years), the identical
    # IEEE computation in any engine replaying the rule.
    with_us = stream_df.withColumn("__us", _epoch_us(stream_df, ts_col))
    gen = F.floor(F.col("__us") / F.lit(float(int(window_sec) * 1_000_000)))
    no_identity = key_str.isNull() | gen.isNull()
    sharded = (
        with_us.withColumn("__key_str", key_str)
        .withColumn("__gen", gen)
        .withColumn(
            "__shard",
            F.when(no_identity, F.lit(-1)).otherwise(
                F.pmod(F.xxhash64(key_str), F.lit(n_shards))
            ),
        )
        .drop("__us")
    )
    helper = ["__key_str", "__gen", "__shard"]

    def update(key, pdfs, state):
        ring = {}
        if state.exists:
            gens, blobs = state.get
            ring = {
                int(g): serde.deserialize(bytes(b))
                for g, b in zip(gens, blobs)
            }
        if key[0] == -1:  # no (key, window) identity: always emit
            for pdf in pdfs:
                if len(pdf):
                    yield pdf.drop(columns=helper)
            state.update(([], []))
            return
        # Arrow hands a group's micro-batch as an ITERATOR of ~10k-row
        # chunks in no particular time order; sorting/deduping/evicting
        # per chunk would break the first-by-order_cols contract (and let
        # eviction fire mid-batch on a generation a later chunk still
        # carries).  Concatenate first: the unit of work is the GROUP's
        # batch, whose size the trigger (not the chunking) bounds.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(
                chunks, ignore_index=True
            )
            pdf = pdf.sort_values(order_cols, kind="stable")
            first = ~pdf.duplicated(["__key_str", "__gen"]).to_numpy()
            emit = np.zeros(len(pdf), dtype=bool)
            for g, idx in pdf.groupby("__gen").indices.items():
                g = int(g)
                cand = idx[first[idx]]
                if len(cand) == 0:
                    continue
                keys = pdf["__key_str"].iloc[cand]
                sk = ring.get(g)
                if sk is None:
                    sk = ring[g] = new_filter()
                    novel = np.ones(len(cand), dtype=bool)
                else:
                    novel = ~sk.contains(keys)
                if novel.any():
                    sk.update(keys[novel])
                    emit[cand[novel]] = True
            if emit.any():
                yield pdf[emit].drop(columns=helper)
            if ring:
                newest = max(ring)
                for g in [g for g in ring if g < newest - keep_generations]:
                    del ring[g]
        items = sorted(ring.items())
        state.update(
            ([g for g, _ in items], [sk.to_bytes() for _, sk in items])
        )

    return sharded.groupBy("__shard").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
