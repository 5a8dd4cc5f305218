"""applyInPandasWithState operators: running per-key sketches (update
mode) and watermarked tumbling-window finalization (append mode)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bloomfilter_spark.operators.build import build_grouped, hll_factory
from bloomfilter_spark.sketches import serde
from bloomfilter_spark.streaming.stateful import (
    grouped_sketch_stream,
    windowed_sketch_stream,
)


@pytest.fixture()
def staged_events(spark, tmp_path):
    """Events split into 3 files → 3 micro-batches (maxFilesPerTrigger=1)."""
    src = str(tmp_path / "ev")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    for i in range(3):
        ev.filter(
            F.pmod(F.xxhash64("event_id"), F.lit(3)) == i
        ).coalesce(1).write.mode("append").parquet(src)
    return src


def _run(spark, src, build_stream, query_name, ckpt, out_mode):
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        build_stream(stream)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode(out_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}").toPandas()


def test_grouped_stream_equals_batch_grouped(spark, staged_events, tmp_path):
    """The per-key running HLL after the last trigger must be register-
    identical to a batch grouped build over the same rows (max-merge is
    order/slicing insensitive)."""
    fac = hll_factory(precision=12)
    out = _run(
        spark,
        staged_events,
        lambda s: grouped_sketch_stream(
            s.select("event_type", "user_id"), "event_type", "user_id", fac
        ),
        "grp_sketches",
        str(tmp_path / "ck1"),
        "update",
    )
    # update mode emits one row per key per trigger — the LAST emission per
    # key (max rows_total) carries the final state
    final = out.loc[out.groupby("event_type")["rows_total"].idxmax()]
    batch = build_grouped(
        spark.read.parquet(staged_events), "event_type", "user_id", fac
    ).toPandas()
    assert set(final["event_type"]) == set(batch["event_type"])
    b_by = batch.set_index("event_type")
    for _, row in final.iterrows():
        s_stream = serde.deserialize(bytes(row["blob"]))
        s_batch = serde.deserialize(bytes(b_by.loc[row["event_type"], "blob"]))
        assert (s_stream.registers == s_batch.registers).all(), row["event_type"]
        assert int(row["rows_total"]) == int(b_by.loc[row["event_type"], "rows"])


def test_grouped_stream_all_null_slice(spark, tmp_path):
    """A key whose micro-batch slice is all NULL folds nothing for that
    trigger but still counts its rows: the slice reaches the fold typed as
    the stream's string column (not Arrow's null type), and the final
    per-key state equals a batch grouped build over the same rows."""
    src = str(tmp_path / "nsrc")
    batches = [
        [("a", "u1"), ("a", "u2"), ("b", "u1")],
        [("a", None), ("a", None), ("b", "u3")],  # key a: all NULL
        [("a", "u4"), ("b", None)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "g string, user string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    fac = hll_factory(precision=12)
    out = _run(
        spark,
        src,
        lambda s: grouped_sketch_stream(s, "g", "user", fac),
        "null_slice",
        str(tmp_path / "ck_null"),
        "update",
    )
    final = out.loc[out.groupby("g")["rows_total"].idxmax()].set_index("g")
    batch = build_grouped(spark.read.parquet(src), "g", "user", fac)
    b_by = batch.toPandas().set_index("g")
    assert sorted(final.index) == ["a", "b"]
    assert final["rows_total"].to_dict() == {"a": 5, "b": 3}
    for g in ("a", "b"):
        s_stream = serde.deserialize(bytes(final.loc[g, "blob"]))
        s_batch = serde.deserialize(bytes(b_by.loc[g, "blob"]))
        assert (s_stream.registers == s_batch.registers).all(), g
    assert round(final.loc["a", "estimate"]) == 3


def test_streaming_first_seen_dedup(spark, tmp_path):
    """Bloom-backed ingest dedup: no key emitted twice (zero false
    negatives ⇒ perfect suppression), ≥ (1 - a few·fpp) of distinct keys
    survive, cross-micro-batch duplicates suppressed."""
    import pandas as pd

    from bloomfilter_spark.streaming.stateful import streaming_first_seen

    src = str(tmp_path / "dsrc")
    # 3 files; file i carries keys [0, 400+200i) → later files REPEAT
    # earlier keys plus add new ones
    for i in range(3):
        n = 400 + 200 * i
        pd_df = pd.DataFrame(
            {"k": [f"key-{j}" for j in range(n)], "payload": range(n)}
        )
        spark.createDataFrame(pd_df).coalesce(1).write.mode("append").parquet(src)

    out = _run(
        spark,
        src,
        lambda s: streaming_first_seen(s, "k", n_expected=2000, fpp=0.01),
        "first_seen",
        str(tmp_path / "ck0"),
        "append",
    )
    assert out["k"].is_unique  # NEVER a duplicate emission
    distinct = 800
    assert len(out) >= (1 - 3 * 0.01) * distinct
    assert len(out) <= distinct
    # the very first batch has an empty filter: its 400 keys all emit
    first_file_keys = {f"key-{j}" for j in range(400)}
    assert first_file_keys <= set(out["k"])


def test_windowed_stream_finalizes_on_watermark(spark, tmp_path):
    """Windows emit exactly once when the watermark passes window_end;
    in-watermark late rows merge; the still-open tail window stays
    unemitted (append-mode contract)."""
    import pandas as pd

    src = str(tmp_path / "wsrc")
    base = pd.Timestamp("2026-01-01 00:00:00")

    def mk(rows):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "ts": [base + pd.Timedelta(seconds=s) for s, _ in rows],
                    "user_id": [u for _, u in rows],
                }
            )
        )

    # file 1: windows [0,600) and [600,1200)
    mk([(10, "a"), (20, "b"), (700, "c")]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # file 2: a LATE row for window 0 (within the 10-min watermark of max
    # event 700s) plus data far ahead that pushes the watermark past both
    # early windows (3600-600 > 1200)
    mk([(30, "d"), (3600, "z1"), (3620, "z2")]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    out = _run(
        spark,
        src,
        lambda s: windowed_sketch_stream(
            s, "ts", "user_id", hll_factory(precision=12),
            window_seconds=600, watermark="10 minutes",
        ),
        "win_sketches",
        str(tmp_path / "ck2"),
        "append",
    )
    got = {int(r["window_start_s"]): r for _, r in out.iterrows()}
    epoch0 = int(base.timestamp())
    w0 = epoch0
    w1 = epoch0 + 600
    w_tail = epoch0 + 3600
    assert w0 in got and w1 in got, sorted(got)
    assert w_tail not in got  # still open — never finalized
    assert int(got[w0]["rows"]) == 3  # a, b + late d merged
    assert int(got[w1]["rows"]) == 1
    assert abs(got[w0]["estimate"] - 3) < 0.2
    # exactly-once: one row per finalized window
    assert len(out) == 2


def test_streaming_topk_equals_batch_exact(spark, staged_events, tmp_path):
    """Misra-Gries through the streaming path: below capacity the final
    blob's stored counts are EXACT, so the streamed top-10 must equal the
    exact groupBy top-10 (count desc, key asc) — stream ≡ batch ≡ exact.
    Also pins _estimate_of's point-query fallback: MG has no zero-arg
    scalar summary, so the estimate column is NaN, never a crash."""
    import math

    from bloomfilter_spark.operators.build import freqitems_factory

    out = _run(
        spark,
        staged_events,
        lambda s: grouped_sketch_stream(
            s.select(F.lit("all").alias("g"), "user_id"),
            "g",
            "user_id",
            freqitems_factory(4096),
        ),
        "topk_stream",
        str(tmp_path / "ck_topk"),
        "update",
    )
    assert all(math.isnan(v) for v in out["estimate"])  # MG: no scalar summary
    final = out.loc[out["rows_total"].idxmax()]
    sk = serde.deserialize(bytes(final["blob"]))
    assert sk.error_bound() == 0  # below capacity: every count exact
    got = sk.topk(10)
    exact = (
        spark.read.parquet(staged_events)
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .count()
        .orderBy(F.col("count").desc(), F.col("user_id").asc())
        .limit(10)
        .collect()
    )
    assert [(int(k), int(c)) for k, c in got] == [
        (int(r["user_id"]), int(r["count"])) for r in exact
    ]


def test_streaming_kll_bound_and_exact_counts(spark, staged_events, tmp_path):
    """KLL through the streaming path: fold order differs from a batch
    build (compaction boundaries shift), so state identity is NOT the
    contract — the published rank-error bound and exact folded row counts
    are.  Median rank must sit within rank_error (+tie slack) of 0.5 for
    every key, and rows_total must equal the exact per-key COUNT(*)."""
    from bloomfilter_spark.operators.build import kll_factory

    out = _run(
        spark,
        staged_events,
        lambda s: grouped_sketch_stream(
            s.select("event_type", "value"), "event_type", "value",
            kll_factory(k=200),
        ),
        "kll_stream",
        str(tmp_path / "ck_kll"),
        "update",
    )
    final = out.loc[out.groupby("event_type")["rows_total"].idxmax()]
    ev = spark.read.parquet(staged_events)
    exact = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile("value", F.lit(0.5)).alias("med"),
        )
        .toPandas()
        .set_index("event_type")
    )
    assert set(final["event_type"]) == set(exact.index)
    for _, r in final.iterrows():
        sk = serde.deserialize(bytes(r["blob"]))
        med = float(exact.loc[r["event_type"], "med"])
        assert abs(sk.rank(med) - 0.5) <= sk.rank_error() + 0.015, r["event_type"]
        assert int(r["rows_total"]) == int(exact.loc[r["event_type"], "n"])


def _stage_time_ordered(spark, df, src, n=3):
    from pyspark.sql import Window as W

    routed = df.withColumn(
        "__r",
        F.ntile(n).over(W.orderBy(F.col("ts").asc_nulls_first(), "event_id"))
        - 1,
    ).localCheckpoint(eager=False)  # one global sort, not one per write
    for i in range(n):
        routed.filter(F.col("__r") == i).drop("__r").coalesce(1).write.mode(
            "append"
        ).parquet(src)


def test_windowed_first_seen_equals_sql_replay(spark, tmp_path):
    """Emitted set == ROW_NUMBER()=1 per (key, generation window), with
    NULL-key/NULL-ts rows always passed through."""
    from bloomfilter_spark.streaming.stateful import streaming_first_seen_windowed

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "src")
    _stage_time_ordered(spark, ev, src)
    out = _run(
        spark,
        src,
        lambda s: streaming_first_seen_windowed(
            s, "user_id", "ts", 86400, 4096, order_cols=["ts", "event_id"]
        ),
        "win_dedup",
        str(tmp_path / "ck"),
        "append",
    )
    from pyspark.sql import Window as W

    us = F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts"),
    )
    keyed = ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    # batch replay: first row per (user, day) by (ts, event_id) — FLOOR
    # division, matching the operator (truncation diverges pre-1970)
    g = F.floor(us / F.lit(86_400_000_000.0))
    w = W.partitionBy("user_id", g).orderBy("ts", "event_id")
    firsts = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id")
        .toPandas()
    )
    passthrough = ev.filter(
        F.col("user_id").isNull() | F.col("ts").isNull()
    ).select("event_id").toPandas()
    want_ids = set(firsts.event_id) | set(passthrough.event_id)
    assert set(out.event_id) == want_ids
    assert len(out) == len(want_ids)  # no duplicate emissions


def test_windowed_first_seen_evicts_and_reemits_stragglers(spark, tmp_path):
    """State is a bounded generation ring: a straggler older than
    keep_generations windows arrives after its filter was evicted and is
    re-emitted — the watermark late-data contract, and the proof eviction
    actually fires (an infinite-window filter would suppress it)."""
    import datetime as dt

    from bloomfilter_spark.streaming.stateful import streaming_first_seen_windowed

    def t(day, sec=0):
        return dt.datetime(2024, 1, day) + dt.timedelta(seconds=sec)

    rows = [(1, t(1), 7)]  # batch 1: day 1, user 7 -> emit, gen recorded
    rows2 = [(2, t(10), 7), (3, t(11), 7)]  # batch 2: far future gens
    rows3 = [(4, t(1, 60), 7)]  # batch 3: straggler back on day 1
    src = str(tmp_path / "src")
    schema = "event_id long, ts timestamp_ntz, user_id long"
    for chunk in (rows, rows2, rows3):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    out = _run(
        spark,
        src,
        lambda s: streaming_first_seen_windowed(
            s, "user_id", "ts", 86400, 4096,
            keep_generations=2, order_cols=["ts", "event_id"],
        ),
        "win_evict",
        str(tmp_path / "ck"),
        "append",
    )
    # event 4 duplicates (user 7, day 1) which WAS emitted as event 1 —
    # but day 1's filter is > keep_generations behind day 11, so it was
    # evicted and the straggler re-emits.  Events 1, 2, 3 are firsts.
    assert sorted(out.event_id) == [1, 2, 3, 4]


def test_windowed_first_seen_multi_chunk_groups(spark, tmp_path):
    """Arrow hands big groups to the state function as MULTIPLE chunks;
    first-per-window must hold across chunk boundaries (sort/dedup/evict
    run per group-batch, not per chunk).  Forced here with a tiny Arrow
    batch size so every shard's micro-batch arrives as many chunks."""
    from bloomfilter_spark.streaming.stateful import streaming_first_seen_windowed

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    try:
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        src = str(tmp_path / "src")
        _stage_time_ordered(spark, ev, src)
        out = _run(
            spark,
            src,
            lambda s: streaming_first_seen_windowed(
                s, "user_id", "ts", 86400, 4096,
                n_shards=2,  # few shards -> large per-group batches
                order_cols=["ts", "event_id"],
            ),
            "win_chunks",
            str(tmp_path / "ck"),
            "append",
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    from pyspark.sql import Window as W

    us = F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts"),
    )
    keyed = ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    g = F.floor(us / F.lit(86_400_000_000.0))
    w = W.partitionBy("user_id", g).orderBy("ts", "event_id")
    firsts = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id")
        .toPandas()
    )
    passthrough = ev.filter(
        F.col("user_id").isNull() | F.col("ts").isNull()
    ).select("event_id").toPandas()
    want_ids = set(firsts.event_id) | set(passthrough.event_id)
    assert set(out.event_id) == want_ids and len(out) == len(want_ids)


def test_windowed_stream_drops_null_event_times(spark, tmp_path):
    """A NULL event time cannot be windowed: such rows are dropped BEFORE
    grouping — without the guard the null grouping key reaches update()
    as NaN and setTimeoutTimestamp wedges the whole query."""
    import pandas as pd

    src = str(tmp_path / "wnull_src")
    base = pd.Timestamp("2026-01-01 00:00:00")
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": [base, base + pd.Timedelta(seconds=20), pd.NaT,
                       base + pd.Timedelta(seconds=3600)],
                "user_id": ["a", "b", "null_ts_row", "z"],
            }
        )
    )
    df.coalesce(1).write.mode("append").parquet(src)

    out = _run(
        spark,
        src,
        lambda s: windowed_sketch_stream(
            s, "ts", "user_id", hll_factory(precision=12),
            window_seconds=600, watermark="10 minutes",
        ),
        "win_null_ts",
        str(tmp_path / "ck_null"),
        "append",
    )
    got = {int(r["window_start_s"]): r for _, r in out.iterrows()}
    epoch0 = int(base.timestamp())
    assert epoch0 in got
    assert int(got[epoch0]["rows"]) == 2  # a, b — the NULL-ts row dropped
