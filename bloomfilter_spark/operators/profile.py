"""One-scan table profiling — `DESCRIBE` for a 100 TB table at sketch cost.

`profile_table` computes, for every supported column, in ONE pass over the
data (a single mapInArrow scan through the multi-sketch pipeline of
operators/pipeline.py, merged by its bounded-fan-in tree):

  exact:  row count, null count, min/max, mean/std (MomentsSketch),
          string length stats + lexicographic min/max (StringStatsSketch)
  sketch: distinct count (HLL, ±1.04/√m), quantiles (KLL, rank error
          ≤ ~1.7%/k·200), top-k values (Misra-Gries, underestimate-only)

This is the profiling shape every large-scale data pipeline runs daily:
the naive equivalent (`COUNT(DISTINCT c)` + `percentile(c, ...)` + top-k
per column) is one full shuffle PER COLUMN at 100 TB; this plan is one
scan, no shuffle (partials reduce through the fan-in tree — the shuffled
relation is P partition rows of sketch blobs, corpus-size-independent).

Scale notes:
  - every sketch on the same column shares one murmur3 pass (hash_cache
    in pipeline._fold_partition);
  - profiling N columns widens the scan's ReadSchema to those N columns
    but still reads the parquet ONCE (column pruning keeps unprofiled
    columns unread);
  - the summary is O(n_columns) rows on the driver — never data-sized.

Sketch parameters are per-call knobs; at the defaults a 20-column profile
ships ~20×(16 KB HLL + ~3 KB KLL + ~8 KB top-k + <1 KB exact) per
partition partial — well under the fan-in tree's design envelope.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F, types as T

from bloomfilter_spark.operators.build import (
    freqitems_factory,
    hll_factory,
    kll_factory,
)
from bloomfilter_spark.operators.pipeline import build_multi
from bloomfilter_spark.sketches.moments import MomentsSketch, StringStatsSketch
from bloomfilter_spark.sketches.sample import SampleSketch

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType)


def _classify(dtype: T.DataType) -> str | None:
    """-> 'int' | 'float' | 'string' | 'binary' | 'bool' | 'timestamp'
    | 'date' | None (unsupported)."""
    if isinstance(dtype, _INT_TYPES):
        return "int"
    if isinstance(dtype, _FLOAT_TYPES):
        return "float"
    if isinstance(dtype, T.DecimalType):
        return "float"
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.BinaryType):
        return "binary"
    if isinstance(dtype, T.BooleanType):
        return "bool"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dtype, T.DateType):
        return "date"
    return None


def _projection(col: str, kind: str):
    """Cast a column to the representation the sketch fold consumes.
    Timestamps become epoch MICROSECONDS, dates epoch DAYS — integer keys,
    so HLL distinct / KLL quantiles / min-max all apply; the caller maps
    the numbers back to time if it wants display values."""
    c = F.col(col)
    if kind == "bool":
        return c.cast("long").alias(col)
    if kind == "timestamp":
        # NTZ casts through TimestampType (session-tz interpretation —
        # deterministic within a run; the profile reports epoch micros)
        return F.unix_micros(c.cast("timestamp")).alias(col)
    if kind == "date":
        return F.unix_date(c).alias(col)
    if kind == "float":
        return c.cast("double").alias(col)
    return c.alias(col)


def profile_sketches(
    df: DataFrame,
    columns: list[str] | None = None,
    hll_precision: int = 14,
    kll_k: int = 200,
    freq_capacity: int = 256,
    sample_k: int = 8,
    fanin: int | None = None,
) -> tuple[dict[str, dict[str, object]], int, dict[str, str]]:
    """Build the per-column profile sketches in one scan.

    Returns (per_col, n_rows, kinds):
      per_col[col] = {'moments'|'strstats': exact stats sketch,
                      'hll': HLL (absent for float columns — hashing a
                             continuous double as a distinct key is a bug
                             trap, which functions/hashing.hash_any refuses),
                      'kll': KLL (numeric-representable columns),
                      'freq': Misra-Gries (int/string/bool columns),
                      'sample': deterministic k-min-md5 example values
                                (int/string/bool columns; sample_k=0
                                disables)}
      n_rows  = exact total row count (from the same scan, not a second one)
      kinds   = column -> classification string
    """
    kinds: dict[str, str] = {}
    for f_ in df.schema.fields:
        k = _classify(f_.dataType)
        if columns is not None:
            if f_.name not in columns:
                continue
            if k is None:
                raise ValueError(
                    f"profile: column {f_.name!r} has unsupported type "
                    f"{f_.dataType.simpleString()}"
                )
        if k is not None:
            kinds[f_.name] = k
    if columns is not None:
        missing = [c for c in columns if c not in kinds]
        if missing:
            raise ValueError(f"profile: columns not in DataFrame: {missing}")
        kinds = {c: kinds[c] for c in columns}  # caller's order
    if not kinds:
        raise ValueError("profile: no supported columns to profile")

    # distinct counting on string/binary columns: hashing multi-hundred-byte
    # values in the Python fold is the scan's bottleneck (murmur3 over a 300 B
    # text column measured ~80x slower than the int64 fast path), so the
    # 64-bit pre-hash runs JVM-side in whole-stage codegen and the HLL folds
    # 8-byte keys.  distinct(xxhash64(v)) ≡ distinct(v) up to 2^-64 collision
    # mass — far below the HLL's own ±1.04/√m.  NULLs must stay NULL
    # (xxhash64(NULL) is the seed hash, which would count as a value).
    proj_cols = [_projection(c, k) for c, k in kinds.items()]
    hash_col: dict[str, str] = {}
    sample_col: dict[str, str] = {}
    for c, k in kinds.items():
        if k in ("string", "binary"):
            h = f"__pfh_{c}"
            if h in kinds:
                raise ValueError(f"profile: column name {h!r} is reserved")
            hash_col[c] = h
            proj_cols.append(
                F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c))).alias(h)
            )
        if sample_k and k in ("int", "string", "bool"):
            # example-value sample: md5 content hash computed JVM-side
            # (sketches/sample.py), value carried as its canonical string
            s = f"__pfs_{c}"
            if s in kinds:
                raise ValueError(f"profile: column name {s!r} is reserved")
            sample_col[c] = s
            v = F.col(c).cast("string")
            proj_cols.append(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(
                        F.md5(v.cast("binary")).alias("h"), v.alias("v")
                    ),
                ).alias(s)
            )
    proj = df.select(*proj_cols)

    specs: dict[str, tuple[str, Callable[[], object]]] = {}
    for c, k in kinds.items():
        if k in ("string", "binary"):
            specs[f"{c}::strstats"] = (c, StringStatsSketch)
            specs[f"{c}::hll"] = (
                hash_col[c], hll_factory(precision=hll_precision)
            )
        else:
            specs[f"{c}::moments"] = (c, MomentsSketch)
            specs[f"{c}::kll"] = (c, kll_factory(k=kll_k))
            if k != "float":
                specs[f"{c}::hll"] = (c, hll_factory(precision=hll_precision))
        if k in ("int", "string", "bool"):
            specs[f"{c}::freq"] = (c, freqitems_factory(freq_capacity))
            if sample_k:
                sk = int(sample_k)
                specs[f"{c}::sample"] = (
                    sample_col[c], lambda sk=sk: SampleSketch(sk)
                )

    merged, n_rows = build_multi(proj, specs, fanin=fanin, return_rows=True)

    per_col: dict[str, dict[str, object]] = {c: {} for c in kinds}
    for name, sk in merged.items():
        c, part = name.rsplit("::", 1)
        per_col[c][part] = sk
    return per_col, n_rows, kinds


_PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_values", T.LongType(), False),
        T.StructField("n_nulls", T.LongType(), False),
        T.StructField("n_nonfinite", T.LongType(), True),
        T.StructField("distinct_est", T.DoubleType(), True),
        T.StructField("mean", T.DoubleType(), True),
        T.StructField("std", T.DoubleType(), True),
        T.StructField("min_num", T.DoubleType(), True),
        T.StructField("max_num", T.DoubleType(), True),
        T.StructField("quantile_est", T.ArrayType(T.DoubleType()), True),
        T.StructField("min_str", T.StringType(), True),
        T.StructField("max_str", T.StringType(), True),
        T.StructField("len_min", T.LongType(), True),
        T.StructField("len_max", T.LongType(), True),
        T.StructField("avg_len", T.DoubleType(), True),
        T.StructField("n_empty", T.LongType(), True),
        T.StructField("top_values", T.ArrayType(T.StringType()), True),
        T.StructField("top_counts", T.ArrayType(T.LongType()), True),
        T.StructField("top_error_bound", T.LongType(), True),
        T.StructField("sample_values", T.ArrayType(T.StringType()), True),
    ]
)


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    topk: int = 5,
    hll_precision: int = 14,
    kll_k: int = 200,
    freq_capacity: int = 256,
    sample_k: int = 8,
    fanin: int | None = None,
) -> DataFrame:
    """One-scan per-column profile summary — one output row per column.

    Exact fields (n_rows/n_values/n_nulls, min/max, mean/std, length
    stats) are exact; `distinct_est`/`quantile_est`/`top_*` carry the
    sketches' published error bounds (`top_counts` are underestimates by
    at most `top_error_bound`, exact when a column's distinct count is
    ≤ freq_capacity).  Binary min/max surface hex-encoded in min_str /
    max_str.  The returned DataFrame is driver-sized (n_columns rows).
    """
    per_col, n_rows, kinds = profile_sketches(
        df,
        columns,
        hll_precision=hll_precision,
        kll_k=kll_k,
        freq_capacity=freq_capacity,
        sample_k=sample_k,
        fanin=fanin,
    )
    qs = [float(q) for q in quantiles]

    rows = []
    for c, kind in kinds.items():
        sks = per_col[c]
        rec: dict[str, object] = {
            "column": c,
            "kind": kind,
            "n_rows": n_rows,
            "n_nonfinite": None,
            "distinct_est": None,
            "mean": None,
            "std": None,
            "min_num": None,
            "max_num": None,
            "quantile_est": None,
            "min_str": None,
            "max_str": None,
            "len_min": None,
            "len_max": None,
            "avg_len": None,
            "n_empty": None,
            "top_values": None,
            "top_counts": None,
            "top_error_bound": None,
            "sample_values": None,
        }
        if "moments" in sks:
            mo: MomentsSketch = sks["moments"]
            rec["n_values"] = mo.n_added
            rec["n_nonfinite"] = mo.n_nonfinite
            rec["mean"] = mo.mean()
            rec["std"] = mo.std()
            rec["min_num"] = mo.min()
            rec["max_num"] = mo.max()
        else:
            ss: StringStatsSketch = sks["strstats"]
            rec["n_values"] = ss.n
            rec["len_min"] = ss.len_min if ss.n else None
            rec["len_max"] = ss.len_max if ss.n else None
            rec["avg_len"] = ss.avg_len()
            rec["n_empty"] = ss.n_empty
            mn, mx = ss.min_value(), ss.max_value()
            rec["min_str"] = mn.hex() if isinstance(mn, bytes) else mn
            rec["max_str"] = mx.hex() if isinstance(mx, bytes) else mx
        rec["n_nulls"] = n_rows - int(rec["n_values"])
        if "hll" in sks:
            rec["distinct_est"] = float(sks["hll"].estimate())
        if "kll" in sks and sks["kll"].n_added:
            rec["quantile_est"] = [float(v) for v in sks["kll"].quantile(qs)]
        if "freq" in sks and sks["freq"].total:
            fi = sks["freq"]
            top = fi.topk(topk)
            rec["top_values"] = [str(k) for k, _ in top]
            rec["top_counts"] = [int(cnt) for _, cnt in top]
            rec["top_error_bound"] = int(fi.error_bound())
        if "sample" in sks:
            rec["sample_values"] = sks["sample"].values()
        rows.append(rec)

    field_names = [f.name for f in _PROFILE_SCHEMA.fields]
    data = [tuple(rec[name] for name in field_names) for rec in rows]
    spark = df.sparkSession
    return spark.createDataFrame(data, schema=_PROFILE_SCHEMA)
