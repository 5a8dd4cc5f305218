"""The library's one sketch build engine, and the pages suite built on it.

Every distributed build runs here: `build_multi` and
`build_multi_checkpointed`, the single-sketch forms in operators/build.py
(`build_sketch`, `build_sketch_weighted`, `build_sketch_with_deletes`) and
`checkpoint.build_sketch_checkpointed` are calls of these two with one or
more specs.  At 100 TB the scan dominates, so all of a build's sketches
(the pages suite: Bloom over url, HLL over url/host, CMS over host/lang,
Misra-Gries heavy-hitter hosts, KLL + t-digest + DDSketch over text length)
share one parquet scan and one JVM→Python Arrow hop:

  fold:   `fold_partials` — one mapInArrow task per partition folds its
          Arrow batches into one partial per spec and emits one row
          (partition_id, one packed blob per spec, rows)
  rounds: while more partials remain than the final fan-in, bucket =
          partition_id // step and each bucket merges n-ary in sorted
          partition_id order (applyInPandas); `_merge_steps` picks the
          steps
  driver: ≤ fan-in rows collected, n-ary merge in sorted order

The tree never materializes more than `fanin` blobs in one task and never
ships all P partials to the driver (P ≈ 800k at 100 TB / 128 MB splits), and
bucket composition + intra-bucket order are pure functions of partition_id —
so the result is identical regardless of task scheduling, which is how the
merge-order-sensitive compaction sketches (KLL, t-digest, frequent items —
see sketches/kll.py) stay deterministic, and `tree_merge_replay` replays
the same tree on the driver.  Commutative sketches (Bloom OR / HLL max /
CMS and counting-Bloom sums) are bit-identical under any merge order anyway
(the reference's Union semantics, bloomfilter.go:209-213).

Every partial that leaves a task — fold rows, merge-round rows, checkpoint
partial files, `tree_merge_replay` levels and the `rollup_grouped` bucket
stage — is packed by `_pack` (zstd level 1) and read back by `_unpack`.
Merges see only the unpacked bytes, so the codec never changes a result.
How much packing saves depends on partial density.  A build over P splits
puts ~1/P of the keys in each partial.  With many splits the partials are
sparse: a 4.8 MB Bloom sized for 4M keys holding 16k packs ~21× (224 KB).
At one split per core they are dense: the same Bloom holding 1M keys
(~14% of its bits set) packs only to 61% (2.93 MB).  On a 4-core box that
dense partial packs in 7-13 ms and unpacks in 4-8 ms; deflate level 1,
the codec before zstd, took 160-230 ms and 42-55 ms and packed it to 69%.
"""

from __future__ import annotations

import math
import struct
from functools import partial
from typing import Callable, Iterable, Iterator

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from bloomfilter_spark.functions.urls import host_of
from bloomfilter_spark.operators.build import (
    DEFAULT_FANIN,
    _merge_blobs,
    bloom_factory,
    cms_factory,
    dds_factory,
    freqitems_factory,
    hll_factory,
    kll_factory,
    tdigest_factory,
)
from bloomfilter_spark.sketches import serde

# A packed partial is an 8-byte little-endian raw length (pyarrow's
# decompress needs the size), then one zstd level-1 frame (deterministic
# for a given input).  Sparse partials (many splits, ~1/P of the keys each)
# pack ~20×; a dense one at one split per core packs to ~61% — numbers in
# the module docstring.
_CODEC = pa.Codec("zstd", compression_level=1)
# recorded in checkpoint MANIFESTs: partial files packed otherwise are refused
PACK_CODEC = f"{_CODEC.name}-{_CODEC.compression_level}"
_RAW_LEN = struct.Struct("<Q")


def _pack(sketch) -> bytes:
    raw = sketch.to_bytes()
    return _RAW_LEN.pack(len(raw)) + _CODEC.compress(raw, asbytes=True)


def _unpack(blob: bytes, name: str = "sketch"):
    """Inverse of `_pack`.  A short length prefix, a cut frame or a length
    that disagrees with the frame raises ValueError naming the partial."""
    blob = memoryview(blob)
    if len(blob) < _RAW_LEN.size:
        raise ValueError(
            f"packed partial {name!r}: {len(blob)} bytes is shorter than its "
            f"{_RAW_LEN.size}-byte length prefix (truncated or corrupt)"
        )
    (n,) = _RAW_LEN.unpack(blob[: _RAW_LEN.size])
    try:
        raw = _CODEC.decompress(blob[_RAW_LEN.size:], n, asbytes=True)
    except (OSError, MemoryError, OverflowError) as ex:
        raise ValueError(
            f"packed partial {name!r} ({len(blob)} bytes, declares {n} raw "
            f"bytes) is truncated or corrupt: {ex or type(ex).__name__}"
        ) from None
    return serde.deserialize(raw)


def _plan(df: DataFrame, specs: dict[str, tuple]):
    """Split specs — name -> (column, factory) or (column, factory, weight
    column) — into (pruned input, factories, col_of, weight_of).  The
    input keeps only the columns the specs read, fanned out to the cluster
    when it arrives narrow."""
    from bloomfilter_spark.plans.skew import ensure_parallelism

    factories = {n: s[1] for n, s in specs.items()}
    col_of = {n: s[0] for n, s in specs.items()}
    weight_of = {n: s[2] for n, s in specs.items() if len(s) > 2}
    cols = sorted({*col_of.values(), *weight_of.values()})
    return ensure_parallelism(df.select(*cols)), factories, col_of, weight_of


def _fold_partition(
    batches,
    sks: dict[str, object],
    col_of: dict[str, str],
    weight_of: dict[str, str],
) -> int:
    """Fold Arrow batches into every named sketch in `sks`; returns the
    number of rows folded.  This is the library's one rule for how a sketch
    consumes a column: the global builds, the grouped builds and the
    stateful streams all fold through it.

    Batches are raw `pyarrow.RecordBatch`es (mapInArrow): the hash kernels
    read the Arrow string/binary buffers zero-copy, so skipping the
    Arrow→pandas object conversion removes the biggest fixed cost of the
    string path (~25% of suite-build wall).  Null keys are skipped.

    Hash sharing: sketches on the same column with the same seed all
    consume one murmur3 pass (update() is just hash_any + add_hashes).  A
    weighted spec passes its weights — nulls as 0 — to
    add_hashes(h1, h2, weights)."""
    import numpy as np

    from bloomfilter_spark.functions.hashing import hash_any

    by_col: dict[str, list[str]] = {}
    for n in sks:
        by_col.setdefault(col_of[n], []).append(n)
    rows = 0
    for rb in batches:
        for c, col_names in by_col.items():
            keys = rb.column(rb.schema.get_field_index(c))
            clean = keys.drop_null()
            hash_cache: dict[int, tuple] = {}

            def hashes(sk) -> tuple:
                seed = int(sk.seed)
                if seed not in hash_cache:
                    hash_cache[seed] = hash_any(clean, seed)
                return hash_cache[seed]

            for n in col_names:
                sk = sks[n]
                if n in weight_of:
                    w = rb.column(rb.schema.get_field_index(weight_of[n]))
                    if keys.null_count:
                        w = w.filter(keys.is_valid())
                    w = w.fill_null(0).to_numpy(zero_copy_only=False)
                    sk.add_hashes(*hashes(sk), w)
                elif hasattr(sk, "add_hashes") and hasattr(sk, "seed"):
                    sk.add_hashes(*hashes(sk))
                elif hasattr(sk, "update_arrow"):
                    # frequent-items: raw-key fold via pyarrow value_counts
                    sk.update_arrow(clean)
                else:
                    # KLL/t-digest/DDSketch numeric fold (cast float64)
                    sk.update(
                        np.asarray(
                            clean.to_numpy(zero_copy_only=False),
                            dtype="float64",
                        )
                    )
        rows += rb.num_rows
    return rows


def fold_partials(
    df: DataFrame, specs: dict[str, tuple]
) -> tuple[DataFrame, int]:
    """The fold stage of `build_multi`: (partials, n_parts).

    `partials` has one row per input partition — partition_id, one
    packed partial blob per spec name, rows — and is what the merge
    tree reduces; `tree_merge_replay` takes its (partition_id, blob) pairs."""
    names = list(specs)
    pruned, factories, col_of, weight_of = _plan(df, specs)
    blob_cols = ", ".join(f"`{n}` binary" for n in names)

    def build_iter(batches):
        import pyarrow as pa

        from pyspark import TaskContext

        sks = {n: factories[n]() for n in names}
        rows = _fold_partition(batches, sks, col_of, weight_of)
        ctx = TaskContext.get()
        out = {"partition_id": [ctx.partitionId() if ctx is not None else -1]}
        out.update({n: [_pack(sks[n])] for n in names})
        out["rows"] = [rows]
        yield pa.RecordBatch.from_pydict(out)

    partials = pruned.mapInArrow(
        build_iter, schema=f"partition_id long, {blob_cols}, rows long"
    )
    return partials, pruned.rdd.getNumPartitions()


def build_multi(
    df: DataFrame,
    specs: dict[str, tuple],
    fanin: int | None = None,
    return_rows: bool = False,
) -> dict[str, object] | tuple[dict[str, object], int]:
    """Build many sketches in ONE scan.

    specs: name -> (column, factory), or (column, factory, weight column)
    for a weighted fold (CMS mass; counting-Bloom signed deltas).  Returns
    name -> merged sketch.  fanin=None auto-sizes the merge tree: each
    reduce round makes ~2×parallelism buckets so every core merges, instead
    of a handful of fat tasks serializing the reduction.
    """
    partials, n_parts = fold_partials(df, specs)
    par = df.sparkSession.sparkContext.defaultParallelism
    factories = {n: s[1] for n, s in specs.items()}
    return _merge_tree(
        partials, list(specs), factories, n_parts, fanin, par,
        return_rows=return_rows,
    )


def build_multi_checkpointed(
    df: DataFrame,
    specs: dict[str, tuple],
    ckpt_dir: str,
    fanin: int | None = None,
    fail_on: Callable[[int], bool] | None = None,
    input_pin: str | None = None,
):
    """`build_multi` with per-partition checkpoint/resume — the north-rule
    resume contract (a killed build must NOT rescan completed splits).

    Each fold task atomically writes `partial-<pid>.bin` (all of its
    sketches' packed partial blobs in one file) plus a lineage sidecar.  On
    resume the driver lists the partials and runs the fold over the pending
    partitions only (checkpoint.fold_pending): a finished partition gets no
    task, so its split is never read, and nothing pending means no fold
    job.  The merge then reads every partial.  When the tree has no
    distributed round (n_parts ≤ the final fan-in) the driver opens the
    partials one file at a time and runs the same n-ary merge build_multi's
    driver step runs (no Spark job); otherwise the partials are reloaded as
    a DataFrame (binaryFile source — never a driver glob-read of 800k
    blobs) and reduced through the same tree as build_multi.  Either way an
    interrupted-then-resumed build is bit-identical to an uninterrupted one.

    Returns (name -> merged sketch, lineage DataFrame).  Caller contract:
    split-stable input partitioning across runs (a parquet/Iceberg scan;
    salted output only over such a scan), ckpt_dir on shared storage.
    `fail_on(pid)` is a test hook: a task whose partition satisfies it
    raises mid-build (simulating a kill).

    input_pin: opaque identifier of the immutable input version — for an
    Iceberg source, the snapshot id (sources.tables.current_snapshot_id);
    for parquet, e.g. the path + file count.  It is recorded in the
    checkpoint MANIFEST, and a resume whose pin differs is REJECTED — this
    is what makes the resume contract's "input must not change between
    runs" requirement enforceable instead of advisory (an Iceberg append
    between kill and resume would otherwise silently produce a sketch
    built over a mix of two snapshots).
    """
    import json
    import os
    import pickle
    import time

    from bloomfilter_spark.operators.checkpoint import (
        STATS_SCHEMA,
        _atomic_write,
        fold_pending,
        partial_path,
    )

    names = list(specs)
    pruned, factories, col_of, weight_of = _plan(df, specs)
    cols = pruned.columns
    n_parts = pruned.rdd.getNumPartitions()

    os.makedirs(ckpt_dir, exist_ok=True)
    # merge_par pins the ADAPTIVE merge-tree shape: fanin=None sizes each
    # reduce round from the cluster parallelism, so without recording it a
    # build killed on N cores and resumed on 4N would merge the SAME
    # partials through a different tree — compaction sketches
    # (KLL/t-digest) would then NOT be bit-identical to the uninterrupted
    # build, silently breaking the resume contract the manifest enforces
    merge_par = df.sparkSession.sparkContext.defaultParallelism
    manifest = {
        "cols": cols,
        "n_parts": n_parts,
        "input_pin": input_pin,
        "merge_par": merge_par,
        "codec": PACK_CODEC,
        "sketches": {
            n: [col_of[n], factories[n]().to_bytes()[:64].hex()]
            + ([weight_of[n]] if n in weight_of else [])
            for n in names
        },
    }
    man_path = os.path.join(ckpt_dir, "MANIFEST.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            prev = json.load(f)
        # a checkpoint written before input_pin existed is pin-less, not
        # mismatched — don't orphan an in-flight build across the upgrade
        prev.setdefault("input_pin", None)
        prev.setdefault("merge_par", merge_par)
        # the recorded merge_par WINS on resume (that's the pin); it is
        # excluded from the identity check — a new cluster size is a
        # legitimate resume, a different input/sketch geometry is not
        merge_par = int(prev["merge_par"])
        if {k: v for k, v in prev.items() if k != "merge_par"} != {
            k: v for k, v in manifest.items() if k != "merge_par"
        }:
            raise ValueError(
                "checkpoint dir was written by a different suite build "
                f"(manifest {prev} != {manifest}); use a fresh ckpt_dir"
            )
    else:
        _atomic_write(man_path, json.dumps(manifest).encode())

    def build_iter(batches):
        import pyarrow as pa

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        if fail_on is not None and fail_on(pid):
            raise RuntimeError(f"injected failure in partition {pid}")
        t0 = time.perf_counter()
        nbytes = 0

        def counted(bs):
            nonlocal nbytes
            for rb in bs:
                nbytes += int(rb.nbytes)
                yield rb

        sks = {n: factories[n]() for n in names}
        rows = _fold_partition(counted(batches), sks, col_of, weight_of)
        wall_ms = (time.perf_counter() - t0) * 1000.0
        payload = pickle.dumps(
            {"rows": rows, "blobs": {n: _pack(sks[n]) for n in names}},
            protocol=4,
        )
        _atomic_write(partial_path(ckpt_dir, pid), payload)
        _atomic_write(
            os.path.join(ckpt_dir, f"lineage-{pid:06d}.json"),
            json.dumps(
                {
                    "partition_id": pid,
                    "rows": rows,
                    "input_bytes": nbytes,
                    "wall_ms": wall_ms,
                    "cols": cols,
                    "sketches": names,
                    "completed_at": time.time(),
                }
            ).encode(),
        )
        yield pa.RecordBatch.from_pydict(
            {
                "partition_id": [pid],
                "rows": [rows],
                "input_bytes": [nbytes],
                "wall_ms": [wall_ms],
                "resumed": [False],
            }
        )

    lineage = fold_pending(
        pruned.mapInArrow(build_iter, schema=STATS_SCHEMA), ckpt_dir, n_parts
    )

    if not _merge_steps(n_parts, fanin, merge_par):
        # the tree would have no distributed round: its driver step is this
        # same n-ary merge, so skip the reload job.  One file at a time, so
        # a giant Bloom merge holds 2 sketches, not n_parts.
        def read(pid: int) -> dict:
            with open(partial_path(ckpt_dir, pid), "rb") as f:
                return pickle.load(f)["blobs"]

        recs = (read(pid) for pid in range(n_parts))
        return _merge_records(recs, names, factories), lineage

    blob_cols = ", ".join(f"`{n}` binary" for n in names)
    schema = f"partition_id long, {blob_cols}, rows long"
    spark = df.sparkSession
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "partial-*.bin")
        .load(ckpt_dir)
        .select("path", "content")
    )

    def parse_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols_out = ["partition_id", *names, "rows"]
        for pdf in batches:
            recs = []
            for path, content in zip(pdf["path"], pdf["content"]):
                d = pickle.loads(bytes(content))
                pid = int(os.path.basename(path)[len("partial-"):-len(".bin")])
                rec = {"partition_id": pid, "rows": d["rows"]}
                rec.update(d["blobs"])
                recs.append(rec)
            yield pd.DataFrame(recs, columns=cols_out)

    partials = files.mapInPandas(parse_iter, schema=schema)
    # merge_par from the MANIFEST, not the live cluster: the tree shape
    # must match the original build's for bit-identical resumes
    merged = _merge_tree(partials, names, factories, n_parts, fanin, merge_par)
    return merged, lineage


def _merge_steps(n_parts: int, fanin: int | None, parallelism: int) -> list[int]:
    """Fan-in of each distributed merge round, first round first.

    fanin=None (adaptive): each round uses the smallest fan-in that still
    makes ≤ 2×parallelism buckets (so the round spreads over every core),
    floored at 8 and capped at DEFAULT_FANIN; rounds repeat until ≤
    DEFAULT_FANIN rows remain for the driver.  An explicit fanin gives a
    fixed-shape tree (tests use fanin=2 to force depth)."""
    steps = []
    remaining = n_parts
    while remaining > (fanin if fanin is not None else DEFAULT_FANIN):
        step = fanin if fanin is not None else min(
            DEFAULT_FANIN, max(8, math.ceil(remaining / max(1, 2 * parallelism)))
        )
        steps.append(step)
        remaining = math.ceil(remaining / step)
    return steps


def _merge_records(
    records: Iterable[dict], names: list[str], factories: dict
) -> dict[str, object]:
    """n-ary merge of partial records (name -> packed blob), taken in the
    order given.  Kinds with merge_all get the whole multiset at once
    (their packed partials are KB-sized); every other kind merges and drops
    one partial at a time, so at most 2 of its sketches are unpacked at
    once (a 1.2 GB Bloom × 64 partials would otherwise need 77 GB)."""
    out = {n: factories[n]() for n in names}
    held = {n: [] for n in names if hasattr(out[n], "merge_all")}
    for rec in records:
        for n in names:
            if n in held:
                held[n].append(rec[n])
            else:
                out[n].merge(_unpack(rec[n], n))
    for n, blobs in held.items():
        _merge_blobs(out[n], blobs, partial(_unpack, name=n))
    return out


def _nary_merge_pdf(
    pdf: pd.DataFrame, names: list[str], factories: dict
) -> dict[str, object]:
    """Merge one bucket of partial rows, sorted by partition_id (canonical
    order — determinism for compaction sketches)."""
    recs = pdf.sort_values("partition_id").to_dict("records")
    return _merge_records(recs, names, factories)


def _merge_tree(
    partials: DataFrame,
    names: list[str],
    factories: dict,
    n_parts: int,
    fanin: int | None,
    parallelism: int,
    return_rows: bool = False,
) -> dict[str, object] | tuple[dict[str, object], int]:
    """Bounded-fan-in reduction of partial rows (partition_id, one packed
    blob per name, rows): one applyInPandas round per `_merge_steps` step,
    then the driver merge."""
    level = partials
    for step in _merge_steps(n_parts, fanin, parallelism):

        def make_merge_bucket(step: int):
            # applyInPandas gives single-arg callables the group pdf; the
            # factory pins this round's `step` (no late binding)
            def merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.drop(columns=["_bucket"])
                merged = _nary_merge_pdf(pdf, names, factories)
                out = {"partition_id": [int(pdf["partition_id"].min()) // step]}
                out.update({n: [_pack(merged[n])] for n in names})
                out["rows"] = [int(pdf["rows"].sum())]
                return pd.DataFrame(out)

            return merge_bucket

        level = (
            level.withColumn("_bucket", (F.col("partition_id") / step).cast("long"))
            .groupBy("_bucket")
            .applyInPandas(make_merge_bucket(step), schema=partials.schema)
        )

    final_pdf = level.toPandas()
    merged = _nary_merge_pdf(final_pdf, names, factories)
    if return_rows:
        return merged, int(final_pdf["rows"].sum())
    return merged


def tree_merge_replay(
    pairs: list[tuple[int, bytes]],
    factory: Callable[[], object],
    n_parts: int,
    parallelism: int,
    fanin: int | None = None,
):
    """Driver-side replay of `_merge_tree` for one sketch — the determinism
    oracle: a distributed build must be bit-identical to it.

    pairs: (partition_id, packed partial) as `fold_partials` emits them.
    n_parts, parallelism and fanin must equal what the build used: the
    round steps come from `_merge_steps` over the DECLARED width, not the
    number of pairs (ids can be sparse)."""
    names, factories = ["sketch"], {"sketch": factory}
    pdf = pd.DataFrame(pairs, columns=["partition_id", "sketch"])
    for step in _merge_steps(n_parts, fanin, parallelism):
        pdf = pd.DataFrame(
            [
                (b, _pack(_nary_merge_pdf(grp, names, factories)["sketch"]))
                for b, grp in pdf.groupby(pdf["partition_id"] // step)
            ],
            columns=["partition_id", "sketch"],
        )
    return _nary_merge_pdf(pdf, names, factories)["sketch"]


# ---------------------------------------------------------------------------
# The pages suite: every sketch family over the north-rule input in one scan
# ---------------------------------------------------------------------------


def pages_suite_specs(
    n_expected: int, prehash: bool = False
) -> dict[str, tuple[str, Callable]]:
    """Suite spec: name -> (feature column, sketch factory).

    prehash=True is the 100 TB scale path: the url-keyed membership /
    cardinality / count sketches consume a JVM-computed `xxhash64(url)`
    (and `xxhash64(host)`) instead of the raw string, so the Arrow batch
    ships an 8-byte int per row where the default ships the whole url, and
    the Python fold runs the fixed-8-byte murmur kernel (~2x the
    variable-length string rate, MICROBENCH).  Correctness: a 64-bit
    prehash can never create a false NEGATIVE (equal keys hash equal); it
    adds at most ~n²/2⁶⁵ false-positive mass from prehash collisions
    (≈1e-7 at n=2M — three orders below the 1% FPP budget), and HLL/CMS
    already hash internally so their error model is unchanged.  freq_host
    stays on the raw string (Misra-Gries must report host NAMES, not
    hashes); cms_lang stays raw (a handful of 2-byte codes).  Probes
    against a prehashed suite must apply the same `F.xxhash64(col)`
    JVM-side — see tests/test_pages.py::test_build_suite_prehashed."""
    url_key = "url_h" if prehash else "url"
    host_key = "host_h" if prehash else "host"
    return {
        "bloom_url": (url_key, bloom_factory(max(1024, n_expected), 0.01)),
        # "has this text been seen" (north star: url/text-hash membership);
        # the 64-bit text hash is computed JVM-side, the Bloom hashes its
        # 8-byte LE form (the reference's AddUint64 byte-collapse)
        "bloom_texthash": ("text_hash", bloom_factory(max(1024, n_expected), 0.01)),
        "hll_url": (url_key, hll_factory(precision=14)),
        "hll_host": (host_key, hll_factory(precision=14)),
        "cms_host": (host_key, cms_factory(epsilon=0.0005, delta=0.001)),
        "cms_lang": ("lang", cms_factory(epsilon=0.0005, delta=0.001)),
        # heavy-hitter hosts WITHOUT a candidate set (north star: the CMS
        # scores hosts you already suspect; MG surfaces them from the scan)
        "freq_host": ("host", freqitems_factory(4096)),
        "kll_textlen": ("text_len", kll_factory(k=200)),
        "tdigest_textlen": ("text_len", tdigest_factory(delta=200)),
        # relative-error text-length quantiles: commutative histogram, so
        # this one rides the fast merge path AND is SQL-replayable exactly
        "dds_textlen": ("text_len", dds_factory(alpha=0.01)),
    }


def with_page_features(df: DataFrame, prehash: bool = False) -> DataFrame:
    """Derive host + text_len JVM-side (Catalyst, codegen) so the Python
    workers only ever see the exact columns each sketch consumes.

    prehash=True additionally computes xxhash64(url)/xxhash64(host) in the
    same codegen stage and DROPS the url string from the projection — the
    single widest column the Arrow boundary would otherwise ship."""
    base = df.select(
        "url",
        "lang",
        # the library's one host rule: lowercased, no port, no userinfo, so
        # 'https://u@Example.com:443/' and 'https://example.com' count as
        # one host in the host sketches
        host_of("url").alias("host"),
        F.length("text").alias("text_len"),
        F.xxhash64("text").alias("text_hash"),
    )
    if not prehash:
        return base
    return base.select(
        F.xxhash64("url").alias("url_h"),
        "host",
        F.xxhash64("host").alias("host_h"),
        "lang",
        "text_len",
        "text_hash",
    )


def build_suite(
    df: DataFrame,
    n_expected: int | None = None,
    fanin: int | None = None,
    prehash: bool = False,
) -> dict[str, object]:
    """Full sketch suite over a pages DataFrame in one scan.

    Pass n_expected when df is filtered/derived: the fallback count() is
    metadata-only on plain parquet but a real extra scan on a filtered or
    snapshot-pinned input.  Upper bounds are safe (Bloom just runs at a
    lower FPP).

    prehash=True keys the url/host sketches on JVM-side xxhash64 values
    (see pages_suite_specs) — the high-throughput layout for corpus-scale
    builds; the default keeps raw-byte keys for reference parity."""
    if n_expected is None:
        n_expected = df.count()
    feats = with_page_features(df, prehash=prehash)
    return build_multi(
        feats, pages_suite_specs(n_expected, prehash=prehash), fanin=fanin
    )
