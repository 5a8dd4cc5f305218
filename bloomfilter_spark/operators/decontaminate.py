"""Benchmark decontamination — flag corpus documents that share word
n-grams with a held-out benchmark/eval set.

This is the published LLM-training decontamination shape (GPT-3 appendix C /
The Pile: n-gram membership against the eval sets, classically via a Bloom
filter): build a Bloom over the benchmark's distinct n-gram shingles, probe
every corpus shingle against the broadcast sketch, and finish with an exact
semi-join on the (tiny) surviving candidate set so the final answer has no
false positives.  The result is EXACT — the sketch only prunes work — which
is what makes the whole operator full-value oracle-able in plain SQL.

Scale shape (the 100 TB story):
- the benchmark side is small by construction (eval sets are MBs while the
  corpus is TBs), so its distinct-shingle relation broadcasts;
- the corpus side explodes to one row per distinct shingle per doc, but the
  broadcast Bloom probe filters THAT stream map-side, before any shuffle —
  only the ~(true-hit + fpp) fraction reaches the exact verify join;
- the verify join is a broadcast hash join (benchmark shingles), so the only
  shuffle in the plan is the final per-doc groupBy on `doc_id`.

Reference parity: this composes the reference's Contains* probe
(/root/reference/bloomfilter.go:133-180) with its union-built filter — the
same "build once, probe a firehose" usage its README demos — lifted to a
corpus-vs-benchmark join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from bloomfilter_spark.operators.dedup import exploded_shingles
from bloomfilter_spark.operators.membership import filter_might_contain


def _distinct_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) — one row per DISTINCT word n-gram per document.

    Arrow-batched shingler (see `exploded_shingles`): same pinned
    tokenize→shingle output as the old Catalyst higher-order-function
    expression, ~16x cheaper per doc."""
    return exploded_shingles(df, id_col, text_col, n).select(
        F.col("id").alias("__id"), "shingle"
    )


def contaminated_docs(
    corpus_df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    fpp: float = 1e-3,
    n_expected: int | None = None,
) -> DataFrame:
    """(doc_id, n_hits) for every corpus doc sharing ≥ 1 word n-gram with the
    benchmark set; n_hits = number of distinct contaminated n-grams.

    Exact (Bloom false positives are discarded by the verify join; no false
    negatives exist by the Bloom contract).  `n_expected` sizes the Bloom —
    pass an upper bound on the benchmark's distinct shingle count to avoid a
    sizing count() pass; eval sets are small, so overshooting is cheap.
    """
    from bloomfilter_spark.operators.build import bloom_factory, build_sketch

    # localCheckpoint: this small-by-construction relation is read by the
    # sizing count, the sketch build (whose ensure_parallelism /
    # partition-count .rdd accesses materialize upstream exchanges under
    # AQE), and the verify join — without it the shingle+distinct
    # pipeline re-executes for each of those readers
    bench_sh = (
        _distinct_shingles(bench_df, id_col, text_col, n)
        .select(F.col("shingle").alias("bench_shingle"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if n_expected is None:
        n_expected = max(1, bench_sh.count())
    sketch = build_sketch(bench_sh, "bench_shingle", bloom_factory(n_expected, fpp))

    corpus_sh = _distinct_shingles(corpus_df, id_col, text_col, n)
    candidates = filter_might_contain(corpus_sh, "shingle", sketch)
    verified = candidates.join(
        F.broadcast(bench_sh),
        on=candidates["shingle"] == F.col("bench_shingle"),
        how="left_semi",
    )
    # shingles are distinct per doc by construction (array_distinct in
    # shingles_of_toks), so count(*) == count(distinct shingle)
    return verified.groupBy(F.col("__id").alias(id_col)).agg(
        F.count("*").alias("n_hits")
    )
