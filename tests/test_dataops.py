"""Training-data pipeline operator tests.

Probabilistic operators get their contracts checked here (the driver's
rows-only check can't): MinHash-LSH recall on planted near-dups, SimHash
hamming pairs exactness vs brute force, IVF recall vs brute-force top-k,
fingerprint determinism/sensitivity, multimodal feature correctness.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# planted near-dup corpus
# ---------------------------------------------------------------------------


def _corpus(spark, n_base=60, n_dups=15, words_per_doc=80):
    """Deterministic corpus with known near-dup pairs: doc i+1000 is doc i
    with 2 words changed (high Jaccard)."""
    rng = np.random.RandomState(7)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for i in range(n_base):
        ws = [vocab[j] for j in rng.randint(0, 400, words_per_doc)]
        rows.append((i, " ".join(ws)))
        if i < n_dups:
            ws2 = list(ws)
            ws2[3] = "changed1"
            ws2[40] = "changed2"
            rows.append((i + 1000, " ".join(ws2)))
    return spark.createDataFrame(rows, "doc_id long, text string"), n_dups


def test_minhash_lsh_recall_on_planted_dups(spark):
    from bloomfilter_spark.operators.dedup import minhash_dedup_pairs

    df, n_dups = _corpus(spark)
    pairs = minhash_dedup_pairs(df, "doc_id", "text", threshold=0.5).toPandas()
    planted = {(i, i + 1000) for i in range(n_dups)}
    found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    recall = len(planted & found) / len(planted)
    assert recall >= 0.95
    # precision: random 80-word docs from a 400-word vocab shouldn't pair
    assert len(found - planted) == 0


def test_minhash_estimate_close_to_exact(spark):
    from bloomfilter_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
    )

    df, n_dups = _corpus(spark)
    est = minhash_dedup_pairs(df, "doc_id", "text", threshold=0.3).toPandas()
    exact = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.3).toPandas()
    both = est.merge(exact, on=["id_a", "id_b"])
    assert len(both) >= 0.9 * len(exact)
    # 128 perms → se ~ sqrt(J(1-J)/128) ≈ 0.04; allow 4σ
    assert (abs(both.est_jaccard - both.jaccard) <= 0.18).all()


def test_simhash_pairs_match_bruteforce(spark):
    """The 4×16 pigeonhole join must find EXACTLY the pairs with
    hamming ≤ 3 (it's exhaustive for ≤3, no false dismissals)."""
    from bloomfilter_spark.operators.dedup import simhash64, simhash_dedup_pairs

    df, _ = _corpus(spark)
    sh = simhash64(df, "doc_id", "text").toPandas()
    h = sh.set_index("id")["simhash"]
    expected = set()
    ids = sorted(h.index)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            d = bin((int(h[ids[x]]) ^ int(h[ids[y]])) & (2**64 - 1)).count("1")
            if d <= 3:
                expected.add((ids[x], ids[y]))
    got = simhash_dedup_pairs(df, "doc_id", "text", max_hamming=3).toPandas()
    got_pairs = {(a, b) for a, b in zip(got.id_a, got.id_b)}
    assert got_pairs == expected
    assert len(expected) >= 5  # a decent share of planted dups collide ≤3 bits


def test_simhash_multi_index_segments_equivalent(spark):
    """The scale knob (n_segments=8 → C(8,5)=56 combo join, exponentially
    smaller buckets) must return the IDENTICAL exact pair set as the default
    4-segment single-index join."""
    from bloomfilter_spark.operators.dedup import simhash_dedup_pairs

    df, _ = _corpus(spark)
    base = simhash_dedup_pairs(df, "doc_id", "text", max_hamming=3).toPandas()
    wide = simhash_dedup_pairs(
        df, "doc_id", "text", max_hamming=3, n_segments=8
    ).toPandas()
    key = lambda p: sorted(map(tuple, p[["id_a", "id_b", "hamming"]].values))
    assert key(base) == key(wide)
    assert len(base) >= 5


def test_simhash_sql_uneven_segments_equivalent(spark):
    """60-bit hash with n_segments=8 → uneven widths (8×4 + 7×4 bits);
    the pigeonhole guarantee must hold for any slicing."""
    from bloomfilter_spark.operators.dedup import simhash_dedup_pairs_sql

    df, _ = _corpus(spark, n_base=40, n_dups=10)
    base = simhash_dedup_pairs_sql(df, "doc_id", "text", max_hamming=3).toPandas()
    wide = simhash_dedup_pairs_sql(
        df, "doc_id", "text", max_hamming=3, n_segments=8
    ).toPandas()
    key = lambda p: sorted(map(tuple, p[["id_a", "id_b", "hamming"]].values))
    assert key(base) == key(wide)


def test_simhash_sql_matches_python_md5(spark):
    """Differential oracle for the Catalyst md5 simhash: an independent
    per-row python hashlib computation must agree bit-for-bit."""
    import hashlib

    from bloomfilter_spark.operators.dedup import SIMHASH_SQL_BITS, simhash_sql

    df, _ = _corpus(spark, n_base=20, n_dups=5)
    got = simhash_sql(df, "doc_id", "text").toPandas().set_index("id")["simhash"]
    for row in df.toPandas().itertuples():
        toks = row.text.strip().lower().split()
        sums = [0] * SIMHASH_SQL_BITS
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for j in range(SIMHASH_SQL_BITS):
                sums[j] += 1 if (h >> j) & 1 else -1
        want = sum((1 << j) for j in range(SIMHASH_SQL_BITS) if sums[j] > 0)
        assert int(got[row.doc_id]) == want


def test_ngram_jaccard_exactness(spark):
    """Spark pipeline vs a trivial python set computation."""
    from bloomfilter_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e g"),   # shares 3 of 4+4-3... shingles with 1
        (3, "x y z w v u"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.01).toPandas()

    def sh(t):
        ts = t.lower().split()
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    texts = dict(rows)
    expected = {}
    for a in texts:
        for b in texts:
            if a < b and sh(texts[a]) and sh(texts[b]):
                inter = len(sh(texts[a]) & sh(texts[b]))
                if inter:
                    expected[(a, b)] = inter / len(sh(texts[a]) | sh(texts[b]))
    got_map = {(a, b): j for a, b, j in zip(got.id_a, got.id_b, got.jaccard)}
    assert set(got_map) == set(expected)
    for k in expected:
        assert abs(got_map[k] - expected[k]) < 1e-6


def test_ngram_jaccard_doc_freq_cap_collapses_boilerplate(spark):
    """Planted boilerplate: every doc shares one stop-shingle, so the
    uncapped join scores all C(n,2) pairs; max_doc_freq drops the hot
    shingle and only the true near-dup pair survives, with its Jaccard
    computed exactly over the filtered shingle universe."""
    from bloomfilter_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "subscribe to our newsletter"
    n_docs = 40
    rows = [
        (i, f"{boiler} unique words {i} alpha{i} beta{i} gamma{i}")
        for i in range(n_docs - 2)
    ]
    # a planted near-dup pair sharing real (non-boilerplate) content
    rows += [
        (97, f"{boiler} the quick brown fox jumps over the lazy dog"),
        (98, f"{boiler} the quick brown fox jumps over the lazy cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=1e-9
    ).count()
    assert uncapped == n_docs * (n_docs - 1) // 2  # boilerplate pairs all

    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=1e-9, max_doc_freq=5
    ).toPandas()
    assert [(a, b) for a, b in zip(capped.id_a, capped.id_b)] == [(97, 98)]

    # exact score over the filtered universe (python replay of the cap)
    from collections import Counter

    def sh(t):
        ts = t.lower().split()
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    dfreq = Counter(s for _, t in rows for s in sh(t))
    hot = {s for s, c in dfreq.items() if c > 5}
    a, b = sh(rows[-2][1]) - hot, sh(rows[-1][1]) - hot
    want = len(a & b) / len(a | b)
    assert abs(capped.jaccard.iloc[0] - want) < 1e-6


# ---------------------------------------------------------------------------
# fingerprints
# ---------------------------------------------------------------------------


def test_fingerprints_deterministic_and_sensitive():
    from bloomfilter_spark.functions.textstats import fingerprint_series

    # non-degenerate text: winnowing only guarantees a *substring match*
    # property, so sensitivity is asserted on a varied 200-token doc where
    # the edit's grams are window minima (a 5x-repeated phrase can hide a
    # one-char edit behind unchanged minima — that's correct behavior)
    t1 = " ".join(f"tok{i}" for i in range(200))
    t2 = " ".join(("CHANGED" if i == 100 else f"tok{i}") for i in range(200))
    a = fingerprint_series(pd.Series([t1]))
    b = fingerprint_series(pd.Series([t1]))
    assert a.iloc[0] == b.iloc[0]
    c = fingerprint_series(pd.Series([t2]))
    assert a.iloc[0] != c.iloc[0]
    # near-dup texts share most fingerprints (the winnowing property)
    sa, sc = set(a.iloc[0]), set(c.iloc[0])
    assert len(sa & sc) / len(sa | sc) > 0.9
    # short/empty
    e = fingerprint_series(pd.Series(["", "abc"]))
    assert e.iloc[0] == []


def test_fingerprints_batch_independence():
    from bloomfilter_spark.functions.textstats import fingerprint_series

    texts = [f"document number {i} with some shared boilerplate text" for i in range(20)]
    whole = fingerprint_series(pd.Series(texts))
    parts = pd.concat(
        [fingerprint_series(pd.Series(texts[:7])),
         fingerprint_series(pd.Series(texts[7:]))],
        ignore_index=True,
    )
    assert list(whole) == list(parts)


# ---------------------------------------------------------------------------
# ANN
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _queries_from(emb, n=3):
    pdf = emb.filter(F.col("vec_id") < n).toPandas()
    pdf = pdf.rename(columns={"vec_id": "qid", "embedding": "vector"})
    return pdf[["qid", "vector"]]


def test_brute_topk_matches_numpy(spark, emb):
    from bloomfilter_spark.operators.ann import brute_topk, _normalize

    q = _queries_from(emb, 3)
    got = brute_topk(emb, q, k=5).toPandas()
    pdf = emb.toPandas()
    m = _normalize(np.vstack(pdf.embedding.to_numpy()))
    ids = pdf.vec_id.to_numpy()
    qm = _normalize(np.vstack(q.vector.to_numpy()))
    sims = qm @ m.T
    for qi, qid in enumerate(q.qid):
        order = np.lexsort((ids, -sims[qi]))[:5]
        expect = list(ids[order])
        have = list(got[got.qid == qid].sort_values("rank").vec_id)
        assert have == expect, qid


def test_brute_topk_partitioning_invariant(spark, emb):
    from bloomfilter_spark.operators.ann import brute_topk

    q = _queries_from(emb, 2)
    a = brute_topk(emb.repartition(1), q, k=5).toPandas().sort_values(["qid", "rank"])
    b = brute_topk(emb.repartition(13), q, k=5).toPandas().sort_values(["qid", "rank"])
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_ivf_recall(spark, emb):
    from bloomfilter_spark.operators.ann import brute_topk, ivf_topk

    q = _queries_from(emb, 5)
    brute = brute_topk(emb, q, k=10).toPandas()
    ivf = ivf_topk(emb, q, k=10, n_centroids=8, nprobe=5).toPandas()
    both = ivf.merge(brute, on=["qid", "vec_id"])
    assert len(both) / len(brute) >= 0.8


def test_neardup_pairs_symmetric_exact(spark, emb):
    from bloomfilter_spark.operators.ann import neardup_pairs, _normalize

    got = neardup_pairs(emb, threshold=0.35).toPandas()
    pdf = emb.toPandas()
    m = _normalize(np.vstack(pdf.embedding.to_numpy()))
    ids = pdf.vec_id.to_numpy()
    sims = m @ m.T
    ai, bi = np.nonzero(sims >= 0.35)
    expected = {(int(ids[x]), int(ids[y])) for x, y in zip(ai, bi) if ids[x] < ids[y]}
    assert {(a, b) for a, b in zip(got.id_a, got.id_b)} == expected


def test_neardup_pairs_block_count_invariant(spark, emb):
    """The block-pair cogroup is an execution strategy, not semantics: any
    n_blocks must return the identical exact pair set (each unordered pair
    is scored in exactly one block-pair task)."""
    from bloomfilter_spark.operators.ann import neardup_pairs

    key = lambda p: sorted(map(tuple, p[["id_a", "id_b", "sim"]].values))
    base = neardup_pairs(emb, threshold=0.35, n_blocks=4).toPandas()
    for nb in (1, 7, 32):
        other = neardup_pairs(emb, threshold=0.35, n_blocks=nb).toPandas()
        assert key(other) == key(base), nb
    assert len(base) > 0


def test_srp_signatures_deterministic_and_packed(spark, emb):
    """Same seed → bit-identical signatures regardless of partitioning
    (hyperplanes are derived from the seed, not an RNG state); band values
    fit the r-bit pack; null-id / null-or-empty-vector rows are dropped."""
    from bloomfilter_spark.operators.ann import srp_signatures

    a = srp_signatures(emb, n_bits=64, bands=16).toPandas().set_index("id")
    b = (
        srp_signatures(emb.repartition(13), n_bits=64, bands=16)
        .toPandas()
        .set_index("id")
    )
    assert len(a) == emb.count()
    for i in a.index:
        assert list(a.sig[i]) == list(b.sig[i])
        assert all(0 <= v < 16 for v in a.sig[i])  # r = 4 bits per band

    withnulls = emb.unionByName(
        spark.createDataFrame(
            [(None, [1.0, 2.0], 0), (9001, None, 0), (9002, [], 0)],
            emb.schema,
        )
    )
    c = srp_signatures(withnulls, n_bits=64, bands=16).toPandas()
    assert len(c) == len(a) and 9001 not in set(c.id) and 9002 not in set(c.id)


def test_neardup_srp_matches_exact(spark, emb):
    """The SRP-LSH path must reproduce the brute-force exact pair set
    value-for-value (deterministic given the seed, so this is a hard
    equality, not a recall bound).  A LOW threshold needs the permissive
    geometry — many short bands (64×4 bits: escape ~1e-5 per true pair at
    0.35) — the selective 32×16 default is for the high-similarity
    operating point and would miss low-sim pairs by design."""
    from bloomfilter_spark.operators.ann import neardup_pairs, neardup_srp_verified

    key = lambda p: sorted(map(tuple, p[["id_a", "id_b", "sim"]].values))
    exact = neardup_pairs(emb, threshold=0.35).toPandas()
    srp = neardup_srp_verified(
        emb, threshold=0.35, n_bits=256, bands=64
    ).toPandas()
    assert key(srp) == key(exact)
    assert len(exact) > 0


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_byte_histogram_features(spark):
    from bloomfilter_spark.operators.multimodal import byte_histogram_features

    rows = [(1, bytes([0] * 10)), (2, bytes([255] * 5)), (3, b""), (4, bytes(range(256)))]
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    out = byte_histogram_features(df).toPandas().set_index("media_id")
    assert out.loc[1, "features"][0] == 1.0
    assert out.loc[2, "features"][15] == 1.0
    assert sum(out.loc[3, "features"]) == 0.0
    np.testing.assert_allclose(out.loc[4, "features"], [1 / 16] * 16, atol=1e-6)


def test_sample_frames(spark):
    from bloomfilter_spark.operators.multimodal import sample_frames

    rows = [(1, bytes(range(256)) * 4), (2, b"tiny"), (3, b"")]
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    out = sample_frames(df, n_frames=4, frame_bytes=64).toPandas().set_index("media_id")
    f1 = out.loc[1, "frames"]
    assert len(f1) == 4 and all(len(fr) == 64 for fr in f1)
    assert bytes(f1[0]) == bytes(range(64))  # deterministic offsets
    assert len(out.loc[2, "frames"]) >= 1
    assert list(out.loc[3, "frames"]) == []


def test_decode_stub_raises():
    """Real-codec blobs still raise without pillow — never silently faked."""
    from bloomfilter_spark.operators.multimodal import decode_image, _HAS_PIL

    if not _HAS_PIL:
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 32)


def test_fake_codec_roundtrip():
    from bloomfilter_spark.operators.multimodal import (
        decode_audio,
        decode_image,
        encode_audio_array,
        encode_image_array,
    )

    img = (np.arange(5 * 7 * 3) % 256).astype(np.uint8).reshape(5, 7, 3)
    assert (decode_image(encode_image_array(img)) == img).all()
    gray = (np.arange(4 * 6) % 256).astype(np.uint8).reshape(4, 6)
    assert (decode_image(encode_image_array(gray))[:, :, 0] == gray).all()
    pcm = (np.arange(-500, 500, 7)).astype(np.int16)
    s, sr = decode_audio(encode_audio_array(pcm, 16000))
    assert sr == 16000 and (s == pcm).all()


def test_resize_area_exact_on_blocks():
    """2x downsample of a block pattern = exact block means."""
    from bloomfilter_spark.operators.multimodal import resize_area

    a = np.zeros((4, 4, 1), dtype=np.uint8)
    a[:2, :2] = 10
    a[:2, 2:] = 20
    a[2:, :2] = 30
    a[2:, 2:] = 40
    out = resize_area(a, 2, 2)[:, :, 0]
    assert out.tolist() == [[10.0, 20.0], [30.0, 40.0]]
    # uniform image stays uniform at any output size
    u = np.full((9, 13, 2), 77, dtype=np.uint8)
    assert (resize_area(u, 3, 5) == 77.0).all()


def test_decode_media_features_pipeline(spark):
    """Synthetic media decode end-to-end: dims match the generator formulas,
    corrupt blobs get decode_ok=false without failing the job."""
    from bloomfilter_spark.operators.multimodal import (
        decode_media_features,
        synthetic_media,
    )

    media = synthetic_media(spark, 40)
    corrupt = spark.createDataFrame(
        [(999, "image", b"not-a-container")], "media_id long, kind string, blob binary"
    )
    out = (
        decode_media_features(media.unionAll(corrupt))
        .toPandas()
        .set_index("media_id")
    )
    for i in range(40):
        r = out.loc[i]
        assert bool(r["decode_ok"]) is True
        if i % 2 == 0:
            assert r["width"] == 16 + (i % 5) * 8
            assert r["height"] == 12 + (i % 7) * 4
            assert r["channels"] == 1 + i % 3
            assert len(r["moments"]) == 2 + 16  # mean, std + 4x4 thumb
        else:
            assert r["width"] == 400 + (i % 50) * 16
            assert (r["height"], r["channels"]) == (1, 1)
            assert len(r["moments"]) == 2  # rms, zcr
    assert bool(out.loc[999, "decode_ok"]) is False
    assert out.loc[999, "moments"] is None


# ---------------------------------------------------------------------------
# text stats scalar cross-check
# ---------------------------------------------------------------------------


def test_quality_features_scalar_oracle(spark):
    from bloomfilter_spark.functions.textstats import quality_features

    rows = [
        (1, "The cat, and the dog!  To a 42nd house."),
        (2, ""),
        (3, "1234 5678"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = quality_features(df).toPandas().set_index("doc_id")
    t1 = rows[0][1]
    assert out.loc[1, "n_chars"] == len(t1)
    assert out.loc[1, "n_tokens"] == len(t1.split())
    punct = sum(ch in ".,;:!?" for ch in t1)
    assert abs(out.loc[1, "punct_ratio"] - punct / len(t1)) < 1e-5
    digit = sum(ch.isdigit() for ch in t1)
    assert abs(out.loc[1, "digit_ratio"] - digit / len(t1)) < 1e-5
    stop = sum(w in ("the", "and", "of", "to", "a") for w in t1.lower().split())
    assert abs(out.loc[1, "stopword_ratio"] - stop / len(t1.split())) < 1e-5
    assert out.loc[2, "n_tokens"] == 0 and not out.loc[2, "quality_ok"]
    assert not out.loc[3, "quality_ok"]  # all digits


def test_lang_id_on_real_sentences(spark):
    from bloomfilter_spark.functions.textstats import lang_id

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs to a tree"),
        (2, "der hund und die katze sind in das haus und der garten ist"),
        (3, "le chat et la maison les arbres des fleurs et le jardin"),
        (4, "el perro y los gatos una casa por el camino y los campos"),
        (5, "zzz qqq xxx www"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.select("doc_id", lang_id("text").alias("l")).toPandas()
    assert list(got.sort_values("doc_id").l) == ["en", "de", "fr", "es", "und"]


def test_minhash_verified_equals_exact(spark):
    """LSH candidates + array_intersect verification == brute-force exact
    join (the oracle-gated sub-quadratic dedup path)."""
    from bloomfilter_spark.operators.dedup import (
        minhash_dedup_pairs_verified,
        ngram_jaccard_pairs,
    )

    df, _ = _corpus(spark)
    got = minhash_dedup_pairs_verified(df, "doc_id", "text", threshold=0.8).toPandas()
    exact = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.8).toPandas()
    g = {(a, b): j for a, b, j in zip(got.id_a, got.id_b, got.jaccard)}
    x = {(a, b): j for a, b, j in zip(exact.id_a, exact.id_b, exact.jaccard)}
    assert g.keys() == x.keys() and len(g) >= 10
    for k in g:
        assert abs(g[k] - x[k]) < 1e-6


def test_ivf_indexed_partition_pruning(spark, emb, tmp_path):
    """A materialized IVF index (partitioned by bucket) returns the same
    top-k as the in-memory path AND the probe scan shows PartitionFilters
    — unprobed bucket directories are pruned, never read."""
    from bloomfilter_spark.operators.ann import (
        ivf_topk,
        ivf_topk_indexed,
        train_centroids,
        write_ivf_index,
    )

    cents = train_centroids(emb, n_centroids=8)
    q = _queries_from(emb, 3)
    mem = ivf_topk(emb, q, k=5, nprobe=3, centroids=cents).toPandas()
    idx = str(tmp_path / "ivf")
    write_ivf_index(emb, cents, idx)
    got_df = ivf_topk_indexed(spark, idx, q, cents, k=5, nprobe=3)
    got = got_df.toPandas()
    key = lambda p: sorted(map(tuple, p[["qid", "rank", "vec_id"]].values))
    assert key(got) == key(mem)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan


def test_deterministic_sample_properties(spark):
    """Rate accuracy, partitioning invariance, nesting, and seed
    sensitivity of hash-threshold sampling."""
    from bloomfilter_spark.operators.sampling import (
        deterministic_sample,
        stratified_sample,
    )

    df = spark.range(20_000).select(F.col("id").alias("k"))
    s10 = deterministic_sample(df, "k", 0.10).toPandas()
    # binomial: 2000 ± 5σ (σ ≈ 42)
    assert abs(len(s10) - 2000) < 220
    # partitioning invariance: identical sample from a different layout
    s10b = deterministic_sample(df.repartition(17), "k", 0.10).toPandas()
    assert sorted(s10["k"]) == sorted(s10b["k"])
    # nesting: a higher rate strictly contains the lower-rate sample
    s25 = deterministic_sample(df, "k", 0.25).toPandas()
    assert set(s10["k"]) <= set(s25["k"])
    # seed changes the sample
    s10_seed = deterministic_sample(df, "k", 0.10, seed=99).toPandas()
    assert set(s10["k"]) != set(s10_seed["k"])

    # stratified: per-stratum rates honored
    strat = df.withColumn("g", (F.col("k") % 2 == 0).cast("string"))
    out = stratified_sample(
        strat, "k", "g", {"true": 0.5, "false": 0.05}
    ).toPandas()
    n_true = (out["g"] == "true").sum()
    n_false = (out["g"] == "false").sum()
    assert abs(n_true - 5000) < 500
    assert abs(n_false - 500) < 200


def test_sampling_null_keys_kept_at_full_rate(spark):
    """NULL keys hash as the empty string — all share one fate; rate=1.0
    must keep every row (a NULL-propagating hash would silently drop
    null-keyed rows)."""
    from bloomfilter_spark.operators.sampling import deterministic_sample

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "b")], "id long, k string"
    )
    assert deterministic_sample(df, "k", 1.0).count() == 4
    # determinism: nulls either all in or all out at a given (rate, seed)
    got = deterministic_sample(df, "k", 0.5, seed=3).toPandas()
    n_null = got["k"].isna().sum()
    assert n_null in (0, 2)


def test_chunked_folds_tiny_cap_identical(spark):
    """The working-set caps are execution knobs, not semantics: forcing
    pathological chunking (cap=7 → every doc is 'oversized' and
    sub-blocked) must give bit-identical signatures and simhashes."""
    import bloomfilter_spark.operators.dedup as D

    df, _ = _corpus(spark, n_base=15, n_dups=4)
    sig_ref = D.minhash_signatures(df, "doc_id", "text").toPandas()
    sim_ref = D.simhash64(df, "doc_id", "text").toPandas()
    # explicit params (captured by the closure, so they REACH the python
    # workers — a module-level monkeypatch would not survive pickling)
    sig_tiny = D.minhash_signatures(
        df, "doc_id", "text", chunk_shingles=7
    ).toPandas()
    sim_tiny = D.simhash64(df, "doc_id", "text", chunk_tokens=7).toPandas()
    key = lambda p, c: sorted(zip(p["id"], p[c].map(tuple) if p[c].dtype == object else p[c]))
    assert key(sig_ref, "sig") == key(sig_tiny, "sig")
    assert key(sim_ref, "simhash") == key(sim_tiny, "simhash")


def test_q17_plan_pushdown_and_broadcast(spark):
    """The Q17-style sketch-accelerated query must keep its scale-critical
    plan properties: the part predicate reaches the parquet scan
    (PushedFilters), the tiny filtered part side is broadcast (never
    shuffled), and there is no shuffle (sort-merge) join anywhere."""
    from tests.conftest import SF_DIR

    from bloomfilter_spark.queries import q_q17_bloom_prefilter

    df = q_q17_bloom_prefilter(spark, SF_DIR)
    # result sanity first — also finalizes the AQE plan, so the assertions
    # below check what actually RAN, not the pre-execution guess
    row = df.first()
    assert row["n_small_qty_rows"] > 0 and row["avg_yearly"] > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(p_brand,Brand#4)" in plan
    assert "LessThanOrEqual(p_size,15)" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram Bloom semi-join)
# ---------------------------------------------------------------------------


def test_decontaminate_exact_vs_python(spark):
    """Spark pipeline vs a trivial python set computation — and with a
    deliberately saturated Bloom (fpp≈1) to prove the exact verify join
    discards every false positive the sketch lets through."""
    from bloomfilter_spark.operators.decontaminate import contaminated_docs

    bench_rows = [(100, "the quick brown fox jumps"), (101, "lorem ipsum dolor sit amet")]
    corpus_rows = [
        (1, "the quick brown fox jumps over"),      # 3 shared 3-grams
        (2, "dolor sit amet consectetur"),          # 1 shared
        (3, "completely unrelated text body here"), # 0 shared
        (4, "fox jumps"),                           # too short for a 3-gram
        (5, None),                                  # null text
    ]
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")

    def sh(t):
        ts = (t or "").strip().lower().split()
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    bench_sh = set().union(*(sh(t) for _, t in bench_rows))
    expected = {
        i: len(sh(t) & bench_sh)
        for i, t in corpus_rows
        if t is not None and len(sh(t) & bench_sh) > 0
    }

    for fpp in (1e-3, 0.5):  # 0.5 on a 1-expected-item filter ≈ all-positive
        got = contaminated_docs(
            corpus, bench, "doc_id", "text", n=3, fpp=fpp, n_expected=1
        ).toPandas()
        assert dict(zip(got["doc_id"], got["n_hits"])) == expected


def test_decontaminate_empty_benchmark(spark):
    """An empty eval set flags nothing (and the sizing path survives 0 rows)."""
    from bloomfilter_spark.operators.decontaminate import contaminated_docs

    corpus = spark.createDataFrame(
        [(1, "some corpus text right here")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([], "doc_id long, text string")
    assert contaminated_docs(corpus, bench).count() == 0


def test_repetition_features_vs_python(spark):
    """Catalyst fold (sorted-array max-run = mode count) vs trivial python."""
    from collections import Counter

    from bloomfilter_spark.functions.textstats import repetition_features

    rows = [
        (1, "a a a a a a a a a a"),             # one dominant token
        (2, "the cat sat on the mat the cat sat again"),
        (3, "all distinct tokens right here now"),
        (4, "x y x y x y x y"),                  # dup trigrams galore
        (5, ""),                                 # empty
        (6, "   "),                              # whitespace only
        (7, "single"),
        (8, "two words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        repetition_features(df)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    for i, text in rows:
        ts = text.strip().lower().split()
        n = len(ts)
        row = got.loc[i]
        assert row["n_tokens"] == n
        if n == 0:
            assert row["uniq_token_ratio"] == 1.0
            assert row["top_token_ratio"] == 0.0
        else:
            assert row["uniq_token_ratio"] == round(len(set(ts)) / n, 6)
            assert row["top_token_ratio"] == round(
                Counter(ts).most_common(1)[0][1] / n, 6
            )
        tris = [" ".join(ts[j : j + 3]) for j in range(n - 2)]
        want_dup = round(1 - len(set(tris)) / len(tris), 6) if tris else 0.0
        assert row["dup_trigram_ratio"] == want_dup, (i, row["dup_trigram_ratio"])
        want_top = 0.0 if n == 0 else round(Counter(ts).most_common(1)[0][1] / n, 6)
        assert row["repetition_ok"] == (want_dup <= 0.3 and want_top <= 0.3)
    # spot-check the two failure modes and two passes
    assert not got.loc[1]["repetition_ok"]   # dominant token
    assert not got.loc[4]["repetition_ok"]   # duplicate trigrams
    assert bool(got.loc[3]["repetition_ok"]) and bool(got.loc[5]["repetition_ok"])


def test_repetition_features_long_doc_linear(spark):
    """Regression: token array must be materialized BEFORE the higher-order
    lambdas reference it — an inline split() re-tokenizes per shingle index
    (quadratic; a 150k-token doc used to hang).  50k tokens must finish in
    seconds."""
    import time

    from bloomfilter_spark.functions.textstats import repetition_features

    rows = [(1, ("tok " * 50000).strip()), (2, " ".join(f"w{i}" for i in range(50000)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t0 = time.perf_counter()
    out = repetition_features(df).orderBy("doc_id").toPandas()
    assert time.perf_counter() - t0 < 60
    assert out.loc[0, "top_token_ratio"] == 1.0
    assert out.loc[1, "uniq_token_ratio"] == 1.0
    assert out.loc[1, "dup_trigram_ratio"] == 0.0


def test_duplicate_span_stats_planted(spark):
    """Hand-computed coverage on planted cross-doc and within-doc repeats,
    plus the empty/short-doc edges."""
    from bloomfilter_spark.operators.spans import duplicate_span_stats

    rows = [
        (1, "a b c d x y"),        # shares "a b c d" with doc 2
        (2, "z a b c d w"),
        (3, "p q r"),              # shorter than k: no k-grams
        (4, ""),                   # empty
        (5, "m n m n m n m n"),    # self-repeating: fully covered
        (6, "   "),                # whitespace-only -> 0 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        duplicate_span_stats(df, "doc_id", "text", k=4, min_count=2)
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    want = {
        1: (6, 4, 0.666667),
        2: (6, 4, 0.666667),
        3: (3, 0, 0.0),
        4: (0, 0, 0.0),
        5: (8, 8, 1.0),
        6: (0, 0, 0.0),
    }
    for i, (nt, nd, ratio) in want.items():
        assert got.loc[i]["n_tokens"] == nt, i
        assert got.loc[i]["n_dup_tokens"] == nd, i
        assert got.loc[i]["dup_ratio"] == ratio, i


def test_duplicate_span_stats_validation():
    from bloomfilter_spark.operators.spans import duplicate_span_stats

    import pytest as _pytest

    with _pytest.raises(ValueError):
        duplicate_span_stats(None, "id", "t", k=0)
    with _pytest.raises(ValueError):
        duplicate_span_stats(None, "id", "t", min_count=0)


def test_connected_components_topologies(spark):
    """Chain (exercises pointer jumping), triangle, pair, isolated nodes."""
    from bloomfilter_spark.operators.components import connected_components

    # chain 1-2-...-12  |  triangle 20-21-22  |  pair 30-31
    edges = (
        [(i, i + 1) for i in range(1, 12)]
        + [(20, 21), (21, 22), (20, 22), (30, 31)]
    )
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in [*range(1, 13), 20, 21, 22, 30, 31, 40, 41]], "id long")
    got = (
        connected_components(edf, nodes=nodes, id_col="id")
        .toPandas()
        .set_index("id")["component"]
        .to_dict()
    )
    for i in range(1, 13):
        assert got[i] == 1, (i, got[i])
    for i in (20, 21, 22):
        assert got[i] == 20
    assert got[30] == 30 and got[31] == 30
    assert got[40] == 40 and got[41] == 41  # isolated


def test_connected_components_partitioning_invariant(spark):
    """The fixpoint is a pure function of the edge set — repartitioning
    must not change it."""
    from bloomfilter_spark.operators.components import connected_components

    edges = [(i, (i * 7) % 50) for i in range(50) if i != (i * 7) % 50]
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    a = connected_components(edf).toPandas().set_index("id")["component"]
    b = (
        connected_components(edf.repartition(17))
        .toPandas()
        .set_index("id")["component"]
    )
    assert a.sort_index().equals(b.sort_index())


def test_dedup_keep_one_representative_per_cluster(spark):
    from bloomfilter_spark.operators.components import dedup_keep

    df = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 4), (4, 7), (2, 9)], "id_a long, id_b long"
    )
    got = dedup_keep(df, "doc_id", pairs).toPandas().set_index("doc_id")
    assert got.loc[1]["component"] == 1 and bool(got.loc[1]["is_kept"])
    assert got.loc[4]["component"] == 1 and not got.loc[4]["is_kept"]
    assert got.loc[7]["component"] == 1 and not got.loc[7]["is_kept"]
    assert got.loc[9]["component"] == 2 and not got.loc[9]["is_kept"]
    # every cluster keeps exactly one row
    kept = got[got["is_kept"]]
    assert sorted(kept.index) == [0, 1, 2, 3, 5, 6, 8]


def test_sessionize_gap_boundaries(spark):
    """Merge/split at the exact gap: diff <= gap merges, diff > gap splits
    (session_window's closed [ts, ts+gap] semantics, verified here — the
    rule the SQL oracle replays with LAG > gap)."""
    from datetime import datetime, timedelta

    from bloomfilter_spark.operators.sessions import sessionize

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    gap = timedelta(hours=1)
    rows = [
        (1, t0, 10.0),
        (1, t0 + gap - timedelta(microseconds=1), 1.0),   # merges
        (1, t0 + 2 * gap - timedelta(microseconds=1), 2.0),  # chains on
        (1, t0 + 3 * gap + timedelta(seconds=1), 4.0),    # new session
        (2, t0, 7.0),                                     # other key
        (3, t0, 1.0),
        (3, t0 + gap, 1.0),                  # diff == gap: MERGES (closed)
        (3, t0 + 2 * gap + timedelta(microseconds=1), 1.0),  # > gap: split
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, value double")
    got = (
        sessionize(df, "user_id", "ts", gap="1 hour", value_col="value")
        .orderBy("user_id", "session_idx")
        .toPandas()
    )
    recs = got[["user_id", "session_idx", "n_events", "sum_value"]].values.tolist()
    assert recs == [
        [1, 1, 3, 13.0],
        [1, 2, 1, 4.0],
        [2, 1, 1, 7.0],
        [3, 1, 2, 2.0],
        [3, 2, 1, 1.0],
    ], recs
    s1 = got[(got.user_id == 1) & (got.session_idx == 1)].iloc[0]
    assert s1["session_end_us"] - s1["session_start_us"] == 2 * 3600 * 1000000 - 1


def test_bm25_matches_python_reference(spark):
    """Scores equal an independent plain-Python BM25 on a tiny corpus;
    rare terms outrank common ones at equal tf."""
    import math
    from collections import Counter

    from bloomfilter_spark.operators.search import bm25_search

    corpus = {
        1: "apple banana apple cherry",
        2: "banana banana banana durian",
        3: "cherry durian apple",
        4: "fig grape melon",
        5: "apple apple apple apple banana",
    }
    terms, k1, b = ["apple", "durian"], 1.2, 0.75
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    got = (
        bm25_search(df, "doc_id", "text", terms, k1=k1, b=b, topk=10)
        .toPandas()
        .set_index("doc_id")
    )

    toks = {d: t.split() for d, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfreq = {t: sum(t in ts for ts in toks.values()) for t in terms}
    want = {}
    for d, ts in toks.items():
        c = Counter(ts)
        s = 0.0
        hits = 0
        for t in terms:
            if c[t] == 0:
                continue
            hits += 1
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (c[t] * (k1 + 1)) / (
                c[t] + k1 * (1 - b + b * len(ts) / avgdl)
            )
        if hits:
            want[d] = (hits, round(s, 6))
    assert set(got.index) == set(want)
    for d, (hits, score) in want.items():
        assert got.loc[d]["n_hit_terms"] == hits
        assert abs(got.loc[d]["score"] - score) < 1e-9, (d, got.loc[d]["score"], score)
    # durian (df=2) is rarer than apple (df=3): doc 2 (1×durian, dl=4)
    # must outrank doc 3's apple-only contribution if ranked per idf —
    # full-order sanity: ranking is by total score descending
    scores = got["score"].tolist()
    assert scores == sorted(scores, reverse=True)


def test_bm25_empty_terms_raise():
    from bloomfilter_spark.operators.search import bm25_search

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_search(None, "id", "t", [])


def test_asof_join_backward_forward_and_ties(spark):
    from datetime import datetime

    from bloomfilter_spark.operators.temporal import asof_join

    T = lambda s: datetime(2024, 5, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, T(10)), (1, T(20)), (1, T(5)), (2, T(10))],
        "k long, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(1, T(10), 100.0), (1, T(18), 200.0)],
        "k long, ts timestamp_ntz, v double",
    )
    back = (
        asof_join(left, right, "k", "ts", ["v"])
        .orderBy("k", "ts")
        .toPandas()
    )
    # ts=5: no prior error -> null; ts=10: tie matches (<=); ts=20 -> 18
    assert back["v_matched"].tolist()[0] != back["v_matched"].tolist()[0]  # NaN
    assert back["v_matched"].tolist()[1] == 100.0
    assert back["v_matched"].tolist()[2] == 200.0
    assert back["v_matched"].tolist()[3] != back["v_matched"].tolist()[3]  # key 2
    fwd = (
        asof_join(left, right, "k", "ts", ["v"], direction="forward")
        .orderBy("k", "ts")
        .toPandas()
    )
    assert fwd["v_matched"].tolist()[0] == 100.0   # ts=5 -> 10
    assert fwd["v_matched"].tolist()[1] == 100.0   # tie matches (>=)
    assert fwd["v_matched"].tolist()[2] != fwd["v_matched"].tolist()[2]  # none ahead


def test_asof_join_matches_pandas_merge_asof(spark):
    import numpy as np
    import pandas as pd

    from bloomfilter_spark.operators.temporal import asof_join

    rng = np.random.RandomState(7)
    lp = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 200),
            "ts": pd.to_datetime(rng.randint(0, 10_000, 200), unit="s"),
        }
    ).sort_values("ts").reset_index(drop=True)
    rp = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 80),
            "ts": pd.to_datetime(rng.randint(0, 10_000, 80), unit="s"),
            "v": rng.rand(80).round(6),
        }
    ).drop_duplicates(["k", "ts"]).sort_values("ts").reset_index(drop=True)
    want = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
    got = (
        asof_join(
            spark.createDataFrame(lp.assign(i=lp.index), "k long, ts timestamp_ntz, i long"),
            spark.createDataFrame(rp, "k long, ts timestamp_ntz, v double"),
            "k",
            "ts",
            ["v"],
        )
        .orderBy("i")
        .toPandas()
    )
    assert (
        got["v_matched"].fillna(-1).tolist()
        == want["v"].fillna(-1).tolist()
    )


def test_bm25_indexed_equals_scan_and_prunes(spark, tmp_path):
    """The indexed path must return the identical top-k, and its scan
    must show PartitionFilters on the bucket column (files for other
    buckets never read)."""
    from bloomfilter_spark.operators.search import (
        bm25_search,
        bm25_search_indexed,
        write_inverted_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = str(tmp_path / "idx")
    write_inverted_index(docs, idx, "doc_id", "text", n_buckets=16)
    terms = ["hash", "join", "vector"]
    scan = bm25_search(docs, "doc_id", "text", terms, topk=15).toPandas()
    indexed = bm25_search_indexed(spark, idx, terms, topk=15, n_buckets=16)
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan
    got = indexed.toPandas()
    assert scan.values.tolist() == got.values.tolist()


def test_pii_redaction_categories(spark):
    from bloomfilter_spark.functions.pii import redact_pii

    rows = [
        (1, "mail a@b.com and c.d+x@e.org now"),
        (2, "server 192.168.0.1 and 10.0.0.255 up"),
        (3, "ssn 123-45-6789 phone +1 555-0123 end"),
        (4, "clean text only"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = redact_pii(df, "text").orderBy("doc_id").toPandas().set_index("doc_id")
    assert got.loc[1][["n_email", "n_ip", "n_ssn", "n_phone"]].tolist() == [2, 0, 0, 0]
    assert got.loc[1]["redacted"] == "mail [EMAIL] and [EMAIL] now"
    assert got.loc[2][["n_email", "n_ip"]].tolist() == [0, 2]
    assert got.loc[2]["redacted"] == "server [IP] and [IP] up"
    # the SSN is consumed by the SSN pass and NOT double-counted as phone
    assert got.loc[3][["n_ssn", "n_phone"]].tolist() == [1, 1]
    assert got.loc[3]["redacted"] == "ssn [SSN] phone [PHONE] end"
    assert got.loc[4][["n_email", "n_ip", "n_ssn", "n_phone"]].sum() == 0
    assert got.loc[4]["redacted"] == "clean text only"
    assert got.loc[5]["redacted"] == ""


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_connected_components_vs_union_find(spark, seed):
    """Differential: the distributed fixpoint equals a plain union-find
    on random graphs (including self-loops and duplicate edges)."""
    import numpy as np

    from bloomfilter_spark.operators.components import connected_components

    rng = np.random.RandomState(seed)
    n = 80
    edges = [(int(a), int(b)) for a, b in rng.randint(0, n, (120, 2))]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for v in range(n):
        root = find(v)
        want.setdefault(root, set()).add(v)
    # canonical label = min member of each component
    want_label = {v: min(m) for m in want.values() for v in m}

    edf = spark.createDataFrame(
        [e for e in edges if e[0] != e[1]], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = (
        connected_components(edf, nodes=nodes, id_col="id")
        .toPandas()
        .set_index("id")["component"]
        .to_dict()
    )
    assert got == want_label


def test_asof_join_null_timestamps(spark):
    """Null-ts left rows match nothing (both directions); null-ts right
    rows are never matchable."""
    from datetime import datetime

    from bloomfilter_spark.operators.temporal import asof_join

    T = datetime(2024, 5, 1)
    left = spark.createDataFrame(
        [(1, T), (1, None)], "k long, ts timestamp_ntz"
    )
    right = spark.createDataFrame(
        [(1, T, 1.0), (1, None, 99.0)], "k long, ts timestamp_ntz, v double"
    )
    for direction in ("backward", "forward"):
        got = (
            asof_join(left, right, "k", "ts", ["v"], direction=direction)
            .toPandas()
            .sort_values("ts", na_position="last")
        )
        vals = got["v_matched"].tolist()
        assert vals[0] == 1.0          # real ts matches the real right row
        assert vals[1] != vals[1]      # null ts -> NaN, 99.0 never leaks


def test_asof_join_null_keys_never_match(spark):
    """NULL-key left rows match nothing and NULL-key right rows are never
    matchable (pandas merge_asof / DuckDB ASOF equality semantics) — the
    window partition for NULLs must not pair them (r3 ADVICE)."""
    from datetime import datetime

    from bloomfilter_spark.operators.temporal import asof_join

    T0, T1 = datetime(2024, 5, 1), datetime(2024, 5, 2)
    left = spark.createDataFrame(
        [(1, T1), (None, T1)], "k long, ts timestamp_ntz"
    )
    right = spark.createDataFrame(
        [(1, T0, 1.0), (None, T0, 99.0)], "k long, ts timestamp_ntz, v double"
    )
    got = (
        asof_join(left, right, "k", "ts", ["v"])
        .toPandas()
        .sort_values("k", na_position="last")
    )
    vals = got["v_matched"].tolist()
    assert vals[0] == 1.0      # real key matches its own right row
    assert vals[1] != vals[1]  # NULL key -> NaN; 99.0 must never leak


def test_normalize_url_rules(spark):
    from bloomfilter_spark.functions.urls import host_of, normalize_url

    cases = {
        "HTTP://WWW.Ex.COM:80/A/B/#frag": "http://www.ex.com/A/B",
        "https://Ex.com:443/": "https://ex.com",
        "https://ex.com:8443/x": "https://ex.com:8443/x",     # non-default kept
        "http://ex.com/p?z=2&utm_source=a&a=1&fbclid=q": "http://ex.com/p?a=1&z=2",
        "http://ex.com/p?utm_x=1": "http://ex.com/p",          # all tracked
        "ftp://Ex.com:80/f": "ftp://ex.com:80/f",              # :80 only for http
        "http://user:pw@Ex.com/x": "http://user:pw@ex.com/x",
        "example.com/a/": "example.com/a",                    # no scheme
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = df.select("url", normalize_url("url").alias("c")).toPandas()
    for _, r in got.iterrows():
        assert r["c"] == cases[r["url"]], (r["url"], r["c"])
    hosts = df.select("url", host_of("url").alias("h")).toPandas()
    want_hosts = {
        "HTTP://WWW.Ex.COM:80/A/B/#frag": "www.ex.com",
        "https://Ex.com:443/": "ex.com",
        "https://ex.com:8443/x": "ex.com",
        "http://ex.com/p?z=2&utm_source=a&a=1&fbclid=q": "ex.com",
        "http://ex.com/p?utm_x=1": "ex.com",
        "ftp://Ex.com:80/f": "ex.com",
        "http://user:pw@Ex.com/x": "ex.com",
        "example.com/a/": "",
    }
    for _, r in hosts.iterrows():
        assert r["h"] == want_hosts[r["url"]], (r["url"], r["h"])


def test_tfidf_vectors_norm_and_reference(spark):
    """Unit L2 norm per doc; values match a plain-Python replay (incl.
    the md5 dim hash and collision summing)."""
    import hashlib
    import math
    from collections import Counter, defaultdict

    from bloomfilter_spark.functions.features import tfidf_vectors

    corpus = {1: "a b a c", 2: "b b d", 3: "c d d e e e"}
    dim = 8
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    got = tfidf_vectors(df, "doc_id", "text", dim=dim).toPandas()

    n = len(corpus)
    tf = {d: Counter(t.split()) for d, t in corpus.items()}
    dfreq = Counter(t for d in tf.values() for t in d)
    want = {}
    for d, c in tf.items():
        vec = defaultdict(float)
        for t, f in c.items():
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % dim
            vec[h] += f * (math.log((n + 1) / (dfreq[t] + 1)) + 1.0)
        norm = math.sqrt(sum(w * w for w in vec.values()))
        for h, w in vec.items():
            want[(d, h)] = round(w / norm, 6)
    assert len(got) == len(want)
    for _, r in got.iterrows():
        assert abs(r["w"] - want[(r["doc_id"], r["dim"])]) < 1e-9
    norms = got.groupby("doc_id")["w"].apply(lambda s: (s**2).sum())
    assert ((norms - 1.0).abs() < 1e-4).all()


def test_json_extraction_malformed_tolerant(spark):
    """get_json_object yields NULL (not an error) on malformed / missing
    JSON — corrupt props rows are data, not failures."""
    from pyspark.sql import functions as F

    rows = [
        (1, '{"k": 5}'),
        (2, '{"k": "notanum"}'),
        (3, "{broken"),
        (4, None),
        (5, '{"other": 1}'),
    ]
    df = spark.createDataFrame(rows, "id long, props string")
    got = (
        df.select(
            "id", F.get_json_object("props", "$.k").try_cast("long").alias("k")
        )
        .orderBy("id")
        .toPandas()
    )
    ks = got["k"].tolist()
    assert ks[0] == 5
    assert all(k != k for k in ks[1:])  # NaN for all the rest


def test_token_budget_supplied_vocab_exact(spark):
    """With a tokenizer-exported vocab, in-vocab words contribute their
    exact piece counts; OOV words fall back to ceil(len/4); empty/NULL
    text scores 0 but the row survives."""
    import math

    from bloomfilter_spark.functions.tokenbudget import token_budget

    docs = spark.createDataFrame(
        [
            (1, "hello tokenization hello"),
            (2, "unbelievable"),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("hello", 1), ("tokenization", 3)], "word string, n_pieces int"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens_est"])
        for r in token_budget(docs, "doc_id", "text", vocab=vocab).collect()
    }
    assert got[1] == (3, 1 + 3 + 1)
    assert got[2] == (1, math.ceil(len("unbelievable") / 4))  # OOV
    assert got[3] == (0, 0)
    assert got[4] == (0, 0)


def test_token_budget_corpus_vocab_and_groups(spark):
    """Corpus-derived vocabulary: the frequent word counts as 1 token,
    rare long words split; budget_by_group sums per source."""
    from bloomfilter_spark.functions.tokenbudget import (
        budget_by_group,
        corpus_vocabulary,
        token_budget,
    )

    rows = [(i, "the common words here", "a") for i in range(8)]
    rows += [(100, "the extraordinarily incomprehensible text", "b")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    vocab = {r["word"] for r in corpus_vocabulary(docs, "text", top_k=4).collect()}
    assert vocab == {"the", "common", "words", "here"}  # df 9,8,8,8

    per_doc = {
        r["doc_id"]: r["n_tokens_est"]
        for r in token_budget(docs, "doc_id", "text", top_k=4).collect()
    }
    assert per_doc[0] == 4  # all in vocab
    # the(1) + ceil(15/4)=4 + ceil(16/4)=4 + ceil(4/4)=1
    assert per_doc[100] == 1 + 4 + 4 + 1

    groups = {
        r["source"]: (r["n_docs"], r["tokens_est"])
        for r in budget_by_group(docs, "source", "text", top_k=4).collect()
    }
    assert groups["a"] == (8, 32)
    assert groups["b"] == (1, 10)

    # a group whose docs have no tokens still appears, with 0 tokens
    docs2 = docs.unionByName(
        spark.createDataFrame([(200, "", "c")], docs.schema)
    )
    g2 = {
        r["source"]: r["tokens_est"]
        for r in budget_by_group(docs2, "source", "text", top_k=4).collect()
    }
    assert g2["c"] == 0

    # NULL group key: the unlabeled slice's budget must survive the final
    # join (eqNullSafe), not silently read 0
    docs3 = docs.unionByName(
        spark.createDataFrame([(300, "the common words here", None)], docs.schema)
    )
    g3 = {
        r["source"]: r["tokens_est"]
        for r in budget_by_group(docs3, "source", "text", top_k=4).collect()
    }
    assert g3[None] == 4


def test_token_budget_duplicate_vocab_rows_no_fanout(spark):
    """A duplicated vocab word must not fan out the join and inflate
    counts; conflicting duplicates collapse to the smaller piece count."""
    from bloomfilter_spark.functions.tokenbudget import token_budget

    docs = spark.createDataFrame(
        [(1, "the the the")], "doc_id long, text string"
    )
    vocab = spark.createDataFrame(
        [("the", 1), ("the", 2)], "word string, n_pieces int"
    )
    row = token_budget(docs, "doc_id", "text", vocab=vocab).collect()[0]
    assert (row["n_words"], row["n_tokens_est"]) == (3, 3)


def test_token_budget_vocab_case_insensitive_and_expr_null(spark):
    """A case-sensitive tokenizer export still matches the lowercased
    corpus tokens; token_budget_expr scores NULL/empty text 0, not NULL."""
    from pyspark.sql import functions as F

    from bloomfilter_spark.functions.tokenbudget import (
        token_budget,
        token_budget_expr,
    )

    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    vocab = spark.createDataFrame(
        [("Hello", 1), ("WORLD", 1)], "word string, n_pieces int"
    )
    row = token_budget(docs, "doc_id", "text", vocab=vocab).collect()[0]
    assert row["n_tokens_est"] == 2  # both matched, not OOV ceil fallback

    vals = (
        spark.createDataFrame(
            [(None,), ("",), ("four char word",)], "text string"
        )
        .select(token_budget_expr(F.col("text")).alias("est"))
        .collect()
    )
    assert [r["est"] for r in vals] == [0, 0, 1 + 1 + 1]


def test_token_budget_plan_broadcasts_vocab(spark):
    """The vocabulary join must be a BroadcastHashJoin — a sort-merge
    join would shuffle the exploded word stream (corpus-sized) against a
    tokenizer-sized table."""
    from bloomfilter_spark.functions.tokenbudget import token_budget

    docs = spark.createDataFrame(
        [(i, "some words here") for i in range(100)], "doc_id long, text string"
    )
    vocab = spark.createDataFrame([("some", 1)], "word string, n_pieces int")
    plan = token_budget(docs, "doc_id", "text", vocab=vocab)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_compression_features_replay(spark):
    """Spark output equals a direct python zlib replay; repetitive text
    scores low ratio, high-entropy text scores high."""
    import hashlib
    import zlib

    from bloomfilter_spark.functions.textstats import compression_features

    noisy = " ".join(
        hashlib.sha256(str(i).encode()).hexdigest() for i in range(50)
    )
    rows = [
        (1, "spam " * 2000),
        (2, noisy),
        (3, ""),
        (4, "a normal little sentence about spark and ducks"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        compression_features(df, "text", "doc_id")
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    for i, t in rows:
        b = t.encode()
        assert got.loc[i]["n_bytes"] == len(b)
        assert got.loc[i]["n_compressed"] == len(zlib.compress(b, 6))
        assert got.loc[i]["compression_ratio"] == round(
            len(zlib.compress(b, 6)) / max(1, len(b)), 6
        )
    assert got.loc[1]["compression_ratio"] < 0.01      # pure repetition
    assert got.loc[2]["compression_ratio"] > 0.5       # high entropy
    assert not got.loc[1]["compression_ok"]
    assert bool(got.loc[2]["compression_ok"]) and bool(got.loc[4]["compression_ok"])


def test_compression_features_null_id_passes_through(spark):
    """A NULL doc_id row (arrives as NaN in the Arrow batch) must pass
    through as a null-id row with computed features — the library-wide
    map-only null contract — not crash the whole task (r3 ADVICE)."""
    import zlib

    from bloomfilter_spark.functions.textstats import compression_features

    df = spark.createDataFrame(
        [(None, "some text here"), (7, "other text")],
        "doc_id long, text string",
    )
    got = compression_features(df, "text", "doc_id").toPandas()
    assert len(got) == 2
    nrow = got[got["doc_id"].isna()].iloc[0]
    assert nrow["n_compressed"] == len(zlib.compress(b"some text here", 6))


def test_snapshot_diff_statuses(spark):
    from bloomfilter_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", None)],
        "k long, t string, u string",
    )
    new = spark.createDataFrame(
        [(2, "b", "y"), (3, "c", ""), (4, "d", "z")],
        "k long, t string, u string",
    )
    got = (
        snapshot_diff(old, new, "k", ["t", "u"])
        .orderBy("k")
        .toPandas()
        .set_index("k")["status"]
        .to_dict()
    )
    # NULL and '' hash identically by contract -> key 3 is unchanged
    assert got == {1: "removed", 2: "unchanged", 3: "unchanged", 4: "added"}

    changed = spark.createDataFrame([(2, "B", "y")], "k long, t string, u string")
    got2 = (
        snapshot_diff(old, changed, "k", ["t", "u"])
        .orderBy("k")
        .toPandas()
        .set_index("k")["status"]
        .to_dict()
    )
    assert got2[2] == "changed"


def test_sessionize_and_asof_single_shuffle_plans(spark):
    """Plan discipline: sessionize (incl. its session_idx window) and
    asof_join each compile to EXACTLY ONE Exchange — the session/window
    partitioning is reused, nothing reshuffles twice."""
    from bloomfilter_spark.operators.sessions import sessionize
    from bloomfilter_spark.operators.temporal import asof_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p1 = (
        sessionize(ev, "user_id", "ts", value_col="value")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p1.count("Exchange") == 1, p1
    clicks = ev.filter(F.col("event_type") == "click")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    p2 = (
        asof_join(clicks, errors, "user_id", "ts", ["value"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p2.count("Exchange") == 1, p2


class TestWordNgrams:
    def test_word_ngrams_basic_and_short_docs(self, spark):
        from bloomfilter_spark.functions.textstats import word_ngrams
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, ["a", "b", "c", "d"]), (2, ["x", "y"]), (3, [])],
            "id long, ts array<string>",
        )
        got = {
            r["id"]: r["g"]
            for r in df.select("id", word_ngrams("ts", 3).alias("g")).collect()
        }
        assert got[1] == ["a b c", "b c d"]
        assert got[2] == []  # size < n must yield empty, not descend
        assert got[3] == []

    def test_word_ngrams_n1_and_validation(self, spark):
        import pytest
        from bloomfilter_spark.functions.textstats import word_ngrams

        df = spark.createDataFrame([(1, ["a", "b"])], "id long, ts array<string>")
        assert df.select(word_ngrams("ts", 1).alias("g")).collect()[0]["g"] == ["a", "b"]
        with pytest.raises(ValueError):
            word_ngrams("ts", 0)


class TestHybridSearch:
    def test_rerank_subset_of_bm25_candidates(self, spark, documents):
        from tests.conftest import SF_DIR

        from bloomfilter_spark.operators.search import bm25_search, hybrid_search

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        qpdf = emb.filter("vec_id = 0").toPandas().rename(
            columns={"vec_id": "qid", "embedding": "vector"})
        out = hybrid_search(documents, emb, ["hash", "join"], qpdf[["qid", "vector"]],
                            topk_recall=30, topk=5).toPandas()
        cands = {r["doc_id"] for r in
                 bm25_search(documents, "doc_id", "text", ["hash", "join"],
                             topk=30).collect()}
        assert len(out) == 5
        assert set(out["doc_id"]) <= cands  # rerank never leaves the recall set
        assert out["rank"].tolist() == [1, 2, 3, 4, 5]
        assert out["sim"].is_monotonic_decreasing


class TestSpanRemoval:
    def test_planted_repeat_removed_everywhere(self, spark):
        from bloomfilter_spark.operators.spans import remove_duplicate_spans

        boiler = "all rights reserved contact us"
        docs = spark.createDataFrame(
            [
                (1, f"unique alpha words {boiler}"),
                (2, f"{boiler} other beta content entirely"),
                (3, "totally fresh gamma text nothing shared"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["id"]: r
            for r in remove_duplicate_spans(docs, "doc_id", "text", k=5).collect()
        }
        # the 5-token boilerplate repeats -> removed from both docs
        assert boiler not in out[1]["text_clean"]
        assert boiler not in out[2]["text_clean"]
        assert out[1]["text_clean"] == "unique alpha words"
        assert out[2]["text_clean"] == "other beta content entirely"
        assert out[1]["n_removed"] == 5 and out[2]["n_removed"] == 5
        # untouched doc survives verbatim (lowercased rule)
        assert out[3]["text_clean"] == "totally fresh gamma text nothing shared"
        assert out[3]["n_removed"] == 0

    def test_fully_duplicated_doc_empties(self, spark):
        from bloomfilter_spark.operators.spans import remove_duplicate_spans

        docs = spark.createDataFrame(
            [(1, "same four token text"), (2, "same four token text")],
            "doc_id long, text string",
        )
        out = remove_duplicate_spans(docs, "doc_id", "text", k=4).collect()
        assert all(r["text_clean"] == "" and r["n_removed"] == 4 for r in out)


class TestChunking:
    def test_windows_overlap_and_tail(self, spark):
        import pytest
        from bloomfilter_spark.operators.chunking import chunk_documents

        toks = " ".join(f"t{i}" for i in range(10))
        df = spark.createDataFrame(
            [(1, toks), (2, "a b"), (3, ""), (4, None)],
            "doc_id long, text string",
        )
        got = {
            (r["id"], r["chunk_idx"]): (r["n_chunk_tokens"], r["chunk_text"])
            for r in chunk_documents(df, "doc_id", "text", 4, 2).collect()
        }
        # doc 1: starts 0,2,4,6 (step 2, capped at n-overlap=8 so no
        # chunk is a subset of its predecessor); last window reaches t9
        assert got[(1, 0)] == (4, "t0 t1 t2 t3")
        assert got[(1, 1)] == (4, "t2 t3 t4 t5")
        assert got[(1, 3)] == (4, "t6 t7 t8 t9")
        assert len([k for k in got if k[0] == 1]) == 4
        # no chunk fully contained in the previous one
        texts = [got[(1, i)][1] for i in range(4)]
        for prev, cur in zip(texts, texts[1:]):
            assert not set(cur.split()) <= set(prev.split())
        # short doc -> one short chunk; empty/null docs -> none
        assert got[(2, 0)] == (2, "a b")
        assert not [k for k in got if k[0] in (3, 4)]
        with pytest.raises(ValueError):
            chunk_documents(df, "doc_id", "text", 4, 4)
        with pytest.raises(ValueError):
            chunk_documents(df, "doc_id", "text", 0)

    def test_map_only_plan(self, spark, documents):
        from bloomfilter_spark.operators.chunking import chunk_documents

        plan = (
            chunk_documents(documents, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# skew diagnosis
# ---------------------------------------------------------------------------


def test_skew_report_semantics(spark):
    """rows/share/suggested_salts follow the documented formula exactly;
    NULL keys are excluded; ordering is (rows desc, key asc)."""
    from bloomfilter_spark.plans.skew import skew_report

    rows = (
        [("hot",)] * 90 + [("warm",)] * 8 + [("cold",)] * 2 + [(None,)] * 5
    )
    df = spark.createDataFrame(rows, "k string")
    rep = skew_report(df, "k", num_partitions=10, top=10).toPandas()
    assert list(rep.k) == ["hot", "warm", "cold"]  # nulls gone
    assert list(rep.rows) == [90, 8, 2]
    # total=100, 10 partitions -> target 10 rows/task: hot needs ceil(90/10)=9
    assert list(rep.suggested_salts) == [9, 1, 1]
    assert abs(rep.share.iloc[0] - 0.9) < 1e-9


def test_skew_report_empty_and_top(spark):
    from bloomfilter_spark.plans.skew import skew_report

    empty = spark.createDataFrame([], "k string")
    rep = skew_report(empty, "k", num_partitions=8).toPandas()
    assert len(rep) == 0
    assert list(rep.columns) == ["k", "rows", "share", "suggested_salts"]

    many = spark.createDataFrame([(f"k{i % 7}",) for i in range(70)], "k string")
    rep2 = skew_report(many, "k", num_partitions=4, top=3).toPandas()
    assert len(rep2) == 3  # top cap honored
    assert (rep2.rows == 10).all()


def test_srp_geometry_formula():
    """Geometry solver: honors the recall budget at the threshold, prefers
    the largest (most selective) r that fits the bit budget, and
    validates its inputs."""
    import math

    import pytest

    from bloomfilter_spark.operators.ann import srp_geometry

    for thr, rec in ((0.9, 1 - 1e-9), (0.99, 1 - 1e-9), (0.7, 1 - 1e-4)):
        n_bits, bands = srp_geometry(thr, rec, max_bits=4096)
        r = n_bits // bands
        assert n_bits == bands * r and n_bits <= 4096
        p = 1 - math.acos(thr) / math.pi
        assert (1 - p**r) ** bands <= 1 - rec  # recall budget met
        # one more bit per band would blow the budget or the bit cap
        pr1 = p ** (r + 1)
        b1 = math.ceil(math.log(1 - rec) / math.log(1 - pr1))
        assert b1 * (r + 1) > 4096

    with pytest.raises(ValueError, match="threshold"):
        srp_geometry(1.5)
    with pytest.raises(ValueError, match="target_recall"):
        srp_geometry(0.9, 2.0)
    with pytest.raises(ValueError, match="raise max_bits"):
        srp_geometry(0.5, 1 - 1e-12, max_bits=4)
