"""Self-test of the benchmark's output checks: every check passes on a
correct output and rejects a planted wrong one, and a rejected check counts
as a failed operation.  No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # checkout root

import checks  # noqa: E402
from bloomfilter_spark.operators.build import bloom_factory, hll_factory  # noqa: E402
from bloomfilter_spark.operators.pipeline import pages_suite_specs  # noqa: E402

N = 4000


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(7)
    ids = np.arange(N)
    hosts = np.array([f"site{h}.example.com" for h in rng.zipf(1.3, N) % 50])
    urls = pd.Series([f"https://{h}/p{i}" for h, i in zip(hosts, ids)], dtype=object)
    text_len = rng.integers(20, 3000, N).astype(float)
    langs = rng.choice(["en", "de", "fr"], N)
    cols = {"url": urls, "host": pd.Series(hosts, dtype=object),
            "lang": pd.Series(langs, dtype=object), "text_len": pd.Series(text_len)}
    blobs = {}
    for name, (col, factory) in pages_suite_specs(N).items():
        if col == "text_hash":
            col = "url"  # any inserted key stream will do for this test
        sk = factory()
        values = cols[col]
        sk.update(values.to_numpy() if col == "text_len" else values)
        blobs[name] = sk.to_bytes()
    hv, hc = np.unique(text_len.astype(np.int64), return_counts=True)
    top = pd.Series(hosts).value_counts()
    exact = {
        "distinct_urls": N,
        "distinct_hosts": len(top),
        "top_hosts": [[h, int(c)] for h, c in top.head(20).items()],
        "langs": [[k, int(c)] for k, c in pd.Series(langs).value_counts().items()],
        "text_len_hist": [[int(v), int(c)] for v, c in zip(hv, hc)],
        "antijoin": [3 * N // 4, 123456],
    }
    absent = urls + "#absent"
    return blobs, exact, urls, absent


def checker_for(data):
    blobs, exact, urls, absent = data
    ledger = checks.Ledger()
    return ledger, checks.OutputChecker(
        ledger, exact, urls, absent, urls, absent, (N // 2, N // 2), url_keys=True)


def zero_one_word(blob: bytes) -> bytes:
    bloom = checks.load(blob)
    words = bloom.words
    words[np.flatnonzero(words)[0]] = 0
    return bloom.to_bytes()


def test_correct_outputs_pass(data):
    blobs, exact, urls, absent = data
    ledger, checker = checker_for(data)
    assert checker.check("suite", dict(blobs))
    assert checker.check("ckpt", dict(blobs))
    assert checker.check("bloom", blobs["bloom_url"])
    assert checker.check("hll", blobs["hll_url"])
    assert checker.check("kll", blobs["kll_textlen"])
    assert checker.check("probe", {(True, True): N // 2, (False, False): N // 2 - 3,
                                   (False, True): 3})
    assert checker.check("antijoin", tuple(exact["antijoin"]))
    assert (ledger.attempted, ledger.failed) == (7, 0), ledger.errors


def test_bloom_with_one_word_zeroed_is_rejected(data):
    blobs, _, urls, absent = data
    bad = zero_one_word(blobs["bloom_url"])
    with pytest.raises(checks.CheckFailed, match="false negatives"):
        checks.check_bloom(bad, urls, absent)
    ledger, checker = checker_for(data)
    assert not checker.check("suite", dict(blobs, bloom_url=bad))
    assert (ledger.attempted, ledger.failed) == (1, 1)


def test_truncated_blob_is_rejected(data):
    blobs, *_ = data
    ledger, checker = checker_for(data)
    assert checker.check("suite", dict(blobs))
    truncated = dict(blobs, kll_textlen=blobs["kll_textlen"][:-9])
    assert not checker.check("resume", truncated)
    assert not checker.check("bloom", blobs["bloom_url"][:40])
    assert (ledger.attempted, ledger.failed) == (3, 2)
    with pytest.raises(checks.CheckFailed, match="does not deserialize"):
        checks.load(blobs["hll_url"][:10])


def test_shifted_hll_estimate_is_rejected(data):
    blobs, exact, *_ = data
    est = checks.load(blobs["hll_url"]).estimate()
    checks.check_hll(est, exact["distinct_urls"])
    shifted = est + 1.01 * checks.HLL_URL_REL * exact["distinct_urls"] + abs(est - N)
    with pytest.raises(checks.CheckFailed, match="hll"):
        checks.check_hll(shifted, exact["distinct_urls"])
    # an HLL over other keys is a wrong output of the hll operation
    ledger, checker = checker_for(data)
    other = hll_factory(14)()
    other.update(pd.Series([f"k{i}" for i in range(2 * N)], dtype=object))
    assert not checker.check("hll", other.to_bytes())
    assert (ledger.attempted, ledger.failed) == (1, 1)


def test_antijoin_with_one_extra_row_is_rejected(data):
    _, exact, *_ = data
    rows, id_sum = exact["antijoin"]
    ledger, checker = checker_for(data)
    assert not checker.check("antijoin", (rows + 1, id_sum + 4 * N))
    assert (ledger.attempted, ledger.failed) == (1, 1)


def test_other_planted_outputs_are_rejected(data):
    blobs, exact, urls, absent = data
    # a Bloom sized for 100 keys saturates: its FPP breaks the 2x gate
    tiny = bloom_factory(100, 0.01)()
    tiny.update(urls)
    with pytest.raises(checks.CheckFailed, match="fpp"):
        checks.check_bloom(tiny.to_bytes(), urls, absent)
    # a CMS that lost one host's mass under-counts it
    with pytest.raises(checks.CheckFailed, match="cms"):
        top = dict(exact["top_hosts"])
        host = next(iter(top))
        checks.check_cms(blobs["cms_host"], {**top, host: top[host] + 1000})
    # a quantile sketch over the wrong values breaks the rank gate
    with pytest.raises(checks.CheckFailed):
        values, counts = checks.text_len_hist(exact)
        checks.check_quantiles(blobs["kll_textlen"], values * 2, counts)
    # a probe that missed one present key has a false negative
    with pytest.raises(checks.CheckFailed, match="false negatives"):
        checks.check_probe_counts({(True, True): N // 2 - 1, (True, False): 1,
                                   (False, False): N // 2}, N // 2, N // 2)
    # a checkpointed build that differs from the plain build in one sketch
    ledger, checker = checker_for(data)
    assert checker.check("suite", dict(blobs))
    assert not checker.check("ckpt", dict(blobs, hll_host=blobs["hll_url"]))
    assert (ledger.attempted, ledger.failed) == (2, 1)


def test_repeated_output_is_checked_once_but_counted(data):
    blobs, *_ = data
    ledger, checker = checker_for(data)
    for _ in range(3):
        assert checker.check("suite", dict(blobs))
    assert (ledger.attempted, ledger.failed) == (3, 0)
