"""Output checks for every benchmark operation.

Each check compares an operation's output with exact answers computed once
per seed by plain Spark aggregation (see inputs.py), using only contracts
the library's own test suite already pins, with the tests' own bounds:

- Bloom: zero false negatives over every inserted key, and observed FPP on
  keys known to be absent at most 2x the configured rate
  (tests/test_pages.py::test_build_suite_prehashed).
- HLL: url cardinality within 4*1.04/sqrt(2^14) relative, host cardinality
  within max(3, 5%) (test_build_suite_one_scan_accuracy).
- CMS: exact <= estimate <= exact + error_bound() + 1 (same test).
- KLL / t-digest: at q in (0.1, 0.5, 0.9) the estimate's rank interval is
  within 0.04 of q (tests/test_spark_build.py::
  test_kll_tree_merge_512_partitions).
- Checkpointed build, resume and the single-sketch builds: bit-identical
  to the plain suite build; commutative kinds bit-identical across
  partitionings.
- Anti-join: exact row count and id sum.

Checks take serialized blobs where the operation produced a sketch, so a
truncated or corrupt blob fails at deserialization.  No check needs Spark.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from bloomfilter_spark.sketches import serde

CONFIGURED_FPP = 0.01
FPP_GATE = 2 * CONFIGURED_FPP
HLL_URL_REL = 4 * 1.04 / math.sqrt(2**14)
RANK_GATE = 0.04
RANK_QS = (0.1, 0.5, 0.9)

# sketches whose merge is commutative, so their bits must not depend on how
# the input was partitioned
COMMUTATIVE_SUITE = ("bloom_url", "bloom_texthash", "hll_url", "hll_host",
                     "cms_host", "cms_lang", "dds_textlen")


class CheckFailed(AssertionError):
    """An operation's output broke one of its contracts."""


def require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


def load(blob: bytes):
    """Deserialize one output blob; a corrupt or truncated blob fails the
    check instead of escaping as a library error."""
    try:
        return serde.deserialize(bytes(blob))
    except (ValueError, KeyError, TypeError) as exc:
        raise CheckFailed(f"blob does not deserialize: {exc}") from exc


def check_bloom(blob: bytes, present, absent) -> float:
    """Zero false negatives over `present`; observed FPP over `absent` within
    the gate.  Returns the observed FPP."""
    bloom = load(blob)
    hits = np.asarray(bloom.contains(present), dtype=bool)
    misses = int(len(hits) - hits.sum())
    require(misses == 0, f"bloom: {misses} false negatives of {len(hits)}")
    fpp = float(np.asarray(bloom.contains(absent), dtype=bool).mean())
    require(fpp <= FPP_GATE, f"bloom: observed fpp {fpp:.4f} > {FPP_GATE}")
    return fpp


def check_probe_counts(counts: dict, exact_present: int, exact_absent: int) -> float:
    """Probe output {(present, hit): rows}: every present key hit, absent
    hits within the FPP gate.  Returns the observed FPP."""
    got_present = counts.get((True, True), 0) + counts.get((True, False), 0)
    got_absent = counts.get((False, True), 0) + counts.get((False, False), 0)
    require(
        (got_present, got_absent) == (exact_present, exact_absent),
        f"probe: saw {got_present}/{got_absent} present/absent rows, "
        f"expected {exact_present}/{exact_absent}",
    )
    fn = counts.get((True, False), 0)
    require(fn == 0, f"probe: {fn} false negatives")
    fpp = counts.get((False, True), 0) / max(1, exact_absent)
    require(fpp <= FPP_GATE, f"probe: observed fpp {fpp:.4f} > {FPP_GATE}")
    return fpp


def check_hll(estimate: float, exact: int, rel: float = HLL_URL_REL, floor: float = 0.0) -> None:
    err = abs(estimate - exact)
    require(
        err <= max(floor, rel * exact),
        f"hll: estimate {estimate:.1f} vs exact {exact} (bound {max(floor, rel * exact):.1f})",
    )


def check_cms(blob: bytes, exact: dict) -> None:
    """exact: key -> true count, for the keys to query."""
    cms = load(blob)
    keys = list(exact)
    est = cms.query(pd.Series(keys, dtype=object))
    bound = cms.error_bound() + 1
    for key, e in zip(keys, est):
        true = exact[key]
        require(
            true <= int(e) <= true + bound,
            f"cms: {key!r} estimate {int(e)} outside [{true}, {true} + {bound:.1f}]",
        )


def check_quantiles(blob: bytes, values: np.ndarray, counts: np.ndarray) -> None:
    """Rank gate against the exact value histogram (values sorted ascending,
    counts aligned)."""
    sk = load(blob)
    cum = np.cumsum(counts)
    n = int(cum[-1])
    require(int(sk.n_added) == n, f"{type(sk).__name__}: n_added {sk.n_added} != {n}")
    for q in RANK_QS:
        est = float(sk.quantile(q))
        below = np.searchsorted(values, est, "left")
        upto = np.searchsorted(values, est, "right")
        lo = (cum[below - 1] if below else 0) / n
        hi = (cum[upto - 1] if upto else 0) / n
        require(
            lo - RANK_GATE <= q <= hi + RANK_GATE,
            f"{type(sk).__name__}: q={q} estimate {est} has rank [{lo:.4f}, {hi:.4f}]",
        )


def check_identical(got: dict, ref: dict, names=None) -> None:
    """Bit-identity of named blobs."""
    require(ref is not None, "identity: no reference build passed its checks")
    for name in names or ref:
        require(name in got, f"identity: {name} missing")
        require(
            bytes(got[name]) == bytes(ref[name]),
            f"identity: {name} differs from the reference build "
            f"({len(got[name])} vs {len(ref[name])} bytes)",
        )


def check_antijoin(result: tuple, exact: tuple) -> None:
    require(
        tuple(int(x) for x in result) == tuple(int(x) for x in exact),
        f"anti-join: (rows, id sum) {tuple(result)} != exact {tuple(exact)}",
    )


def check_suite(blobs: dict, exact: dict, urls, absent_urls) -> float:
    """Every value contract of one suite build.  Returns the url Bloom's
    observed FPP."""
    fpp = check_bloom(blobs["bloom_url"], urls, absent_urls)
    check_hll(load(blobs["hll_url"]).estimate(), exact["distinct_urls"])
    check_hll(load(blobs["hll_host"]).estimate(), exact["distinct_hosts"],
              rel=0.05, floor=3)
    check_cms(blobs["cms_host"], dict(exact["top_hosts"]))
    check_cms(blobs["cms_lang"], dict(exact["langs"]))
    values, counts = text_len_hist(exact)
    for name in ("kll_textlen", "tdigest_textlen"):
        check_quantiles(blobs[name], values, counts)
    return fpp


def text_len_hist(exact: dict) -> tuple[np.ndarray, np.ndarray]:
    hist = np.asarray(exact["text_len_hist"], dtype=np.int64).reshape(-1, 2)
    return hist[:, 0], hist[:, 1]


class Ledger:
    """Counts attempted and failed operations; a full check runs once per
    distinct output (by content), and repeats of an output already checked
    pass by identity."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._passed: set = set()

    def record(self, op: str, key, check) -> bool:
        """Run `check()` unless `key` already passed; count the outcome."""
        self.attempted += 1
        if key is not None and key in self._passed:
            return True
        try:
            check()
        except CheckFailed as exc:
            self.fail(op, str(exc))
            return False
        if key is not None:
            self._passed.add(key)
        return True

    def raised(self, op: str, exc: Exception) -> None:
        """An operation that raised: attempted and failed."""
        self.attempted += 1
        self.fail(op, f"{type(exc).__name__}: {exc}")

    def fail(self, op: str, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{op}: {msg}")


def digest(blobs) -> str:
    h = hashlib.sha256()
    if isinstance(blobs, dict):
        for name in sorted(blobs):
            h.update(name.encode())
            h.update(bytes(blobs[name]))
    else:
        h.update(bytes(blobs))
    return h.hexdigest()


class OutputChecker:
    """Checks each operation's output (see ops.CYCLE) against the exact
    answers and against the suite build that passed its value checks.

    bloom_present / bloom_absent: keys inserted into / known absent from
    the Bloom the `bloom` operation builds; urls / absent_urls: the same
    for the suite's url Bloom."""

    def __init__(self, ledger: Ledger, exact: dict, urls, absent_urls,
                 bloom_present, bloom_absent, probe_exact: tuple[int, int],
                 url_keys: bool):
        self.ledger = ledger
        self.exact = exact
        self.urls, self.absent_urls = urls, absent_urls
        self.bloom_present, self.bloom_absent = bloom_present, bloom_absent
        self.probe_exact = probe_exact
        self.url_keys = url_keys
        self.suite_ref: dict | None = None
        self.fpp_observed: float | None = None

    def check(self, op: str, out) -> bool:
        if op in ("suite", "ckpt", "resume"):
            blobs = out if _is_blobs(out) else {k: v.to_bytes() for k, v in out.items()}
            if op == "suite":
                return self.ledger.record(op, ("suite", digest(blobs)),
                                          lambda: self._suite(blobs))
            return self.ledger.record(op, ("same", digest(blobs)),
                                      lambda: self._same_as_suite(blobs))
        if op == "probe":
            return self.ledger.record(op, ("probe", tuple(sorted(out.items()))),
                                      lambda: check_probe_counts(out, *self.probe_exact))
        if op == "antijoin":
            return self.ledger.record(op, ("anti", tuple(out)),
                                      lambda: check_antijoin(out, self.exact["antijoin"]))
        blob = out if isinstance(out, (bytes, bytearray)) else out.to_bytes()
        check = {"bloom": self._bloom, "hll": self._hll, "kll": self._kll}[op]
        return self.ledger.record(op, (op, digest(blob)), lambda: check(blob))

    def _suite(self, blobs: dict) -> None:
        check_suite(blobs, self.exact, self.urls, self.absent_urls)
        if self.suite_ref is None:
            self.suite_ref = blobs

    def _same_as_suite(self, blobs: dict) -> None:
        if self.suite_ref is None:
            check_suite(blobs, self.exact, self.urls, self.absent_urls)
        else:
            check_identical(blobs, self.suite_ref)

    def _bloom(self, blob: bytes) -> None:
        if self.url_keys and self.suite_ref is not None:
            check_identical({"bloom_url": blob}, self.suite_ref, ["bloom_url"])
        self.fpp_observed = check_bloom(blob, self.bloom_present, self.bloom_absent)

    def _hll(self, blob: bytes) -> None:
        if self.suite_ref is not None:
            check_identical({"hll_url": blob}, self.suite_ref, ["hll_url"])
        check_hll(load(blob).estimate(), self.exact["distinct_urls"])

    def _kll(self, blob: bytes) -> None:
        check_quantiles(blob, *text_len_hist(self.exact))


def _is_blobs(out) -> bool:
    return all(isinstance(v, (bytes, bytearray)) for v in out.values())
