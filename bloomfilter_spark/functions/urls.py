"""URL canonicalization — the normalize-before-dedup pass of a crawl
pipeline (the reference's membership queries key on raw `url` strings,
/root/reference/README.md; a real corpus dedups on the canonical form).

Rules (each engine-portable — Java-regex ∩ RE2, no backreferences):
  1. strip the fragment (#...);
  2. lowercase the scheme://host[:port] prefix (path stays case-sensitive);
  3. drop a default port (:80 for http, :443 for https);
  4. collapse trailing slashes on the path ('/a/' == '/a'; bare host keeps
     no slash);
  5. drop tracking query params (utm_*, fbclid, gclid), sort the rest
     byte-wise, re-join; an emptied query drops its '?'.

All pure Catalyst column expressions — map-only, whole-stage codegen, no
shuffle; the DuckDB oracle replays every rule with the same regexes and
list_sort.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

TRACKING_PREFIXES = ("utm_", "fbclid", "gclid")

_PREFIX_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)"


def normalize_url(url: Column | str) -> Column:
    """Canonical form of a URL column (rules in the module docstring)."""
    u = F.col(url) if isinstance(url, str) else url
    u = F.regexp_replace(u, r"#.*$", "")  # 1. fragment
    # 2. lowercase ONLY scheme + host[:port] — userinfo (user:password@)
    # is case-sensitive and must pass through untouched (lowercasing it
    # would collapse URLs that differ only in credential case)
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://", 1))
    authority = F.regexp_replace(
        F.regexp_extract(u, _PREFIX_RE, 1),
        r"^[a-zA-Z][a-zA-Z0-9+.\-]*://",
        "",
    )
    userinfo = F.regexp_extract(authority, r"^([^/?#]*@)", 1)
    hostport = F.lower(F.regexp_replace(authority, r"^[^/?#]*@", ""))
    # a scheme-less URL has no authority either: its prefix is empty
    prefix = F.when(
        scheme != "", F.concat(scheme, F.lit("://"), userinfo, hostport)
    ).otherwise(F.lit(""))
    rest = F.regexp_replace(u, _PREFIX_RE, "")
    # 3. default ports (scheme is lowercase already)
    prefix = F.when(
        prefix.startswith("http://"), F.regexp_replace(prefix, r":80$", "")
    ).otherwise(
        F.when(
            prefix.startswith("https://"),
            F.regexp_replace(prefix, r":443$", ""),
        ).otherwise(prefix)
    )
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.when(rest.contains("?"), F.regexp_replace(rest, r"^[^?]*\?", ""))
    path = F.regexp_replace(path, r"/+$", "")  # 4. trailing slashes
    keep = F.filter(
        F.split(query, "&"),
        lambda p: ~(
            p.startswith("utm_")
            | p.startswith("fbclid")
            | p.startswith("gclid")
        )
        & (p != ""),
    )
    canon_q = F.array_join(F.array_sort(keep), "&")  # 5. sort survivors
    return F.concat(
        prefix,
        path,
        F.when(canon_q.isNotNull() & (canon_q != ""), F.concat(F.lit("?"), canon_q))
        .otherwise(F.lit("")),
    )


def host_of(url: Column | str) -> Column:
    """Lowercased host (no port, no credentials) of a URL column.

    Bracketed IPv6 hosts keep their full bracketed form: the plain rule
    stops at ':' (the port separator), which would truncate
    'http://[2001:db8::1]/x' to '[2001'."""
    u = F.col(url) if isinstance(url, str) else url
    # the bracket regex can only match a row containing '[': skip it on the
    # rest, which is nearly every row
    bracketed = F.when(
        u.contains("["),
        F.regexp_extract(
            u, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#@]*@)?(\[[^\]/?#]*\])", 2
        ),
    ).otherwise("")
    # userinfo may itself contain ':' (user:password@) — only '/?#@' end it
    plain = F.regexp_extract(
        u, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#@]*@)?([^/?#:]*)", 2
    )
    return F.lower(F.when(bracketed != "", bracketed).otherwise(plain))
