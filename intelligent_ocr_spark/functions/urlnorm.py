"""URL canonicalization — a standard web-crawl pipeline stage.

Two crawls of the same page routinely differ only in URL spelling
(scheme/host case, default port, fragment, tracking params, param
order), which silently defeats url-keyed dedup, checkpoint resume, and
as-of joins. ``canonical_url`` folds those equivalences:

* scheme and host lowercased; userinfo stripped
* default port dropped (``:80`` for http, ``:443`` for https)
* fragment dropped (never sent to the server)
* tracking params dropped (``utm_*``, ``gclid``, ``fbclid``, ``msclkid``,
  ``yclid``), remaining query params sorted for order-independence
* empty path becomes ``/``

Everything is built-in column expressions (JVM codegen, no UDF), so the
transform runs at scan speed and pushes through Catalyst. The DuckDB
oracle twin (`__spark_entry__.py::url_canonicalize`) replicates each
step with the same regexes — kept simple enough that Java regex and RE2
agree.

Deliberately NOT folded (semantics-changing): duplicate-slash collapse,
trailing-slash removal, ``www.`` stripping, percent-decoding — all can
alias distinct resources; a deployment wanting them can layer extra
``regexp_replace`` steps on top.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["canonical_url", "TRACKING_PARAM_RE"]

# anchored prefix match on "name=value" tokens
TRACKING_PARAM_RE = r"^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|yclid)="


def canonical_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL (see module docstring).

    Rows that do not look like ``scheme://host...`` pass through
    unchanged (relative links, mailto:, data: — canonicalizing them is
    out of scope and returning them intact keeps the column total).
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_replace(  # strip userinfo
            F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1),
            r"^[^@]*@",
            "",
        )
    )
    host = F.when(
        (scheme == "http") & hostport.endswith(":80"),
        hostport.substr(F.lit(1), F.length(hostport) - 3),
    ).when(
        (scheme == "https") & hostport.endswith(":443"),
        hostport.substr(F.lit(1), F.length(hostport) - 4),
    ).otherwise(hostport)
    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    # the '?' must be matched BEFORE any '#': an unanchored \? would latch
    # onto a '?' inside the fragment (http://h/p#a?x=1) and leak fragment
    # content into the canonical query (round-3 advisor finding)
    query = F.regexp_extract(url, r"^[^#?]*\?([^#]*)", 1)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != F.lit("")) & ~p.rlike(TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(params == "", F.lit("")).otherwise(F.concat(F.lit("?"), params)),
    )
    return F.when(url.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), canon).otherwise(url)

