"""Spark column expressions + vectorized pandas UDFs for the crawl engine.

Policy (per the Spark-first design): anything expressible as a builtin
``pyspark.sql.functions`` expression stays JVM-side inside whole-stage
codegen (hashing, priorities, backoff arithmetic);
only genuinely Python semantics (Node-parity URL resolution, robots.txt
evaluation) run as Arrow-batched pandas UDFs — never per-row Python UDFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import robots as robots_mod
from . import urls as urls_mod

YEAR_MS = float(urls_mod.YEAR_MS)


# --------------------------------------------------------------------------
# JVM-side (builtin) expressions
# --------------------------------------------------------------------------

def url_hash(col) -> Column:
    """64-bit URL key — xxhash64, computed JVM-side (SURVEY.md C5 note:
    the engine keys on 64-bit hashes; sha1 kept only for reference parity)."""
    return F.xxhash64(col)


def murmur3(col) -> Column:
    """murmur3_x86_32 (Spark's F.hash) — the second independent hash feeding
    the Bloom filter's double-hashing scheme (north_star: murmur3-hashed
    URLs)."""
    return F.hash(col)


def deterministic_priority(col) -> Column:
    """Uniform-[0,1) priority from sha1 prefix — the deterministic
    replacement for Math.random() at /root/reference/lib/DbUrlList.js:182.
    Must equal urls.deterministic_priority (oracle) bit-for-bit."""
    return (F.conv(F.substring(F.sha1(col), 1, 8), 16, 10).cast("double")
            / F.lit(float(2**32)))


def fresh_next_fetch(url_col, now_col) -> Column:
    """next_fetch_time for a fresh insert: now − priority·YEAR
    (randomized-but-deterministic drain order, DbUrlList.js:176-183)."""
    return now_col - deterministic_priority(url_col) * F.lit(YEAR_MS)


def backoff_next_fetch(now_ms_col, num_errors_col, initial_retry_ms: float) -> Column:
    """now + initialRetry · 2^(numErrors−1) — DbUrlList.js:172-188."""
    return now_ms_col + F.lit(initial_retry_ms) * F.pow(
        F.lit(2.0), num_errors_col.cast("double") - F.lit(1.0))


def truncate_error(col, n: int = 1000) -> Column:
    """Error message truncation — /root/reference/lib/Url.js:69-75."""
    return F.substring(col, 1, n)


# --------------------------------------------------------------------------
# Arrow-batched pandas UDFs (Node-parity URL semantics; no builtins exist)
# --------------------------------------------------------------------------

@F.pandas_udf(T.StringType())
def hostname_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: urls_mod.hostname_of(u) if u else None)


@F.pandas_udf(T.StringType())
def robots_url_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: urls_mod.robots_url(u) if u else None)


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: urls_mod.canonicalize(u) if u else None)


@F.pandas_udf(T.StringType())
def resolve_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    return pd.Series(
        [urls_mod.resolve(b, h) if (b is not None and h is not None) else None
         for b, h in zip(base, href)]
    )


def make_robots_allowed_udf(user_agent):
    """robots.isAllowed(url, userAgent) — Crawler.js:421-436 — vectorized
    with a per-batch parse cache (each distinct robots_txt parsed once per
    Arrow batch; the robots dimension is broadcast so batches share hosts).
    ``user_agent`` may be a callable url -> str, like the reference's
    userAgent function option (Crawler.js:85-90, consulted per URL)."""
    ua_fn = user_agent if callable(user_agent) else None

    @F.pandas_udf(T.BooleanType())
    def robots_allowed(url: pd.Series, robots_txt: pd.Series) -> pd.Series:
        cache: dict[str, robots_mod.RobotsTxt] = {}
        out = []
        for u, txt in zip(url, robots_txt):
            if txt is None:
                out.append(True)
                continue
            parsed = cache.get(txt)
            if parsed is None:
                parsed = robots_mod.RobotsTxt(txt)
                cache[txt] = parsed
            ua = ua_fn(u) if ua_fn is not None else user_agent
            out.append(parsed.is_allowed(u, ua))
        return pd.Series(out, dtype="boolean")

    return robots_allowed
