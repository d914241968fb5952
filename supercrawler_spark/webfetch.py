"""Production HTTP fetch stage — the live-web replacement for the fixture
fetch join (SURVEY.md S4/J5).

``fetch_stage`` is a vectorized ``mapInPandas`` source: each Arrow batch of
(batch_idx, url) rows is fetched with a pooled HTTP session per worker,
mirroring the reference's request semantics (/root/reference/lib/
Crawler.js:380-412): binary body (encoding:null), gzip transfer-encoding,
per-request User-Agent, redirects NOT followed for pages (the 3xx Location
is surfaced for the redirect-enqueue path), follow_redirects=True for the
robots fetch. Network failures surface as NULL status → REQUEST_ERROR,
exactly like the fixture join's missing rows.

The sandbox has no network; this module is import-gated and covered by a
schema/shape unit test with a stubbed transport. The crawl swaps it in for
the fixture join with ``CrawlConfig(fetch_mode="http")``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

FETCH_SCHEMA = T.StructType([
    T.StructField("batch_idx", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("f_status", T.IntegerType()),
    T.StructField("f_content_type", T.StringType()),
    T.StructField("f_location", T.StringType()),
    T.StructField("f_body", T.BinaryType()),
])

DEFAULT_UA = ("Mozilla/5.0 (compatible; supercrawler/1.0; "
              "+https://github.com/brendonboshell/supercrawler)")


def merge_request_options(defaults: dict, request_opts: dict | None) -> dict:
    """Deep-merge user request options over the per-request defaults — the
    reference merges ``opts.request`` into every HTTP call
    (lib/Crawler.js:382-394, lodash _.merge: fully recursive — nested dicts
    merge at any depth, user keys win). The result shares no dict with
    either input, so callers can mutate it freely."""
    def _copy(d: dict) -> dict:
        return {k: (_copy(v) if isinstance(v, dict) else v)
                for k, v in d.items()}

    def _merge(base: dict, over: dict) -> dict:
        out = _copy(base)
        for k, v in over.items():
            if isinstance(v, dict) and isinstance(out.get(k), dict):
                out[k] = _merge(out[k], v)
            elif isinstance(v, dict):
                out[k] = _copy(v)
            else:
                out[k] = v
        return out

    return _merge(defaults, request_opts or {})


def _default_transport(session, url, options):
    """One HTTP GET → (status, content_type, location, body) or raises.
    ``options`` is the merged request-option dict (headers, allow_redirects,
    timeout, plus any user-supplied requests kwargs)."""
    resp = session.get(url, stream=False, **options)
    return (resp.status_code,
            resp.headers.get("Content-Type"),
            resp.headers.get("Location"),
            resp.content)


def fetch_stage(batch_df: DataFrame, user_agent=DEFAULT_UA,
                follow_redirects: bool = False, timeout_s: float = 30.0,
                max_body_bytes: int = 16 * 1024 * 1024,
                request_opts: dict | None = None,
                transport=None) -> DataFrame:
    """(batch_idx, url) → fetched rows, one pooled session per worker.

    - ``user_agent`` may be a callable url -> str (reference userAgent
      function option, Crawler.js:30-34,85-90).
    - ``request_opts`` is merged over the per-request defaults exactly like
      the reference's ``opts.request`` (Crawler.js:382-394) — custom
      headers deep-merge, scalars override.
    - ``transport(session, url, options)`` is injectable for tests (and is
      how the sandbox stubs the network).
    """
    tp = transport or _default_transport
    ua_fn = user_agent if callable(user_agent) else None

    def kernel(batches):
        session = None
        if transport is None:
            import requests
            session = requests.Session()
            adapter = requests.adapters.HTTPAdapter(
                pool_connections=16, pool_maxsize=16)
            session.mount("http://", adapter)
            session.mount("https://", adapter)
        for pdf in batches:
            rows = []
            for bi, url in zip(pdf["batch_idx"], pdf["url"]):
                ua = ua_fn(url) if ua_fn is not None else user_agent
                options = merge_request_options(
                    {"headers": {"User-Agent": ua},
                     # pages: False; robots fetch: True (Crawler.js:380-392)
                     "allow_redirects": follow_redirects,
                     "timeout": timeout_s},
                    request_opts)
                try:
                    status, ct, loc, body = tp(session, url, options)
                    if body is not None and len(body) > max_body_bytes:
                        body = body[:max_body_bytes]
                    rows.append((bi, url, int(status), ct, loc, body))
                except Exception:
                    rows.append((bi, url, None, None, None, None))
            yield pd.DataFrame(rows, columns=[f.name for f in FETCH_SCHEMA])

    return (batch_df.select("batch_idx", "url")
            .mapInPandas(kernel, schema=FETCH_SCHEMA))
