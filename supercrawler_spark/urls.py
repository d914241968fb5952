"""Pure-Python URL primitives with Node.js legacy ``url`` module parity.

The reference crawler resolves and canonicalizes every discovered link with
Node's legacy ``url.resolve`` / ``url.parse`` / ``url.format``:

- resolve:   /root/reference/lib/handlers/htmlLinkParser.js:31,
             /root/reference/lib/Crawler.js:248 (redirects),
             /root/reference/lib/handlers/robotsParser.js:34 (sitemaps)
- canonical format (protocol+auth+host+pathname+search, DROPS fragment):
             /root/reference/lib/handlers/htmlLinkParser.js:47-53
- robots URL per (protocol, host, port):
             /root/reference/lib/Crawler.js:511-526
- sha1 urlHash: /root/reference/lib/DbUrlList.js:151

These are plain functions (no Spark imports) so they can be used both inside
vectorized pandas UDFs (mapped over Arrow batches) and by the pure-Python
oracle simulator, guaranteeing both sides agree byte-for-byte.
"""

from __future__ import annotations

import hashlib
import posixpath
from urllib.parse import urljoin, urlsplit

YEAR_MS = 31536000000  # 365 days, /root/reference/lib/DbUrlList.js:7
# redirects a robots fetch follows before it counts as a request error: the
# request library's maxRedirects default (robots use followRedirect=true —
# /root/reference/lib/Crawler.js:380-412)
MAX_REDIRECT_HOPS = 10


def resolve(base: str, href: str) -> str:
    """Node ``url.resolve(base, href)`` equivalent.

    ``urllib.parse.urljoin`` matches Node's behavior on every case the
    reference tests exercise (absolute, relative, root-relative,
    scheme-preserving). Non-hierarchical schemes (javascript:, mailto:)
    are returned as-is, as urljoin does not resolve them against the base.
    """
    scheme = href.split(":", 1)[0].lower() if ":" in href else ""
    if scheme and not _is_special(scheme) and scheme not in ("http", "https"):
        # javascript:, mailto:, data: etc. — Node resolve returns href as-is
        return href
    return urljoin(base, href)


def _is_special(scheme: str) -> bool:
    return scheme in ("http", "https", "ftp", "ws", "wss", "file")


class ParsedUrl:
    """Mirror of the fields of Node ``url.parse`` that the reference uses."""

    __slots__ = ("scheme", "auth", "hostname", "port", "path", "query", "fragment")

    def __init__(self, url: str):
        parts = urlsplit(url)
        self.scheme = parts.scheme.lower()
        self.auth = None
        if "@" in parts.netloc:
            self.auth = parts.netloc.rsplit("@", 1)[0]
        self.hostname = (parts.hostname or "").lower()
        self.port = parts.port
        # Node legacy parse: pathname is "/" for empty paths on special schemes
        self.path = parts.path or ("/" if self.hostname else "")
        self.query = parts.query
        self.fragment = parts.fragment

    @property
    def protocol(self) -> str:
        """Node-style protocol including trailing colon, e.g. ``https:``."""
        return self.scheme + ":" if self.scheme else ""

    @property
    def host(self) -> str:
        """hostname[:port] — Node's ``host`` field."""
        if self.port is not None:
            return f"{self.hostname}:{self.port}"
        return self.hostname


def parse(url: str) -> ParsedUrl:
    return ParsedUrl(url)


def canonicalize(url: str) -> str | None:
    """Reference link normalization (htmlLinkParser.js:47-53).

    Keeps protocol + auth + host + pathname + search; DROPS the fragment.
    Returns None for non-http(s) URLs (protocol filter,
    htmlLinkParser.js:36-38).
    """
    p = parse(url)
    if p.scheme not in ("http", "https"):
        return None
    out = p.scheme + "://"
    if p.auth:
        out += p.auth + "@"
    out += p.host
    out += p.path or "/"
    if p.query:
        out += "?" + p.query
    return out


def hostname_of(url: str) -> str:
    return parse(url).hostname


def robots_url(url: str) -> str:
    """Robots URL per (protocol, host, port) — Crawler.js:511-526."""
    p = parse(url)
    return f"{p.scheme}://{p.host}/robots.txt"


def path_of(url: str) -> str:
    return parse(url).path


def sha1_hex(url: str) -> str:
    """Reference urlHash — DbUrlList.js:151. Pinned fixtures:
    sha1('https://example.com') = 327c3fda87ce286848a574982ddd0b7c7487f816.
    """
    return hashlib.sha1(url.encode("utf-8")).hexdigest()


def deterministic_priority(url: str) -> float:
    """Deterministic replacement for the reference's ``Math.random()``
    fresh-insert priority (DbUrlList.js:176-183): uniform in [0, 1),
    derived from sha1 so the Spark engine
    (``conv(substring(sha1(url),1,8),16,10)/2^32``) and the Python oracle
    compute the identical value. Used as ``next_fetch_time = now -
    priority*YEAR`` so crawl order is randomized but reproducible.
    """
    return int(sha1_hex(url)[:8], 16) / 2**32


def ext_of(url: str) -> str:
    """File extension of the URL path (for mime fallback, Crawler.js:240)."""
    path = path_of(url)
    base = posixpath.basename(path)
    if "." in base:
        return base.rsplit(".", 1)[1].lower()
    return ""


# Minimal extension→mime table covering the reference's fallback behavior
# (Crawler.js:240 uses the npm `mime` lookup; we carry only what a crawl
# actually routes on — html/xml/txt/gz/images).
MIME_BY_EXT = {
    "html": "text/html",
    "htm": "text/html",
    "xml": "application/xml",
    "txt": "text/plain",
    "gz": "application/gzip",
    "png": "image/png",
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "gif": "image/gif",
    "pdf": "application/pdf",
    "json": "application/json",
    "css": "text/css",
    "js": "application/javascript",
}


def mime_lookup(url: str) -> str:
    return MIME_BY_EXT.get(ext_of(url), "application/octet-stream")


def normalize_content_type(content_type: str | None, url: str) -> str:
    """Strip ;params (Crawler.js:333); fall back to extension mime
    (Crawler.js:240) when the header is absent/empty."""
    if not content_type:
        return mime_lookup(url)
    return content_type.split(";", 1)[0].strip() or mime_lookup(url)


def content_type_matches(handler_ct, content_type: str) -> bool:
    """Handler routing semantics — Crawler.js:341-356.

    '*' wildcard; array → exact membership; string → prefix match with '/'
    boundary ('text' matches 'text/html' but not 'textual/x').
    """
    if handler_ct == "*":
        return True
    if isinstance(handler_ct, (list, tuple)):
        return content_type in handler_ct
    return (content_type + "/").startswith(handler_ct + "/")
