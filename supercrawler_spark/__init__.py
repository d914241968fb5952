"""supercrawler_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch Spark reimplementation of the capabilities of
``brendonboshell/supercrawler`` (reference at /root/reference, JavaScript):
batch micro-cycles over snapshot tables, DataFrame/SQL operators, vectorized
pandas/Arrow UDFs, window-rank priority queues, Bloom-filter seen sets —
plus the large-scale training-data operators (dedup, similarity search,
text analysis, multimodal payload plumbing) a 100 TB crawl corpus needs.

The public names load on first use: importing the package alone imports
no Spark, pandas or numpy, so a submodule such as the worker daemon
(``pydaemon``) can set up its process before the numeric stack loads.
"""

import importlib

_EXPORTS = {
    "CrawlConfig": "crawler", "SparkCrawler": "crawler",
    "Crawler": "facade", "DbUrlList": "facade", "FifoUrlList": "facade",
    "RedisUrlList": "facade",
    "HandlerRegistry": "handlers", "HandlersError": "handlers",
    "default_registry": "handlers", "html_link_parser": "handlers",
    "robots_parser": "handlers", "sitemaps_parser": "handlers",
    "OracleConfig": "oracle", "OracleCrawler": "oracle",
    "web_pages_dict": "oracle",
    "HttpError": "records", "RequestError": "records",
    "RobotsNotAllowedError": "records", "Url": "records",
    "get_spark": "session",
}

__all__ = list(_EXPORTS)

__version__ = "0.1.0"


def __getattr__(name):
    if name in _EXPORTS:
        value = getattr(importlib.import_module(f".{_EXPORTS[name]}", __name__),
                        name)
    else:
        try:
            value = importlib.import_module(f".{name}", __name__)
        except ModuleNotFoundError as exc:
            if exc.name != f"{__name__}.{name}":
                raise
            raise AttributeError(
                f"module {__name__!r} has no attribute {name!r}") from None
    globals()[name] = value
    return value
