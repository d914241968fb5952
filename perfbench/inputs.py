"""Seeded input generators for the benchmark's workloads.

Every generator takes the workload seed and derives link targets, the
crawled frontier and table contents from it, so two seeds give two
different inputs of the same shape (same row counts, same link counts per
page). The engine only ever sees the generated tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

WEB_COLUMNS = ["url", "host", "status_code", "content_type", "location",
               "body", "body_image_id"]
ROBOTS_TXT = "User-agent: *\nDisallow: /private/\n"
YEAR_MS = 365 * 24 * 3600 * 1000.0


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(f"w{i:04d}" for i in rng.integers(0, 4096, size=n))


def _html(links: list[str], filler: str = "") -> bytes:
    anchors = "".join(f'<a href="{u}">a</a>' for u in links)
    return f"<html><body>{anchors}<p>{filler}</p></body></html>".encode()


def _page(url: str, host: str, body: bytes, ct: str = "text/html") -> dict:
    return {"url": url, "host": host, "status_code": 200, "content_type": ct,
            "location": None, "body": body, "body_image_id": None}


def _web_frame(pages: list[dict]) -> pd.DataFrame:
    web = pd.DataFrame(pages, columns=WEB_COLUMNS)
    web["status_code"] = web["status_code"].astype("int32")
    return web


# ---------------------------------------------------------------------------
# crawl_large_frontier: a crawled frontier plus a fresh web to discover
# ---------------------------------------------------------------------------

def crawled_frontier(seed: int, n_rows: int, n_hosts: int,
                     t0: float) -> pd.DataFrame:
    """``n_rows`` already-crawled frontier rows (status 200) over
    ``n_hosts`` hosts, each scheduled between one and two years after
    ``t0`` so no cycle pops them. FRONTIER columns, seq from 0."""
    rng = np.random.default_rng([seed, 1])
    host = rng.integers(0, n_hosts, n_rows)
    return pd.DataFrame({
        "url_hash": pd.Series([None] * n_rows, dtype="Int64"),
        "url": [f"http://old{h}.example/r{i}.html"
                for i, h in enumerate(host.tolist())],
        "host": [f"old{h}.example" for h in host.tolist()],
        "status_code": pd.Series(np.full(n_rows, 200), dtype="Int32"),
        "error_code": pd.Series([None] * n_rows, dtype="object"),
        "error_message": pd.Series([None] * n_rows, dtype="object"),
        "num_errors": np.zeros(n_rows, dtype=np.int32),
        "next_fetch_time": t0 + YEAR_MS * (1.0 + rng.random(n_rows)),
        "seq": np.arange(n_rows, dtype=np.int64),
    })


def discovery_web(seed: int, n_hosts: int, pages_per_host: int,
                  links_per_page: int, filler_bytes: int,
                  old_urls: list[str] = (), seeds_per_host: int = 1
                  ) -> tuple[list[str], pd.DataFrame]:
    """A synthetic web of ``n_hosts`` hosts x ``pages_per_host`` pages.

    Each host serves a robots.txt that disallows ``/private/``. Each page
    carries ``filler_bytes`` of text and ``links_per_page`` links: ~55% to
    a random page of the same host, 20% to a random page of a random
    host, 10% to a random URL of ``old_urls`` (already crawled: a dedup
    hit against the big seen set), 10% repeats of the page's first link,
    3% into ``/private/`` (robots-denied) and 2% to a page that does not
    exist (a request error). Returns (seed_urls, web_pages): the seeds
    are ``seeds_per_host`` random pages of every host."""
    rng = np.random.default_rng([seed, 2])
    n_words = max(1, filler_bytes // 6)
    n_old = len(old_urls)
    pages = []
    for h in range(n_hosts):
        host = f"h{h}.example"
        base = f"http://{host}"
        pages.append(_page(f"{base}/robots.txt", host, ROBOTS_TXT.encode(),
                           "text/plain"))
        shape = (pages_per_host, links_per_page)
        kind = rng.random(shape)
        tgt = rng.integers(0, pages_per_host, shape)
        tgt_host = rng.integers(0, n_hosts, shape)
        tgt_old = rng.integers(0, max(1, n_old), shape)
        for p in range(pages_per_host):
            links = []
            for j in range(links_per_page):
                k, t = kind[p, j], tgt[p, j]
                if k < 0.20:
                    links.append(f"http://h{tgt_host[p, j]}.example/p{t}.html")
                elif k < 0.30 and n_old:
                    links.append(old_urls[tgt_old[p, j]])
                elif k < 0.40 and links:
                    links.append(links[0])
                elif k < 0.43:
                    links.append(f"/private/p{t}.html")
                elif k < 0.45:
                    links.append(f"/gone{t}.html")
                else:
                    links.append(f"/p{t}.html")
            pages.append(_page(f"{base}/p{p}.html", host,
                               _html(links, _words(rng, n_words))))
    seeds = [f"http://h{h}.example/p{p}.html" for h in range(n_hosts)
             for p in sorted(rng.choice(pages_per_host, seeds_per_host,
                                        replace=False).tolist())]
    return seeds, _web_frame(pages)


# ---------------------------------------------------------------------------
# operator_suite: the tables the headline queries read
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["la", "el", "de", "que", "los"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "les", "des", "est", "une"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table value vector window").split()


def suite_tables(seed: int, n_docs: int, n_vecs: int, n_events: int,
                 n_lineitem: int) -> dict[str, pd.DataFrame]:
    """TPC-H-like and corpus tables with the column names and types the
    suite's queries of ``__spark_entry__`` read. A fifth of the documents
    are exact or near copies of earlier ones and some repeat a long span,
    so the dedup and near-pair queries have work to find."""
    rng = np.random.default_rng([seed, 3])
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    day_us = 86_400_000_000

    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts0 + rng.integers(0, 30 * day_us, n_events).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_events).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"],
                                 n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    # TPC-H proportions: four line items per order, one part per 32
    n_li = n_lineitem
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, max(1, n_li // 4), n_li).astype(np.int64),
        "l_partkey": rng.integers(0, max(1, n_li // 32), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        # whole currency units: a 2-decimal rounded revenue sum can then
        # never sit on a half-cent tie, where two engines summing in
        # different orders may legitimately round apart
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": np.datetime64("1995-01-02", "us")
        + (rng.integers(0, 2500, n_li) * day_us).astype("timedelta64[us]"),
    })

    langs = list(_LANG_MARKERS)
    texts, doc_langs = [], []
    for i in range(n_docs):
        lang = langs[int(rng.integers(0, len(langs)))]
        r = rng.random()
        if i > 10 and r < 0.08:            # exact copy of an earlier doc
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            doc_langs.append(doc_langs[j])
            continue
        if i > 10 and r < 0.16:            # near copy: a few words swapped
            j = int(rng.integers(0, i))
            words = texts[j].split()
            for k in rng.integers(0, len(words), 2):
                words[k] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words))
            doc_langs.append(doc_langs[j])
            continue
        n_w = int(rng.integers(8, 90))
        vocab = _VOCAB + _LANG_MARKERS[lang]
        words = [vocab[k] for k in rng.integers(0, len(vocab), n_w)]
        if r < 0.25:                       # a repeated long span
            words += ["dup"] + words[:10]
        texts.append(" ".join(words))
        doc_langs.append(lang)
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": doc_langs,
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vecs)
    vec = centers[label] + 0.6 * rng.normal(size=(n_vecs, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vec.astype(np.float32)),
        "label": label.astype(np.int32),
    })
    return {"events": events, "lineitem": lineitem, "documents": documents,
            "embeddings": embeddings}
