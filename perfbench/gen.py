"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (anything NumPy's
``default_rng`` accepts, such as an int or a tuple of ints) and size
arguments, returns the rows it emitted so the benchmark can check the
engine's outputs against them, and writes plain parquet with pyarrow — the
engine under test only ever sees the files.

- ``rmat_edges``: R-MAT multigraph (Graph500 quadrants .57/.19/.19/.05).
- ``zipf_link_edges``: web-link graph, ~``LINKS`` out-links per page to
  Zipf-popular targets, a share of sink pages, plus small link islands so
  connected components has more than one answer.
- ``pair_edges``: disjoint 2-cycles, the rank-deep warm-up input.
- ``pages_table``: Common-Crawl-shaped ``pages`` rows (url, warc_ts, html
  BINARY, text, lang) whose ``text`` is ``oracle.extract.extract_text`` of
  the html, so extraction can be checked byte for byte.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RMAT_QUADS = (0.57, 0.19, 0.19)  # a, b, c; d is the remainder
FILES = 8  # parquet files per written input
LINKS = 10  # mean out-links per page, in both web-link generators
SINK_FRAC = 0.03  # zipf_link_edges: share of main pages that link nowhere
ISLAND_FRAC = 0.05  # zipf_link_edges: share of pages in link islands
ISLAND_SIZE = 8
WARM_PAIRS = 100  # pair_edges
PARAS = 6  # pages_table: paragraphs per page body
POOL_PARAS, PARA_WORDS = 512, 60  # pages_table: shared paragraph pool


def rmat_edges(seed, n_edges: int, scale: int) -> np.ndarray:
    """(n_edges, 2) int64 array of R-MAT (src, dst) over 2^scale ids.
    Self-loops and duplicate edges are kept (multigraph)."""
    rng = np.random.default_rng(seed)
    a, b, c = RMAT_QUADS
    src = np.zeros(n_edges, dtype=np.int64)
    dst = np.zeros(n_edges, dtype=np.int64)
    for _ in range(scale):
        u = rng.random(n_edges)
        src = src * 2 + (u >= a + b)
        dst = dst * 2 + (((u >= a) & (u < a + b)) | (u >= a + b + c))
    return np.stack([src, dst], axis=1)


def _zipf_weights(n: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf(s) popularity over a random permutation of ``n`` targets."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return rng.permutation(w / w.sum())


def zipf_link_edges(seed, n_pages: int) -> np.ndarray:
    """(m, 2) int64 (src, dst) web-link multigraph over ids [0, n_pages).

    The first ``(1 - ISLAND_FRAC)`` of the ids link to Zipf-popular targets
    among themselves (a share ``SINK_FRAC`` of them link nowhere); the rest
    form islands of ``ISLAND_SIZE`` pages that link only inside their own
    island, each page to ``LINKS // 2`` random island members."""
    rng = np.random.default_rng(seed)
    n_main = n_pages - int(n_pages * ISLAND_FRAC)
    outdeg = rng.poisson(LINKS, n_main)
    outdeg[rng.random(n_main) < SINK_FRAC] = 0
    src = np.repeat(np.arange(n_main, dtype=np.int64), outdeg)
    dst = rng.choice(n_main, size=len(src), p=_zipf_weights(n_main, 1.0, rng))
    parts = [np.stack([src, dst.astype(np.int64)], axis=1)]
    for start in range(n_main, n_pages - ISLAND_SIZE + 1, ISLAND_SIZE):
        members = np.arange(start, start + ISLAND_SIZE, dtype=np.int64)
        s = np.repeat(members, LINKS // 2)
        d = rng.choice(members, size=len(s))
        parts.append(np.stack([s, d], axis=1))
    return np.concatenate(parts)


def pair_edges() -> np.ndarray:
    """``WARM_PAIRS`` disjoint 2-cycles (2i <-> 2i+1): PageRank, components
    and labels settle in a couple of rounds, so a pass over it runs every
    plan of the rank-deep pipeline at the least cost."""
    a = np.arange(0, 2 * WARM_PAIRS, 2, dtype=np.int64)
    return np.concatenate([np.stack([a, a + 1], axis=1), np.stack([a + 1, a], axis=1)])


def write_edges(edges: np.ndarray, path: str) -> None:
    """Write (src, dst) as ``FILES`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(edges, FILES)):
        t = pa.table({"src": pa.array(chunk[:, 0]), "dst": pa.array(chunk[:, 1])})
        pq.write_table(t, os.path.join(path, f"part-{i:05d}.parquet"))


# --- pages ----------------------------------------------------------------

_WORDS = (
    "link graph page rank crawl web index search node edge anchor text "
    "host site archive capture frontier query score damping sweep vector "
    "café über naïve straße 日本語 données résumé"
).split()
_ENTITIES = ("&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;", "&amp;lt;")
_LANGS = ("en", "de", "fr", "sl")
_WS = (" ", " ", " ", "\n", "\t", "  ", " \n  ")


@dataclass
class PagesTable:
    urls: list[str]  # page urls in row order
    html: list[bytes]
    text: list[str]  # oracle.extract.extract_text of each page
    hrefs: list[list[str]]  # every href each page emits, document order
    in_crawl_edges: list[tuple[str, str]]  # (src url, dst url) multiset


def _page_url(i: int, n_hosts: int) -> str:
    return f"https://site{i % n_hosts:03d}.example/page/{i:07d}.html"


def _paragraph_pool(rng: np.random.Generator) -> list[str]:
    """``POOL_PARAS`` paragraphs of ``PARA_WORDS`` tokens with entities and
    mixed whitespace; pages are assembled from these."""
    shape = (POOL_PARAS, PARA_WORDS)
    toks = np.array(_WORDS, dtype=object)[rng.integers(len(_WORDS), size=shape)]
    seps = np.array(_WS, dtype=object)[rng.integers(len(_WS), size=shape)]
    pool = []
    for p in range(POOL_PARAS):
        row = toks[p].tolist()
        for k in rng.choice(PARA_WORDS, size=3, replace=False).tolist():
            row[k] = _ENTITIES[(p + k) % len(_ENTITIES)] + row[k]
        pool.append("".join(t + s for t, s in zip(row, seps[p].tolist())))
    return pool


def pages_table(seed, n_pages: int) -> PagesTable:
    """Seeded pages with <script>/<style> blocks, HTML entities, mixed
    whitespace and UTF-8 words, ~``LINKS`` hrefs per page to Zipf-popular
    in-crawl pages, repeated hrefs, out-of-crawl hrefs and an href inside
    a script block. Each page body is ``PARAS`` paragraphs drawn from a
    shared pool, with the links between them."""
    from ps_projekt_pagerank_spark.oracle.extract import extract_text

    rng = np.random.default_rng(seed)
    pool = _paragraph_pool(rng)
    n_hosts = max(1, n_pages // 50)
    urls = [_page_url(i, n_hosts) for i in range(n_pages)]
    crawl = set(urls)
    n_in = rng.poisson(LINKS, n_pages).tolist()
    popular = np.cumsum(_zipf_weights(n_pages, 1.1, rng))
    drawn = np.minimum(
        np.searchsorted(popular, rng.random(sum(n_in)), side="right"),
        n_pages - 1,
    ).tolist()
    body = rng.integers(len(pool), size=(n_pages, PARAS)).tolist()
    out = PagesTable(urls, [], [], [], [])
    at = 0
    for i, url in enumerate(urls):
        targets = [urls[t] for t in drawn[at:at + n_in[i]]]
        at += n_in[i]
        if targets and rng.random() < 0.4:  # repeated href on one page
            targets.insert(int(rng.integers(len(targets) + 1)), targets[0])
        offsite = [
            f"https://offsite{int(x)}.example/x/{int(y)}"
            for x, y in rng.integers(1000, size=(int(rng.integers(0, 4)), 2))
        ] + [_page_url(n_pages + int(rng.integers(1000)), n_hosts)]  # missing page
        hrefs = [(targets + offsite)[k] for k in rng.permutation(len(targets) + len(offsite))]
        script_href = f"https://tracker.example/t/{i}"
        chunks = [f"<p class=\"c\">{pool[j]}</p>\n" for j in body[i]]
        for k, h in enumerate(hrefs):
            tag = '<A HREF="{}">' if k % 3 == 0 else '<a class="l" href="{}" rel="x">'
            chunks[k % PARAS] += tag.format(h) + _WORDS[k % len(_WORDS)] + "</a>\n"
        html = (
            f"<!DOCTYPE html>\n<html lang=\"{_LANGS[i % 4]}\"><head>"
            f"<title>Page {i} &amp; friends</title>\n"
            f"<style type=\"text/css\">p.c {{ margin: {i % 7}px }} a > b {{}}</style>\n"
            f"<script>var s = '<a href=\"{script_href}\">'; if (a < {i}) {{ x(); }}</script>\n"
            f"</head>\n<body><div id=\"main\">{''.join(chunks)}</div>\n"
            f"<SCRIPT type=\"x\">document.write(\"<b>{i}</b>\")</SCRIPT></body></html>"
        )
        out.html.append(html.encode("utf-8"))
        out.text.append(extract_text(html))
        # document order: the script href, then each paragraph's links
        out.hrefs.append(
            [script_href] + [hrefs[k] for p in range(PARAS) for k in range(p, len(hrefs), PARAS)]
        )
        out.in_crawl_edges.extend((url, t) for t in hrefs if t in crawl)
    return out


def write_pages(table: PagesTable, path: str, seed: int) -> None:
    """Write the pages table as ``FILES`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    n = len(table.urls)
    ts = (
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 365 * 86400, n).astype("timedelta64[s]")
    )
    langs = [_LANGS[i % 4] for i in range(n)]
    for i, idx in enumerate(np.array_split(np.arange(n), FILES)):
        lo, hi = (int(idx[0]), int(idx[-1]) + 1) if len(idx) else (0, 0)
        t = pa.table({
            "url": pa.array(table.urls[lo:hi], pa.string()),
            "warc_ts": pa.array(ts[lo:hi], pa.timestamp("us", tz="UTC")),
            "html": pa.array(table.html[lo:hi], pa.binary()),
            "text": pa.array(table.text[lo:hi], pa.string()),
            "lang": pa.array(langs[lo:hi], pa.string()),
        })
        pq.write_table(t, os.path.join(path, f"part-{i:05d}.parquet"))
