"""Self-test of the benchmark's generators and metric list; no Spark.

    python3 perfbench/selftest.py

Checks that the same seed writes byte-identical files, that another seed
gives other edges, that the files hold exactly the rows each generator
says it emitted, and that BENCHMARK.json names the metrics run.py prints.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import collections
import filecmp
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import run  # noqa: E402


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


def _read_edges(path: str) -> np.ndarray:
    t = pq.read_table(path)
    return np.stack([t["src"].to_numpy(), t["dst"].to_numpy()], axis=1)


def _multiset(edges) -> collections.Counter:
    return collections.Counter(map(tuple, np.asarray(edges).tolist()))


def check_edges(tmp: str, name: str, make) -> None:
    a, b = os.path.join(tmp, f"{name}-a"), os.path.join(tmp, f"{name}-b")
    e1 = make(7)
    gen.write_edges(e1, a)
    gen.write_edges(make(7), b)
    assert _same_files(a, b), f"{name}: same seed wrote different files"
    assert not np.array_equal(e1, make(8)), f"{name}: seeds 7 and 8 gave the same edges"
    assert _multiset(_read_edges(a)) == _multiset(e1), f"{name}: files differ from emitted edges"


def check_pages(tmp: str) -> None:
    from ps_projekt_pagerank_spark.oracle.extract import extract_hrefs, extract_text

    a, b = os.path.join(tmp, "pages-a"), os.path.join(tmp, "pages-b")
    p = gen.pages_table(7, 300)
    gen.write_pages(p, a, 7)
    gen.write_pages(gen.pages_table(7, 300), b, 7)
    assert _same_files(a, b), "pages: same seed wrote different files"
    other = gen.pages_table(8, 300)
    assert other.in_crawl_edges != p.in_crawl_edges, "pages: seeds 7 and 8 gave the same edges"

    t = pq.read_table(a).to_pydict()
    assert t["url"] == p.urls and t["html"] == p.html and t["text"] == p.text
    crawl = set(p.urls)
    written = []
    for url, html, text, hrefs in zip(t["url"], t["html"], t["text"], p.hrefs):
        assert extract_text(html.decode("utf-8")) == text, f"{url}: text is not the oracle's"
        assert extract_hrefs(html.decode("utf-8")) == hrefs, f"{url}: hrefs differ"
        written += [(url, h) for h in hrefs if h in crawl]
    assert collections.Counter(written) == collections.Counter(p.in_crawl_edges)
    n_href = sum(map(len, p.hrefs))
    assert 0 < len(p.in_crawl_edges) < n_href, "pages: need both in- and out-of-crawl hrefs"
    assert any(len(h) != len(set(h)) for h in p.hrefs), "pages: no repeated href"


def check_metric_names() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want_e2e = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    want_layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert want_e2e == list(run.END_TO_END), "end_to_end differs from run.END_TO_END"
    assert want_layer == list(run.PER_LAYER), "per_layer differs from run.PER_LAYER"
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_SPECS)


def main() -> int:
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=base)
    try:
        check_edges(tmp, "rmat", lambda s: gen.rmat_edges(s, 5000, 10))
        check_edges(tmp, "zipf", lambda s: gen.zipf_link_edges(s, 800))
        check_pages(tmp)
        check_metric_names()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
