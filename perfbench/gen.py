"""Seeded generator of Common-Crawl-style crawl inputs.

``generate(kind, seed)`` returns the three tables the crawl consumes:

- ``pages(url, warc_ts, html, text, lang)``: the fetchable corpus.
  ``text`` is built here, independently of the engine's HTML parser,
  by the extraction rule ``title + " " + plainText`` (visible body text
  nodes joined by single spaces) — so comparing it with what the crawl
  extracted is a real byte-identity check.
- ``seeds(alexa, url, file_order)``: one scheme-less ``p0`` url per
  host in a seeded order, plus upper-case duplicates and blacklisted
  entries the seed ingest must drop.
- ``robots(host, disallow_prefixes, crawl_budget)``: per-host budgets
  and a disallowed ``/x`` section on some hosts.

Input properties the crawl's cost depends on, per kind:

- host sizes: uniform, or Zipf (a few hosts with thousands of pages
  and a long tail of tiny ones);
- the link mix: intra-host (relative hrefs) vs cross-host (absolute,
  target host drawn by size) vs dangling (a url on the same host that
  is not in ``pages`` — the fetch misses, 404);
- page length and outlinks per page.

Sizes are fixed per kind; the seed only decides which host gets which
size, the link targets, the words and the budgets, so every seed does
a comparable amount of work.  No wall clock, no global RNG: the same
(kind, seed) gives byte-identical tables.

Run as a script to write one input set as parquet:
``python3 perfbench/gen.py deep 7 out_dir``.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class InputSpec:
    hosts: int
    pages: int  # total pages over all hosts
    zipf: float  # 0 = uniform host sizes
    words: int  # body words per page
    links: int  # outlinks per page
    intra: float  # share of links to the same host
    dangling: float  # share of links to a url missing from pages
    budget: tuple[int, int]  # robots crawl_budget range, inclusive


INPUTS = {
    # many equal hosts, long pages, many cross-host links: extraction-bound
    "wide": InputSpec(hosts=200, pages=2000, zipf=0.0, words=1200, links=30,
                      intra=0.3, dangling=0.01, budget=(3, 5)),
    # Zipf hosts, short pages, mostly intra-host links: frontier-bound
    "deep": InputSpec(hosts=300, pages=12000, zipf=1.1, words=60, links=8,
                      intra=0.85, dangling=0.04, budget=(2, 4)),
}

BLACKLIST = ["google", "microsoft", "apple", "facebook", "yahoo", "tumblr",
             "blogspot", "blogger", "youtube", "gmail"]
LABELS = ["read more", "next page", "details", "archive", "Sign up",
          "create an account", "forum", "Login", "community", "google maps"]
# "google maps" scores negative (skipped); the rest score >= 0.  Rare.
LABEL_P = np.array([0.2, 0.2, 0.15, 0.15, 0.08, 0.05, 0.07, 0.05, 0.04, 0.01])
LANGS = ["english", "possible-english", "unknown", "non-english", "short"]
_KIND_SALT = {"wide": 11, "deep": 23}
_T0 = 1_451_606_400  # 2016-01-01 UTC, seconds


def _vocab(n: int = 4096) -> np.ndarray:
    """Seed-independent vocabulary of lower-case pseudo-words."""
    rng = np.random.default_rng(12345)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    return np.array(["".join(rng.choice(letters, k)) for k in lens], dtype=object)


def host_name(h: int) -> str:
    return f"site{h:05d}.test"


def page_path(i: int) -> str:
    # every 17th page lives under /x, which robots disallows on some hosts
    return f"/x/p{i}" if i % 17 == 5 else f"/p{i}"


def _host_sizes(spec: InputSpec) -> np.ndarray:
    """Pages per host by size rank (seed-independent), summing to
    ``spec.pages``; every host has at least one page."""
    if spec.zipf == 0:
        base = np.full(spec.hosts, spec.pages // spec.hosts)
    else:
        w = 1.0 / np.arange(1, spec.hosts + 1) ** spec.zipf
        base = 1 + np.floor(w / w.sum() * (spec.pages - spec.hosts)).astype(np.int64)
    base[0] += spec.pages - base.sum()
    return base


def generate(kind: str, seed: int) -> dict[str, pa.Table]:
    spec = INPUTS[kind]
    rng = np.random.default_rng([seed, _KIND_SALT[kind]])
    vocab = _vocab()
    sizes = _host_sizes(spec)[rng.permutation(spec.hosts)]  # host id -> size
    host_p = sizes / sizes.sum()  # cross-host targets drawn by size
    labels = np.array(LABELS, dtype=object)

    urls, htmls, texts, langs = [], [], [], []
    for h in range(spec.hosts):
        hn = host_name(h)
        n = int(sizes[h])
        words = vocab[rng.integers(0, len(vocab), (n, spec.words))]
        kinds = rng.random((n, spec.links))
        lab = labels[rng.choice(len(labels), (n, spec.links), p=LABEL_P)]
        # intra targets lean forward (p_i -> p_{i+1..i+span}) so per-host
        # queues keep growing round after round
        fwd = rng.integers(1, 12, (n, spec.links))
        xh = rng.choice(spec.hosts, (n, spec.links), p=host_p)
        xr = rng.random((n, spec.links))
        for i in range(n):
            title_html = f"Site {h:05d} &amp; page {i}"
            title_txt = f"Site {h:05d} & page {i}"
            heading = f"Page {i} of {hn}"
            w = words[i]
            paras = [" ".join(w[j:j + 100]) for j in range(0, len(w), 100)]
            anchors_html, anchors_txt = [], []
            for k in range(spec.links):
                u = kinds[i, k]
                if u < spec.dangling:
                    th, tp = h, n + int(fwd[i, k])  # past the host's last page
                elif u < spec.dangling + spec.intra:
                    th, tp = h, (i + int(fwd[i, k])) % n
                else:
                    th = int(xh[i, k])
                    tp = int(xr[i, k] * sizes[th])
                href = page_path(tp) if th == h else f"http://{host_name(th)}{page_path(tp)}"
                txt = f"{lab[i, k]} {th}-{tp}"
                anchors_html.append(f'<a href="{href}">{txt}</a>')
                anchors_txt.append(txt)
            htmls.append(
                f"<html><head><title>{title_html}</title>"
                f"<style>p {{margin: 0}}</style></head><body><h1>{heading}</h1>"
                + "".join(f"<p>{p}</p>" for p in paras)
                + "".join(anchors_html)
                + f"<script>var page = {i};</script></body></html>"
            )
            texts.append(" ".join([title_txt, heading, *paras, *anchors_txt]))
            urls.append(f"http://{hn}{page_path(i)}")
            langs.append(LANGS[(h + i) % len(LANGS)])

    n_pages = len(urls)
    ts = (_T0 + rng.permutation(n_pages)).astype("datetime64[s]").astype("datetime64[us]")
    pages = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array([s.encode() for s in htmls], pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })

    order = rng.permutation(spec.hosts)
    seed_urls = [f"{host_name(int(h))}/p0" for h in order]
    seed_urls += [f"SITE{int(h):05d}.TEST/p0" for h in order[:5]]  # duplicates
    seed_urls += ["www.google.com", "ads.yahoo.com/p0"]  # blacklisted
    seeds = pa.table({
        "alexa": pa.array(range(1, len(seed_urls) + 1), pa.int32()),
        "url": pa.array(seed_urls, pa.string()),
        "file_order": pa.array(range(len(seed_urls)), pa.int64()),
    })

    # fixed multisets of budgets and of /x bans, dealt out by the seed, so
    # every seed claims the same number of pages per round
    lo, hi = spec.budget
    budgets = rng.permutation(np.resize(np.arange(lo, hi + 1), spec.hosts))
    banned = rng.permutation(np.arange(spec.hosts) < spec.hosts // 4)
    robots = pa.table({
        "host": pa.array([host_name(h) for h in range(spec.hosts)], pa.string()),
        "disallow_prefixes": pa.array([["/x"] if d else [] for d in banned], pa.list_(pa.string())),
        "crawl_budget": pa.array(budgets, pa.int32()),
    })
    return {"pages": pages, "seeds": seeds, "robots": robots}


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table; byte-stable for identical tables."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=2048)


if __name__ == "__main__":
    write(generate(sys.argv[1], int(sys.argv[2])), sys.argv[3])
