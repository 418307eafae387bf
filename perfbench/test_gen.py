"""The workload generator is a pure function of (kind, seed).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _digest(out_dir: str) -> dict[str, str]:
    return {
        fn: hashlib.sha256(open(os.path.join(out_dir, fn), "rb").read()).hexdigest()
        for fn in sorted(os.listdir(out_dir))
    }


@pytest.mark.parametrize("kind", sorted(gen.INPUTS))
def test_same_seed_same_bytes_other_seed_differs(kind, tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.write(gen.generate(kind, 7), a)
    gen.write(gen.generate(kind, 7), b)
    gen.write(gen.generate(kind, 8), c)
    assert _digest(a) == _digest(b)
    da, dc = _digest(a), _digest(c)
    assert all(da[f] != dc[f] for f in ("pages.parquet", "seeds.parquet", "robots.parquet"))


@pytest.mark.parametrize("kind", sorted(gen.INPUTS))
def test_shape_is_seed_independent(kind):
    """Seeds change the arrangement, not the amount of input."""
    spec = gen.INPUTS[kind]
    for seed in (1, 2):
        t = gen.generate(kind, seed)
        assert t["pages"].num_rows == spec.pages
        assert t["robots"].num_rows == spec.hosts
        assert t["seeds"].num_rows == spec.hosts + 7
        budgets = sorted(t["robots"].column("crawl_budget").to_pylist())
        assert budgets == sorted(gen.generate(kind, 99)["robots"].column("crawl_budget").to_pylist())


def test_text_is_what_the_extractor_returns():
    """The generator's independent text matches the extraction rule, so
    the benchmark's byte-identity check can only fail on the engine."""
    from tripwire_spark.functions.html import extract_text_py

    t = gen.generate("deep", 3)["pages"]
    html, text = t.column("html").to_pylist(), t.column("text").to_pylist()
    assert all(extract_text_py(h) == x for h, x in zip(html[:500], text[:500]))


def test_link_mix():
    """Deep input: mostly intra-host (relative) links, a few dangling."""
    spec = gen.INPUTS["deep"]
    t = gen.generate("deep", 5)["pages"]
    urls = set(t.column("url").to_pylist())
    import re

    hrefs = [h for doc in t.column("html").to_pylist()[:2000]
             for h in re.findall(rb'href="([^"]+)"', doc)]
    rel = sum(h.startswith(b"/") for h in hrefs) / len(hrefs)
    assert spec.intra + spec.dangling - 0.05 < rel < spec.intra + spec.dangling + 0.05
    sizes = gen._host_sizes(spec)
    assert sizes.max() > 20 * sizes.min()  # Zipf: a few big hosts, a long tail
    assert len(urls) == spec.pages
