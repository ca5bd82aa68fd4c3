"""Every generator writes the same bytes for the same seed, and other bytes
for another seed."""

from pathlib import Path

import pytest

from perfbench import gen, workloads


def _pages_digest(tmp_path: Path, name: str, rows: list[dict]) -> str:
    gen.write_pages(rows, tmp_path / name)
    return gen.tree_digest(tmp_path / name)


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: gen.crawl_pages(seed, 40, 3).rows,
        lambda seed: gen.refresh_crawls(seed, 50).new,
        lambda seed: gen.refresh_crawls(seed, 50).prev,
        lambda seed: gen.corpus_pages(seed, **workloads.CORPUS).rows,
    ],
    ids=["crawl", "refresh_new", "refresh_prev", "corpus"],
)
def test_pages_byte_deterministic(tmp_path, make):
    a = _pages_digest(tmp_path, "a", make(3))
    assert a == _pages_digest(tmp_path, "b", make(3))
    assert a != _pages_digest(tmp_path, "c", make(4))


def test_corpus_benchmark_byte_deterministic(tmp_path):
    digests = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_benchmark(gen.corpus_pages(seed, **workloads.CORPUS).benchmark, tmp_path / name)
        digests.append(gen.tree_digest(tmp_path / name))
    assert digests[0] == digests[1] != digests[2]


def test_site_dump_byte_deterministic(tmp_path):
    gen.site_dump(workloads.E2E, tmp_path / "a", 2)
    gen.site_dump(workloads.E2E, tmp_path / "b", 2)
    assert gen.tree_digest(tmp_path / "a") == gen.tree_digest(tmp_path / "b")


def test_refresh_mix_counts():
    r = gen.refresh_crawls(9, 100)
    assert r.mix == {"unchanged": 80, "changed": 10, "added": 10, "removed": 10}
    assert len(r.new) == 100
    statuses = list(r.status.values())
    assert {s: statuses.count(s) for s in r.mix} == r.mix


def test_site_copies_have_disjoint_ids_and_hosts(tmp_path):
    import json

    json_root, scrape_root = gen.site_dump(workloads.E2E, tmp_path, 3)
    posts = json.loads((json_root / "posts.json").read_text())
    ids = [p["id"] for p in posts]
    assert len(ids) == len(set(ids))
    for c in range(3):
        assert any(gen.copy_host(c) in p["link"] for p in posts)
    assert len(list(scrape_root.rglob("*.html"))) == 3 * len(
        list((workloads.E2E / "site_scrape").rglob("*.html")))
