"""Each output check passes the expected output and flags one altered
document."""

import copy
import hashlib
import json

from perfbench import gen, workloads


def _crawl_output(crawl: gen.Crawl) -> list[tuple]:
    rows = [(url, None, *expected) for url, expected in crawl.expected.items()]
    rows += [(url, "ParseDepthError: element depth exceeds 1000 at <div>", None, 0, 0, 0, 0)
             for url in crawl.bomb_urls]
    return rows


def test_crawl_check():
    crawl = gen.crawl_pages(1, 30, 2)
    state = {"crawl": crawl, "n": len(crawl.rows)}
    rows = _crawl_output(crawl)
    assert workloads.check_crawl(state, rows, state["n"], 2) == 0

    url, error, text, *counts = rows[0]
    altered = [(url, error, text + " altered", *counts)] + rows[1:]
    assert workloads.check_crawl(state, altered, state["n"], 2) == 1
    assert workloads.check_crawl(state, rows + rows[:1], state["n"], 2) == 1  # duplicate
    assert workloads.check_crawl(state, rows[1:], state["n"], 2) == 1  # missing
    wrong_class = rows[:-1] + [(rows[-1][0], "ValueError: other", None, 0, 0, 0, 0)]
    assert workloads.check_crawl(state, wrong_class, state["n"], 2) == 1
    assert workloads.check_crawl(state, rows, state["n"] - 1, 2) == 1  # lineage short


def test_refresh_check():
    crawls = gen.refresh_crawls(2, 60)
    state = {"crawls": crawls}
    metrics = {"by_status": dict(crawls.mix),
               "extracted": crawls.mix["added"] + crawls.mix["changed"]}
    rows = [{"url": p["url"], "page_fp": hashlib.md5(p["html"]).hexdigest(),
             "text": crawls.expected_text[p["url"]]} for p in crawls.new]
    assert workloads.check_refresh(state, metrics, rows) == 0

    changed = next(i for i, p in enumerate(crawls.new) if crawls.status[p["url"]] == "changed")
    bad = copy.deepcopy(rows)
    bad[changed]["text"] = bad[changed]["text"].replace(" revised", "")  # stale text carried
    assert workloads.check_refresh(state, metrics, bad) == 1
    skewed = {**metrics, "by_status": {**metrics["by_status"], "unchanged": 47, "changed": 7}}
    assert workloads.check_refresh(state, skewed, rows) > 0


def test_site_check(tmp_path):
    golden = {n: (workloads.E2E / "extract_out" / f"{n}.json").read_bytes() for n in gen.ENTITIES}
    state = {"golden": golden}

    def write_export(mutate=None, **fmt):
        for name, raw in golden.items():
            records = []
            for c in range(workloads.SITE_COPIES):
                records += [gen.rewrite(r, gen.HOST, gen.copy_host(c),
                                        lambda v, c=c: v + c * gen.ID_STRIDE)
                            for r in json.loads(raw)]
            if name == "posts":
                if mutate:
                    mutate(records)
                dumped = json.dumps(records, **(fmt or workloads.GOLDEN_FORMAT))
            else:
                dumped = json.dumps(records, **workloads.GOLDEN_FORMAT)
            (tmp_path / f"{name}.json").write_text(dumped)

    write_export()
    assert workloads.check_site(state, tmp_path) == 0

    def alter(records):
        records[-1]["content"]["text"] += " altered"

    write_export(alter)
    assert workloads.check_site(state, tmp_path) == 1

    def reorder(records):
        records[0] = dict(reversed(records[0].items()))

    write_export(reorder)
    assert workloads.check_site(state, tmp_path) == 1

    n_posts = len(json.loads(golden["posts"])) * workloads.SITE_COPIES
    for fmt in ({"indent": 4}, {"indent": 2, "ensure_ascii": False}):
        write_export(**fmt)  # the same records, other bytes
        assert workloads.check_site(state, tmp_path) == n_posts


def test_corpus_check():
    corpus = gen.corpus_pages(1, **workloads.CORPUS)
    n = len(corpus.rows)
    state = {"corpus": corpus, "n": n}
    curated = n - sum(corpus.expected_rejects.values())
    clean = curated - corpus.n_contaminated
    metrics = {"stages": {
        "extract": {"in": n, "out": n},
        "curate": {"in": n, "out": curated, "rejects_by_reason": dict(corpus.expected_rejects)},
        "decontaminate": {"in": curated, "out": clean},
        "split": {"train": clean - 5, "val": 3, "test": 2},
        "pack": {"n_sequences": 4},
    }}
    assert workloads.check_corpus(state, metrics) == 0

    missed = copy.deepcopy(metrics)
    missed["stages"]["curate"]["rejects_by_reason"]["near_dup"] -= 1
    missed["stages"]["curate"]["out"] += 1
    assert workloads.check_corpus(state, missed) > 0
