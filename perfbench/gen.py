"""Seeded input generators for the four workloads.

Every generator is a pure function of its seed: the same seed writes the same
bytes. The program under test only ever reads the files written here.
"""

from __future__ import annotations

import hashlib
import json
import random
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from wpextract_spark.sources.synth import synth_page

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

#: Files per generated pages table. More files than cores keeps every core
#: busy on plans that scan without repartitioning (refresh, corpus_build).
N_FILES = 8


def write_pages(rows: list[dict], out_dir: Path) -> None:
    """Pages table ``(url, warc_ts, html, text, lang)`` as N_FILES parquet files."""
    out_dir.mkdir(parents=True, exist_ok=True)
    cols = [f.name for f in PAGES_ARROW_SCHEMA]
    for i in range(N_FILES):
        part = rows[i::N_FILES]
        table = pa.table({c: [r[c] for r in part] for c in cols}, schema=PAGES_ARROW_SCHEMA)
        pq.write_table(table, out_dir / f"part-{i:03d}.parquet")


def _rng(seed: int, salt: str) -> random.Random:
    return random.Random(f"{seed}:{salt}")


# ---------------------------------------------------------------------------
# crawl_extract: synth pages + depth bombs
# ---------------------------------------------------------------------------

#: Nesting depth past htmlkit's MAX_TREE_DEPTH (1000), so the page must
#: quarantine as ParseDepthError.
BOMB_DEPTH = 1200


@dataclass
class Crawl:
    rows: list[dict]
    #: url -> (text, n_internal, n_external, n_images, n_embeds)
    expected: dict[str, tuple]
    bomb_urls: set[str] = field(default_factory=set)


def _expected(row: dict) -> tuple:
    return (
        row["expected_text"],
        row["expected_n_internal"],
        row["expected_n_external"],
        row["expected_n_images"],
        row["expected_n_embeds"],
    )


def _page_row(row: dict) -> dict:
    return {k: row[k] for k in ("url", "warc_ts", "html", "text", "lang")}


def bomb_page(seed: int, i: int) -> dict:
    depth = BOMB_DEPTH + _rng(seed, f"bomb{i}").randrange(200)
    html = "<html><body>" + "<div>" * depth + f"deep {i}" + "</div>" * depth + "</body></html>"
    return {
        "url": f"https://deep{i}.example.net/bomb/{seed}-{i}/",
        "warc_ts": datetime(2024, 6, 1) + timedelta(seconds=i),
        "html": html.encode(),
        "text": "",
        "lang": "en",
    }


def crawl_pages(seed: int, n_pages: int, n_bombs: int, first_id: int = 0) -> Crawl:
    """``synth_page`` pages (log-uniform sizes, Zipf domains) plus depth bombs."""
    rows, expected = [], {}
    for doc_id in range(first_id, first_id + n_pages):
        row = synth_page(doc_id, seed, n_domains=200, with_expected=True)
        expected[row["url"]] = _expected(row)
        rows.append(_page_row(row))
    bombs = [bomb_page(seed, i) for i in range(n_bombs)]
    rows.extend(bombs)
    return Crawl(rows, expected, {b["url"] for b in bombs})


# ---------------------------------------------------------------------------
# refresh: previous crawl + a new crawl with a fixed change mix
# ---------------------------------------------------------------------------

CHANGE_MIX = {"unchanged": 0.8, "changed": 0.1, "added": 0.1, "removed": 0.1}


@dataclass
class Refresh:
    prev: list[dict]
    new: list[dict]
    #: status -> count, as update_metrics must report it
    mix: dict[str, int]
    #: url of every page in the new crawl -> expected extracted text
    expected_text: dict[str, str]
    status: dict[str, str]


def revise(row: dict, doc_id: int) -> tuple[dict, str]:
    """A changed page: same url, new title. Returns (page, expected text)."""
    html = row["html"].replace(
        f"<title>Post {doc_id}</title>".encode(), f"<title>Post {doc_id} revised</title>".encode()
    )
    text = row["expected_text"]
    assert text.startswith(f"Post {doc_id}")
    return {**_page_row(row), "html": html}, f"Post {doc_id} revised" + text[len(f"Post {doc_id}"):]


def refresh_crawls(seed: int, n_prev: int) -> Refresh:
    n_changed = int(n_prev * CHANGE_MIX["changed"])
    n_removed = int(n_prev * CHANGE_MIX["removed"])
    n_added = int(n_prev * CHANGE_MIX["added"])
    ids = list(range(n_prev))
    _rng(seed, "mix").shuffle(ids)
    changed = set(ids[:n_changed])
    removed = set(ids[n_changed : n_changed + n_removed])

    prev, new, expected, status = [], [], {}, {}
    for doc_id in range(n_prev + n_added):
        row = synth_page(doc_id, seed, n_domains=200, with_expected=True)
        url = row["url"]
        if doc_id < n_prev:
            prev.append(_page_row(row))
        if doc_id in removed:
            status[url] = "removed"
            continue
        if doc_id in changed:
            page, text = revise(row, doc_id)
            status[url] = "changed"
        else:
            page, text = _page_row(row), row["expected_text"]
            status[url] = "added" if doc_id >= n_prev else "unchanged"
        new.append(page)
        expected[url] = text
    mix = {
        "unchanged": n_prev - n_changed - n_removed,
        "changed": n_changed,
        "added": n_added,
        "removed": n_removed,
    }
    return Refresh(prev, new, mix, expected, status)


# ---------------------------------------------------------------------------
# corpus_build: distinct documents + exact/near duplicates + short pages +
# a benchmark set that contaminates a known number of documents
# ---------------------------------------------------------------------------

_CONSONANTS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"


def vocabulary(seed: int, size: int = 4000) -> list[str]:
    rng = _rng(seed, "vocab")
    words: set[str] = set()
    while len(words) < size:
        n_syl = rng.randint(2, 3)
        words.add("".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(n_syl)))
    return sorted(words)


@dataclass
class Corpus:
    rows: list[dict]
    benchmark: list[str]
    #: stage -> documents it must drop
    expected_rejects: dict[str, int]
    n_contaminated: int


def _doc_html(title: str, paragraphs: list[str]) -> str:
    body = "".join(f"<p>{p}</p>" for p in paragraphs)
    return (
        f"<!doctype html><html><head><title>{title}</title></head>"
        f"<body><main><h1>{title}</h1>{body}</main></body></html>"
    )


def corpus_pages(seed: int, n_base: int, n_exact: int, n_near: int, n_short: int,
                 n_contaminated: int) -> Corpus:
    """Base documents share no 3-gram runs; each injected duplicate, short page
    and contaminated document is aimed at exactly one curation stage."""
    vocab = vocabulary(seed)
    rng = _rng(seed, "corpus")
    bases = []
    for i in range(n_base):
        n_words = rng.randint(80, 200)
        words = [rng.choice(vocab) for _ in range(n_words)]
        paragraphs = [" ".join(words[j : j + 60]) for j in range(0, n_words, 60)]
        title = f"{rng.choice(vocab)} {rng.choice(vocab)} {i}"
        bases.append((title, paragraphs))

    def row(url_id: str, title: str, paragraphs: list[str], i: int) -> dict:
        return {
            "url": f"https://corpus{i % 37}.example.org/doc/{url_id}/",
            "warc_ts": datetime(2024, 3, 1) + timedelta(seconds=i),
            "html": _doc_html(title, paragraphs).encode(),
            "text": "",
            "lang": "en",
        }

    rows = [row(f"b{i}", t, p, i) for i, (t, p) in enumerate(bases)]
    picks = list(range(n_base))
    rng.shuffle(picks)
    exact_src = picks[:n_exact]
    near_src = picks[n_exact : n_exact + n_near]
    contaminated = picks[n_exact + n_near : n_exact + n_near + n_contaminated]
    for j, i in enumerate(exact_src):
        rows.append(row(f"x{j}", *bases[i], i))
    for j, i in enumerate(near_src):
        # New leading words (a distinct exact-dup key) over the same body:
        # 3-gram Jaccard stays near 1, so LSH proposes the pair.
        title, paragraphs = bases[i]
        rows.append(row(f"n{j}", f"mirror copy of {title}", paragraphs, i))
    for j in range(n_short):
        rows.append(row(f"s{j}", f"stub {j}", [" ".join(rng.choice(vocab) for _ in range(8))], j))
    benchmark = []
    for i in contaminated:
        words = " ".join(bases[i][1]).split()
        start = rng.randrange(0, len(words) - 30)
        benchmark.append(" ".join(words[start : start + 30]))
    return Corpus(
        rows,
        benchmark,
        {"exact_dup": n_exact, "near_dup": n_near, "gopher": n_short},
        n_contaminated,
    )


def write_benchmark(texts: list[str], out_dir: Path) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"text": texts}), out_dir / "part-000.parquet")


# ---------------------------------------------------------------------------
# site_extract: the e2e WordPress dump replicated under disjoint ids and hosts
# ---------------------------------------------------------------------------

ENTITIES = ("media", "posts", "pages", "tags", "categories", "users")
HOST = "localhost"
ID_STRIDE = 100_000
#: Integer fields that hold an entity id, in the dump and in the export
#: (``idx`` is a resolved destination's id).
ID_FIELDS = frozenset(
    {"id", "author", "featured_media", "categories", "tags", "parent", "post", "post_id", "idx"}
)


def copy_host(copy: int) -> str:
    return f"copy{copy}.{HOST}"


def _map_ids(value, fn):
    if isinstance(value, bool) or value is None:
        return value
    if isinstance(value, int):
        return fn(value) if value else value
    if isinstance(value, list):
        return [_map_ids(v, fn) for v in value]
    return value


def rewrite(value, host_from: str, host_to: str, id_fn, key: str | None = None):
    """Rewrite hosts in every string and ids in every ID_FIELDS value."""
    if isinstance(value, dict):
        return {k: rewrite(v, host_from, host_to, id_fn, k) for k, v in value.items()}
    if key in ID_FIELDS:
        return _map_ids(value, id_fn)
    if isinstance(value, list):
        return [rewrite(v, host_from, host_to, id_fn) for v in value]
    if isinstance(value, str):
        return value.replace(host_from, host_to)
    return value


def site_dump(e2e_root: Path, out_root: Path, copies: int) -> tuple[Path, Path]:
    """Write ``copies`` rewritten copies of the dump and of its scrape mirror.

    Copy ``c`` has host ``copy<c>.localhost`` and ids ``id + c * ID_STRIDE``.
    Returns (json_root, scrape_root). The copy count is the input size; the
    seed picks nothing here because the dump is a fixed real site.
    """
    json_root, scrape_root = out_root / "json", out_root / "scrape"
    json_root.mkdir(parents=True, exist_ok=True)
    for name in ENTITIES:
        records = json.loads((e2e_root / "download_out" / f"{name}.json").read_text())
        out = []
        for c in range(copies):
            out.extend(
                rewrite(r, HOST, copy_host(c), lambda v, c=c: v + c * ID_STRIDE) for r in records
            )
        (json_root / f"{name}.json").write_text(json.dumps(out, indent=4))
    src = e2e_root / "site_scrape"
    for page in sorted(src.rglob("*.html")):
        html = page.read_text()
        for c in range(copies):
            dest = scrape_root / f"c{c}" / page.relative_to(src)
            dest.parent.mkdir(parents=True, exist_ok=True)
            dest.write_text(html.replace(HOST, copy_host(c)))
    return json_root, scrape_root


def split_copies(records: list[dict]) -> dict[int, list[dict]]:
    """Exported records of one entity, per copy, mapped back to the original
    hosts and ids (the inverse of :func:`site_dump`)."""
    by_copy: dict[int, list[dict]] = {}
    for r in records:
        c = r["id"] // ID_STRIDE
        by_copy.setdefault(c, []).append(
            rewrite(r, copy_host(c), HOST, lambda v, c=c: v - c * ID_STRIDE)
        )
    return by_copy


def tree_digest(root: Path) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for p in sorted(x for x in root.rglob("*") if x.is_file()):
        h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def clear(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
