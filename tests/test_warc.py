"""WARC / WET codec and distributed reader tests.

Covers the kernel parser (kernel/warc.py) against the deterministic
generator (sources/warcgen.py) — gzip-member and plain framing, HTTP
payload split, quarantine on malformed input — and the distributed
binaryFile -> mapInPandas path (sources/warc.py) round-tripped against
``generate_pages``: the pages that went into the WARC come back out
byte-identical (url + html).
"""

from __future__ import annotations

import gzip
import hashlib

import pytest

from wpextract_spark.kernel.warc import (
    gunzip_members,
    iter_warc_records,
    parse_warc,
    split_http_payload,
)
from wpextract_spark.sources.warcgen import (
    build_doc_warc,
    build_warc,
    build_wet,
    doc_url,
    frame_records,
    response_record,
    warc_date_for,
)


def _pages(n: int) -> list[dict]:
    from wpextract_spark.sources.synth import synth_page

    out = []
    for i in range(n):
        p = synth_page(i, seed=42)
        p["doc_id"] = i
        out.append(p)
    return out


class TestKernel:
    def test_roundtrip_gzip_members(self):
        pages = _pages(8)
        blob = build_warc(pages)
        recs = parse_warc(blob)
        assert [r["rec_type"] for r in recs] == ["warcinfo"] + ["response"] * 8
        for page, rec in zip(pages, recs[1:]):
            assert rec["target_uri"] == page["url"]
            assert rec["payload"] == page["html"]
            assert rec["http_status"] == 200
            assert rec["mime"] == "text/html"
            assert rec["warc_date"] == warc_date_for(page["doc_id"])

    def test_roundtrip_plain_framing(self):
        pages = _pages(4)
        assert parse_warc(build_warc(pages, gzip_members=False)) == parse_warc(
            build_warc(pages)
        )

    def test_wet_conversion_records(self):
        pages = _pages(5)
        recs = parse_warc(build_wet(pages))
        assert [r["rec_type"] for r in recs[1:]] == ["conversion"] * 5
        for page, rec in zip(pages, recs[1:]):
            assert rec["payload"].decode("utf-8") == page["text"]
            assert rec["http_status"] is None
            assert rec["mime"] == "text/plain"

    def test_deterministic_bytes(self):
        pages = _pages(3)
        assert build_warc(pages) == build_warc(pages)
        assert build_doc_warc(9, "s", "t") == build_doc_warc(9, "s", "t")

    def test_gzip_member_framing_is_one_member_per_record(self):
        pages = _pages(3)
        blob = build_warc(pages)
        # 4 records -> 4 gzip members; counting magic headers via member walk
        members = 0
        data = blob
        import zlib

        while data[:2] == b"\x1f\x8b":
            d = zlib.decompressobj(wbits=31)
            d.decompress(data)
            data = d.unused_data
            members += 1
        assert members == 4

    def test_quarantine_garbage_and_truncation(self):
        assert parse_warc(b"") == []
        assert parse_warc(b"not a warc at all") == []
        plain = build_warc(_pages(4), gzip_members=False)
        # cut mid-record: prefix records still parse, rest skipped
        cut = parse_warc(plain[: len(plain) - len(plain) // 3])
        assert 0 < len(cut) < 5
        # corrupt gzip tail: prefix members still decode
        gz = build_warc(_pages(4))
        assert len(parse_warc(gz[: len(gz) // 2])) >= 0

    def test_bad_content_length_resync(self):
        good = response_record("https://a/", b"body-a", "2024-01-01T00:00:00Z")
        bad = good.replace(b"Content-Length: ", b"Content-Length: x", 1)
        stream = bad + response_record("https://b/", b"body-b", "2024-01-01T00:00:00Z")
        recs = parse_warc(stream)
        assert [r["target_uri"] for r in recs] == ["https://b/"]

    def test_split_http_payload_edges(self):
        assert split_http_payload(b"plain text") == (None, {}, b"plain text")
        status, headers, body = split_http_payload(
            b"HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n\r\nmissing"
        )
        assert (status, body) == (404, b"missing")
        assert headers["content-type"] == "text/plain"

    def test_gunzip_members_plain_passthrough_empty(self):
        assert gunzip_members(b"") == b""

    def test_lf_only_headers_tolerated(self):
        # hand-built record with bare-LF header lines and a correct
        # Content-Length for its (LF-free) content
        rec = (
            b"WARC/1.0\n"
            b"WARC-Type: resource\n"
            b"WARC-Target-URI: https://a/\n"
            b"Content-Type: text/plain\n"
            b"Content-Length: 4\n"
            b"\n"
            b"body\n\n"
        )
        got = list(iter_warc_records(rec))
        assert len(got) == 1
        assert got[0]["target_uri"] == "https://a/"
        assert got[0]["content"] == b"body"


class TestDistributed:
    @pytest.fixture(scope="class")
    def warc_dir(self, tmp_path_factory):
        """3 .warc.gz files of 20 pages each, disjoint ranges."""
        root = tmp_path_factory.mktemp("warcs")
        pages = _pages(60)
        for shard in range(3):
            chunk = pages[shard * 20 : (shard + 1) * 20]
            (root / f"part-{shard}.warc.gz").write_bytes(
                build_warc(chunk, filename=f"part-{shard}.warc.gz")
            )
        return root

    def test_read_warc_matches_generate_pages(self, spark, warc_dir):
        from wpextract_spark.sources.synth import generate_pages
        from wpextract_spark.sources.warc import read_warc_records, warc_to_pages

        records = read_warc_records(spark, str(warc_dir) + "/*.warc.gz")
        pages = warc_to_pages(records)
        got = {
            r["url"]: bytes(r["html"]) for r in pages.collect()
        }
        want = {
            r["url"]: bytes(r["html"])
            for r in generate_pages(spark, 60, seed=42).collect()
        }
        assert got == want

    def test_read_warc_is_single_narrow_stage(self, spark, warc_dir):
        from wpextract_spark.sources.warc import read_warc_records, warc_to_pages

        plan = warc_to_pages(
            read_warc_records(spark, str(warc_dir) + "/*.warc.gz")
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # file-per-task scan, no shuffle

    def test_warcinfo_records_visible_and_typed(self, spark, warc_dir):
        from wpextract_spark.sources.warc import read_warc_records

        records = read_warc_records(spark, str(warc_dir) + "/*.warc.gz")
        counts = {
            r["rec_type"]: r["n"]
            for r in records.groupBy("rec_type").agg(
                __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
            ).collect()
        }
        assert counts == {"warcinfo": 3, "response": 60}

    def test_payload_stats_match_construction(self, spark):
        """Spark-side twin of the q_warc_extract oracle on 30 synthetic docs."""
        from pyspark.sql import functions as F

        from wpextract_spark.sources.warc import warc_build_udf, warc_payload_stats

        rows = [(i, f"src{i % 5}", f"text body {i} " * (1 + i % 3)) for i in range(30)]
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        payloads = docs.select(
            "doc_id",
            warc_build_udf()(F.col("doc_id"), F.col("source"), F.col("text")).alias(
                "payload"
            ),
        )
        got = {r["doc_id"]: r.asDict() for r in warc_payload_stats(payloads).collect()}
        for doc_id, source, text in rows:
            r = got[doc_id]
            assert r["n_records"] == 2
            assert r["target_uri"] == doc_url(doc_id, source)
            assert r["http_status"] == 200 and r["mime"] == "text/html"
            assert r["payload_len"] == len(text.encode())
            assert r["payload_md5"] == hashlib.md5(text.encode()).hexdigest()

    def test_quarantined_payload_keeps_row(self, spark):
        from wpextract_spark.sources.warc import warc_payload_stats

        docs = spark.createDataFrame(
            [(1, bytearray(b"junk")), (2, bytearray(gzip.compress(b"junk")))],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r for r in warc_payload_stats(docs).collect()}
        assert rows[1]["n_records"] == 0 and rows[1]["target_uri"] is None
        assert rows[2]["n_records"] == 0


class TestPipelineIntegration:
    def test_warc_feeds_resumable_extract_job(self, spark, tmp_path):
        """End-to-end crawl-ingest path: .warc.gz files -> warc_to_pages ->
        ResumableExtractJob produces byte-identical extracted text to the
        same job run on the pages table directly (the WARC source is a
        drop-in for the input_hint table)."""
        from pyspark.sql import functions as F

        from wpextract_spark.plans.job import ResumableExtractJob
        from wpextract_spark.sources.synth import generate_pages
        from wpextract_spark.sources.warc import read_warc_records, warc_to_pages

        n = 40
        pages_rows = generate_pages(spark, n, seed=42).collect()
        warc_root = tmp_path / "warcs"
        warc_root.mkdir()
        for shard in range(2):
            chunk = [r.asDict() for r in pages_rows[shard * 20 : (shard + 1) * 20]]
            for c in chunk:
                c["doc_id"] = int(c["url"].rsplit("post-", 1)[1].rstrip("/"))
            (warc_root / f"p{shard}.warc.gz").write_bytes(build_warc(chunk))

        via_warc = warc_to_pages(read_warc_records(spark, str(warc_root) + "/*.warc.gz"))
        job_w = ResumableExtractJob(spark, via_warc, tmp_path / "out_warc", n_chunks=3)
        job_w.run()
        job_p = ResumableExtractJob(
            spark, generate_pages(spark, n, seed=42), tmp_path / "out_pages", n_chunks=3
        )
        job_p.run()

        got = {
            r["url"]: r["text"]
            for r in job_w.output().select("url", F.col("content.text").alias("text")).collect()
        }
        want = {
            r["url"]: r["text"]
            for r in job_p.output().select("url", F.col("content.text").alias("text")).collect()
        }
        assert got == want and len(got) == n
        # lineage committed for the WARC-fed run too
        assert job_w.metrics().agg(F.sum("n_docs")).first()[0] == n


class TestFuzz:
    """Property tests: the WARC codec is total, and roundtrip is exact for
    ARBITRARY payload bytes — including payloads that contain 'WARC/',
    CRLF runs, gzip magic, or HTTP status lines (Content-Length framing
    must make embedded markers inert)."""

    def test_roundtrip_arbitrary_payloads(self):
        from hypothesis import given, settings, strategies as st

        adversarial = st.one_of(
            st.binary(max_size=200),
            st.sampled_from(
                [b"WARC/1.0\r\n", b"\r\n\r\n", b"\x1f\x8b", b"HTTP/1.1 200 OK\r\n",
                 b"Content-Length: 0\r\n\r\n", b"\n\n", b""]
            ),
        )
        payloads = st.lists(
            st.lists(adversarial, max_size=6).map(b"".join), min_size=1, max_size=5
        )

        @given(payloads=payloads, gz=st.booleans())
        @settings(max_examples=60, deadline=None)
        def prop(payloads, gz):
            pages = [
                {"doc_id": i, "url": f"https://h/{i}", "html": p}
                for i, p in enumerate(payloads)
            ]
            recs = parse_warc(build_warc(pages, gzip_members=gz))
            assert [r["rec_type"] for r in recs] == ["warcinfo"] + ["response"] * len(pages)
            assert [r["payload"] for r in recs[1:]] == [p["html"] for p in pages]
            assert [r["target_uri"] for r in recs[1:]] == [p["url"] for p in pages]

        prop()

    def test_parser_total_on_arbitrary_bytes(self):
        from hypothesis import given, settings, strategies as st

        soup = st.one_of(
            st.binary(max_size=300),
            st.sampled_from(
                [b"WARC/1.0\r\nContent-Length: 9999999\r\n\r\n", b"WARC/",
                 b"\x1f\x8b\x08\x00junk", b"WARC/1.0\nContent-Length: -5\n\n"]
            ),
        )

        @given(blob=st.lists(soup, max_size=8).map(b"".join))
        @settings(max_examples=80, deadline=None)
        def prop(blob):
            recs = parse_warc(blob)  # must never raise
            assert isinstance(recs, list)

        prop()
