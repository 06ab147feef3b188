"""End-to-end Spark pipeline tests: extraction parity against the
closed-form oracle, spans validity, resumable lineage, streaming, and
multimodal plumbing.  One shared local session (JVM start ≈ 10 s)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from simple_html_parser_spark.operators.extraction import (  # noqa: E402
    extract_documents, parse_nodes,
)
from simple_html_parser_spark.runtime import lineage  # noqa: E402
from simple_html_parser_spark.runtime.session import get_spark  # noqa: E402
from simple_html_parser_spark.runtime.streaming import (  # noqa: E402
    stream_extract,
)
from simple_html_parser_spark.sources.documents import (  # noqa: E402
    load_documents,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return load_documents(spark, SF)


def test_extraction_matches_closed_form(spark, docs):
    ext = extract_documents(docs, salt_partitions=8)
    expect = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(
            F.format_string("doc://%s/%s", "source", "doc_id")
            .alias("url"),
            F.format_string("Doc %s%s", "doc_id", "text").alias("expect"))
    )
    joined = ext.join(expect, "url")
    assert joined.where(
        F.col("extracted_text") != F.col("expect")).count() == 0
    assert ext.where(F.col("error").isNotNull()).count() == 0


def test_spans_point_at_source(spark, docs):
    """Invariant: html[start:end] == kept text content, per span."""
    sample = docs.limit(20).collect()
    from simple_html_parser_spark.kernel.extract import PARITY, extract
    from simple_html_parser_spark.kernel.tokenizer import parse_html
    for row in sample:
        html = bytes(row.html).decode("utf-8")
        res = extract(parse_html(html), PARITY)
        rebuilt = "".join(html[s:e] for s, e in res.spans)
        assert rebuilt == res.text


def test_nodes_view_shape(spark, docs):
    nodes = parse_nodes(docs.limit(10))
    rows = nodes.collect()
    per_url: dict = {}
    for r in rows:
        per_url.setdefault(r.url, []).append(r)
    for url, ns in per_url.items():
        ns.sort(key=lambda r: r.node_id)
        assert ns[0].type == "root" and ns[0].parent_id == -1
        for r in ns[1:]:
            assert 0 <= r.parent_id < r.node_id  # pre-order parents
            assert r.subtree_end >= r.node_id


def test_resumable_lineage(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    subset = docs.limit(40)

    stats1 = lineage.run_resumable_extraction(
        spark, subset, out, lin, run_id="r1", n_buckets=4)
    assert stats1["buckets_processed"] == 4
    total1 = spark.read.parquet(f"{out}/bucket=0").count() + sum(
        spark.read.parquet(f"{out}/bucket={b}").count() for b in (1, 2, 3))
    assert stats1["docs"] == total1 == 40

    # resume: nothing left to do
    stats2 = lineage.run_resumable_extraction(
        spark, subset, out, lin, run_id="r1", n_buckets=4)
    assert stats2["buckets_processed"] == 0

    m = lineage.run_metrics(spark, lin, "r1").collect()[0]
    assert m.total_docs == 40 and m.n_buckets == 4


def test_streaming_extraction(spark, docs, tmp_path):
    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    docs.limit(30).write.parquet(inp)
    q = stream_extract(spark, inp, outp, chk)
    q.awaitTermination(120)
    got = spark.read.parquet(outp)
    assert got.count() == 30
    assert got.where(F.col("extracted_text") == "").count() == 0


def test_multimodal_stub(spark, docs):
    from simple_html_parser_spark.operators.multimodal import (
        extract_image_features,
    )
    feats = extract_image_features(docs.limit(16))
    rows = feats.collect()
    assert len(rows) == 16
    assert all(not r.decoded for r in rows)
    assert all(r.width == r.n_bytes % 640 + 1 for r in rows)


def test_png_payloads_are_wellformed(spark):
    """The synthesized PNG column must satisfy an INDEPENDENT reader:
    signature, chunk walk, and real CRC-32 per chunk (zlib.crc32), and
    the real decoder must report decoded=true with the closed-form
    dims."""
    import struct
    import zlib

    from simple_html_parser_spark.operators.multimodal import (
        extract_image_features,
    )
    from simple_html_parser_spark.sources.documents import render_png

    raw = spark.read.parquet(f"{SF}/documents.parquet").limit(24)
    png = render_png(raw)
    for r in png.collect():
        b = bytes(r.payload)
        assert b[:8] == b"\x89PNG\r\n\x1a\n"
        off, chunks = 8, []
        while off < len(b):
            ln = struct.unpack(">I", b[off:off + 4])[0]
            ctype = b[off + 4:off + 8]
            data = b[off + 8:off + 8 + ln]
            crc = struct.unpack(">I", b[off + 8 + ln:off + 12 + ln])[0]
            assert crc == zlib.crc32(ctype + data), ctype
            chunks.append(ctype)
            off += 12 + ln
        assert chunks == [b"IHDR", b"IDAT", b"IEND"]
    feats = {r.url: r for r in
             extract_image_features(png, col="payload").collect()}
    for r in raw.collect():
        f = feats[f"doc://{r.source}/{r.doc_id}#png"]
        assert f.decoded and f.width == r.doc_id % 640 + 1 \
            and f.height == r.doc_id % 480 + 1


def test_wav_payloads_are_wellformed(spark, tmp_path):
    """The synthesized WAV column must parse with the stdlib ``wave``
    module (an independent reader), agreeing with the real decoder."""
    import io
    import wave

    from simple_html_parser_spark.operators.multimodal import (
        extract_audio_features,
    )
    from simple_html_parser_spark.sources.documents import render_wav

    raw = spark.read.parquet(f"{SF}/documents.parquet").limit(24)
    wav = render_wav(raw)
    feats = {r.url: r for r in
             extract_audio_features(wav, col="payload").collect()}
    for r in wav.collect():
        with wave.open(io.BytesIO(bytes(r.payload))) as w:
            f = feats[r.url]
            assert f.decoded
            assert w.getframerate() == f.sample_rate
            assert w.getnchannels() == f.channels
            assert w.getnframes() == f.n_samples
            assert w.getsampwidth() == 2


def test_decoder_fallback_on_unknown_magic(spark, docs):
    """Non-PNG/WAV payloads take the stub path (decoded=false), never
    fail the task — the production-decoder seam."""
    from simple_html_parser_spark.operators.multimodal import (
        extract_audio_features, extract_image_features,
    )
    img = extract_image_features(docs.limit(8)).collect()
    aud = extract_audio_features(docs.limit(8)).collect()
    assert len(img) == 8 and all(not r.decoded for r in img)
    assert len(aud) == 8 and all(not r.decoded for r in aud)


def test_nodes_view_emits_error_rows(spark, docs):
    """A doc over the node cap must NOT vanish from the nodes view —
    it yields one type='error' marker row (VERDICT r01 item 6: silent
    drops are data loss at 10^12 docs)."""
    from pyspark.sql import Row
    bad = spark.createDataFrame([Row(
        url="bad://cap",
        html=bytearray(("<p>x</p>" * 50).encode()),
    )])
    corpus = docs.limit(5).select("url", "html").unionByName(bad)
    nodes = parse_nodes(corpus, max_nodes=20)
    err = {r.url: r for r in nodes.where(F.col("type") == "error").collect()}
    assert "bad://cap" in err
    assert "NodeCapExceeded" in err["bad://cap"].content
    # the 5 healthy docs still parse fully (template docs stay under 20?
    # no — they have 40 nodes, so they error too at this cap; use a cap
    # that only the bad doc exceeds)
    nodes2 = parse_nodes(corpus, max_nodes=60)
    errs2 = nodes2.where(F.col("type") == "error").collect()
    assert [r.url for r in errs2] == ["bad://cap"]
    assert nodes2.where(F.col("url") != "bad://cap") \
        .groupBy("url").count().where(F.col("count") != 40).count() == 0


def test_giant_page_skew(spark, docs):
    """One 5 MB page among small ones: salted extraction completes,
    output is correct, and the giant page cannot balloon a batch (the
    kernel flushes by bytes)."""
    from pyspark.sql import Row
    big_body = "word " * 1_000_000
    big = spark.createDataFrame([Row(
        url="giant://1",
        html=bytearray(
            (f"<html><body><p>{big_body}</p></body></html>").encode()),
    )])
    corpus = docs.limit(100).select("url", "html").unionByName(big)
    ext = extract_documents(corpus, salt_partitions=8)
    rows = {r.url: r for r in ext.collect()}
    assert len(rows) == 101
    assert rows["giant://1"].extracted_text == big_body
    assert rows["giant://1"].error is None
    assert all(r.error is None for r in rows.values())


def test_streaming_windowed_metrics(spark, docs, tmp_path):
    """Watermark + tumbling window: per-minute doc/byte counts over
    warc_ts (append mode — windows finalize when the watermark passes)."""
    from simple_html_parser_spark.runtime.streaming import (
        stream_windowed_metrics,
    )
    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    # warc_ts = 2025-01-01 00:00:00 + doc_id seconds → doc_ids 0..119
    # span exactly two 1-minute windows (limit() would be an arbitrary,
    # non-deterministic 120 rows).  Append mode emits a window only
    # when the WATERMARK passes its end — availableNow does NOT
    # force-finalize — so late sentinel docs (00:08:00..) advance the
    # watermark past both windows; the sentinels' own window stays
    # open and must NOT appear.
    docs.where((F.col("warc_ts") < "2025-01-01 00:02:00")
               | ((F.col("warc_ts") >= "2025-01-01 00:08:00")
                  & (F.col("warc_ts") < "2025-01-01 00:08:05"))) \
        .write.parquet(inp)
    q = stream_windowed_metrics(spark, inp, outp, chk,
                                watermark="1 minute")
    q.awaitTermination(120)
    got = {r.window_start.strftime("%H:%M"): r.n_docs
           for r in spark.read.parquet(outp).collect()}
    assert got == {"00:00": 60, "00:01": 60}


def test_windowed_metrics_snapshot_sentinel_file_first(
        spark, docs, monkeypatch):
    """The snapshot equals the batch tumbling-window GROUP BY even when
    the sentinel's file sorts FIRST in the file source's
    modification-time order.  Streamed in the same pass as a
    multi-micro-batch corpus, the sentinel's watermark would drop
    every corpus row of the micro-batches after the next one."""
    import glob
    import os

    import pyarrow.parquet as pq

    from simple_html_parser_spark.runtime import streaming

    real = streaming.stream_windowed_metrics

    def sentinel_first(spark_, input_dir, *args, **kw):
        parts = glob.glob(f"{input_dir}/*.parquet")
        top = {p: max(pq.read_table(p, columns=["warc_ts"])
                      .column("warc_ts").to_pylist()) for p in parts}
        floor = min(top.values())
        sentinel = [p for p, ts in top.items()
                    if (ts - floor).days >= 29]
        if sentinel:
            first = min(os.path.getmtime(p) for p in parts) - 10
            for p in sentinel:
                os.utime(p, (first, first))
        return real(spark_, input_dir, *args, **kw)

    monkeypatch.setattr(streaming, "stream_windowed_metrics",
                        sentinel_first)
    # 24 corpus files: more than two micro-batches of 8 files hold
    frame = docs.repartition(24)
    got = {tuple(r) for r in
           streaming.windowed_metrics_snapshot(spark, frame).collect()}
    batch = (
        frame.groupBy(F.window("warc_ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.octet_length("html")).alias("html_bytes"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss"),
                F.date_format("w.end", "yyyy-MM-dd HH:mm:ss"),
                "n_docs", "html_bytes")
    )
    assert got == {tuple(r) for r in batch.collect()}
    assert len(got) > 1


def test_streaming_sessionize_matches_batch(spark, docs):
    """The streamed session windows must equal the BATCH
    session_window aggregation over the same frame — Spark's own
    batch semantics are the reference, independently of the DuckDB
    oracle's gaps-and-islands replay."""
    from simple_html_parser_spark.runtime.streaming import (
        sessionize_snapshot,
    )
    # irregular in-host timestamps (bursts of 5 events 60s apart,
    # 660s silences) — the _session_docs rendering, rebuilt here
    did = "cast(regexp_extract(url, '([0-9]+)$', 1) as bigint)"
    frame = docs.withColumn(
        "warc_ts",
        F.expr(f"timestamp '2025-01-01 00:00:00' + make_interval("
               f"0, 0, 0, 0, 0, 0, "
               f"60 * ({did} div 20) + 600 * ({did} div 100))"))
    got = {tuple(r) for r in
           sessionize_snapshot(spark, frame).collect()}
    host = F.regexp_extract("url", r"^[a-z][a-z0-9+.\-]*://([^/]+)", 1)
    batch = (
        frame.groupBy(host.alias("host"),
                      F.session_window("warc_ts", "5 minutes")
                      .alias("w"))
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.octet_length("html")).alias("html_bytes"))
        .select("host",
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("session_start"),
                F.date_format("w.end", "yyyy-MM-dd HH:mm:ss")
                .alias("session_end"),
                "n_docs", "html_bytes"))
    expected = {tuple(r) for r in batch.collect()}
    assert got == expected
    # non-vacuous: every host splits into multiple sessions of 5
    assert len(got) == 100 and all(r[3] == 5 for r in got)


def test_streaming_stateful_dedup(spark, docs, tmp_path):
    """applyInPandasWithState exact-dedup: re-fetched urls in LATER
    micro-batches are dropped; state persists across triggers."""
    from pyspark.sql import functions as F2
    from simple_html_parser_spark.runtime.streaming import (
        stream_dedup_first_seen,
    )
    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    # deterministic micro-batches via warc_ts (encodes doc_id):
    # batch 1 = doc_ids 0..29; batch 2 = 10 re-fetches + doc_ids 30..34
    first = docs.where(F.col("warc_ts") < "2025-01-01 00:00:30") \
        .select("url", "warc_ts", "html")
    dup = docs.where(F.col("warc_ts") < "2025-01-01 00:00:10").select(
        "url", (F2.col("warc_ts") + F2.expr("INTERVAL 1 HOUR"))
        .alias("warc_ts"), "html")
    new = docs.where(
        (F.col("warc_ts") >= "2025-01-01 00:00:30")
        & (F.col("warc_ts") < "2025-01-01 00:00:35")) \
        .select("url", "warc_ts", "html")
    first.coalesce(1).write.parquet(inp)
    dup.unionByName(new).coalesce(1).write.mode("append").parquet(inp)
    q = stream_dedup_first_seen(spark, inp, outp, chk)
    q.awaitTermination(180)
    got = spark.read.parquet(outp)
    assert got.count() == got.select("url").distinct().count() == 35


def test_invalid_utf8_and_binary_garbage(spark, docs):
    """Crawl tails contain broken encodings: invalid UTF-8 and binary
    junk must yield rows (replacement-decoded or error-marked), never
    task failures or silent drops."""
    from pyspark.sql import Row
    garbage = spark.createDataFrame([
        Row(url="bad://utf8",
            html=bytearray(b"<html><body><p>caf\xe9 \xff\xfe</p></body></html>")),
        Row(url="bad://binary",
            html=bytearray(bytes(range(256)) * 4)),
        Row(url="bad://empty", html=bytearray(b"")),
    ])
    corpus = docs.limit(5).select("url", "html").unionByName(garbage)
    ext = {r.url: r for r in extract_documents(corpus).collect()}
    assert len(ext) == 8
    assert all(r.error is None for r in ext.values())  # none are fatal
    assert "caf�" in ext["bad://utf8"].extracted_text
    nodes = parse_nodes(corpus)
    assert nodes.select("url").distinct().count() >= 7  # empty doc has
    # only a root row or none — but the two garbage docs must be there
    urls = {r.url for r in nodes.select("url").distinct().collect()}
    assert {"bad://utf8", "bad://binary"} <= urls


def _iceberg_jar_present() -> bool:
    import glob
    import os
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    return bool(glob.glob(f"{spark_home}/jars/iceberg-spark-runtime*.jar"))


@pytest.mark.skipif(not _iceberg_jar_present(),
                    reason="iceberg-spark-runtime jar not in this "
                           "container (parquet fallback covered by the "
                           "rest of the suite)")
def test_iceberg_catalog_roundtrip(tmp_path):
    """load_table's fmt='iceberg' seam against a local hadoop catalog:
    write documents as an Iceberg table, read it back through
    load_table, and run the resume anti-join against the snapshot —
    exercises partition metadata instead of raw parquet listing."""
    from simple_html_parser_spark.sources.documents import load_table

    wh = str(tmp_path / "warehouse")
    s = (
        get_spark("iceberg-test", master="local[2]",
                  shuffle_partitions=4)
        .builder
        .config("spark.sql.catalog.local",
                "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.local.type", "hadoop")
        .config("spark.sql.catalog.local.warehouse", wh)
        .getOrCreate()
    )
    try:
        docs = s.read.parquet(f"{SF}/documents.parquet").limit(64)
        docs.writeTo("local.db.documents").create()
        back = load_table(s, "local.db", "documents", fmt="iceberg")
        assert back.count() == 64
        assert set(back.columns) >= {"doc_id", "text", "lang", "source"}
        done = back.select("doc_id").limit(16)
        todo = back.join(done, "doc_id", "left_anti")
        assert todo.count() == 48
    finally:
        s.sql("DROP TABLE IF EXISTS local.db.documents")


def test_cluster_lineage_truncated(spark):
    """VERDICT r01 item 3 'done' criterion: the label frame's plan must
    NOT contain the iteration joins — localCheckpoint truncates lineage
    each round, so iteration k never recomputes iterations 1..k-1."""
    from simple_html_parser_spark.operators.dedup import dedup_clusters
    raw = spark.read.parquet(f"{SF}/documents.parquet")
    labels = dedup_clusters(raw, threshold=0.30)
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


def test_cluster_chain_convergence(spark):
    """A 24-node path graph needs many propagation rounds (diameter
    23) — the worst case for the 2-steps-per-checkpoint convergence
    test: every node must still end at the component min, and a
    two-component graph must stay separate."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators.dedup import dedup_clusters

    chain = [Row(doc_a=i, doc_b=i + 1) for i in range(100, 123)]
    other = [Row(doc_a=500, doc_b=501), Row(doc_a=501, doc_b=502)]
    pairs = spark.createDataFrame(chain + other)
    out = {r.doc_id: r.cluster_id
           for r in dedup_clusters(None, pairs=pairs).collect()}
    assert all(out[i] == 100 for i in range(100, 124))
    assert all(out[i] == 500 for i in (500, 501, 502))


def test_pdf_payloads_are_wellformed(spark):
    """The synthesized PDF column must satisfy INDEPENDENT structural
    checks (startxref points at the xref table, every xref offset
    lands on its own ``N 0 obj`` header, page 3's stream inflates with
    stdlib zlib to the colophon constant), and the real parser must
    extract the closed-form page texts with decoded=true."""
    import re
    import zlib

    from simple_html_parser_spark.operators.pdftext import (
        extract_pdf_text,
    )
    from simple_html_parser_spark.sources.documents import (
        _PDF_COLOPHON_STREAM, render_pdf,
    )

    raw = spark.read.parquet(f"{SF}/documents.parquet").limit(24)
    pdf = render_pdf(raw)
    for r in pdf.collect():
        b = bytes(r.payload)
        assert b.startswith(b"%PDF-1.4\n")
        m = re.search(rb"startxref\s+(\d+)\s*%%EOF$", b)
        xo = int(m.group(1))
        assert b[xo:xo + 4] == b"xref"
        # every in-use xref entry points at its own object header
        table = b[xo:xo + 4 + 8 + 10 * 20]
        for num, em in enumerate(
                re.finditer(rb"(\d{10}) (\d{5}) ([nf])", table)):
            if em.group(3) == b"n":
                off = int(em.group(1))
                assert b[off:].startswith(f"{num} 0 obj".encode()), num
        # page 3's FlateDecode stream inflates to the colophon
        s8 = b[b.index(b"8 0 obj"):b.index(b"9 0 obj")]
        ln = int(re.search(rb"/Length (\d+)", s8).group(1))
        data = s8[s8.index(b"stream\n") + 7:][:ln]
        assert zlib.decompress(data).decode() == _PDF_COLOPHON_STREAM

    texts = {(r.url, r.page): r for r in
             extract_pdf_text(pdf).collect()}
    for r in raw.collect():
        url = f"doc://{r.source}/{r.doc_id}#pdf"
        p1 = texts[(url, 1)]
        assert p1.decoded and p1.note == "pdf-text via=xref filter=none"
        lines = p1.text.split("\n")
        # layout re-sort: the heading is painted LAST of the body block
        # in the stream but must come FIRST in reading order
        assert lines[0] == f"Heading for document {r.doc_id}"
        k = r.doc_id % 3 + 1
        assert lines[1:1 + k] == [
            f"Body line {i} of document {r.doc_id}"
            for i in range(1, k + 1)]
        assert lines[1 + k] == "Escape (parens) \\ slash"
        assert lines[2 + k] == "Hex line"
        assert p1.n_lines == k + 3 and p1.n_chars == len(p1.text)
        assert texts[(url, 3)].note == "pdf-text via=xref filter=flate"


def test_pdf_malformed_recovery():
    """A corrupt/absent xref falls back to the object scan (via=scan);
    garbage payloads yield decoded=false rows, never failures."""
    import pandas as pd

    from simple_html_parser_spark.operators.pdftext import (
        decode_pdf_batch, parse_pdf_pages,
    )

    c1 = b"BT /F1 12 Tf 72 720 Td (hello world) Tj ET\n"
    good = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(c1)).encode()
        + b" >>\nstream\n" + c1 + b"\nendstream\nendobj\n")
    # no xref at all -> scan recovery still extracts the text
    pages = parse_pdf_pages(good + b"%%EOF")
    assert pages == [(1, "hello world", "pdf-text via=scan filter=none")]
    # a startxref pointing into the weeds -> scan recovery
    broken = good + b"startxref\n2\n%%EOF"
    assert parse_pdf_pages(broken)[0][2] == "pdf-text via=scan filter=none"
    out = decode_pdf_batch(
        pd.Series(["a", "b", "c"]),
        pd.Series([good + b"%%EOF", b"\x00\x01garbage", b""]))
    assert list(out.decoded) == [True, False, False]
    assert list(out.page) == [1, 0, 0]


def test_pdf_content_stream_operators():
    """Tokenizer unit coverage: TJ kerning arrays, octal/newline
    escapes, hex strings with odd digits, Tm positioning, TL/T*
    leading, and the ' (move-show) operator."""
    from simple_html_parser_spark.operators.pdftext import (
        _content_shows, _layout_lines,
    )

    shows = _content_shows(
        b"BT 12 TL 10 700 Td [(a) -20 (b) 5 (c)] TJ "
        b"T* (second \\154in\\145) Tj "
        b"0 0 1 1 30 650 Tm <4f44444> Tj "
        b"' ET")
    # ' with empty stack shows nothing; three real shows
    texts = _layout_lines(shows)
    assert texts == ["abc", "second line", "ODD@"]
    # octal + paren escapes + continuation
    shows = _content_shows(
        b"BT 0 10 Td (par\\)en \\\\ \\156 x\\\n y) Tj ET")
    assert _layout_lines(shows) == ["par)en \\ n x y"]


def test_spark_submit_pyfiles_job(spark, tmp_path):
    """The PRODUCTION entry shape (north rule): spark-submit --py-files
    <zip> jobs/extract_job.py.  Runs from a neutral cwd so the package
    import genuinely resolves from the zip, asserts the extracted
    output and the implicit lineage resume (second submit processes 0
    buckets)."""
    import json as _json
    import os
    import subprocess
    import sys

    sys.path.insert(0, str(ROOT / "tools"))
    from package_pyfiles import build

    from simple_html_parser_spark.sources.documents import render_html

    zip_path = build(str(tmp_path / "pyfiles.zip"))
    inp = str(tmp_path / "crawl")
    raw = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    render_html(raw).write.parquet(inp)

    env = dict(os.environ, SPARK_GRAFT_CPUS="2",
               PYTHONPATH="")  # the zip must supply the package
    def submit():
        p = subprocess.run(
            ["/opt/spark/bin/spark-submit", "--master", "local[2]",
             "--py-files", zip_path,
             str(ROOT / "jobs" / "extract_job.py"),
             "--input", inp, "--output", str(tmp_path / "out"),
             "--lineage", str(tmp_path / "lineage"),
             "--run-id", "t1", "--buckets", "4"],
            capture_output=True, text=True, env=env,
            cwd=str(tmp_path), timeout=300)
        assert p.returncode == 0, p.stderr[-2000:]
        stats_line = next(l for l in p.stdout.splitlines()
                          if l.startswith("{"))
        return _json.loads(stats_line)

    stats1 = submit()
    assert stats1["buckets_processed"] == 4 and stats1["docs"] == 40
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 40
    assert got.where(F.col("extracted_text") == "").count() == 0
    # implicit resume: same run-id again → lineage anti-join skips all
    stats2 = submit()
    assert stats2["buckets_processed"] == 0
    assert stats2["buckets_done_before"] == 4


def test_crawl_url_layer(spark):
    """URL ops: refetch collapse keeps the later capture; the md5
    sample is deterministic under repartitioning; components parse."""
    from simple_html_parser_spark.operators import weburl as WU
    from simple_html_parser_spark.sources.documents import (
        CRAWL_REFETCH_MOD, load_crawl, load_table,
    )

    crawl = load_crawl(spark, SF)
    n_docs = load_table(spark, SF, "documents").count()
    n_refetched = crawl.where(F.col("fetch_seq") == 1).count()
    assert n_refetched == (n_docs + CRAWL_REFETCH_MOD - 1) \
        // CRAWL_REFETCH_MOD

    latest = WU.url_dedup_latest(crawl)
    assert latest.count() == n_docs
    # every refetched url must carry the refetch's byte count (+17)
    twice = latest.where(F.col("n_fetches") == 2)
    assert twice.count() == n_refetched
    joined = (twice.alias("l")
              .join(crawl.where(F.col("fetch_seq") == 1).alias("c"),
                    "url")
              .where(F.col("l.n_bytes") != F.col("c.n_bytes")))
    assert joined.count() == 0

    comp = WU.url_components(crawl)
    assert comp.count() == n_docs
    bad = comp.where(
        (F.col("scheme") != "https")
        | (F.col("registered_domain") != "example.com")
        | ~F.col("host").endswith(".example.com")
        | ~F.col("path").startswith("/")
        | ~F.col("query").startswith("ref=r"))
    assert bad.count() == 0

    # determinism: the sampled url set is identical at any partitioning
    s1 = {r.url for r in
          WU.domain_hash_sample(crawl, 2000).select("url").collect()}
    s2 = {r.url for r in
          WU.domain_hash_sample(crawl.repartition(13), 2000)
          .select("url").collect()}
    assert s1 == s2 and 0 < len(s1) < n_docs


def test_dedup_lines_first_occurrence(spark):
    """Line dedup keeps exactly one copy of every distinct segment,
    and the kept copy is the globally first (doc_id, seg_idx)."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators import dedup as D

    rows = [
        Row(doc_id=1, text="a b c d e f g h x y"),   # segs: a..h | x y
        Row(doc_id=2, text="a b c d e f g h z z"),   # dup first seg
        Row(doc_id=3, text="x y"),                    # dup of doc 1 tail
        Row(doc_id=4, text=""),                       # empty: no segs
    ]
    out = {r.doc_id: r for r in
           D.dedup_lines(spark.createDataFrame(rows), seg_len=8)
           .collect()}
    assert out[1].kept_text == "a b c d e f g h x y"
    assert out[1].n_segments == 2 and out[1].n_kept == 2
    assert out[2].kept_text == "z z"
    assert out[2].n_kept == 1
    assert out[3].kept_text == "" and out[3].n_kept == 0
    assert 4 not in out  # no segments at all -> no row


def test_dedup_substrings_semantics(spark):
    """Exact substring dedup removes every token covered by a
    duplicated window (within- or cross-doc), keeps short docs whole,
    and respects min_count."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators import dedup as D

    rows = [
        Row(doc_id=1, text="a b c d e f g h unique tail one"),
        Row(doc_id=2, text="x y a b c d e f g h other words"),
        Row(doc_id=3, text="totally different text with no dup span"),
        Row(doc_id=4, text="short doc"),
        Row(doc_id=5, text="rep rep rep rep rep rep rep rep"),
    ]
    df = spark.createDataFrame(rows)
    out = {r.doc_id: r for r in
           D.dedup_substrings(df, window=4).collect()}
    # the shared 8-token run a..h is cut from BOTH docs
    assert out[1].kept_text == "unique tail one"
    assert out[1].n_tokens == 11 and out[1].n_removed == 8
    assert out[2].kept_text == "x y other words"
    assert out[2].n_removed == 8
    # no duplicated window -> untouched
    assert out[3].kept_text == rows[2].text and out[3].n_removed == 0
    # shorter than the window -> no windows, untouched
    assert out[4].kept_text == "short doc" and out[4].n_removed == 0
    # WITHIN-doc repetition counts (Lee et al. total-occurrence rule)
    assert out[5].kept_text == "" and out[5].n_removed == 8
    # min_count=6 spares the pair-duplicated span but still kills the
    # 5x-windowed within-doc repeat run? rep-run has 5 windows -> kept
    out3 = {r.doc_id: r for r in
            D.dedup_substrings(df, window=4, min_count=6).collect()}
    assert out3[1].n_removed == 0 and out3[5].n_removed == 0


def test_dedup_substrings_partition_independent(spark):
    """Same output at 1 and 13 partitions (no order/placement
    dependence anywhere in the plan)."""
    from simple_html_parser_spark.operators import dedup as D
    from simple_html_parser_spark.sources.documents import load_table

    base = (load_table(spark, SF, "documents")
            .select("doc_id", "text").limit(120))
    a = {tuple(r) for r in
         D.dedup_substrings(base.repartition(1), window=12).collect()}
    b = {tuple(r) for r in
         D.dedup_substrings(base.repartition(13), window=12).collect()}
    assert a == b and len(a) == 120
    assert any(r[3] > 0 for r in a)  # corpus near-dups produce hits


def test_dedup_substrings_matches_python_reference(spark):
    """Brute-force reference: enumerate every stride-1 window string,
    count, remove covered tokens."""
    import random

    from pyspark.sql import Row

    from simple_html_parser_spark.operators import dedup as D

    rng = random.Random(4242)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = [Row(doc_id=i,
                text=" ".join(rng.choice(vocab)
                              for _ in range(rng.randint(0, 30))))
            for i in range(60)]
    W = 5
    toks = {r.doc_id: [t for t in r.text.split(" ") if t] for r in rows}
    from collections import Counter
    cnt = Counter(
        " ".join(t[i:i + W])
        for t in toks.values() for i in range(len(t) - W + 1))
    expected = {}
    for did, t in toks.items():
        covered = set()
        for i in range(len(t) - W + 1):
            if cnt[" ".join(t[i:i + W])] >= 2:
                covered.update(range(i, i + W))
        kept = [tok for j, tok in enumerate(t) if j not in covered]
        expected[did] = (" ".join(kept), len(t), len(t) - len(kept))
    got = {r.doc_id: (r.kept_text, r.n_tokens, r.n_removed)
           for r in D.dedup_substrings(
               spark.createDataFrame(rows), window=W).collect()}
    assert got == expected


def test_dedup_substrings_hash_variants_equal(spark):
    """The prod span key form — xxhash64 (8-byte bigint) — yields the
    same deduped output as the oracle md5 form on real corpus text."""
    from simple_html_parser_spark.operators import dedup as D
    from simple_html_parser_spark.sources.documents import load_table

    base = (load_table(spark, SF, "documents")
            .select("doc_id", "text").limit(120))
    a = {tuple(r) for r in
         D.dedup_substrings(base, window=12).collect()}
    b = {tuple(r) for r in
         D.dedup_substrings(base, window=12,
                            span_hash="xxhash64").collect()}
    assert a == b and len(a) == 120
    assert any(r[3] > 0 for r in a)


def _fluency_reference(rows, min_count=2, cap=65535):
    """Pure-Python replica of lm_fluency's integer semantics."""
    from collections import Counter

    toks = {r.doc_id: [t for t in r.text.split(" ") if t] for r in rows}
    lang = {r.doc_id: r.lang for r in rows}
    bgs = {d: [" ".join(t[i:i + 2]) for i in range(len(t) - 1)]
           for d, t in toks.items()}
    cnt: Counter = Counter()
    for d, bs in bgs.items():
        for b in bs:
            cnt[(lang[d], b)] += 1
    lm = {k: c for k, c in cnt.items() if c >= min_count}
    score = {}
    for d, bs in bgs.items():
        nb = len(bs)
        sw = sum(min(lm[(lang[d], b)], cap).bit_length() - 1
                 for b in bs if (lang[d], b) in lm)
        score[d] = (nb, (10000 * sw) // (15 * nb) if nb else 0)
    out = {}
    for lg in set(lang.values()):
        ds = [d for d in score if lang[d] == lg]
        n = len(ds)
        for d in ds:
            c = sum(1 for e in ds if score[e][1] >= score[d][1])
            bucket = ("head" if 3 * c <= n + 2 else
                      "middle" if 3 * c <= 2 * n + 2 else "tail")
            out[d] = (lg, score[d][0], score[d][1], bucket)
    return out


def test_lm_fluency_matches_python_reference(spark):
    """Random two-language corpus vs the brute-force reference:
    LM counts, floor-log2 weights, OOV=0, tertile-by-histogram."""
    import random

    from pyspark.sql import Row

    from simple_html_parser_spark.operators import fluency as FL

    rng = random.Random(777)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    rows = [Row(doc_id=i,
                lang="en" if i % 2 == 0 else "de",
                text=" ".join(rng.choice(vocab)
                              for _ in range(rng.randint(0, 25))))
            for i in range(80)]
    expected = _fluency_reference(rows)
    got = {r.doc_id: (r.lang, r.n_bigrams, r.fluency_bp, r.bucket)
           for r in FL.lm_fluency(spark.createDataFrame(rows)).collect()}
    assert got == expected
    assert {b for (_, _, _, b) in got.values()} == \
        {"head", "middle", "tail"}


def test_lm_fluency_edges_and_ref_frame(spark):
    """Empty/1-token docs score 0; an LM trained on a disjoint
    reference frame sends every doc to a single all-tail bucket."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators import fluency as FL

    rows = [Row(doc_id=1, lang="en", text=""),
            Row(doc_id=2, lang="en", text="one"),
            Row(doc_id=3, lang="en", text="x y x y x y x y"),
            Row(doc_id=4, lang="en", text="x y x y q r s t"),
            Row(doc_id=5, lang="en", text="p q r s t u v w")]
    df = spark.createDataFrame(rows)
    out = {r.doc_id: r for r in FL.lm_fluency(df).collect()}
    assert len(out) == 5
    assert out[1].n_bigrams == 0 and out[1].fluency_bp == 0
    assert out[2].n_bigrams == 0 and out[2].fluency_bp == 0
    # doc 3 is pure repeated in-LM bigrams -> strictly best score
    assert out[3].fluency_bp > out[4].fluency_bp > 0
    assert out[3].bucket == "head"
    assert out[1].bucket == "tail" and out[2].bucket == "tail"
    # disjoint reference LM: every bigram OOV -> bp 0 for all -> every
    # doc ties at c(0)=n -> all tail
    ref = spark.createDataFrame(
        [Row(doc_id=100, lang="en", text="zz ww zz ww zz ww")])
    out2 = FL.lm_fluency(df, ref=ref).collect()
    assert all(r.fluency_bp == 0 and r.bucket == "tail" for r in out2)


def test_lm_fluency_partition_independent(spark):
    """Same output at 1 and 13 partitions on real corpus text."""
    from simple_html_parser_spark.operators import fluency as FL
    from simple_html_parser_spark.sources.documents import load_table

    base = (load_table(spark, SF, "documents")
            .select("doc_id", "text", "lang").limit(150))
    a = {tuple(r) for r in
         FL.lm_fluency(base.repartition(1)).collect()}
    b = {tuple(r) for r in
         FL.lm_fluency(base.repartition(13)).collect()}
    assert a == b and len(a) == 150
    assert {r[4] for r in a} == {"head", "middle", "tail"}


def _gopher_reference(rows, min_words=20):
    """Pure-Python replica of gopher_rules' integer semantics."""
    import re

    from simple_html_parser_spark.operators.gopher import GOPHER_STOPS

    out = {}
    for r in rows:
        text = r.text
        words = [w for w in re.split(r"[ \n]", text) if w]
        lines = text.split("\n")
        nw, nl = len(words), len(lines)
        twc = sum(len(w) for w in words)
        nh = len(text) - len(text.replace("#", ""))
        ne = (len(text) - len(text.replace("...", ""))) // 3
        nbl = sum(1 for ln in lines if ln[:1] in ("-", "*", "•"))
        nel = sum(1 for ln in lines
                  if ln.endswith("...") or ln.endswith("…"))
        naw = sum(1 for w in words if re.search("[a-zA-Z]", w))
        nsh = len(set(words) & set(GOPHER_STOPS))
        passes = (min_words <= nw <= 100000
                  and 3 * nw <= twc <= 10 * nw
                  and 10 * nh <= nw and 10 * ne <= nw
                  and 10 * nbl <= 9 * nl and 10 * nel <= 3 * nl
                  and 5 * naw >= 4 * nw and nsh >= 2)
        out[r.doc_id] = (
            nw, nl, 100 * twc // max(nw, 1),
            10000 * nh // max(nw, 1), 10000 * ne // max(nw, 1),
            10000 * nbl // max(nl, 1), 10000 * nel // max(nl, 1),
            10000 * naw // max(nw, 1), nsh, passes)
    return out


def test_gopher_rules_matches_python_reference(spark):
    """Handcrafted docs hitting every rule branch (bullets, ellipsis
    lines, symbol runs, non-alpha words, stopword misses, too-short,
    too-long words) vs the brute-force reference."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators import gopher as GO

    good = ("the quick brown fox jumps with vigor and grace that "
            "nobody doubts of course have faith ") * 3
    rows = [
        Row(doc_id=1, text=good),
        Row(doc_id=2, text="tiny doc the of"),                 # too short
        Row(doc_id=3, text=good + "\n- a\n- b\n- c\n- d\n- e"
                           "\n- f\n- g\n- h\n- i\n- j"),       # bullets>90%? lines mostly bullets
        Row(doc_id=4, text=good + "\nwind up...\nmore...\nyes…"),
        Row(doc_id=5, text=good + " " + "# " * 30),            # symbol ratio
        Row(doc_id=6, text="the of and that " + "123 456 " * 20),  # alpha<80%
        Row(doc_id=7, text=("zz " * 60).strip()),              # no stop hits
        Row(doc_id=8, text=""),
        Row(doc_id=9, text=("supercalifragilistic " * 25).strip()
                           + " the of"),                       # mean len>10
    ]
    expected = _gopher_reference(rows)
    got = {r.doc_id: tuple(r)[1:] for r in GO.gopher_rules(
        spark.createDataFrame(rows), min_words=20).collect()}
    assert got == expected
    assert got[1][-1] is True          # the clean doc passes
    for d in (2, 5, 6, 7, 8, 9):       # each trap trips its rule
        assert got[d][-1] is False, d


def test_gopher_rules_partition_independent(spark):
    from simple_html_parser_spark.operators import gopher as GO
    from simple_html_parser_spark.sources.documents import load_table

    base = (load_table(spark, SF, "documents")
            .select("doc_id", "text").limit(150))
    a = {tuple(r) for r in
         GO.gopher_rules(base.repartition(1), min_words=20).collect()}
    b = {tuple(r) for r in
         GO.gopher_rules(base.repartition(13), min_words=20).collect()}
    assert a == b and len(a) == 150


def _dsir_reference(rows, target_ids, n_buckets=64):
    """Pure-Python replica of dsir_weights' integer semantics."""
    from collections import Counter

    def fold(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % 2147483647
        return acc % n_buckets

    def bl(x):
        return (x + 1).bit_length() - 1

    bgs = {}
    for r in rows:
        t = [x for x in r.text.split(" ") if x]
        bgs[r.doc_id] = [fold(t[i] + " " + t[i + 1])
                         for i in range(len(t) - 1)]
    raw = Counter(b for bs in bgs.values() for b in bs)
    tgt = Counter(b for d, bs in bgs.items()
                  if d in target_ids for b in bs)
    rt, tt = sum(raw.values()), sum(tgt.values())
    out = {}
    for d, bs in bgs.items():
        nb = len(bs)
        if nb == 0:
            out[d] = (0, 0, 0, False)
            continue
        score = sum(bl(tgt.get(b, 0)) - bl(raw[b]) for b in bs) \
            + nb * (bl(rt) - bl(tt))
        q = abs(100 * score) // nb  # div truncates toward zero
        out[d] = (nb, score, q if score >= 0 else -q, score >= 0)
    return out


def test_dsir_weights_matches_python_reference(spark):
    """Two-domain corpus: target-domain docs must score higher and be
    selected; integer log2 weights, normalizers, trunc-div avg."""
    import random

    from pyspark.sql import Row

    from simple_html_parser_spark.operators import dsir as DI

    rng = random.Random(4242)
    tgt_vocab = ["alpha", "beta", "gamma", "delta"]
    raw_vocab = ["omega", "sigma", "kappa", "zeta"]
    shared = ["the", "and"]
    rows = []
    for i in range(60):
        v = (tgt_vocab if i % 2 == 0 else raw_vocab) + shared
        rows.append(Row(doc_id=i, text=" ".join(
            rng.choice(v) for _ in range(rng.randint(0, 30)))))
    target_ids = {i for i in range(60) if i % 2 == 0}
    expected = _dsir_reference(rows, target_ids)
    df = spark.createDataFrame(rows)
    got = {r.doc_id: (r.n_bigrams, r.dsir_score, r.avg_score_x100,
                      r.selected)
           for r in DI.dsir_weights(
               df, df.filter(F.col("doc_id") % 2 == 0),
               n_buckets=64).collect()}
    assert got == expected
    sel = {d for d, v in got.items() if v[3]}
    # the target slice is systematically favored
    tgt_scored = [d for d in target_ids if got[d][0] > 0]
    assert len(sel & target_ids) >= len(tgt_scored) * 2 // 3
    assert any(not v[3] and v[0] > 0 for d, v in got.items()
               if d not in target_ids)


def test_dsir_weights_partition_independent(spark):
    from simple_html_parser_spark.operators import dsir as DI
    from simple_html_parser_spark.sources.documents import load_table

    base = (load_table(spark, SF, "documents")
            .select("doc_id", "text", "lang").limit(150))
    docs = base.select("doc_id", "text")
    tgt = base.filter(F.col("lang") == "en").select("doc_id", "text")
    a = {tuple(r) for r in DI.dsir_weights(
        docs.repartition(1), tgt, n_buckets=256).collect()}
    b = {tuple(r) for r in DI.dsir_weights(
        docs.repartition(13), tgt.repartition(7),
        n_buckets=256).collect()}
    assert a == b and len(a) == 150
    # the corpus shares ONE vocabulary across all 5 languages, so the
    # en-target model can't discriminate by content — scores must
    # still vary (bucket collisions) and stay deterministic; the
    # two-domain synthetic test above is where selection splits
    assert len({r[2] for r in a}) > 1


def _repetition_reference(rows):
    """Pure-Python replica of massivetext_repetition."""
    import re

    TOP_TH = {2: 20, 3: 18, 4: 16}
    DUP_TH = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}
    out = {}
    for r in rows:
        w = [x for x in re.split(r"[ \n]", r.text) if x]
        lines = r.text.split("\n")
        nw, nl = len(w), len(lines)
        twc = sum(len(x) for x in w)
        tlc = sum(len(x) for x in lines)
        ndl = len(set(lines))
        from collections import Counter
        lc = Counter(lines)
        dlc = sum((c - 1) * len(x) for x, c in lc.items() if c > 1)
        paras = r.text.split("\n\n")
        np_, ndp = len(paras), len(set(paras))
        tpc = sum(len(x) for x in paras)
        pc = Counter(paras)
        dpc = sum((c - 1) * len(x) for x, c in pc.items() if c > 1)
        vals = [nw, nl, 10000 * (nl - ndl) // max(nl, 1),
                10000 * dlc // max(tlc, 1),
                10000 * (np_ - ndp) // max(np_, 1),
                10000 * dpc // max(tpc, 1)]
        ok = (10 * (nl - ndl) <= 3 * nl
              and 10 * dlc <= 2 * max(tlc, 1)
              and 10 * (np_ - ndp) <= 3 * np_
              and 10 * dpc <= 2 * max(tpc, 1))
        masses, covers = {}, {}
        for n in (2, 3, 4, 5, 6, 7, 8, 9, 10):
            grams = [" ".join(w[i:i + n]) for i in range(nw - n + 1)] \
                if nw >= n else []
            gc = Counter(grams)
            if n <= 4:
                m = max((c * (len(g) - (n - 1))
                         for g, c in gc.items()), default=0)
                masses[n] = m
                vals.append(10000 * m // max(twc, 1))
                ok = ok and 100 * m <= TOP_TH[n] * max(twc, 1)
            else:
                dup = {g for g, c in gc.items() if c >= 2}
                cov = 0
                for i in range(nw):
                    lo = max(0, i - n + 1)
                    hi = min(i, nw - n)
                    if any(grams[j] in dup for j in range(lo, hi + 1)):
                        cov += len(w[i])
                covers[n] = cov
                vals.append(10000 * cov // max(twc, 1))
                ok = ok and 100 * cov <= DUP_TH[n] * max(twc, 1)
        vals.append(ok)
        out[r.doc_id] = tuple(vals)
    return out


def test_repetition_filters_match_python_reference(spark):
    """Crafted docs hitting every repetition signal (dup lines, heavy
    2-grams, planted dup 5..10-grams, overlap >100% mass, empties)."""
    import random

    from pyspark.sql import Row

    from simple_html_parser_spark.operators import gopher as GO

    rng = random.Random(99)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = [
        Row(doc_id=1, text=" ".join(rng.choice(vocab)
                                    for _ in range(60))),
        Row(doc_id=2, text="r1 r2 r3 r4 r5 r1 r2 r3 r4 r5 tail"),
        Row(doc_id=3, text="x y x y x y"),            # overlap > 100%
        Row(doc_id=4, text="a b\ndup line\ndup line\ndup line\nc d"),
        Row(doc_id=5, text=""),
        Row(doc_id=6, text="q w e r t y u i o p " * 2),  # dup 10-gram
        Row(doc_id=7, text="one two three"),          # shorter than n
        Row(doc_id=8, text="intro words\n\nsame para here"
                           "\n\nsame para here\n\nclosing bit"),
    ]
    expected = _repetition_reference(rows)
    got = {r.doc_id: tuple(r)[1:] for r in GO.massivetext_repetition(
        spark.createDataFrame(rows)).collect()}
    assert got == expected
    assert got[2][9] > 0 and got[6][14] > 0   # dup5 / dup10 fire
    assert got[3][8] > 10000                  # top4 overlap mass > 100%
    assert got[4][2] > 0 and got[4][3] > 0    # line signals fire
    assert got[8][4] > 0 and got[8][5] > 0    # paragraph signals fire


def test_repetition_filters_partition_independent(spark):
    from simple_html_parser_spark.operators import gopher as GO
    from simple_html_parser_spark.sources.documents import load_table

    base = (load_table(spark, SF, "documents")
            .select("doc_id", "text").limit(150))
    a = {tuple(r) for r in GO.massivetext_repetition(
        base.repartition(1)).collect()}
    b = {tuple(r) for r in GO.massivetext_repetition(
        base.repartition(13)).collect()}
    assert a == b and len(a) == 150


def test_curate_full_composes_stage_outputs(spark):
    """The one-plan curate_full must equal the stepwise composition
    of its already-tested stages (scrub → gopher gate → lang/quality/
    OOV/fluency predicates → exact keepers − near-dup losers)."""
    from simple_html_parser_spark.operators import curation as CU
    from simple_html_parser_spark.operators import dedup as D
    from simple_html_parser_spark.operators import fluency as FL
    from simple_html_parser_spark.operators import gopher as GO
    from simple_html_parser_spark.operators import textstats as T
    from simple_html_parser_spark.operators.pii import scrub_col
    from simple_html_parser_spark.sources.documents import load_table

    docs = load_table(spark, SF, "documents") \
        .select("doc_id", "lang", "text")
    kw = dict(gopher_min_words=10, gopher_stops=("the", "a"))
    docs2 = docs.select("doc_id", "lang",
                        scrub_col(F.col("text")).alias("text"))
    docs3 = GO.gopher_filter(docs2, min_words=10, stops=("the", "a"))
    n3 = docs3.count()
    flu = {r.doc_id: (r.fluency_bp, r.bucket)
           for r in FL.lm_fluency(docs3).collect()}
    oov = {r.doc_id: r.oov_bp for r in T.oov_stats(docs3).collect()}
    lang = {r.doc_id: r.pred_lang
            for r in T.lang_id(docs3).collect()}
    decl = {r.doc_id: r.lang for r in docs3.collect()}
    qual = {r.doc_id: r.quality_bp
            for r in T.quality_score(docs3).collect()}
    keepers = {r.doc_id for r in D.dedup_exact(docs3).collect()}
    losers = {r.doc_id for r in
              D.dedup_clusters(docs3, threshold=0.30,
                               max_shingle_df="auto").collect()
              if r.doc_id != r.cluster_id}
    expected = {
        d for d in decl
        if lang[d] == decl[d] and qual[d] >= 5500
        and oov[d] <= 600 and flu[d][1] != "tail"
        and d in keepers and d not in losers}
    got = {r.doc_id: r for r in CU.curate_full(docs, **kw).collect()}
    assert set(got) == expected
    assert 0 < len(expected) < n3          # non-vacuous at every gate
    for d, r in got.items():               # columns match the stages
        assert (r.pred_lang, r.quality_bp, r.oov_bp,
                r.fluency_bp, r.bucket) == \
            (lang[d], qual[d], oov[d], flu[d][0], flu[d][1])


def test_curation_unpersist_handles_release_caches(spark):
    """curate_web/curate_full append every frame they persist or
    checkpoint to ``unpersist_handles`` so a resident pipeline can
    release the cache after materializing the result (bench survives
    via clearCache; production would not): releasing the handles
    leaves no RDD persisted that was not persisted before the call,
    dedup_clusters' localCheckpoint RDDs included.  (Compared as id
    sets, not counts: the ContextCleaner may free an earlier test's
    unreferenced RDDs mid-test.)"""
    from simple_html_parser_spark.operators import curation as CU
    from simple_html_parser_spark.sources.documents import load_table

    # start from an empty CacheManager: a frame an earlier test left
    # cached would be shared with (and released by) the handles below
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keySet())

    docs = load_table(spark, SF, "documents") \
        .select("doc_id", "lang", "text")
    for fn, kw in ((CU.curate_web, {}),
                   (CU.curate_full,
                    dict(gopher_min_words=10, gopher_stops=("the", "a")))):
        before = persisted()
        handles: list = []
        out = fn(docs, unpersist_handles=handles, **kw)
        out.count()
        # the scrubbed/survivor frame plus dedup's internal frames
        assert len(handles) >= 2
        assert any(h.storageLevel.useMemory or h.storageLevel.useDisk
                   for h in handles)
        for h in handles:
            h.unpersist()
        assert all(not (h.storageLevel.useMemory
                        or h.storageLevel.useDisk) for h in handles)
        assert persisted() <= before, fn.__name__
    spark.catalog.clearCache()


def test_decontaminate_flags_benchmark_overlap(spark):
    """A doc sharing 3-grams with the benchmark slice is scored; the
    benchmark docs themselves are excluded from the output."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators import dedup as D

    rows = [
        Row(doc_id=0, text="the quick brown fox jumps"),   # benchmark
        Row(doc_id=1, text="the quick brown fox sleeps"),  # 2/3 hit
        Row(doc_id=2, text="completely different words here"),
    ]
    out = {r.doc_id: r for r in
           D.decontaminate(spark.createDataFrame(rows), bench_mod=97)
           .collect()}
    assert 0 not in out
    assert out[1].n_shingles == 3 and out[1].n_contaminated == 2
    assert out[1].contam_bp == 6666
    assert out[2].n_contaminated == 0 and out[2].contam_bp == 0


def test_domain_quota_two_phase_is_exact(spark):
    """The salted two-phase per-host top-k equals the single-window
    reference selection, and every host is capped at k."""
    from pyspark.sql import Window

    from simple_html_parser_spark.operators import weburl as WU
    from simple_html_parser_spark.sources.documents import load_crawl

    crawl = load_crawl(spark, SF)
    out = WU.domain_quota(crawl, k=10)
    per_host = out.groupBy("host").count().collect()
    assert per_host and all(r["count"] == 10 for r in per_host)

    ref = (
        crawl.select("url").distinct()
        .select("url",
                F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
                WU.url_hash_bucket(F.col("url"), 1 << 30).alias("_rk"))
        .withColumn("rank", F.row_number().over(
            Window.partitionBy("host").orderBy("_rk", "url"))
            .cast("bigint"))
        .where(F.col("rank") <= 10).select("host", "url", "rank")
    )
    assert {tuple(r) for r in out.collect()} \
        == {tuple(r) for r in ref.collect()}


def test_pii_scrub_and_oov(spark):
    """PII scrub finds exactly the synthesized contact PII (1 email +
    1 IP + 1 phone on every CONTACT_MOD-th doc, none elsewhere) and
    the scrubbed text retains no matches; OOV flags the doc-unique
    contact tokens."""
    from simple_html_parser_spark.operators import textstats as T
    from simple_html_parser_spark.operators.pii import pii_scrub
    from simple_html_parser_spark.sources.documents import (
        CONTACT_MOD, load_table, with_contacts,
    )

    raw = load_table(spark, SF, "documents")
    aug = with_contacts(raw)
    out = pii_scrub(aug)
    n_docs = raw.count()
    n_aug = (n_docs + CONTACT_MOD - 1) // CONTACT_MOD
    hit = out.where((F.col("n_emails") == 1) & (F.col("n_ips") == 1)
                    & (F.col("n_phones") == 1))
    assert hit.count() == n_aug
    clean = out.where((F.col("n_emails") == 0) & (F.col("n_ips") == 0)
                      & (F.col("n_phones") == 0))
    assert clean.count() == n_docs - n_aug
    # idempotence: scrubbing the scrubbed text finds nothing
    rescrub = pii_scrub(out.select(
        "doc_id", F.col("scrubbed_text").alias("text")))
    assert rescrub.where((F.col("n_emails") > 0) | (F.col("n_ips") > 0)
                         | (F.col("n_phones") > 0)).count() == 0

    # every augmented doc carries >= 3 doc-unique contact tokens
    # (email, IP, phone); unaugmented docs may legitimately have OOV
    # tokens of their own (natural df <= 50 words), so only the
    # augmented side is asserted exactly
    oov = T.oov_stats(aug)
    aug_rows = oov.where(F.col("doc_id") % CONTACT_MOD == 0)
    assert aug_rows.count() == n_aug
    assert aug_rows.where(F.col("n_oov") >= 3).count() == n_aug
    assert aug_rows.where(F.col("oov_bp") > 0).count() == n_aug


def test_warc_parse_robustness(spark):
    """WARC parsing walks by Content-Length (bodies containing the
    record magic survive), and malformed files yield error marker rows
    for the bad tail while keeping the good prefix — never a task
    failure."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators import warc as W

    def rec(uri, body: bytes) -> bytes:
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                + b"WARC-Target-URI: " + uri.encode()
                + b"\r\nWARC-Date: 2025-01-01T00:00:00Z"
                + b"\r\nContent-Length: " + str(len(body)).encode()
                + b"\r\n\r\n" + body + b"\r\n\r\n")

    tricky_body = b"<p>literal WARC/1.0\r\n inside a body</p>"
    rows = [
        Row(warc_id="good", payload=rec("doc://a/1", b"<p>x</p>")
            + rec("doc://a/2", tricky_body)),
        Row(warc_id="truncated", payload=rec("doc://b/1", b"<p>y</p>")
            + rec("doc://b/2", b"<p>zzzz</p>")[:-10]),
        Row(warc_id="garbage", payload=b"NOT A WARC FILE"),
        Row(warc_id="empty", payload=b""),
    ]
    out = W.parse_warc(spark.createDataFrame(rows)).collect()
    by = {}
    for r in out:
        by.setdefault(r.warc_id, []).append(r)
    good = sorted(by["good"], key=lambda r: r.rec_idx)
    assert [r.error for r in good] == [None, None]
    assert good[1].html == tricky_body
    assert good[1].content_length == len(tricky_body)
    trunc = sorted(by["truncated"], key=lambda r: r.rec_idx)
    assert trunc[0].error is None and trunc[0].target_uri == "doc://b/1"
    assert trunc[1].error == "truncated body"
    assert by["garbage"][0].error.startswith("bad magic")
    assert "empty" not in by  # zero bytes -> zero records


def test_warc_roundtrip_counts(spark):
    """render→parse is lossless: one record per doc, bodies byte-equal
    to the rendered pages."""
    from simple_html_parser_spark.operators import warc as W
    from simple_html_parser_spark.sources.documents import (
        load_documents, load_warc,
    )

    files = load_warc(spark, SF)
    recs = W.parse_warc(files)
    n_docs = load_documents(spark, SF).count()
    assert recs.where(F.col("error").isNotNull()).count() == 0
    assert recs.count() == n_docs
    # body bytes match the directly-rendered html per url
    direct = load_documents(spark, SF).select(
        "url", F.sha2("html", 256).alias("h1"))
    via = recs.select(F.col("target_uri").alias("url"),
                      F.sha2("html", 256).alias("h2"))
    assert direct.join(via, "url").where(
        F.col("h1") != F.col("h2")).count() == 0
    assert direct.join(via, "url").count() == n_docs


def test_warc_adversarial_headers(spark):
    """Negative Content-Length must terminate with an error row (not
    loop forever); spec-valid case/whitespace header variants must
    parse; a pathless url is blocked by a whole-host rule."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators import warc as W
    from simple_html_parser_spark.operators import weburl as WU

    neg = (b"WARC/1.0\r\nWARC-Target-URI: doc://x/1\r\n"
           b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
           b"Content-Length: -33\r\n\r\nbody\r\n\r\n")
    odd = (b"WARC/1.0\r\nwarc-target-uri:doc://y/1\r\n"
           b"WARC-DATE:  2025-01-01T00:00:00Z\r\n"
           b"content-length: 4\r\n\r\nbody\r\n\r\n")
    out = {r.warc_id: r for r in W.parse_warc(spark.createDataFrame([
        Row(warc_id="neg", payload=neg),
        Row(warc_id="odd", payload=odd),
    ])).collect()}
    assert out["neg"].error == "negative Content-Length"
    assert out["odd"].error is None
    assert out["odd"].target_uri == "doc://y/1"
    assert out["odd"].html == b"body"

    log = spark.createDataFrame(
        [(1, "https://src3.example.com"),
         (2, "https://ok.example.com/a.html")],
        "doc_id bigint, url string")
    rules = spark.createDataFrame([("src3.example.com", "/")],
                                  "host string, path_prefix string")
    kept = WU.blocklist_filter(log, rules)
    assert [r.doc_id for r in kept.collect()] == [2]


def test_pii_counts_match_scrub_on_adjacent_matches(spark):
    """Counts are taken on the text as it exists when each pattern
    runs: a phone glued to an email is only \\b-matchable after the
    email is replaced, and the count must agree with the scrub."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators.pii import pii_scrub

    r = pii_scrub(spark.createDataFrame(
        [Row(doc_id=1, text="a@b.com555-123-4567")])).collect()[0]
    assert r.scrubbed_text == "<EMAIL><PHONE>"
    assert r.n_emails == 1 and r.n_phones == 1


def test_url_dedup_latest_tie_determinism(spark):
    """Two captures of one url at the SAME timestamp resolve by
    fetch_seq — deterministically, under any partitioning."""
    from simple_html_parser_spark.operators import weburl as WU

    log = spark.createDataFrame(
        [("u", "2025-01-01 00:00:00", 100, 0),
         ("u", "2025-01-01 00:00:00", 200, 1),
         ("v", "2025-01-01 00:00:01", 300, 0)],
        "url string, ts string, n_bytes bigint, fetch_seq bigint"
    ).select("url", F.col("ts").cast("timestamp").alias("warc_ts"),
             "n_bytes", "fetch_seq")
    for frame in (log, log.repartition(7)):
        out = {r.url: r for r in WU.url_dedup_latest(frame).collect()}
        assert out["u"].n_bytes == 200 and out["u"].n_fetches == 2
        assert out["v"].n_bytes == 300


def test_url_dedup_latest_rejects_out_of_budget_fetch_seq(spark):
    """fetch_seq outside [0, 4096) must raise loudly, not silently
    collide ordering keys (a NEGATIVE seq would equal the previous
    microsecond's fold — r4 review finding)."""
    import pytest as _pytest

    from simple_html_parser_spark.operators import weburl as WU

    for bad in (-1, 4096):
        log = spark.createDataFrame(
            [("u", "2025-01-01 00:00:00", 100, bad)],
            "url string, ts string, n_bytes bigint, fetch_seq bigint"
        ).select("url", F.col("ts").cast("timestamp").alias("warc_ts"),
                 "n_bytes", "fetch_seq")
        with _pytest.raises(Exception, match="ordering-key fold"):
            WU.url_dedup_latest(log).collect()


def test_dedup_bucket_cap_rejects_falsy_zero():
    """max_bucket=0 must be a loud error, not a silent cap-disable
    (r4 review finding)."""
    import pytest as _pytest

    from simple_html_parser_spark.operators import dedup as D

    with _pytest.raises(ValueError, match="max_bucket"):
        D.dedup_simhash(None, max_bucket=0)
    with _pytest.raises(ValueError, match="max_bucket"):
        D.dedup_minhash_lsh(None, max_bucket=0)


def test_dedup_lines_matches_python_reference(spark):
    """Randomized cross-check beyond the closed-form corpus: the Spark
    plan must match an independent pure-Python implementation of
    first-occurrence segment dedup on a seeded random corpus with
    heavy segment sharing."""
    import random

    from simple_html_parser_spark.operators.dedup import dedup_lines

    rng = random.Random(20260817)
    vocab = [f"w{i}" for i in range(12)]
    docs = []
    for d in range(60):
        n = rng.randint(0, 37)
        docs.append((d, " ".join(rng.choice(vocab) for _ in range(n))))

    # independent reference: first (doc_id, seg_idx) wins, doc order
    seen: set = set()
    expect: dict = {}
    for d, text in docs:
        toks = [t for t in text.split(" ") if t]
        segs = [" ".join(toks[i:i + 8]) for i in range(0, len(toks), 8)]
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        if segs:
            expect[d] = (" ".join(kept), len(segs), len(kept))

    out = {r.doc_id: (r.kept_text, r.n_segments, r.n_kept)
           for r in dedup_lines(
               spark.createDataFrame(docs, "doc_id bigint, text string")
           ).collect()}
    assert out == expect


def test_domain_mix_rates_and_monotonicity(spark):
    """Per-host rates apply (src2 fully dropped, src0 fully kept) and
    raising a rate strictly grows the sample (no churn — the md5
    bucket per url is fixed)."""
    from simple_html_parser_spark.operators import weburl as WU
    from simple_html_parser_spark.sources.documents import load_crawl

    crawl = load_crawl(spark, SF)
    weights = spark.createDataFrame(
        [("src0.example.com", 10000), ("src2.example.com", 0)],
        "host string, rate_bp bigint")
    out = WU.domain_mix_sample(crawl, weights, default_rate_bp=2000)
    hosts = {r.url.split("/")[2].split(".")[0] for r in out.collect()}
    assert "src2" not in hosts and "src0" in hosts
    n_src0 = out.where(F.col("url").contains("//src0.")).count()
    assert n_src0 == crawl.where(F.col("url").contains("//src0.")).count()

    lo = {r.url for r in WU.domain_mix_sample(
        crawl, weights, default_rate_bp=1000).select("url").collect()}
    hi = {r.url for r in WU.domain_mix_sample(
        crawl, weights, default_rate_bp=5000).select("url").collect()}
    assert lo < hi


def test_extraction_sniffs_charset(spark):
    """extract_documents(sniff_charset=True) over a UTF-16LE page
    yields the SAME extracted text as the UTF-8 rendering of the same
    page string; the default utf-8 path garbles it (which is why the
    sniffer exists)."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators.extraction import (
        extract_documents,
    )

    page = ('<html><head><meta charset="utf-16le"><title>T</title>'
            "</head><body><p>hello charset world</p></body></html>")
    rows = [
        Row(url="u16", html=b"\xff\xfe" + page.encode("utf-16-le")),
        Row(url="u8", html=page.encode("utf-8")),
    ]
    df = spark.createDataFrame(rows)
    sniffed = {r.url: r.extracted_text
               for r in extract_documents(
                   df, sniff_charset=True).collect()}
    assert sniffed["u16"] == sniffed["u8"]
    assert "hello charset world" in sniffed["u8"]
    plain = {r.url: r.extracted_text
             for r in extract_documents(df).collect()}
    assert plain["u16"] != plain["u8"]  # utf-8 misread garbles utf-16
    assert plain["u8"] == sniffed["u8"]  # default path unchanged


def test_detect_charset_variants(spark):
    """detect_charset over the synthesized 5-encoding corpus returns
    the closed-form (encoding, source) per doc_id % 5."""
    from simple_html_parser_spark.operators.charset import (
        detect_charset,
    )
    from simple_html_parser_spark.sources.documents import (
        render_charset,
    )

    raw = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    out = detect_charset(render_charset(raw)).collect()
    assert len(out) == 40
    seen_fallback = 0
    for r in out:
        doc_id = int(r.url.rsplit("/", 1)[1].split("#")[0])
        exp = [("utf-8", "bom"), ("utf-16le", "bom"),
               ("iso-8859-1", "meta"), ("utf-8", "default"),
               ("windows-1252", "fallback")][doc_id % 5]
        assert (r.encoding, r.enc_source) == exp, r
        assert r.n_chars > 60
        seen_fallback += r.enc_source == "fallback"
    assert seen_fallback >= 4  # the cp1252 tier actually fired


def test_extraction_cp1252_twin(spark):
    """An unlabelled cp1252 page (é = 0xE9, invalid utf-8) extracts
    byte-identically to its unlabelled utf-8 twin through the real
    sniffed mapInArrow hot path — the WHATWG fallback tier end-to-end."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators.extraction import (
        extract_documents,
    )

    page = ("<html><head><title>T</title></head>"
            "<body><p>naïve café résumé</p></body></html>")
    rows = [
        Row(url="cp1252", html=page.encode("cp1252")),
        Row(url="u8", html=page.encode("utf-8")),
    ]
    out = {r.url: r.extracted_text
           for r in extract_documents(
               spark.createDataFrame(rows), sniff_charset=True).collect()}
    assert out["cp1252"] == out["u8"]
    assert "naïve café résumé" in out["u8"]


def test_token_budget_mix_equals_window(spark, docs):
    """The histogram-cutoff form must be BIT-IDENTICAL to the
    single-window prefix rule at several budgets (incl. 0 and
    everything), and per-group kept totals must respect the budget."""
    from simple_html_parser_spark.operators.mixing import (
        token_budget_mix,
        token_budget_mix_window,
    )

    for budget in (0, 150, 900, 10**9):
        fast = sorted(map(tuple,
                          token_budget_mix(docs, budget).collect()))
        ref = sorted(map(tuple,
                         token_budget_mix_window(docs, budget).collect()))
        assert fast == ref, f"budget={budget}"
        per_group: dict = {}
        for lang, _url, n in fast:
            per_group[lang] = per_group.get(lang, 0) + n
        assert all(v <= budget for v in per_group.values())
    # the bucket count is a pure scale knob: identical output at
    # coarser AND finer prefix lengths (the crossing-bucket bound is
    # corpus/16^h — the r5 h=3 hard-coding was the VERDICT finding)
    for h in (1, 2, 4):
        assert sorted(map(tuple, token_budget_mix(
            docs, 900, n_buckets_hex=h).collect())) == \
            sorted(map(tuple, token_budget_mix(docs, 900).collect())), h
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_buckets_hex"):
        token_budget_mix(docs, 900, n_buckets_hex=0)
    # budget 0 keeps nothing (no zero-token docs in the corpus),
    # budget 1e9 keeps everything
    assert not token_budget_mix(docs, 0).take(1)
    assert token_budget_mix(docs, 10**9).count() == docs.count()


def test_token_budget_mix_monotone_and_stable(spark, docs):
    """A prefix rule is monotone in the budget (a bigger budget only
    ADDS docs — earlier picks never churn) and independent of input
    partitioning."""
    from simple_html_parser_spark.operators.mixing import (
        token_budget_mix,
    )

    small = {r["url"] for r in token_budget_mix(docs, 300).collect()}
    big = {r["url"] for r in token_budget_mix(docs, 1200).collect()}
    assert small and small < big
    repart = sorted(map(tuple,
                        token_budget_mix(docs.repartition(13), 1200)
                        .collect()))
    assert repart == sorted(map(tuple,
                                token_budget_mix(docs, 1200).collect()))


def test_host_link_graph_closed_form(spark, docs):
    """Fixture templates carry exactly 3 relative hrefs per doc, all
    resolving to the page's own host — edges are (s, s, 3·docs(s));
    absolute and protocol-relative hrefs route to their own host."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators.linkgraph import (
        host_link_graph,
    )

    per_source = {r["h"]: r["c"] for r in docs.selectExpr(
        "regexp_extract(url, '^[a-z][a-z0-9+.\\\\-]*://([^/]+)', 1) AS h")
        .groupBy("h").agg(F.count("*").alias("c")).collect()}
    edges = host_link_graph(docs).collect()
    assert {(r["src_host"], r["dst_host"]): r["n_links"]
            for r in edges} == {(s, s): 3 * c
                                for s, c in per_source.items()}

    page = ('<html><body>'
            '<a href="https://other.example.com/x">a</a>'
            '<a href="//proto.example.com/y">p</a>'
            '<a href="/rel">r</a></body></html>')
    one = spark.createDataFrame(
        [Row(url="https://me.example.com/p", html=page.encode())])
    got = {(r["src_host"], r["dst_host"]): r["n_links"]
           for r in host_link_graph(one).collect()}
    assert got == {("me.example.com", "other.example.com"): 1,
                   ("me.example.com", "proto.example.com"): 1,
                   ("me.example.com", "me.example.com"): 1}


def _pagerank_reference(edge_list, iters, scale=10**12, damping=85):
    """Pure-Python replay of the integer sweep semantics."""
    hosts = sorted({s for s, _, _ in edge_list}
                   | {d for _, d, _ in edge_list})
    n = len(hosts)
    wout: dict = {}
    for s, _, w in edge_list:
        wout[s] = wout.get(s, 0) + w
    rank = {h: scale // n for h in hosts}
    base = (15 * scale) // (100 * n)
    for _ in range(iters):
        inflow = {h: 0 for h in hosts}
        for s, d, w in edge_list:
            inflow[d] += (rank[s] * damping * w) // (wout[s] * 100)
        rank = {h: base + inflow[h] for h in hosts}
    return rank


def test_host_pagerank_matches_reference(spark):
    """Spark's integer sweeps equal a pure-Python replay on a small
    asymmetric graph, are partition-independent, and total mass never
    exceeds the scale grid (floors only lose mass)."""
    from simple_html_parser_spark.operators.linkgraph import (
        host_pagerank,
    )

    edge_list = [("a", "b", 3), ("b", "c", 1), ("c", "a", 2),
                 ("a", "c", 1), ("d", "a", 5), ("c", "d", 1)]
    edges = spark.createDataFrame(
        edge_list, "src_host string, dst_host string, n_links bigint")
    got = {r["host"]: r["rank"]
           for r in host_pagerank(edges, iters=4).collect()}
    assert got == _pagerank_reference(edge_list, iters=4)
    assert sum(got.values()) <= 10**12
    got13 = {r["host"]: r["rank"]
             for r in host_pagerank(edges.repartition(13),
                                    iters=4).collect()}
    assert got13 == got


def test_host_pagerank_overflow_guard(spark):
    """An edge weight past the ANSI bound raises instead of silently
    degrading (Spark 4 bigint overflow THROWS — the guard makes the
    failure mode a named error)."""
    import pytest as _pytest

    from simple_html_parser_spark.operators.linkgraph import (
        host_pagerank,
    )

    edges = spark.createDataFrame(
        [("a", "b", 200_000), ("b", "a", 1)],
        "src_host string, dst_host string, n_links bigint")
    with _pytest.raises(Exception, match="overflow bound"):
        host_pagerank(edges, iters=1).collect()


def _semdedup_reference(vecs: dict, k: int, iters: int, tau: float):
    """Pure-Python replica of operators/similarity.semantic_dedup:
    quantize → Lloyd (seeds = vec_id < k, floor(sum/count) updates,
    (sqL2, cid) tie rule) → final assign → within-cell screening."""
    import math

    q = {i: [math.floor(x * 1_000_000 + 0.5) for x in v]
         for i, v in vecs.items()}
    cents = {i: q[i][:] for i in range(k)}
    for _ in range(iters):
        assign = {
            i: min((sum((a - b) ** 2 for a, b in zip(qe, c)), cid)
                   for cid, c in cents.items())[1]
            for i, qe in q.items()}
        newc = {}
        for cid in set(assign.values()):
            mem = [q[i] for i in q if assign[i] == cid]
            newc[cid] = [
                math.floor(sum(m[d] for m in mem) / len(mem))
                for d in range(len(mem[0]))]
        cents = newc
    fin = {}
    for i, qe in q.items():
        d, cid = min(
            (sum((a - b) ** 2 for a, b in zip(qe, cents[c])), c)
            for c in cents)
        fin[i] = (cid, d)

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 6)

    # fragility guard: no pair cosine may sit within 1e-5 of τ (the
    # Spark side rounds HALF_UP, Python banker's — keep them apart)
    for i in vecs:
        for j in vecs:
            if i < j:
                assert abs(cos(vecs[i], vecs[j]) - tau) > 1e-5
    out = {}
    for i, (cid, d) in fin.items():
        dup = any(
            jcid == cid and j != i
            and cos(vecs[i], vecs[j]) >= tau
            and ((jd, j) < (d, i))
            for j, (jcid, jd) in fin.items())
        out[i] = (cid, d, not dup)
    return out


def test_semantic_dedup_matches_python_reference(spark):
    """SemDeDup on a planted corpus: 30 LCG base vectors + 10 scaled
    near-copies (cos ≈ 1) — the copies must lose to their originals'
    smaller (centroid_d, vec_id) and everything else must survive the
    τ=0.8 screen; full-frame equality vs the pure-Python replica."""
    from simple_html_parser_spark.operators.similarity import (
        semantic_dedup,
    )

    state, dim = 987654321, 8
    vecs = {}
    for i in range(30):
        row = []
        for _ in range(dim):
            state = (state * 48271) % 2147483647
            row.append(round(state / 2147483647 * 2.0 - 1.0, 3))
        vecs[i] = row
    for i in range(10):
        # scaled copy: same direction (cosine 1), different magnitude
        # so the quantized grids (and centroid distances) differ
        vecs[30 + i] = [round(x * 0.9, 6) for x in vecs[i]]
    expected = _semdedup_reference(vecs, k=3, iters=2, tau=0.8)
    df = spark.createDataFrame(
        [(i, v) for i, v in sorted(vecs.items())],
        "vec_id bigint, embedding array<double>")
    got = {r.vec_id: (r.cid, r.centroid_d, r.kept)
           for r in semantic_dedup(
               df, threshold=0.8, n_clusters=3, iters=2).collect()}
    assert got == expected
    kept = {i for i, v in got.items() if v[2]}
    # the 10 planted copies guarantee drops; random dim-8 pairs may
    # add more (cos sd ≈ 0.35), but never everything
    assert 10 <= 40 - len(kept) < 25
    # a planted copy and its original never BOTH survive when they
    # share a cell (cos = 1 ≥ τ by construction)
    for i in range(10):
        if got[i][0] == got[30 + i][0]:
            assert not (got[i][2] and got[30 + i][2])
    # every dropped vector has a strictly better same-cell partner
    # with cosine ≥ τ — the screening rule, asserted on the SPARK
    # output directly (not just via reference equality)
    import math as _m

    def _cos(a, b):
        return round(
            sum(x * y for x, y in zip(a, b))
            / (_m.sqrt(sum(x * x for x in a))
               * _m.sqrt(sum(x * x for x in b))), 6)

    for i, (cid, d, k_) in got.items():
        if not k_:
            assert any(
                j != i and got[j][0] == cid
                and _cos(vecs[i], vecs[j]) >= 0.8
                and (got[j][1], j) < (d, i)
                for j in got)


def test_semantic_dedup_max_cell_guard(spark):
    """A pathological corpus that concentrates in one cell must RAISE
    when the cell exceeds max_cell (the dedup-family max_bucket
    convention, enforced) and succeed untouched when the guard is
    loosened or disabled — the guard never changes kept/dropped."""
    import pytest as _pytest

    from simple_html_parser_spark.operators.similarity import (
        semantic_dedup,
    )

    # 40 near-identical vectors: every one lands in the same k-means
    # cell (k=2 seeds are vectors 0/1, themselves near-identical)
    rows = [(i, [1.0 + i * 1e-6, 2.0, 3.0, 4.0]) for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")
    with _pytest.raises(Exception, match="max_cell"):
        semantic_dedup(df, threshold=0.4, n_clusters=2,
                       max_cell=10).collect()
    loose = {r.vec_id: r.kept for r in semantic_dedup(
        df, threshold=0.4, n_clusters=2, max_cell=1000).collect()}
    off = {r.vec_id: r.kept for r in semantic_dedup(
        df, threshold=0.4, n_clusters=2, max_cell=None).collect()}
    assert loose == off and len(off) == 40
    with _pytest.raises(ValueError, match="max_cell"):
        semantic_dedup(df, max_cell=0)


def test_semantic_dedup_partition_independent(spark):
    from simple_html_parser_spark.operators.similarity import (
        semantic_dedup,
    )
    from simple_html_parser_spark.sources.documents import load_table

    base = load_table(spark, SF, "embeddings")
    a = {tuple(r) for r in semantic_dedup(
        base.repartition(1), threshold=0.4).collect()}
    b = {tuple(r) for r in semantic_dedup(
        base.repartition(13), threshold=0.4).collect()}
    assert a == b and len(a) == base.count()
    assert {r[3] for r in a} == {True, False}


def test_tfidf_topk_matches_python_reference(spark):
    """Integer-exact tf-idf on a tiny planted corpus: shared stopword
    scores idf 0 at df=N; rarer terms rank first; ties break by term."""
    from pyspark.sql import Row

    from simple_html_parser_spark.operators.textstats import tfidf_topk

    rows = [
        Row(doc_id=0, text="the cat sat on the mat"),
        Row(doc_id=1, text="the dog ate the cat food"),
        Row(doc_id=2, text="the quick brown fox the fox"),
        Row(doc_id=3, text="the  cat"),  # double space → empty dropped
    ]

    def bl(x):
        return x.bit_length() - 1

    toks = {r.doc_id: [t for t in r.text.split(" ") if t] for r in rows}
    nd = len(rows)
    tf = {(d, t): ts.count(t) for d, ts in toks.items() for t in set(ts)}
    dfc = {}
    for d, ts in toks.items():
        for t in set(ts):
            dfc[t] = dfc.get(t, 0) + 1
    expected = set()
    for d in toks:
        scored = sorted(
            ((tf[(d, t)] * (bl(nd) - bl(dfc[t])), t)
             for t in set(toks[d])), key=lambda s: (-s[0], s[1]))
        for rnk, (sc, t) in enumerate(scored[:5], start=1):
            expected.add((d, t, tf[(d, t)], dfc[t], sc, rnk))
    got = {tuple(r) for r in tfidf_topk(
        spark.createDataFrame(rows), k=5).collect()}
    assert got == expected
    # the universal stopword "the" scores exactly 0 everywhere
    assert all(sc == 0 for (_, t, _, _, sc, _) in got if t == "the")
    assert any(sc > 0 for (_, _, _, _, sc, _) in got)


def test_tfidf_topk_partition_independent(spark):
    from simple_html_parser_spark.operators.textstats import tfidf_topk
    from simple_html_parser_spark.sources.documents import load_table

    base = (load_table(spark, SF, "documents")
            .select("doc_id", "text").limit(120))
    a = {tuple(r) for r in tfidf_topk(base.repartition(1)).collect()}
    b = {tuple(r) for r in tfidf_topk(base.repartition(13)).collect()}
    assert a == b
    assert len(a) == 120 * 5  # every doc has ≥5 distinct terms here
