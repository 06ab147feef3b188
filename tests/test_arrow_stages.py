"""Every per-document Python stage, fed pathological pages in-process
(no Spark session): no stage raises, each document yields either its
normal rows or exactly its error row, and output batches are flushed by
``extraction.FLUSH_BYTES``."""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from simple_html_parser_spark.kernel.extract import PARITY  # noqa: E402
from simple_html_parser_spark.operators import (  # noqa: E402
    charset, editing, extraction, queryapi, warc,
)

_SER_KINDS = ["get_tag", "inner_html", "outer_html", "to_string"]


def _one_error(rows, msg_col, **fields):
    """Exactly one row: an ``ExcClass: message`` string in ``msg_col``
    and the other listed columns as given."""
    return (len(rows) == 1 and isinstance(rows[0][msg_col], str)
            and ": " in rows[0][msg_col]
            and all(rows[0][k] == v for k, v in fields.items()))


def _digest_ok(rows, len_col, sha_col):
    return (len(rows) == 1 and rows[0]["error"] is None
            and len(rows[0][sha_col]) == 64 and rows[0][len_col] >= 0)


def _warc_ok(rows):
    # records numbered 0..k-1; only the last may be a malformed-tail
    # marker (the exception error row has the same shape)
    return ([r["rec_idx"] for r in rows] == list(range(len(rows)))
            and all(r["error"] is None for r in rows[:-1]))


def _nodes_ok(rows):
    return ([r["node_id"] for r in rows] == list(range(len(rows)))
            and rows[0]["type"] == "root"
            and all(r["type"] != "error" for r in rows))


# name → (stage function factory, key column, payload column,
#         normal-rows predicate, error-row predicate)
STAGES = {
    "extract": (
        lambda: extraction._make_extract_fn(PARITY), "url", "html",
        lambda rows: len(rows) == 1 and rows[0]["error"] is None,
        lambda rows: _one_error(rows, "error", extracted_text="",
                                spans=[], n_nodes=0, n_text_nodes=0)),
    "roundtrip": (
        lambda: extraction._roundtrip_fn, "url", "html",
        lambda rows: _digest_ok(rows, "rt_len", "rt_sha256"),
        lambda rows: _one_error(rows, "error", rt_len=0, rt_sha256=None)),
    "nodes": (
        lambda: extraction._make_nodes_fn(extraction.MAX_NODES_PER_DOC),
        "url", "html", _nodes_ok,
        lambda rows: _one_error(rows, "content", type="error", node_id=0,
                                parent_id=-1)),
    "edit": (
        lambda: editing._edit_fn, "url", "html",
        lambda rows: _digest_ok(rows, "ed_len", "ed_sha256"),
        lambda rows: _one_error(rows, "error", ed_len=0, ed_sha256=None)),
    "query": (
        lambda: queryapi._query_fn, "url", "html",
        lambda rows: [(r["op"], r["arg"]) for r in rows]
        == list(queryapi.QUERY_OPS),
        lambda rows: _one_error(rows, "arg", op="error", ids="")),
    "iter": (
        lambda: queryapi._iter_fn, "url", "html",
        lambda rows: tuple(r["op"] for r in rows) == queryapi.ITER_OPS,
        lambda rows: _one_error(rows, "ids", op="error")),
    "cssq": (
        lambda: queryapi._cssq_fn, "url", "html",
        lambda rows: sum(r["kind"].startswith("rules_") for r in rows) == 4
        and all(r["kind"] != "error" for r in rows),
        lambda rows: len(rows) == 1 and rows[0]["kind"] == "error"
        and rows[0]["name"].isidentifier()),
    "ser": (
        lambda: queryapi._ser_fn, "url", "html",
        lambda rows: [r["kind"] for r in rows] == _SER_KINDS,
        lambda rows: _one_error(rows, "out", kind="error")),
    "css_ser": (
        lambda: queryapi._css_ser_fn, "url", "html",
        lambda rows: [r["combo"] for r in rows]
        == [c for c, _ in queryapi.CSS_SER_COMBOS],
        lambda rows: _one_error(rows, "out", combo="error")),
    "viz": (
        lambda: queryapi._viz_fn, "url", "html",
        lambda rows: len(rows) == 1 and not rows[0]["viz"].startswith(
            "ERROR "),
        lambda rows: _one_error(rows, "viz")
        and rows[0]["viz"].startswith("ERROR ")),
    "detect": (
        lambda: charset._detect_fn, "url", "payload",
        lambda rows: len(rows) == 1 and rows[0]["enc_source"] in (
            "bom", "meta", "default", "fallback"),
        lambda rows: len(rows) == 1
        and rows[0]["encoding"].startswith("error:")
        and rows[0]["enc_source"] == "error" and rows[0]["n_chars"] == 0),
    "warc": (
        lambda: warc._parse_fn, "warc_id", "payload", _warc_ok,
        lambda rows: _one_error(rows, "error", rec_idx=0, html=None)),
}

# stages that parse the page (all but charset detection and WARC parsing)
_PARSING = [s for s in STAGES if s not in ("detect", "warc")]

PATHOLOGICAL = {
    "deep-divs": ("<div>" * 20_000 + "x" + "</div>" * 20_000).encode(),
    "nested-css-rules": ("<style>" + ".a{" * 3_000 + "color:red;"
                         + "}" * 3_000 + "</style>").encode(),
    "nested-css-atrules": ("<style>" + "@media x{" * 3_000
                           + ".a{color:red}" + "}" * 3_000
                           + "</style>").encode(),
    "none": None,
    "invalid-utf8": b"<p>\xff\xfe\xc3(</p><div>\x80</div>",
}
CAPPED_PAGE = ("<p>x</p>" * 100).encode()
MALFORMED_WARC = b"WARC/1.0\r\nContent-Length: 99\r\n\r\ntoo short"


def _record(uri: str, body: bytes) -> bytes:
    return (b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
            + uri.encode() + b"\r\nContent-Length: "
            + str(len(body)).encode() + b"\r\n\r\n" + body + b"\r\n\r\n")


def _run(stage: str, docs: dict) -> tuple[list[pa.RecordBatch], dict]:
    """One input batch of ``docs`` through the stage → (output batches,
    rows grouped by document key)."""
    make, key, payload, _, _ = STAGES[stage]
    batch = pa.RecordBatch.from_pydict(
        {key: list(docs), payload: list(docs.values())},
        schema=pa.schema([(key, pa.string()), (payload, pa.binary())]))
    out = list(make()(iter([batch])))
    by_doc: dict = {k: [] for k in docs}
    for b in out:
        for r in b.to_pylist():
            by_doc[r[key]].append(r)
    return out, by_doc


@pytest.mark.parametrize("stage", list(STAGES))
def test_pathological_pages_yield_rows_or_error_row(stage):
    docs = dict(PATHOLOGICAL)
    if stage == "warc":
        docs["malformed-warc"] = MALFORMED_WARC
    _, by_doc = _run(stage, docs)
    _, _, _, normal, error = STAGES[stage]
    for key, rows in by_doc.items():
        assert normal(rows) or error(rows), (stage, key, rows[:3])


@pytest.mark.parametrize("stage", list(STAGES))
def test_node_cap_page_yields_its_error_row(stage, monkeypatch):
    monkeypatch.setattr(extraction, "MAX_NODES_PER_DOC", 50)
    _, by_doc = _run(stage, {"capped": CAPPED_PAGE, "small": b"<p>x</p>"})
    _, _, _, normal, error = STAGES[stage]
    if stage in _PARSING:
        assert error(by_doc["capped"]), by_doc["capped"][:3]
        assert "NodeCapExceeded" in str(by_doc["capped"][0])
    else:
        assert normal(by_doc["capped"]) or error(by_doc["capped"])
    # a page that fits keeps its own outcome (edit and ser reject pages
    # that are not the fixed template)
    small = by_doc["small"]
    assert normal(small) or (stage in ("edit", "ser") and error(small))


@pytest.mark.parametrize("stage", list(STAGES))
def test_flush_bytes_splits_an_input_batch(stage, monkeypatch):
    if stage == "warc":
        docs = {f"w{i}": _record(f"doc://w/{i}", b"<p>%d</p>" % i)
                for i in range(3)}
    else:
        docs = {f"doc://s/{i}": b"<p>%d</p>" % i for i in range(3)}
    whole, whole_rows = _run(stage, docs)
    assert len(whole) == 1
    monkeypatch.setattr(extraction, "FLUSH_BYTES", 1)
    split, split_rows = _run(stage, docs)
    assert len(split) == len(docs)
    if stage == "extract":
        for rows in (whole_rows, split_rows):
            for r in rows.values():
                r[0]["parse_ms"] = None
    assert split_rows == whole_rows
