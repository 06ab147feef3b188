"""Spark extraction pipeline — the engine's flagship operator.

Design (SURVEY.md §3.4, §4.3):

    scan (url, html only — column pruning reaches the parquet reader)
      → salted repartition on url hash (defuses giant-page skew)
      → ONE mapInArrow stage (tokenize → flat tree → extract), the only
        JVM↔Python boundary on the hot path; no per-row Python UDFs
      → columnar output batches, byte-capped

Every per-document Python stage of the engine (here, editing, queryapi,
charset, warc) is built by ``_arrow_stage``: the stage supplies its
per-document work and its error row, the helper owns the batch loop.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Callable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernel.charset import decode_html
from ..kernel.extract import MAIN_CONTENT, PARITY, ExtractionProfile, extract
from ..kernel.serialize import to_html
from ..kernel.tokenizer import DEFAULT_SPECIAL_TAGS, parse_html


def _decode(b) -> str:
    if isinstance(b, (bytes, bytearray, memoryview)):
        return bytes(b).decode("utf-8", "replace")
    return b if isinstance(b, str) else ""


def _decode_sniffed(b, _decode_html=decode_html) -> str:
    """Charset-aware decode (kernel/charset): BOM → meta prescan →
    strict-utf-8 probe → cp1252 fallback.  The opt-in byte path for
    crawls that are not all-UTF-8; the default stays the plain utf-8
    decode so the parity corpus's byte counts/oracles are untouched.
    decode_html is bound at def time — no per-row module lookup in
    the mapInArrow hot loop."""
    if isinstance(b, (bytes, bytearray, memoryview)):
        return _decode_html(bytes(b))[0]
    return b if isinstance(b, str) else ""


# per-document node-count safety valve (10^12-doc tails contain
# pathological pages; a capped doc becomes an error row, not an OOM)
MAX_NODES_PER_DOC = 5_000_000

# Flush an output batch once the input bytes consumed since the last
# flush reach this many.
FLUSH_BYTES = 32 * 1024 * 1024

# One document's rows: one sequence per output column, in schema order.
Columns = Sequence[Sequence]


def _errmsg(e: BaseException) -> str:
    return f"{type(e).__name__}: {e}"


def _arrow_stage(schema: pa.Schema,
                 doc_rows: Callable[[object, object], Columns],
                 error_row: Callable[[object, object, Exception], Columns],
                 key: str = "url", payload: str = "html"):
    """The mapInArrow function of a per-document Python stage over
    ``(key, payload)`` input batches.  ``doc_rows(key, payload)``
    returns the document's rows as one tuple of fully built column
    sequences (no generators); if it raises, the document contributes
    ``error_row(key, payload, exc)`` instead — never a partial set.

    Scale notes:
    - Per-document isolation: every document runs inside try/except,
      so a pathological page yields its error row instead of failing
      the task (at 10^12 docs, tail pages WILL be pathological).  The
      kernel is iterative (no recursion) except CSS serialization;
      RecursionError is caught here too.
    - Bounded batches: input batches are bounded by
      spark.sql.execution.arrow.maxRecordsPerBatch; output is flushed
      at the end of every input batch, and earlier once the input
      bytes consumed since the last flush reach ``FLUSH_BYTES``, so one
      batch of giant pages cannot balloon executor memory."""
    names = schema.names
    types = [schema.field(n).type for n in names]

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cols: list[list] = [[] for _ in names]
        consumed = 0

        def flush() -> pa.RecordBatch:
            nonlocal cols, consumed
            out = pa.RecordBatch.from_pydict(
                {n: pa.array(c, type=t)
                 for n, c, t in zip(names, cols, types)},
                schema=schema)
            cols, consumed = [[] for _ in names], 0
            return out

        for batch in batches:
            for k, raw in zip(batch.column(key).to_pylist(),
                              batch.column(payload).to_pylist()):
                try:
                    doc = doc_rows(k, raw)
                except Exception as e:  # noqa: BLE001 — per-doc isolation
                    doc = error_row(k, raw, e)
                for col, values in zip(cols, doc):
                    col.extend(values)
                consumed += len(raw) if raw is not None else 0
                if consumed >= FLUSH_BYTES and cols[0]:
                    yield flush()
            if cols[0]:
                yield flush()

    return fn


def _parse(raw):
    """The default per-document parse: utf-8 decode, node-capped."""
    return parse_html(_decode(raw), max_nodes=MAX_NODES_PER_DOC)


def _keyed(key, rows: list[tuple]) -> Columns:
    """One document's row tuples (key column omitted) → its columns."""
    return ([key] * len(rows), *zip(*rows))


def _digest_row(url, out: bytes) -> Columns:
    return [url], [len(out)], [hashlib.sha256(out).hexdigest()], [None]


def _digest_error(url, raw, e: Exception) -> Columns:
    return [url], [0], [None], [_errmsg(e)]


_PA_SPANS = pa.list_(pa.struct([("start", pa.int32()), ("end", pa.int32())]))
_PA_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("extracted_text", pa.string()),
    ("spans", _PA_SPANS),
    ("n_nodes", pa.int32()),
    ("n_text_nodes", pa.int32()),
    ("n_bytes", pa.int64()),
    ("parse_ms", pa.float64()),
    ("error", pa.string()),
])


def _make_extract_fn(profile: ExtractionProfile,
                     sniff_charset: bool = False):
    decode = _decode_sniffed if sniff_charset else _decode
    # parse start of the current document: parse_ms on an error row is
    # the time from parse start to the failure, as on a success row
    started = [0.0]

    def doc_rows(url, raw) -> Columns:
        html = decode(raw)
        started[0] = t0 = time.perf_counter()
        res = extract(parse_html(html, max_nodes=MAX_NODES_PER_DOC), profile)
        ms = (time.perf_counter() - t0) * 1e3
        # res.spans is already a list of (start, end) tuples and pyarrow
        # builds struct arrays from tuples directly — no per-span dicts
        # (80+ spans/page on the text-heavy bench corpus)
        return ([url], [res.text], [res.spans], [res.n_nodes],
                [res.n_text_nodes], [len(raw) if raw is not None else 0],
                [ms], [None])

    def error_row(url, raw, e: Exception) -> Columns:
        ms = (time.perf_counter() - started[0]) * 1e3
        return ([url], [""], [[]], [0], [0],
                [len(raw) if raw is not None else 0], [ms], [_errmsg(e)])

    return _arrow_stage(_PA_SCHEMA, doc_rows, error_row)


def extract_documents(
    df: DataFrame,
    profile: ExtractionProfile = PARITY,
    salt_partitions: int | None = None,
    sniff_charset: bool = False,
) -> DataFrame:
    """documents(url, html, ...) → extracted(url, extracted_text, spans,
    stats).  Column pruning to (url, html) happens here so it reaches
    the scan; ``salt_partitions`` forces an explicit pre-UDF exchange on
    the (unique) url so giant pages spread across tasks instead of
    clustering in input-file order.  ``sniff_charset`` switches the
    byte→string step from plain utf-8 to the BOM/meta-prescan sniffer
    (kernel/charset) — the path for real crawls, where UTF-16 exports
    and meta-labelled 8-bit pages exist."""
    pruned = df.select("url", "html")
    if salt_partitions:
        pruned = pruned.repartition(salt_partitions, F.xxhash64("url"))
    return pruned.mapInArrow(
        _make_extract_fn(profile, sniff_charset=sniff_charset),
        from_arrow_schema(_PA_SCHEMA))


def extract_main_content(df: DataFrame, **kw) -> DataFrame:
    return extract_documents(df, profile=MAIN_CONTENT, **kw)


# ---- serialization round-trip ------------------------------------------------

_PA_RT = pa.schema([
    ("url", pa.string()), ("rt_len", pa.int64()),
    ("rt_sha256", pa.string()), ("error", pa.string()),
])


def _roundtrip_rows(url, raw) -> Columns:
    return _digest_row(url, to_html(_parse(raw)).encode("utf-8"))


_roundtrip_fn = _arrow_stage(_PA_RT, _roundtrip_rows, _digest_error)


def roundtrip_html(df: DataFrame) -> DataFrame:
    """documents(url, html) → (url, rt_len, rt_sha256): length and
    sha256 of serialize.to_html(parse_html(html)) — pins S1/S5/C12-C15
    under a byte-level oracle (the reference guarantees byte round-trip
    for the quoted-attribute subset, reference test/parser.test.js
    round-trip cases; for jhp pages the serialized form is itself a
    fixed template, see sources.documents.TPL_SPECIAL_SERIALIZED)."""
    return df.select("url", "html").mapInArrow(_roundtrip_fn,
                                               from_arrow_schema(_PA_RT))


# ---- exploded nodes view ----------------------------------------------------

_PA_NODES = pa.schema([
    ("url", pa.string()), ("node_id", pa.int32()),
    ("parent_id", pa.int32()), ("subtree_end", pa.int32()),
    ("bfs_rank", pa.int32()), ("depth", pa.int32()),
    ("type", pa.string()), ("name", pa.string()),
    ("attrs", pa.map_(pa.string(), pa.string())),
    ("content", pa.string()), ("comment_type", pa.string()),
    ("style_block", pa.bool_()), ("script_block", pa.bool_()),
    ("css_selector", pa.string()), ("css_name", pa.string()),
    ("css_params", pa.string()),
    ("css_declarations", pa.map_(pa.string(), pa.string())),
    ("src_start", pa.int32()), ("src_end", pa.int32()),
])


# error-marker row values per column (type='error', content=message;
# NEVER drop a document silently: at 10^12 docs a pathological page
# must leave a trace)
_ERROR_ROW = {
    "node_id": 0, "parent_id": -1, "subtree_end": 0, "bfs_rank": 0,
    "depth": 0, "type": "error", "name": None, "attrs": None,
    "comment_type": None, "style_block": False, "script_block": False,
    "css_selector": None, "css_name": None, "css_params": None,
    "css_declarations": None, "src_start": 0, "src_end": 0,
}


def _sparse_list(sc, n: int) -> list:
    """SparseColumn → dense list (None-filled) without n dict probes."""
    out = [None] * n
    for k, v in sc.d.items():
        out[k] = v
    return out


def _bfs_rank(t, n: int) -> list[int]:
    rank = [0] * n
    for r, nid in enumerate(t.bfs_order(0)):
        rank[nid] = r
    return rank


def _depth(t, n: int) -> list[int]:
    depth = [0] * n
    parent = t.parent
    for nid in range(1, n):
        depth[nid] = depth[parent[nid]] + 1
    return depth


def _items(dicts) -> list:
    return [list(d.items()) if d is not None else None for d in dicts]


# COLUMNAR emission: the FlatTree already is struct-of-arrays, so each
# requested column is one C-level list extend (or a single
# comprehension) instead of 19 per-node appends — and unrequested
# columns (incl. the per-doc BFS/depth Python passes) are never
# computed.  Measured r6: full emission 0.46s CPU for 200k nodes
# row-at-a-time vs per-column extends; callers that prune (e.g.
# nodes_type_counts needs only `type`) skip both the build and the
# Arrow transport of 19-column rows.  Each builder maps (tree, n) to
# the column's n values; `url` is filled in by the stage.
_NODE_COLUMNS = {
    "node_id": lambda t, n: range(n),
    "parent_id": lambda t, n: t.parent,
    "subtree_end": lambda t, n: t.subtree_end(),
    "bfs_rank": _bfs_rank,
    "depth": _depth,
    "type": lambda t, n: t.type,
    "name": lambda t, n: t.name,
    "attrs": lambda t, n: _items(t.attrs),
    "content": lambda t, n: t.content,
    "comment_type": lambda t, n: _sparse_list(t.comment_type, n),
    "style_block": lambda t, n: [(f & 1) != 0 for f in t.flags],
    "script_block": lambda t, n: [(f & 2) != 0 for f in t.flags],
    "css_selector": lambda t, n: _sparse_list(t.css_selector, n),
    "css_name": lambda t, n: _sparse_list(t.css_name, n),
    "css_params": lambda t, n: _sparse_list(t.css_params, n),
    "css_declarations": lambda t, n: _items(_sparse_list(t.css_decls, n)),
    "src_start": lambda t, n: t.src_start,
    "src_end": lambda t, n: t.src_end,
}


def _nodes_schema(columns: list[str] | None) -> pa.Schema:
    if columns is None:
        return _PA_NODES
    unknown = [c for c in columns if c not in _PA_NODES.names]
    if unknown:
        raise ValueError(f"unknown node columns: {unknown}")
    return pa.schema([_PA_NODES.field(c) for c in columns])


def _make_nodes_fn(max_nodes: int,
                   special_tags: tuple[str, ...] | None = None,
                   columns: list[str] | None = None):
    special = (tuple(special_tags) if special_tags is not None
               else DEFAULT_SPECIAL_TAGS)
    schema = _nodes_schema(columns)

    def doc_rows(url, raw) -> Columns:
        t = parse_html(_decode(raw), special, max_nodes=max_nodes)
        n = len(t.type)
        return tuple([url] * n if c == "url" else _NODE_COLUMNS[c](t, n)
                     for c in schema.names)

    def error_row(url, raw, e: Exception) -> Columns:
        row = {**_ERROR_ROW, "url": url, "content": _errmsg(e)}
        return tuple([row[c]] for c in schema.names)

    return _arrow_stage(schema, doc_rows, error_row)


def parse_nodes(df: DataFrame, salt_partitions: int | None = None,
                max_nodes: int = MAX_NODES_PER_DOC,
                special_tags: tuple[str, ...] | None = None,
                columns: list[str] | None = None) -> DataFrame:
    """documents(url, html) → one row per SOM node (FIXTURES.md §3) —
    the SQL-queryable tree view used for oracle-checked operators.
    Unparseable / over-``max_nodes`` docs yield one type='error' marker
    row (silent data loss at 10^12 docs is not acceptable).
    ``special_tags`` is the reference constructor's only parameter
    (`/root/reference/src/simple-html-parser.js:37`) — tags whose
    content runs through the JS submachine instead of the tree
    builder; default ('jhp', 's_').

    ``columns`` prunes the EMITTED node view to the listed subset (in
    node-view column order recommended): Catalyst's column pruning
    cannot see into the Python stage, so an opaque mapInArrow otherwise
    builds and ships all 19 columns — including the per-document
    BFS-rank and depth passes — for a query that reads one of them
    (guide §4: pass only the columns the function needs; here the
    output side).  Values of the emitted columns are identical to the
    full view's."""
    pruned = df.select("url", "html")
    if salt_partitions:
        pruned = pruned.repartition(salt_partitions, F.xxhash64("url"))
    return pruned.mapInArrow(
        _make_nodes_fn(max_nodes, special_tags, columns),
        from_arrow_schema(_nodes_schema(columns)))
