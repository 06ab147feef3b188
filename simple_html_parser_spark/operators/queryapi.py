"""Kernel query-API surface as oracle-checked Spark operators.

Runs the ACTUAL selector engine (querySelector(All) with descendant /
class / id / attr / :not — reference node.js:910-1235) and the CSS
query ops (cssFindAtRules/Rules/Variable(s) — node.js:466-668) per
document inside one mapInArrow stage, emitting flat rows the DuckDB
oracle can pin.  On the fixed templates every result is a per-doc
constant (or a closed-form function of doc_id), and the exact op lists
are reference-verified by the query-api / cssy golden cases.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernel import cssquery, selector, serialize
from ..kernel.manipulate import DomIterator
from .extraction import Columns, _arrow_stage, _errmsg, _keyed, _parse

# (op, arg) — executed in order per document on the MAIN template.
QUERY_OPS: tuple[tuple[str, str], ...] = (
    ("qsa", "nav a"),
    ("qsa", ".main"),
    ("qsa", "p.content"),
    ("qsa", "body :not(a)"),
    ("qsa", "a[href='/r']"),
    ("qs", "nav"),
    ("by_tag", "a"),
    ("by_attr", "href"),
    ("by_type", "comment"),
    ("nodes_by_type", "text"),
    ("comments", ""),
    # getComments option flags (reference node.js:1287-1316): the
    # emitted object keeps only the keys the options ask for; with
    # both false the reference returns the raw NODE.  Serialized into
    # the ids column as node:commentType / node:content / node so the
    # option semantics are value-checked, not just shape-checked.
    ("comments_no_content", ""),
    ("comments_no_type", ""),
    ("comments_bare", ""),
)

_PA_Q = pa.schema([
    ("url", pa.string()), ("op", pa.string()),
    ("arg", pa.string()), ("ids", pa.string()),
])


def _run_query_op(t, op: str, arg: str) -> list[int] | list[str]:
    if op == "qsa":
        return selector.query_selector_all(t, 0, arg)
    if op == "qs":
        r = selector.query_selector(t, 0, arg)
        return [] if r is None else [r]
    if op == "by_tag":
        return selector.find_all_by_tag(t, 0, arg)
    if op == "by_attr":
        return selector.find_all_by_attr(t, 0, arg)
    if op == "by_type":
        return selector.find_all_by_type(t, 0, arg)
    if op == "nodes_by_type":
        return selector.get_nodes_by_type(t, 0, arg)
    if op == "comments":
        return [c["node"] for c in selector.get_comments(t, 0)]
    if op == "comments_no_content":
        return [f"{c['node']}:{c.get('commentType', '-')}"
                for c in selector.get_comments(t, 0,
                                               include_content=False)]
    if op == "comments_no_type":
        return [f"{c['node']}:{c.get('content', '-')}"
                for c in selector.get_comments(t, 0, include_type=False)]
    if op == "comments_bare":
        return [c["node"] for c in selector.get_comments(
            t, 0, include_content=False, include_type=False)]
    raise ValueError(op)


def _ids(ids) -> str:
    return ",".join(map(str, ids))


def _marker_error(url, raw, e: Exception) -> Columns:
    """One (url, 'error', message) marker row."""
    return [url], ["error"], [_errmsg(e)]


def _query_rows(url, raw) -> Columns:
    t = _parse(raw)
    return _keyed(url, [(op, arg, _ids(_run_query_op(t, op, arg)))
                        for op, arg in QUERY_OPS])


# an unparseable / over-max_nodes page yields one marker row
# (op='error', arg=message) — at 10^12 docs the tail WILL contain such
# pages.
_query_fn = _arrow_stage(
    _PA_Q, _query_rows,
    lambda url, raw, e: ([url], ["error"], [_errmsg(e)], [""]))


def kernel_query_api(df: DataFrame) -> DataFrame:
    """documents(url, html) → one row per (url, query op): matched
    node ids, comma-joined in engine order."""
    return df.select("url", "html").mapInArrow(_query_fn,
                                               from_arrow_schema(_PA_Q))


# ---- iterator surface (Q1) ---------------------------------------------------

_PA_I = pa.schema([
    ("url", pa.string()), ("op", pa.string()), ("ids", pa.string()),
])

# Each op parses fresh (removal ops mutate) and pins a reference
# iterator quirk (node.js:78-233, all live-verified via ref_dump
# 'iterate'):
#  - walk: plain DFS — on a style-bearing page this would END inside
#    the css subtree (detached css-root quirk); the voids template has
#    no style, so the walk covers every node;
#  - skip_noop: skipChildren() is DEAD CODE (flags reset before
#    getNextNode) — sequence identical to walk;
#  - rm_current_p: removing the CURRENT node descends into the
#    detached subtree, then stops at the severed parent;
#  - rm_current_img: removing a CURRENT childless node ends the walk
#    (parent nulled → ancestry climb dies);
#  - rm_other: removing a NON-current node just drops it from the
#    sibling walk.
ITER_OPS = ("walk", "skip_noop", "rm_current_p", "rm_current_img",
            "rm_other")


def _run_iter_op(raw, op: str) -> list[int]:
    t = _parse(raw)
    it = DomIterator(t, 0)
    ids: list[int] = []
    for n in it:
        ids.append(n)
        ty, nm = t.type[n], t.name[n]
        if op == "skip_noop" and ty == "tag-open" and nm == "body":
            it.skip_children()
        elif op == "rm_current_p" and ty == "tag-open" and nm == "p":
            it.remove(n)
        elif op == "rm_current_img" and ty == "tag-open" and nm == "img":
            it.remove(n)
        elif op == "rm_other" and ty == "tag-open" and nm == "br/":
            tgt = selector.query_selector(t, 0, "hr")
            if tgt is not None:
                it.remove(tgt)
    return ids


def _iter_rows(url, raw) -> Columns:
    return _keyed(url, [(op, _ids(_run_iter_op(raw, op)))
                        for op in ITER_OPS])


_iter_fn = _arrow_stage(_PA_I, _iter_rows, _marker_error)


def iterator_api(df: DataFrame) -> DataFrame:
    """documents(url, html) → one row per (url, iterator op): visited
    node ids in engine order (Q1 — removal-safe DFS iterator with the
    reference's skipChildren/css-root/termination quirks)."""
    return df.select("url", "html").mapInArrow(_iter_fn,
                                               from_arrow_schema(_PA_I))


# ---- CSS query surface -------------------------------------------------------

_PA_C = pa.schema([
    ("url", pa.string()), ("kind", pa.string()),
    ("name", pa.string()), ("value", pa.string()),
])


def _cssq_rows(url, raw) -> Columns:
    t = _parse(raw)
    rows = [("at_rule", t.css_name[nid], t.css_params[nid] or "")
            for nid in cssquery.css_find_at_rules(t, 0)]
    for sel in (".a", ".d"):
        rows.append(("rules_compound", sel,
                     _ids(cssquery.css_find_rules(t, 0, sel))))
        rows.append(("rules_exact", sel,
                     _ids(cssquery.css_find_rules(t, 0, sel,
                                                  include_compound=False))))
    rows += [("var:" + v["scope"], v["name"], v["value"])
             for v in cssquery.css_find_variables(t, 0)]
    return _keyed(url, rows)


_cssq_fn = _arrow_stage(
    _PA_C, _cssq_rows,
    lambda url, raw, e: ([url], ["error"], [type(e).__name__], [str(e)]))


def css_query_api(df: DataFrame) -> DataFrame:
    """documents(url, html) → cssFindAtRules / cssFindRules (compound
    AND exact) / cssFindVariables results as flat rows."""
    return df.select("url", "html").mapInArrow(_cssq_fn,
                                               from_arrow_schema(_PA_C))


# ---- serialization API surface ------------------------------------------------

_PA_S = pa.schema([
    ("url", pa.string()), ("kind", pa.string()), ("out", pa.string()),
])

# node 21 = <main class="main"> in the fixed main template (pinned by
# nodes_structure_map); outerHtml deliberately omits the close tag —
# reference getTag+innerHtml semantics (node.js), golden-pinned.
_SER_MAIN_NODE = 21


def _ser_rows(url, raw) -> Columns:
    t = _parse(raw)
    # guard the pinned main-node id against non-template inputs (short
    # trees / node 21 not a tag-open)
    if _SER_MAIN_NODE >= len(t) or t.name[_SER_MAIN_NODE] != "main":
        raise ValueError(
            f"doc does not match the main template (len={len(t)}) — "
            f"serialize_api targets the fixed corpus")
    return _keyed(url, [
        ("get_tag", serialize.get_tag(t, _SER_MAIN_NODE)),
        ("inner_html", serialize.inner_html(t, _SER_MAIN_NODE)),
        ("outer_html", serialize.outer_html(t, _SER_MAIN_NODE)),
        ("to_string", serialize.to_string(t, 0)),
    ])


_ser_fn = _arrow_stage(_PA_S, _ser_rows, _marker_error)


def serialize_api(df: DataFrame) -> DataFrame:
    """documents(url, html) → getTag / innerHtml / outerHtml on the
    main node + toString of the whole document, as raw strings (all
    closed-form on the fixed template)."""
    return df.select("url", "html").mapInArrow(_ser_fn,
                                               from_arrow_schema(_PA_S))


# ---- cssToString option matrix (C12) -----------------------------------------

# (combo name, options) — reference node.js:707-870 semantics,
# exercised by test/css.test.js:244-531.  Expected outputs per combo:
# sources.documents.TPL_CSSY_SERIALIZED (kernel-derived, byte-verified
# against the reference).
CSS_SER_COMBOS: tuple[tuple[str, dict], ...] = (
    ("default", {}),
    ("single_line", {"singleLine": True}),
    ("flatten", {"flattenNested": True}),
    ("no_combine", {"combineDeclarations": False}),
    ("bare", {"includeBraces": False, "includeSelector": False}),
    ("indent2", {"indent": 2}),
    ("comments", {"includeComments": True}),
)

_PA_CS = pa.schema([
    ("url", pa.string()), ("combo", pa.string()), ("out", pa.string()),
])


def _css_ser_rows(url, raw) -> Columns:
    t = _parse(raw)
    return _keyed(url, [(combo, serialize.css_to_string(t, **opts))
                        for combo, opts in CSS_SER_COMBOS])


_css_ser_fn = _arrow_stage(_PA_CS, _css_ser_rows, _marker_error)


def css_serialize_api(df: DataFrame) -> DataFrame:
    """documents(url, html) → cssToString output under each
    CSS_SER_COMBOS option set (the full single-line / flatten /
    combine / braces / indent matrix), one row per (url, combo)."""
    return df.select("url", "html").mapInArrow(
        _css_ser_fn, from_arrow_schema(_PA_CS))


# ---- visualize (S6) ----------------------------------------------------------

_PA_V = pa.schema([("url", pa.string()), ("viz", pa.string())])


_viz_fn = _arrow_stage(
    _PA_V, lambda url, raw: ([url], [serialize.visualize(_parse(raw))]),
    lambda url, raw, e: ([url], [f"ERROR {_errmsg(e)}"]))


def visualize_api(df: DataFrame) -> DataFrame:
    """documents(url, html) → visualize(root) per url (S6) — on the
    fixed template the whole box-drawing dump is closed-form
    (sources.documents.TPL_MAIN_VISUALIZE)."""
    return df.select("url", "html").mapInArrow(_viz_fn,
                                               from_arrow_schema(_PA_V))
