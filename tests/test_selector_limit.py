"""The selector's early stop and the level-list BFS walk (no Spark).

``query_selector_all(..., limit=k)`` may stop walking once it has k
matches, so its first k results must equal the full evaluation's first
k, for every selector form (the early stop applies only to simple
selectors; comma, descendant and :not forms evaluate in full).  The
edit path's ``_resolve_sel`` relies on that, and ``FlatTree.bfs_order``
must keep the reference's queue order.  Trees: every golden case tree,
before and after its ops, plus seeded fuzz_differential.gen_doc trees.
"""

from __future__ import annotations

import random
import sys
from collections import deque
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

from fixture_corpus import CASES  # noqa: E402
from fuzz_differential import gen_doc  # noqa: E402
from simple_html_parser_spark.kernel import compat, selector  # noqa: E402
from simple_html_parser_spark.kernel.tokenizer import (  # noqa: E402
    DEFAULT_SPECIAL_TAGS, parse_html,
)
from simple_html_parser_spark.kernel.tree import FlatTree  # noqa: E402

N_FUZZ_TREES = 500


def _corpus_selectors(obj, out: set[str]) -> set[str]:
    """Every ``sel``/``node_sel`` string anywhere in a case's ops."""
    if isinstance(obj, dict):
        for k, v in obj.items():
            if k in ("sel", "node_sel") and isinstance(v, str):
                out.add(v)
            else:
                _corpus_selectors(v, out)
    elif isinstance(obj, list):
        for v in obj:
            _corpus_selectors(v, out)
    return out


_GENERATED = [
    "div", "p", "a", "span", "li", "b", "x-y", "DIV", "nosuch",
    ".a", ".b", ".a.b", "#w", "#nosuch",
    "[id]", "[class]", "[href]", "[data-x]", "[class=a]", '[class="b"]',
    "[href='v2']", "[id=v1]",
    "div.a", "p#w.a", "a[href]", "div[class=a][id]", "span.b[data-x]",
    "div p", "div a", ".a span", "div div", "div .a", "ul li",
    "div, p", "a, a", ".a, #w", "p, span, li",
    "p:not(.a)", ":not(.a)", "div:not(#w)", "li:not([class])",
    "", " ", "\t",
    " div", "div ", "\tdiv", "div\t", " .a ", "\t#w\t", " div p",
    "p , a", "\tp,a\t",
]

SELECTORS = sorted(set().union(*(_corpus_selectors(c.get("ops"), set())
                                 for c in CASES)) | set(_GENERATED))


def _case_trees() -> list[FlatTree]:
    trees = []
    for case in CASES:
        special = tuple(case.get("special_tags") or DEFAULT_SPECIAL_TAGS)
        trees.append(parse_html(case["html"], special))
        if case.get("ops"):
            edited = parse_html(case["html"], special)
            for op in case["ops"]:
                try:
                    compat.run_op(edited, op)
                except Exception:  # noqa: BLE001 — same as run_case
                    pass
            trees.append(edited)
    return trees


def _fuzz_trees() -> list[FlatTree]:
    rng = random.Random(20261018)
    return [parse_html(gen_doc(rng)) for _ in range(N_FUZZ_TREES)]


TREES = _case_trees() + _fuzz_trees()


def _old_bfs_order(tree: FlatTree, start: int) -> list[int]:
    order = []
    q = deque([start])
    while q:
        nid = q.popleft()
        order.append(nid)
        q.extend(tree.children[nid])
    return order


def _old_resolve_sel(tree: FlatTree, sel: str, index):
    matches = selector.query_selector_all(tree, 0, sel)
    idx = index or 0
    if idx >= len(matches):
        raise ValueError(f"no match for {sel}[{idx}]")
    return matches[idx]


def _outcome(fn, *args):
    try:
        return ("ok", fn(*args))
    except Exception as e:  # noqa: BLE001 — the class and text must match
        return (type(e).__name__, str(e))


@pytest.mark.parametrize("sel", SELECTORS, ids=repr)
def test_limit_keeps_the_first_k_matches(sel):
    for tree in TREES:
        full = selector.query_selector_all(tree, 0, sel)
        for k in range(1, len(full) + 2):
            got = selector.query_selector_all(tree, 0, sel, limit=k)
            assert got[:k] == full[:k], (sel, k)
        first = selector.query_selector(tree, 0, sel)
        assert first == (full[0] if full else None), sel


@pytest.mark.parametrize("sel", SELECTORS, ids=repr)
def test_resolve_sel_matches_list_then_index(sel):
    for tree in TREES:
        n = len(selector.query_selector_all(tree, 0, sel))
        for index in (None, -1, *range(n + 2)):
            assert _outcome(compat._resolve_sel, tree, sel, index) \
                == _outcome(_old_resolve_sel, tree, sel, index), (sel, index)


def test_bfs_order_matches_the_queue_walk():
    for tree in TREES:
        for start in range(0, len(tree), max(1, len(tree) // 16)):
            assert tree.bfs_order(start) == _old_bfs_order(tree, start)


def test_simple_selector_stops_at_the_limit(monkeypatch):
    """One match per level over a 200-deep chain: a simple selector
    builds only the levels down to its last match; a :not() form still
    walks them all."""
    tree = parse_html('<div class="a">' * 200)
    levels = []
    walk = FlatTree.bfs_levels

    def counted(self, start=0):
        for level in walk(self, start):
            levels.append(level)
            yield level

    monkeypatch.setattr(FlatTree, "bfs_levels", counted)
    assert selector.query_selector(tree, 0, "div.a") == 1
    assert len(levels) == 2   # root level, then the first div
    levels.clear()
    assert len(selector.query_selector_all(tree, 0, "div", limit=5)) == 5
    assert len(levels) == 6
    levels.clear()
    selector.query_selector_all(tree, 0, "div:not(.b)", limit=1)
    assert len(levels) > 200
