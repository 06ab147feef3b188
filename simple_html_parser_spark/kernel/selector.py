"""CSS-selector query engine + attribute operators over FlatTree.

Semantics-identical to the reference query layer:
- querySelector / querySelectorAll / #findMatchingNodes /
  #executeBasicSelector (/root/reference/src/node.js:910-1235,
  1732-1762)
- findAllByAttr / findAllByTag / findAllByType / getNodesByType /
  getComments (node.js:1095-1150, 1287-1316, 1343-1361)
- get/set/remove/updateAttribute (node.js:1275-1277, 1806-1808,
  1912-1914, 1987-1996)

Pinned reference behaviors:
- matching is BFS (queue) from the context node INCLUDING the context
  itself, so results are breadth-first order (node.js:972-1027);
- descendant selectors recurse ancestor-then-subtree with
  order-preserving dedup — an ancestor can match its own "descendant"
  selector part (the BFS starts at the ancestor itself);
- tag/id/class matching is case-SENSITIVE and exact;
- :not() selectors are re-evaluated from the tree ROOT (node.js:1219);
- comma lists union with order-preserving dedup (node.js:1744-1758).
"""

from __future__ import annotations

import re

from .jsre import js_split_ws, js_trim
from .tree import COMMENT, TAG_OPEN, FlatTree

# node.js:2-11 (JS regexes; \w-free, ASCII classes verbatim)
NOT_SELECTOR = re.compile(r":not\(([^)]+)\)")
QUERY_ATTR = re.compile(r"\[([^\]]+)\]")
QUERY_CLASS = re.compile(r"\.([a-zA-Z0-9\-_]+)")
QUERY_ID = re.compile(r"#([a-zA-Z0-9\-_]+)")
QUERY_PARTS = re.compile(
    r"([a-zA-Z0-9\-_]+)?(\#[a-zA-Z0-9\-_]+)?"
    r"((?:\.[a-zA-Z0-9\-_]+)*)((?:\[[^\]]+\])*)")
QUERY_TAG = re.compile(r"^[a-zA-Z0-9\-_]+")
RAW_VALUE = re.compile(r"^[\"'](.*)[\"']$")


def execute_basic_selector(
    tree: FlatTree, ctx: int, selector: str, limit: int | None = None
) -> list[int]:
    """#executeBasicSelector (node.js:910-1030).  A simple selector
    stops its walk once it has ``limit`` matches; the descendant form
    always evaluates in full."""
    # Descendant selector: recursive ancestor→subtree with dedup
    # (node.js:947-969). NOTE: checked on the RAW selector string with a
    # literal ``includes(' ')`` in JS — only U+0020 triggers it.
    if " " in selector:
        parts = js_split_ws(selector)
        ancestors = execute_basic_selector(tree, ctx, parts[0])
        results: list[int] = []
        seen: set[int] = set()
        descendant_sel = " ".join(parts[1:])
        for anc in ancestors:
            for d in execute_basic_selector(tree, anc, descendant_sel):
                if d not in seen:
                    seen.add(d)
                    results.append(d)
        return results

    # selectorParts = match(querySelectorParts).filter(Boolean).join('')
    selector_parts = "".join(
        m.group(0) for m in QUERY_PARTS.finditer(selector) if m.group(0))

    tag_m = QUERY_TAG.match(selector_parts)
    id_m = QUERY_ID.search(selector_parts)
    tag_name = tag_m.group(0) if tag_m else None
    node_id_attr = id_m.group(1) if id_m else None
    classes = [m.group(1) for m in QUERY_CLASS.finditer(selector_parts)]

    attributes: list[tuple[str, str | None]] = []
    for m in QUERY_ATTR.finditer(selector_parts):
        attr_content = m.group(1)
        if "=" in attr_content:
            split = attr_content.split("=")
            name, raw_value = split[0], split[1]
            value = RAW_VALUE.sub(r"\1", raw_value)
            attributes.append((name, value))
        else:
            attributes.append((attr_content, None))

    results: list[int] = []
    attrs_col = tree.attrs
    ttype = tree.type
    tname = tree.name
    for level in tree.bfs_levels(ctx):
        for nid in level:
            if ttype[nid] != TAG_OPEN:
                continue
            node_attrs = attrs_col[nid] or {}
            matches = True
            if tag_name is not None and tname[nid] != tag_name:
                matches = False
            if matches and node_id_attr is not None \
                    and node_attrs.get("id") != node_id_attr:
                matches = False
            if matches and classes:
                node_classes = js_split_ws(node_attrs.get("class") or "")
                for cls in classes:
                    if cls not in node_classes:
                        matches = False
                        break
            if matches and attributes:
                for name, value in attributes:
                    got = node_attrs.get(name)
                    if value is not None:
                        if got != value:
                            matches = False
                            break
                    elif got is None:
                        matches = False
                        break
            if matches:
                results.append(nid)
                if len(results) == limit:
                    return results
    return results


def find_matching_nodes(
    tree: FlatTree, ctx: int, selector: str, limit: int | None = None
) -> list[int]:
    """#findMatchingNodes with :not() support (node.js:1183-1235).
    ``limit`` reaches only a simple selector's walk (see
    execute_basic_selector); a :not() form evaluates in full."""
    not_selectors: list[str] = []

    def _collect(m: re.Match) -> str:
        not_selectors.append(js_trim(m.group(1)))
        return ""

    main_selector = js_trim(NOT_SELECTOR.sub(_collect, selector))

    if main_selector == "":
        candidates = [
            nid for nid in tree.bfs_order(ctx)
            if tree.type[nid] == TAG_OPEN
        ]
    else:
        candidates = execute_basic_selector(
            tree, ctx, main_selector, None if not_selectors else limit)

    if not not_selectors:
        return candidates

    results: list[int] = []
    root = tree.find_root(ctx)
    for nid in candidates:
        include = True
        for ns in not_selectors:
            # evaluated from the ROOT each time (node.js:1219-1226)
            if nid in execute_basic_selector(tree, root, ns):
                include = False
                break
        if include:
            results.append(nid)
    return results


def query_selector_all(
    tree: FlatTree, ctx: int, selector: str, limit: int | None = None
) -> list[int]:
    """querySelectorAll (node.js:1742-1762).  With ``limit``, the first
    ``limit`` results are the same and a simple selector (no comma, no
    descendant space, no :not) stops walking once it has them; other
    forms still return every match."""
    if "," in selector:
        results: list[int] = []
        seen: set[int] = set()
        for single in selector.split(","):
            for nid in find_matching_nodes(tree, ctx, js_trim(single)):
                if nid not in seen:
                    seen.add(nid)
                    results.append(nid)
        return results
    return find_matching_nodes(tree, ctx, selector, limit)


def query_selector(tree: FlatTree, ctx: int, selector: str) -> int | None:
    results = query_selector_all(tree, ctx, selector, limit=1)
    return results[0] if results else None


# ---- findAll* family (BFS including the context, node.js:1095-1150) -------


def find_all_by_attr(tree: FlatTree, ctx: int, attr_name: str) -> list[int]:
    return [
        nid for nid in tree.bfs_order(ctx)
        if tree.type[nid] == TAG_OPEN
        and tree.attrs[nid] is not None and attr_name in tree.attrs[nid]
    ]


def find_all_by_tag(tree: FlatTree, ctx: int, tag_name: str) -> list[int]:
    return [
        nid for nid in tree.bfs_order(ctx)
        if tree.type[nid] == TAG_OPEN and tree.name[nid] == tag_name
    ]


def find_all_by_type(tree: FlatTree, ctx: int, node_type: str) -> list[int]:
    """BFS; 'script-block' pseudo-type matches flagged tag-open nodes
    (node.js:1141-1143)."""
    out = []
    for nid in tree.bfs_order(ctx):
        if tree.type[nid] == node_type or (
            node_type == "script-block" and tree.type[nid] == TAG_OPEN
            and tree.is_script_block(nid)
        ):
            out.append(nid)
    return out


def get_nodes_by_type(tree: FlatTree, ctx: int, node_type: str) -> list[int]:
    """DFS pre-order variant, no pseudo-type (node.js:1343-1361)."""
    return [
        nid for nid in tree.iter_preorder(ctx)
        if tree.type[nid] == node_type
    ]


def get_comments(
    tree: FlatTree, ctx: int,
    include_content: bool = True, include_type: bool = True,
) -> list[dict]:
    """getComments (node.js:1287-1316): DFS pre-order comment collect."""
    out = []
    for nid in tree.iter_preorder(ctx):
        if tree.type[nid] != COMMENT:
            continue
        obj: dict = {"node": nid}
        if include_content:
            obj["content"] = tree.content[nid]
        if include_type and tree.comment_type[nid]:
            obj["commentType"] = tree.comment_type[nid]
        out.append(obj)
    return out


# ---- attribute operators (node.js A1-A4) -----------------------------------


def get_attribute(tree: FlatTree, nid: int, name: str):
    return tree.get_attribute(nid, name)


def set_attribute(tree: FlatTree, nid: int, name: str, value: str) -> None:
    if tree.attrs[nid] is None:
        tree.attrs[nid] = {}
    tree.attrs[nid][name] = value


def remove_attribute(tree: FlatTree, nid: int, name: str) -> None:
    a = tree.attrs[nid]
    if a is not None and name in a:
        del a[name]


def update_attribute(
    tree: FlatTree, nid: int, name: str, value: str, separator: str = " "
) -> None:
    """Append ``value`` unless already a separator-delimited token
    (node.js:1987-1996; JS String.split with a plain-string separator)."""
    if tree.attrs[nid] is None:
        tree.attrs[nid] = {}
    attrs = tree.attrs[nid]
    if name not in attrs:
        attrs[name] = value
        return
    current = attrs[name]
    tokens = list(current) if separator == "" else current.split(separator)
    if value not in tokens:
        attrs[name] = f"{current}{separator}{value}"
