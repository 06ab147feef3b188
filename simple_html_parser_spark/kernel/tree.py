"""Flat node-tree ("Simple Object Model") — structure-of-arrays.

The reference stores one mutable JS heap object per node with pointer
links (/root/reference/src/node.js:18-64).  This engine stores each
document's tree as parallel Python lists (one slot per node), which:

- converts straight into Arrow arrays for the exploded ``nodes`` view,
- makes pre-order traversal an index scan (document order == append
  order == pre-order),
- keeps the per-node overhead far below a Python object per node.

Node 0 is always the root.  A closing tag is a SEPARATE node stored as
the next sibling of its opening tag (reference README.md:418-443); the
element's content lives in the opening tag's children.

Dynamically-attached reference fields map to dedicated columns:
``styleBlock``/``scriptBlock`` → ``flags`` bits, ``commentType``,
``cssSelector``/``cssName``/``cssParams``/``cssDeclarations`` →
nullable columns.  ``css_top`` replicates the reference quirk that
CSS nodes grafted under a <style> tag keep a dangling parent pointer to
their original css-root (simple-html-parser.js:144 assigns children
without reparenting), which cssFindVariables' scope logic depends on
(node.js:637).
"""

from __future__ import annotations

# type codes (stored as strings to match the reference enum verbatim)
ROOT = "root"
TAG_OPEN = "tag-open"
TAG_CLOSE = "tag-close"
TEXT = "text"
COMMENT = "comment"
CSS_ROOT = "css-root"
CSS_RULE = "css-rule"
CSS_AT_RULE = "css-at-rule"

# shared immutable children container for leaf nodes (text/comment/
# tag-close) — one list per node costs real multi-core throughput
EMPTY_CHILDREN: tuple = ()

FLAG_STYLE_BLOCK = 1
FLAG_SCRIPT_BLOCK = 2
FLAG_CSS_TOP = 4


class SparseColumn:
    """Dict-backed nullable column: most nodes never set comment_type /
    css_* metadata, and skipping their per-node list appends is a
    measured hot-path win (emit runs ~240x per page x 10^12 pages).
    Reads return None for unset ids, matching the dense-list contract.
    """

    __slots__ = ("d",)

    def __init__(self) -> None:
        self.d: dict = {}

    def __getitem__(self, nid: int):
        return self.d.get(nid)

    def __setitem__(self, nid: int, value) -> None:
        if value is not None:
            self.d[nid] = value
        elif nid in self.d:
            del self.d[nid]


class FlatTree:
    """One parsed document as parallel per-node arrays (dense) plus
    sparse metadata columns."""

    __slots__ = (
        "type", "name", "attrs", "content", "parent", "children",
        "comment_type", "flags", "css_selector", "css_name",
        "css_params", "css_decls", "src_start", "src_end",
    )

    def __init__(self, root_type: str = ROOT) -> None:
        self.type: list[str] = [root_type]
        self.name: list[str] = [""]
        self.attrs: list[dict | None] = [None]
        self.content: list[str] = [""]
        self.parent: list[int] = [-1]
        self.children: list[list[int]] = [[]]
        self.comment_type = SparseColumn()
        self.flags: list[int] = [0]
        self.css_selector = SparseColumn()
        self.css_name = SparseColumn()
        self.css_params = SparseColumn()
        self.css_decls = SparseColumn()
        self.src_start: list[int] = [-1]
        self.src_end: list[int] = [-1]

    def __len__(self) -> int:
        return len(self.type)

    def new_node(
        self,
        ntype: str,
        name: str = "",
        attrs: dict | None = None,
        parent: int = -1,
        content: str = "",
        comment_type: str | None = None,
        flags: int = 0,
        src_start: int = -1,
        src_end: int = -1,
    ) -> int:
        """Allocate a node WITHOUT linking it into a parent's children.
        (Mirrors `new Node(...)`; reference constructors take a parent
        pointer but linking happens via appendChild.)"""
        nid = len(self.type)
        self.type.append(ntype)
        self.name.append(name)
        self.attrs.append(attrs)
        self.content.append(content)
        self.parent.append(parent)
        self.children.append([])
        self.flags.append(flags)
        self.src_start.append(src_start)
        self.src_end.append(src_end)
        if comment_type is not None:
            self.comment_type[nid] = comment_type
        return nid

    def append_child(self, parent: int, child: int) -> None:
        self.parent[child] = parent
        self.children[parent].append(child)

    def add_node(self, ntype: str, parent: int, **kw) -> int:
        nid = self.new_node(ntype, parent=parent, **kw)
        self.children[parent].append(nid)
        return nid

    # ---- derived structure ------------------------------------------------

    def subtree_end(self) -> list[int]:
        """Per node: the highest pre-order id inside its subtree
        (valid only for un-mutated trees, where append order is
        pre-order).  Descendant test: a < d <= subtree_end[a]."""
        n = len(self.type)
        end = list(range(n))
        parent = self.parent
        for nid in range(n - 1, 0, -1):
            p = parent[nid]
            if p >= 0 and end[nid] > end[p]:
                end[p] = end[nid]
        return end

    def bfs_levels(self, start: int = 0):
        """Breadth-first levels from ``start`` (inclusive), one list per
        depth, built lazily: their concatenation is the reference's
        findAll*/querySelector traversal order (node.js:972-1027
        queue.shift loop), and a caller that stops early never builds
        the levels below the one it stopped in."""
        children = self.children
        level = [start]
        while level:
            yield level
            nxt: list[int] = []
            for nid in level:
                nxt += children[nid]
            level = nxt

    def bfs_order(self, start: int = 0) -> list[int]:
        """Breadth-first node order from ``start`` (inclusive)."""
        order: list[int] = []
        for level in self.bfs_levels(start):
            order += level
        return order

    def iter_preorder(self, start: int = 0):
        """Document-order (DFS pre-order) ids from ``start``, iterative
        (the reference recursion overflows on deep trees; we must not:
        SURVEY.md §7 'recursion limits')."""
        children = self.children
        stack = [start]
        while stack:
            nid = stack.pop()
            yield nid
            stack.extend(reversed(children[nid]))

    def descendants(self, nid: int) -> list[int]:
        """All descendants in pre-order (reference #getAllDescendants,
        node.js:1256-1268)."""
        out: list[int] = []
        children = self.children
        stack = list(reversed(children[nid]))
        while stack:
            cur = stack.pop()
            out.append(cur)
            stack.extend(reversed(children[cur]))
        return out

    def depth(self, nid: int) -> int:
        d = 0
        while self.parent[nid] >= 0:
            nid = self.parent[nid]
            d += 1
        return d

    def find_root(self, nid: int) -> int:
        while self.parent[nid] >= 0:
            nid = self.parent[nid]
        return nid

    def get_attribute(self, nid: int, name: str):
        a = self.attrs[nid]
        if a is None:
            return None
        return a.get(name)

    def is_style_block(self, nid: int) -> bool:
        return bool(self.flags[nid] & FLAG_STYLE_BLOCK)

    def is_script_block(self, nid: int) -> bool:
        return bool(self.flags[nid] & FLAG_SCRIPT_BLOCK)

    def is_css_top(self, nid: int) -> bool:
        return bool(self.flags[nid] & FLAG_CSS_TOP)

    # ---- debug ------------------------------------------------------------

    def dump(self) -> list[dict]:
        """Pre-order list of plain dicts (golden-comparison format)."""
        out = []
        end = self.subtree_end()
        for nid in self.iter_preorder(0):
            out.append({
                "id": nid,
                "parent": self.parent[nid],
                "end": end[nid],
                "type": self.type[nid],
                "name": self.name[nid],
                "attrs": self.attrs[nid],
                "content": self.content[nid],
                "comment_type": self.comment_type[nid],
                "style_block": self.is_style_block(nid),
                "script_block": self.is_script_block(nid),
                "css_selector": self.css_selector[nid],
                "css_name": self.css_name[nid],
                "css_params": self.css_params[nid],
                "css_decls": self.css_decls[nid],
            })
        return out
