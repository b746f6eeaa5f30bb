"""goquery-equivalent traversal helpers over the cascadia-parity selector engine.

Implements what the reference exercises: Find(selector) in document pre-order
(goquery/cascadia), Text() (concatenated text-node data, recursing into
children even of converted text nodes — goquery utilities.go getNodeText),
Siblings()+Union ordering (siblings in document order, self appended last —
goquery expand.go / the order getArticle depends on,
vendor/.../go-readability/readability.go:185).

Selector grammar/matching live in htmldom/selector.py (full cascadia parity:
attribute selectors, +/~ combinators, :nth-* and the rest). Invalid selectors
match NOTHING, mirroring goquery's invalidMatcher (goquery type.go:166-176) —
a bad per-site rule thereby falls back to the general parser like the
reference does.
"""

from __future__ import annotations

from .gostr import utf8_len
from .node import ELEMENT_NODE, TEXT_NODE, Node
from .selector import SelectorError, _Group, _NeverMatch, _TagSel, parse_group

_NEVER = _Group([_NeverMatch()])

_SELECTOR_CACHE: dict = {}  # selector text -> (group, tag set or None)


def _compiled(sel: str):
    """(group, tags) for a selector text (memoized). `tags` is the set of
    tag names when every member of the group is a plain tag selector
    ("p,td", "div", "script,style,…"), else None.

    Invalid selectors compile to a never-matching group — goquery
    compileMatcher semantics (type.go:166-176), not an exception.
    """
    cached = _SELECTOR_CACHE.get(sel)
    if cached is not None:
        return cached
    try:
        group = parse_group(sel)
    except SelectorError:
        group = _NEVER
    tags = None
    if all(type(s) is _TagSel for s in group.sels):
        tags = {s.tag for s in group.sels}
    cached = (group, tags)
    if len(_SELECTOR_CACHE) < 4096:
        _SELECTOR_CACHE[sel] = cached
    return cached


def descendants(root: Node) -> list:
    """Pre-order descendants of root (excluding root), as a snapshot."""
    out = []
    node = root.first_child
    while node is not None and node is not root:
        out.append(node)
        if node.first_child is not None:
            node = node.first_child
            continue
        while node is not None and node is not root and node.next_sibling is None:
            node = node.parent
        if node is None or node is root:
            break
        node = node.next_sibling
    return out


def find_all(root: Node, selector) -> list:
    """goquery Find(): matching element descendants, document order, snapshot."""
    if isinstance(selector, str):
        group, tags = _compiled(selector)
    else:
        group, tags = selector, None
    if tags is not None:
        # fast path: plain tag-set selectors ("p,td", "div", "script,style,…")
        return [
            n for n in descendants(root)
            if n.type == ELEMENT_NODE and n.data in tags
        ]
    match = group.match
    return [n for n in descendants(root) if match(n)]


def find_elements(root: Node) -> list:
    """Find("*"): all element descendants, document order, snapshot."""
    return [n for n in descendants(root) if n.type == ELEMENT_NODE]


def node_text(n: Node) -> str:
    """goquery Selection.Text() over a single node.

    Mirrors goquery utilities.go: appends Data for text nodes and recurses into
    first_child chains even when the node is a text node (relevant after the
    sanitize walk converts elements to text nodes in place).
    """
    buf = []
    stack = [n]
    while stack:
        nd = stack.pop()
        if nd.type == TEXT_NODE:
            buf.append(nd.data)
        c = nd.first_child
        if c is not None:
            kids = []
            while c is not None:
                kids.append(c)
                c = c.next_sibling
            stack.extend(reversed(kids))
    return "".join(buf)


def link_and_text_bytes(n: Node) -> tuple:
    """(text bytes under <a> descendants ×nesting multiplicity, total text bytes).

    Matches goquery s.Find("a").Text() + s.Text() in one walk: a text node under
    k nested <a> descendants is counted k times in the link total
    (go-readability readability.go:306-314; UTF-8 byte semantics).
    """
    link = 0
    total = 0
    stack = [(n, 0)]  # Find("a") matches strict descendants: root's tag ignored
    while stack:
        nd, a_depth = stack.pop()
        if nd.type == TEXT_NODE and nd.data:
            b = utf8_len(nd.data)
            total += b
            if a_depth:
                link += b * a_depth
        c = nd.first_child
        if c is not None:
            child_depth = a_depth + (
                1 if (nd is not n and nd.type == ELEMENT_NODE and nd.data == "a") else 0
            )
            kids = []
            while c is not None:
                kids.append(c)
                c = c.next_sibling
            for k in reversed(kids):
                stack.append((k, child_depth))
    return link, total


def siblings_then_self(n: Node) -> list:
    """goquery Siblings().Union(self): siblings in document order, then self.

    Union dedups while preserving first-seen order; since Siblings() excludes
    self, self always lands last (go-readability readability.go:185).
    """
    out = []
    p = n.parent
    if p is not None:
        c = p.first_child
        while c is not None:
            if c is not n and c.type == ELEMENT_NODE:
                out.append(c)
            c = c.next_sibling
    out.append(n)
    return out
