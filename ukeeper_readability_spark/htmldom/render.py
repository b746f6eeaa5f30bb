"""Serializer with golang.org/x/net/html Render() byte semantics.

The reference's rich_content and the intermediate article HTML round-trip through
x/net/html's renderer (goquery Selection.Html()), so byte parity of our output
depends on matching its exact escaping rules:
  text nodes / attribute values escape & ' < > " (and \r in attrs) to
  &amp; &#39; &lt; &gt; &#34; &#13;   (x/net/html escape.go escape())
  void elements serialize as <br/>, raw-text element children serialize literally,
  and pre/listing/textarea re-emit a leading newline (x/net/html render.go).
"""

from __future__ import annotations

from .node import (
    COMMENT_NODE,
    DOCTYPE_NODE,
    DOCUMENT_NODE,
    ELEMENT_NODE,
    TEXT_NODE,
    Node,
)
from .parser import RAW_TEXT, VOID_ELEMENTS

_ESCAPES = {
    "&": "&amp;",
    "'": "&#39;",
    "<": "&lt;",
    ">": "&gt;",
    '"': "&#34;",
    "\r": "&#13;",
}

_text_trans = str.maketrans(_ESCAPES)

# x/net/html render.go childTextNodesAreLiteral tags
_LITERAL_CHILD_TAGS = RAW_TEXT
_NEWLINE_TAGS = frozenset(("pre", "listing", "textarea"))


import re as _re

_ESC_RE = _re.compile(r"[&'<>\"\r]")


def escape_text(s: str) -> str:
    # x/net/html escapes the same set in text and attributes
    if _ESC_RE.search(s) is not None:
        return s.translate(_text_trans)
    return s


def render(n: Node, out: list) -> None:
    """x/net/html Render of n and its subtree, without recursion: `open_`
    holds (element, end tag, literal flag) for the elements whose children
    are being written, so depth costs list entries, not stack frames.
    Children are reached only through first_child/next_sibling (never
    parent pointers, which the sanitize walk leaves stale)."""
    append = out.append
    open_: list = []
    literal = False  # the element being written keeps text children verbatim
    node = n
    while True:
        t = node.type
        if t == TEXT_NODE:
            append(node.data if literal else escape_text(node.data))
        elif t == ELEMENT_NODE:
            tag = node.data
            append("<")
            append(tag)
            for k, v in node.attrs:
                append(" ")
                append(k)
                append('="')
                append(escape_text(v))
                append('"')
            if tag in VOID_ELEMENTS:
                # x/net/html renders void elements with a trailing slash
                append("/>")
            else:
                append(">")
                c = node.first_child
                if c is not None:
                    # x/net/html: re-add a leading newline that parsing would ignore
                    if c.type == TEXT_NODE and tag in _NEWLINE_TAGS and c.data.startswith("\n"):
                        append("\n")
                    open_.append((node, "</" + tag + ">", literal))
                    literal = tag in _LITERAL_CHILD_TAGS
                    node = c
                    continue
                append("</" + tag + ">")
        elif t == DOCUMENT_NODE:
            c = node.first_child
            if c is not None:
                open_.append((node, "", literal))
                literal = False
                node = c
                continue
        elif t == COMMENT_NODE:
            append("<!--")
            append(node.data)
            append("-->")
        elif t == DOCTYPE_NODE:
            append("<!DOCTYPE ")
            append(node.data)
            append(">")
        # node is written: go on with its next sibling, closing every
        # element whose last child it was
        while open_:
            nxt = node.next_sibling
            if nxt is not None:
                node = nxt
                break
            node, end, literal = open_.pop()
            append(end)
        else:
            return


def outer_html(n: Node) -> str:
    out: list = []
    render(n, out)
    return "".join(out)


def inner_html(n: Node) -> str:
    """goquery Selection.Html(): rendered concatenation of child nodes."""
    out: list = []
    c = n.first_child
    while c is not None:
        render(c, out)
        c = c.next_sibling
    return "".join(out)
