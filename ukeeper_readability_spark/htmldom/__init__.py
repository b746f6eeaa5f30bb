from .node import (
    COMMENT_NODE,
    DOCTYPE_NODE,
    DOCUMENT_NODE,
    ELEMENT_NODE,
    TEXT_NODE,
    Node,
)
from .parser import parse
from .query import (
    find_all,
    find_elements,
    node_text,
    siblings_then_self,
)
from .render import inner_html, outer_html

__all__ = [
    "COMMENT_NODE",
    "DOCTYPE_NODE",
    "DOCUMENT_NODE",
    "ELEMENT_NODE",
    "TEXT_NODE",
    "Node",
    "parse",
    "find_all",
    "find_elements",
    "node_text",
    "siblings_then_self",
    "inner_html",
    "outer_html",
]
