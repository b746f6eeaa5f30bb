"""Per-document extraction orchestration.

Mirrors UReadability.extractWithRules (reference extractor/readability.go:108-163)
with the network layer replaced by the table scan: `text` is the already-fetched,
already-decoded HTML body and `url` the final URL (extractor/retriever.go:26-30).
Stage order is preserved exactly: charset report → getContent (custom rule with
general-parser fallback, readability.go:199-207) → title (raw-body parse,
readability.go:140) → domain → getText → normalizeLinks → getSnippet → pics.
"""

from __future__ import annotations

from typing import Optional
from urllib.parse import urlsplit

from ..htmldom import find_all, inner_html, parse
from ..htmldom.gostr import utf8_len
from ..htmldom.parser import parse_head
from .links import normalize_links
from .pics import extract_pics
from .readability import Document, preprocessing_is_identity
from .sanitize_text import (
    detect_type_charset,
    first_title_text,
    get_snippet,
    get_text,
)

DEFAULT_SNIPPET_SIZE = 300  # reference main.go:83


class ExtractError(Exception):
    pass


def _general_parser(body: str, preparsed=None):
    doc = Document(body, preparsed=preparsed)
    content, rich = doc.content_with_html()
    return content, rich, doc.stats


def _custom_parser(raw_doc, rule_selector: str):
    """customParser (readability.go:180-197): CSS selector, concat inner HTML."""
    res = []
    try:
        matches = find_all(raw_doc, rule_selector)
    except Exception:
        matches = []
    for nd in matches:
        res.append(inner_html(nd))
    joined = "".join(res)
    if joined == "":
        raise ExtractError("nothing extracted")
    # custom path applies getText with empty title here AND again in the
    # orchestrator — double application is load-bearing (SURVEY §7)
    return get_text(joined, ""), joined


def get_content(body: str, rule_selector: Optional[str], raw_doc=None):
    """getContent (readability.go:168-208): custom rule first, fallback general.

    Returns (content, rich, meta) where meta carries per-document extraction
    metrics (rule_hit / general_parse / Document.stats counters).

    raw_doc is a full parse of `body` for the rule selector (parsed here when
    absent; unused without a rule). On a rule miss the general parser takes
    ownership of it (and mutates it) when R1 preprocessing provably wouldn't
    change `body`, saving a second parse — callers must not read raw_doc
    after a rule miss.
    """
    preparsed = None
    if rule_selector:
        if raw_doc is None:
            raw_doc = parse(body)
        try:
            content, rich = _custom_parser(raw_doc, rule_selector)
            return content, rich, {"rule_hit": 1, "general_parse": 0}
        except ExtractError:
            pass
        if preprocessing_is_identity(body):
            preparsed = raw_doc
    content, rich, stats = _general_parser(body, preparsed=preparsed)
    meta = {"rule_hit": 0, "general_parse": 1}
    meta.update(stats)
    return content, rich, meta


def extract_document_bytes(
    body: bytes,
    url: str,
    rule_selector: Optional[str] = None,
    snippet_size: int = DEFAULT_SNIPPET_SIZE,
    header_content_type: Optional[str] = None,
) -> dict:
    """Raw-bytes entry: toUtf8 first (extractor/readability.go:128 calls
    toUtf8 on the fetched body + header), then the string pipeline on the
    decoded text. type/charset are toUtf8's report — header overridden by
    http-equiv meta — while the decode encoding comes from BOM/prescan/sniff
    (engine/charset.py module docstring; extractor/text.go:58-106)."""
    from .charset import to_utf8

    content_type, charset, text = to_utf8(
        body if body is not None else b"", header_content_type
    )
    res = extract_document(
        text, url, rule_selector=rule_selector, snippet_size=snippet_size,
        header_content_type=header_content_type,
    )
    res["type"] = content_type
    res["charset"] = charset
    return res


def extract_document(
    text: str,
    url: str,
    rule_selector: Optional[str] = None,
    snippet_size: int = DEFAULT_SNIPPET_SIZE,
    header_content_type: Optional[str] = None,
) -> dict:
    """Full per-document pipeline → Response dict (extractor/readability.go:73-85)."""
    body = text if text is not None else ""
    url = url or ""

    # Raw-body parse (read-only until get_content; the reference parses the
    # same string three times — extractor/text.go:78, readability.go:135,
    # readability.go:182):
    #   rule present → full parse: the selector needs the body, and on a rule
    #     miss get_content hands the tree to the general parser when R1
    #     preprocessing is a no-op
    #   no rule      → head-only parse: complete for Find("head meta") and for
    #     head titles (the general parser builds its own tree from the
    #     preprocessed string); full-parse fallback for the title-in-body case
    raw_doc = parse(body) if rule_selector else parse_head(body)

    content_type, charset = detect_type_charset(raw_doc, header_content_type)
    # title read before get_content: the general parser may take ownership of
    # raw_doc and mutate it; reading first yields the same value the reference
    # gets from its own fresh parse (extractor/readability.go:135-140)
    title = first_title_text(raw_doc)
    if not title and not rule_selector and "<title" in body.lower():
        title = first_title_text(parse(body))
    content, rich, meta = get_content(body, rule_selector, raw_doc=raw_doc)

    try:
        domain = urlsplit(url).netloc
    except ValueError:
        domain = ""

    content = get_text(content, title)
    rich, all_links = normalize_links(rich, url)
    excerpt = get_snippet(content, snippet_size)

    article_doc = parse(rich)
    image, all_images, _ = extract_pics(article_doc)

    return {
        "content": content,
        "rich_content": rich,
        "domain": domain,
        "url": url,
        "title": title,
        "excerpt": excerpt,
        "lead_image_url": image,
        "images": all_images,
        "links": all_links if all_links else None,
        "type": content_type,
        "charset": charset,
        "metrics": {
            "nodes_scored": meta.get("nodes_scored", 0),
            "candidates_rejected": meta.get("candidates_rejected", 0),
            "bytes_stripped": max(0, utf8_len(body) - utf8_len(content)),
            "rule_hit": meta.get("rule_hit", 0),
            "general_parse": meta.get("general_parse", 0),
            "retries_relaxed": meta.get("retries_relaxed", 0),
        },
    }
