"""Text-side pipeline: sanitize-HTML, getText, getSnippet, charset report.

Byte-exact ports of:
  - kennygrant/sanitize HTML()        (reference vendor/.../sanitize/sanitize.go:102-160)
  - UReadability.getText              (reference extractor/text.go:23-40)
  - UReadability.getSnippet           (reference extractor/text.go:43-55)
  - UReadability.toUtf8 (report part) (reference extractor/text.go:58-106)

These define the byte-level plain-text output, so every replacement order and
regex class matches the Go originals exactly (Go regexp ``\\s == [\\t\\n\\f\\r ]``,
``\\D == [^0-9]``, ``\\S`` its complement — NOT Python's unicode-aware classes).
"""

from __future__ import annotations

import html as _htmlmod
import re
from typing import Optional, Tuple

from ..htmldom import find_all, node_text, parse
from ..htmldom.node import Node

DEFAULT_CONTENT_TYPE = "text/html"  # extractor/text.go:17
DEFAULT_ENCODING = "utf-8"  # extractor/text.go:19

# Go regexp classes are ASCII: \s = [\t\n\f\r ], \D = [^0-9], \S = [^\t\n\f\r ].
# reSpaces `\s+` and reDot `\D(\.)\S` (extractor/readability.go:89-90) run as
# _collapse_spaces and _dot_matches: the same results, without a regex that
# has to be tried at every position of the text.
_SPACE_RUN = re.compile("  +")
_GO_DIGITS = frozenset("0123456789")
_GO_SPACES = frozenset("\t\n\f\r ")


def _collapse_spaces(s: str) -> str:
    """reSpaces.ReplaceAllString(s, " "): map the class to ' ', then collapse
    the runs of ' ' (single spaces, the common case, are left untouched)."""
    s = s.replace("\t", " ").replace("\n", " ").replace("\f", " ").replace("\r", " ")
    return _SPACE_RUN.sub(" ", s)


def _dot_matches(s: str) -> list:
    """reDot.FindAllString(s, -1): the leftmost non-overlapping three-char
    matches, found from the dots (str.find) instead of from every char."""
    out = []
    n = len(s)
    i = s.find(".", 1)
    while i != -1 and i + 1 < n:
        if s[i - 1] not in _GO_DIGITS and s[i + 1] not in _GO_SPACES:
            out.append(s[i - 1 : i + 2])
            i = s.find(".", i + 3)  # the next match starts after this one ends
        else:
            i = s.find(".", i + 1)
    return out


# C-level equivalent of sanitize.go:121-135's char walk: drop a '<'-to-'>'
# span (the '>' optional — an unterminated '<' swallows to EOS, exactly like
# the walk's in_tag staying true), then drop stray '>' (the walk emits
# nothing for '>' when not in a tag). Verified char-for-char against the
# literal walk by differential fuzz (tests/test_text.py).
_RE_TAG_SPAN = re.compile(r"<[^>]*>?")

# Go template.HTMLEscapeString table (text/template/funcs.go), applied as
# chained C-level replaces: '&' first, so the '&' introduced by later
# replacements is never re-escaped — char-for-char identical to a
# simultaneous translate, measurably faster on mostly-clean text
def _html_escape(s: str) -> str:
    s = s.replace("&", "&amp;")
    s = s.replace("\x00", "�")
    s = s.replace('"', "&#34;")
    s = s.replace("'", "&#39;")
    s = s.replace("<", "&lt;")
    return s.replace(">", "&gt;")


def sanitize_html(s: str) -> str:
    """kennygrant/sanitize HTML(): strip tags, normalize entities.

    Mirrors sanitize.go:102-160 including the tagless fast path (which skips the
    newline handling entirely) and the exact entity fixup order.
    """
    if "<" not in s and ">" not in s:
        output = s
    else:
        s = s.replace("\n", "")
        s = s.replace("</p>", "\n")
        s = s.replace("<br>", "\n")
        s = s.replace("</br>", "\n")
        s = s.replace("<br/>", "\n")
        s = s.replace("<br />", "\n")
        # <...> span removal (sanitize.go:121-135's char walk, as regexes)
        output = _RE_TAG_SPAN.sub("", s).replace(">", "")

    output = output.replace("&#8216;", "'")
    output = output.replace("&#8217;", "'")
    output = output.replace("&#8220;", '"')
    output = output.replace("&#8221;", '"')
    output = output.replace("&nbsp;", " ")
    output = output.replace("&quot;", '"')
    output = output.replace("&apos;", "'")

    output = _htmlmod.unescape(output)
    output = _html_escape(output)

    output = output.replace("&#34;", '"')
    output = output.replace("&#39;", "'")
    output = output.replace("&amp; ", "& ")
    output = output.replace("&amp;amp; ", "& ")
    return output


def get_text(content: str, title: str) -> str:
    """UReadability.getText (extractor/text.go:23-40)."""
    clean = sanitize_html(content)
    if title:
        clean = clean.replace(title, "", 1)
    clean = clean.replace("\t", " ")
    clean = clean.strip()
    clean = _collapse_spaces(clean)
    # fix joined sentences (first sentence.Second -> first sentence. Second)
    for src in _dot_matches(clean):
        dst = src.replace(".", ". ", 1)
        clean = clean.replace(src, dst, 1)
    return clean


def get_snippet(clean_text: str, snippet_size: int) -> str:
    """UReadability.getSnippet (extractor/text.go:43-55). Rune-based sizes."""
    clean_text = clean_text.replace("\n", " ")
    size = min(len(clean_text), snippet_size)
    snippet = clean_text[:size]
    for i in range(len(snippet) - 1, -1, -1):
        if snippet[i] == " ":
            snippet = snippet[:i]
            break
    return snippet + " ..."


def _split_content_type(value: str) -> Tuple[str, str]:
    """from "text/html; charset=windows-1251" (extractor/text.go:59-66)."""
    elems = value.split(";")
    content_type = elems[0].strip()
    encoding = ""
    if len(elems) > 1 and "charset=" in elems[1]:
        enc = elems[1].strip()
        if enc.startswith("charset="):
            enc = enc[len("charset=") :]
        encoding = enc
    return content_type, encoding


def detect_type_charset(doc: Node, header_content_type: Optional[str] = None) -> Tuple[str, str]:
    """toUtf8's content-type/charset report (extractor/text.go:58-106).

    Transcoding is a no-op in the Spark engine: the `text` column is already a
    decoded UTF-8 string (the table scan replaces the byte-oriented retriever).
    Like the reference we still report the *declared* type/charset: header (if a
    stand-in is provided) overridden by any <head><meta http-equiv=Content-Type>.
    """
    content_type = DEFAULT_CONTENT_TYPE
    encoding = DEFAULT_ENCODING
    if header_content_type:
        content_type, enc = _split_content_type(header_content_type)
        encoding = enc or ""
    for meta in find_all(doc, "head meta"):
        if meta.attr_or("http-equiv", "").lower() == "content-type":
            content_type, encoding = _split_content_type(meta.attr_or("content", ""))
    return content_type, encoding


def first_title_text(doc: Node) -> str:
    """dbody.Find("title").First().Text() (extractor/readability.go:140)."""
    titles = find_all(doc, "title")
    return node_text(titles[0]) if titles else ""
