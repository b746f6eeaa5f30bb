"""HTML parser: tokenizer + WHATWG-subset tree construction.

The reference parses HTML with golang.org/x/net/html (a full WHATWG HTML5 parser,
scripting enabled) via goquery. This container has no lxml/html5lib, so we implement
the subset of the HTML5 tree-construction algorithm that the readability workload
exercises: html/head/body skeleton synthesis, raw-text elements, void elements,
implied end tags (p/li/dd/dt/option/heading), empty-<p> synthesis for stray </p>
(which go-readability's <br><br> → </p><p> rewrite produces,
vendor/.../go-readability/readability.go:84), table context with implied tbody and
foster parenting, and attribute merging for duplicate <html>/<body> tags.

Implemented beyond the basics: the adoption agency algorithm with the active
formatting elements list (Noah's Ark, markers, reconstruction — HTML5
§13.2.6.4.7), and SVG/MathML foreign content (self-closing honored, camelCase
adjustment, integration points, breakout tags — §13.2.6.5).

Known simplifications vs the full spec (documented divergences): no template
element or frameset modes, no form-element pointer, simplified select insertion
mode. Real-world article HTML — including all reference golden fixtures — does
not hit these.
"""

from __future__ import annotations

import html as _htmlmod
from .node import (
    COMMENT_NODE,
    DOCTYPE_NODE,
    DOCUMENT_NODE,
    ELEMENT_NODE,
    TEXT_NODE,
    Node,
)

VOID_ELEMENTS = frozenset(
    "area base basefont bgsound br col embed frame hr img input keygen link meta param source track wbr".split()
)

# tokenizer raw-text elements (x/net/html tokenizer rawTag set)
RAW_TEXT = frozenset("iframe noembed noframes noscript plaintext script style xmp".split())
RCDATA = frozenset(("title", "textarea"))

HEAD_ELEMENTS = frozenset("title style script noscript meta link base basefont bgsound template".split())

# HTML spec "special" category (subset relevant to scope walks)
SPECIAL = frozenset(
    (
        "address applet area article aside base basefont bgsound blockquote body br button caption center "
        "col colgroup dd details dir div dl dt embed fieldset figcaption figure footer form frame frameset "
        "h1 h2 h3 h4 h5 h6 head header hgroup hr html iframe img input keygen li link listing main marquee "
        "menu meta nav noembed noframes noscript object ol p param plaintext pre script section select "
        "source style summary table tbody td template textarea tfoot th thead title tr track ul wbr xmp"
    ).split()
)

# start tags that close an open <p> in button scope ("in body" insertion mode)
P_CLOSERS = frozenset(
    (
        "address article aside blockquote center details dialog dir div dl fieldset figcaption figure "
        "footer header hgroup main menu nav ol p section summary ul h1 h2 h3 h4 h5 h6 pre listing form "
        "li dd dt plaintext table hr xmp"
    ).split()
)

HEADINGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))

# active formatting elements (HTML5 §13.2.4.3) — misnesting of these runs the
# adoption agency algorithm, like x/net/html
FORMATTING = frozenset("a b big code em font i nobr s small strike strong tt u".split())
# markers scope formatting reconstruction
AFE_MARKER_TAGS = frozenset(("applet", "marquee", "object", "template"))
# foreign content (SVG/MathML, HTML5 §13.2.6.5): inside <svg>/<math> the
# self-closing flag is honored for every tag, SVG names are case-adjusted, and
# certain HTML tags break out of the foreign subtree
FOREIGN_BREAKOUT = frozenset(
    (
        "b big blockquote body br center code dd div dl dt em embed h1 h2 h3 h4 h5 h6 "
        "head hr i img li listing menu meta nobr ol p pre ruby s small span strong "
        "strike sub sup table tt u ul var"
    ).split()
)
# x/net/html svgTagNameAdjustments (case restoration after lowercasing)
SVG_TAG_ADJUST = {
    t.lower(): t
    for t in (
        "altGlyph altGlyphDef altGlyphItem animateColor animateMotion animateTransform "
        "clipPath feBlend feColorMatrix feComponentTransfer feComposite feConvolveMatrix "
        "feDiffuseLighting feDisplacementMap feDistantLight feFlood feFuncA feFuncB "
        "feFuncG feFuncR feGaussianBlur feImage feMerge feMergeNode feMorphology "
        "feOffset fePointLight feSpecularLighting feSpotLight feTile feTurbulence "
        "foreignObject glyphRef linearGradient radialGradient textPath"
    ).split()
}
# x/net/html svgAttributeAdjustments (camelCase restoration)
SVG_ATTR_ADJUST = {
    a.lower(): a
    for a in (
        "attributeName attributeType baseFrequency baseProfile calcMode clipPath "
        "clipPathUnits contentScriptType contentStyleType diffuseConstant edgeMode "
        "externalResourcesRequired filterUnits glyphRef gradientTransform gradientUnits "
        "kernelMatrix kernelUnitLength keyPoints keySplines keyTimes lengthAdjust "
        "limitingConeAngle markerHeight markerUnits markerWidth maskContentUnits "
        "maskUnits numOctaves pathLength patternContentUnits patternTransform "
        "patternUnits pointsAtX pointsAtY pointsAtZ preserveAlpha preserveAspectRatio "
        "primitiveUnits refX refY repeatCount repeatDur requiredExtensions "
        "requiredFeatures specularConstant specularExponent spreadMethod startOffset "
        "stdDeviation stitchTiles surfaceScale systemLanguage tableValues targetX "
        "targetY textLength viewBox viewTarget xChannelSelector yChannelSelector "
        "zoomAndPan"
    ).split()
}

# integration points: inside these, children parse as ordinary HTML again
FOREIGN_INTEGRATION = frozenset(("foreignobject", "desc", "title", "annotation-xml"))

# start tags whose "in body" handling does NOT reconstruct formatting
NO_RECONSTRUCT = frozenset(
    (
        "address article aside blockquote center details dialog dir div dl fieldset figcaption "
        "figure footer header hgroup main menu nav ol p section summary ul "
        "h1 h2 h3 h4 h5 h6 pre listing form li dd dt plaintext table hr textarea "
        "script style title noscript head html body frameset caption col colgroup "
        "tbody td tfoot th thead tr image"
    ).split()
)
IMPLIED_END = frozenset("dd dt li optgroup option p rb rp rt rtc".split())
SCOPE_BOUNDARY = frozenset("applet caption html table td th marquee object template".split())
TABLE_SECTIONS = frozenset(("tbody", "thead", "tfoot"))
TABLE_CONTEXT = frozenset(("table", "tbody", "thead", "tfoot", "tr"))
TABLE_ONLY_TAGS = frozenset("caption col colgroup frame head tbody td tfoot th thead tr".split())

_WS = " \t\n\f"
import re as _re

_TAG_NAME_RE = _re.compile(r"[^\t\n\f />]*")
# whitespace + attr name + optional value (double/single-quoted or unquoted),
# one C-level match per attribute
_ATTR_FULL_RE = _re.compile(
    r"[ \t\n\f]*([^ \t\n\f=/>]+)"
    r"(?:[ \t\n\f]*=[ \t\n\f]*(?:\"([^\"]*)\"?|'([^']*)'?|([^ \t\n\f>]*)))?"
)


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

TOK_TEXT = 0
TOK_START = 1
TOK_END = 2
TOK_COMMENT = 3
TOK_DOCTYPE = 4

_NAME_END = frozenset(" \t\n\f/>")
_unescape = _htmlmod.unescape

# Precompiled ASCII-case-insensitive close-tag matchers for raw-text/RCDATA
# elements; tag names are ASCII so re.ASCII keeps IGNORECASE from touching
# non-ASCII text (and avoids lowercasing the whole document per element).
_RAW_CLOSE_RE = {
    name: _re.compile("</" + name + r"(?=[ \t\n\f/>]|\Z)", _re.IGNORECASE | _re.ASCII)
    for name in (RAW_TEXT | RCDATA)
}


def _tokenize(s: str):
    """Yield (kind, data, attrs, self_closing) tokens."""
    # input-stream preprocessing: normalize newlines (HTML5 §13.2.3.5)
    if "\r" in s:
        s = s.replace("\r\n", "\n").replace("\r", "\n")
    n = len(s)
    i = 0
    while i < n:
        lt = s.find("<", i)
        if lt == -1:
            text = s[i:]
            if text:
                yield (TOK_TEXT, _unescape(text) if "&" in text else text, None, False)
            return
        if lt > i:
            text = s[i:lt]
            yield (TOK_TEXT, _unescape(text) if "&" in text else text, None, False)
        i = lt
        if i + 1 >= n:
            yield (TOK_TEXT, "<", None, False)
            return
        c = s[i + 1]
        if c == "!":
            if s.startswith("<!--", i):
                end = s.find("-->", i + 4)
                if end == -1:
                    yield (TOK_COMMENT, s[i + 4 :], None, False)
                    return
                yield (TOK_COMMENT, s[i + 4 : end], None, False)
                i = end + 3
            elif s[i + 2 : i + 9].lower() == "doctype":
                end = s.find(">", i + 9)
                if end == -1:
                    end = n
                name = s[i + 9 : end].strip().split(" ")[0].lower() if end > i + 9 else ""
                yield (TOK_DOCTYPE, name, None, False)
                i = end + 1
            else:
                end = s.find(">", i + 2)
                if end == -1:
                    end = n
                yield (TOK_COMMENT, s[i + 2 : end], None, False)
                i = end + 1
        elif c == "/":
            if i + 2 < n and s[i + 2].isalpha():
                name, _attrs, _sc, i = _scan_tag(s, i + 2, n)
                yield (TOK_END, name, None, False)
            else:
                end = s.find(">", i + 2)
                if end == -1:
                    end = n
                yield (TOK_COMMENT, s[i + 2 : end], None, False)
                i = end + 1
        elif c.isalpha():
            name, attrs, self_closing, i = _scan_tag(s, i + 1, n)
            yield (TOK_START, name, attrs, self_closing)
            if not self_closing and (name in RAW_TEXT or name in RCDATA):
                if name == "plaintext":
                    # HTML5: <plaintext> has no close tag; everything to EOF is text
                    raw = s[i:]
                    if raw:
                        yield (TOK_TEXT, raw, None, False)
                    return
                # raw-text / RCDATA content until matching close tag.
                # ASCII-case-insensitive regex on the ORIGINAL string: str.lower()
                # can change length (U+0130 'İ' → 'i̇', 2 chars) and misalign
                # indices; x/net/html scans ASCII-insensitively too.
                m = _RAW_CLOSE_RE[name].search(s, i)
                if m is None:
                    raw = s[i:]
                    if raw:
                        yield (TOK_TEXT, _unescape(raw) if name in RCDATA and "&" in raw else raw, None, False)
                    return
                k = m.start()
                raw = s[i:k]
                if raw:
                    yield (TOK_TEXT, _unescape(raw) if name in RCDATA and "&" in raw else raw, None, False)
                gt = s.find(">", k)
                i = n if gt == -1 else gt + 1
                yield (TOK_END, name, None, False)
        elif c == "?":
            end = s.find(">", i + 1)
            if end == -1:
                end = n
            yield (TOK_COMMENT, s[i + 1 : end], None, False)
            i = end + 1
        else:
            # literal '<' as text; emit it and continue after
            yield (TOK_TEXT, "<", None, False)
            i += 1


def _scan_tag(s: str, i: int, n: int):
    """Scan a tag starting at the first char of its name. Returns (name, attrs, self_closing, next_i)."""
    start = i
    i = _TAG_NAME_RE.match(s, i).end()
    name = s[start:i].lower()
    if i < n and s[i] == ">":  # fast path: attribute-less tag
        return name, [], False, i + 1
    attrs = []
    seen = set()
    self_closing = False
    while i < n:
        ch = s[i]
        if ch == ">":
            i += 1
            break
        if ch == "/":
            if i + 1 < n and s[i + 1] == ">":
                self_closing = True
                i += 2
                break
            i += 1
            continue
        m = _ATTR_FULL_RE.match(s, i)
        if m is None or m.end() == i:
            # whitespace-only run before '>' or a stray '=' — advance one
            i += 1
            continue
        aname = m.group(1).lower()
        g2, g3, g4 = m.group(2), m.group(3), m.group(4)
        val = g2 if g2 is not None else (g3 if g3 is not None else (g4 or ""))
        i = m.end()
        if aname not in seen:
            seen.add(aname)
            attrs.append((aname, _unescape(val) if "&" in val else val))
    return name, attrs, self_closing, i


# ---------------------------------------------------------------------------
# Tree construction
# ---------------------------------------------------------------------------


class _TreeBuilder:
    __slots__ = ("doc", "html", "head", "body", "stack", "phase", "afe", "_saw_foreign")

    # phases
    INITIAL = 0
    IN_HEAD = 1
    AFTER_HEAD = 2
    IN_BODY = 3

    def __init__(self):
        self.doc = Node(DOCUMENT_NODE)
        self.html = None
        self.head = None
        self.body = None
        self.stack = []  # open elements
        self.phase = self.INITIAL
        # active formatting elements: [node, name, attrs] entries or None markers
        self.afe = []
        # monotone flag: only set when an <svg>/<math> root is pushed; lets
        # _foreign_context skip the per-start-tag stack walk for the vast
        # majority of documents (measured ~9% of parse time)
        self._saw_foreign = False

    # -- skeleton ----------------------------------------------------------
    def _ensure_html(self, attrs=None):
        if self.html is None:
            self.html = Node(ELEMENT_NODE, "html", list(attrs) if attrs else [])
            self.doc.append_child(self.html)

    def _ensure_head(self):
        self._ensure_html()
        if self.head is None:
            self.head = Node(ELEMENT_NODE, "head", [])
            self.html.append_child(self.head)

    def _ensure_body(self, attrs=None):
        self._ensure_head()
        if self.body is None:
            self.body = Node(ELEMENT_NODE, "body", list(attrs) if attrs else [])
            self.html.append_child(self.body)
            self.stack = [self.body]
        self.phase = self.IN_BODY

    # -- helpers -------------------------------------------------------------
    def _current(self) -> Node:
        return self.stack[-1] if self.stack else self.body

    def _add_text(self, parent: Node, text: str):
        last = parent.last_child
        if last is not None and last.type == TEXT_NODE:
            last.data += text
        else:
            parent.append_child(Node(TEXT_NODE, text))

    def _insert_text(self, text: str):
        if self.afe:
            self._reconstruct_afe()
        cur = self._current()
        if cur.data in TABLE_CONTEXT and text.strip(" \t\n\f"):
            # foster parenting for non-whitespace text in table context
            fparent, before = self._foster_target()
            if before is not None and before.prev_sibling is not None and before.prev_sibling.type == TEXT_NODE:
                before.prev_sibling.data += text
            else:
                t = Node(TEXT_NODE, text)
                fparent.insert_before(t, before)
            return
        self._add_text(cur, text)

    def _foster_target(self):
        for idx in range(len(self.stack) - 1, -1, -1):
            if self.stack[idx].data == "table":
                table = self.stack[idx]
                if table.parent is not None:
                    return table.parent, table
                return self.stack[idx - 1] if idx > 0 else self.body, None
        return self._current(), None

    def _in_scope(self, target, extra_boundary=()):
        """True if an element named in `target` (str or set) is in scope."""
        names = (target,) if isinstance(target, str) else target
        for nd in reversed(self.stack):
            if nd.data in names:
                return True
            if nd.data in SCOPE_BOUNDARY or nd.data in extra_boundary:
                return False
        return False

    def _generate_implied_end(self, except_tag=None):
        while self.stack:
            d = self.stack[-1].data
            if d in IMPLIED_END and d != except_tag:
                self.stack.pop()
            else:
                return

    def _pop_until(self, names):
        names = (names,) if isinstance(names, str) else names
        while self.stack:
            nd = self.stack.pop()
            if nd.data in names:
                return

    def _close_p(self):
        if self._in_scope("p", extra_boundary=("button",)):
            self._generate_implied_end("p")
            self._pop_until("p")

    def _insert_element(self, name, attrs, push=True, foster=False):
        el = Node(ELEMENT_NODE, name, attrs or [])
        cur = self._current()
        if foster and cur.data in TABLE_CONTEXT:
            fparent, before = self._foster_target()
            fparent.insert_before(el, before)
        else:
            cur.append_child(el)
        if push:
            self.stack.append(el)
        return el

    # -- active formatting elements (HTML5 §13.2.4.3, §13.2.6.4.7) ------------
    def _afe_push(self, node: Node, name: str, attrs):
        # Noah's Ark: at most 3 identical (name, attrs) entries after the last
        # marker; remove the earliest
        count = 0
        earliest = None
        for i in range(len(self.afe) - 1, -1, -1):
            e = self.afe[i]
            if e is None:
                break
            if e[1] == name and e[2] == attrs:
                count += 1
                earliest = i
        if count >= 3 and earliest is not None:
            self.afe.pop(earliest)
        self.afe.append([node, name, attrs])

    def _reconstruct_afe(self):
        afe = self.afe
        if not afe:
            return
        last = afe[-1]
        if last is None or last[0] in self.stack:
            return
        i = len(afe) - 1
        # rewind to the entry after the last marker/open element
        while i > 0:
            e = afe[i - 1]
            if e is None or e[0] in self.stack:
                break
            i -= 1
        # re-create from entry i onward
        while i < len(afe):
            node, name, attrs = afe[i]
            clone = Node(ELEMENT_NODE, name, list(attrs))
            self._current().append_child(clone)
            self.stack.append(clone)
            afe[i] = [clone, name, attrs]
            i += 1

    def _afe_clear_to_marker(self):
        while self.afe:
            if self.afe.pop() is None:
                return

    def _foreign_context(self):
        """'svg'/'math' when the insertion point is inside foreign content
        (no intervening HTML integration point), else None."""
        if not self._saw_foreign:
            return None
        for nd in reversed(self.stack):
            dl = nd.data.lower()
            if dl in ("svg", "math"):
                return dl
            if dl in FOREIGN_INTEGRATION:
                return None
        return None

    def _node_in_scope(self, target: Node) -> bool:
        for nd in reversed(self.stack):
            if nd is target:
                return True
            if nd.data in SCOPE_BOUNDARY:
                return False
        return False

    def _adoption_agency(self, subject: str):
        """HTML5 §13.2.6.4.7 'adoption agency algorithm' (matches x/net/html)."""
        # fast path: current node is the subject and has no AFE entry
        cur = self.stack[-1] if self.stack else None
        if (
            cur is not None
            and cur.data == subject
            and not any(e is not None and e[0] is cur for e in self.afe)
        ):
            self.stack.pop()
            return

        for _outer in range(8):
            fmt_idx = None
            for i in range(len(self.afe) - 1, -1, -1):
                if self.afe[i] is None:
                    break
                if self.afe[i][1] == subject:
                    fmt_idx = i
                    break
            if fmt_idx is None:
                self._any_other_end_tag(subject)
                return
            fmt_el = self.afe[fmt_idx][0]
            if fmt_el not in self.stack:
                self.afe.pop(fmt_idx)
                return
            if not self._node_in_scope(fmt_el):
                return

            si = self.stack.index(fmt_el)
            furthest = None
            fb_idx = None
            for j in range(si + 1, len(self.stack)):
                if self.stack[j].data in SPECIAL:
                    furthest = self.stack[j]
                    fb_idx = j
                    break
            if furthest is None:
                del self.stack[si:]
                self.afe.pop(fmt_idx)
                return

            common_ancestor = self.stack[si - 1] if si > 0 else self.body
            bookmark = fmt_idx
            node_idx = fb_idx
            last_node = furthest
            inner = 0
            while True:
                inner += 1
                node_idx -= 1
                node = self.stack[node_idx]
                if node is fmt_el:
                    break
                ni = None
                for i2 in range(len(self.afe) - 1, -1, -1):
                    e = self.afe[i2]
                    if e is not None and e[0] is node:
                        ni = i2
                        break
                if inner > 3 and ni is not None:
                    self.afe.pop(ni)
                    if ni < bookmark:
                        bookmark -= 1
                    ni = None
                if ni is None:
                    self.stack.pop(node_idx)
                    continue
                entry_attrs = self.afe[ni][2]
                clone = Node(ELEMENT_NODE, node.data, list(entry_attrs))
                self.afe[ni] = [clone, node.data, entry_attrs]
                self.stack[node_idx] = clone
                node = clone
                if last_node is furthest:
                    bookmark = ni + 1
                if last_node.parent is not None:
                    last_node.parent.remove_child(last_node)
                node.append_child(last_node)
                last_node = node

            if last_node.parent is not None:
                last_node.parent.remove_child(last_node)
            if common_ancestor.data in TABLE_CONTEXT:
                fparent, before = self._foster_target()
                fparent.insert_before(last_node, before)
            else:
                common_ancestor.append_child(last_node)

            entry_attrs = self.afe[fmt_idx][2]
            clone = Node(ELEMENT_NODE, fmt_el.data, list(entry_attrs))
            c = furthest.first_child
            while c is not None:
                nxt = c.next_sibling
                furthest.remove_child(c)
                clone.append_child(c)
                c = nxt
            furthest.append_child(clone)

            self.afe.pop(fmt_idx)
            if fmt_idx < bookmark:
                bookmark -= 1
            self.afe.insert(bookmark, [clone, fmt_el.data, entry_attrs])

            self.stack.remove(fmt_el)
            self.stack.insert(self.stack.index(furthest) + 1, clone)

    def _any_other_end_tag(self, name: str):
        for idx in range(len(self.stack) - 1, -1, -1):
            nd = self.stack[idx]
            if nd.data == name:
                self._generate_implied_end(name)
                while len(self.stack) > idx:
                    self.stack.pop()
                return
            if nd.data in SPECIAL:
                return

    # -- token dispatch --------------------------------------------------------
    def process(self, kind, data, attrs, self_closing):
        # dispatch ordered by token frequency: text/start/end dominate real
        # documents; comments and doctype are one-offs
        if kind == TOK_TEXT:
            if self.phase == self.IN_BODY:
                self._insert_text(data)
                return
            if self.stack:
                # inside an open head element (title/script/style/noscript…)
                self._add_text(self.stack[-1], data)
                return
            if not data.strip(" \t\n\f"):
                if self.phase == self.IN_HEAD and self.head is not None:
                    self._add_text(self.head, data)
                # whitespace before head / after head is dropped (spec drops
                # leading whitespace; trailing-into-body is rare and invisible)
                return
            # non-whitespace text forces body
            stripped = data.lstrip(" \t\n\f") if self.body is None and self.phase != self.IN_BODY else data
            self._ensure_body()
            self._insert_text(stripped)
            return
        if kind == TOK_START:
            self._start_tag(data, attrs, self_closing)
            return
        if kind == TOK_END:
            self._end_tag(data)
            return
        if kind == TOK_COMMENT:
            target = self._current() if self.body is not None else (self.html or self.doc)
            if self.phase == self.IN_HEAD and self.head is not None:
                target = self.head
            target.append_child(Node(COMMENT_NODE, data))
            return
        # TOK_DOCTYPE
        if self.html is None:
            self.doc.append_child(Node(DOCTYPE_NODE, data))

    # -- start tags --------------------------------------------------------------
    def _start_tag(self, name, attrs, self_closing):
        if name == "html":
            if self.html is None:
                self._ensure_html(attrs)
            else:
                self._merge_attrs(self.html, attrs)
            return
        if name == "head":
            if self.phase == self.INITIAL:
                self._ensure_head()
                self.phase = self.IN_HEAD
            return
        if name == "body":
            if self.body is None:
                self._ensure_body(attrs)
            else:
                self._merge_attrs(self.body, attrs)
                self.phase = self.IN_BODY
            return

        if self.phase in (self.INITIAL, self.IN_HEAD):
            if name in HEAD_ELEMENTS:
                self._ensure_head()
                self.phase = self.IN_HEAD
                el = Node(ELEMENT_NODE, name, attrs or [])
                self.head.append_child(el)
                if name not in VOID_ELEMENTS and name not in RAW_TEXT and name not in RCDATA and not self_closing:
                    self.stack.append(el)
                elif not self_closing and (name in RAW_TEXT or name in RCDATA):
                    self.stack.append(el)
                return
            self._ensure_body()
        elif self.phase == self.AFTER_HEAD:
            if name in HEAD_ELEMENTS:
                # spec: process via "in head" rules (insert into head)
                el = Node(ELEMENT_NODE, name, attrs or [])
                self.head.append_child(el)
                if not self_closing and (name in RAW_TEXT or name in RCDATA):
                    self.stack.append(el)
                return
            self._ensure_body(attrs if name == "body" else None)

        # ---- in body ----
        # foreign content (svg/math subtrees)
        fctx = self._foreign_context()
        if fctx is not None:
            if name in FOREIGN_BREAKOUT:
                # break out: pop the foreign subtree, reprocess as HTML
                while self.stack and self.stack[-1].data not in ("svg", "math"):
                    self.stack.pop()
                if self.stack:
                    self.stack.pop()
                # fall through to normal HTML handling below
            else:
                if fctx == "svg":
                    name = SVG_TAG_ADJUST.get(name, name)
                    if attrs:
                        attrs = [(SVG_ATTR_ADJUST.get(k, k), v) for k, v in attrs]
                el = Node(ELEMENT_NODE, name, attrs or [])
                self._current().append_child(el)
                if not self_closing:  # foreign content honors self-closing
                    self.stack.append(el)
                return

        if name == "image":
            name = "img"

        if name in ("svg", "math"):
            self._saw_foreign = True
            if self.afe:
                self._reconstruct_afe()
            if name == "svg" and attrs:
                attrs = [(SVG_ATTR_ADJUST.get(k, k), v) for k, v in attrs]
            el = Node(ELEMENT_NODE, name, attrs or [])
            self._current().append_child(el)
            if not self_closing:
                self.stack.append(el)
            return

        if name in TABLE_ONLY_TAGS:
            self._table_start(name, attrs)
            return

        if name in P_CLOSERS:
            self._close_p()

        if name in HEADINGS:
            if self.stack and self.stack[-1].data in HEADINGS:
                self.stack.pop()
        elif name == "li":
            self._close_list_item(("li",))
            self._close_p()
        elif name in ("dd", "dt"):
            self._close_list_item(("dd", "dt"))
            self._close_p()
        elif name == "a":
            # spec: an open <a> in the formatting list runs the adoption agency
            for i in range(len(self.afe) - 1, -1, -1):
                e = self.afe[i]
                if e is None:
                    break
                if e[1] == "a":
                    self._adoption_agency("a")
                    if e in self.afe:
                        self.afe.remove(e)
                    if e[0] in self.stack:
                        self.stack.remove(e[0])
                    break
        elif name == "nobr":
            if self._in_scope("nobr"):
                self._adoption_agency("nobr")
        elif name == "option":
            if self.stack and self.stack[-1].data == "option":
                self.stack.pop()
        elif name == "optgroup":
            while self.stack and self.stack[-1].data in ("option", "optgroup"):
                self.stack.pop()

        if self.afe and name not in NO_RECONSTRUCT:
            self._reconstruct_afe()

        if name in VOID_ELEMENTS:
            self._insert_element(name, attrs, push=False, foster=True)
            return
        if name in RAW_TEXT or name in RCDATA:
            self._insert_element(name, attrs, push=not self_closing, foster=True)
            return
        # NB: per spec the self-closing flag is ignored on normal HTML elements
        el = self._insert_element(name, attrs, push=True, foster=True)
        if name in FORMATTING:
            self._afe_push(el, name, el.attrs)
        elif name in ("applet", "marquee", "object"):
            self.afe.append(None)  # marker

    def _close_list_item(self, names):
        for nd in reversed(list(self.stack)):
            if nd.data in names:
                self._generate_implied_end(nd.data)
                self._pop_until(nd.data)
                return
            if nd.data in SPECIAL and nd.data not in ("address", "div", "p"):
                return

    def _merge_attrs(self, el: Node, attrs):
        if not attrs:
            return
        existing = {k for k, _ in el.attrs}
        for k, v in attrs:
            if k not in existing:
                el.attrs.append((k, v))
                existing.add(k)

    # -- table-context start tags ---------------------------------------------
    def _table_nearby(self):
        for nd in reversed(self.stack):
            if nd.data == "table":
                return nd
        return None

    def _clear_back_to(self, names):
        while self.stack and self.stack[-1].data not in names and self.stack[-1].data != "html":
            self.stack.pop()

    def _table_start(self, name, attrs):
        table = self._table_nearby()
        if table is None:
            return  # "in body" rules: ignore stray table-section tags
        if name in TABLE_SECTIONS or name in ("caption", "colgroup"):
            self._clear_back_to(("table",))
            self._insert_element(name, attrs, push=name != "col")
            if name == "caption":
                self.afe.append(None)  # marker (caption scopes formatting, like cells)
            return
        if name == "col":
            if self.stack[-1].data != "colgroup":
                self._clear_back_to(("table",))
                self._insert_element("colgroup", None, push=True)
            self._insert_element("col", attrs, push=False)
            return
        if name == "tr":
            self._clear_back_to(TABLE_SECTIONS | {"table"})
            if self.stack[-1].data == "table":
                self._insert_element("tbody", None, push=True)
            self._insert_element("tr", attrs, push=True)
            return
        if name in ("td", "th"):
            self._clear_back_to(TABLE_SECTIONS | {"table", "tr"})
            if self.stack[-1].data == "table":
                self._insert_element("tbody", None, push=True)
            if self.stack[-1].data != "tr":
                self._insert_element("tr", None, push=True)
            self._insert_element(name, attrs, push=True)
            self.afe.append(None)  # marker (cells scope formatting)
            return

    # -- end tags ------------------------------------------------------------
    def _end_tag(self, name):
        if self.phase == self.IN_HEAD:
            if name == "head":
                self.phase = self.AFTER_HEAD
                self.stack = []
                return
            if name in ("body", "html"):
                self._ensure_body()
                return
            if self.stack and self.stack[-1].data == name:
                self.stack.pop()
            return
        if self.phase in (self.INITIAL, self.AFTER_HEAD):
            if name in ("head", "body", "html", "br"):
                if name == "br":
                    self._ensure_body()
                    self._insert_element("br", None, push=False)
                return
            return
        # in body
        if self._foreign_context() is not None:
            # foreign end tag: case-insensitive pop, bounded by the foreign root
            for idx in range(len(self.stack) - 1, -1, -1):
                nd = self.stack[idx]
                if nd.data.lower() == name:
                    del self.stack[idx:]
                    return
                if nd.data in ("svg", "math"):
                    return
            return
        if name in ("body", "html"):
            return
        if name == "br":
            # spec: </br> acts as <br> start tag
            if self.afe:
                self._reconstruct_afe()
            self._insert_element("br", None, push=False, foster=True)
            return
        if name in FORMATTING:
            self._adoption_agency(name)
            return
        if name in ("applet", "marquee", "object"):
            if self._in_scope(name):
                self._generate_implied_end()
                self._pop_until(name)
                self._afe_clear_to_marker()
            return
        if name == "p":
            if not self._in_scope("p", extra_boundary=("button",)):
                self._insert_element("p", None, push=False, foster=True)
                return
            self._generate_implied_end("p")
            self._pop_until("p")
            return
        if name in HEADINGS:
            if self._in_scope(HEADINGS):
                self._generate_implied_end()
                self._pop_until(HEADINGS)
            return
        if name in ("td", "th", "caption"):
            if self._in_scope(name):
                self._generate_implied_end()
                self._pop_until(name)
                self._afe_clear_to_marker()
            return
        if name == "tr":
            if self._in_scope("tr"):
                self._clear_back_to(("tr",))
                self._pop_until("tr")
            return
        if name == "table":
            if self._in_scope("table"):
                self._pop_until("table")
            return
        if name in TABLE_SECTIONS:
            if self._in_scope(name):
                self._clear_back_to((name,))
                self._pop_until(name)
            return
        if name == "li":
            if self._in_scope("li", extra_boundary=("ol", "ul")):
                self._generate_implied_end("li")
                self._pop_until("li")
            return
        if name in ("dd", "dt"):
            if self._in_scope(name):
                self._generate_implied_end(name)
                self._pop_until(name)
            return
        self._any_other_end_tag(name)


def parse(s: str) -> Node:
    """Parse an HTML string into a document Node (always has html/head/body)."""
    tb = _TreeBuilder()
    for tok in _tokenize(s):
        tb.process(*tok)
    tb._ensure_body()
    return tb.doc


def parse_head(s: str) -> Node:
    """Parse only up to the start of body content.

    The resulting document has a COMPLETE head (title, metas) but an empty or
    partial body — enough for the charset report (Find("head meta")) and for
    title extraction when the page titles its head like every real page;
    callers must fall back to parse() when no title is found but '<title'
    occurs in the input (title-in-body pathology).
    """
    tb = _TreeBuilder()
    for tok in _tokenize(s):
        tb.process(*tok)
        if tb.phase == tb.IN_BODY:
            break
    tb._ensure_body()
    return tb.doc
