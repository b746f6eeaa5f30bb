"""Arc90-style readability general parser.

A from-scratch Python re-expression of the candidate-scoring algorithm whose
observable semantics are defined by the reference's vendored library
(vendor/github.com/mauidude/go-readability/readability.go, 557 LoC) — regex sets,
float32 score arithmetic, UTF-8 *byte* length semantics, sibling-merge emission
order (siblings first, best candidate last), the whitelist sanitize walk over a
pre-order snapshot of a mutating DOM, and the retry loop that progressively
relaxes RemoveUnlikelyCandidates → WeightClasses → CleanConditionally
(readability.go:107-134).
"""

from __future__ import annotations

import re

import numpy as np

from ..htmldom import (
    COMMENT_NODE,
    ELEMENT_NODE,
    TEXT_NODE,
    find_all,
    find_elements,
    inner_html,
    node_text,
    parse,
    siblings_then_self,
)
from ..htmldom.gostr import utf8_len
from ..htmldom.node import Node
from ..htmldom.parser import RAW_TEXT
from ..htmldom.query import descendants, link_and_text_bytes

f32 = np.float32

# regex set (readability.go:19-34); Go (?i) → re.I, (?s) → re.S.
# RE_REPLACE_BRS is Go's `(<br[^>]*>[ \n\r\t]*){2,}` unrolled so that every
# match attempt starts at a literal "<br": the same language and the same
# greedy leftmost matches, without the group retry at every position.
RE_REPLACE_BRS = re.compile(r"<br[^>]*>[ \n\r\t]*(?:<br[^>]*>[ \n\r\t]*)+", re.I)
RE_REPLACE_FONTS = re.compile(r"<(\/?)\s*font[^>]*?>", re.I)
RE_BLACKLIST = re.compile(r"popupbody", re.I)
RE_OK_MAYBE = re.compile(r"and|article|body|column|main|shadow", re.I)
RE_UNLIKELY = re.compile(
    r"combx|comment|community|hidden|disqus|modal|extra|foot|header|menu|remark|rss|shoutbox|sidebar|sponsor|ad-break|agegate|pagination|pager|popup",
    re.I,
)
RE_DIV_TO_P = re.compile(r"<(a|blockquote|dl|div|img|ol|p|pre|table|ul)", re.I)
RE_NEGATIVE = re.compile(
    r"combx|comment|com-|foot|footer|footnote|masthead|media|meta|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget",
    re.I,
)
RE_POSITIVE = re.compile(
    r"article|body|content|entry|hentry|main|page|pagination|post|text|blog|story", re.I
)
RE_STRIP_COMMENT = re.compile(r"<!\-{2}.+?-{2}>", re.S)
RE_SENTENCE = re.compile(r"\.( |$)")
RE_NORMALIZE_WS = re.compile(r"[\r\n\f]+")

# RE_DIV_TO_P after its "<": it has no word boundary, so it matches every
# element name that starts with one of its words (article, abbr, svg path...)
_RE_DIV_TO_P_NAME = re.compile(RE_DIV_TO_P.pattern[1:], re.I)

# Document options that NewDocument sets and no caller changes: RetryLength,
# MinTextLength, WhitelistTags (RemoveEmptyNodes is always on)
RETRY_LENGTH = 250
MIN_TEXT_LENGTH = 25
_WHITELIST_TAGS = frozenset(("div", "p"))
_REPLACE_WITH_WHITESPACE = frozenset(
    "br hr h1 h2 h3 h4 h5 h6 dl dd ol li ul address blockquote center".split()
)

_SELECTOR_PTD = "p,td"
_CLEAN_TAGS = frozenset(("table", "ul", "div"))


class Document:
    """Port of go-readability Document (readability.go:46-145)."""

    def __init__(self, input_html: str):
        self.input = input_html
        # extraction metrics (nodes scored / candidates rejected / retries),
        # accumulated across attempts
        self.stats = {"nodes_scored": 0, "candidates_rejected": 0, "retries_relaxed": 0}
        self.remove_unlikely_candidates = True
        self.weight_classes = True
        self.clean_conditionally = True

    def content_with_html(self):
        """ContentWithHTML (readability.go:107-140): (text, article HTML).

        Each attempt builds its own tree from the input. When the text is
        shorter than RETRY_LENGTH bytes, the first flag still on is turned
        off and the next attempt starts over; with none left the short text
        stands. The reference calls getArticle() once more for the HTML
        (line 139); sanitize works on its own parse, so the attempt's tree
        and candidates are unchanged and that article is the one built here.
        """
        while True:
            doc = _initialize_html(self.input)
            candidates = self._prepare_candidates(doc)
            article = _get_article(doc, candidates)
            text = self._sanitize(article)
            if utf8_len(text.strip()) >= RETRY_LENGTH:
                return text, article
            if self.remove_unlikely_candidates:
                self.remove_unlikely_candidates = False
            elif self.weight_classes:
                self.weight_classes = False
            elif self.clean_conditionally:
                self.clean_conditionally = False
            else:
                return text, article
            self.stats["retries_relaxed"] += 1

    # --- candidate preparation (readability.go:147-160) ---------------------
    def _prepare_candidates(self, doc: Node) -> dict:
        for nd in find_all(doc, "script,style,noscript"):
            _remove_node(nd)
        if self.remove_unlikely_candidates:
            self._remove_unlikely_candidates(doc)
        _transform_misused_divs_into_paragraphs(doc)
        return self._score_paragraphs(doc)

    # R3 — removeUnlikelyCandidates (readability.go:223-235)
    def _remove_unlikely_candidates(self, doc: Node):
        for nd in find_elements(doc):
            if nd.data in ("html", "body"):
                continue
            s = nd.attr_or("class", "") + nd.attr_or("id", "")
            if not s:
                continue  # no pattern matches ""
            if RE_BLACKLIST.search(s) or (RE_UNLIKELY.search(s) and not RE_OK_MAYBE.search(s)):
                self.stats["candidates_rejected"] += 1
                _remove_node(nd)

    # R5 — scoreParagraphs (readability.go:257-304): {node: float32 score}
    def _score_paragraphs(self, doc: Node) -> dict:
        candidates: dict = {}
        for nd in find_all(doc, _SELECTOR_PTD):
            text = node_text(nd).strip()
            text_len = utf8_len(text)
            if text_len < MIN_TEXT_LENGTH:
                continue

            parent = nd.parent
            if parent is None:
                continue
            grandparent = parent.parent
            if grandparent is not None and grandparent.type != ELEMENT_NODE:
                # goquery Parent() only yields element parents; the document
                # node terminates the chain
                grandparent = None

            if parent not in candidates:
                candidates[parent] = self._score_node(parent)
            if grandparent is not None and grandparent not in candidates:
                candidates[grandparent] = self._score_node(grandparent)

            content_score = f32(1.0)
            content_score = f32(content_score + f32(text.count(",") + 1))
            # Go: math.Min(float64(len(text)/100.0), 3) — len/100.0 is INTEGER
            # division (untyped constant with int operand), see SURVEY §7
            content_score = f32(content_score + f32(min(text_len // 100, 3)))

            candidates[parent] = f32(candidates[parent] + content_score)
            if grandparent is not None:
                candidates[grandparent] = f32(candidates[grandparent] + content_score / f32(2.0))

        for nd, score in candidates.items():
            candidates[nd] = f32(score * (f32(1) - _link_density(*link_and_text_bytes(nd))))

        self.stats["nodes_scored"] += len(candidates)
        return candidates

    # R6 — classWeight (readability.go:317-347)
    def _class_weight(self, nd: Node) -> int:
        weight = 0
        if not self.weight_classes:
            return weight
        cls = nd.attr_or("class", "")
        id_ = nd.attr_or("id", "")
        if cls != "":
            if RE_NEGATIVE.search(cls):
                weight -= 25
            if RE_POSITIVE.search(cls):
                weight += 25
        if id_ != "":
            if RE_NEGATIVE.search(id_):
                weight -= 25
            if RE_POSITIVE.search(id_):
                weight += 25
        return weight

    # R6 — scoreNode (readability.go:349-360); note blockquote/form/fieldset
    # ASSIGN 3 (discarding classWeight) — reference quirk kept
    def _score_node(self, nd: Node):
        content_score = self._class_weight(nd)
        tag = nd.data if nd.type == ELEMENT_NODE else ""
        if tag == "div":
            content_score += 5
        elif tag in ("blockquote", "form", "fieldset"):
            content_score = 3
        elif tag == "th":
            content_score -= 5
        return f32(content_score)

    # R10 — sanitize (readability.go:362-458)
    def _sanitize(self, article: str) -> str:
        doc = parse(article)
        bodies = find_all(doc, "body")
        body = bodies[0] if bodies else doc

        for header in find_all(body, "h1,h2,h3,h4,h5,h6"):
            if (self._class_weight(header) < 0
                    or _link_density(*link_and_text_bytes(header)) > f32(0.33)):
                _remove_node(header)

        for nd in find_all(body, "input,select,textarea,button,object,iframe,embed"):
            _remove_node(nd)

        for nd in find_all(body, "p"):
            # serialized inner HTML is whitespace-only iff every child is a
            # text node whose data is whitespace (comments/elements emit
            # markup; escaping never changes whitespace-ness)
            if _children_whitespace_only(nd):
                _remove_node(nd)

        if self.clean_conditionally:
            self._clean_conditionally(body)

        return _whitelist_walk(doc, body)

    # R11 — cleanConditionally (readability.go:460-525) over table/ul/div.
    # Each candidate's text, link and tag figures come from one pass over the
    # tree (_clean_stats): the loop visits a pre-order snapshot and only
    # removes whole subtrees, so when a candidate is reached its own subtree
    # is as it was before the loop.
    def _clean_conditionally(self, root: Node):
        nodes = descendants(root)
        stats = _clean_stats(nodes)
        for nd in nodes:
            if nd.type != ELEMENT_NODE or nd.data not in _CLEAN_TAGS:
                continue
            weight = self._class_weight(nd)
            # the reference adds the node's candidate score to the weight; it
            # looks the node up among the candidates, but sanitize works on a
            # fresh parse, so the lookup always misses and the content score is
            # always 0 (reference quirk, kept)
            if weight < 0:
                self.stats["candidates_rejected"] += 1
                _remove_node(nd)
                continue

            (text_bytes, commas, link_bytes, lead, trail,
             p, img, li, embed, input_) = stats[nd]
            if commas < 10:
                li -= 100
                content_length = text_bytes - lead - trail if lead < text_bytes else 0
                link_density = _link_density(link_bytes, text_bytes)
                remove = False

                if img > p:
                    remove = True
                elif li > p and nd.data not in ("ul", "ol"):
                    remove = True
                elif input_ > p / 3.0:
                    remove = True
                elif content_length < MIN_TEXT_LENGTH and (img == 0 or img > 2):
                    remove = True
                elif weight < 25 and link_density > f32(0.2):
                    remove = True
                elif weight >= 25 and link_density > f32(0.5):
                    remove = True
                elif (embed == 1 and content_length < 75) or embed > 1:
                    remove = True

                if remove:
                    self.stats["candidates_rejected"] += 1
                    _remove_node(nd)


# R1 — initializeHtml (readability.go:82-105). x/net/html always synthesizes
# a <body>, so the reference's no-body re-init (readability.go:98-101) is
# unreachable with a document parse; our parser matches that invariant.
def _initialize_html(s: str) -> Node:
    s = RE_REPLACE_BRS.sub("</p><p>", s)
    s = RE_REPLACE_FONTS.sub(r"<\1span>", s)
    s = RE_STRIP_COMMENT.sub("", s)
    return parse(s)


# R4 — transformMisusedDivsIntoParagraphs (readability.go:237-255).
# The reference regex-tests the SERIALIZED inner HTML of each div (in
# pre-order) for block-level open tags. Renaming a div never changes the
# subtree of a div visited after it, so the test is evaluated for every
# div up front, in one pass (_divs_with_block_level).
def _transform_misused_divs_into_paragraphs(doc: Node):
    nodes = descendants(doc)
    blocky = _divs_with_block_level(nodes)
    for nd in nodes:
        if nd.type == ELEMENT_NODE and nd.data == "div" and nd not in blocky:
            nd.data = "p"


# R8 — selectBestCandidate (readability.go:162-178) and R9 — getArticle
# (readability.go:180-221). Go map iteration is random, so ties there are
# nondeterministic; max() over the dict keeps the first-seen (document
# order) best.
def _get_article(doc: Node, candidates: dict) -> str:
    if candidates:
        best = max(candidates, key=candidates.__getitem__)
        best_score = candidates[best]
    else:
        bodies = find_all(doc, "body")
        best = bodies[0] if bodies else doc
        best_score = f32(0)
    sibling_score_threshold = f32(max(10.0, float(best_score * f32(0.2))))

    out = ["<div>"]
    for nd in siblings_then_self(best):
        if nd is best:
            append = True
        else:
            score = candidates.get(nd)
            append = score is not None and score >= sibling_score_threshold

        is_p = nd.type == ELEMENT_NODE and nd.data == "p"
        if is_p:
            link_density = _link_density(*link_and_text_bytes(nd))
            content = node_text(nd)
            content_length = utf8_len(content)
            if content_length >= 80 and link_density < f32(0.25):
                append = True
            elif content_length < 80 and link_density == f32(0):
                append = RE_SENTENCE.search(content) is not None

        if append:
            tag = "p" if is_p else "div"
            out.append(f"<{tag}>{inner_html(nd)}</{tag}>")

    out.append("</div>")
    return "".join(out)


# The end of sanitize (readability.go:425-455) over a pre-order snapshot of
# `body`: whitelisted elements lose their attributes, REPLACE_WITH_WHITESPACE
# elements become text nodes holding their text, the rest are replaced by
# their children. The walk only renames, empties or splices out nodes it has
# already visited, so each node's text when it is reached is its text before
# the walk, read off one pre-order pass (_text_spans).
def _whitelist_walk(doc: Node, body: Node) -> str:
    joined, spans = _text_spans(body)
    text = ""
    for nd in find_elements(body):
        if text != "":
            break
        if nd.data in _WHITELIST_TAGS:
            nd.attrs = []
        elif nd.data in _REPLACE_WITH_WHITESPACE:
            # convert to a text node in place (readability.go:435-440);
            # children keep stale parent pointers, exactly like the Go code
            start, end = spans.get(nd, (0, 0))
            nd.data = f" {joined[start:end]} "
            nd.type = TEXT_NODE
            nd.first_child = None
            nd.last_child = None
        elif nd.parent is None:
            start, end = spans.get(nd, (0, 0))
            text = joined[start:end]
        else:
            _replace_node_with_children(nd)

    if text == "":
        text = inner_html(doc)  # goquery doc.Html(): full <html>…</html>

    return RE_NORMALIZE_WS.sub("\n", text)


def _text_spans(root: Node):
    """node_text of every node under `root` from one pre-order walk: the
    joined text of the subtree and {node: (start, end)} of each node with
    children in it (a childless element's text is empty)."""
    pieces = []
    spans = {}
    open_ = []  # (node, start) for the nodes whose children are being walked
    offset = 0
    nd = root.first_child
    while nd is not None:
        start = offset
        if nd.type == TEXT_NODE:
            pieces.append(nd.data)
            offset += len(nd.data)
        if nd.first_child is not None:
            open_.append((nd, start))
            nd = nd.first_child
            continue
        while nd.next_sibling is None and open_:
            nd, start = open_.pop()
            spans[nd] = (start, offset)
        nd = nd.next_sibling
    return "".join(pieces), spans


def _divs_with_block_level(nodes: list) -> set:
    """The divs among `nodes` (a pre-order list of a whole tree) whose
    rendered inner HTML RE_DIV_TO_P matches. One post-order pass: a node
    marks its parent when what it writes itself matches
    (_renders_div_to_p) or when it is already marked."""
    marked = set()
    for nd in reversed(nodes):  # every node after all of its descendants
        parent = nd.parent
        if parent is not None and (
            nd in marked or (nd.type != TEXT_NODE and _renders_div_to_p(nd))
        ):
            marked.add(parent)
    return marked


def _renders_div_to_p(nd: Node) -> bool:
    """RE_DIV_TO_P matches what the render of `nd` writes besides its
    element children. Render writes "<" before an element's name and the
    name, attribute keys, comment data and the text children of a raw-text
    element as they are; other text and attribute values are escaped
    ('<' → '&lt;') and cannot match. A text node writes nothing of its own
    that can match."""
    if nd.type == COMMENT_NODE:
        return RE_DIV_TO_P.search(nd.data) is not None
    if nd.type != ELEMENT_NODE:
        return False
    tag = nd.data
    if _RE_DIV_TO_P_NAME.match(tag) or ("<" in tag and RE_DIV_TO_P.search(tag)):
        return True
    for key, _ in nd.attrs:
        if "<" in key and RE_DIV_TO_P.search(key):
            return True
    if tag in RAW_TEXT:
        # adjacent text children are written as one literal string; any
        # other child starts with "<" and is tested on its own
        literal = []
        c = nd.first_child
        while c is not None:
            literal.append(c.data if c.type == TEXT_NODE else " ")
            c = c.next_sibling
        return RE_DIV_TO_P.search("".join(literal)) is not None
    return False


_COUNTED = {"p": 5, "img": 6, "li": 7, "embed": 8, "input": 9}  # _clean_stats slots


def _clean_stats(nodes: list) -> dict:
    """For every table/ul/div among `nodes` (a pre-order list of a subtree),
    node -> [text bytes, commas, link bytes, leading-space bytes,
    trailing-space bytes, p, img, li, embed, input]: what node_text, its
    trimmed length, link_and_text_bytes and Find(tag).Length() give, summed
    bottom-up in one pass. Spaces are str.strip()'s; a whitespace-only text
    has leading == trailing == text bytes. Text-node children are not
    entered: a fresh parse has none."""
    acc: dict = {}  # node -> figures summed over the children seen so far
    out: dict = {}
    for nd in reversed(nodes):  # every node after all of its descendants
        t = nd.type
        if t == TEXT_NODE:
            data = nd.data
            b = utf8_len(data)
            rest = data.lstrip()
            if not rest:
                rec = [b, 0, 0, b, b, 0, 0, 0, 0, 0]
            else:
                lead = utf8_len(data[: len(data) - len(rest)])
                trail = utf8_len(rest[len(rest.rstrip()):])
                rec = [b, data.count(","), 0, lead, trail, 0, 0, 0, 0, 0]
        elif t == ELEMENT_NODE:
            rec = acc.pop(nd, None) or [0] * 10
            tag = nd.data
            if tag in _CLEAN_TAGS:
                out[nd] = list(rec)
            if tag == "a":
                rec[2] += rec[0]  # its text is link text once more
            elif tag in _COUNTED:
                rec[_COUNTED[tag]] += 1
        else:
            continue
        parent = nd.parent
        if parent is None:
            continue
        # children arrive last first: prepend rec to what the parent has
        sib = acc.get(parent)
        if sib is None:
            acc[parent] = rec
            continue
        if sib[3] == sib[0]:  # the later siblings are all whitespace
            sib[4] += rec[4]
        if rec[3] < rec[0]:
            sib[3] = rec[3]
        else:
            sib[3] += rec[0]
        sib[0] += rec[0]
        for i in (1, 2, 5, 6, 7, 8, 9):
            sib[i] += rec[i]
    return out


# R7 — getLinkDensity (readability.go:306-315) over byte lengths
def _link_density(link_length: int, text_length: int):
    if text_length == 0:
        return f32(0)
    return f32(f32(link_length) / f32(text_length))


def _children_whitespace_only(nd: Node) -> bool:
    c = nd.first_child
    while c is not None:
        if c.type != TEXT_NODE or c.data.strip():
            return False
        c = c.next_sibling
    return True


def _remove_node(nd: Node):
    """removeNodes (readability.go:534-543): no-op when already detached."""
    if nd.parent is not None:
        nd.parent.remove_child(nd)


def _replace_node_with_children(n: Node):
    """replaceNodeWithChildren (readability.go:545-557)."""
    parent = n.parent
    c = n.first_child
    while c is not None:
        nxt = c.next_sibling
        n.remove_child(c)
        parent.insert_before(c, n)
        c = nxt
    parent.remove_child(n)
