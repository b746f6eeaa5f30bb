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
from ..htmldom.query import descendants, link_and_text_bytes
from ..htmldom.node import Node

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

_REPLACE_WITH_WHITESPACE = frozenset(
    "br hr h1 h2 h3 h4 h5 h6 dl dd ol li ul address blockquote center".split()
)

_SELECTOR_PTD = "p,td"
_CLEAN_TAGS = frozenset(("table", "ul", "div"))


def _blen(s: str) -> int:
    """Go len(string): UTF-8 byte length; invalid input bytes count as 1."""
    return utf8_len(s)


def _trim_bytes_len(s: str) -> int:
    return _blen(s.strip())


class Candidate:
    __slots__ = ("node", "score")

    def __init__(self, node: Node, score):
        self.node = node
        self.score = score  # np.float32


class Document:
    """Port of go-readability Document (readability.go:46-145)."""

    def __init__(self, input_html: str, preparsed: Node = None):
        """`preparsed` hands over an existing full parse of input_html. Only
        get_content passes one: the tree its rule selector missed on, when
        preprocessing_is_identity holds (the R1 regexes — br-runs, font tags,
        comments — cannot modify the input), so the tree IS what
        _initialize_html would build. We take ownership (we mutate it).
        Retries always re-parse from the original string."""
        self.input = input_html
        self.document: Node = None  # document root
        self.content = ""
        self.candidates: dict = {}  # id(node) -> Candidate (node ref kept alive)
        self.best_candidate: Candidate = None
        self._last_article = None  # rich-HTML cache for content_with_html

        # extraction metrics (north_rule: nodes scored / candidates rejected /
        # retries), accumulated across retry rounds
        self.stats = {"nodes_scored": 0, "candidates_rejected": 0, "retries_relaxed": 0}

        self.remove_unlikely_candidates = True
        self.weight_classes = True
        self.clean_conditionally = True
        self.retry_length = 250
        self.min_text_length = 25
        self.remove_empty_nodes = True
        self.whitelist_tags = ("div", "p")

        if preparsed is not None:
            self.document = preparsed
        else:
            self._initialize_html(input_html)

    # R1 — initializeHtml (readability.go:82-105)
    def _initialize_html(self, s: str) -> None:
        s = RE_REPLACE_BRS.sub("</p><p>", s)
        s = RE_REPLACE_FONTS.sub(r"<\1span>", s)
        s = RE_STRIP_COMMENT.sub("", s)
        self.document = parse(s)
        # x/net/html always synthesizes a <body>, so the reference's no-body
        # re-init (readability.go:98-101) is unreachable with a document parse;
        # our parser matches that invariant.

    # --- public API ---------------------------------------------------------
    def content_with_html(self):
        """ContentWithHTML (readability.go:107-140).

        The reference calls getArticle() again for the rich return value
        (line 139); since sanitize() works on its own re-parse, self.document
        and self.candidates are unchanged between the two calls, so the cached
        string is byte-identical — we skip the recomputation.
        """
        if self.content == "":
            self._prepare_candidates()
            article = self._get_article()
            self._last_article = article
            article_text = self._sanitize(article)

            length = _trim_bytes_len(article_text)
            if length < self.retry_length:
                retry = True
                if self.remove_unlikely_candidates:
                    self.remove_unlikely_candidates = False
                elif self.weight_classes:
                    self.weight_classes = False
                elif self.clean_conditionally:
                    self.clean_conditionally = False
                else:
                    self.content = article_text
                    retry = False

                if retry:
                    self.stats["retries_relaxed"] += 1
                    self._initialize_html(self.input)
                    article_text, _ = self.content_with_html()

            self.content = article_text

        if self._last_article is None:
            self._last_article = self._get_article()
        return self.content, self._last_article

    # --- candidate preparation (readability.go:147-160) ---------------------
    def _prepare_candidates(self):
        for nd in find_all(self.document, "script,style,noscript"):
            _remove_node(nd)
        if self.remove_unlikely_candidates:
            self._remove_unlikely_candidates()
        self._transform_misused_divs_into_paragraphs()
        self._score_paragraphs(self.min_text_length)
        self._select_best_candidate()

    # R8 — selectBestCandidate (readability.go:162-178); Go map iteration is
    # random so ties there are nondeterministic; dict insertion order gives us
    # deterministic first-seen (document-order) tie-breaking.
    def _select_best_candidate(self):
        best = None
        for c in self.candidates.values():
            if best is None or best.score < c.score:
                best = c
        if best is None:
            bodies = find_all(self.document, "body")
            body = bodies[0] if bodies else self.document
            best = Candidate(body, f32(0))
        self.best_candidate = best

    # R9 — getArticle (readability.go:180-221)
    def _get_article(self) -> str:
        out = ["<div>"]
        best = self.best_candidate
        sibling_score_threshold = f32(max(10.0, float(best.score * f32(0.2))))

        for nd in siblings_then_self(best.node):
            append = False
            if nd is best.node:
                append = True
            else:
                c = self.candidates.get(id(nd))
                if c is not None and c.node is nd and c.score >= sibling_score_threshold:
                    append = True

            if nd.type == ELEMENT_NODE and nd.data == "p":
                link_density = self._get_link_density(nd)
                content = node_text(nd)
                content_length = _blen(content)
                if content_length >= 80 and link_density < f32(0.25):
                    append = True
                elif content_length < 80 and link_density == f32(0):
                    append = RE_SENTENCE.search(content) is not None

            if append:
                tag = "div"
                if nd.type == ELEMENT_NODE and nd.data == "p":
                    tag = nd.data
                out.append(f"<{tag}>{inner_html(nd)}</{tag}>")

        out.append("</div>")
        return "".join(out)

    # R3 — removeUnlikelyCandidates (readability.go:223-235)
    def _remove_unlikely_candidates(self):
        for nd in find_elements(self.document):
            if nd.data in ("html", "body"):
                continue
            s = nd.attr_or("class", "") + nd.attr_or("id", "")
            if not s:
                continue  # no pattern matches ""
            if RE_BLACKLIST.search(s) or (RE_UNLIKELY.search(s) and not RE_OK_MAYBE.search(s)):
                self.stats["candidates_rejected"] += 1
                _remove_node(nd)

    # R4 — transformMisusedDivsIntoParagraphs (readability.go:237-255).
    # The reference regex-tests the SERIALIZED inner HTML of each div (in
    # pre-order) for block-level open tags. Renaming a div never changes the
    # subtree of a div visited after it, so the test is evaluated for every
    # div up front, in one pass (_divs_with_block_level).
    def _transform_misused_divs_into_paragraphs(self):
        nodes = descendants(self.document)
        blocky = _divs_with_block_level(nodes)
        for nd in nodes:
            if nd.type == ELEMENT_NODE and nd.data == "div" and id(nd) not in blocky:
                nd.data = "p"

    # R5 — scoreParagraphs (readability.go:257-304)
    def _score_paragraphs(self, minimum_text_length: int):
        candidates: dict = {}

        for nd in find_all(self.document, _SELECTOR_PTD):
            text = node_text(nd).strip()
            if _blen(text) < minimum_text_length:
                continue

            parent = nd.parent
            if parent is None:
                continue
            grandparent = parent.parent
            if grandparent is not None and grandparent.type != ELEMENT_NODE:
                # goquery Parent() only yields element parents; the document
                # node terminates the chain
                grandparent = None

            if id(parent) not in candidates:
                candidates[id(parent)] = self._score_node(parent)
            if grandparent is not None and id(grandparent) not in candidates:
                candidates[id(grandparent)] = self._score_node(grandparent)

            content_score = f32(1.0)
            content_score = f32(content_score + f32(text.count(",") + 1))
            # Go: math.Min(float64(len(text)/100.0), 3) — len/100.0 is INTEGER
            # division (untyped constant with int operand), see SURVEY §7
            content_score = f32(content_score + f32(min(_blen(text) // 100, 3)))

            candidates[id(parent)].score = f32(candidates[id(parent)].score + content_score)
            if grandparent is not None:
                gp = candidates[id(grandparent)]
                gp.score = f32(gp.score + content_score / f32(2.0))

        for cand in candidates.values():
            cand.score = f32(cand.score * (f32(1) - self._get_link_density(cand.node)))

        self.stats["nodes_scored"] += len(candidates)
        self.candidates = candidates

    # R7 — getLinkDensity (readability.go:306-315); byte lengths, single walk
    def _get_link_density(self, nd: Node):
        return _link_density(*link_and_text_bytes(nd))

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
    def _score_node(self, nd: Node) -> Candidate:
        content_score = self._class_weight(nd)
        tag = nd.data if nd.type == ELEMENT_NODE else ""
        if tag == "div":
            content_score += 5
        elif tag in ("blockquote", "form", "fieldset"):
            content_score = 3
        elif tag == "th":
            content_score -= 5
        return Candidate(nd, f32(content_score))

    # R10 — sanitize (readability.go:362-458)
    def _sanitize(self, article: str) -> str:
        doc = parse(article)
        bodies = find_all(doc, "body")
        body = bodies[0] if bodies else doc

        for header in find_all(body, "h1,h2,h3,h4,h5,h6"):
            if self._class_weight(header) < 0 or self._get_link_density(header) > f32(0.33):
                _remove_node(header)

        for nd in find_all(body, "input,select,textarea,button,object,iframe,embed"):
            _remove_node(nd)

        if self.remove_empty_nodes:
            for nd in find_all(body, "p"):
                # serialized inner HTML is whitespace-only iff every child is a
                # text node whose data is whitespace (comments/elements emit
                # markup; escaping never changes whitespace-ness)
                if _children_whitespace_only(nd):
                    _remove_node(nd)

        self._clean_conditionally(body)

        replace_with_whitespace = set(_REPLACE_WITH_WHITESPACE)
        whitelist = set()
        for tag in self.whitelist_tags:
            tag = tag.lower()
            whitelist.add(tag)
            replace_with_whitespace.discard(tag)

        text = ""
        for nd in find_elements(body):  # pre-order snapshot; tree mutates under us
            if text != "":
                break
            if nd.type != ELEMENT_NODE:
                continue
            if nd.data in whitelist:
                nd.attrs = []
            elif nd.data in replace_with_whitespace:
                # convert to a text node in place (readability.go:435-440);
                # children keep stale parent pointers, exactly like the Go code
                nd.data = f" {node_text(nd)} "
                nd.type = TEXT_NODE
                nd.first_child = None
                nd.last_child = None
            else:
                if nd.parent is None:
                    text = node_text(nd)
                else:
                    _replace_node_with_children(nd)

        if text == "":
            text = inner_html(doc)  # goquery doc.Html(): full <html>…</html>

        return RE_NORMALIZE_WS.sub("\n", text)

    # R11 — cleanConditionally (readability.go:460-525) over table/ul/div.
    # The candidates lookup always misses (sanitize works on a fresh parse);
    # kept as the reference has it. Each candidate's text, link and tag
    # figures come from one pass over the tree (_clean_stats): the loop
    # visits a pre-order snapshot and only removes whole subtrees, so when a
    # candidate is reached its own subtree is as it was before the loop.
    def _clean_conditionally(self, root: Node):
        if not self.clean_conditionally:
            return

        nodes = descendants(root)
        stats = _clean_stats(nodes)
        for nd in nodes:
            if nd.type != ELEMENT_NODE or nd.data not in _CLEAN_TAGS:
                continue
            weight = f32(self._class_weight(nd))
            c = self.candidates.get(id(nd))
            content_score = c.score if c is not None and c.node is nd else f32(0)

            if float(f32(weight + content_score)) < 0:
                self.stats["candidates_rejected"] += 1
                _remove_node(nd)
                continue

            (text_bytes, commas, link_bytes, lead, trail,
             p, img, li, embed, input_) = stats[id(nd)]
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
                elif content_length < self.min_text_length and (img == 0 or img > 2):
                    remove = True
                elif weight < f32(25) and link_density > f32(0.2):
                    remove = True
                elif weight >= f32(25) and link_density > f32(0.5):
                    remove = True
                elif (embed == 1 and content_length < 75) or embed > 1:
                    remove = True

                if remove:
                    self.stats["candidates_rejected"] += 1
                    _remove_node(nd)


def preprocessing_is_identity(s: str) -> bool:
    """True when R1's three regex substitutions cannot change `s` — then a
    plain parse(s) equals _initialize_html's tree and may be shared."""
    return (
        RE_REPLACE_BRS.search(s) is None
        and RE_REPLACE_FONTS.search(s) is None
        and RE_STRIP_COMMENT.search(s) is None
    )


_BLOCK_LEVEL = frozenset("a blockquote dl div img ol p pre table ul".split())
_RAW_TEXT_TAGS = frozenset(
    "iframe noembed noframes noscript plaintext script style xmp".split()
)


def _divs_with_block_level(nodes: list) -> set:
    """ids of the divs among `nodes` (a pre-order list of a whole tree)
    whose rendered inner HTML RE_DIV_TO_P matches: a descendant element
    with a block-level tag, or — raw-text children render literally — a
    match inside the text of a script/style/... descendant. Other text and
    attribute values render escaped ('<' → '&lt;'), so they never match.
    One post-order pass: a node marks its parent when it is such an
    element, such a text, or already marked."""
    marked = set()
    for nd in reversed(nodes):  # every node after all of its descendants
        parent = nd.parent
        if parent is None:
            continue
        if id(nd) in marked:
            marked.add(id(parent))
        elif nd.type == ELEMENT_NODE:
            if nd.data in _BLOCK_LEVEL:
                marked.add(id(parent))
        elif (
            nd.type == TEXT_NODE
            and parent.type == ELEMENT_NODE
            and parent.data in _RAW_TEXT_TAGS
            and RE_DIV_TO_P.search(nd.data)
        ):
            marked.add(id(parent))
    return marked


_COUNTED = {"p": 5, "img": 6, "li": 7, "embed": 8, "input": 9}  # _clean_stats slots


def _clean_stats(nodes: list) -> dict:
    """For every table/ul/div among `nodes` (a pre-order list of a subtree),
    id -> [text bytes, commas, link bytes, leading-space bytes, trailing-space
    bytes, p, img, li, embed, input]: what node_text, its trimmed length,
    link_and_text_bytes and Find(tag).Length() give, summed bottom-up in one
    pass. Spaces are str.strip()'s; a whitespace-only text has leading ==
    trailing == text bytes. Text-node children are not entered: a fresh
    parse has none."""
    acc: dict = {}  # id -> figures summed over the children seen so far
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
            rec = acc.pop(id(nd), None) or [0] * 10
            tag = nd.data
            if tag in _CLEAN_TAGS:
                out[id(nd)] = list(rec)
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
        sib = acc.get(id(parent))
        if sib is None:
            acc[id(parent)] = rec
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
