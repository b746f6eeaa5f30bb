"""Differential tests: each fast path of the string engine against the
straightforward computation it replaces, on seeded inputs.

  - RE_REPLACE_BRS (unrolled) against the reference's `(<br[^>]*>[ \\n\\r\\t]*){2,}`;
  - the token-stream image list against extract_pics(parse(rich));
  - the one-pass clean-conditionally figures against per-node walks
    (node_text, link_and_text_bytes, Find(tag).Length());
  - the block-level flags against the reference's regex over inner HTML;
  - the sanitize walk's text spans against node_text;
  - the iterative render against a recursive one;
  - the tree builder's open-element counts against its stack;
  - engine output on the benchmark inputs against value digests.
"""

import hashlib
import random
import re
from collections import Counter

from ukeeper_readability_spark.engine.extract import (
    _IMG_TREE_TAGS,
    _article_pics,
    extract_document,
    extract_document_bytes,
)
from ukeeper_readability_spark.engine.pics import extract_pics, img_start_tag_srcs
from ukeeper_readability_spark.engine.readability import (
    _CLEAN_TAGS,
    _REPLACE_WITH_WHITESPACE,
    _WHITELIST_TAGS,
    RE_DIV_TO_P,
    RE_NORMALIZE_WS,
    RE_REPLACE_BRS,
    _clean_stats,
    _divs_with_block_level,
    _replace_node_with_children,
    _text_spans,
    _whitelist_walk,
)
from ukeeper_readability_spark.htmldom import (
    COMMENT_NODE,
    DOCTYPE_NODE,
    DOCUMENT_NODE,
    ELEMENT_NODE,
    TEXT_NODE,
    Node,
    find_all,
    inner_html,
    node_text,
    outer_html,
    parse,
)
from ukeeper_readability_spark.htmldom.gostr import utf8_len
from ukeeper_readability_spark.htmldom.parser import (
    RAW_TEXT,
    VOID_ELEMENTS,
    _tokenize,
    _TreeBuilder,
)
from ukeeper_readability_spark.htmldom.query import descendants, link_and_text_bytes
from ukeeper_readability_spark.htmldom.render import escape_text

ORIGINAL_BRS = re.compile(r"(<br[^>]*>[ \n\r\t]*){2,}", re.I)

_BR_PIECES = ["<br>", "<BR/>", "<br class=x>", "<br\n>", "<bR", "<br ", ">", " ", "\n",
              "\r", "\t", "x", "<b>", "</br>", "<br/><br>", "\f", "<p>", "é"]


def test_br_run_regex_matches_the_reference_pattern():
    rng = random.Random(20)
    for _ in range(5000):
        s = "".join(rng.choice(_BR_PIECES) for _ in range(rng.randrange(1, 30)))
        assert [m.span() for m in RE_REPLACE_BRS.finditer(s)] == [
            m.span() for m in ORIGINAL_BRS.finditer(s)
        ], s
        assert RE_REPLACE_BRS.sub("</p><p>", s) == ORIGINAL_BRS.sub("</p><p>", s)


_SOUP_TAGS = ["div", "p", "a", "b", "i", "em", "strong", "nobr", "span", "ul", "li",
              "br", "img", "script", "style", "title", "textarea", "noscript", "pre",
              "h1", "form", "input", "embed", "iframe", "plaintext", "object", "font"]
_GUARD_TAGS = [t[1:] for t in _IMG_TREE_TAGS] + ["td", "tr", "option"]
_TEXTS = ["hello, world", " ", "\n", "a<b", "1, 2, 3", "　x　", "  lead",
          "trail  ", "&amp;", "\xa0", "", "<!-- c -->", "<!-->", "<im", "&lt;img src=q&gt;"]


def _soup(rng, tags, n):
    out = []
    for _ in range(n):
        r = rng.random()
        tag = rng.choice(tags)
        if r < 0.4:
            attrs = "".join(
                f' {rng.choice(["src", "SRC", "class", "id", "href"])}="{rng.choice(["a.png", "b c", "", "&amp;q", "x,y"])}"'
                for _ in range(rng.randrange(3))
            )
            out.append(f"<{tag}{attrs}{'/' if rng.random() < 0.1 else ''}>")
        elif r < 0.65:
            out.append(f"</{tag}>")
        else:
            out.append(rng.choice(_TEXTS))
    return "".join(out)


def test_token_image_list_matches_the_tree():
    rng = random.Random(21)
    token_path = 0
    for i in range(3000):
        tags = _SOUP_TAGS + (_GUARD_TAGS if i % 3 == 0 else [])
        s = _soup(rng, tags, rng.randrange(1, 60))
        assert _article_pics(s) == extract_pics(parse(s)), s
        low = s.lower()
        token_path += "<im" in low and not any(t in low for t in _IMG_TREE_TAGS)
    assert token_path > 1000  # the soups exercise the token path


def test_token_image_list_defers_to_the_tree_where_it_differs():
    """Foster parenting moves a table-context img before its table, and the
    builder renames <image> to img; the token stream sees neither."""
    for html, lead in (
        ("<table><tr><td><img src=a></td><img src=b></tr></table>", "b"),
        ('<p><image src="a"><img src="b"></p>', "a"),
    ):
        assert img_start_tag_srcs(html)[:1] != [lead]
        assert extract_pics(parse(html))[0] == lead
        assert _article_pics(html) == extract_pics(parse(html))


def _subtree_text_figures(nd):
    text = node_text(nd)
    link, total = link_and_text_bytes(nd)
    counts = [len(find_all(nd, tag)) for tag in ("p", "img", "li", "embed", "input")]
    return [utf8_len(text.strip()), text.count(","), link, total] + counts


def test_one_pass_subtree_figures_match_per_node_walks():
    rng = random.Random(22)
    tags = _SOUP_TAGS + ["table", "td", "tr", "ol", "blockquote", "dl"]
    seen = 0
    for _ in range(2000):
        doc = parse(_soup(rng, tags, rng.randrange(1, 120)))
        nodes = descendants(doc)
        stats = _clean_stats(nodes)
        for nd in nodes:
            if nd.type != ELEMENT_NODE or nd.data not in _CLEAN_TAGS:
                continue
            seen += 1
            text_bytes, commas, link, lead, trail, *counts = stats[nd]
            trimmed = text_bytes - lead - trail if lead < text_bytes else 0
            assert [trimmed, commas, link, text_bytes] + counts == _subtree_text_figures(nd)
    assert seen > 800  # table/ul/div candidates checked


# names the regex matches only as a prefix, raw-text elements, foreign
# content, custom elements, and names and attribute keys holding a "<"
_R4_TAGS = _SOUP_TAGS + [
    "article", "aside", "abbr", "address", "area", "param", "picture", "progress",
    "svg", "path", "polygon", "math", "xmp", "iframe", "noembed", "noframes",
    "my-el", "x-p", "dlx", "olive", "table", "blockquote", "x<p", "q<a", "x<b",
]
_R4_TEXTS = _TEXTS + ["<?x <p ?>", "<!x <div>", "<!-- <ul> -->", "<?a?>", "x<", "p",
                      "<p", "a<img", "< p", "</p x>"]


def _r4_soup(rng, n):
    out = []
    for _ in range(n):
        r = rng.random()
        tag = rng.choice(_R4_TAGS)
        if r < 0.15:
            out.append("<div>")
        elif r < 0.45:
            key = rng.choice(["class", "id", "a<p", "b<c", "x"])
            out.append(f"<{tag} {key}={rng.choice(['v', '<p', 'a'])}>")
        elif r < 0.65:
            out.append(f"</{tag}>")
        else:
            out.append(rng.choice(_R4_TEXTS))
    return "".join(out)


def test_block_level_flags_match_the_reference_regex():
    """R4's flag is the reference's own test, RE_DIV_TO_P over the div's
    rendered inner HTML, for every div of a tree, after removals too."""
    rng = random.Random(26)
    divs = flagged = 0
    for i in range(3000):
        doc = parse(_r4_soup(rng, rng.randrange(1, 40)))
        if i % 2:  # removals leave adjacent text nodes behind
            for nd in find_all(doc, "g,b,i,span"):
                nd.parent.remove_child(nd)
        blocky = _divs_with_block_level(descendants(doc))
        for div in find_all(doc, "div"):
            expected = RE_DIV_TO_P.search(inner_html(div)) is not None
            assert (div in blocky) == expected, inner_html(div)
            divs += 1
            flagged += expected
    assert flagged > 2000 and divs - flagged > 300
    # adjacent literal texts match across their boundary
    doc = parse("<div><xmp>x<</xmp></div>")
    xmp = find_all(doc, "xmp")[0]
    assert xmp.parent not in _divs_with_block_level(descendants(doc))
    xmp.append_child(Node(TEXT_NODE, "p"))
    assert xmp.parent in _divs_with_block_level(descendants(doc))


def test_text_spans_match_node_text():
    rng = random.Random(27)
    for _ in range(1500):
        doc = parse(_soup(rng, _SOUP_TAGS + ["dl", "dd", "ol", "h2"], rng.randrange(1, 100)))
        joined, spans = _text_spans(doc)
        assert joined == node_text(doc)
        for nd in descendants(doc):
            start, end = spans.get(nd, (0, 0))
            assert joined[start:end] == (node_text(nd) if nd.first_child else ""), nd.data


def _whitelist_walk_by_node_text(doc, body):
    """The sanitize walk reading node_text at each visit, as the reference does."""
    text = ""
    for nd in find_all(body, "*"):
        if text != "":
            break
        if nd.data in _WHITELIST_TAGS:
            nd.attrs = []
        elif nd.data in _REPLACE_WITH_WHITESPACE:
            nd.data = f" {node_text(nd)} "
            nd.type = TEXT_NODE
            nd.first_child = None
            nd.last_child = None
        elif nd.parent is None:
            text = node_text(nd)
        else:
            _replace_node_with_children(nd)
    if text == "":
        text = inner_html(doc)
    return RE_NORMALIZE_WS.sub("\n", text)


def test_sanitize_walk_matches_the_node_text_walk():
    rng = random.Random(28)
    tags = _SOUP_TAGS + ["dl", "dd", "ol", "h2", "blockquote", "center", "hr", "address"]
    for _ in range(1500):
        s = _soup(rng, tags, rng.randrange(1, 100))
        ours, theirs = parse(s), parse(s)
        assert (_whitelist_walk(ours, find_all(ours, "body")[0])
                == _whitelist_walk_by_node_text(theirs, find_all(theirs, "body")[0])), s


def _render_recursive(n, out):
    """x/net/html Render as the straightforward recursion."""
    if n.type == TEXT_NODE:
        out.append(escape_text(n.data))
    elif n.type == DOCUMENT_NODE:
        c = n.first_child
        while c is not None:
            _render_recursive(c, out)
            c = c.next_sibling
    elif n.type == COMMENT_NODE:
        out.append("<!--" + n.data + "-->")
    elif n.type == DOCTYPE_NODE:
        out.append("<!DOCTYPE " + n.data + ">")
    elif n.type == ELEMENT_NODE:
        out.append("<" + n.data)
        for k, v in n.attrs:
            out.append(f' {k}="{escape_text(v)}"')
        if n.data in VOID_ELEMENTS:
            out.append("/>")
            return
        out.append(">")
        c = n.first_child
        if (c is not None and c.type == TEXT_NODE and c.data.startswith("\n")
                and n.data in ("pre", "listing", "textarea")):
            out.append("\n")
        while c is not None:
            if c.type == TEXT_NODE and n.data in RAW_TEXT:
                out.append(c.data)
            else:
                _render_recursive(c, out)
            c = c.next_sibling
        out.append("</" + n.data + ">")


def test_iterative_render_matches_recursive_render():
    rng = random.Random(23)
    tags = _SOUP_TAGS + _GUARD_TAGS + ["listing", "xmp", "math"]
    for _ in range(1500):
        doc = parse(_soup(rng, tags, rng.randrange(1, 80)))
        for nd in [doc] + descendants(doc):
            out = []
            _render_recursive(nd, out)
            assert outer_html(nd) == "".join(out)


# body trees the builder made before it kept open-element counts: each case
# runs a stack query (scope, list item, any-other end tag, table, foreign)
# that the counts may now answer without a walk
TREES = {
    "<ul><li>a<li>b<div><li>c</ul>": "<ul><li>a</li><li>b<div></div></li><li>c</li></ul>",
    "<dl><dt>a<dd>b<dt>c</dl>": "<dl><dt>a</dt><dd>b</dd><dt>c</dt></dl>",
    "<p>a<div>b</div><p>c<h1>d</h1>": "<p>a</p><div>b</div><p>c</p><h1>d</h1>",
    "<h1>a<h2>b</h2>": "<h1>a</h1><h2>b</h2>",
    "<b>x<p>y</b>z": "<b>x</b><p><b>y</b>z</p>",
    "<span>a</i>b</span>": "<span>ab</span>",
    "<div><span>a</div>b": "<div><span>a</span></div>b",
    "<table><tr><td>a</td>b<img src=x></tr></table>":
        'b<img src="x"/><table><tbody><tr><td>a</td></tr></tbody></table>',
    "<svg><g><rect/></g><p>x</svg>": "<svg><g><rect></rect></g></svg><p>x</p>",
    "<math><mi>x</mi></math><p>y": "<math><mi>x</mi></math><p>y</p>",
    "<p>a<button>b<p>c</button>d": "<p>a<button>b<p>cd</p></button></p>",
    "<li>a<ul><li>b</ul><li>c": "<li>a<ul><li>b</li><li>c</li></ul></li>",
    "<object><p>a</object>b": "<object><p>a</p></object>b",
    "<nobr>a<nobr>b": "<nobr>a</nobr><nobr>b</nobr>",
    "<div><div><div><li>x</div></div></div>": "<div><div><div><li>x</li></div></div></div>",
}


def test_tree_builder_decisions_are_unchanged():
    for html, body in TREES.items():
        assert inner_html(find_all(parse(html), "body")[0]) == body, html


def test_open_element_counts_follow_the_stack():
    rng = random.Random(24)
    tags = _SOUP_TAGS + _GUARD_TAGS + ["h2", "dd", "dt", "caption", "tbody", "col",
                                       "applet", "marquee", "head", "body", "html"]
    for _ in range(1500):
        tb = _TreeBuilder()
        for tok in _tokenize(_soup(rng, tags, rng.randrange(1, 80))):
            tb.process(*tok)
            open_ = {k: v for k, v in tb.open.items() if v}
            assert open_ == Counter(nd.data for nd in tb.stack)


def _digest(results):
    h = hashlib.sha256()
    for r in results:
        h.update(repr(sorted(r.items())).encode("utf-8", "surrogateescape"))
    return h.hexdigest()[:16]


def test_engine_output_digests_on_benchmark_inputs():
    """Values, not pickles: pickle memoizes shared string objects, so equal
    values can pickle differently."""
    from perfbench import inputs

    rows, _ = inputs.articles(7, 480)
    assert _digest(extract_document(r[3], r[4]) for r in rows) == "25b45029f175b3c7"
    # a rule that matches nothing: the general parser on real pages
    misses = (extract_document(r[3], r[4], rule_selector="#nomatch") for r in rows)
    assert _digest(misses) == "25b45029f175b3c7"
    crawl, _, _ = inputs.crawl_small(7, 1500)
    for rule, digest in ((None, "127e67e2468dd966"), ("#content p", "2f0abc1d11538288")):
        results = (
            extract_document_bytes(r[3], r[5], rule_selector=rule, header_content_type=r[4])
            for r in crawl
        )
        assert _digest(results) == digest, rule


def test_whitespace_and_joined_sentence_scans_match_the_go_regexes():
    from ukeeper_readability_spark.engine.sanitize_text import _collapse_spaces, _dot_matches

    spaces = re.compile(r"[\t\n\f\r ]+")  # reSpaces over Go's ASCII \s
    dot = re.compile(r"[^0-9](\.)[^\t\n\f\r ]")  # reDot
    pieces = [".", "..", "a", "1", " ", "  ", "\t", "\n", "\r", "\f", "\v", "\xa0",
              "é", "\udc80", "x.y", "9.5", "a. b", "…"]
    rng = random.Random(25)
    for _ in range(20000):
        s = "".join(rng.choice(pieces) for _ in range(rng.randrange(0, 25)))
        assert _collapse_spaces(s) == spaces.sub(" ", s), s
        assert _dot_matches(s) == [m.group(0) for m in dot.finditer(s)], s
