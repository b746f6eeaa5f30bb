"""Regression tests for raw-text/RCDATA scanning and table-caption formatting.

Covers the round-2 advisor findings:
- str.lower() changes string LENGTH for some code points (U+0130 'İ' lowers to
  'i' + U+0307, 2 chars), so scanning a lowered copy but slicing the original
  misaligned indices and swallowed post-</script> markup on e.g. Turkish pages.
- <plaintext> must run to EOF (HTML5: no close tag exists).
- <caption> must push an active-formatting marker (like td/th) so formatting
  open at caption start is not reconstructed inside it after it closes.
- `<!-->` and `<!--->` are complete empty comments and `--!>` ends a comment
  (x/net readComment), so none of them swallows markup up to the next `-->`.
"""

import pytest

from ukeeper_readability_spark.htmldom import outer_html, parse
from ukeeper_readability_spark.htmldom.node import COMMENT_NODE
from ukeeper_readability_spark.htmldom.query import find_all, node_text


def _body_html(doc):
    body = find_all(doc, "body")[0]
    return "".join(outer_html(c) for c in body.children)


def test_rawtext_close_after_length_changing_codepoint():
    # 'İ' (U+0130) before the <script> used to shift the close-tag index by one
    # per occurrence, swallowing trailing markup into the script node.
    doc = parse("<p>İstanbul</p><script>var x=1;</script><p>after</p>")
    paras = find_all(doc, "p")
    assert [node_text(p) for p in paras] == ["İstanbul", "after"]
    scripts = find_all(doc, "script")
    assert len(scripts) == 1
    assert node_text(scripts[0]) == "var x=1;"


def test_rawtext_close_many_special_casing_codepoints():
    # ß (U+00DF) upper-cases to 'SS' but lower() is stable; İ is the hostile one.
    # Pile several İ before two raw-text elements to compound any misalignment.
    html = "<div>İİİİİ</div><style>.a{}</style><p>mid İ</p><script>1</script><p>tail</p>"
    doc = parse(html)
    assert [node_text(p) for p in find_all(doc, "p")] == ["mid İ", "tail"]
    assert node_text(find_all(doc, "style")[0]) == ".a{}"


def test_rawtext_close_tag_ascii_case_insensitive():
    doc = parse("<script>x</SCRIPT><p>ok</p>")
    assert node_text(find_all(doc, "script")[0]) == "x"
    assert [node_text(p) for p in find_all(doc, "p")] == ["ok"]
    # but a non-ASCII 'İ' in a would-be close tag must NOT match 'i'
    doc2 = parse("<title>a</tİtle>b</title><p>c</p>")
    assert node_text(find_all(doc2, "title")[0]) == "a</tİtle>b"


def test_rawtext_prefix_close_tag_not_matched():
    # </scripts> is not </script>; scanning must skip it (word-boundary check)
    doc = parse("<script>a</scripts>b</script><p>q</p>")
    assert node_text(find_all(doc, "script")[0]) == "a</scripts>b"
    assert [node_text(p) for p in find_all(doc, "p")] == ["q"]


def test_plaintext_runs_to_eof():
    doc = parse("<p>x</p><plaintext>a</plaintext><b>not parsed</b>")
    pt = find_all(doc, "plaintext")
    assert len(pt) == 1
    # everything after <plaintext> is literal text — no close, no <b> element
    assert node_text(pt[0]) == "a</plaintext><b>not parsed</b>"
    assert find_all(doc, "b") == []


def test_caption_scopes_active_formatting():
    # <b> open when <caption> starts must not leak formatting reconstruction
    # into the caption, and the caption's own <i> must not escape it.
    doc = parse("<b>x<table><caption><i>c</caption><tr><td>d</td></tr></table>y</b>")
    cap = find_all(doc, "caption")[0]
    assert find_all(cap, "b") == []  # b not reconstructed inside caption
    td = find_all(doc, "td")[0]
    assert find_all(td, "i") == []  # caption's <i> cleared at </caption>
    assert node_text(td) == "d"


@pytest.mark.parametrize(
    "comment, data",
    [("<!-->", ""), ("<!--->", ""), ("<!-- a --!>", " a ")],
)
def test_short_and_bang_comments_end(comment, data):
    doc = parse(f"<body>{comment}<p>A</p><!-- x --><p>B</p>")
    assert [node_text(p) for p in find_all(doc, "p")] == ["A", "B"]
    body = find_all(doc, "body")[0]
    comments = [c.data for c in body.children() if c.type == COMMENT_NODE]
    assert comments == [data, " x "]
