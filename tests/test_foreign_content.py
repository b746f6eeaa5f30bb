"""SVG/MathML foreign content (HTML5 §13.2.6.5) — self-closing honored,
camelCase restored, integration points and breakout tags."""

import pytest

from ukeeper_readability_spark.htmldom import find_all, outer_html, parse
from ukeeper_readability_spark.htmldom.node import TEXT_NODE


def body_of(s: str) -> str:
    o = outer_html(parse(s))
    return o[o.index("<body>") + 6 : o.rindex("</body>")]


def test_self_closing_does_not_swallow_siblings():
    assert (
        body_of('<svg viewBox="0 0 24 24"><path d="M1 2"/><circle r="5"/></svg>after')
        == '<svg viewBox="0 0 24 24"><path d="M1 2"></path><circle r="5"></circle></svg>after'
    )


def test_camelcase_tags_and_attrs():
    out = body_of('<svg><linearGradient gradientUnits="u"/><text>t</text></svg>')
    assert "<linearGradient" in out and 'gradientUnits="u"' in out


def test_integration_point_returns_to_html():
    assert (
        body_of("<svg><foreignObject><div>html inside</div></foreignObject></svg>t")
        == "<svg><foreignObject><div>html inside</div></foreignObject></svg>t"
    )


def test_breakout_tag_exits_foreign_content():
    assert body_of("<svg><div>breakout</div>") == "<svg></svg><div>breakout</div>"


def test_math():
    assert body_of("<math><mi>x</mi><mo>+</mo></math>d") == "<math><mi>x</mi><mo>+</mo></math>d"


def _children(nd):
    c, out = nd.first_child, []
    while c is not None:
        out.append(c.data if c.type == TEXT_NODE else "<" + c.data + ">")
        c = c.next_sibling
    return out


@pytest.mark.parametrize("tag", ["style", "script", "xmp", "iframe", "noembed",
                                 "noframes", "noscript", "title", "textarea"])
@pytest.mark.parametrize("root", ["svg", "math"])
def test_raw_text_tags_in_foreign_content_hold_markup(root, tag):
    """Inserted as a foreign element, a raw-text or RCDATA tag's content is
    markup (x/net/html NextIsNotRawText after a foreign start tag)."""
    doc = parse(f"<div><{root}><{tag}>a<g></g>b</{tag}></{root}></div>")
    (el,) = find_all(doc, tag)
    assert _children(el) == ["a", "<g>", "b"]


def test_foreign_plaintext_ends_at_its_close_tag():
    assert body_of("<svg><plaintext>a<g/>b</plaintext></svg>after") == (
        "<svg><plaintext>a<g></g>b</plaintext></svg>after"
    )


@pytest.mark.parametrize("html", [
    "<svg><foreignObject><style>a<g/>b</style></foreignObject></svg>",
    "<svg><title><style>a<g/>b</style></title></svg>",
    "<svg><desc><style>a<g/>b</style></desc></svg>",
    "<math><mi><style>a<g/>b</style></mi></math>",
    "<style>a<g/>b</style>",
])
def test_raw_text_stays_raw_at_integration_points_and_in_html(html):
    (el,) = find_all(parse(html), "style")
    assert _children(el) == ["a<g/>b"]


def test_start_tag_scan_stays_context_free():
    """The image token scan (like the charset prescan) runs without a tree,
    so raw text is raw text wherever it stands; extraction sends documents
    with <svg>/<math> to the tree instead."""
    from ukeeper_readability_spark.engine.pics import img_start_tag_srcs

    assert img_start_tag_srcs("<svg><style><img src=a></style></svg><img src=b>") == ["b"]


def test_extraction_with_inline_svg_icons():
    from ukeeper_readability_spark.engine import extract_document

    html = (
        "<html><head><title>T</title></head><body><div class='content'>"
        "<p>article paragraph with an inline icon <svg viewBox='0 0 16 16'>"
        "<path d='M0 0h16v16z'/></svg> and plenty of surrounding words, commas, "
        "and sentences to make it score well.</p>"
        "<p>second paragraph keeps the article going with even more text.</p>"
        "</div></body></html>"
    )
    r = extract_document(html, "http://e.com/a")
    assert "article paragraph with an inline icon" in r["content"]
    assert "and plenty of surrounding words" in r["content"]
    assert "M0 0h16v16z" not in r["content"]  # path data never leaks into text
