"""Property-based robustness: the engine must never crash and must be
deterministic on arbitrary input — at 10^12 turns every weird byte sequence
WILL occur. (The reference gets this for free from Go's x/net/html; our
hand-rolled parser needs the fuzz.) Hostile documents — deep nesting, wide
siblings, attribute floods, entity-heavy and huge text — must also finish
within a fixed CPU bound, so that no single document can stall a task."""

import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ukeeper_readability_spark.engine import extract_document
from ukeeper_readability_spark.engine.extract import _custom_parser
from ukeeper_readability_spark.htmldom import find_all, inner_html, outer_html, parse

TAGS = ["div", "p", "a", "ul", "li", "table", "tr", "td", "br", "img", "script", "b", "title"]

html_soup = st.recursive(
    st.text(max_size=40),
    lambda children: st.builds(
        lambda tag, body, close: f"<{tag}>{body}" + (f"</{tag}>" if close else ""),
        st.sampled_from(TAGS),
        children,
        st.booleans(),
    ),
    max_leaves=8,
)


@settings(max_examples=150, deadline=None)
@given(html_soup)
def test_parse_never_crashes_and_is_deterministic(s):
    d1 = outer_html(parse(s))
    d2 = outer_html(parse(s))
    assert d1 == d2
    assert d1.startswith("<html>")


@settings(max_examples=60, deadline=None)
@given(html_soup, st.sampled_from(["", "http://e.com/a", "not a url", "//x", "ftp://h/p"]))
def test_extract_never_crashes(s, url):
    r1 = extract_document(s, url, snippet_size=50)
    r2 = extract_document(s, url, snippet_size=50)
    assert r1 == r2
    assert isinstance(r1["content"], str)
    assert r1["excerpt"].endswith(" ...")


@settings(max_examples=80, deadline=None)
@given(st.text(alphabet="<>&\"'=/ abpil\n\t", max_size=80))
def test_tag_soup_garbage(s):
    parse(s)
    extract_document(s, "http://e.com/")


@settings(max_examples=50, deadline=None)
@given(html_soup)
def test_reparse_of_render_is_stable(s):
    """render(parse(x)) must be a fixed point after one round trip — the
    sanitize stage re-parses its own serialization, so this property is
    load-bearing for idempotent extraction."""
    once = outer_html(parse(s))
    twice = outer_html(parse(once))
    assert parse_stable(once, twice)


def parse_stable(once, twice):
    return once == twice


# --- time-bounded hostile documents ---------------------------------------
# A quadratic step shows up here as seconds, and a recursion proportional to
# nesting depth as RecursionError (Python's default limit is 1000 frames).
# Times are this process's CPU seconds, so a busy host does not count.

HOSTILE_BOUND_S = 8.0  # per document; every case takes under 2.5 s on a 4-core box


def _cpu_seconds(fn):
    t0 = time.process_time()
    result = fn()
    return time.process_time() - t0, result


def test_deep_nesting_parses_in_linear_time():
    depth = 20_000
    seconds, doc = _cpu_seconds(lambda: parse("<div>" * depth + "x" + "</div>" * depth))
    assert seconds < 0.5, seconds
    assert len(find_all(doc, "div")) == depth


HOSTILE = {
    "deep-divs": "<div>" * 5000 + "deep, text." + "</div>" * 5000,
    "deep-spans-in-p": "<p>" + "<span>" * 5000 + "hello, world. " * 20 + "</span>" * 5000 + "</p>",
    "nested-lists": "<ul><li>" * 5000 + "deep, text." + "</li></ul>" * 5000,
    "wide-siblings": "<div>" + "<p>para, text.</p>" * 20_000 + "</div>",
    "attribute-flood": "<div " + " ".join(f"a{i}=v{i}" for i in range(10_000)) + ">text, here.</div>",
    "entity-heavy": "<p>" + "&amp;&lt;&#x41;&eacute;&nbsp;" * 40_000 + "</p>",
    "10mb-text-node": "<p>" + "word " * 2_000_000 + "</p>",
}


@pytest.mark.parametrize("name", sorted(HOSTILE))
def test_hostile_document_extracts_within_bound(name):
    seconds, r = _cpu_seconds(lambda: extract_document(HOSTILE[name], "http://e.com/"))
    assert seconds < HOSTILE_BOUND_S, (name, seconds)
    assert r["excerpt"].endswith(" ...")


def test_depth_5000_renders_and_extracts():
    """render() and every walk the engine makes are iterative: 5000 levels
    (five times Python's recursion limit) extract and round-trip."""
    depth = 5000
    html = "<div>" * depth + "x" + "</div>" * depth
    doc = parse(html)
    body = find_all(doc, "body")[0]
    assert inner_html(body) == html
    assert extract_document(html, "http://e.com/")["content"] == "x"
    spans = "<p>" + "<span>" * depth + "deep text" + "</span>" * depth + "</p>"
    assert extract_document(spans, "http://e.com/")["content"] == "deep text"


def test_has_selector_on_deep_tree_matches():
    """:has() walks the subtree without recursion, so a rule using it still
    matches on a deep document instead of failing over to the general
    parser."""
    depth = 1500
    html = "<div>" + "<span>" * depth + "<p>deep</p>" + "</span>" * depth + "</div>"
    content, _ = _custom_parser(parse(html), "div:has(p)")
    assert content == "deep"
    r = extract_document(html, "http://e.com/", rule_selector="div:has(p)")
    assert r["metrics"]["rule_hit"] == 1
