"""Golden end-to-end extraction tests.

Expectations pinned by the reference's own tests:
  extractor/readability_test.go:58-73   (vsiem: title, content len 9665)
  extractor/readability_test.go:142-160 (excerpts, lead image, 13 links)
  extractor/readability_test.go:346-377 (rule `#content p, .post-title`: 6988/7169)
  extractor/readability_test.go:204-219 (rule path + fallback)
  extractor/readability_test.go:229-258 (inline custom-retriever doc)
All lengths are UTF-8 BYTE lengths (Go len semantics).
"""

import os

import pytest

from ukeeper_readability_spark.engine import extract_document, get_content

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def load(name: str) -> str:
    with open(os.path.join(FIXTURES, name + ".html"), encoding="utf-8") as fh:
        return fh.read()


BASE = "http://127.0.0.1:8080"


def test_vsiem_mirom_general():
    r = extract_document(
        load("vsiem-mirom-dlia-obshchiei-polzy"),
        BASE + "/2015/11/26/vsiem-mirom-dlia-obshchiei-polzy/",
        snippet_size=200,
    )
    assert r["title"] == "Всем миром для общей пользы • Umputun тут был"
    assert len(r["content"].encode("utf-8")) == 9665
    assert r["excerpt"] == (
        "Не первый раз я практикую идею “а давайте, ребята, сделаем для общего блага …”, "
        "и вот опять. В нашем подкасте радио-т есть незаменимый инструмент, позволяющий "
        "собирать новости, готовить их к выпуску, ..."
    )
    assert r["domain"] == "127.0.0.1:8080"
    assert r["type"] == "text/html"
    assert r["charset"] == "utf-8"


def test_podcast_369_general():
    r = extract_document(
        load("podcast-369"), BASE + "/p/2015/11/22/podcast-369/", snippet_size=200
    )
    assert r["title"] == "UWP - Выпуск 369"
    assert r["excerpt"] == (
        "2015-11-22 Нагло ходил в гости. Табличка на двери сработала на 50%Никогда нас "
        "школа не хвалила. Девочка осваивает новый прибор. Мое неприятие их логики. "
        "И разошлись по будкам …Отбиваюсь от опасных ..."
    )
    assert r["lead_image_url"] == "https://podcast.umputun.com/images/uwp/uwp369.jpg"
    assert len(r["links"]) == 13
    assert "https://podcast.umputun.com/media/ump_podcast369.mp3" in r["links"]
    assert "https://podcast.umputun.com/images/uwp/uwp369.jpg" in r["links"]
    assert r["images"] == sorted(r["images"])


def test_apple_maps_custom_rule_lengths():
    # The reference golden (readability_test.go:375-376). NB: the fixture has no
    # #content id nor .post-title class, so the reference's own test exercises
    # the fallback-to-general path — these lengths are GENERAL parser output.
    content, rich, meta = get_content(load("poiezdka-s-apple-maps"), "#content p, .post-title")
    assert len(content.encode("utf-8")) == 6988
    assert len(rich.encode("utf-8")) == 7169
    assert meta["rule_hit"] == 0 and meta["general_parse"] == 1


def test_apple_maps_rule_actually_matches():
    # ".content p" (readability_test.go:205) does match (class="content container")
    content, rich, meta = get_content(load("poiezdka-s-apple-maps"), ".content p")
    assert meta["rule_hit"] == 1 and meta["general_parse"] == 0
    assert content and rich
    # rule path emits concatenated inner HTML of each matched <p>, not the
    # general parser's <div>-wrapped article
    assert not rich.startswith("<div>")


def test_apple_maps_rule_path_end_to_end():
    r = extract_document(
        load("poiezdka-s-apple-maps"),
        BASE + "/2015/09/25/poiezdka-s-apple-maps/",
        rule_selector=".content p",
        snippet_size=200,
    )
    assert r["content"]
    assert r["rich_content"]
    assert r["title"]
    assert "/2015/09/25/poiezdka-s-apple-maps/" in r["url"]


# a page the R1 preprocessing regexes leave unchanged (no comments, no <br>
# runs, no <font>): on a rule miss the general parser reuses the rule's parse
CLEAN_PAGE = (
    "<html><head><title>Clean Page</title></head><body>"
    '<div class="content"><p>' + "Plain words about a clean page, again. " * 12
    + '<a href="/more">more</a></p></div><div class="footer">footer</div>'
    "</body></html>"
)


def test_rule_selector_miss_falls_back_to_general():
    # readability_test.go:214-219: rule matching nothing → general parser output.
    # The clean page takes the parse-reuse branch. The commented one must not:
    # R1's comment regex strips from the "<!--" inside the title attribute to
    # the "-->" in the text, link included, which the rule's parse keeps.
    commented = CLEAN_PAGE.replace(
        '<a href="/more">', '<a title="<!--" href="/more">'
    ).replace('<div class="footer">', '<p>Closing words. --></p><div class="footer">')
    pages = [
        (load("poiezdka-s-apple-maps"), BASE + "/2015/09/25/poiezdka-s-apple-maps/"),
        (CLEAN_PAGE, "http://example.com/clean"),
        (commented, "http://example.com/clean"),
    ]
    for page, url in pages:
        with_rule = extract_document(
            page, url, rule_selector=".does-not-exist-anywhere p", snippet_size=200
        )
        general = extract_document(page, url, snippet_size=200)
        for k in ("content", "rich_content", "title", "links"):
            assert with_rule[k] == general[k], k
        assert with_rule["content"] and with_rule["title"]
        assert with_rule["metrics"]["rule_hit"] == 0
        assert with_rule["metrics"]["general_parse"] == 1


def test_title_inside_body_is_found():
    # extractor/readability.go:140 reads the first <title> anywhere; the
    # head-only parse cannot see one inside <body>, so extraction re-parses
    body = "<p>" + "Words of a page whose title sits in its body. " * 8 + "</p>"
    for page in (
        "<html><head></head><body><title>Body Title</title>" + body + "</body></html>",
        "<html><head></head><body><!-- c --><title>Body Title</title>" + body + "</body></html>",
    ):
        for rule in (None, "#nomatch"):
            r = extract_document(page, "http://example.com/t", rule_selector=rule)
            assert r["title"] == "Body Title", (page, rule)


def test_inline_article():
    html = (
        "<html><head><title>Test Page</title></head>\n"
        "<body><article><p>This is the article content from a custom retriever.</p>"
        "</article></body></html>"
    )
    r = extract_document(html, "https://example.com/test-page", snippet_size=200)
    assert r["title"] == "Test Page"
    assert r["domain"] == "example.com"
    assert "article content from a custom retriever" in r["content"]


def test_empty_and_degenerate_bodies():
    for text in ["", "<body/>", "plain text no tags", "<html></html>"]:
        r = extract_document(text, "http://example.com/x", snippet_size=200)
        assert isinstance(r["content"], str)
        assert r["type"] == "text/html"


def test_rerun_determinism():
    s = load("podcast-369")
    a = extract_document(s, BASE + "/p/x/", snippet_size=200)
    b = extract_document(s, BASE + "/p/x/", snippet_size=200)
    assert a == b
