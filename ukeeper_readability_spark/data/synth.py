"""Deterministic synthetic transcripts over the driver's parquet tables.

Two sources:
1. SQL wrappers that turn `documents.parquet` rows into the transcripts shape
   (BASELINE.json:input_hint) with the HTML payload built by a SQL expression.
   The SAME SQL strings run in Spark and in the DuckDB oracle, which makes the
   full extraction output value-hash-checkable: for these constructions the
   expected extraction result is itself SQL-expressible (title, content == text,
   rich_content shape, excerpt formula — see oracle_* builders).
2. Fixture-based transcripts embedding the reference's golden article HTML
   (reference extractor/testdata/) with deterministic per-row perturbation and
   conversation-length skew — used by pytest and bench.py.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

FIXTURES_DIR = os.path.join(os.path.dirname(__file__), "fixtures")
FIXTURE_NAMES = (
    "vsiem-mirom-dlia-obshchiei-polzy",
    "podcast-369",
    "poiezdka-s-apple-maps",
)
# the page URL each fixture was fetched from
FIXTURE_URLS = {
    "vsiem-mirom-dlia-obshchiei-polzy": "http://umputun.com/2015/11/26/vsiem-mirom-dlia-obshchiei-polzy/",
    "podcast-369": "https://podcast.umputun.com/p/2015/11/22/podcast-369/",
    "poiezdka-s-apple-maps": "http://umputun.com/2015/09/25/poiezdka-s-apple-maps/",
}

# guards making the expected extraction output exactly == documents.text:
# no sentences/commas (reDot / comma scoring), no HTML-special chars (escaping),
# no runs of whitespace (reSpaces), long enough to dodge the retry loop.
CLEAN_TEXT_GUARD = (
    "instr(text, '.') = 0 AND instr(text, ',') = 0 AND instr(text, '&') = 0 "
    "AND instr(text, '<') = 0 AND instr(text, '>') = 0 AND instr(text, '''') = 0 "
    "AND instr(text, '\"') = 0 AND instr(text, '  ') = 0 AND instr(text, chr(9)) = 0 "
    "AND instr(text, chr(10)) = 0 AND n_chars >= 300"
)

# transcripts-shape projection of documents (identical in Spark SQL and DuckDB)
CONV_ID_SQL = "'conv-' || (doc_id % 50)"
TURN_IDX_SQL = "CAST(floor(doc_id / 50.0) AS INT)"
URL_SQL = "'http://' || source || '.example.com/docs/' || doc_id"

# payload variants
PLAIN_WRAP_SQL = (
    "'<html><head><title>Doc ' || doc_id || '</title></head>"
    "<body><div class=\"content\"><p>' || text || '</p></div></body></html>'"
)

# boilerplate variant: header/sidebar/footer divs that removeUnlikelyCandidates
# must strip (class regexes at vendor/.../go-readability/readability.go:22-24)
BOILERPLATE_WRAP_SQL = (
    "'<html><head><title>Doc ' || doc_id || '</title><meta charset=\"utf-8\"></head><body>"
    "<div class=\"header-menu\"><ul><li><a href=\"/home\">Home</a></li>"
    "<li><a href=\"/about\">About</a></li></ul></div>"
    "<div id=\"content\" class=\"content\"><p>' || text || '</p></div>"
    "<div class=\"sidebar\"><p>subscribe to our newsletter for more updates and offers "
    "every week</p></div>"
    "<div class=\"footer\">copyright 2026 example inc</div>"
    "</body></html>'"
)

# ---------------------------------------------------------------------------
# sibling-merge corpus: three paragraphs — two inside div.content, one as a
# BODY-LEVEL SIBLING long enough (fixed suffix) to pass getArticle's p rule
# (len ≥ 80 ∧ linkDensity < .25, go-readability readability.go:195-205), so the
# expected rich output exercises the siblings-first-best-last emission order.
# The word-slicing expressions differ by dialect (Spark slice(start, LENGTH) vs
# DuckDB list_slice(start, END)); outputs are compared value-for-value by the
# oracle gate, which catches any divergence.
# ---------------------------------------------------------------------------

SIBLING_SUFFIX = (
    " and here is a deterministic long trailing sentence to pass the length gate."
)

_SIB_SPARK = {
    "p1": "array_join(slice(split(trim(text), ' +'), 1, 20), ' ')",
    "p2": "array_join(slice(split(trim(text), ' +'), 21, 10), ' ')",
    "p3": "array_join(slice(split(trim(text), ' +'), 31, 15), ' ')",
    "ntok": "size(split(trim(text), ' +'))",
}
_SIB_DUCK = {
    "p1": "array_to_string(list_slice(string_split_regex(trim(text), ' +'), 1, 20), ' ')",
    "p2": "array_to_string(list_slice(string_split_regex(trim(text), ' +'), 21, 30), ' ')",
    "p3": "array_to_string(list_slice(string_split_regex(trim(text), ' +'), 31, 45), ' ')",
    "ntok": "len(string_split_regex(trim(text), ' +'))",
}


def sibling_wrap_sql(dialect: str) -> str:
    d = _SIB_SPARK if dialect == "spark" else _SIB_DUCK
    return (
        "'<html><head><title>Doc ' || doc_id || '</title></head><body>"
        "<div class=\"content\"><p>' || {p1} || '</p><p>' || {p2} || '</p></div>"
        "<p>' || {p3} || '{suffix}</p>"
        "</body></html>'"
    ).format(p1=d["p1"], p2=d["p2"], p3=d["p3"], suffix=SIBLING_SUFFIX)


def sibling_parts_sql(dialect: str):
    d = _SIB_SPARK if dialect == "spark" else _SIB_DUCK
    return d


def sibling_transcripts_sql(documents_rel: str, dialect: str) -> str:
    d = _SIB_SPARK if dialect == "spark" else _SIB_DUCK
    return f"""
        SELECT {CONV_ID_SQL} AS conv_id,
               {TURN_IDX_SQL} AS turn_idx,
               'tool' AS role,
               {sibling_wrap_sql(dialect)} AS text,
               {URL_SQL} AS tool,
               doc_id
        FROM {documents_rel}
        WHERE {CLEAN_TEXT_GUARD} AND {d["ntok"]} >= 45
    """


# link/image variant: two anchors (relative + absolute) and one relative img —
# exercises normalizeLinks rewriting (P9) and deterministic image selection
# (P11) with oracle-predictable outputs
LINKS_WRAP_SQL = (
    "'<html><head><title>Doc ' || doc_id || '</title></head>"
    "<body><div class=\"content\"><p>' || text || "
    "' <a href=\"/r/' || doc_id || '\">more</a> and "
    "<a href=\"http://abs.example.com/x\">abs</a> "
    "<img src=\"/img/' || doc_id || '.png\"> end</p></div></body></html>'"
)

# byte-transcode variant: a Cyrillic payload (deterministic a-z→а-щ translate,
# 26↔26 chars, valid in both engines) with a <meta charset="windows-1251">
# that the HTML5 prescan must find — the reported charset comes from the HTTP
# header stand-in, the DECODE encoding from the prescan (extractor/text.go:90-95
# passing the bare label where mime.ParseMediaType finds no charset= param).
# The Spark query encodes this HTML to cp1251 BYTES and runs the binary path;
# the oracle regenerates the expected decoded text from the same translate.
CYR_FROM = "abcdefghijklmnopqrstuvwxyz"
CYR_TO = "абвгдежзийклмнопрстуфхцчшщ"


def cyr_sql(col: str) -> str:
    return f"translate({col}, '{CYR_FROM}', '{CYR_TO}')"


CHARSET_1251_WRAP_SQL = (
    "'<html><head><title>Док ' || doc_id || '</title>"
    "<meta charset=\"windows-1251\"></head>"
    "<body><div class=\"content\"><p>' || " + cyr_sql("text")
    + " || '</p></div></body></html>'"
)

# CJK byte-transcode variants (Shift_JIS / GBK): same shape, payload mapped
# a-z → 26 katakana / 26 hanzi. Every target char sits in a table cell where
# the vendored WHATWG index and the Python encode codec (cp932 / gbk, used
# only by the test harness to MATERIALIZE the bytes) agree, so
# encode(py) → decode(go tables) round-trips — asserted by
# tests/test_mbcodec.py::test_harness_payload_roundtrip.
SJIS_FROM = "abcdefghijklmnopqrstuvwxyz"
SJIS_TO = "アイウエオカキクケコサシスセソタチツテトナニヌネノハ"
GBK_FROM = "abcdefghijklmnopqrstuvwxyz"
GBK_TO = "一二三四五六七八九十百千万上下左右中大小人口日月水火"


def sjis_sql(col: str) -> str:
    return f"translate({col}, '{SJIS_FROM}', '{SJIS_TO}')"


def gbk_sql(col: str) -> str:
    return f"translate({col}, '{GBK_FROM}', '{GBK_TO}')"


CHARSET_SJIS_WRAP_SQL = (
    "'<html><head><title>ドク ' || doc_id || '</title>"
    "<meta charset=\"shift_jis\"></head>"
    "<body><div class=\"content\"><p>' || " + sjis_sql("text")
    + " || '</p></div></body></html>'"
)

CHARSET_GBK_WRAP_SQL = (
    "'<html><head><title>文档 ' || doc_id || '</title>"
    "<meta charset=\"gbk\"></head>"
    "<body><div class=\"content\"><p>' || " + gbk_sql("text")
    + " || '</p></div></body></html>'"
)

# remaining CJK families: hangul (euc-kr), traditional hanzi (big5 common
# zone — none of the 203 HKSCS-divergent cells), and the same katakana via
# the stateful ISO-2022-JP escape encoding
EUCKR_FROM = "abcdefghijklmnopqrstuvwxyz"
EUCKR_TO = "가나다라마바사아자차카타파하거너더러머버서어저처커터"
BIG5_FROM = "abcdefghijklmnopqrstuvwxyz"
BIG5_TO = "一二三四五六七八九十百千萬上下左右中大小人口日月水火"


def euckr_sql(col: str) -> str:
    return f"translate({col}, '{EUCKR_FROM}', '{EUCKR_TO}')"


def big5_sql(col: str) -> str:
    return f"translate({col}, '{BIG5_FROM}', '{BIG5_TO}')"


CHARSET_EUCKR_WRAP_SQL = (
    "'<html><head><title>문서 ' || doc_id || '</title>"
    "<meta charset=\"euc-kr\"></head>"
    "<body><div class=\"content\"><p>' || " + euckr_sql("text")
    + " || '</p></div></body></html>'"
)

CHARSET_BIG5_WRAP_SQL = (
    "'<html><head><title>檔案 ' || doc_id || '</title>"
    "<meta charset=\"big5\"></head>"
    "<body><div class=\"content\"><p>' || " + big5_sql("text")
    + " || '</p></div></body></html>'"
)

CHARSET_ISO2022_WRAP_SQL = (
    "'<html><head><title>ドク ' || doc_id || '</title>"
    "<meta charset=\"iso-2022-jp\"></head>"
    "<body><div class=\"content\"><p>' || " + sjis_sql("text")
    + " || '</p></div></body></html>'"
)

# charset-report variant: declared windows-1251 via http-equiv meta — the P1
# path (extractor/text.go:83-88); the text is already decoded so only the
# REPORTED charset changes, matching the reference's windows-1251 fixture setup
CHARSET_WRAP_SQL = (
    "'<html><head><title>Doc ' || doc_id || '</title>"
    "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=windows-1251\">"
    "</head><body><div class=\"content\"><p>' || text || '</p></div></body></html>'"
)

# expected excerpt for content == text at the default snippet size
# (getSnippet semantics, extractor/text.go:43-55: first ≤300 runes, backtrack to
# last space — it always drops the final partial word — then append " ...")
def excerpt_sql(content_sql: str, snippet_size: int = 300) -> str:
    s2 = f"substr({content_sql}, 1, {snippet_size})"
    return (
        f"CASE WHEN instr({s2}, ' ') > 0 "
        f"THEN regexp_replace({s2}, ' [^ ]*$', '') ELSE {s2} END || ' ...'"
    )


def transcripts_from_documents_sql(documents_rel: str, wrap_sql: str) -> str:
    """SELECT producing transcripts(conv_id, turn_idx, role, text, tool) rows."""
    return f"""
        SELECT {CONV_ID_SQL} AS conv_id,
               {TURN_IDX_SQL} AS turn_idx,
               'tool' AS role,
               {wrap_sql} AS text,
               {URL_SQL} AS tool,
               doc_id
        FROM {documents_rel}
        WHERE {CLEAN_TEXT_GUARD}
    """


# rules dimension derived deterministically from `nation` (driver view in both
# engines): even-keyed nations get an enabled '#content p' rule whose domain
# matches half of the document hosts; odd-keyed get a disabled rule (must be
# ignored, datastore/rules.go:43)
RULES_FROM_NATION_SQL = """
    SELECT 'rule-' || n_nationkey AS id,
           'src' || n_nationkey || '.example.com' AS domain,
           '.content p' AS content,
           (n_nationkey % 2 = 0) AS enabled,
           (n_nationkey % 5 = 0) AS use_cloudflare
    FROM nation
"""


def load_fixture(name: str) -> str:
    with open(os.path.join(FIXTURES_DIR, name + ".html"), encoding="utf-8") as fh:
        return fh.read()


def fixture_transcript_rows(n_turns: int = 60, skew_conv_every: int = 0):
    """Deterministic rows embedding the golden fixtures.

    Row i gets fixture i%3 with a deterministic marker comment appended (stripped
    by the comment regex, so goldens still hold per turn). When skew_conv_every>0
    every k-th conversation gets all its rows funneled into one conv_id to
    exercise salting.
    """
    fixtures = [(n, load_fixture(n), FIXTURE_URLS[n]) for n in FIXTURE_NAMES]
    base_ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = []
    for i in range(n_turns):
        name, html, url = fixtures[i % 3]
        conv = i // 6
        if skew_conv_every and conv % skew_conv_every == 0:
            conv = 0  # funnel into one huge conversation
        marker = f"<!-- synthetic-marker {i} -->"
        rows.append(
            (
                f"conv-{conv:05d}",
                i % 6 if not skew_conv_every else i,
                "tool",
                html + marker,
                url,
                base_ts,
            )
        )
    return rows


def fixture_transcripts_df(spark, n_turns: int = 60, skew_conv_every: int = 0):
    from ..jobs.schemas import TRANSCRIPTS_SCHEMA

    return spark.createDataFrame(
        fixture_transcript_rows(n_turns, skew_conv_every), TRANSCRIPTS_SCHEMA
    )


def fixture_transcripts_distributed(
    spark, n_turns: int, partitions: int = None, skew_half: bool = False
):
    """Executor-side corpus generation for bench/scaling runs: only 3 fixture
    rows leave the driver (broadcast); the n_turns expansion happens on the
    cluster (spark.range → broadcast join → concat). Payload per row is the
    fixture HTML plus a unique marker comment (stripped by the parser's comment
    regex, so per-turn goldens still hold).

    skew_half=True funnels every even row into ONE conversation (conv-00000
    holds 50% of all turns) — the deliberately hostile layout for conv_id-hash
    partitioning that the salt knob exists for."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(i, load_fixture(n), FIXTURE_URLS[n]) for i, n in enumerate(FIXTURE_NAMES)],
        "fid int, html string, url string",
    )
    rng = spark.range(0, n_turns, 1, partitions or spark.sparkContext.defaultParallelism)
    conv = F.format_string("conv-%05d", (F.col("id") / 6).cast("int"))
    if skew_half:
        conv = F.when(F.col("id") % 2 == 0, F.lit("conv-00000")).otherwise(conv)
    t = rng.select(
        (F.col("id") % 3).cast("int").alias("fid"),
        conv.alias("conv_id"),
        (F.col("id") % 6).cast("int").alias("turn_idx"),
        F.col("id").alias("i"),
    )
    return t.join(F.broadcast(base), "fid").select(
        "conv_id",
        "turn_idx",
        F.lit("tool").alias("role"),
        F.concat(
            F.col("html"), F.format_string("<!-- synthetic-marker %d -->", F.col("i"))
        ).alias("text"),
        F.col("url").alias("tool"),
        F.lit("2026-01-01").cast("timestamp").alias("ts"),
    )
