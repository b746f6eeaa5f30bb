"""Driver contract for the spark-graft builder (PySpark target).

entry()    — flagship: boilerplate-stripping extraction over sf0.001 documents.
queries()  — one entry per implemented operator family (SURVEY.md §2).
oracle_sql() — DuckDB-equivalent SQL. For the extraction queries the synthetic
transcripts are built from `documents` by SQL expressions shared verbatim with
the oracle (ukeeper_readability_spark/data/synth.py), so the *expected* output
of the full extraction pipeline is itself SQL-expressible and value-hash
checked — not just rows-only.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ukeeper_readability_spark.data.synth import (
    BOILERPLATE_WRAP_SQL,
    CLEAN_TEXT_GUARD,
    CONV_ID_SQL,
    PLAIN_WRAP_SQL,
    RULES_FROM_NATION_SQL,
    TURN_IDX_SQL,
    excerpt_sql,
    transcripts_from_documents_sql,
)
from ukeeper_readability_spark.jobs.extract_job import (
    join_rules,
    run_extraction,
    with_host,
)

SNIPPET = 300


def _register(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _transcripts(spark: SparkSession, sf_dir: str, wrap_sql: str) -> DataFrame:
    _register(spark, sf_dir, "documents")
    return spark.sql(transcripts_from_documents_sql("documents", wrap_sql))


_EXTRACT_OUT = [
    "conv_id",
    "turn_idx",
    "title",
    "content",
    "rich_content",
    "domain",
    "url",
    "excerpt",
    "lead_image_url",
    "type",
    "charset",
]


def _q_extract(wrap_sql: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        trans = _transcripts(spark, sf_dir, wrap_sql)
        joined = join_rules(trans, None)
        out = run_extraction(joined, snippet_size=SNIPPET)
        return out.select(*_EXTRACT_OUT)

    return q


def _oracle_extract(wrap_sql: str, rich_sql: str) -> str:
    return f"""
        WITH t AS ({transcripts_from_documents_sql('documents', wrap_sql)})
        SELECT conv_id, turn_idx,
               'Doc ' || doc_id AS title,
               d.text AS content,
               {rich_sql} AS rich_content,
               'src' || substr(d.source, 4) || '.example.com' AS domain,
               t.tool AS url,
               {excerpt_sql('d.text', SNIPPET)} AS excerpt,
               '' AS lead_image_url,
               'text/html' AS type,
               'utf-8' AS charset
        FROM t JOIN documents d USING (doc_id)
    """


_GENERAL_RICH_SQL = "'<div><div><p>' || d.text || '</p></div></div>'"


def _q_extract_rule_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "documents", "nation")
    trans = _transcripts(spark, sf_dir, PLAIN_WRAP_SQL)
    rules = spark.sql(RULES_FROM_NATION_SQL)
    joined = join_rules(trans, rules)
    out = run_extraction(joined, snippet_size=SNIPPET)
    return out.select(
        "conv_id", "turn_idx", "content", "rich_content", "routed_cloudflare"
    )


_ORACLE_RULE_JOIN = f"""
    WITH t AS ({transcripts_from_documents_sql('documents', PLAIN_WRAP_SQL)}),
    r AS ({RULES_FROM_NATION_SQL}),
    m AS (
        SELECT t.conv_id, t.turn_idx, d.text,
               (r.enabled IS NOT NULL AND r.enabled) AS has_rule,
               COALESCE(r.enabled AND r.use_cloudflare, FALSE) AS routed_cloudflare
        FROM t
        JOIN documents d USING (doc_id)
        LEFT JOIN r ON r.domain = 'src' || substr(d.source, 4) || '.example.com'
                   AND r.enabled
    )
    SELECT conv_id, turn_idx,
           text AS content,
           CASE WHEN has_rule THEN text
                ELSE '<div><div><p>' || text || '</p></div></div>' END AS rich_content,
           routed_cloudflare
    FROM m
"""


def _q_host_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    trans = _transcripts(spark, sf_dir, PLAIN_WRAP_SQL)
    return with_host(trans).select("conv_id", "turn_idx", "host")


_ORACLE_HOST_PARSE = f"""
    WITH t AS ({transcripts_from_documents_sql('documents', PLAIN_WRAP_SQL)})
    SELECT t.conv_id, t.turn_idx,
           'src' || substr(d.source, 4) || '.example.com' AS host
    FROM t JOIN documents d USING (doc_id)
"""


def _q_metrics_by_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    trans = _transcripts(spark, sf_dir, PLAIN_WRAP_SQL)
    joined = join_rules(trans, None)
    out = run_extraction(joined, snippet_size=SNIPPET)
    return out.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("m_nodes_scored").alias("nodes_scored"),
        F.sum("m_bytes_stripped").alias("bytes_stripped"),
        F.sum("m_rule_hit").alias("rule_hits"),
        F.sum("m_general_parse").alias("general_parses"),
        F.sum("m_retries_relaxed").alias("retries_relaxed"),
    )


_ORACLE_METRICS_BY_CONV = f"""
    WITH t AS ({transcripts_from_documents_sql('documents', PLAIN_WRAP_SQL)})
    SELECT t.conv_id,
           count(*) AS n_rows,
           2 * count(*) AS nodes_scored,
           CAST(sum(strlen(t.text) - strlen(d.text)) AS BIGINT) AS bytes_stripped,
           CAST(0 AS BIGINT) AS rule_hits,
           count(*) AS general_parses,
           CAST(0 AS BIGINT) AS retries_relaxed
    FROM t JOIN documents d USING (doc_id)
    GROUP BY t.conv_id
"""


def _q_rules_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enabled-rule first-match dedupe (datastore/rules.go:43,54) over a rules
    table with duplicate domains (two generations of rules per nation)."""
    from ukeeper_readability_spark.jobs.extract_job import enabled_rules_first_match

    _register(spark, sf_dir, "nation")
    rules = spark.sql(_DUP_RULES_SQL)
    return enabled_rules_first_match(rules).select(
        "host", "rule_content", "rule_use_cloudflare"
    )


_DUP_RULES_SQL = """
    SELECT 'a-' || n_nationkey AS id,
           'src' || n_nationkey || '.example.com' AS domain,
           '#content p' AS content,
           (n_nationkey % 2 = 0) AS enabled,
           FALSE AS use_cloudflare
    FROM nation
    UNION ALL
    SELECT 'b-' || n_nationkey AS id,
           'src' || n_nationkey || '.example.com' AS domain,
           '.post-title' AS content,
           TRUE AS enabled,
           TRUE AS use_cloudflare
    FROM nation
"""

_ORACLE_RULES_FIRST_MATCH = f"""
    WITH rules AS ({_DUP_RULES_SQL}),
    ranked AS (
        SELECT domain AS host, content AS rule_content,
               use_cloudflare AS rule_use_cloudflare,
               row_number() OVER (PARTITION BY domain ORDER BY id ASC) AS rn
        FROM rules WHERE enabled
    )
    SELECT host, rule_content, rule_use_cloudflare FROM ranked WHERE rn = 1
"""


def _q_rules_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-by-domain upsert preserving existing ids (datastore/rules.go:67-87)."""
    from ukeeper_readability_spark.jobs.rules_store import save_rules

    _register(spark, sf_dir, "nation", "region")
    rules = spark.sql(_BASE_RULES_SQL)
    updates = spark.sql(_UPDATE_RULES_SQL)
    return save_rules(rules, updates).select(
        "id", "domain", "content", "enabled", "use_cloudflare"
    )


_BASE_RULES_SQL = """
    SELECT 'rule-' || n_nationkey AS id,
           'site' || n_nationkey || '.example.com' AS domain,
           '.content p' AS content,
           TRUE AS enabled,
           FALSE AS use_cloudflare
    FROM nation
"""

_UPDATE_RULES_SQL = """
    SELECT 'new-' || r_regionkey AS id,
           'site' || (r_regionkey * 7) || '.example.com' AS domain,
           '#main article' AS content,
           TRUE AS enabled,
           TRUE AS use_cloudflare
    FROM region
"""

_ORACLE_RULES_UPSERT = f"""
    WITH rules AS ({_BASE_RULES_SQL}),
    updates AS ({_UPDATE_RULES_SQL}),
    kept AS (
        SELECT r.* FROM rules r
        WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.domain = r.domain)
    ),
    upserted AS (
        SELECT COALESCE(r.id, u.id) AS id, u.domain, u.content, u.enabled,
               u.use_cloudflare
        FROM updates u LEFT JOIN rules r ON r.domain = u.domain
    )
    SELECT * FROM kept UNION ALL SELECT * FROM upserted
"""


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup / similarity / text analysis /
# multimodal) over the documents & embeddings tables
# ---------------------------------------------------------------------------

from ukeeper_readability_spark.pipeline import (  # noqa: E402
    cosine_topk_bruteforce,
    cosine_topk_bucketed,
    exact_duplicates,
    fingerprint,
    language_id,
    media_features,
    minhash_lsh_pairs,
    ngram_jaccard,
    quality_score,
    simhash,
    synthesize_media,
    token_counts,
)
from ukeeper_readability_spark.pipeline import oracles as _po  # noqa: E402
from ukeeper_readability_spark.pipeline.text_analysis import STOPWORDS, TRIGRAMS  # noqa: E402


def _docs(spark, sf_dir):
    _register(spark, sf_dir, "documents")
    return spark.table("documents")


def _dup_corpus(spark, sf_dir):
    _register(spark, sf_dir, "documents")
    return spark.sql(_po.DUP_CORPUS_SQL)


def _q_dedup_exact(spark, sf_dir):
    return exact_duplicates(_dup_corpus(spark, sf_dir))


def _q_minhash_pairs(spark, sf_dir):
    return minhash_lsh_pairs(
        _dup_corpus(spark, sf_dir), shingle_n=3, k=8, bands=4, portable=True
    )


def _q_jaccard(spark, sf_dir):
    corpus = _dup_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, shingle_n=3, k=8, bands=4, portable=True)
    return ngram_jaccard(corpus, pairs, shingle_n=3)


def _q_dedup_canonical(spark, sf_dir):
    """The full production dedup chain in one query: minhash-LSH candidates
    → exact-jaccard verification (threshold 0.5) → connected components →
    a canonical id for EVERY corpus doc (docs in no verified pair are their
    own canonical). This is the end-to-end composition a training-data
    pipeline actually ships; each stage is also gated separately."""
    from ukeeper_readability_spark.pipeline.dedup import dedup_components

    corpus = _dup_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, shingle_n=3, k=8, bands=4, portable=True)
    verified = (
        ngram_jaccard(corpus, pairs, shingle_n=3)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    comp = dedup_components(verified)
    return (
        corpus.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("canonical_id"),
        )
    )


def _q_dedup_components(spark, sf_dir):
    """Connected components over the LSH candidate graph — the step that
    turns candidate PAIRS into dedup CLUSTERS with a canonical (min-id)
    representative; pipeline/dedup.py dedup_components (min-label
    propagation, localCheckpoint per round). Oracle: DuckDB recursive CTE
    reachability (pipeline/oracles.py dedup_components_sql)."""
    from ukeeper_readability_spark.pipeline.dedup import dedup_components

    corpus = _dup_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, shingle_n=3, k=8, bands=4, portable=True)
    return dedup_components(pairs)


def _q_simhash(spark, sf_dir):
    return simhash(_docs(spark, sf_dir), bits=16, portable=True)


def _q_token_counts(spark, sf_dir):
    return token_counts(_docs(spark, sf_dir))


def _q_language_id(spark, sf_dir):
    return language_id(_docs(spark, sf_dir))


def _q_quality(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir), shingle_n=5)


def _q_ann_brute(spark, sf_dir):
    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return cosine_topk_bruteforce(emb, queries, k=5)


def _q_ann_ivf(spark, sf_dir):
    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return cosine_topk_bucketed(emb, queries, k=5)


def _q_ann_ivf_lsh(spark, sf_dir):
    """IVF with the IN-ENGINE random-hyperplane quantizer (round-2: the index
    BUILD half): buckets are computed from md5-seeded planes, not assumed from
    a label column; exact top-k within the query's computed bucket. The oracle
    recomputes planes + buckets + ranking bit-for-bit in DuckDB."""
    from ukeeper_readability_spark.pipeline import cosine_topk_ivf_lsh

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_ivf_lsh(
        emb, queries, k=5, n_planes=4, dim=64, n_probes=1
    )


def _q_ann_ivf_kmeans(spark, sf_dir):
    """k-means-IVF top-k with a FULL value-hash oracle (VERDICT r2 item 2:
    previously rows-only). The fit is made SQL-replicable by 6dp-rounding the
    centroid updates and assignment distances (similarity.kmeans_fit); queries
    multi-probe their 2 nearest cells (VERDICT r2 item 4). Recall quality is
    asserted separately in pytest on a clustered corpus (tests/test_ivf.py) —
    the driver corpus is isotropic noise, so recall here would measure the
    data, not the engine."""
    from ukeeper_readability_spark.pipeline import (
        cosine_topk_ivf_kmeans,
        kmeans_fit,
    )

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = kmeans_fit(emb, n_clusters=8, iters=3)
    return cosine_topk_ivf_kmeans(emb, queries, cents, k=5, n_probes=2)


def _q_sibling_merge(spark, sf_dir):
    """Sibling-merge path (go-readability getArticle R9): a qualifying body-
    level <p> must be emitted BEFORE the best-candidate div."""
    from ukeeper_readability_spark.data.synth import sibling_transcripts_sql

    _register(spark, sf_dir, "documents")
    trans = spark.sql(sibling_transcripts_sql("documents", "spark"))
    joined = join_rules(trans, None)
    out = run_extraction(joined, snippet_size=SNIPPET)
    return out.select("conv_id", "turn_idx", "title", "content", "rich_content", "excerpt")


def _oracle_sibling_merge() -> str:
    from ukeeper_readability_spark.data.synth import (
        SIBLING_SUFFIX,
        sibling_parts_sql,
        sibling_transcripts_sql,
    )

    d = sibling_parts_sql("duck")
    # expected plain text: sibling paragraph first, then the two content
    # paragraphs, newline-joined by sanitize then collapsed to single spaces
    content = (
        f"{d['p3']} || '{SIBLING_SUFFIX}' || ' ' || {d['p1']} || ' ' || {d['p2']}"
    )
    rich = (
        f"'<div><p>' || {d['p3']} || '{SIBLING_SUFFIX}</p>"
        f"<div><p>' || {d['p1']} || '</p><p>' || {d['p2']} || '</p></div></div>'"
    )
    return f"""
        WITH t AS ({sibling_transcripts_sql('documents', 'duck')})
        SELECT t.conv_id, t.turn_idx,
               'Doc ' || doc_id AS title,
               {content.replace('trim(text)', 'trim(d.text)')} AS content,
               {rich.replace('trim(text)', 'trim(d.text)')} AS rich_content,
               {excerpt_sql(content.replace('trim(text)', 'trim(d.text)'), SNIPPET)} AS excerpt
        FROM t JOIN documents d USING (doc_id)
    """


def _q_ordered_extraction(spark, sf_dir):
    """Stable (conv_id, turn_idx) ordering invariant (north_rule / FIXTURES §3):
    extraction output with a per-conversation sequence number — the window the
    golden comparison sorts under."""
    from pyspark.sql.window import Window

    trans = _transcripts(spark, sf_dir, PLAIN_WRAP_SQL)
    out = run_extraction(join_rules(trans, None), snippet_size=SNIPPET)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return out.select(
        "conv_id",
        "turn_idx",
        "content",
        F.row_number().over(w).alias("seq"),
        F.lag("turn_idx", 1).over(w).alias("prev_turn_idx"),
    )


_ORACLE_ORDERED = f"""
    WITH t AS ({transcripts_from_documents_sql('documents', PLAIN_WRAP_SQL)})
    SELECT t.conv_id, t.turn_idx,
           d.text AS content,
           CAST(row_number() OVER (PARTITION BY t.conv_id ORDER BY t.turn_idx) AS INT) AS seq,
           lag(t.turn_idx, 1) OVER (PARTITION BY t.conv_id ORDER BY t.turn_idx) AS prev_turn_idx
    FROM t JOIN documents d USING (doc_id)
"""


def _q_links_images(spark, sf_dir):
    """P9 normalizeLinks + P11 image selection with value-hash oracle: array
    outputs exposed as '|'-joined strings for engine-neutral comparison."""
    from ukeeper_readability_spark.data.synth import LINKS_WRAP_SQL

    trans = _transcripts(spark, sf_dir, LINKS_WRAP_SQL)
    out = run_extraction(join_rules(trans, None), snippet_size=SNIPPET)
    return out.select(
        "conv_id",
        "turn_idx",
        "content",
        "rich_content",
        F.array_join("links", "|").alias("links_joined"),
        F.array_join("images", "|").alias("images_joined"),
        "lead_image_url",
    )


def _oracle_links_images() -> str:
    from ukeeper_readability_spark.data.synth import LINKS_WRAP_SQL

    base = "'http://' || d.source || '.example.com'"
    rel = f"{base} || '/r/' || doc_id"
    img = f"{base} || '/img/' || doc_id || '.png'"
    rich = (
        f"'<div><div><p>' || d.text || ' <a href=\"' || {rel} || '\">more</a> and "
        f"<a href=\"http://abs.example.com/x\">abs</a> "
        f"<img src=\"' || {img} || '\"/> end</p></div></div>'"
    )
    return f"""
        WITH t AS ({transcripts_from_documents_sql('documents', LINKS_WRAP_SQL)})
        SELECT t.conv_id, t.turn_idx,
               d.text || ' more and abs end' AS content,
               {rich} AS rich_content,
               {rel} || '|http://abs.example.com/x|' || {img} AS links_joined,
               {img} AS images_joined,
               {img} AS lead_image_url
        FROM t JOIN documents d USING (doc_id)
    """


def _q_charset_meta(spark, sf_dir):
    """P1 charset report: http-equiv Content-Type meta overrides the default
    (extractor/text.go:83-88); transcoding is a no-op on decoded text."""
    from ukeeper_readability_spark.data.synth import CHARSET_WRAP_SQL

    trans = _transcripts(spark, sf_dir, CHARSET_WRAP_SQL)
    out = run_extraction(join_rules(trans, None), snippet_size=SNIPPET)
    return out.select("conv_id", "turn_idx", "content", "type", "charset")


def _oracle_charset_meta() -> str:
    from ukeeper_readability_spark.data.synth import CHARSET_WRAP_SQL

    return f"""
        WITH t AS ({transcripts_from_documents_sql('documents', CHARSET_WRAP_SQL)})
        SELECT t.conv_id, t.turn_idx, d.text AS content,
               'text/html' AS type, 'windows-1251' AS charset
        FROM t JOIN documents d USING (doc_id)
    """


def _full_rules_sql(dialect: str) -> str:
    """Rules rows with the FULL datastore.Rule schema (datastore/rules.go:20-32)
    including match_urls / excludes / test_urls — fields the reference stores
    but never applies (Get filters only {domain, enabled}, rules.go:43)."""
    def arr(*items: str) -> str:
        fn = "array" if dialect == "spark" else "list_value"
        return f"{fn}({', '.join(items)})"

    return f"""
        SELECT 'rule-' || n_nationkey AS id,
               'src' || n_nationkey || '.example.com' AS domain,
               {arr("'http://src' || n_nationkey || '.example.com/never-matching/'")} AS match_urls,
               '.content p' AS content,
               'author-' || (n_nationkey % 5) AS author,
               '2026-01-0' || (1 + n_nationkey % 9) AS ts,
               {arr("'.content p'", "'p'")} AS excludes,
               {arr("'http://src' || n_nationkey || '.example.com/t1'")} AS test_urls,
               'user-' || (n_nationkey % 3) AS user,
               (n_nationkey % 2 = 0) AS enabled,
               (n_nationkey % 5 = 0) AS use_cloudflare
        FROM nation
    """


_RULES_ALL_OUT = [
    "id", "domain", "content", "author", "ts", "user", "enabled",
    "use_cloudflare",
]


def _q_rules_all(spark, sf_dir):
    """S9 RulesDAO.All (datastore/rules.go:96-108): full scan, enabled AND
    disabled, all columns (arrays joined for engine-neutral value compare)."""
    from ukeeper_readability_spark.jobs.rules_store import all_rules

    _register(spark, sf_dir, "nation")
    rules = all_rules(spark.sql(_full_rules_sql("spark")))
    return rules.select(
        *_RULES_ALL_OUT,
        F.array_join("match_urls", "|").alias("match_urls_joined"),
        F.array_join("excludes", "|").alias("excludes_joined"),
        F.array_join("test_urls", "|").alias("test_urls_joined"),
    )


def _oracle_rules_all() -> str:
    return f"""
        WITH r AS ({_full_rules_sql('duck')})
        SELECT {', '.join(_RULES_ALL_OUT)},
               array_to_string(match_urls, '|') AS match_urls_joined,
               array_to_string(excludes, '|') AS excludes_joined,
               array_to_string(test_urls, '|') AS test_urls_joined
        FROM r
    """


def _q_rules_get_by_id(spark, sf_dir):
    """S10 RulesDAO.GetByID point lookup (datastore/rules.go:60-64)."""
    from ukeeper_readability_spark.jobs.rules_store import get_by_id

    _register(spark, sf_dir, "nation")
    rules = spark.sql(_full_rules_sql("spark"))
    return get_by_id(rules, "rule-7").select("id", "domain", "content", "enabled")


_ORACLE_RULES_GET_BY_ID = f"""
    WITH r AS ({_full_rules_sql('duck')})
    SELECT id, domain, content, enabled FROM r WHERE id = 'rule-7'
"""


def _q_rules_ignored_fields(spark, sf_dir):
    """match_urls/excludes are stored-but-never-applied (reference
    datastore/rules.go:20-32: Get filters only {domain, enabled}; the extractor
    reads rule.Content alone, extractor/readability.go:180-197). The rules here
    carry match_urls that never match any document URL and excludes that would
    empty the selector output — if either were (wrongly) applied, content
    would flip to the general-parse shape and hash-mismatch the oracle."""
    _register(spark, sf_dir, "documents", "nation")
    trans = _transcripts(spark, sf_dir, PLAIN_WRAP_SQL)
    rules = spark.sql(_full_rules_sql("spark"))
    joined = join_rules(trans, rules)
    out = run_extraction(joined, snippet_size=SNIPPET)
    return out.select(
        "conv_id", "turn_idx", "content", "rich_content",
        F.col("m_rule_hit").alias("rule_hit"),
    )


_ORACLE_RULES_IGNORED = f"""
    WITH t AS ({transcripts_from_documents_sql('documents', PLAIN_WRAP_SQL)}),
    r AS ({_full_rules_sql('duck')}),
    m AS (
        SELECT t.conv_id, t.turn_idx, d.text,
               (r.enabled IS NOT NULL AND r.enabled) AS has_rule
        FROM t
        JOIN documents d USING (doc_id)
        LEFT JOIN r ON r.domain = 'src' || substr(d.source, 4) || '.example.com'
                   AND r.enabled
    )
    SELECT conv_id, turn_idx,
           text AS content,
           CASE WHEN has_rule THEN text
                ELSE '<div><div><p>' || text || '</p></div></div>' END AS rich_content,
           CAST(CASE WHEN has_rule THEN 1 ELSE 0 END AS INT) AS rule_hit
    FROM m
"""


def _q_charset_transcode(spark, sf_dir):
    """P1 byte-level toUtf8 (extractor/text.go:58-106): cp1251 / Shift_JIS /
    GBK-encoded bodies enter as BINARY; the declared header charset is
    REPORTED while the decode encoding comes from the HTML5 prescan finding
    the body's own <meta charset=...> — engine/charset.py. The CJK variants
    decode through engine/mbcodec.py's Go-table decoders (NOT Python codecs).
    The pandas encode UDF is test-harness byte materialization standing in
    for raw crawl bytes; the encode codec (cp1251/cp932/gbk) is only used on
    payload chars where it agrees with the WHATWG index, so the expected
    round-trip is well-defined (tests/test_mbcodec.py pins this)."""
    from pyspark.sql.types import BinaryType

    from ukeeper_readability_spark.data.synth import (
        CHARSET_1251_WRAP_SQL,
        CHARSET_BIG5_WRAP_SQL,
        CHARSET_EUCKR_WRAP_SQL,
        CHARSET_GBK_WRAP_SQL,
        CHARSET_ISO2022_WRAP_SQL,
        CHARSET_SJIS_WRAP_SQL,
    )
    from ukeeper_readability_spark.jobs.extract_job import run_extraction_bytes

    variants = [
        ("cp1251", "windows-1251", CHARSET_1251_WRAP_SQL),
        ("cp932", "shift_jis", CHARSET_SJIS_WRAP_SQL),
        ("gbk", "gbk", CHARSET_GBK_WRAP_SQL),
        ("cp949", "euc-kr", CHARSET_EUCKR_WRAP_SQL),
        ("big5", "big5", CHARSET_BIG5_WRAP_SQL),
        ("iso2022_jp", "iso-2022-jp", CHARSET_ISO2022_WRAP_SQL),
    ]
    def make_encoder(codec):
        @F.pandas_udf(BinaryType())
        def to_bytes(s: pandas.Series) -> pandas.Series:
            # vectorized str→bytes (VERDICT r3 watch item: no row-at-a-time
            # .map in pandas UDFs, even harness-side)
            return s.str.encode(codec)

        return to_bytes

    outs = []
    for codec, label, wrap_sql in variants:
        trans = _transcripts(spark, sf_dir, wrap_sql)
        to_bytes = make_encoder(codec)

        joined = (
            trans.withColumn("body_bytes", to_bytes(F.col("text")))
            .withColumn(
                "header_content_type", F.lit(f"text/html; charset={label}")
            )
            .withColumn("rule_content", F.lit(None).cast("string"))
            .withColumn("routed_cloudflare", F.lit(False))
        )
        out = run_extraction_bytes(joined, snippet_size=SNIPPET)
        outs.append(
            out.select(
                F.lit(label).alias("variant"), "conv_id", "turn_idx",
                "title", "content", "excerpt", "type", "charset",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _oracle_charset_transcode() -> str:
    from ukeeper_readability_spark.data.synth import (
        CHARSET_1251_WRAP_SQL,
        CHARSET_BIG5_WRAP_SQL,
        CHARSET_EUCKR_WRAP_SQL,
        CHARSET_GBK_WRAP_SQL,
        CHARSET_ISO2022_WRAP_SQL,
        CHARSET_SJIS_WRAP_SQL,
        big5_sql,
        cyr_sql,
        euckr_sql,
        gbk_sql,
        sjis_sql,
    )

    parts = []
    for label, wrap_sql, translate, title in [
        ("windows-1251", CHARSET_1251_WRAP_SQL, cyr_sql, "'Док '"),
        ("shift_jis", CHARSET_SJIS_WRAP_SQL, sjis_sql, "'ドク '"),
        ("gbk", CHARSET_GBK_WRAP_SQL, gbk_sql, "'文档 '"),
        ("euc-kr", CHARSET_EUCKR_WRAP_SQL, euckr_sql, "'문서 '"),
        ("big5", CHARSET_BIG5_WRAP_SQL, big5_sql, "'檔案 '"),
        ("iso-2022-jp", CHARSET_ISO2022_WRAP_SQL, sjis_sql, "'ドク '"),
    ]:
        content = translate("d.text")
        parts.append(f"""
        SELECT '{label}' AS variant, t.conv_id, t.turn_idx,
               {title} || doc_id AS title,
               {content} AS content,
               {excerpt_sql(content, SNIPPET)} AS excerpt,
               'text/html' AS type,
               '{label}' AS charset
        FROM ({transcripts_from_documents_sql('documents', wrap_sql)}) t
        JOIN documents d USING (doc_id)
        """)
    return " UNION ALL ".join(parts)


def _q_rules_disable(spark, sf_dir):
    """S8 soft delete: disable by id, never hard-delete (datastore/rules.go:90-93)."""
    from ukeeper_readability_spark.jobs.rules_store import disable_rule

    _register(spark, sf_dir, "nation")
    rules = spark.sql(_BASE_RULES_SQL)
    return disable_rule(rules, "rule-3").select("id", "domain", "enabled")


_ORACLE_RULES_DISABLE = f"""
    WITH rules AS ({_BASE_RULES_SQL})
    SELECT id, domain, (enabled AND id <> 'rule-3') AS enabled FROM rules
"""


def _q_preview_rule(spark, sf_dir):
    """handlePreview semantics: explicit rule literal over N documents
    (reference rest/server.go:204-274)."""
    from ukeeper_readability_spark.jobs.extract_job import extract_by_rule

    trans = _transcripts(spark, sf_dir, PLAIN_WRAP_SQL)
    out = extract_by_rule(trans, ".content p", snippet_size=SNIPPET)
    return out.select("conv_id", "turn_idx", "content", "rich_content", "title")


_ORACLE_PREVIEW_RULE = f"""
    WITH t AS ({transcripts_from_documents_sql('documents', PLAIN_WRAP_SQL)})
    SELECT t.conv_id, t.turn_idx,
           d.text AS content,
           d.text AS rich_content,
           'Doc ' || doc_id AS title
    FROM t JOIN documents d USING (doc_id)
"""


# --- cascadia-parity rule selectors (P3 / htmldom/selector.py) --------------
# Wraps place the payload behind selector features the round-2 engine could
# not express: an attribute-selector + child + :nth-child rule, an
# adjacent-sibling rule, and an INVALID rule that must fall back to the
# general parser (goquery compileMatcher → invalidMatcher, type.go:166-176;
# reference rules are arbitrary user CSS via POST /api/rule,
# rest/server.go:277-309 matched by vendor/github.com/andybalholm/cascadia).
ATTR_WRAP_SQL = (
    "'<html><head><title>Doc ' || doc_id || '</title></head><body>"
    "<div itemprop=\"articleBody\" data-kind=\"main\"><p>' || text || '</p>"
    "<p>decoy trailing paragraph never selected by the nth-child rule</p></div>"
    "<div class=\"content\"><p>decoy sidebar content</p></div>"
    "</body></html>'"
)
LEAD_WRAP_SQL = (
    "'<html><head><title>Doc ' || doc_id || '</title></head><body>"
    "<div class=\"content\"><p class=\"lead\">lead intro paragraph decoy</p>"
    "<p>' || text || '</p></div></body></html>'"
)

_ATTR_SELECTOR_VARIANTS = (
    ("attr_nth", ATTR_WRAP_SQL, 'div[itemprop="articleBody"] > p:nth-child(1)'),
    ("sibling", LEAD_WRAP_SQL, "p.lead + p"),
    ("fallback", PLAIN_WRAP_SQL, "div[itemprop="),  # invalid → general parser
)


def _q_rule_attr_selector(spark, sf_dir):
    """Attribute/:nth-child/sibling selectors through the rule path, plus the
    invalid-selector general fallback, value-hash-gated (VERDICT r2 item 1)."""
    from ukeeper_readability_spark.jobs.extract_job import extract_by_rule

    out = None
    for variant, wrap, rule in _ATTR_SELECTOR_VARIANTS:
        trans = _transcripts(spark, sf_dir, wrap)
        res = extract_by_rule(trans, rule, snippet_size=SNIPPET).select(
            F.lit(variant).alias("variant"),
            "conv_id", "turn_idx", "content", "rich_content",
        )
        out = res if out is None else out.unionByName(res)
    return out


def _oracle_rule_attr_selector() -> str:
    return f"""
        WITH t AS (
            SELECT doc_id, {CONV_ID_SQL} AS conv_id, {TURN_IDX_SQL} AS turn_idx, text
            FROM documents WHERE {CLEAN_TEXT_GUARD}
        )
        SELECT 'attr_nth' AS variant, conv_id, turn_idx,
               text AS content, text AS rich_content FROM t
        UNION ALL
        SELECT 'sibling', conv_id, turn_idx, text, text FROM t
        UNION ALL
        SELECT 'fallback', conv_id, turn_idx, text,
               {_GENERAL_RICH_SQL.replace('d.text', 'text')} FROM t
    """


def _q_media_features(spark, sf_dir):
    media = synthesize_media(spark, _docs(spark, sf_dir))
    return media_features(media, num_partitions=8)


# PII-injected corpus for the redaction operator (documents have no PII)
_PII_CORPUS_SQL = """
    SELECT doc_id,
           text || ' contact bob' || doc_id || '@example.com or call'
                || ' +1 (555) 010-' || (1000 + doc_id)
                || ' see https://ex.com/d/' || doc_id || ' end' AS text
    FROM documents
"""


def _q_redact_pii(spark, sf_dir):
    from ukeeper_readability_spark.pipeline.text_analysis import redact_pii

    _register(spark, sf_dir, "documents")
    return redact_pii(spark.sql(_PII_CORPUS_SQL))


def _oracle_redact_pii() -> str:
    from ukeeper_readability_spark.pipeline.text_analysis import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
        PII_URL_RE,
    )

    # backslashes are literal inside standard SQL string literals, so the
    # python regex values embed directly
    red = (
        f"regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{PII_URL_RE}', '<URL>', 'g'), "
        f"'{PII_EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{PII_PHONE_RE}', '<PHONE>', 'g')"
    )
    return f"""
        WITH c AS ({_PII_CORPUS_SQL})
        SELECT doc_id, {red} AS redacted,
               CAST(length(text) - length({red}) AS BIGINT) AS chars_redacted
        FROM c
    """


def _q_sessionize(spark, sf_dir):
    """Gap-based sessionization over the events table (batch window analogue
    of stateful streaming; SURVEY §7 keeps this engine batch-only)."""
    from ukeeper_readability_spark.pipeline.sessions import sessionize

    _register(spark, sf_dir, "events")
    out = sessionize(spark.table("events"), gap_minutes=30)
    return out.withColumn("session_seq", F.col("session_seq").cast("long"))


_ORACLE_SESSIONIZE = """
    WITH o AS (
        SELECT user_id, event_id, ts, value,
               floor(epoch(ts)) - lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events
    ),
    m AS (SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS news FROM o),
    s AS (SELECT *, sum(news) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq FROM m)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           count(*) AS n_events,
           CAST(floor(min(epoch(ts))) AS BIGINT) AS first_ts_epoch,
           CAST(floor(max(epoch(ts))) AS BIGINT) AS last_ts_epoch,
           round(sum(value), 6) AS total_value
    FROM s GROUP BY user_id, session_seq
"""


def _q_sessionize_stream(spark, sf_dir):
    """Structured-Streaming sessionization (session_window + availableNow
    file source → memory sink), gate-checked against the SAME DuckDB session
    definition as the batch gate: native streaming semantics are pinned
    batch-equivalent (boundary alignment in streaming/sessions.py)."""
    from ukeeper_readability_spark.streaming import run_sessionize_stream_once

    return run_sessionize_stream_once(
        spark, f"{sf_dir}/events.parquet", gap_minutes=30
    ).select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        "first_ts_epoch",
        "last_ts_epoch",
        "total_value",
    )


_ORACLE_SESSIONIZE_STREAM = """
    WITH o AS (
        SELECT user_id, event_id, ts, value,
               floor(epoch(ts)) - lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events
    ),
    m AS (SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS news FROM o),
    s AS (SELECT *, sum(news) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq FROM m)
    SELECT user_id,
           count(*) AS n_events,
           CAST(floor(min(epoch(ts))) AS BIGINT) AS first_ts_epoch,
           CAST(floor(max(epoch(ts))) AS BIGINT) AS last_ts_epoch,
           round(sum(value), 6) AS total_value
    FROM s GROUP BY user_id, session_seq
"""


def _q_embedding_near_dup(spark, sf_dir):
    from ukeeper_readability_spark.pipeline import embedding_near_duplicates

    _register(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(
        spark.table("embeddings"), threshold=0.35, max_bucket=_EMBEDDING_MAX_BUCKET
    )


# models the engine's max_bucket cap (ADVICE r2: engine and oracle must agree
# the day a bucket exceeds it): buckets larger than max_bucket contribute NO
# pairs on either side
_EMBEDDING_MAX_BUCKET = 10_000

_ORACLE_EMBEDDING_NEAR_DUP = f"""
    WITH sized AS (
        SELECT vec_id, embedding, label,
               count(*) OVER (PARTITION BY label) AS bsize
        FROM embeddings
    ),
    kept AS (SELECT * FROM sized WHERE bsize <= {_EMBEDDING_MAX_BUCKET})
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine
    FROM kept a
    JOIN kept b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                 sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.35
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: boilerplate-strip extraction over sf0.001 (driver smoke)."""
    return _q_extract(BOILERPLATE_WRAP_SQL)(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_general_plain": _q_extract(PLAIN_WRAP_SQL),
        "extract_general_boilerplate": _q_extract(BOILERPLATE_WRAP_SQL),
        "extract_rule_join": _q_extract_rule_join,
        "host_parse": _q_host_parse,
        "extraction_metrics_by_conv": _q_metrics_by_conv,
        "rules_first_match": _q_rules_first_match,
        "rules_upsert_merge": _q_rules_upsert,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_lsh_pairs": _q_minhash_pairs,
        "dedup_ngram_jaccard": _q_jaccard,
        "dedup_components": _q_dedup_components,
        "dedup_canonical": _q_dedup_canonical,
        "dedup_simhash": _q_simhash,
        "text_token_counts": _q_token_counts,
        "text_language_id": _q_language_id,
        "text_quality_score": _q_quality,
        "text_fingerprint": _q_fingerprint,
        "ann_cosine_bruteforce": _q_ann_brute,
        "ann_cosine_ivf_label": _q_ann_ivf,
        "ann_cosine_ivf_lsh": _q_ann_ivf_lsh,
        "ann_ivf_kmeans": _q_ann_ivf_kmeans,
        "multimodal_media_features": _q_media_features,
        "dedup_embedding_cosine": _q_embedding_near_dup,
        "text_redact_pii": _q_redact_pii,
        "events_sessionize": _q_sessionize,
        "events_sessionize_stream": _q_sessionize_stream,
        "extract_preview_rule": _q_preview_rule,
        "extract_rule_attr_selector": _q_rule_attr_selector,
        "extract_sibling_merge": _q_sibling_merge,
        "extract_ordered_window": _q_ordered_extraction,
        "extract_charset_meta": _q_charset_meta,
        "extract_charset_transcode": _q_charset_transcode,
        "extract_links_images": _q_links_images,
        "rules_disable": _q_rules_disable,
        "rules_all": _q_rules_all,
        "rules_get_by_id": _q_rules_get_by_id,
        "rules_ignored_fields": _q_rules_ignored_fields,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extract_general_plain": _oracle_extract(PLAIN_WRAP_SQL, _GENERAL_RICH_SQL),
        "extract_general_boilerplate": _oracle_extract(
            BOILERPLATE_WRAP_SQL, _GENERAL_RICH_SQL
        ),
        "extract_rule_join": _ORACLE_RULE_JOIN,
        "host_parse": _ORACLE_HOST_PARSE,
        "extraction_metrics_by_conv": _ORACLE_METRICS_BY_CONV,
        "rules_first_match": _ORACLE_RULES_FIRST_MATCH,
        "rules_upsert_merge": _ORACLE_RULES_UPSERT,
        "dedup_exact": _po.dedup_exact_sql(),
        "dedup_minhash_lsh_pairs": _po.minhash_pairs_sql(3, 8, 4),
        "dedup_ngram_jaccard": _po.jaccard_sql(3, 8, 4),
        "dedup_components": _po.dedup_components_sql(3, 8, 4),
        "dedup_canonical": _po.dedup_canonical_sql(3, 8, 4, 0.5),
        "dedup_simhash": _po.simhash_sql(16),
        "text_token_counts": _po.token_counts_sql(),
        "text_language_id": _po.language_id_sql(STOPWORDS, TRIGRAMS),
        "text_quality_score": _po.quality_score_sql(STOPWORDS["en"]),
        "text_fingerprint": _po.fingerprint_sql(5),
        "ann_cosine_bruteforce": _po.ann_sql(5, 50, bucketed=False),
        "ann_cosine_ivf_label": _po.ann_sql(5, 50, bucketed=True),
        "ann_cosine_ivf_lsh": _po.ann_ivf_lsh_sql(5, 50, n_planes=4, dim=64),
        "ann_ivf_kmeans": _po.ann_ivf_kmeans_sql(
            5, 50, n_clusters=8, iters=3, dim=64, n_probes=2
        ),
        "multimodal_media_features": _po.media_features_sql(),
        "dedup_embedding_cosine": _ORACLE_EMBEDDING_NEAR_DUP,
        "text_redact_pii": _oracle_redact_pii(),
        "events_sessionize": _ORACLE_SESSIONIZE,
        "events_sessionize_stream": _ORACLE_SESSIONIZE_STREAM,
        "extract_preview_rule": _ORACLE_PREVIEW_RULE,
        "extract_rule_attr_selector": _oracle_rule_attr_selector(),
        "extract_sibling_merge": _oracle_sibling_merge(),
        "extract_ordered_window": _ORACLE_ORDERED,
        "extract_charset_meta": _oracle_charset_meta(),
        "extract_charset_transcode": _oracle_charset_transcode(),
        "extract_links_images": _oracle_links_images(),
        "rules_disable": _ORACLE_RULES_DISABLE,
        "rules_all": _oracle_rules_all(),
        "rules_get_by_id": _ORACLE_RULES_GET_BY_ID,
        "rules_ignored_fields": _ORACLE_RULES_IGNORED,
    }
