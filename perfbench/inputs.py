"""Seeded input generators for the four workloads.

Everything here is plain Python: no Spark, no files outside the package. The
same seed gives the same rows, and `checksum` hashes them so a run can print
proof of that next to its metrics. Builders come from the package itself
(`ukeeper_readability_spark.data.synth`: the golden fixtures, the boilerplate
page shape and the charset translate maps), so the benchmark exercises the
inputs the test suite and the oracles already describe.
"""

from __future__ import annotations

import hashlib
import random
import statistics
from datetime import datetime, timezone

from ukeeper_readability_spark.data.synth import (
    CYR_FROM,
    CYR_TO,
    FIXTURE_NAMES,
    GBK_FROM,
    GBK_TO,
    SJIS_FROM,
    SJIS_TO,
    load_fixture,
)

# the word list of the sf0.01 `documents.text` column (31 words), so the
# generated prose has the token statistics the oracle gates were built on
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

FIXTURE_URLS = {
    "vsiem-mirom-dlia-obshchiei-polzy": "http://umputun.com/2015/11/26/vsiem-mirom-dlia-obshchiei-polzy/",
    "podcast-369": "https://podcast.umputun.com/p/2015/11/22/podcast-369/",
    "poiezdka-s-apple-maps": "http://umputun.com/2015/09/25/poiezdka-s-apple-maps/",
}

TS = datetime(2026, 1, 1, tzinfo=timezone.utc)

# charset label -> (Python codec that materializes the bytes, a-z translate)
CHARSETS = {
    "utf-8": ("utf-8", None),
    "windows-1251": ("cp1251", str.maketrans(CYR_FROM, CYR_TO)),
    "shift_jis": ("cp932", str.maketrans(SJIS_FROM, SJIS_TO)),
    "gbk": ("gbk", str.maketrans(GBK_FROM, GBK_TO)),
}
CHARSET_WEIGHTS = (("utf-8", 4), ("windows-1251", 2), ("shift_jis", 2), ("gbk", 2))

# BOILERPLATE_WRAP_SQL's page (data/synth.py) with a declared charset: the
# header/sidebar/footer blocks are what removeUnlikelyCandidates strips, and
# `#content p` is the rule selector that hits the payload paragraph
_PAGE = (
    '<html><head><title>Doc {doc_id}</title><meta charset="{label}"></head><body>'
    '<div class="header-menu"><ul><li><a href="/home">Home</a></li>'
    '<li><a href="/about">About</a></li></ul></div>'
    '<div id="content" class="content"><p>{text}</p></div>'
    '<div class="sidebar"><p>subscribe to our newsletter for more updates and offers '
    "every week</p></div>"
    '<div class="footer">copyright 2026 example inc</div>'
    "</body></html>"
)
RULE_SELECTOR = "#content p"
HOSTS = 64  # crawl_small hosts; about half carry an enabled rule

NEAR_DUP_SHARE = 0.08  # dedup corpus documents that are near-duplicates
EDIT_SHARE = 0.08  # tokens replaced in a near-duplicate
DOC_TOKENS = (20, 40)  # dedup corpus document length range, in words

DIM = 64  # embedding dimension
CLUSTERS = 16  # embedding clusters (the `label` buckets)


def _prose(rng: random.Random, min_chars: int, max_words: int) -> str:
    """Single-spaced vocabulary words with no punctuation, at least
    `min_chars` long: the synth CLEAN_TEXT_GUARD shape, for which the
    extracted content equals the text exactly (no retry, no escaping)."""
    words = []
    n = 0
    while n < min_chars or len(words) < 8:
        w = rng.choice(VOCAB)
        words.append(w)
        n += len(w) + 1
        if len(words) >= max_words and n >= min_chars:
            break
    return " ".join(words)


def _conv_keys(rng: random.Random, n: int):
    """(conv_id, turn_idx) for n rows; conversation lengths are seeded
    (a new conversation starts with probability 1/6), keys are unique."""
    conv, turn = 0, 0
    keys = []
    for i in range(n):
        if i and rng.random() < 1 / 6:
            conv, turn = conv + 1, 0
        keys.append((f"conv-{conv:05d}", turn))
        turn += 1
    return keys


def articles(seed: int, n: int):
    """Real-size HTML rows: the three golden fixtures in a seeded rotation,
    each with a seeded per-row marker comment (stripped by the parser's
    comment regex, so every row keeps its fixture's golden output).

    Returns (rows in TRANSCRIPTS_SCHEMA order, fixture name per row)."""
    rng = random.Random(f"articles:{seed}")
    pages = {name: load_fixture(name) for name in FIXTURE_NAMES}
    offset = rng.randrange(3)
    rows, fixture = [], []
    for i, (conv, turn) in enumerate(_conv_keys(rng, n)):
        name = FIXTURE_NAMES[(i + offset) % 3]
        marker = f"<!-- synthetic-marker {seed}-{i}-{rng.getrandbits(32):08x} -->"
        rows.append((conv, turn, "tool", pages[name] + marker, FIXTURE_URLS[name], TS))
        fixture.append(name)
    return rows, fixture


def crawl_small(seed: int, n: int):
    """About 1 KB boilerplate pages as undecoded bytes in a seeded charset
    mix, plus a rules table in which about half of the hosts carry an
    enabled `#content p` rule (and some of the rest a disabled one, which
    the join must ignore).

    Returns (crawl rows, rules rows, expected (title, content, charset) per
    row). Crawl rows are (conv_id, turn_idx, role, body_bytes,
    header_content_type, tool, ts)."""
    rng = random.Random(f"crawl_small:{seed}")
    labels = [label for label, w in CHARSET_WEIGHTS for _ in range(w)]
    rows, expected = [], []
    for i, (conv, turn) in enumerate(_conv_keys(rng, n)):
        host = f"src{rng.randrange(HOSTS)}.example.com"
        label = rng.choice(labels)
        codec, table = CHARSETS[label]
        text = _prose(rng, 300, 90)
        if table:
            text = text.translate(table)
        page = _PAGE.format(doc_id=i, label=label, text=text)
        rows.append((
            conv, turn, "tool", page.encode(codec), f"text/html; charset={label}",
            f"http://{host}/docs/{i}", TS,
        ))
        expected.append((f"Doc {i}", text, label))
    rules = []
    for k in range(HOSTS):
        r = rng.random()
        if r < 0.5:
            enabled = True
        elif r < 0.75:
            enabled = False
        else:
            continue
        rules.append((
            f"rule-{k}", f"src{k}.example.com", None, RULE_SELECTOR, "perfbench",
            "2026-01-01", None, None, "perfbench", enabled, rng.random() < 0.2,
        ))
    return rows, rules, expected


def dedup_corpus(seed: int, n: int):
    """Plain-text `documents(doc_id, text)` rows of which NEAR_DUP_SHARE are
    near-duplicates: each is a copy of an earlier ORIGINAL document with
    EDIT_SHARE of its tokens replaced. Copies are never made of copies, so
    every duplicate cluster is a star and min-label propagation converges
    in a few rounds. The oracle corpus (DUP_CORPUS_SQL) adds exact copies of
    every doc_id % 5 == 0 on top, so doc ids stay below 100000."""
    if n >= 100000:
        raise ValueError("dedup_corpus: doc ids must stay below 100000")
    rng = random.Random(f"dedup_chain:{seed}")
    rows, originals = [], []
    for doc_id in range(n):
        if originals and rng.random() < NEAR_DUP_SHARE:
            toks = rows[rng.choice(originals)][1].split(" ")
            for j in range(len(toks)):
                if rng.random() < EDIT_SHARE:
                    toks[j] = rng.choice(VOCAB)
            rows.append((doc_id, " ".join(toks)))
        else:
            originals.append(doc_id)
            rows.append((doc_id, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(*DOC_TOKENS)))))
    return rows


def embeddings(seed: int, n: int):
    """Clustered float32 vectors (center + noise), `label` = the generating
    cluster (the precomputed coarse bucket cosine_topk_bucketed reads).
    Queries are the rows with vec_id % query_mod == 0, the convention the
    ann oracles in pipeline/oracles.py use."""
    import numpy as np

    rng = np.random.default_rng([seed, 0xA11])
    centers = rng.normal(size=(CLUSTERS, DIM))
    labels = rng.integers(0, CLUSTERS, size=n)
    vecs = (centers[labels] + 0.6 * rng.normal(size=(n, DIM))).astype(np.float32)
    return [(i, vecs[i].tolist(), int(labels[i])) for i in range(n)]


def checksum(rows) -> str:
    """Order-sensitive digest of generated rows (bytes and floats included)."""
    h = hashlib.sha256()
    for row in rows:
        h.update(repr(row).encode("utf-8", "surrogatepass"))
    return h.hexdigest()[:16]


def size_percentiles(sizes) -> dict:
    qs = statistics.quantiles(sizes, n=100, method="inclusive")
    return {"p50": qs[49], "p90": qs[89], "p99": qs[98], "max": max(sizes)}
