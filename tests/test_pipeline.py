"""Training-data pipeline operator tests (dedup, similarity, text, multimodal)."""

import pytest
from pyspark.sql import functions as F

from ukeeper_readability_spark.pipeline import (
    cosine_topk_bruteforce,
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

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base + " with a tiny suffix change"),  # near dup of 0
        (3, "completely different words about spark and tables and joins here"),
        (4, "el la de que y en un una los por palabras aqui"),  # spanish-ish
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    groups = {r.doc_id: r for r in exact_duplicates(docs).collect()}
    assert set(groups) == {0, 1}
    assert groups[1].canonical_id == 0 and groups[1].group_size == 2


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, k=8, bands=4).collect()}
    assert (0, 1) in pairs  # identical docs always collide
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup shares most shingles
    assert not any(3 in p or 4 in p for p in pairs)


def test_jaccard_values(spark, docs):
    pairs = minhash_lsh_pairs(docs, k=8, bands=4)
    j = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard(docs, pairs).collect()}
    assert j[(0, 1)] == 1.0
    for (a, b), v in j.items():
        assert 0.0 <= v <= 1.0


def test_simhash_near_dup_distance(spark, docs):
    sh = {r.doc_id: r.simhash for r in simhash(docs, bits=16, portable=True).collect()}
    assert sh[0] == sh[1]
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far


def test_text_analysis(spark, docs):
    tc = {r.doc_id: r for r in token_counts(docs).collect()}
    assert tc[0].n_tokens == 13
    li = {r.doc_id: r for r in language_id(docs).collect()}
    assert li[0].detected_lang == "en"
    assert li[4].detected_lang == "es"
    # trigram fallback: no stopwords hit, signature trigrams decide
    extra = spark.createDataFrame(
        [
            (10, "zwischendurch geschwindigkeit durchschnittlich"),  # de trigrams
            (11, "informazione considerazione organizzazione"),  # it trigrams
            (12, ""),  # empty: silent everywhere, deterministic tie-break
        ],
        "doc_id long, text string",
    )
    li2 = {r.doc_id: r for r in language_id(extra).collect()}
    assert li2[10].used_trigram_fallback and li2[10].detected_lang == "de"
    assert li2[11].used_trigram_fallback and li2[11].detected_lang == "it"
    assert li2[12].used_trigram_fallback and li2[12].detected_lang == "de"
    q = {r.doc_id: r for r in quality_score(docs).collect()}
    assert 0 < q[0].distinct_token_ratio < 1  # repeated 'the'/'again'
    fp = {r.doc_id: r.fingerprint for r in fingerprint(docs).collect()}
    assert fp[0] == fp[1] and fp[0] != fp[3]


def test_ann_bruteforce_self_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.0, 0.95, 0.05], 1),
        (50, [1.0, 0.05, 0.0], 0),  # the query (vec_id % 50 == 0)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    queries = emb.filter(F.col("vec_id") == 50).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    top = cosine_topk_bruteforce(emb, queries, k=2).collect()
    assert [r.neighbor_id for r in sorted(top, key=lambda r: r.rank)] == [0, 1]


def test_media_features_real_headers(spark, docs):
    """synthesize_media emits structurally valid PNG/WAV/MP4/JPEG;
    media_features parses the real headers (not a stub)."""
    import hashlib

    media = synthesize_media(spark, docs)
    feats = {r.media_id: r for r in media_features(media).collect()}
    assert len(feats) == 5
    for r in feats.values():
        assert r.checksum_hex == bytes.fromhex(r.checksum_hex).hex()
        assert r.n_bytes == len(r.checksum_hex) // 2
    texts = {0: "the quick brown fox jumps over the lazy dog again and again today"}
    b = hashlib.md5(texts[0].encode()).digest()
    r0 = feats[0]  # doc 0 -> image/png
    assert (r0.kind, r0.container) == ("image", "png")
    assert (r0.width, r0.height, r0.n_frames) == (1 + b[0], 1 + b[1], 1)
    r1 = feats[1]  # doc 1 -> audio/wav
    assert (r1.kind, r1.container) == ("audio", "wav")
    assert (r1.width, r1.height) == (0, 0) and r1.n_frames % 16 == 0
    r2 = feats[2]  # doc 2 -> video/mp4 (real ISO-BMFF, round 5)
    assert (r2.kind, r2.container) == ("video", "mp4")
    assert 1 <= r2.n_tracks <= 2 and r2.n_frames == 0
    assert r2.duration_ms % 500 == 0 and 500 <= r2.duration_ms <= 2000
    assert r2.width > 0 and r2.height > 0


def test_embedding_near_dup_hot_bucket_cap(spark):
    """One degenerate bucket must be droppable via max_bucket — the O(b²)
    guard for a hot quantizer cell (round-2 advisory fix)."""
    from ukeeper_readability_spark.pipeline import embedding_near_duplicates

    rows = [(i, [1.0, 0.0], 0) for i in range(20)]  # hot bucket: 20 identical
    rows += [(100, [0.0, 1.0], 1), (101, [0.0, 1.0], 1)]  # small bucket pair
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    capped = embedding_near_duplicates(emb, threshold=0.9, max_bucket=5).collect()
    assert {(r.doc_a, r.doc_b) for r in capped} == {(100, 101)}

    uncapped = embedding_near_duplicates(emb, threshold=0.9, max_bucket=1000)
    assert uncapped.count() == 20 * 19 // 2 + 1

    # the cap is auditable, never silent (ADVICE r3): dropped buckets + sizes
    from ukeeper_readability_spark.pipeline import embedding_dropped_buckets

    dropped = embedding_dropped_buckets(emb, max_bucket=5).collect()
    assert [(r.bucket, r.bucket_size) for r in dropped] == [(0, 20)]


def test_ngram_jaccard_semijoin_prunes_noncandidates(spark, docs):
    """Shingles of docs in no candidate pair must not reach the wide join.

    r06: the pruned shingle table and the pair input are snapshot with lazy
    localCheckpoints (so the LSH pipeline and the shingle build each run
    once), which hides their subtrees behind Scan ExistingRDD in the outer
    plan — the semi-join prune is asserted on the pre-snapshot shape the
    operator builds, and the outer plan is asserted to consume the
    snapshots instead of recomputing the upstream pipeline."""
    from ukeeper_readability_spark.pipeline.dedup import _pruned_shingles

    pairs = minhash_lsh_pairs(docs, shingle_n=3, k=8, bands=4)
    # the pre-snapshot shape ngram_jaccard builds for its shingle table
    sh = _pruned_shingles(docs, pairs, "text", "doc_id", 3)
    assert "LeftSemi" in sh._jdf.queryExecution().executedPlan().toString()

    out = ngram_jaccard(docs, pairs, shingle_n=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the outer plan reads the snapshots — no recompute of the LSH pipeline
    assert "Scan ExistingRDD" in plan
    assert "posexplode" not in plan
    # values unchanged by the prune: the (0,1) exact pair scores 1.0
    vals = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    assert vals[(0, 1)] == 1.0


def test_dedup_components_basic(spark):
    from ukeeper_readability_spark.pipeline.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 6), (9, 9)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.component_id for r in dedup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_dedup_components_chain_convergence(spark):
    """A path graph needs diameter rounds of min propagation — pin that a
    10-node chain converges well inside max_iters and yields one component."""
    from ukeeper_readability_spark.pipeline.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.component_id for r in dedup_components(pairs).collect()}
    assert got == {i: 1 for i in range(1, 11)}


def test_dedup_components_empty_and_strings(spark):
    from ukeeper_readability_spark.pipeline.dedup import dedup_components

    empty = spark.createDataFrame([], "doc_a string, doc_b string")
    assert dedup_components(empty).count() == 0
    pairs = spark.createDataFrame(
        [("d2", "d10"), ("d10", "d3")], "doc_a string, doc_b string"
    )
    got = {r.doc_id: r.component_id for r in dedup_components(pairs).collect()}
    # string min is BINARY collation: 'd10' < 'd2' < 'd3'
    assert got == {"d2": "d10", "d10": "d10", "d3": "d10"}


def test_dedup_components_star_mode_low_rounds_on_path(spark):
    """Large-star/small-star (Kiveris et al. 2014) converges in O(log^2 n)
    rounds regardless of diameter: on a 64-node path it finishes inside 8
    rounds, where 8 rounds of min-label propagation provably cannot (labels
    move one hop per round). This is the adversarial-graph safety argument
    for mode='star' at scale."""
    from ukeeper_readability_spark.pipeline.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    star = {
        r.doc_id: r.component_id
        for r in dedup_components(pairs, max_iters=8, mode="star").collect()
    }
    assert star == {i: 1 for i in range(1, 65)}
    # diameter-bound: 8 propagation rounds cannot traverse 63 hops, so the
    # default mode spends all 8 and hands over to star
    stats: dict = {}
    with pytest.warns(UserWarning, match="did not converge"):
        dedup_components(pairs, max_iters=8, stats=stats)
    assert stats["mode"] == "propagate->star"
    assert stats["rounds"] == 8


def test_dedup_components_on_filter_derived_pairs(spark, docs):
    """Regression (round 5): Catalyst's UnionBase.rewriteConstraints throws
    'key not found: <attr>' on the component loops' self-union plans when the
    edge input carries filter-derived constraints — exactly what the
    production chain feeds them (jaccard >= threshold). Both modes must run
    on that shape; dedup.py scopes constraint propagation off for the loop
    and restores the session setting after."""
    from ukeeper_readability_spark.pipeline.dedup import dedup_components

    pairs = minhash_lsh_pairs(docs, shingle_n=3, k=8, bands=4)
    verified = (
        ngram_jaccard(docs, pairs, shingle_n=3)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    stats_p, stats_s = {}, {}
    a = sorted(map(tuple, dedup_components(verified, stats=stats_p).collect()))
    b = sorted(
        map(tuple, dedup_components(verified, mode="star", stats=stats_s).collect())
    )
    assert a == b and len(a) > 0
    assert stats_p["converged"] and stats_s["converged"]
    assert stats_p["mode"] == "propagate" and stats_s["mode"] == "star"
    assert stats_p["rounds"] >= 1 and stats_s["rounds"] >= 1
    # the scope restored the caller's session setting
    assert (
        spark.conf.get("spark.sql.constraintPropagation.enabled") == "true"
    )


def test_dedup_components_exhaustion_never_silent(spark):
    """ADVICE r4: propagate exhausting max_iters must not return partial
    labels silently — it falls back to star (correct result + warning)."""
    from ukeeper_readability_spark.pipeline.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    with pytest.warns(UserWarning, match="falling back to mode='star'"):
        got = {
            r.doc_id: r.component_id
            for r in dedup_components(pairs, max_iters=8).collect()
        }
    assert got == {i: 1 for i in range(1, 65)}  # fallback result is CORRECT


def test_dedup_components_modes_agree(spark):
    from ukeeper_readability_spark.pipeline.dedup import dedup_components

    rows = [(2, 1), (2, 3), (5, 6), (6, 7), (9, 9), (10, 3)]
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    a = sorted(map(tuple, dedup_components(pairs).collect()))
    b = sorted(map(tuple, dedup_components(pairs, mode="star").collect()))
    assert a == b


def test_dedup_components_round_sec_every_path(spark):
    """A seeded stats["round_sec"] gets one wall time per round in propagate
    mode, in star mode, and across the propagate->star fallback."""
    from ukeeper_readability_spark.pipeline.dedup import dedup_components

    short = spark.createDataFrame([(2, 1), (2, 3), (5, 6)], "doc_a long, doc_b long")
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    runs = {}
    for label, pairs, kw in (
        ("propagate", short, {}),
        ("star", short, {"mode": "star"}),
        ("propagate->star", path, {"max_iters": 8}),
    ):
        st = {"round_sec": []}
        if label == "propagate->star":
            with pytest.warns(UserWarning, match="falling back"):
                dedup_components(pairs, stats=st, **kw).collect()
        else:
            dedup_components(pairs, stats=st, **kw).collect()
        runs[label] = st
    for label, st in runs.items():
        assert st["mode"] == label
        assert len(st["round_sec"]) == st["rounds"] + st.get("fallback_rounds", 0)
        assert all(t >= 0 for t in st["round_sec"])
    assert runs["propagate->star"]["fallback_rounds"] >= 1
    # opt-in: an unseeded dict gets no round_sec key
    st = {}
    dedup_components(short, mode="star", stats=st).collect()
    assert "round_sec" not in st


@pytest.mark.parametrize("mode", ["propagate", "star"])
def test_dedup_components_rejects_max_iters_below_one(spark, mode):
    from ukeeper_readability_spark.pipeline.dedup import dedup_components

    pairs = spark.createDataFrame([(2, 1)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="max_iters"):
        dedup_components(pairs, max_iters=0, mode=mode)
