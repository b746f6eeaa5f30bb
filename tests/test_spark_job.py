"""Spark-level pipeline tests: golden parity through the distributed path,
broadcast rule join, stable ordering, salting invariance, manifest resume."""

import os

import pytest
from pyspark.sql import functions as F

from ukeeper_readability_spark.data.synth import (
    fixture_transcript_rows,
    fixture_transcripts_df,
)
from ukeeper_readability_spark.jobs.extract_job import (
    filter_pending,
    join_rules,
    partition_metrics,
    pending_buckets,
    run_extraction,
    run_pipeline,
    with_host,
    write_with_manifest,
)
from ukeeper_readability_spark.jobs.rules_store import disable_rule, save_rules

pytestmark = pytest.mark.spark


def _extract_fixtures(spark, rules=None, **kw):
    trans = fixture_transcripts_df(spark, n_turns=12)
    joined = join_rules(trans, rules)
    return run_extraction(joined, snippet_size=200, **kw)


def test_golden_through_spark(spark):
    out = _extract_fixtures(spark).orderBy("conv_id", "turn_idx").collect()
    vsiem = [r for r in out if "vsiem" in r.url]
    assert vsiem, "golden row missing"
    r = vsiem[0]
    assert r.title == "Всем миром для общей пользы • Umputun тут был"
    assert len(r.content.encode("utf-8")) == 9665
    podcast = [r for r in out if "podcast-369" in r.url][0]
    assert podcast.lead_image_url == "https://podcast.umputun.com/images/uwp/uwp369.jpg"
    assert len(podcast.links) == 13


def test_salting_does_not_change_results(spark):
    plain = _extract_fixtures(spark, num_partitions=4).orderBy("conv_id", "turn_idx")
    salted = _extract_fixtures(spark, num_partitions=4, salt_buckets=8).orderBy(
        "conv_id", "turn_idx"
    )
    assert [r.asDict() for r in plain.collect()] == [r.asDict() for r in salted.collect()]


def test_broadcast_join_plan_and_rule_path(spark):
    rules = spark.createDataFrame(
        [
            ("r1", "umputun.com", ".content p", True, False),
            ("r0", "umputun.com", "#content p, .post-title", True, True),
            ("rx", "umputun.com", ".disabled-rule", False, False),
        ],
        "id string, domain string, content string, enabled boolean, use_cloudflare boolean",
    )
    trans = fixture_transcripts_df(spark, n_turns=12)
    joined = join_rules(trans, rules)
    # physical plan must use a broadcast hash join (S4 → BroadcastHashJoin)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]

    out = run_extraction(joined, snippet_size=200).collect()
    apple = [r for r in out if "apple-maps" in r.url][0]
    # first-match by id: r0 (#content p, .post-title) wins over r1; that selector
    # matches nothing in the fixture → fallback to general parser — exactly the
    # reference's own behavior (readability_test.go:346-377 goldens are general
    # output). Distributed result must equal the local engine result.
    from ukeeper_readability_spark.engine import extract_document

    local = extract_document(
        [r for r in fixture_transcript_rows(12) if "apple-maps" in r[4]][0][3],
        apple.url,
        rule_selector="#content p, .post-title",
        snippet_size=200,
    )
    assert apple.content == local["content"]
    assert apple.rich_content == local["rich_content"]
    assert apple.m_rule_hit == 0 and apple.m_general_parse == 1
    assert apple.routed_cloudflare is True  # routing uses the rule even on fallback
    # podcast host has no enabled rule match → general parser
    podcast = [r for r in out if "podcast-369" in r.url][0]
    assert podcast.routed_cloudflare is False


def test_host_includes_port(spark):
    df = spark.createDataFrame(
        [("c", 0, "t", "<p>x</p>", "http://example.com:8080/a/b?q=1", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    assert with_host(df).select("host").first().host == "example.com:8080"


def test_manifest_resume(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    trans = fixture_transcripts_df(spark, n_turns=36)
    joined = join_rules(trans, None)
    extracted = run_extraction(joined, snippet_size=200)

    nb = 4
    # the sink's dynamic overwrite is a writer option, not a session setting
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    session_mode = spark.conf.get(mode_key)
    # simulate a partial run: only the first populated bucket written on attempt 1
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(nb)).cast("int")
    present = sorted(
        r.b for r in trans.select(bucket.alias("b")).distinct().collect()
    )
    assert len(present) >= 2, "need ≥2 populated buckets for a resume test"
    first = present[0]
    partial = extracted.filter(bucket == first)
    write_with_manifest(partial, out_dir, run_id="r1", nbuckets=nb, buckets=[first])

    pend = pending_buckets(spark, out_dir, nb)
    assert first not in pend
    assert set(present[1:]).issubset(set(pend))

    # resume: process only pending buckets, then everything is present exactly once
    rest = run_extraction(
        join_rules(filter_pending(trans, pend, nb), None), snippet_size=200
    )
    write_with_manifest(rest, out_dir, run_id="r2", nbuckets=nb, attempt=2, buckets=pend)
    final = spark.read.parquet(os.path.join(out_dir, "extracted"))
    assert final.count() == 36
    assert final.select("conv_id", "turn_idx").distinct().count() == 36
    assert pending_buckets(spark, out_dir, nb) == []
    assert spark.conf.get(mode_key) == session_mode


def test_pending_buckets_raises_on_a_corrupt_manifest(spark, tmp_path):
    """Only a missing manifest means nothing is done; a corrupt one must
    raise, not report every bucket pending (a resume would then redo the
    whole job on every restart and never finish)."""
    out_dir = str(tmp_path / "out")
    assert pending_buckets(spark, out_dir, 4) == [0, 1, 2, 3]
    os.makedirs(os.path.join(out_dir, "manifest"))
    with open(os.path.join(out_dir, "manifest", "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        pending_buckets(spark, out_dir, 4)


def test_run_pipeline_end_to_end(spark, tmp_path):
    """Transcripts and rules parquet in, manifest sink out: the rows read
    back equal an in-memory extraction of the same join, and no bucket is
    left pending."""
    from ukeeper_readability_spark.jobs.schemas import RULES_SCHEMA

    trans = fixture_transcripts_df(spark, n_turns=6)
    rules = spark.createDataFrame(
        [("r1", "umputun.com", None, ".content p", None, None, None, None, None, True, True)],
        RULES_SCHEMA,
    )
    trans_path, rules_path = str(tmp_path / "transcripts"), str(tmp_path / "rules")
    out_dir = str(tmp_path / "out")
    trans.write.parquet(trans_path)
    rules.write.parquet(rules_path)

    out = run_pipeline(
        spark, trans_path, rules_path=rules_path, output_path=out_dir, snippet_size=200
    )
    expected = run_extraction(join_rules(trans, rules), snippet_size=200)
    cols = expected.columns

    def key(r):
        return (r.conv_id, r.turn_idx)

    got = sorted(out.select(*cols).collect(), key=key)
    assert len(got) == 6
    assert [r.asDict() for r in got] == [
        r.asDict() for r in sorted(expected.collect(), key=key)
    ]
    apple = [r for r in got if "apple-maps" in r.url][0]
    assert apple.m_rule_hit == 1 and apple.routed_cloudflare is True
    podcast = [r for r in got if "podcast-369" in r.url][0]
    assert podcast.m_rule_hit == 0 and len(podcast.links) == 13
    assert pending_buckets(spark, out_dir, 32) == []


def test_extract_by_rule_preview(spark):
    from ukeeper_readability_spark.jobs.extract_job import extract_by_rule

    trans = fixture_transcripts_df(spark, n_turns=3)
    out = extract_by_rule(trans, ".content p", snippet_size=200).collect()
    apple = [r for r in out if "apple-maps" in r.url][0]
    assert apple.m_rule_hit == 1  # selector matches class="content container"
    vsiem = [r for r in out if "vsiem" in r.url][0]
    assert vsiem.routed_cloudflare is False


def test_salting_spreads_skewed_conversation(spark):
    # one conversation holds every turn; salted repartition must spread it
    trans = fixture_transcripts_df(spark, n_turns=24, skew_conv_every=1)
    assert trans.select("conv_id").distinct().count() == 1
    joined = join_rules(trans, None)
    out = run_extraction(joined, snippet_size=200, num_partitions=8, salt_buckets=8)
    pids = out.withColumn("pid", F.spark_partition_id()).select("pid").distinct().count()
    assert pids > 1, "salted repartition left the skewed conversation on one partition"


def test_partition_metrics(spark):
    out = _extract_fixtures(spark, num_partitions=2)
    m = partition_metrics(out).collect()
    assert sum(r.rows for r in m) == 12
    assert all(r.general_parses == r.rows for r in m)  # no rules joined
    assert all(r.nodes_scored > 0 for r in m)


def test_rules_store_merge_semantics(spark):
    rules = spark.createDataFrame(
        [("id1", "a.com", ".p", True, False), ("id2", "b.com", ".q", True, False)],
        "id string, domain string, content string, enabled boolean, use_cloudflare boolean",
    )
    updates = spark.createDataFrame(
        [("idX", "a.com", "#new", True, True), ("id9", "c.com", ".r", True, False)],
        "id string, domain string, content string, enabled boolean, use_cloudflare boolean",
    )
    merged = {r.domain: r for r in save_rules(rules, updates).collect()}
    assert len(merged) == 3
    assert merged["a.com"].id == "id1"  # existing id preserved (rules.go:79-85)
    assert merged["a.com"].content == "#new"
    assert merged["c.com"].id == "id9"

    disabled = {r.id: r for r in disable_rule(rules, "id2").collect()}
    assert disabled["id2"].enabled is False
    assert disabled["id1"].enabled is True


def test_binary_body_extraction_through_spark(spark):
    """run_extraction_bytes: cp1251 bytes with a body meta decode through the
    full mapInPandas plan; the reported charset stays the header label while
    content round-trips the Cyrillic payload (engine/charset.py semantics)."""
    payload = (
        '<html><head><meta charset="windows-1251"><title>Тест N</title></head>'
        "<body><div><p>слово " + "далее " * 60 + "конец</p></div></body></html>"
    )
    rows = [
        (f"conv-{i}", 0, payload.replace("N", str(i)).encode("cp1251"),
         "text/html; charset=windows-1251", f"http://h{i}.example.com/p", "tool")
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, body_bytes binary, "
        "header_content_type string, tool string, role string",
    )
    from ukeeper_readability_spark.jobs.extract_job import run_extraction_bytes

    joined = df.withColumn("rule_content", F.lit(None).cast("string")).withColumn(
        "routed_cloudflare", F.lit(False)
    )
    out = {r.conv_id: r for r in run_extraction_bytes(joined, snippet_size=100).collect()}
    assert len(out) == 6
    for i in range(6):
        r = out[f"conv-{i}"]
        assert r.charset == "windows-1251" and r.type == "text/html"
        assert r.title == f"Тест {i}"
        assert r.content.startswith("слово далее") and r.content.endswith("конец")


def test_binary_body_corrupt_bytes_through_spark(spark):
    """Corrupt bytes in text AND inside href/src attributes must survive the
    full run_extraction_bytes plan: surrogateescape chars (Go Nop parity) are
    scrubbed to U+FFFD at the Arrow boundary for EVERY string column —
    images/lead_image_url carry raw src bytes, links are %XX-escaped."""
    para = ("Scored paragraph text here. " * 30).encode()
    raw = (
        b"<html><head><title>T</title></head><body><div><p>" + para +
        b'corrupt\x80end <a href="/x\x80y">l</a> <img src="/im\xffg.png"></p>'
        b"<p>" + para + b"</p></div></body></html>"
    )
    rows = [(f"conv-{i}", 0, raw, "text/html; charset=utf-8",
             f"http://h{i}.example.com/p", "tool") for i in range(4)]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, body_bytes binary, "
        "header_content_type string, tool string, role string",
    )
    from ukeeper_readability_spark.jobs.extract_job import run_extraction_bytes

    joined = df.withColumn("rule_content", F.lit(None).cast("string")).withColumn(
        "routed_cloudflare", F.lit(False)
    )
    got = run_extraction_bytes(joined, snippet_size=100).collect()
    assert len(got) == 4
    for r in got:
        assert "corrupt�end" in r.content
        assert r.images == ["/im�g.png"]
        assert r.lead_image_url == "/im�g.png"
        assert any(l.endswith("/x%80y") for l in r.links)
