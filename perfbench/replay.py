"""Single-process replay of extraction rows through the engine.

The untraced pass times every row through `extract_document` /
`extract_document_bytes`, with the garbage collector handled the way the
extraction UDF handles it (off while documents run, one collection per
128-row Arrow batch). That total is the engine time the Spark job's UDF
stage is compared against.

The traced pass replays a seeded sample with the `htmldom` and `engine`
functions wrapped under the names the engine modules import them by, so
each call records a span. Self times then split the sample's time by layer.
"""

from __future__ import annotations

import contextlib
import gc
import math
import random
import statistics
import time

from ukeeper_readability_spark.engine import charset as _charset
from ukeeper_readability_spark.engine import extract as _extract
from ukeeper_readability_spark.engine import pics as _pics
from ukeeper_readability_spark.engine import readability as _readability
from ukeeper_readability_spark.engine import sanitize_text as _sanitize_text
from ukeeper_readability_spark.htmldom.gostr import utf8_len

BATCH = 128  # spark.sql.execution.arrow.maxRecordsPerBatch set by get_spark
PASSES = 2  # untraced/traced replay pairs over the sample

# (module or class, attribute, span name): every binding the engine calls
WRAPPED = [
    (_extract, "parse", "htmldom.parse"),
    (_readability, "parse", "htmldom.parse"),
    (_sanitize_text, "parse", "htmldom.parse"),
    (_extract, "parse_head", "htmldom.parse_head"),
    (_charset, "parse_head", "htmldom.parse_head"),
    (_extract, "find_all", "htmldom.find_all"),
    (_readability, "find_all", "htmldom.find_all"),
    (_sanitize_text, "find_all", "htmldom.find_all"),
    (_pics, "find_all", "htmldom.find_all"),
    (_charset, "find_all", "htmldom.find_all"),
    (_charset, "to_utf8", "engine.to_utf8"),
    (_readability.Document, "__init__", "engine.readability"),
    (_readability.Document, "content_with_html", "engine.readability"),
    (_extract, "get_text", "engine.get_text"),
    (_extract, "normalize_links", "engine.normalize_links"),
    (_extract, "extract_pics", "engine.extract_pics"),
    (_extract, "extract_document", "engine.extract"),
    (_extract, "extract_document_bytes", "engine.extract"),
]

SELF_METRICS = {
    "htmldom.parse_s": "htmldom.parse",
    "htmldom.parse_head_s": "htmldom.parse_head",
    "htmldom.find_all_s": "htmldom.find_all",
    "engine.to_utf8_s": "engine.to_utf8",
    "engine.readability_s": "engine.readability",
    "engine.get_text_s": "engine.get_text",
    "engine.normalize_links_s": "engine.normalize_links",
    "engine.extract_pics_s": "engine.extract_pics",
    "engine.extract_self_s": "engine.extract",
}


@contextlib.contextmanager
def wrapped(tracer, parses: list):
    """Install span wrappers; `parses` receives (kind, input KB, seconds)
    for each parse / parse_head call. Originals are restored on exit."""
    saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _ in WRAPPED]
    try:
        for owner, attr, name in WRAPPED:
            fn = owner.__dict__[attr]
            if name in ("htmldom.parse", "htmldom.parse_head"):
                fn = _sized(tracer, parses, name, fn)
            setattr(owner, attr, tracer.wrap(name, fn))
    except BaseException:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
        raise
    try:
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def _sized(tracer, parses: list, kind: str, fn):
    def parse_call(s, *args, **kwargs):
        t0 = tracer.clock()
        try:
            return fn(s, *args, **kwargs)
        finally:
            parses.append((kind, utf8_len(s) / 1024, tracer.clock() - t0))

    return parse_call


def _call(doc, binary: bool) -> dict:
    body, url, rule, header = doc
    if binary:
        return _extract.extract_document_bytes(
            body, url, rule_selector=rule, header_content_type=header
        )
    return _extract.extract_document(body, url, rule_selector=rule)


def _replay(docs, binary: bool):
    """(per-document seconds, results) with the UDF's GC discipline."""
    times, results = [], []
    enabled = gc.isenabled()
    gc.disable()
    try:
        for i, doc in enumerate(docs):
            t0 = time.perf_counter()
            results.append(_call(doc, binary))
            times.append(time.perf_counter() - t0)
            if (i + 1) % BATCH == 0:
                gc.collect()
    finally:
        if enabled:
            gc.enable()
    return times, results


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def run(docs, binary: bool, tracer, seed: int, sample: int) -> dict:
    """Engine time of every row, then PASSES alternating untraced/traced
    replays of a seeded sample; self times are averaged over traced passes."""
    times, results = _replay(docs, binary)
    engine_s = sum(times)
    n = len(docs)
    idx = sorted(random.Random(f"replay:{seed}").sample(range(n), min(sample, n)))
    picked = [docs[i] for i in idx]

    parses: list = []
    untraced_s = traced_s = 0.0
    tracer.rep = "replay"
    for _ in range(PASSES):
        untraced_s += sum(_replay(picked, binary)[0])
        with wrapped(tracer, parses):
            traced_s += sum(_replay(picked, binary)[0])
    totals = tracer.totals(rep="replay")
    per_pass = len(picked) * PASSES

    ms = [t * 1000 for t in times]
    m = {key: totals.get(span, 0.0) / PASSES for key, span in SELF_METRICS.items()}
    full = [(kb, s) for kind, kb, s in parses if kind == "htmldom.parse" and kb >= 1]
    us_per_kb = [s * 1e6 / kb for kb, s in full] or [0.0]
    m.update({
        "htmldom.parses_per_doc": len(parses) / per_pass,
        "htmldom.parse_kb_per_doc": sum(kb for _, kb, _ in parses) / per_pass,
        "htmldom.parse_us_per_kb.p50": statistics.median(us_per_kb),
        "htmldom.parse_us_per_kb.max": max(us_per_kb),
        "engine.doc_ms.p50": statistics.median(ms),
        "engine.doc_ms.p99": percentile(ms, 99),
        "engine.doc_ms.max": max(ms),
        "engine.doc_ms.samples": n,
    })
    for key in ("nodes_scored", "candidates_rejected", "retries_relaxed"):
        m[f"engine.{key}"] = sum(r["metrics"][key] for r in results) / n
    return {
        "engine_s": engine_s,
        "overhead_share": traced_s / untraced_s - 1,
        "metrics": m,
    }
