"""Deduplication operators over a document corpus — Spark-built-in-first.

All stages are JVM-side (explode / groupBy / min / joins); no Python UDFs.
Folds, maps and literal lists are SQL text (see sqltext).
Two hash modes:
  - "fast": xxhash64 (Tungsten-native) — the production path at 100 TB;
  - "portable": md5 hex strings (identical in DuckDB) — lets the driver's
    oracle verify the full shingle→minhash→band→bucket-join composition
    value-for-value, not just row counts.

Column contract: documents are (doc_id, text); candidate pairs are
(doc_a, doc_b). Every operator reads those names and takes no column-name
parameters.

Scale notes: minhash signatures are k aggregations over an exploded shingle
relation — one shuffle on doc_id with map-side partial min; banding re-shuffles
on (band, band_key) whose cardinality is bounded by corpus size, not pair
count, so the O(n²) candidate space is never materialized beyond same-bucket
groups. Skewed buckets (boilerplate-identical shingles) are capped by
`max_bucket` before the pair join.
"""

from __future__ import annotations

import time
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .sqltext import let, word_shingles


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup by full-text hash: (doc_id, canonical_id, group size).

    Canonical = lowest key in the group. Hash-groupBy — one shuffle on the text
    hash, never on the text itself.
    """
    w = Window.partitionBy("text_hash")
    return (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .filter(F.col("group_size") > 1)
        .select("doc_id", "canonical_id", "group_size")
    )


def _shingle_array(n: int) -> str:
    """SQL: the distinct word n-gram shingles of a doc as an ARRAY —
    deduplicated inside the row (array_distinct), never via a relational
    distinct, so no shuffle is ever needed to build shingles. The token array
    is let-bound."""
    return let("toks", "split(trim(text), ' +')", f"array_distinct({word_shingles('toks', n)})")


def minhash_signatures(
    docs: DataFrame, shingle_n: int = 3, k: int = 16, portable: bool = False
) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): min over shingles of k seeded hashes.

    A pure map-side projection: the k minima are computed over the per-doc
    shingle ARRAY (array_min ∘ transform), so signature building needs ZERO
    shuffles — the round-1 shape (explode → distinct → groupBy) shuffled the
    8.9M-row shingle relation twice to produce 120k signature rows. The first
    shuffle in the LSH pipeline is now the band bucket join itself.

    The shingle array is materialized in its OWN projection: CollapseProject
    keeps a multiply-referenced non-cheap alias un-inlined, so the array is
    built once per row instead of k times (measured 1.8× on 120k docs).
    """
    base = docs.select("doc_id", F.expr(_shingle_array(shingle_n)).alias("_sh"))
    seeded = "md5(concat(s, '#{i}'))" if portable else "xxhash64(s, {i})"
    return base.selectExpr("doc_id", *(
        f"array_min(transform(_sh, s -> {seeded.format(i=i)})) AS mh_{i}"
        for i in range(k)
    ))


def minhash_lsh_pairs(
    docs: DataFrame,
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
    portable: bool = False,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs (doc_a < doc_b) via banded minhash LSH.

    bands × rows-per-band = k. Pairs emerge join-free from in-row expansion
    of per-bucket id lists (two exchanges total — see the inline note);
    buckets larger than `max_bucket` (degenerate boilerplate) are dropped —
    at web scale those are handled by exact dedup first. k must be a
    positive multiple of bands: an empty band key would pair every document.
    """
    if bands < 1 or k < bands or k % bands:
        raise ValueError(f"k must be a positive multiple of bands, got k={k}, bands={bands}")
    r = k // bands
    sig = minhash_signatures(docs, shingle_n, k, portable)
    band_keys = ", ".join(
        f"named_struct('band', {b}, 'band_key', concat_ws('|', "
        + ", ".join(f"CAST(mh_{i} AS STRING)" for i in range(b * r, (b + 1) * r))
        + "))"
        for b in range(bands)
    )
    buckets = sig.selectExpr("doc_id", f"explode(array({band_keys})) AS bk").select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )

    # TWO exchanges total, plan-pinned (tests/test_plan_shape.py): the band
    # key groupBy (map-side partial agg), then the final distinct's exchange
    # on the emitted PAIRS — required because a near-dup pair can collide in
    # several bands and must be emitted once; it shuffles candidate pairs,
    # bounded by candidate count, never bucket contents. The in-row pair
    # expansion replaces the former window-cap + bucket self-join, which
    # shuffled the bucket ROWS twice on the same key.
    # Per-row memory stays O(max_bucket): posexplode pins doc_a, the inner
    # slice holds only the ids after it, and each emitted pair is a row.
    # doc_a < doc_b falls out of array_sort (same binary string collation as
    # the `<` the self-join used), so the output set is IDENTICAL.
    grouped = (
        buckets.groupBy("band", "band_key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .select(F.array_sort("ids").alias("ids"))
    )
    return (
        grouped.select(F.col("ids"), F.posexplode("ids").alias("i", "doc_a"))
        .select(
            "doc_a",
            F.explode(
                F.slice("ids", F.col("i") + F.lit(2), F.size("ids"))
            ).alias("doc_b"),
        )
        .distinct()
        .select("doc_a", "doc_b")
    )


def _pruned_shingles(docs: DataFrame, pairs: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingles) for the docs that appear in a candidate pair: the
    shingle table ngram_jaccard snapshots, before the snapshot (the plan
    tests assert its unhinted left-semi prune on this exact shape)."""
    cand = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    return docs.select(
        "doc_id", F.expr(_shingle_array(n)).alias("shingles")
    ).join(cand, "doc_id", "left_semi")


def ngram_jaccard(docs: DataFrame, pairs: DataFrame, shingle_n: int = 3) -> DataFrame:
    """Exact Jaccard over word n-gram shingle sets for given candidate pairs.

    The shingle SET stays an in-row ARRAY end to end (round 4): the per-doc
    array is built map-side (_shingle_array), semi-join-pruned to docs that
    actually appear in a candidate pair, joined once per pair side, and the
    intersection is computed in-row with array_intersect — the same shape
    the DuckDB oracle uses (list_intersect). The former shape exploded
    shingles into a ~75×-doc-count relation and pushed it through a
    groupBy + two joins + re-aggregation; now the only shuffled rows are
    (doc, array) — one per pruned doc — and (pair) rows. The prune and the
    pair joins are deliberately UNHINTED (VERDICT r2 item 3): the candidate
    set can be billions of ids at 100 TB, so a forced broadcast would OOM
    the driver — AQE picks broadcast vs shuffle from runtime sizes.

    The pair input is SNAPSHOT once with a lazy localCheckpoint (r06): it is
    referenced three times in this query (the pair join and both branches of
    the candidate-doc prune), and because column pruning specializes each
    occurrence, ReuseExchange cannot dedup them — the physical plan
    replicated the entire upstream LSH candidate pipeline per occurrence
    (measured at 20k docs: the verify plan went from 7 parquet-scan /
    12 shuffle-Exchange / 5 posexplode nodes to 0 scans / 0 shuffle
    Exchanges over 3 snapshot scans — the LSH pipeline now runs once, for
    the pair snapshot). "Lazy" does not mean no work at the call: under AQE
    each localCheckpoint(eager=False) call below already runs its plan's
    shuffle-map stages (the LSH pipeline's, the prune's), and the first
    action on the result runs the rest.
    The checkpoint is sized by the candidate-pair count — the same bound
    dedup_components already materializes. On a real cluster point
    spark.checkpoint.dir at durable storage and use checkpoint() for fault
    tolerance of long chains.

    Both lazy snapshots stay pinned while the returned DataFrame is
    referenced; Spark's ContextCleaner frees them only after the caller
    drops it. This function cannot release them itself (unlike
    dedup_components' loops): the result reads them lazily, so every action
    on it scans them, and no action of this function's own ever consumes
    them.
    """
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    # the pruned (doc, shingle-array) table is joined on BOTH pair sides
    # (different keys, so no exchange reuse) — snapshot it too, so the scan +
    # shingle build runs once instead of once per side; bounded by the
    # candidate-doc count, strictly smaller than the pair snapshot above
    sh = _pruned_shingles(docs, pairs, shingle_n)
    sh = sh.localCheckpoint(eager=False)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("_sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter / (F.size("_sa") + F.size("_sb") - inter), 6
            ).alias("jaccard"),
        )
    )


def simhash(docs: DataFrame, bits: int = 16, portable: bool = False) -> DataFrame:
    """(doc_id, simhash int): sign-sum over token hash bits.

    Portable mode uses the first bits/4 hex chars of md5 (verifiable in
    DuckDB), so bits is a multiple of 4 in 4..60; fast mode uses the low
    `bits` of xxhash64, 1..62.
    """
    if portable and not (4 <= bits <= 60 and bits % 4 == 0):
        raise ValueError(f"portable simhash bits must be a multiple of 4 in 4..60, got {bits}")
    if not portable and not 1 <= bits <= 62:
        raise ValueError(f"fast simhash bits must be in 1..62, got {bits}")
    toks = docs.select("doc_id", F.explode(F.split(F.trim("text"), " +")).alias("tok"))
    if portable:
        # nibble j of md5 hex → 4 bits each; use first bits/4 hex chars
        h = f"CAST(conv(substring(md5(tok), 1, {bits // 4}), 16, 10) AS BIGINT)"
    else:
        h = f"pmod(xxhash64(tok), {2 ** bits})"
    agg = toks.withColumn("h", F.expr(h)).groupBy("doc_id").agg(*(
        F.expr(f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END) AS s_{j}")
        for j in range(bits)
    ))
    sim = "".join(f" + CASE WHEN s_{j} > 0 THEN {2 ** j} ELSE 0 END" for j in range(bits))
    return agg.selectExpr("doc_id", f"CAST(0 AS BIGINT){sim} AS simhash")


def _release(snapshot: DataFrame) -> None:
    """Unpersist a localCheckpoint snapshot's RDD now instead of at GC.

    DataFrame.unpersist() does nothing for a checkpoint (it only drops
    cache-manager entries), so this goes to the snapshot's LogicalRDD.
    Call it only after the action that consumes the snapshot has run, and
    never on the snapshot a returned DataFrame reads: a plan that still
    reads a released snapshot fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    (it does not recompute silently)."""
    snapshot._jdf.queryExecution().logical().rdd().unpersist(False)


def dedup_components(
    pairs: DataFrame,
    max_iters: int = 20,
    mode: str = "propagate",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over the candidate-pair graph: (doc_id,
    component_id), where component_id is the MIN doc id in the component —
    the canonical representative production dedup keeps.

    mode="propagate" (default): min-label propagation — every node starts
    labeled with itself; each round takes the min label over itself and its
    neighbors; stops when no label changes. Round count = graph DIAMETER.
    An LSH candidate graph is a union of per-bucket cliques, so duplicate
    chains hop at most a handful of buckets (diameter ~ bands, not n) — the
    right regime for propagation.

    mode="star": alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", 2014) — converges in
    O(log^2 n) rounds regardless of diameter, the safe choice for
    arbitrary/adversarial graphs (a crawl-chain corpus can legally produce a
    path graph, where propagation needs n rounds).
    tests/test_pipeline.py demonstrates the separation on a 64-node path.
    Any other mode is a ValueError.

    The (u, v) edge list is snapshot ONCE (eager localCheckpoint) and both
    algorithms read that snapshot — the caller's pair plan runs once per
    call, fallback included. Each round is join + groupBy keyed on node id
    (AQE picks the strategy); lineage is cut per round with localCheckpoint
    so the plan stays constant-size across iterations — on a real cluster
    point spark.checkpoint.dir at durable storage and use checkpoint()
    instead. Only the CONVERGENCE COUNTER crosses the driver, never
    labels/edges. Every superseded snapshot, the edge snapshot included, is
    released (_release) once the action that consumes it has run, so on
    return exactly one snapshot is still pinned: the one the result reads,
    freed by Spark's ContextCleaner after the caller drops the result.
    The loops build no Union (both directions of an edge come from one
    `inline` over a single scan) and write no session config.

    A solve that EXHAUSTS max_iters without converging has wrong labels, so
    it is never returned silently (ADVICE r4): propagation warns and
    re-solves with the diameter-independent star mode (stats report mode
    "propagate->star"); star rounds that exhaust max_iters, in either mode,
    raise RuntimeError.

    Pass `stats={}` to receive rounds-to-convergence instrumentation:
    {"mode", "rounds", "converged"} — the numbers BENCH.md reports for the
    iterative stage of the dedup chain — plus "fallback_rounds" when the
    star fallback ran. Seed the dict with {"round_sec": []} to ALSO receive
    wall seconds per round, in both modes and across a fallback (propagate
    rounds, then star rounds: len == rounds + fallback_rounds). Opt-in (r06)
    because the frozen bench.py dumps this dict verbatim into its single
    JSON line, which must stay short (the r5 parsed-null failure).

    max_iters must be >= 1: no mode can return labels without running a
    round.
    """
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    if mode not in ("propagate", "star"):
        raise ValueError(f"mode must be 'propagate' or 'star', got {mode!r}")
    round_sec: list = []
    fallback_rounds = None
    edges = pairs.selectExpr("doc_a AS u", "doc_b AS v").localCheckpoint(eager=True)
    solve = _components_star if mode == "star" else _components_propagate
    out, rounds = solve(edges, max_iters, round_sec)
    if out is None and mode == "propagate":
        warnings.warn(
            f"dedup_components(mode='propagate') did not converge in "
            f"{max_iters} rounds — a component is wider than max_iters hops"
            "; falling back to mode='star' (O(log^2 n) rounds)",
            stacklevel=2,
        )
        mode = "propagate->star"
        out, fallback_rounds = _components_star(edges, max_iters, round_sec)
    _release(edges)
    if out is None:
        raise RuntimeError(
            f"dedup_components(mode={mode!r}): star rounds did not converge "
            f"in max_iters={max_iters} rounds; raise max_iters"
        )
    if stats is not None:
        if "round_sec" in stats:
            stats["round_sec"] = round_sec
        stats.update(mode=mode, rounds=rounds, converged=True)
        if fallback_rounds is not None:
            stats["fallback_rounds"] = fallback_rounds
    return out


# both directions of each (u, v) edge from ONE scan, with no Union: on
# filter-derived edges, a self-union over a round snapshot that a Union
# built crashes Catalyst's UnionBase.rewriteConstraints ("key not found")
_BOTH_WAYS = "inline(array(named_struct('u', u, 'v', v), named_struct('u', v, 'v', u)))"


def _components_propagate(
    edges: DataFrame, max_iters: int, round_sec: list
) -> tuple[DataFrame | None, int]:
    """Min-label propagation over the (u, v) edge snapshot:
    (components, rounds). Components is None when max_iters rounds did not
    converge — its labels would be wrong, so its snapshot is released here
    and nothing reads it.

    DELTA ITERATION (round 5): labels are monotone non-increasing, so a
    node's label can only drop when a NEIGHBOR'S label dropped — each round
    joins edges against the FRONTIER (nodes changed last round), not the
    full label table; on LSH clique graphs the frontier collapses after a
    round or two. FUSED ROUND 1 (r06): with identity labels, round 1's
    message to u is simply min(N(u)), one aggregation over the edge list
    whose groupBy also yields the node set (the edges are symmetrized, so u
    covers every endpoint).

    ONE action per round (r06): the snapshot is LAZY and the convergence
    probe is a count over its changed-flag column, so the counting job is
    ALSO the job that materializes it (local checkpointing is cache-based —
    the first action through the marked RDD persists it). Under AQE the
    localCheckpoint call itself already runs the round's shuffle-map
    stages, which read the previous snapshot; it is released after the
    count, once nothing can read it.
    """
    sym = edges.selectExpr(_BOTH_WAYS)
    snap = None
    for rounds in range(1, max_iters + 1):
        t0 = time.perf_counter()
        if snap is None:
            step = sym.groupBy("u").agg(F.min("v").alias("nb_min")).select(
                F.col("u").alias("node"),
                F.least("u", "nb_min").alias("label"),
                (F.col("nb_min") < F.col("u")).alias("_chg"),
            )
        else:
            frontier = snap.filter("_chg").select(
                F.col("node").alias("v"), F.col("label").alias("vlab")
            )
            msgs = (
                sym.join(frontier, "v")
                .groupBy("u")
                .agg(F.min("vlab").alias("nb_min"))
                .withColumnRenamed("u", "node")
            )
            step = snap.select("node", "label").join(msgs, "node", "left").select(
                "node",
                F.least("label", F.coalesce("nb_min", "label")).alias("label"),
                (F.coalesce("nb_min", "label") < F.col("label")).alias("_chg"),
            )
        prev, snap = snap, step.localCheckpoint(eager=False)
        n_changed = snap.filter("_chg").count()
        round_sec.append(round(time.perf_counter() - t0, 3))
        if prev is not None:
            _release(prev)
        if n_changed == 0:
            out = snap.select(
                F.col("node").alias("doc_id"), F.col("label").alias("component_id")
            )
            return out, rounds
    _release(snap)
    return None, max_iters


def _components_star(
    edges: DataFrame, max_iters: int, round_sec: list
) -> tuple[DataFrame | None, int]:
    """Alternating large-star/small-star rounds (Kiveris et al. 2014 §3)
    over the (u, v) edge snapshot: (components, rounds). Components is None
    when max_iters rounds did not reach the fixpoint — its labels would be
    wrong, so the round's edges are released here and nothing reads them.

    Edges are kept canonical as (u, v) with u > v. Per round:
      large-star: for each node u over its FULL neighborhood N(u),
        m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u;
      small-star: for each node u over its smaller neighbors
        N⁻(u) = {v : v < u}, m = min(N⁻(u) ∪ {u}); emit (v, m) for
        v ∈ N⁻(u) ∪ {u}, v ≠ m.
    At the fixpoint every component is a star rooted at its minimum: each
    member has exactly one edge, to its root. Fixpoint detection compares
    the canonical edge set's (count, xor-of-hashes) fingerprint between
    rounds — the operators converge monotonically, so a stable fingerprint
    is a stable set. Labels are read off the edges by a left join from the
    node set (derived from the edge snapshot), so roots and nodes that lost
    all edges en route label themselves.
    """
    # lazy: the first fingerprint collect materializes it
    e = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def fingerprint(g):
        row = g.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("x"),
        ).collect()[0]
        return row.n, row.x

    fp = fingerprint(e)
    for rounds in range(1, max_iters + 1):
        t0 = time.perf_counter()
        # ---- large-star over the symmetric neighborhood ----
        sym = e.selectExpr(_BOTH_WAYS)
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        # LAZY snapshots (r06): no job only materializes a snapshot — the
        # fingerprint collect below persists both the large-star and
        # small-star RDDs (local checkpointing is cache-based). Under AQE
        # each lazy localCheckpoint call already runs its plan's
        # shuffle-map stages, so a round still runs more than one job.
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # ---- small-star over the smaller-neighbor lists (u > v already) ----
        mins = (
            large.groupBy("u")
            .agg(F.min("v").alias("m"))  # m = min(N⁻(u)) < u = min(N⁻ ∪ {u})
        )
        small = (
            large.join(mins, "u")
            .selectExpr(
                "inline(array(named_struct('u', greatest(v, m), 'v', least(v, m)),"
                " named_struct('u', u, 'v', m)))"
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_fp = fingerprint(small)
        round_sec.append(round(time.perf_counter() - t0, 3))
        _release(e)
        _release(large)
        e = small
        if new_fp == fp:
            break
        fp = new_fp
    else:
        _release(e)
        return None, max_iters
    # eager: the caller releases the edge snapshot the node set reads
    nodes = edges.selectExpr("explode(array(u, v)) AS n").distinct()
    out = (
        nodes.join(e.select(F.col("u").alias("n"), F.col("v").alias("root")), "n", "left")
        .selectExpr("n AS doc_id", "coalesce(root, n) AS component_id")
        .localCheckpoint(eager=True)
    )
    _release(e)
    return out, rounds
