"""Deduplication operators over a document corpus — Spark-built-in-first.

All stages are JVM-side (explode / groupBy / min / joins); no Python UDFs.
Two hash modes:
  - "fast": xxhash64 (Tungsten-native) — the production path at 100 TB;
  - "portable": md5 hex strings (identical in DuckDB) — lets the driver's
    oracle verify the full shingle→minhash→band→bucket-join composition
    value-for-value, not just row counts.

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
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def exact_duplicates(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Exact dedup by full-text hash: (doc_id, canonical_id, group size).

    Canonical = lowest key in the group. Hash-groupBy — one shuffle on the text
    hash, never on the text itself.
    """
    h = F.md5(F.col(text_col)).alias("text_hash")
    w = Window.partitionBy("text_hash")
    return (
        docs.select(F.col(key_col).alias("doc_id"), h)
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .filter(F.col("group_size") > 1)
        .select("doc_id", "canonical_id", "group_size")
    )


def _shingle_array(text_col: str, n: int):
    """Distinct word n-gram shingles of a doc as an ARRAY expression —
    deduplication happens inside the row (array_distinct), never via a
    relational distinct, so no shuffle is ever needed to build shingles.

    The token array is LET-BOUND through a one-element-array transform so the
    inner lambda sees it as a lambda VARIABLE: higher-order functions are
    interpreted (CodegenFallback, no subexpression elimination), so a lambda
    body that captures the raw split() expression re-evaluates the split for
    EVERY array element — O(tokens²) per document, measured 7× slower on the
    bench corpus (3.7 s → 0.5 s noop at 20k docs, r06). Values are identical.
    """
    toks_raw = F.split(F.trim(F.col(text_col)), " +")

    def _body(toks):
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
        )

    return F.element_at(F.transform(F.array(toks_raw), _body), 1)


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    shingle_n: int = 3,
    k: int = 16,
    portable: bool = False,
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
    base = docs.select(
        F.col(key_col).alias("doc_id"),
        _shingle_array(text_col, shingle_n).alias("_sh"),
    )

    # NB: close over the seed via a factory — `lambda s, i=i:` would make
    # pyspark treat the lambda as the two-arg (element, index) form and bind
    # the seed to the array index
    def _hash_fn(i: int):
        if portable:
            return lambda s: F.md5(F.concat(s, F.lit(f"#{i}")))
        return lambda s: F.xxhash64(s, F.lit(i))

    cols = [
        F.array_min(F.transform(F.col("_sh"), _hash_fn(i))).alias(f"mh_{i}")
        for i in range(k)
    ]
    return base.select("doc_id", *cols)


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
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
    at web scale those are handled by exact dedup first.
    """
    rows_per_band = k // bands
    sig = minhash_signatures(docs, text_col, key_col, shingle_n, k, portable)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{i}").cast("string") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("|", *parts).alias("band_key"))
        )
    buckets = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))

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


def _pruned_shingles(
    docs: DataFrame, pairs: DataFrame, text_col: str, key_col: str, n: int
) -> DataFrame:
    """(doc_id, shingles) for the docs that appear in a candidate pair: the
    shingle table ngram_jaccard snapshots, before the snapshot (the plan
    tests assert its unhinted left-semi prune on this exact shape)."""
    cand = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    return docs.select(
        F.col(key_col).alias("doc_id"), _shingle_array(text_col, n).alias("shingles")
    ).join(cand, "doc_id", "left_semi")


def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
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
    Exchanges over 3 snapshot scans — the LSH pipeline now runs exactly
    once, inside the checkpoint materialization).
    The checkpoint is sized by the candidate-pair count — the same bound
    dedup_components already materializes. On a real cluster point
    spark.checkpoint.dir at durable storage and use checkpoint() for fault
    tolerance of long chains.
    """
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    # the pruned (doc, shingle-array) table is joined on BOTH pair sides
    # (different keys, so no exchange reuse) — snapshot it too, so the scan +
    # shingle build runs once instead of once per side; bounded by the
    # candidate-doc count, strictly smaller than the pair snapshot above
    sh = _pruned_shingles(docs, pairs, text_col, key_col, shingle_n)
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


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    bits: int = 16,
    portable: bool = False,
) -> DataFrame:
    """(doc_id, simhash int): sign-sum over token hash bits.

    bits=16 portable mode uses the first 4 hex chars of md5 (verifiable in
    DuckDB); fast mode uses the low `bits` of xxhash64.
    """
    toks = (
        docs.select(F.col(key_col).alias("doc_id"), F.explode(F.split(F.trim(F.col(text_col)), " +")).alias("tok"))
    )
    if portable:
        # nibble j of md5 hex → 4 bits each; use first bits/4 hex chars
        hexpart = F.substring(F.md5(F.col("tok")), 1, bits // 4)
        toks = toks.withColumn("h", F.conv(hexpart, 16, 10).cast("long"))
    else:
        toks = toks.withColumn("h", F.pmod(F.xxhash64("tok"), F.lit(2 ** bits)))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s_{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_aggs)
    sim = F.lit(0).cast("long")
    for j in range(bits):
        sim = sim + F.when(F.col(f"s_{j}") > 0, F.lit(2 ** j)).otherwise(0)
    return agg.select("doc_id", sim.alias("simhash"))


@contextmanager
def _constraint_propagation_off(df: DataFrame):
    """Catalyst's UnionBase.rewriteConstraints throws NoSuchElementException
    ('key not found: <attr>') on the iterated self-union plans the component
    algorithms build when the edge input carries filter-derived constraints
    (reproduced on Spark 4.1.2 with jaccard-filtered candidate pairs; the
    crash survives a localCheckpoint of the input). Constraint propagation
    only adds inferred filters these loops don't need, so scope it OFF for
    the iteration and restore the caller's setting after. Every DataFrame the
    loop returns is materialized (localCheckpoint) inside the scope, so no
    un-analyzed Union escapes it.

    Single-threaded assumption (ADVICE r5): the toggle is session-global, so
    a query PLANNED concurrently on the same SparkSession (another driver
    thread, a streaming micro-batch) inside this scope would also lose
    constraint propagation for that window — harmless to correctness (the
    setting only adds inferred filters) but a potential plan regression.
    The engine's drivers are single-threaded; revisit if that changes."""
    spark = df.sparkSession
    key = "spark.sql.constraintPropagation.enabled"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = "true"
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def dedup_components(
    pairs: DataFrame,
    key_a: str = "doc_a",
    key_b: str = "doc_b",
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

    Each round is join + groupBy keyed on node id (AQE picks the strategy);
    lineage is cut per round with localCheckpoint so the plan stays
    constant-size across iterations — on a real cluster point
    spark.checkpoint.dir at durable storage and use checkpoint() instead.
    Only the CONVERGENCE COUNTER crosses the driver, never labels/edges.

    Propagation that EXHAUSTS max_iters without converging has wrong labels
    for any component wider than max_iters hops — never returned silently
    (ADVICE r4): it warns and re-solves with the diameter-independent star
    mode (stats report mode "propagate->star").

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
    if stats is None:
        stats = {}
    if mode == "star":
        return _components_star(pairs, key_a, key_b, max_iters, stats)
    with _constraint_propagation_off(pairs):
        # materialize the directed edge list ONCE, then symmetrize from the
        # cached copy (r06): the former union-of-two-selects shape computed
        # the full upstream candidate/verify chain once per union branch
        p0 = pairs.select(
            F.col(key_a).alias("u"), F.col(key_b).alias("v")
        ).localCheckpoint(eager=True)
        sym = p0.union(p0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        converged = False
        rounds = 0
        # DELTA ITERATION (round 5): labels are monotone non-increasing, so a
        # node's label can only drop when a NEIGHBOR'S label dropped — each
        # round joins edges against the FRONTIER (nodes changed last round),
        # not the full label table. Round 1's frontier is everyone
        # (equivalent to the full recompute); on LSH clique graphs the
        # frontier collapses after a round or two and late rounds shuffle
        # almost nothing instead of re-sending every edge's message.
        #
        # ONE action per round (r06): the checkpoint is LAZY and the
        # convergence probe is a count over the changed-flag column of the
        # same DataFrame, so the counting job is ALSO the job that
        # materializes the checkpoint (local checkpointing is cache-based —
        # the first action through the marked RDD persists it). The round-5
        # shape paid two jobs per round: an eager-checkpoint materialization
        # plus a separate limit(1) existence probe.
        # FUSED ROUND 1 (r06): with identity labels, round 1's message to u
        # is simply min(N(u)) — one aggregation over the edge list replaces
        # the old init chain (distinct-nodes checkpoint, then a full
        # frontier join + groupBy + labels join for the first round). The
        # node set falls out of the same groupBy (sym is symmetric, so its
        # u column covers every endpoint). Labels after this block are
        # bit-identical to the old code's state after round 1.
        round_sec: list = []
        _t0 = time.perf_counter()
        rounds = 1
        stepped = (
            sym.groupBy("u")
            .agg(F.min("v").alias("nb_min"))
            .select(
                F.col("u").alias("node"),
                F.least(F.col("u"), F.col("nb_min")).alias("new_label"),
                (F.col("nb_min") < F.col("u")).alias("_chg"),
            )
            .localCheckpoint(eager=False)
        )
        n_changed = stepped.filter("_chg").count()
        round_sec.append(round(time.perf_counter() - _t0, 3))
        labels = stepped.select("node", F.col("new_label").alias("label"))
        frontier = stepped.filter("_chg").select(
            "node", F.col("new_label").alias("label")
        )
        converged = n_changed == 0
        while not converged and rounds < max_iters:
            rounds += 1
            _t0 = time.perf_counter()
            msgs = (
                sym.join(
                    frontier.select(
                        F.col("node").alias("v"), F.col("label").alias("vlab")
                    ),
                    "v",
                )
                .groupBy("u")
                .agg(F.min("vlab").alias("nb_min"))
                .withColumnRenamed("u", "node")
            )
            stepped = (
                labels.join(msgs, "node", "left")
                .select(
                    "node",
                    F.least(F.col("label"), F.coalesce("nb_min", "label")).alias(
                        "new_label"
                    ),
                    (F.coalesce("nb_min", "label") < F.col("label")).alias("_chg"),
                )
                .localCheckpoint(eager=False)
            )
            n_changed = stepped.filter("_chg").count()
            round_sec.append(round(time.perf_counter() - _t0, 3))
            labels = stepped.select("node", F.col("new_label").alias("label"))
            frontier = stepped.filter("_chg").select(
                "node", F.col("new_label").alias("label")
            )
            if n_changed == 0:
                converged = True
        if "round_sec" in stats:
            stats["round_sec"] = round_sec
        stats.update(mode="propagate", rounds=rounds, converged=converged)
        if not converged:
            warnings.warn(
                f"dedup_components(mode='propagate') did not converge in "
                f"{max_iters} rounds — a component is wider than max_iters hops"
                "; falling back to mode='star' (O(log^2 n) rounds)",
                stacklevel=2,
            )
            fb: dict = {"round_sec": []}
            out = _components_star(pairs, key_a, key_b, max_iters, fb)
            stats.update(
                mode="propagate->star", fallback_rounds=fb["rounds"],
                converged=fb["converged"],
            )
            if "round_sec" in stats:
                stats["round_sec"] = round_sec + fb["round_sec"]
            return out
        return labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("component_id")
        )


def _components_star(
    pairs: DataFrame,
    key_a: str,
    key_b: str,
    max_iters: int,
    stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al. 2014 §3).

    Edges are kept canonical as (u, v) with u > v. Per round:
      large-star: for each node u over its FULL neighborhood N(u),
        m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u;
      small-star: for each node u over its smaller neighbors
        N⁻(u) = {v : v < u}, m = min(N⁻(u) ∪ {u}); emit (v, m) for
        v ∈ N⁻(u) ∪ {u}, v ≠ m.
    At the fixpoint every component is a star rooted at its minimum; labels
    read directly off the edges. Fixpoint detection compares the canonical
    edge set's (count, xor-of-hashes) fingerprint between rounds — the
    operators converge monotonically, so a stable fingerprint is a stable
    set. Nodes that lose all edges en route (already-rooted singleton
    stars) are re-attached from the original node set at the end.
    """
    with _constraint_propagation_off(pairs):
        # materialize the pair input ONCE — nodes and e both derive from it,
        # and each eager checkpoint used to recompute the full upstream
        # candidate/verify chain independently (r06)
        pairs0 = pairs.select(
            F.col(key_a).alias("a"), F.col(key_b).alias("b")
        ).localCheckpoint(eager=True)
        nodes = (
            pairs0.select(F.col("a").alias("n"))
            .union(pairs0.select(F.col("b").alias("n")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        e = (
            pairs0.select(
                F.greatest(F.col("a"), F.col("b")).alias("u"),
                F.least(F.col("a"), F.col("b")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )

        def fingerprint(edges):
            row = edges.select(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("u", "v")).alias("x"),
            ).collect()[0]
            return row.n, row.x

        fp = fingerprint(e)
        converged = False
        rounds = 0
        round_sec: list = []
        for _ in range(max_iters):
            rounds += 1
            _t0 = time.perf_counter()
            # ---- large-star over the symmetric neighborhood ----
            sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            mins = (
                sym.groupBy("u")
                .agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m"))
            )
            # LAZY checkpoints (r06): the round's single materializing action
            # is the fingerprint collect below — it persists both the
            # large-star and small-star RDDs in one job (local checkpointing
            # is cache-based), where the round-5 shape paid three jobs per
            # round (two eager materializations + the fingerprint)
            e = (
                sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint(eager=False)
            )
            # ---- small-star over the smaller-neighbor lists (u > v already) ----
            mins = (
                e.groupBy("u")
                .agg(F.min("v").alias("m"))  # m = min(N⁻(u)) < u = min(N⁻ ∪ {u})
            )
            joined = e.join(mins, "u")
            e = (
                joined.select(
                    F.greatest(F.col("v"), F.col("m")).alias("u"),
                    F.least(F.col("v"), F.col("m")).alias("v"),
                )
                .union(
                    joined.select(F.col("u"), F.col("m").alias("v")).distinct()
                )
                .filter(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint(eager=False)
            )
            new_fp = fingerprint(e)
            round_sec.append(round(time.perf_counter() - _t0, 3))
            if new_fp == fp:
                converged = True
                break
            fp = new_fp
        if stats is not None:
            if "round_sec" in stats:
                stats["round_sec"] = round_sec
            stats.update(mode="star", rounds=rounds, converged=converged)
        # at the fixpoint e = {(member, root)}; singletons have no edge
        roots = e.select(F.col("u").alias("doc_id"), F.col("v").alias("component_id"))
        singles = nodes.join(
            e.select(F.col("u").alias("n")), "n", "left_anti"
        ).select(F.col("n").alias("doc_id"), F.col("n").alias("component_id"))
        # materialize INSIDE the scope: the closing union must not be
        # analyzed after constraint propagation is restored
        return roots.union(singles).localCheckpoint(eager=True)
