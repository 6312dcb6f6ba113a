"""Transitive dedup clustering + corpus-statistics operators over
``documents`` — north-star LLM-pipeline set (SURVEY.md §2.9).

``minhash_lsh_candidates`` (queries/text.py) stops at candidate PAIRS;
a real dedup pipeline needs the transitive closure — near-dup is not
transitive, so A~B and B~C must land A, B, C in ONE cluster with one
canonical survivor. That closure is a connected-components computation,
the iterative-graph-algorithm class the reference cannot express at all
(its only dataflow ops are merge/sort/range, SURVEY.md §2.1).

Scale design notes live on each query; the shared theme: the corpus
text never enters the graph — nodes/edges are (bigint, bigint) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from . import query, load, pin_result, quantize, quantize_sql
from .text import _MH_SEEDS, _N_BANDS, _SHINGLE_K, _TOKENS, _TOKENS_DUCK

# ---------------------------------------------------------------------------
# connected-components dedup clustering
# ---------------------------------------------------------------------------

# Shared edge definition (Spark and oracle must agree exactly):
# MinHash band buckets (same signature family as minhash_lsh_candidates)
# are hyperedges; each bucket contributes STAR edges doc↔hub where
# hub = min(doc_id) in the bucket. Stars preserve connectivity while
# keeping the edge count O(bucket size) instead of the O(size²) clique.

# CTE chain up to the per-doc cluster assignment — shared verbatim by
# the dedup_cluster_components oracle, the near-dup-aware corpus prep
# oracle (pipeline.py) and the streaming replay below, so every
# consumer agrees on ONE edge/closure definition. ``_cc_ctes_for``
# parametrizes only the source relation (a caller-supplied CTE name —
# naming the slice CTE ``documents`` itself would read as a recursive
# self-reference under WITH RECURSIVE).


def _cc_ctes_for(src: str) -> str:
    return f"""sh AS (
  SELECT doc_id,
         list_transform(range(1, length(text) - {_SHINGLE_K - 2}),
           i -> CAST(concat('0x', substring(md5(substring(text, i, {_SHINGLE_K})), 1, 15)) AS BIGINT)) AS hs
  FROM {src} WHERE length(text) >= {_SHINGLE_K}
),
sig AS (
  SELECT doc_id, {", ".join(
      f"list_aggregate(list_transform(hs, h -> xor(h, CAST({s} AS BIGINT))), 'min') AS h{j}"
      for j, s in enumerate(_MH_SEEDS))}
  FROM sh
),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band_id, h{2*b} AS bx, h{2*b+1} AS by FROM sig"
      for b in range(_N_BANDS))}
),
hubs AS (
  SELECT band_id, bx, by, min(doc_id) AS hub
  FROM bands GROUP BY band_id, bx, by
),
star AS (
  SELECT DISTINCT b.doc_id AS src, h.hub AS dst
  FROM bands b JOIN hubs h USING (band_id, bx, by)
  WHERE b.doc_id != h.hub
),
edges AS (SELECT src, dst FROM star UNION SELECT dst AS src, src AS dst FROM star),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach AS (
  SELECT doc_id, doc_id AS comp FROM nodes
  UNION
  SELECT e.dst AS doc_id, r.comp
  FROM reach r JOIN edges e ON e.src = r.doc_id
),
assign AS (SELECT doc_id, min(comp) AS cluster_id FROM reach GROUP BY doc_id)"""


_CC_CTES = _cc_ctes_for("documents")

_CC_ORACLE = f"""
WITH RECURSIVE {_CC_CTES}
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM assign
"""


_CC_LABEL_CACHE: dict = {}


def minhash_band_edges_for(df: DataFrame, key_col: str = "doc_id",
                           text_col: str = "text",
                           shingle_k: int = _SHINGLE_K):
    """MinHash-LSH star edges over ANY (key, text) table — the
    generalized surface behind ``cc_cluster_labels`` and the CLI's
    ``dedup-near`` verb. Returns (sig, edges), BOTH persisted (the
    caller unpersists): sig = (doc_id, h0..h7) signatures; edges =
    bidirectional doc↔bucket-hub star edges, repartitioned by the
    per-round join key so the iterative closure never re-shuffles
    them. Same signature family and edge definition as ``_CC_CTES``."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    docs = (df.select(F.col(key_col).alias("doc_id"),
                      F.col(text_col).alias("text"))
              .filter(F.length("text") >= shingle_k).repartition(par))
    shingle_hashes = (
        f"transform(sequence(1, length(text) - {shingle_k - 1}), "
        f"i -> CAST(conv(substring(md5(substring(text, i, {shingle_k})), "
        f"1, 15), 16, 10) AS BIGINT))")
    # persist the signatures: bands feeds BOTH the hub agg and the star
    # join, and without pinning, each subtree re-runs the
    # md5-per-shingle scan (the most expensive stage — one hash per
    # character of corpus). The signature frame is (doc_id, 8 x bigint)
    # — tiny relative to text, and exactly what a production pipeline
    # materializes anyway.
    sig = (docs.withColumn("hs", F.expr(shingle_hashes))
               .select("doc_id", *[
                   F.expr(f"array_min(transform(hs, h -> h ^ CAST({s} AS BIGINT)))")
                    .alias(f"h{j}")
                   for j, s in enumerate(_MH_SEEDS)])
               .persist())
    edges = edges_from_sig(sig).persist()
    return sig, edges


_BAND_KEYS = ("band_id", "bx", "by")


def _bands_of(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, bx, by) LSH band-bucket membership rows of a
    signature frame — the shared first stage of ``edges_from_sig`` and
    the delta-local bucket/frontier derivation. Map-only (a ``stack``
    per row); NULL-signature rows (docs too short to sign) are
    excluded, same as the fresh-signing path's length filter."""
    band_exprs = ", ".join(f"{b}, h{2*b}, h{2*b+1}" for b in range(_N_BANDS))
    return (sig.filter(F.col("h0").isNotNull())
               .selectExpr("doc_id",
                           f"stack({_N_BANDS}, {band_exprs}) "
                           f"AS (band_id, bx, by)"))


def edges_from_sig(sig: DataFrame) -> DataFrame:
    """Band → bucket-hub star edges from a (doc_id, h0..h{2B-1})
    signature frame — the clustering stage decoupled from the signing
    stage so MAINTAINED signatures (``dedup_near_incremental``'s
    per-bucket memoized state) feed the same closure as freshly-signed
    ones. NULL h0 marks a doc too short to sign (the maintained view
    stays key-complete); those rows are excluded here rather than
    grouped into one giant spurious null-bucket. Returns the
    bidirectional edge frame repartitioned ONCE by the per-round join
    key (dst) — every closure iteration then shuffles only the
    shrinking label frame, never the edges — the graph-loop move that
    matters when the edge set is billions of rows. UNPERSISTED: the
    caller pins it for the iterative loop."""
    return edges_from_bands(_bands_of(sig))


def edges_from_bands(bands: DataFrame) -> DataFrame:
    """``edges_from_sig``'s second half over an already-derived
    (doc_id, band_id, bx, by) band frame — split out in r14 so
    ``delta_local_labels`` can materialize the delta-sized sub-band
    frame ONCE and feed the hub aggregation, the star join AND the
    edge-bound witness from it, instead of re-deriving the
    sub-signature three times per refresh."""
    keys = list(_BAND_KEYS)
    hubs = bands.groupBy(*keys).agg(F.min("doc_id").alias("hub"))
    star = (bands.join(hubs, keys)
                 .filter(F.col("doc_id") != F.col("hub"))
                 .select(F.col("doc_id").alias("src"),
                         F.col("hub").alias("dst"))
                 .distinct())
    return (star.union(star.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
                .repartition(F.col("dst")))


_CC_MAX_ROUNDS = 64

# rounds the last cc_labels_from_edges / cc_labels_large_small_star
# call executed before its convergence witness stalled — read by the
# dedup-near verbs right after the call (single-threaded verb bodies)
# so warm-started re-clusters can surface and assert their round
# savings (VERDICT r11 next-round #1)
LAST_CC_ROUNDS: int = 0


def cc_labels_from_edges(edges: DataFrame,
                         numeric_key: bool = True,
                         max_rounds: int = _CC_MAX_ROUNDS,
                         seed: DataFrame | None = None,
                         rounds_out: dict | None = None) -> DataFrame:
    """Iterative min-label connected components over a persisted
    bidirectional (src, dst) edge frame → (doc_id, comp) labels.
    Labels only decrease, so with a NUMERIC key the global label sum
    is a monotone convergence witness (one cheap agg per round); a
    non-numeric key (string doc ids through ``dedup-near``) falls back
    to a changed-rows check — one extra tiny join per round over the
    label frame, never the edges.

    ``seed``: optional (doc_id, comp) WARM-START labels. CALLER
    CONTRACT: every seed comp must be the id of some node in the SAME
    component of THIS edge frame — then the fixpoint is unchanged
    (propagation converges to the min over all initial labels in a
    component, and the component min itself always enters the pool:
    either it is a fresh node seeded with its own id, or its seed
    label is a component member ≤ itself, forcing equality), while
    rounds drop to ≈ log2(merge-boundary distance) instead of
    log2(diameter). The contract holds for labels of a PREVIOUS run on
    an adds-only superset of the edges (new edges only merge
    components; ``dedup_near_incremental`` pins the label table's hash
    in its meta row and falls back to a cold start on deletes/edits or
    any hash mismatch). Seed rows for nodes no longer in the edge
    frame are ignored.

    ``max_rounds`` bounds the loop: with pointer jumping, rounds ≈
    log2(diameter), so the default {_CC_MAX_ROUNDS} covers any graph a
    planet-scale corpus could produce (diameter ~2^{_CC_MAX_ROUNDS});
    hitting it means pathological input or a convergence-witness bug,
    and the loud error names the Kiveris et al. large-star/small-star
    alternative rather than silently spinning (this function is a
    public building block via the ``dedup-near`` verb).

    ``rounds_out``: optional dict that receives ``{"rounds": n}`` —
    the per-call channel concurrent callers should use; the module
    mirror ``LAST_CC_ROUNDS`` is a single-threaded convenience."""
    global LAST_CC_ROUNDS
    # seed labels with the best DIRECT neighbor (min over own id and
    # neighbor ids) — starts the propagation one round ahead
    labels = (edges.groupBy(F.col("src").alias("doc_id"))
                   .agg(F.least(F.min("dst"), F.first("src")).alias("comp")))
    if seed is not None:
        warm = seed.select("doc_id", F.col("comp").alias("__warm_comp"))
        # least() skips nulls, so nodes without a seed row keep the
        # direct-neighbor seed; seed rows for departed nodes drop out
        # of the left join
        labels = (labels.join(warm, "doc_id", "left")
                        .select("doc_id",
                                F.least("comp", "__warm_comp").alias("comp")))
    labels = labels.localCheckpoint(eager=False)
    # the witness sum is DECIMAL(38,0): a bigint sum of ~1e10 labels
    # up to 2^63 wraps int64 silently (non-ANSI), and a wrapped sum
    # that happens to equal the previous round's is a FALSE fixpoint —
    # decimal keeps the monotone witness exact to ~1e38
    wsum = F.sum(F.col("comp").cast("decimal(38,0)"))
    prev_sum = labels.agg(wsum).first()[0] if numeric_key else None
    prev = labels
    for _round in range(max_rounds):
        nbr_min = (edges.join(labels, edges["dst"] == labels["doc_id"])
                        .groupBy("src").agg(F.min("comp").alias("nbr_comp")))
        stepped = (labels.join(nbr_min, labels["doc_id"] == nbr_min["src"],
                               "left")
                         .select(labels["doc_id"],
                                 F.least("comp", "nbr_comp").alias("comp")))
        # pointer jumping: also adopt the label OF the current label
        # (comp -> comp's comp), squaring path lengths per round —
        # hub→hub chains otherwise cost one round per hop (measured 9
        # rounds at sf0.1; ~4 with the jump). The jump join is over the
        # label frame only (graph nodes, not the corpus).
        hop = stepped.select(F.col("doc_id").alias("h_id"),
                             F.col("comp").alias("h_comp"))
        # lazy localCheckpoint: the convergence probe below is the
        # single action per round — it materializes the new labels AND
        # tests the fixpoint
        labels = (stepped.join(hop, stepped["comp"] == hop["h_id"], "left")
                         .select(stepped["doc_id"],
                                 F.least("comp", "h_comp").alias("comp"))
                         .localCheckpoint(eager=False))
        if numeric_key:
            cur_sum = labels.agg(wsum).first()[0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            # FULL action (no limit): a short-circuited limit(1) under
            # a lazy localCheckpoint materializes only some partitions,
            # so lineage would not reliably truncate and could deepen
            # across rounds (ADVICE r10). The changed count is over the
            # label frame only, never the edges.
            changed = (labels.withColumnRenamed("comp", "nc")
                             .join(prev, "doc_id")
                             .filter(F.col("nc") != F.col("comp"))
                             .count())
            if changed == 0:
                break
            prev = labels
    else:
        LAST_CC_ROUNDS = max_rounds
        raise RuntimeError(
            f"connected-components did not converge within {max_rounds} "
            f"rounds — with pointer jumping that implies diameter "
            f"~2^{max_rounds} or a convergence-witness bug; for "
            f"adversarial graphs use cc_labels_large_small_star "
            f"(alternating large-star/small-star, Kiveris et al. 2014, "
            f"O(log² n) rounds for ANY graph) instead of min-label "
            f"propagation")
    LAST_CC_ROUNDS = _round + 1
    if rounds_out is not None:
        rounds_out["rounds"] = _round + 1
    return labels


def cc_labels_large_small_star(edges: DataFrame,
                               numeric_key: bool = True,
                               max_rounds: int = _CC_MAX_ROUNDS,
                               rounds_out: dict | None = None) -> DataFrame:
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    edge rewriting (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014) — the adversarial-graph alternative the
    ``cc_labels_from_edges`` round-ceiling error names. Min-label
    propagation needs ~log2(diameter) rounds WITH pointer jumping,
    which is fine for shallow LSH star graphs but a public building
    block (``dedup-near``) can be handed any graph; large/small-star
    converges in O(log² n) rounds for EVERY graph shape because each
    round halves tree heights globally rather than walking them.

    Contract vs ``cc_labels_from_edges``: input is a bidirectional
    (src, dst) edge frame; output is (doc_id, comp) with comp =
    component minimum, one row per node that appears in a NON-SELF
    edge. The one divergence: a node whose only edges are self-loops
    gets NO row here (the src != dst filter drops it before the
    rewrite), where min-label CC emits it self-labeled (ADVICE r11).
    Harmless for ``dedup-near`` — ``edges_from_sig`` never emits self
    loops, and an absent node is a survivor either way — but callers
    handing arbitrary graphs who need self-loop-only nodes labeled
    should union them in as self-labeled roots.

    Mechanics (edges kept canonical as (hi, lo), hi > lo — both steps
    provably preserve that orientation, so no re-canonicalization):

    - LARGE-STAR: from the full adjacency, every strictly LARGER
      neighbor of u links to min(Γ(u) ∪ {u}). Each undirected edge is
      processed from its smaller endpoint exactly once, so the rewrite
      is one groupBy(min) + one equi-join over (key, key) rows.
    - SMALL-STAR: grouping the canonical edges by their larger
      endpoint u (all its lo-neighbors are < u), every member of that
      smaller-neighborhood ∪ {u} links to its minimum.

    Convergence witness: both steps map each edge elementwise
    NON-INCREASING (large-star lowers lo toward the neighborhood min;
    small-star lowers hi onto a smaller neighbor) and distinct() only
    removes rows, so the triple (count, Σhi, Σlo) — sums in
    decimal(38,0), same wrap-safety as the min-label witness — is
    monotone and stalls exactly at the fixpoint (a star forest: every
    edge is (node, component-min)). Non-numeric keys fall back to a
    two-sided anti-join changed-edge count. One lazy localCheckpoint
    per round keeps lineage O(1); the witness aggregate is the single
    full action that materializes it."""
    global LAST_CC_ROUNDS
    e = (edges.filter(F.col("src") != F.col("dst"))
              .select(F.greatest("src", "dst").alias("hi"),
                      F.least("src", "dst").alias("lo"))
              .distinct()
              .localCheckpoint(eager=False))

    def witness(df: DataFrame):
        return df.agg(
            F.count(F.lit(1)),
            F.sum(F.col("hi").cast("decimal(38,0)")),
            F.sum(F.col("lo").cast("decimal(38,0)"))).first()

    prev_w = witness(e) if numeric_key else None
    for _round in range(max_rounds):
        # large-star: adjacency from both directions; each undirected
        # edge survives as exactly one (v > u) row, rewritten to
        # (v, min of u's closed neighborhood)
        nbrs = (e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
                 .union(e.select(F.col("lo").alias("u"),
                                 F.col("hi").alias("v"))))
        mins = (nbrs.groupBy("u")
                    .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        eL = (nbrs.filter(F.col("v") > F.col("u"))
                  .join(mins, "u")
                  .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
                  .distinct())
        # small-star: canonical edges grouped by hi already hold the
        # smaller-neighborhood; min is a neighbor (all lo < hi)
        mins2 = eL.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = eL.join(mins2, "hi")
        e2 = (joined.filter(F.col("lo") != F.col("m"))
                    .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
                    .union(joined.select("hi", F.col("m").alias("lo")))
                    .distinct()
                    .localCheckpoint(eager=False))
        if numeric_key:
            w = witness(e2)     # single full action: materialize + probe
            stalled = w == prev_w
            prev_w = w
        else:
            # FULL actions over the edge frame (same rationale as the
            # min-label fallback: a limit() would leave partitions
            # unmaterialized under the lazy checkpoint)
            stalled = (e2.join(e, ["hi", "lo"], "left_anti").count() == 0
                       and e.join(e2, ["hi", "lo"], "left_anti")
                            .count() == 0)
        e = e2
        if stalled:
            break
    else:
        LAST_CC_ROUNDS = max_rounds
        raise RuntimeError(
            f"large-star/small-star did not converge within "
            f"{max_rounds} rounds — impossible for any graph with "
            f"fewer than ~2^{max_rounds // 2} nodes (O(log² n) bound); "
            f"this indicates a convergence-witness bug")
    LAST_CC_ROUNDS = _round + 1
    if rounds_out is not None:
        rounds_out["rounds"] = _round + 1
    # fixpoint is a star forest: every non-root points at its
    # component min; roots (pure lo values) label themselves
    roots = e.select(F.col("lo").alias("doc_id")).distinct()
    return (e.select(F.col("hi").alias("doc_id"), F.col("lo").alias("comp"))
             .union(roots.select("doc_id",
                                 F.col("doc_id").alias("comp")))
             .distinct())


@query("cc_largestar_components", oracle=_CC_ORACLE)
def cc_largestar_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``dedup_cluster_components`` clusters computed by the
    ALTERNATE algorithm — alternating large-star/small-star (Kiveris
    et al. 2014) instead of min-label propagation — over the identical
    MinHash-LSH star-edge graph, against the identical recursive-CTE
    oracle. Two independently-formulated closures agreeing with the
    oracle (and so with each other) pins the clustering semantics the
    same way the engine/oracle split pins each alone.

    Scale: this is the path the min-label round-ceiling error routes
    adversarial graphs to — rounds are O(log² n) REGARDLESS of
    diameter (each round halves tree heights globally), every step an
    equi-join/groupBy over canonical (key, key) edges; text never
    enters the graph."""
    (d,) = load(spark, sf_dir, "documents")
    sig, edges = minhash_band_edges_for(d)
    try:
        labels = cc_labels_large_small_star(edges)
    except BaseException:
        # pin_result releases the persisted frames on the success path;
        # a closure failure must not strand them in executor storage
        # (VERDICT r11 what's-wrong #1)
        edges.unpersist()
        sig.unpersist()
        raise
    wc = W.partitionBy("cluster_id")
    out = (labels.select("doc_id", F.col("comp").alias("cluster_id"))
                 .withColumn("cluster_size", F.count(F.lit(1)).over(wc)))
    return pin_result(out, sig, edges)


def cc_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels (doc_id, comp) over the MinHash-LSH
    candidate graph — the engine side of ``_CC_CTES``; only docs that
    appear in some band bucket with a neighbor get a row. See
    ``dedup_cluster_components`` for the design discussion.

    Session-memoized: both ``dedup_cluster_components`` and
    ``corpus_prep_near_dedup`` consume these labels, and the label
    frame is the expensive shared subplan (md5-per-shingle scan + the
    iterative closure). The cache key includes the source file's
    (mtime, size) so a changed corpus invalidates — the in-session
    analog of the engine's content-keyed memo layer (``plans/views``),
    which covers the persistent case."""
    import os

    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        # applicationId, NOT id(spark): CPython recycles id() values,
        # so a new session allocated at a dead session's address could
        # resurrect label frames bound to a stopped JVM (VERDICT r10
        # what's-wrong #3) — the app id is unique per SparkContext
        cache_key = (spark.sparkContext.applicationId, src,
                     st.st_mtime_ns, st.st_size)
    except OSError:
        cache_key = None
    if cache_key is not None and cache_key in _CC_LABEL_CACHE:
        # move-to-end on hit so eviction order is true LRU
        labels = _CC_LABEL_CACHE.pop(cache_key)
        _CC_LABEL_CACHE[cache_key] = labels
        return labels
    (d,) = load(spark, sf_dir, "documents")
    sig, edges = minhash_band_edges_for(d)
    try:
        labels = cc_labels_from_edges(edges)
    finally:
        edges.unpersist()
        sig.unpersist()
    if cache_key is not None:
        # labels are localCheckpoint'd (pinned RDD) — safe to share.
        # Hold a few corpora (bench warms at sf0.001 then times at the
        # target SF, so two live keys per run is the norm); evict the
        # OLDEST entry, not the whole dict (VERDICT r11 what's-wrong
        # #3: a wholesale clear dropped the entry about to be re-used;
        # dict preserves insertion order, so next(iter) is the oldest).
        while len(_CC_LABEL_CACHE) >= 4:
            _CC_LABEL_CACHE.pop(next(iter(_CC_LABEL_CACHE)))
        _CC_LABEL_CACHE[cache_key] = labels
    return labels


@query("dedup_cluster_components", oracle=_CC_ORACLE)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH
    candidate graph, cluster id = min doc_id (the canonical survivor).

    Graph: band buckets → star edges to the bucket hub (min doc) —
    O(bucket) edges, never the O(bucket²) clique. Components via
    iterative min-label propagation: each round, every node takes the
    min of its own label and its neighbors' labels; converged when the
    global label sum stops falling (labels only decrease, so the sum
    is a monotone convergence witness — one cheap agg instead of a
    changed-rows join).

    100 TB design: per round = one shuffle-join of (bigint, bigint)
    edges against labels + a partial-aggregated min — rounds ≈ graph
    diameter (near-dup clusters are shallow; large-star/small-star
    bounds it at log n if ever needed). Labels are localCheckpoint'd
    each round so the plan/lineage stays O(1) across iterations
    instead of doubling. The oracle is a recursive-CTE reachability
    closure (DuckDB), fine at sf but quadratic-ish in cluster size —
    the iterative form IS the scale path.
    """
    labels = cc_cluster_labels(spark, sf_dir)
    wc = W.partitionBy("cluster_id")
    return (labels.select("doc_id", F.col("comp").alias("cluster_id"))
                  .withColumn("cluster_size", F.count(F.lit(1)).over(wc)))


_NUMERIC_KEYS = ("tinyint", "smallint", "int", "bigint")

_CC_ALGORITHMS = ("minlabel", "largestar")


def _cc_fn_for(cc_algorithm: str):
    """Resolve ``--cc-algorithm`` to its closure (VERDICT r11 next
    round #3: the round-ceiling error names large-star/small-star, so
    the verbs must actually be able to run it)."""
    if cc_algorithm not in _CC_ALGORITHMS:
        raise ValueError(f"unknown cc_algorithm {cc_algorithm!r}; "
                         f"choose one of {_CC_ALGORITHMS}")
    return (cc_labels_from_edges if cc_algorithm == "minlabel"
            else cc_labels_large_small_star)


def _label_stats(labels: DataFrame) -> tuple[int, int]:
    """(dups_removed, clusters) in ONE tiny agg over the checkpointed
    label frame — graph nodes only, never the corpus."""
    lab = labels.agg(
        F.count(F.when(F.col("doc_id") != F.col("comp"), 1))
         .alias("dups"),
        F.countDistinct("comp").alias("clusters")).first()
    return lab["dups"], lab["clusters"]


def _commit_dedup_outputs(eng, src_df: DataFrame, key: str,
                          labels: DataFrame, out: str,
                          clusters_table: str | None,
                          stats: dict, n_buckets: int,
                          old_out_ref=None, changed_keys: DataFrame | None = None,
                          src_ref=None) -> str | None:
    """Survivor-table + cluster-table construction and save — the
    block both ``dedup-near`` verb bodies share (VERDICT r11
    what's-wrong #4), so the output contract lives in one place. Every
    clustered non-representative is a drop; docs with no edges never
    enter ``labels`` and survive untouched. MUST run inside the
    caller's transaction; returns the clusters-table hash (None when
    not requested).

    r15 (guide §2.3/§2.4 — the last O(corpus) term per refresh): the
    survivor table commits as a BUCKETED manifest keyed like the docs
    state. When the caller knows the keys whose output membership can
    change (``changed_keys`` = delta ∪ drop-status flips) and the old
    out manifest is intact with the same fan-out, ONLY those keys'
    buckets are rewritten — every other bucket passes through by
    reference, so the output commit costs ∝ churn, not corpus. The
    bucketing is deterministic in (key, n_buckets), so a from-scratch
    rebuild over the same corpus produces the IDENTICAL manifest hash —
    the gold equality proofs compare unchanged. ``src_ref``: the
    current source's own manifest when bucket-aligned, for physically
    pruned touched-bucket reads; a plain source falls back to a
    predicate scan (read stays full, write stays ∝ churn). The
    clusters table is label-frame-sized and stays a plain save."""
    from ..operators.core import KeyedTable
    from ..plans.incremental import (EMPTY, BucketedRef, _bucket_expr,
                                     _write_buckets, read_bucketed)
    from ..store import as_schema

    drop = (labels.filter(F.col("doc_id") != F.col("comp"))
                  .select(F.col("doc_id").alias(key)))
    tb = None
    if (old_out_ref is not None and changed_keys is not None
            and old_out_ref.n_buckets == n_buckets
            and tuple(old_out_ref.key_cols) == (key,)):
        # touched-bucket rewrite: bucket ids only (<= n_buckets values)
        # ever reach the driver, never keys — a driver-held key frame
        # (the verb's driver closure) projects without a job, and a
        # distinct would add one
        b_ids = changed_keys.select(
            _bucket_expr((key,), n_buckets).alias("b"))
        if not changed_keys.isLocal():
            b_ids = b_ids.distinct()
        tb = sorted({r["b"] for r in b_ids.collect()})
        if len(tb) >= n_buckets:
            # r16 (VERDICT r15 #1): every bucket is touched — the
            # whitelisted rewrite would be the full write plus the
            # pruned-read machinery; take the plain full write instead
            tb = None
    if tb is not None:
        if tb:
            if (src_ref is not None and src_ref.n_buckets == n_buckets
                    and tuple(src_ref.key_cols) == (key,)):
                base = read_bucketed(eng.spark, eng.objects, src_ref,
                                     buckets=tb).df
            else:
                base = src_df.filter(
                    _bucket_expr((key,), n_buckets).isin(*tb))
            # the USING anti-join puts the key first: write the column
            # order the output manifest records
            out_rows = (base.join(drop, key, "left_anti")
                        .select(*as_schema(old_out_ref.schema_json)
                                .fieldNames()))
            hashes = _write_buckets(eng.objects, out_rows, (key,),
                                    n_buckets, bucket_whitelist=set(tb))
            bh = list(old_out_ref.bucket_hashes)
            for b in tb:
                bh[b] = hashes.get(b, EMPTY)
        else:
            bh = list(old_out_ref.bucket_hashes)
        ref = BucketedRef(key_cols=(key,), n_buckets=n_buckets,
                          bucket_hashes=tuple(bh),
                          schema_json=old_out_ref.schema_json)
        stats["out_buckets_rewritten"] = len(tb)
    else:
        out_df = src_df.join(drop, key, "left_anti").select(*src_df.columns)
        hashes = _write_buckets(eng.objects, out_df, (key,), n_buckets)
        ref = BucketedRef(
            key_cols=(key,), n_buckets=n_buckets,
            bucket_hashes=tuple(hashes.get(b, EMPTY)
                                for b in range(n_buckets)),
            schema_json=src_df.schema.json())
        stats["out_buckets_rewritten"] = n_buckets
    stats["table_hash"] = eng.save_bucketed_table(out, ref)
    cl_hash = None
    if clusters_table:
        wc = W.partitionBy("cluster_id")
        cl = (labels.select(F.col("doc_id").alias(key),
                            F.col("comp").alias("cluster_id"))
                    .withColumn("cluster_size",
                                F.count(F.lit(1)).over(wc)))
        cl_hash = eng.save_table(clusters_table, KeyedTable(cl, (key,)))
        stats["clusters_table"] = clusters_table
    return cl_hash


def dedup_near(eng, table: str, out: str, text_col: str = "text",
               clusters_table: str | None = None,
               shingle_k: int = _SHINGLE_K,
               cc_algorithm: str = "minlabel") -> dict:
    """User-reachable near-dup dedup: the CLI's ``dedup-near`` body —
    the `dedup-substrings` companion for the MinHash family.

    MinHash-LSH candidates over any catalog (key, text) table → star
    edges → connected components → keep the min-key SURVIVOR of each
    cluster, drop the rest. Writes ``out`` (all source columns,
    survivors only) and optionally ``clusters_table`` (key,
    cluster_id, cluster_size — survivors have key == cluster_id), both
    in ONE atomic root swap. Detector contract: same signature family
    / band scheme as ``minhash_lsh_candidates`` (candidate recall is
    probabilistic by design; clustering of detected candidates is
    exact and transitive). String keys work — both closures fall back
    to their changed-rows convergence witness. ``cc_algorithm``:
    ``minlabel`` (default; rounds ≈ log2 diameter with pointer
    jumping) or ``largestar`` (Kiveris et al. alternating rewriting,
    O(log² n) rounds for ANY graph shape — the alternative the
    min-label round-ceiling error names); both reach the identical
    fixpoint."""
    from ..plans.incremental import (EMPTY, _map_bucket_digest,
                                     load_manifest)

    cc_fn = _cc_fn_for(cc_algorithm)
    t = eng.load_table(table)
    if len(t.key_cols) != 1:
        raise ValueError("dedup-near needs a single-column key")
    key = t.key_cols[0]
    if text_col not in t.df.columns:
        raise ValueError(f"no column {text_col!r} in {table}")
    numeric = dict(t.df.dtypes)[key] in _NUMERIC_KEYS
    src_ref = load_manifest(eng.objects, eng.table_hash(table))
    if src_ref is not None and tuple(src_ref.key_cols) != (key,):
        src_ref = None
    # r16 (VERDICT r15 #5): when the source is a bucketed manifest in
    # the maintained-state shape — exactly (doc_id, text), the columns
    # the registered mh_sig transform reads — probe the per-bucket memo
    # for EVERY bucket's signatures before re-signing. A gold rebuild
    # over a corpus the incremental verb maintains then skips the
    # md5-per-shingle pass entirely (the memo maps content hash →
    # transform output, so a complete hit set IS the signature frame of
    # this exact content); the downstream closure, label stats and the
    # full bucket write — the parts the gold equality proof exists to
    # exercise — run unchanged on identical signatures (maintained sig
    # == fresh sig is itself continuously re-proven by the gold
    # manifest-hash equality checks). Any miss → fresh signing.
    sig = edges = None
    if _mh_state_shaped(src_ref, text_col, t.df.schema):
        fkey = _mh_sig_transform_key(int(shingle_k))
        hit_objs: list[str] = []
        complete = True
        for h in src_ref.bucket_hashes:
            if h == EMPTY:
                continue
            hit = eng.memo.get(_map_bucket_digest(fkey, h))
            if hit is None or (hit != EMPTY
                               and not eng.objects.exists(hit)):
                complete = False
                break
            if hit != EMPTY:
                hit_objs.append(hit)
        if complete and hit_objs:
            sig = (eng.objects.load_objects(eng.spark, hit_objs)
                   .select("doc_id",
                           *[f"h{j}" for j in range(len(_MH_SEEDS))])
                   .persist())
            edges = edges_from_sig(sig).persist()
    if sig is None:
        sig, edges = minhash_band_edges_for(t.df, key, text_col,
                                            int(shingle_k))
    try:     # error paths (round ceiling, failed save) must release
        cc_stats: dict = {}                          # the pinned frames
        labels = cc_fn(edges, numeric_key=numeric, rounds_out=cc_stats)
        stats: dict = {"ok": True, "detector": "minhash-lsh",
                       "table": out, "cc_algorithm": cc_algorithm,
                       "cc_rounds": cc_stats["rounds"]}
        # stats jobs run OUTSIDE the root-swap critical section (VERDICT
        # r10 what's-wrong #4): rows_in is the one corpus-scale count;
        # dups/clusters come from ONE tiny agg over the checkpointed
        # label frame. Keys are unique and drops ⊆ keys, so rows_out =
        # rows_in - dups_removed exactly — no output-table count.
        stats["rows_in"] = t.df.count()
        dups, clusters = _label_stats(labels)
        stats["dups_removed"] = dups
        stats["rows_out"] = stats["rows_in"] - dups
        stats["clusters"] = clusters
        # survivor-table fan-out: inherit the source manifest's bucket
        # count when it is key-aligned (so gold rebuilds over the same
        # corpus hash-match the maintained manifests bucket for
        # bucket); size from the corpus otherwise
        from .linkage import _xs_auto_buckets
        n_out = (src_ref.n_buckets if src_ref is not None
                 else _xs_auto_buckets(stats["rows_in"]))
        with eng.transaction():  # save-only work inside the atomic scope
            _commit_dedup_outputs(eng, t.df, key, labels, out,
                                  clusters_table, stats,
                                  n_buckets=n_out, src_ref=src_ref)
    finally:
        edges.unpersist()
        sig.unpersist()
    return stats


def _mh_state_shaped(ref, text_col: str, schema) -> bool:
    """Is a source manifest ``ref`` in the near-dup state shape: a
    hash-bucketed manifest keyed by ``doc_id`` whose recorded
    ``schema`` holds exactly the columns (doc_id, text), read as the
    text column? Such a source's buckets are the maintained docs
    snapshot's buckets at the same fan-out (same rows, names, types and
    bucket function), so its bucket hashes key the signature memo
    directly (``dedup_near``) and ``dedup_near_incremental`` registers
    the manifest itself as ``<out>__mh_docs``."""
    from ..store import as_schema

    return (ref is not None and tuple(ref.key_cols) == ("doc_id",)
            and text_col == "text"
            and set(as_schema(schema).fieldNames()) == {"doc_id", "text"})


def _mh_sig_transform_key(shingle_k: int) -> str:
    """Idempotently register (and return the FuncKey of) the MinHash
    signature map for one shingle length — the named transform the
    per-bucket memo layer hashes into its digests
    (``OP_MAP_BUCKET|key|bucket_hash``; ``Trie.hs:513-521``'s FuncKey
    discipline), so signatures maintained at k=8 can never be reused
    for a k=12 run. Canonical state schema (doc_id, text); docs too
    short to sign get NULL signatures (the view stays key-complete —
    ``edges_from_sig`` excludes them, mirroring the fresh-signing
    path's length filter)."""
    fkey = f"mh_sig_k{int(shingle_k)}"
    from ..registry import REGISTRY
    if fkey not in REGISTRY.transforms:
        hs = (f"CASE WHEN length(text) >= {int(shingle_k)} THEN "
              f"transform(sequence(1, length(text) - {int(shingle_k) - 1}), "
              f"i -> CAST(conv(substring(md5(substring(text, i, "
              f"{int(shingle_k)})), 1, 15), 16, 10) AS BIGINT)) "
              f"ELSE array() END")

        @REGISTRY.transform(fkey, new_key_cols=("doc_id",))
        def _sig(df: DataFrame, _hs: str = hs) -> DataFrame:
            with_hs = df.withColumn("hs", F.expr(_hs))
            return with_hs.select(
                "doc_id",
                *[F.expr(f"array_min(transform(hs, h -> h ^ "
                         f"CAST({s} AS BIGINT)))").alias(f"h{j}")
                  for j, s in enumerate(_MH_SEEDS)],
                "__messdb_ord")
    return fkey


# broadcast ceiling for the delta-local helper frames (touched bucket
# keys, frontier docs, affected comps/docs). Above it the joins fall
# back to shuffles — still one pass each, never per-round.
_DELTA_BCAST_MAX = 2_000_000


def _maybe_bcast(df: DataFrame, n_rows: int) -> DataFrame:
    return F.broadcast(df) if n_rows <= _DELTA_BCAST_MAX else df


# row ceiling of each driver-side gather of the delta-local re-cluster
# (seed keys, new band keys, frontier band rows, affected labels,
# affected band rows). A neighbourhood above it — a giant near-dup
# cluster, a bulk delta — re-clusters through the Spark closure
# instead; 0 turns the driver closure off. Set from
# tools/delta_closure_ceiling.py (4 cores, local[4]): the largest
# gather, the band rows (4 per signed doc), at ~100k rows took the
# driver 2.4-3.3 s against 3.8-4.4 s for the Spark closure, with a
# ~100 MiB Python peak; the two cross between 120k and 250k rows, and
# the driver's peak grows ~1 KiB per row.
_DELTA_DRIVER_MAX = 100_000
_TAKE_FIRST_PARTS = "spark.sql.limit.initialNumPartitions"


def delta_local_labels(sig: DataFrame, new_ids: DataFrame,
                       prior: DataFrame, n_new: int,
                       prior_counts: tuple[int, int],
                       numeric_key: bool = True,
                       rounds_out: dict | None = None,
                       stats: dict | None = None,
                       pinned: list | None = None,
                       extra_affected: DataFrame | None = None,
                       warm: bool = True,
                       cc_fn=None,
                       local_out: dict | None = None) -> DataFrame:
    """DELTA-LOCAL re-clustering (VERDICT r12 next-round #1,
    generalized to ARBITRARY churn in r13): run the min-label closure
    only on the components the delta can possibly touch, and pass
    every other component's labels through unchanged — converting
    ``dedup-near --incremental``'s last O(corpus-edges × rounds)-per-
    refresh term to O(delta-neighborhood), the same delta-
    proportionality contract the maintained-signature stage already
    meets (``MessDB/Store/Memo.hs`` discipline applied to the
    closure).

    Inputs: ``sig`` is the POST-refresh maintained signature frame;
    ``new_ids`` the upserted keys (added + edited — the docs whose NEW
    signatures create or join buckets); ``extra_affected`` the removed
    + edited keys, whose PRIOR components may split and must therefore
    re-cluster; ``prior`` the hash-verified labels of the previous run
    (``_prior_labels``). ``warm=True`` (sound only for adds-only
    deltas) seeds the sub-closure with the affected components' prior
    labels; under deletes/edits components can split, so the caller
    passes ``warm=False`` and the sub-closure runs cold — but still
    only over the affected neighborhood.

    Why it is exact (same fixpoint as the full closure):

    - Every LSH band bucket lies entirely within ONE component of the
      graph it belongs to — any two co-bucketed docs share a hub edge
      by construction — so bucket membership never straddles a
      component boundary.
    - A bucket's membership can only change by GAINING an upserted
      doc's new signature ("touched" — deletes and re-signed edits
      only shrink other buckets, and a shrunken bucket stays inside
      its old component). Edges therefore change only in touched
      buckets or by member removal inside one old component.
    - A component with no member in any touched bucket and no
      removed/edited member is a component of the new graph too, with
      the same minimum: its old labels are final (the anti-join
      pass-through). Removed docs can never leak through the
      pass-through: a labeled removed doc makes its own component
      affected by definition.
    - The affected subgraph is closed: an edge incident to an affected
      doc lives in a bucket whose full membership is affected (touched
      bucket ⇒ all members are frontier; untouched bucket ⇒ all
      members share one old component, affected together). So the
      sub-closure over ``sig ⋉ affected_docs`` sees every edge of
      every affected component — including the first edges of a
      previously-isolated doc that an upsert just bucketed with (the
      frontier includes it even though it has no prior label), and
      none to a survivor of an unaffected component.

    Corpus-scale cost per refresh: three map-only passes over the
    signature frame and two over the label frame, each a semi-join
    against a broadcast driver-held key set — no full-bands shuffle,
    no per-round full-edge join. The neighbourhood itself is
    delta-sized, so it is CLOSED ON THE DRIVER: five bounded gathers
    (``limit(_DELTA_DRIVER_MAX + 1).collect()`` each — the seed keys,
    the upserted docs' band keys, the frontier band rows, the prior
    labels of the affected components, the affected docs' band rows)
    feed the star edges of ``edges_from_bands`` (hub = min doc per
    bucket) into a union-find whose roots are component minima — the
    fixpoint of both Spark closures. The sub-labels return as a local
    relation unioned with the passthrough; ``cc_rounds`` is 0. When
    any gather exceeds the ceiling, the Spark path runs unchanged:
    lazily checkpointed delta frames, a one-action edge-bound probe
    and the iterative closure (``cc_fn`` or the warm-seeded min-label
    loop). ``stats["cc_engine"]`` reports which ran ("driver" or
    "spark").

    ``prior_counts``: (dups, clusters) of ``prior`` — the verb reads
    them from its meta row; the driver closure derives the new stats
    from them. ``local_out``: when the driver closure ran, receives
    the new label frame's ``dups`` and ``clusters`` and ``changed`` —
    the seed keys plus every affected doc whose drop status (labeled
    and not its own component's minimum) flipped; no other doc's
    status can change.

    Emits ``touched_buckets / frontier_docs / cc_affected_comps /
    cc_input_docs / cc_edges / cc_input_edges / cc_edge_bound /
    labels_passthrough`` into ``stats`` — the counters the replay and
    churn tests assert the bound with (r14: the edge-level bound
    ``cc_input_edges ≤ cc_edge_bound`` is additionally asserted
    in-body on the Spark path — see the inline derivation; the driver
    closure meets it by construction)."""
    keys = list(_BAND_KEYS)
    # pin the two frames every derivation below re-reads: the helper
    # counts each trigger full scans of the signature view (CAS
    # parquet + semi-joins) and the prior label table — 3-4 re-scans
    # per refresh without the persist (r14 profile). Both are
    # column-narrow (doc_id + 8 hashes / doc_id + comp); the caller's
    # pinned-list unpersists them with the edge frame. With no caller
    # list (pinned=None — this is a public function) the cached frames
    # are unpersisted locally before returning (ADVICE r14 #2: they
    # otherwise leak for the session lifetime); the returned label
    # frame stays computable — Spark unpersist only drops cached
    # blocks — and the closure result itself is checkpointed, so only
    # the cheap pass-through anti-join can recompute.
    _local_pins = pinned is None
    if pinned is None:
        pinned = []
    sig = sig.persist()
    prior = prior.persist()
    pinned.extend([sig, prior])
    try:
        closed = (_delta_driver_closure(sig, new_ids, prior, extra_affected,
                                        prior_counts, keys)
                  if _DELTA_DRIVER_MAX > 0 else None)
        if closed is not None:
            labels, counters, out = closed
            if stats is not None:
                stats.update(counters, cc_engine="driver")
            if rounds_out is not None:
                rounds_out["rounds"] = 0
            if local_out is not None:
                local_out.update(out)
            return labels
        if stats is not None:
            stats["cc_engine"] = "spark"
        return _delta_local_labels_body(
            sig, new_ids, prior, n_new, numeric_key, rounds_out, stats,
            pinned, extra_affected, warm, cc_fn, keys)
    finally:
        if _local_pins:
            for f in pinned:
                f.unpersist()


def _delta_driver_closure(sig, new_ids, prior, extra_affected,
                          prior_counts, keys):
    """``delta_local_labels``' driver path: gather the neighbourhood in
    five bounded actions and close it with a union-find. Returns
    (labels, counters, local_out) — or None when a gather exceeds
    ``_DELTA_DRIVER_MAX`` rows, before anything is built from it."""
    from ..session import conf_scope
    from ..store import local_frame

    spark = sig.sparkSession
    cap = _DELTA_DRIVER_MAX
    doc_schema = sig.select("doc_id").schema
    band_schema = _bands_of(sig).select(*keys).schema

    def gather(df: DataFrame):
        # a collected limit scans 1, then 4x more partitions per job
        # until it has its rows; a gather usually has fewer rows than
        # the cap, so it would walk every partition in ~log4(P) jobs —
        # try them all in the first one
        with conf_scope(spark, {_TAKE_FIRST_PARTS: 1 << 30}):
            rows = df.limit(cap + 1).collect()
        return None if len(rows) > cap else rows

    def key_set(values, schema) -> DataFrame:
        return F.broadcast(local_frame(spark, list(values), schema))

    # 1. seed keys: upserted (their new signatures join buckets) plus
    #    removed/edited (their old components may split)
    seeds = new_ids.select("doc_id", F.lit(True).alias("up"))
    if extra_affected is not None:
        seeds = seeds.unionByName(
            extra_affected.select("doc_id", F.lit(False).alias("up")))
    rows = gather(seeds)
    if rows is None:
        return None
    upserted = {r[0] for r in rows if r[1]}
    # removed + edited: an edited doc is in both sets, and a doc edited
    # to unsignable text has no bands, so only this seeds its old
    # component
    extra = {r[0] for r in rows if not r[1]}
    # 2. the band buckets the upserted signatures sit in
    touched: set = set()
    if upserted:
        rows = gather(_bands_of(sig.join(
            key_set(((d,) for d in upserted), doc_schema), "doc_id",
            "semi")).select(*keys))
        if rows is None:
            return None
        touched = {tuple(r) for r in rows}
    # 3. the frontier: every doc in a touched bucket
    frontier: set = set()
    if touched:
        rows = gather(_bands_of(sig).join(key_set(touched, band_schema),
                                          keys, "semi").select("doc_id"))
        if rows is None:
            return None
        frontier = {r[0] for r in rows}
    # 4. prior labels of every component with a frontier or
    #    removed/edited member
    comp_seed = frontier | extra
    affected: list = []
    if comp_seed:
        comps = (prior.join(key_set(((d,) for d in comp_seed), doc_schema),
                            "doc_id", "semi")
                 .select("comp"))
        affected = gather(prior.join(F.broadcast(comps), "comp", "semi")
                          .select("doc_id", "comp"))
        if affected is None:
            return None
    prior_comp = dict(affected)
    affected_comps = set(prior_comp.values())
    # 5. every band row of the affected docs — removed docs have none,
    #    and each bucket holding an affected doc holds only affected
    #    docs (see delta_local_labels), so the buckets are complete
    affected_docs = set(prior_comp) | frontier
    band_rows: list = []
    if affected_docs:
        band_rows = gather(_bands_of(sig.join(
            key_set(((d,) for d in affected_docs), doc_schema), "doc_id",
            "semi")))
        if band_rows is None:
            return None

    buckets: dict = {}
    for r in band_rows:
        buckets.setdefault((r[1], r[2], r[3]), []).append(r[0])
    # star edges exactly as edges_from_bands builds them; the
    # undirected pair set, each pair counted twice like the
    # bidirectional edge frame. Each bucket adds at most len - 1 pairs,
    # so the bucket-pair bound holds by construction (the Spark path
    # asserts it over its edge frame)
    star = set()
    edge_bound = 0
    for members in buckets.values():
        edge_bound += 2 * (len(members) - 1)
        hub = min(members)
        star.update((d, hub) for d in members if d != hub)
    n_edges = 2 * len(star)
    # union-find whose roots are component minima
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for d, hub in star:
        parent.setdefault(d, d)
        parent.setdefault(hub, hub)
        rd, rh = find(d), find(hub)
        if rd != rh:
            lo, hi = (rd, rh) if rd < rh else (rh, rd)
            parent[hi] = lo
    sub = {d: find(d) for d in parent}

    n_prior = sum(prior_counts)   # one representative per cluster
    dups = (prior_counts[0] - sum(d != c for d, c in prior_comp.items())
            + sum(d != c for d, c in sub.items()))
    clusters = (prior_counts[1] - len(affected_comps)
                + len(set(sub.values())))
    was_dropped = {d for d, c in prior_comp.items() if d != c}
    is_dropped = {d for d, c in sub.items() if d != c}
    counters = dict(touched_buckets=len(touched),
                    frontier_docs=len(frontier),
                    cc_affected_comps=len(affected_comps),
                    cc_input_docs=len(affected_docs),
                    cc_edges=n_edges, cc_input_edges=n_edges,
                    cc_edge_bound=edge_bound,
                    labels_passthrough=n_prior - len(prior_comp))

    label_schema = T.StructType([
        T.StructField("doc_id", doc_schema["doc_id"].dataType),
        T.StructField("comp", doc_schema["doc_id"].dataType)])
    passthrough = prior.select("doc_id", "comp")
    if affected_comps:
        passthrough = passthrough.join(
            key_set(((c,) for c in affected_comps),
                    prior.select("comp").schema), "comp", "left_anti")
    labels = local_frame(spark, list(sub.items()),
                         label_schema).unionByName(passthrough)
    return labels, counters, dict(
        dups=dups, clusters=clusters,
        changed=upserted | extra | (was_dropped ^ is_dropped))


def _delta_local_labels_body(sig, new_ids, prior, n_new, numeric_key,
                             rounds_out, stats, pinned, extra_affected,
                             warm, cc_fn, keys) -> DataFrame:
    new_sig = sig.join(_maybe_bcast(new_ids.select("doc_id"), n_new),
                       "doc_id", "semi")
    # every helper frame below uses a LAZY localCheckpoint whose own
    # count() is the single materializing action (the closure-loop
    # idiom, r14 profile: the eager variant paid a checkpoint job PLUS
    # a count job per frame — ~2x the per-batch job count for frames
    # that are all delta-sized)
    touched = (_bands_of(new_sig).select(*keys).distinct()
               .localCheckpoint(eager=False))
    n_touched = touched.count()
    frontier = (_bands_of(sig)
                .join(_maybe_bcast(touched, n_touched), keys, "semi")
                .select("doc_id").distinct()
                .localCheckpoint(eager=False))
    n_frontier = frontier.count()
    # seeds of the affected-component lookup: every doc on the frontier
    # plus (general churn) every removed/edited doc — their old
    # components may split even though their new signature is gone.
    # The broadcast gate counts the SEED FRAME ITSELF (ADVICE r13 #3:
    # n_frontier + n_new excludes removed keys by construction, so a
    # delete-heavy delta could undercount and broadcast past the
    # ceiling); the count is one job over a delta-sized frame.
    if extra_affected is None:
        comp_seed, n_seed = frontier, n_frontier
    else:
        comp_seed = (frontier.union(extra_affected.select("doc_id"))
                     .distinct().localCheckpoint(eager=False))
        n_seed = comp_seed.count()
    affected_comps = (prior.join(_maybe_bcast(comp_seed, n_seed),
                                 "doc_id", "semi")
                      .select("comp").distinct()
                      .localCheckpoint(eager=False))
    n_comps = affected_comps.count()
    bc_comps = _maybe_bcast(affected_comps, n_comps)
    affected_labeled = (prior.join(bc_comps, "comp", "semi")
                        .select("doc_id", "comp")
                        .localCheckpoint(eager=False))
    # restrict to the CURRENT signature frame via the semi-join below:
    # removed docs appear in affected_labeled but not in sig, so they
    # contribute nothing to sub_sig and drop out of the new labels
    affected_docs = (affected_labeled.select("doc_id").union(frontier)
                     .distinct().localCheckpoint(eager=False))
    n_docs = affected_docs.count()
    sub_sig = sig.join(_maybe_bcast(affected_docs, n_docs), "doc_id", "semi")
    # materialize the delta-sized band frame ONCE — the hub agg, the
    # star join and the edge-bound witness below all read it, and each
    # would otherwise re-derive sub_sig (a semi-join over the full
    # signature frame) from scratch
    sub_bands = _bands_of(sub_sig).localCheckpoint(eager=False)
    edges = edges_from_bands(sub_bands).persist()
    pinned.append(edges)
    # EDGE-level delta-locality witness (VERDICT r13 #6): the
    # closure's edge set comes only from the affected docs' bucket
    # memberships — ``edges_from_bands`` emits ≤ (n_b - 1) distinct
    # star pairs per bucket, bidirectional ×2 — so
    # cc_input_edges ≤ cc_edge_bound = 2·Σ_b(n_b − 1) over the
    # sub-signature's band buckets, a bound ∝ the affected
    # neighborhood, never the corpus. Asserted UNCONDITIONALLY
    # (ADVICE r14 #3) AND re-asserted by the replay/churn callers
    # from the emitted counters. r15 (VERDICT r14 #5, guide §1.2):
    # the edge count, the bucket-pair bound and the passthrough count
    # — three independent single-row aggregates — run as ONE action
    # (1-row cross joins), replacing three separate witness jobs per
    # refresh; the edge-count aggregate scans every partition of the
    # pinned edge frame, so it still doubles as the persist
    # materialization the closure loop needs.
    passthrough = (prior.join(bc_comps, "comp", "left_anti")
                   .select("doc_id", "comp"))
    bound_agg = (sub_bands.groupBy(*keys)
                 .agg((F.count(F.lit(1)) - 1).alias("m"))
                 .agg(F.coalesce(F.sum(F.greatest(F.col("m"),
                                                  F.lit(0))),
                                 F.lit(0)).alias("b")))
    probe = (edges.agg(F.count(F.lit(1)).alias("n_edges"))
             .crossJoin(bound_agg)
             .crossJoin(passthrough.agg(
                 F.count(F.lit(1)).alias("n_pass")))
             .collect()[0])
    n_edges = int(probe["n_edges"])
    edge_bound = 2 * int(probe["b"])
    if n_edges > edge_bound:
        raise AssertionError(
            f"delta-local closure has {n_edges} edges > bucket "
            f"pair bound {edge_bound} — edges leaked in from "
            f"outside the affected neighborhood")
    if stats is not None:
        stats.update(touched_buckets=n_touched, frontier_docs=n_frontier,
                     cc_affected_comps=n_comps, cc_input_docs=n_docs,
                     cc_edges=n_edges, cc_input_edges=n_edges,
                     cc_edge_bound=edge_bound,
                     labels_passthrough=int(probe["n_pass"]))
    # r14: the affected-subgraph derivation above is ALGORITHM-
    # AGNOSTIC (it only needs `prior` to be constant per component and
    # unique across components — true of both closures, which label by
    # component minimum), so largestar refreshes route through the
    # same sub-closure. Only the SEED is minlabel-specific: largestar's
    # edge rewriting has no label-frame analog, so a non-default
    # ``cc_fn`` always runs cold — still delta-scoped.
    if cc_fn is None:
        labels_sub = cc_labels_from_edges(
            edges, numeric_key=numeric_key,
            seed=affected_labeled if warm else None,
            rounds_out=rounds_out)
    else:
        labels_sub = cc_fn(edges, numeric_key=numeric_key,
                           rounds_out=rounds_out)
    return labels_sub.select("doc_id", "comp").union(passthrough)


def _prior_labels(eng, labels_name: str, md: dict) -> DataFrame | None:
    """Hash-guarded prior (doc_id, comp) cluster labels for
    warm-starting the min-label closure. Trusted ONLY when the catalog
    entry still matches the hash the meta row pinned — a tampered or
    absent label table silently falls back to a cold start, because a
    seed violating the same-component contract could merge unrelated
    components (the seed is an input to a provably-correct shortcut,
    not advisory metadata)."""
    lh = md.get("labels_hash")
    if not lh:
        return None
    e = eng.catalog.get(labels_name)
    if e is None or e.table_hash != lh:
        return None
    return eng.load_table(labels_name).df.select("doc_id", "comp")


def dedup_near_incremental(eng, table: str, out: str,
                           text_col: str = "text",
                           clusters_table: str | None = None,
                           shingle_k: int = _SHINGLE_K,
                           cc_algorithm: str = "minlabel") -> dict:
    """``dedup-near --incremental``: the verb with PERSISTED, MAINTAINED
    MinHash signature state — closes the composition gap the r10
    verdict flagged (the verb re-signed the whole corpus every run
    while ``incremental_minhash_refresh`` already proved per-bucket
    memoized signatures). The md5-per-shingle signing pass — the verb's
    dominant cost — now refreshes ∝ the delta; the reference's defining
    memoize contract (``Trie.hs:280-295``, ``MemoStore.hs:13-26``)
    applied to the verb's hot stage. State in the catalog, committed
    atomically with the outputs in one root swap:

      <out>__mh_docs   — key-bucketed (doc_id, text) corpus snapshot;
                         the source's own manifest when the source is
                         in this shape at the snapshot's fan-out (see
                         ``_mh_state_shaped``), so it is never rewritten
      <out>__mh_sig    — per-bucket memoized signature view over it
      <out>__mh_labels — (doc_id, comp) cluster labels of the last run
      <out>__mh_meta   — (source_hash, shingle_k, text_col,
                          cc_algorithm, output + label hashes)
                          provenance

    Every later run derives the delta ITSELF: the meta row pins the
    content hash of the source snapshot the state matches; the
    immutable CAS still holds that snapshot, so ``diff_tables``
    yields exactly the changed/added/removed rows, the bucketed docs
    table upserts (and DELETES) only touched buckets, and the
    signature view recomputes only those buckets (counter-asserted
    in-body). An unchanged source whose outputs are in place is a TRUE
    no-op of ZERO Spark jobs: one catalog root read, the state
    manifests and the one-row meta record (``load_record``) are all
    read on the driver, before the source is even loaded; no root
    swap. A tampered output restores in O(1) by RELINKING the catalog
    at the meta-pinned output hashes still in the immutable CAS (mode
    "restore"/"relink", zero data jobs), falling back to a re-derive
    from the maintained state — zero signing either way — when those
    objects were gc-swept. Re-CLUSTERING is DELTA-LOCAL for ANY churn
    (r13, VERDICT r12 next-round #1, generalized): only components
    with a member in a bucket the upserts touched, or with a
    removed/edited member, can change — so the min-label closure runs
    ONLY over the affected components' sub-signature while every
    untouched component's labels pass through via one anti-join. On
    adds-only deltas components can only merge, so the sub-closure
    additionally WARM-SEEDS from the prior labels (minlabel only —
    r14 routes ``largestar`` refreshes through the same delta-scoped
    sub-closure, always cold: its rewriting has no label-frame seed);
    deletes/edits can split components, so those run the sub-closure
    cold too. :func:`delta_local_labels` carries the exactness
    argument and the counters (`cc_input_docs`, `labels_passthrough`,
    `cc_edges`) that the replay/churn tests assert the bound with.
    This converts the verb's last O(corpus-edges × rounds) refresh
    term to O(delta-neighborhood). A delta-sized neighbourhood closes
    ON THE DRIVER (``cc_engine`` "driver", ``cc_rounds`` 0): five
    bounded gathers and a union-find replace the Spark closure's
    checkpoint, probe and per-round jobs, and the run's
    ``dups_removed``/``clusters`` and the output's drop-status flips
    come from the meta row plus the neighbourhood, since passthrough
    labels cannot change. A gather above ``_DELTA_DRIVER_MAX`` rows
    (a giant cluster, a bulk delta) falls back to the Spark closure
    (``cc_engine`` "spark"). Restore and refresh carry ``rows_in``
    forward from the meta row (adjusted by the diff's added and
    removed counts); only a build counts the corpus. The label
    table's hash is pinned in meta, so a missing or tampered label
    table disables the whole shortcut — full cold closure
    (`cc_scope` reports "delta" or "full"). A restore with intact
    labels re-derives through the delta-local path with an EMPTY
    delta: pure passthrough, zero closure edges.
    ``cc_algorithm`` is a detector-state parameter like ``shingle_k``:
    changing it rebuilds (``largestar`` never seeds — the rewriting
    has no label-frame analog). Rebuild-on-any-param-change is
    deliberate over a per-param reuse matrix: signatures are in fact
    closure-independent and COULD survive an algorithm switch, but one
    invariant — meta mismatch ⇒ rebuild — is auditable at a glance,
    and an algorithm switch is a rare operator action, not a loop."""
    from ..operators.core import KeyedTable, canonicalize_input, diff_tables
    from ..plans.incremental import (incremental_map_view,
                                     incremental_upsert, load_manifest,
                                     read_bucketed, seed_map_view_memo,
                                     write_bucketed)
    from ..store import as_schema, local_frame
    from .linkage import _load_object_df, _xs_auto_buckets

    cc_fn = _cc_fn_for(cc_algorithm)
    spark = eng.spark
    meta_name, docs_name, sig_name, labels_name = (f"{out}__mh_meta",
                                                   f"{out}__mh_docs",
                                                   f"{out}__mh_sig",
                                                   f"{out}__mh_labels")
    # the no-op and relink decisions read only the catalog (one root
    # read, through this transaction's buffer), the state manifests and
    # the one-row meta record, all on the driver: an unchanged source
    # launches no Spark job
    ents = eng.table_entries(
        [table, meta_name, docs_name, sig_name, labels_name, out]
        + ([clusters_table] if clusters_table else []))
    src_e = ents[table]
    if src_e is None:
        raise KeyError(f"no such table: {table}")
    if len(src_e.key_cols) != 1:
        raise ValueError("dedup-near needs a single-column key")
    key = src_e.key_cols[0]
    if text_col not in as_schema(src_e.schema_json).fieldNames():
        raise ValueError(f"no column {text_col!r} in {table}")
    cur_hash = src_e.table_hash
    d_ref = s_ref = old_hash = None
    md: dict = {}
    meta_e = ents[meta_name]
    if meta_e is not None:
        md = eng.objects.load_record(meta_e.table_hash)
        if (md["shingle_k"] == int(shingle_k)
                and md["text_col"] == text_col
                and md.get("cc_algorithm", "minlabel") == cc_algorithm
                and eng.objects.exists(md["source_hash"])):
            d_e, s_e = ents[docs_name], ents[sig_name]
            if d_e is not None and s_e is not None:
                d_ref = load_manifest(eng.objects, d_e.table_hash)
                s_ref = load_manifest(eng.objects, s_e.table_hash)
                old_hash = md["source_hash"]
    stats: dict = {"ok": True, "detector": "minhash-lsh", "table": out,
                   "cc_algorithm": cc_algorithm}
    if d_ref is not None and s_ref is not None and old_hash == cur_hash:
        out_e = ents[out]
        cl_e = ents[clusters_table] if clusters_table else None
        lab_e = ents[labels_name]
        # a noop also requires the pinned LABELS state intact (when the
        # meta pins one): a tampered labels table with intact outputs
        # would otherwise silently cost every future adds-only refresh
        # its warm start — route it through the relink repair instead
        labels_ok = (md.get("labels_hash") is None
                     or (lab_e is not None
                         and lab_e.table_hash == md["labels_hash"]))
        if (labels_ok and out_e is not None
                and out_e.table_hash == md.get("out_hash")
                and (clusters_table is None
                     or (cl_e is not None and cl_e.table_hash
                         == md.get("clusters_out_hash")))):
            stats.update(mode="noop", table_hash=md["out_hash"],
                         rows_in=md["rows_in"], rows_out=md["rows_out"],
                         dups_removed=md["rows_in"] - md["rows_out"],
                         clusters=md["clusters"])
            if clusters_table:
                stats["clusters_table"] = clusters_table
            return stats
    if d_ref is not None and s_ref is not None and old_hash == cur_hash:
        # outputs tampered, source unchanged (the noop check above
        # did not return): prefer the O(1) RELINK restore — the meta
        # row pins the exact output hashes and the immutable CAS
        # usually still holds the objects, so the repair is catalog
        # bookkeeping, not a re-derivation (at 100 TB, re-clustering
        # to fix a mispointed catalog entry is an hours-long job; a
        # relink is seconds, zero data jobs). Swept objects — or
        # pre-r12 meta without a labels pin — fall through to the
        # re-derive restore below (warm-seeded, still cheap).
        hashes = [md.get("out_hash"), md.get("labels_hash")]
        if clusters_table:
            hashes.append(md.get("clusters_out_hash"))
        if all(h and eng.objects.exists(h) for h in hashes):
            try:
                with eng.transaction():  # one root swap, like every path
                    # ONE lease spans the re-check of ALL pinned objects
                    # AND the relinks (ADVICE r12 #1): gc cannot sweep
                    # under a held lease, so either the re-check raises
                    # BEFORE any entry is buffered, or every relink
                    # succeeds — no partial relink can leak through an
                    # OUTER transaction this verb may be running inside
                    # (eng.transaction() joins it, so a later raise
                    # would NOT roll back earlier buffered entries)
                    with eng.objects.lease():
                        if not all(eng.objects.exists(h) for h in hashes):
                            raise KeyError(
                                "pinned output object swept between "
                                "pre-check and relink")
                        eng.relink_table(out, md["out_hash"], (key,))
                        eng.relink_table(labels_name, md["labels_hash"],
                                         ("doc_id",))
                        if clusters_table:
                            eng.relink_table(clusters_table,
                                             md["clusters_out_hash"],
                                             (key,))
            except KeyError:
                # a concurrent gc swept an object between the unleased
                # pre-check above and the leased re-check: nothing was
                # buffered yet — honor the documented fallback and
                # re-derive from maintained state below
                pass
            else:
                stats.update(mode="restore", restore_path="relink",
                             table_hash=md["out_hash"],
                             rows_in=md["rows_in"],
                             rows_out=md["rows_out"],
                             dups_removed=md["rows_in"] - md["rows_out"],
                             clusters=md["clusters"])
                if clusters_table:
                    stats["clusters_table"] = clusters_table
                return stats
    t = eng.load_table(table)
    src = t.df.select(F.col(key).alias("doc_id"),
                      F.col(text_col).alias("text"))
    cur_ref = load_manifest(eng.objects, cur_hash)
    # a source in the state shape IS the docs snapshot at its own
    # fan-out: every bucket address an upsert or a write of it would
    # produce is the source's own, so the manifest is registered as
    # the snapshot and nothing is written
    src_is_docs = _mh_state_shaped(cur_ref, text_col, src_e.schema_json)
    fkey = _mh_sig_transform_key(int(shingle_k))
    numeric = dict(t.df.dtypes)[key] in _NUMERIC_KEYS
    # a build counts the corpus — the one corpus-scale stats job,
    # OUTSIDE the root-swap critical section; restore and refresh carry
    # the pinned count forward (a refresh adjusts it by the diff's
    # added/removed counts below)
    rows_in = (t.df.count() if d_ref is None or s_ref is None
               else md["rows_in"])
    seed = None    # warm-start labels for the closure (minlabel only)
    # delta-local re-clustering inputs: upserted keys (+count), the
    # removed/edited keys whose prior components may split, and the
    # hash-verified prior labels. An empty new_ids frame = the restore
    # path's pure-passthrough re-derive. delta_keys additionally
    # carries EVERY delta key (removed included) for the output
    # manifest's touched-bucket derivation.
    new_ids, n_new_ids, extra_affected, prior = None, 0, None, None
    delta_keys = None
    with eng.transaction():
        if d_ref is None or s_ref is None:
            stats["mode"] = "build"
            n_docs = _xs_auto_buckets(rows_in)
            if src_is_docs and cur_ref.n_buckets == n_docs:
                d2 = cur_ref
            else:
                d2 = write_bucketed(eng.objects,
                                    canonicalize_input(src, ("doc_id",)),
                                    n_buckets=n_docs)
            s2 = incremental_map_view(spark, eng.objects, eng.memo,
                                      d2, fkey)
        elif old_hash == cur_hash:
            # outputs tampered, source unchanged, and the relink path
            # above found an output object swept: re-derive from the
            # maintained state — zero signing work; the prior labels
            # (if intact) ARE this graph's fixpoint. r13: route the
            # re-cluster through the DELTA-LOCAL path with an EMPTY
            # delta — no touched buckets, so every label passes
            # through by one anti-join and the closure sees zero
            # edges (the hash pin on the labels is the trust
            # boundary, exactly as in the relink restore). Swept
            # labels fall back to the full cold closure.
            stats["mode"] = "restore"
            stats["restore_path"] = "rederive"
            d2, s2 = d_ref, s_ref
            prior = _prior_labels(eng, labels_name, md)
            if prior is not None:
                new_ids, n_new_ids = src.select("doc_id").limit(0), 0
                delta_keys = new_ids
                if cc_algorithm == "minlabel":
                    # largestar's sub-closure ignores any seed and runs
                    # cold — leaving seed unset keeps cc_mode honest
                    # (r14 review finding #1)
                    seed = prior
        else:
            stats["mode"] = "refresh"
            # rehydrate memo records the state manifests already prove
            # (view bucket b == fkey(docs bucket b)) — a warehouse that
            # received the state via sync_table has the objects and the
            # catalog entries but NOT the store-local memo, and without
            # this its first refresh re-signs every untouched bucket
            # (and trips the delta-bound assert below). Zero data jobs;
            # a same-warehouse refresh seeds nothing (records exist).
            seeded = seed_map_view_memo(eng.memo, d_ref, s_ref, fkey)
            if seeded:
                stats["memo_records_rehydrated"] = seeded
            # BUCKET-PRUNED delta derivation (r15, guide §2.3/§6 — the
            # Trie.hs:346-348 move applied to the verb's own diff leg):
            # when the old snapshot AND the current source are both
            # bucketed manifests with the same key/fan-out, buckets
            # whose content hash is equal are provably identical
            # (write-once CAS) and are never read — the full-outer diff
            # join runs only over changed buckets, so delta derivation
            # costs ∝ churn, not corpus. Plain-table sources keep the
            # full diff (identical output either way).
            old_ref = load_manifest(eng.objects, old_hash)
            if (old_ref is not None and cur_ref is not None
                    and old_ref.key_cols == cur_ref.key_cols
                    and old_ref.n_buckets == cur_ref.n_buckets):
                changed_b = [b for b in range(old_ref.n_buckets)
                             if old_ref.bucket_hashes[b]
                             != cur_ref.bucket_hashes[b]]

                def _ren(df: DataFrame) -> DataFrame:
                    return df.select(F.col(key).alias("doc_id"),
                                     F.col(text_col).alias("text"))
                o_df = _ren(read_bucketed(spark, eng.objects, old_ref,
                                          buckets=changed_b).df)
                n_df = _ren(read_bucketed(spark, eng.objects, cur_ref,
                                          buckets=changed_b).df)
                d_frame = diff_tables(KeyedTable(o_df, ("doc_id",)),
                                      KeyedTable(n_df, ("doc_id",)))
            else:
                old = (_load_object_df(eng, old_hash)
                       .select(F.col(key).alias("doc_id"),
                               F.col(text_col).alias("text")))
                d_frame = diff_tables(KeyedTable(old, ("doc_id",)),
                                      KeyedTable(src, ("doc_id",)))
            d = (d_frame.select("doc_id", "change", "new_text")
                 .localCheckpoint(eager=True))   # diff runs ONCE
            by_change = {r["change"]: r["n"] for r in
                         d.groupBy("change")
                          .agg(F.count(F.lit(1)).alias("n")).collect()}
            stats["delta_docs"] = sum(by_change.values())
            rows_in += by_change.get("added", 0) - by_change.get("removed", 0)
            # DELTA-LOCAL re-clustering scope for ANY churn (r13): the
            # upserted docs' new buckets plus removed/edited docs'
            # prior components bound the affected neighborhood; the
            # sub-closure seeds (warm) only on adds-only deltas, where
            # components provably only merge — deletes/edits can split
            # them, so those run the sub-closure cold. A missing or
            # hash-mismatched label table disables the whole shortcut
            # (full cold closure below).
            prior = _prior_labels(eng, labels_name, md)
            adds_only = set(by_change) <= {"added"}
            if prior is not None:
                delta_keys = d.select("doc_id")   # removed included
                new_ids = (d.filter(F.col("change") != "removed")
                            .select("doc_id"))
                n_new_ids = (by_change.get("added", 0)
                             + by_change.get("changed", 0))
                if not adds_only:
                    extra_affected = (d.filter(F.col("change") != "added")
                                       .select("doc_id"))
                if adds_only and cc_algorithm == "minlabel":
                    # largestar's rewriting has no label-frame seed,
                    # so it never warm-starts (cc_mode stays honest)
                    seed = prior
            if src_is_docs and cur_ref.n_buckets == d_ref.n_buckets:
                d2 = cur_ref
            else:
                ups = (d.filter(F.col("change") != "removed")
                        .select("doc_id", F.col("new_text").alias("text")))
                dels = (d.filter(F.col("change") == "removed")
                         .select("doc_id"))
                d2 = incremental_upsert(spark, eng.objects, d_ref, ups,
                                        deletes=dels)
            touched = sum(1 for a, b in zip(d_ref.bucket_hashes,
                                            d2.bucket_hashes) if a != b)
            misses0 = eng.memo.misses
            s2 = incremental_map_view(spark, eng.objects, eng.memo,
                                      d2, fkey)
            refreshed = eng.memo.misses - misses0
            if refreshed > touched:
                raise AssertionError(
                    f"signature refresh recomputed {refreshed} buckets "
                    f"but the delta touched only {touched} — per-bucket "
                    f"memoization broken")
            stats["docs_buckets_touched"] = touched
            stats["sig_buckets_recomputed"] = refreshed
        eng.save_bucketed_table(docs_name, d2)
        eng.save_bucketed_table(sig_name, s2)
        stats["n_buckets"] = d2.n_buckets
        # re-cluster over the MAINTAINED signatures: DELTA-LOCAL
        # whenever trusted prior labels exist (affected components +
        # pass-through, r13; r14 extends the sub-closure to largestar —
        # the affected-subgraph derivation is algorithm-agnostic, only
        # the warm seed is minlabel-specific); otherwise the full
        # closure, warm-seeded when algorithm and delta allow it
        sig = read_bucketed(spark, eng.objects, s2).df
        pinned: list = []
        try:     # round-ceiling/save failures must release the pins
            cc_stats: dict = {}
            local: dict = {}
            if new_ids is not None:
                # the meta row pins the prior labels' stats
                md_counts = (md["rows_in"] - md["rows_out"], md["clusters"])
                labels = delta_local_labels(
                    sig, new_ids, prior, n_new_ids,
                    numeric_key=numeric, rounds_out=cc_stats,
                    stats=stats, pinned=pinned,
                    extra_affected=extra_affected,
                    warm=seed is not None,
                    cc_fn=None if cc_algorithm == "minlabel" else cc_fn,
                    prior_counts=md_counts, local_out=local)
                stats["cc_scope"] = "delta"
            else:
                edges = edges_from_sig(sig).persist()
                pinned.append(edges)
                if cc_algorithm == "minlabel":
                    labels = cc_fn(edges, numeric_key=numeric, seed=seed,
                                   rounds_out=cc_stats)
                else:
                    labels = cc_fn(edges, numeric_key=numeric,
                                   rounds_out=cc_stats)
                stats["cc_scope"] = "full"
            stats["cc_mode"] = "warm" if seed is not None else "cold"
            stats["cc_rounds"] = cc_stats["rounds"]
            # a driver closure derived the stats from the meta row plus
            # the neighbourhood (passthrough labels are unchanged)
            dups, clusters = ((local["dups"], local["clusters"]) if local
                              else _label_stats(labels))
            stats["rows_in"] = rows_in
            stats["dups_removed"] = dups
            stats["rows_out"] = rows_in - dups
            stats["clusters"] = clusters
            # out fan-out follows the SAME rule as dedup_near (source
            # manifest's bucket count when key-aligned, corpus-sized
            # otherwise) so gold rebuilds produce the identical
            # manifest hash; a fan-out drift vs the old out manifest
            # falls back to the full bucket write inside _commit
            src_out_ref = (cur_ref if cur_ref is not None
                           and tuple(cur_ref.key_cols) == (key,) else None)
            n_out = (src_out_ref.n_buckets if src_out_ref is not None
                     else _xs_auto_buckets(rows_in))
            # output-manifest touched set = delta keys ∪ drop-status
            # FLIPS (a doc enters/leaves the survivor table only when
            # its delta membership or its dropped-bit changes; both
            # drop sets are label-frame-scale). Needs trusted prior
            # labels AND an intact old out manifest of the same
            # fan-out — anything else takes the full bucket write.
            # r16 (VERDICT r15 #1): a delta of >= 4x the fan-out hashes
            # into every bucket with near certainty, so the touched
            # path would pay the flip-diff joins and the changed-keys
            # collect ON TOP of an effectively full write — skip the
            # derivation and take the plain full write outright (the
            # replay's 1/3-corpus batches and the churn's ~delta/8
            # edits are exactly this regime; a genuinely small delta
            # keeps the ∝-churn path unchanged, and _commit still
            # short-circuits if its flips push coverage to every
            # bucket). Strategy choice only — both paths produce the
            # identical manifest.
            old_out_ref = None
            changed_keys = None
            if (delta_keys is not None and prior is not None
                    and md.get("out_hash")
                    and stats.get("delta_docs", 0) < 4 * n_out):
                old_out_ref = load_manifest(eng.objects, md["out_hash"])
                if old_out_ref is not None and local:
                    # only affected docs can flip: the driver closure
                    # already holds the delta keys and the flips
                    changed_keys = local_frame(
                        spark, [(k,) for k in local["changed"]],
                        t.df.select(key).schema)
                elif old_out_ref is not None:
                    dn = (labels.filter(F.col("doc_id") != F.col("comp"))
                                .select("doc_id"))
                    do = (prior.filter(F.col("doc_id") != F.col("comp"))
                                .select("doc_id"))
                    flips = (dn.join(do, "doc_id", "left_anti")
                             .unionByName(do.join(dn, "doc_id",
                                                  "left_anti")))
                    changed_keys = (delta_keys.unionByName(flips)
                                    .select(F.col("doc_id").alias(key)))
            cl_hash = _commit_dedup_outputs(
                eng, t.df, key, labels, out, clusters_table, stats,
                n_buckets=n_out, old_out_ref=old_out_ref,
                changed_keys=changed_keys, src_ref=src_out_ref)
            # persist the labels beside the signature state so the NEXT
            # adds-only refresh can warm-start; label-frame-sized
            labels_hash = eng.save_table(labels_name, KeyedTable(
                labels.select("doc_id", "comp"), ("doc_id",)))
            # meta pins the OUTPUT hashes too, so the next
            # unchanged-source run can no-op without re-clustering
            eng.save_table(meta_name, KeyedTable(
                local_frame(
                    spark,
                    [(cur_hash, int(shingle_k), text_col, cc_algorithm,
                      stats["table_hash"], cl_hash, labels_hash, rows_in,
                      stats["rows_out"], stats["clusters"])],
                    T.StructType.fromDDL(
                        "source_hash string, shingle_k bigint, "
                        "text_col string, cc_algorithm string, "
                        "out_hash string, clusters_out_hash string, "
                        "labels_hash string, rows_in bigint, "
                        "rows_out bigint, clusters bigint")),
                ("source_hash",)))
        finally:
            for p in pinned:
                p.unpersist()
    return stats


def _near_dedup_stream_core(spark: SparkSession, sf_dir: str,
                            gold: bool) -> DataFrame:
    """Shared body of ``stream_near_dedup_replay`` (the MAINTAINED
    loop — the number that matters at 100 TB) and
    ``stream_near_dedup_gold`` (the loop PLUS the from-scratch full
    re-cluster and its hash-equality proof). Split in r14 (VERDICT r13
    #1, the ``exact_substring_refresh_gold`` convention): bundled, a
    regression in the maintained path could hide inside gold-rebuild
    variance — each now carries its own bench pin."""
    import os
    import shutil
    import tempfile

    from ..engine import Engine
    from ..operators.core import canonicalize_input
    from ..plans.incremental import (incremental_upsert, load_manifest,
                                     write_bucketed)
    from .engine_ops import _replay_shuffle_partitions
    from .linkage import _xs_auto_buckets

    (d,) = load(spark, sf_dir, "documents")
    # a uniform quarter of the corpus: the replay pays 3x (diff + state
    # refresh + full re-cluster + txn commit) — the maintained-state
    # mechanism is what this query checks; the slice bounds bench cost
    docs = d.filter(F.col("doc_id") % 4 == 1).select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="messdb_ndstream_")
    try:
        src_dir = os.path.join(tmp, "src")
        (docs.withColumn("__sp", F.pmod(F.col("doc_id"), F.lit(3))
                         .cast("int"))
             .repartition(3, "__sp")
             .write.partitionBy("__sp").mode("overwrite").parquet(src_dir))
        eng = Engine(spark, os.path.join(tmp, "wh"))
        batches = []

        def sink(batch_df, epoch_id):
            # r15 (guide §2.3/§2.4): the corpus table is maintained as a
            # BUCKETED catalog entry — batch 1 builds the manifest, later
            # batches `incremental_upsert` so the ingest commit hashes
            # and writes only the batch's touched buckets instead of
            # re-hashing the whole corpus every batch (the r14 profile
            # showed the full-corpus `save_table` dominating the ingest
            # leg; the verb consumes the manifest transparently, proven
            # by test_dedup_near_incremental_over_bucketed_source).
            pinned = (batch_df.select("doc_id", "text")
                      .localCheckpoint(eager=True))
            n_batch = pinned.count()
            with eng.transaction():
                e = eng.catalog.get("docs")
                ref = (load_manifest(eng.objects, e.table_hash)
                       if e is not None else None)
                if ref is None:
                    ref = write_bucketed(
                        eng.objects, canonicalize_input(pinned, ("doc_id",)),
                        n_buckets=_xs_auto_buckets(n_batch))
                else:
                    ref = incremental_upsert(spark, eng.objects, ref, pinned)
                eng.save_bucketed_table("docs", ref)
                st = dedup_near_incremental(
                    eng, "docs", "docs_dedup",
                    clusters_table="docs_clusters")
                batches.append(
                    (eng.catalog.current_version() + 1, n_batch, st))
            pinned.unpersist()

        stream = (spark.readStream
                  .schema(docs.schema)
                  .option("maxFilesPerTrigger", 1)
                  .option("recursiveFileLookup", "true")
                  .parquet(src_dir))
        with _replay_shuffle_partitions(spark):
            q = (stream.writeStream.foreachBatch(sink)
                 .outputMode("update")
                 .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                 .start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        if len(batches) != 3:
            raise AssertionError(
                f"expected 3 micro-batches, got {len(batches)}")
        versions = [b[0] for b in batches]
        if versions != sorted(set(versions)) or \
                versions[-1] - versions[0] != 2:
            raise AssertionError(
                f"each batch must commit ingest+state+outputs in ONE "
                f"root swap: {versions}")
        total = 0
        for i, (v, n_batch, st) in enumerate(batches):
            total += n_batch
            if i == 0:
                if st["mode"] != "build":
                    raise AssertionError(f"batch 1 mode: {st['mode']}")
                continue
            if st["mode"] != "refresh":
                raise AssertionError(f"batch {i + 1} mode: {st['mode']}")
            if st["delta_docs"] != n_batch:
                raise AssertionError(
                    f"batch at v{v}: derived delta {st['delta_docs']} "
                    f"!= batch size {n_batch} — diff-vs-snapshot broken")
            if st["sig_buckets_recomputed"] > st["docs_buckets_touched"]:
                raise AssertionError(
                    f"batch at v{v} re-signed "
                    f"{st['sig_buckets_recomputed']} buckets, delta "
                    f"touched {st['docs_buckets_touched']}")
            if st["cc_mode"] != "warm":
                raise AssertionError(
                    f"batch at v{v} re-clustered cold — an adds-only "
                    f"ingest must warm-start from the persisted labels")
            if st.get("cc_scope") != "delta":
                raise AssertionError(
                    f"batch at v{v} re-clustered {st.get('cc_scope')} — "
                    f"an adds-only ingest must re-cluster DELTA-LOCAL "
                    f"(affected components only, r13)")
            if st["cc_input_docs"] >= st["rows_in"]:
                raise AssertionError(
                    f"batch at v{v}: delta-local closure ingested "
                    f"{st['cc_input_docs']} docs of {st['rows_in']} — "
                    f"not a strict subset; affected-component "
                    f"derivation broken")
            if st["labels_passthrough"] <= 0:
                raise AssertionError(
                    f"batch at v{v}: zero labels passed through — every "
                    f"component counted as affected; delta-local "
                    f"re-clustering is degenerate")
            if st["cc_input_edges"] > st["cc_edge_bound"]:
                raise AssertionError(
                    f"batch at v{v}: closure saw {st['cc_input_edges']} "
                    f"edges > affected-bucket pair bound "
                    f"{st['cc_edge_bound']} — edge-level delta-locality "
                    f"broken (r14)")
        if total != docs.count():
            raise AssertionError("batches did not cover the corpus")
        if gold:
            # gold: a from-scratch full re-cluster of the final corpus
            # must produce CONTENT-HASH-IDENTICAL outputs — the
            # delta-local closure is an optimization, never a semantic
            # fork. Separately registered/pinned (VERDICT r13 #1) so
            # this deliberate second full build never masks a
            # maintained-loop regression.
            g = dedup_near(eng, "docs", "docs_dedup_gold",
                           clusters_table="docs_clusters_gold")
            if g["table_hash"] != batches[-1][2]["table_hash"]:
                raise AssertionError(
                    "delta-local incremental output diverged from the "
                    "from-scratch full re-cluster")
            if eng.table_hash("docs_clusters_gold") != \
                    eng.table_hash("docs_clusters"):
                raise AssertionError(
                    "delta-local cluster table diverged from the "
                    "from-scratch full re-cluster")
        out = (eng.load_table("docs_clusters").df
               .select("doc_id", "cluster_id", "cluster_size")
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


_ND_STREAM_ORACLE = f"""
    WITH RECURSIVE slice_docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1
    ), {_cc_ctes_for("slice_docs")}
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM assign
    """


@query("stream_near_dedup_replay", oracle=_ND_STREAM_ORACLE)
def stream_near_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``dedup-near`` verb DRIVEN BY A STREAM — the near-dup family
    has the same end-to-end operational loop as ExactSubstr
    (``stream_xs_ingest_replay``): documents arrive over 3
    micro-batches; each batch upserts the catalog corpus table and runs
    :func:`dedup_near_incremental` INSIDE the same transaction, so
    ingest, maintained-signature refresh, delta-local re-cluster,
    deduped output, cluster table, label state and meta all land in ONE
    root swap per batch. In-body asserts: 3 single-root-swap commits;
    batch 1 builds, later batches refresh with a DERIVED delta equal to
    their own batch (the verb diffs the catalog table against the CAS
    snapshot its state was built from — no change feed is handed to
    it); each refresh recomputes no more signature buckets than its
    delta touched, AND — streaming ingest being adds-only — each
    refresh's closure must WARM-START from the previous batch's
    persisted labels and run DELTA-LOCAL (`cc_scope == "delta"`,
    closure input a strict subset of the corpus at BOTH doc and edge
    granularity — r14 adds ``cc_input_edges ≤ cc_edge_bound``, the
    affected buckets' pair bound — and at least one untouched component
    passing through by anti-join; see :func:`delta_local_labels`). The
    final cluster assignment hash-checks against DuckDB computing the
    MinHash-LSH closure over the whole slice from scratch. The
    refresh == from-scratch-rebuild hash-equality proof lives in the
    separately-pinned ``stream_near_dedup_gold`` (r14, VERDICT r13 #1)
    so THIS row times exactly the maintained loop.

    Scale: per micro-batch text work is (batch signing + batch-bucket
    state rewrite); the re-cluster touches only the components the
    batch's buckets reach — corpus text is never re-signed after its
    arrival batch and untouched components are never re-joined, which
    is exactly the contract that makes near-dedup affordable inside a
    100 TB crawl loop."""
    return _near_dedup_stream_core(spark, sf_dir, gold=False)


@query("stream_near_dedup_gold", oracle=_ND_STREAM_ORACLE)
def stream_near_dedup_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream_near_dedup_replay``'s INTEGRITY twin (r14, VERDICT r13
    #1 — the ``exact_substring_refresh_gold`` convention): runs the
    same 3-batch maintained ingest loop, then a deliberate from-scratch
    FULL re-cluster of the final corpus and proves it CONTENT-HASH-
    IDENTICAL to the incrementally-maintained dedup output AND cluster
    table — delta-local maintenance is an optimization, never a
    semantic fork. Registered and pinned separately so this second
    full build's cost is visible on its own regression bar and can
    never mask a regression in the maintained loop (the number that
    matters at 100 TB). Returns the maintained cluster table — by the
    in-body proof, byte-identical content to the gold rebuild's."""
    return _near_dedup_stream_core(spark, sf_dir, gold=True)


# deterministic churn spec for dedup_near_churn_replay — mirrored
# bit-for-bit by its DuckDB oracle, so both engines sign the same
# final corpus. Slice doc_id%8==3 (distinct from the stream replay's
# %4==1 slice, and half its weight — the query pays a build + a churn
# refresh + a gold rebuild); within it, doc_id%64==3 is EDITED
# (suffix appended) and doc_id%64==19 is DELETED.
_ND_CHURN_EDIT_SUFFIX = " r14-churn-edit"


@query(
    "dedup_near_churn_replay",
    oracle=f"""
    WITH RECURSIVE final_docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 64 = 3
                  THEN text || '{_ND_CHURN_EDIT_SUFFIX}'
                  ELSE text END AS text
      FROM documents
      WHERE doc_id % 8 = 3 AND doc_id % 64 != 19
    ), {_cc_ctes_for("final_docs")}
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM assign
    """)
def dedup_near_churn_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE/EDIT churn through ``dedup-near --incremental``'s
    delta-local re-cluster, DRIVER-GATED (r14, VERDICT r13 #4: the
    generalized churn path — ``extra_affected``, removed/edited docs'
    prior components re-clustering cold but delta-scoped — was
    pytest-proven in r13 while the only driver-checked exerciser was
    adds-only). Run 1 builds state over the doc_id%8==3 slice; run 2
    re-saves the corpus with doc_id%64==3 docs EDITED (deterministic
    suffix) and doc_id%64==19 docs DELETED, then refreshes. The verb
    derives the delta itself by diffing the catalog table against the
    CAS snapshot its state pinned. In-body asserts: the derived delta
    is exactly the changed+removed count; signature refresh recomputes
    no more buckets than the delta touched; the re-cluster runs
    ``cc_scope == "delta"`` and ``cc_mode == "cold"`` (deletes/edits
    can split components, so no warm seed — the path adds-only ingest
    never takes); closure input is a strict subset at doc AND edge
    granularity (``cc_input_edges ≤ cc_edge_bound``, r14) with
    untouched components passing through; and a from-scratch full
    rebuild of the final corpus is CONTENT-HASH-IDENTICAL on both the
    dedup output and the cluster table. The DuckDB oracle recomputes
    the MinHash-LSH closure over the post-churn corpus from scratch.

    Scale: the refresh signs only edited docs, rewrites only touched
    buckets, and re-clusters only affected components — churn cost ∝
    delta neighborhood, the property that makes maintained near-dedup
    affordable under a 100 TB crawl's rolling updates."""
    import os
    import shutil
    import tempfile

    from ..engine import Engine
    from ..operators.core import canonicalize_input

    (d,) = load(spark, sf_dir, "documents")
    base = (d.filter(F.col("doc_id") % 8 == 3)
             .select("doc_id", "text"))
    edited = base.filter(F.col("doc_id") % 64 == 3)
    removed = base.filter(F.col("doc_id") % 64 == 19)
    n_edited, n_removed = edited.count(), removed.count()
    final = (base.filter(F.col("doc_id") % 64 != 19)
                 .select("doc_id",
                         F.when(F.col("doc_id") % 64 == 3,
                                F.concat(F.col("text"),
                                         F.lit(_ND_CHURN_EDIT_SUFFIX)))
                          .otherwise(F.col("text")).alias("text")))
    tmp = tempfile.mkdtemp(prefix="messdb_ndchurn_")
    # replay-sized shuffle partitions around the whole engine workflow
    # (r15, guide §2.2): the sibling stream replays already pin this —
    # without it every tiny closure/upsert exchange in the three verb
    # runs fans out to the session's 32 partitions before AQE coalesces
    # it back. ExitStack-free enter/exit so the 70-line body keeps its
    # indentation; the finally restores the conf before the tmp sweep.
    from .engine_ops import _replay_shuffle_partitions
    _conf = _replay_shuffle_partitions(spark)
    _conf.__enter__()
    try:
        eng = Engine(spark, os.path.join(tmp, "wh"))
        from ..plans.incremental import incremental_upsert, write_bucketed
        from .linkage import _xs_auto_buckets
        with eng.transaction():
            # r15 (guide §2.3/§2.4): the corpus commits as a BUCKETED
            # manifest so run 2's churn touches only edited/deleted
            # buckets (content hash + write ∝ delta, not corpus) and
            # the verb's diff leg prunes to changed buckets
            ref = write_bucketed(eng.objects,
                                 canonicalize_input(base, ("doc_id",)),
                                 n_buckets=_xs_auto_buckets(base.count()))
            eng.save_bucketed_table("docs", ref)
            st1 = dedup_near_incremental(eng, "docs", "docs_dedup",
                                         clusters_table="docs_clusters")
        if st1["mode"] != "build":
            raise AssertionError(f"run 1 mode: {st1['mode']}")
        with eng.transaction():
            # the churn lands as an upsert of the edited docs plus a
            # delete of the removed keys — content-identical to the old
            # full re-save of `final`, at touched-bucket cost
            edits = final.filter(F.col("doc_id") % 64 == 3)
            ref2 = incremental_upsert(spark, eng.objects, ref, edits,
                                      deletes=removed.select("doc_id"))
            eng.save_bucketed_table("docs", ref2)
            st2 = dedup_near_incremental(eng, "docs", "docs_dedup",
                                         clusters_table="docs_clusters")
        if st2["mode"] != "refresh":
            raise AssertionError(f"run 2 mode: {st2['mode']}")
        if st2["delta_docs"] != n_edited + n_removed:
            raise AssertionError(
                f"derived delta {st2['delta_docs']} != churn "
                f"{n_edited} edits + {n_removed} deletes — "
                f"diff-vs-snapshot broken under deletes/edits")
        if st2["sig_buckets_recomputed"] > st2["docs_buckets_touched"]:
            raise AssertionError(
                f"churn re-signed {st2['sig_buckets_recomputed']} "
                f"buckets, delta touched {st2['docs_buckets_touched']}")
        if st2.get("cc_scope") != "delta":
            raise AssertionError(
                f"churn re-clustered {st2.get('cc_scope')} — the "
                f"delete/edit path must stay DELTA-LOCAL "
                f"(extra_affected, r13)")
        if st2["cc_mode"] != "cold":
            raise AssertionError(
                f"churn re-clustered {st2['cc_mode']} — deletes/edits "
                f"can split components; the sub-closure must run cold")
        if st2["cc_input_docs"] >= st2["rows_in"]:
            raise AssertionError(
                f"delta-local closure ingested {st2['cc_input_docs']} "
                f"docs of {st2['rows_in']} — not a strict subset")
        if st2["labels_passthrough"] <= 0:
            raise AssertionError(
                "zero labels passed through — every component counted "
                "as affected; delta-local churn is degenerate")
        if st2["cc_input_edges"] > st2["cc_edge_bound"]:
            raise AssertionError(
                f"closure saw {st2['cc_input_edges']} edges > "
                f"affected-bucket pair bound {st2['cc_edge_bound']} "
                f"(r14 edge-level delta-locality)")
        g = dedup_near(eng, "docs", "docs_dedup_gold",
                       clusters_table="docs_clusters_gold")
        if g["table_hash"] != st2["table_hash"]:
            raise AssertionError(
                "churned delta-local output diverged from the "
                "from-scratch rebuild of the final corpus")
        if eng.table_hash("docs_clusters_gold") != \
                eng.table_hash("docs_clusters"):
            raise AssertionError(
                "churned delta-local cluster table diverged from the "
                "from-scratch rebuild")
        out = (eng.load_table("docs_clusters").df
               .select("doc_id", "cluster_id", "cluster_size")
               .localCheckpoint(eager=True))
    finally:
        _conf.__exit__(None, None, None)
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# sliding-window document chunking (context-window prep)
# ---------------------------------------------------------------------------

_CHUNK = 40    # tokens per chunk
_STRIDE = 30   # tokens between chunk starts (overlap = _CHUNK - _STRIDE)


@query(
    "doc_chunking_windows",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKENS_DUCK} AS toks
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, CAST(s // {_STRIDE} AS BIGINT) AS chunk_id,
           least({_CHUNK}, len(toks) - s) AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, s + 1, s + {_CHUNK}), ' ')) AS chunk_hash
    FROM (SELECT doc_id, toks, unnest(range(0, len(toks), {_STRIDE})) AS s FROM t)
    """)
def doc_chunking_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking — the training-data prep step that cuts
    long documents into overlapping {_CHUNK}-token windows (stride
    {_STRIDE}). 1→N generate: sequence() of chunk starts → explode →
    slice. Output carries the chunk hash, not the chunk text, so the
    wide string never shuffles; a real pipeline writes chunks
    partitioned by hash prefix. Map-only narrow plan — zero shuffles,
    whole-stage codegen end to end."""
    (d,) = load(spark, sf_dir, "documents")
    t = (d.filter(F.length("text") > 0)
          .select("doc_id", F.expr(_TOKENS).alias("toks"))
          .filter(F.size("toks") >= 1))
    starts = f"sequence(0, size(toks) - 1, {_STRIDE})"
    return (t.select("doc_id", "toks",
                     F.explode(F.expr(starts)).alias("s"))
             .select("doc_id",
                     (F.col("s") / _STRIDE).cast("long").alias("chunk_id"),
                     F.least(F.lit(_CHUNK), F.size("toks") - F.col("s"))
                      .cast("long").alias("n_chunk_tokens"),
                     F.md5(F.concat_ws(" ", F.expr(f"slice(toks, s + 1, {_CHUNK})"))
                            .cast("binary")).alias("chunk_hash")))


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------

_TOP_TERMS = 3


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
    tok AS (SELECT doc_id, unnest({_TOKENS_DUCK}) AS term FROM d),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS dft FROM tf GROUP BY term),
    nn AS (SELECT count(*) AS n_docs FROM d)
    SELECT doc_id, term, {quantize_sql("tf * ln(CAST(n_docs AS DOUBLE) / dft)", 4)} AS tfidf, rk
    FROM (SELECT doc_id, term, tf, dft, n_docs,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / dft) DESC, term) AS rk
          FROM tf JOIN dfreq USING (term) CROSS JOIN nn)
    WHERE rk <= {_TOP_TERMS}
    """)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top {_TOP_TERMS} terms per document
    by tf·ln(N/df), term as tiebreaker. Plan: explode → two hash aggs
    (both map-side partial) → BROADCAST the document-frequency table
    back onto tf (vocabulary ≪ corpus) → per-doc WindowGroupLimit
    top-k. N is computed once driver-side (a count, deterministic)
    and embedded as a literal, so the big side joins nothing else.
    At 100 TB the only wide shuffle is (doc_id, term) partial counts —
    text itself never shuffles."""
    (d,) = load(spark, sf_dir, "documents")
    docs = d.filter(F.length("text") > 0)
    n_docs = docs.count()
    # cache: tf feeds BOTH the document-frequency agg and the final
    # join — without it the corpus-wide explode runs twice; (doc, term)
    # counts are vocabulary-sized, far smaller than the text they came
    # from, so materializing them once is the 100 TB move
    tf = (docs.select("doc_id", F.explode(F.expr(_TOKENS)).alias("term"))
              .groupBy("doc_id", "term")
              .agg(F.count(F.lit(1)).alias("tf"))
              .cache())
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("dft"))
    w = W.partitionBy("doc_id").orderBy(tfidf.desc(), "term")
    out = (tf.join(F.broadcast(dfreq), "term")
             .withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= _TOP_TERMS)
             .select("doc_id", "term", quantize(tfidf, 4).alias("tfidf"), "rk"))
    return pin_result(out, tf)


# ---------------------------------------------------------------------------
# corpus heavy hitters (top bigrams)
# ---------------------------------------------------------------------------

_TOP_NGRAMS = 20


@query(
    "heavy_hitter_bigrams",
    oracle=f"""
    WITH t AS (
      SELECT {_TOKENS_DUCK} AS toks FROM documents WHERE length(text) > 0
    )
    SELECT bigram, count(*) AS n_occurrences
    FROM (SELECT unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1])) AS bigram
          FROM t)
    GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram
    LIMIT {_TOP_NGRAMS}
    """)
def heavy_hitter_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: top {_TOP_NGRAMS} bigrams by
    occurrence count (bigram text as tiebreaker). Plan: map-only
    bigram generate → hash agg with map-side partial combine (the
    shuffle is vocabulary-sized, not corpus-sized) → TakeOrdered
    top-k (per-partition top-k then a driver merge of {_TOP_NGRAMS}
    rows — no global sort). At 100 TB, if the vocabulary itself blew
    up, the standard fix is a count-min-sketch pre-pass to gate rare
    n-grams out of the exact agg; unnecessary at any realistic bigram
    vocabulary."""
    (d,) = load(spark, sf_dir, "documents")
    bigrams = (f"transform(sequence(1, size(toks) - 1), "
               f"i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")
    return (d.filter(F.length("text") > 0)
             .select(F.expr(_TOKENS).alias("toks"))
             .filter(F.size("toks") >= 2)
             .select(F.explode(F.expr(bigrams)).alias("bigram"))
             .groupBy("bigram")
             .agg(F.count(F.lit(1)).alias("n_occurrences"))
             .orderBy(F.col("n_occurrences").desc(), "bigram")
             .limit(_TOP_NGRAMS))


# ---------------------------------------------------------------------------
# triangle counting (degree-ordered) over the co-supply graph
# ---------------------------------------------------------------------------

@query(
    "triangle_count_cosupply",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s
      FROM lineitem WHERE l_quantity > 45
    ),
    e AS (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
    ),
    nodes AS (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e),
    deg AS (SELECT n, count(*) AS d FROM nodes GROUP BY n),
    tri AS (
      SELECT count(*) AS t
      FROM e e1
      JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT t FROM tri) AS n_triangles,
           floor(6.0 * (SELECT t FROM tri)
                 / (SELECT sum(d * (d - 1)) FROM deg)
                 * 1000000.0 + 0.5) / 1000000.0 AS clustering_coef
    """)
def triangle_count_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    co-supply graph (suppliers sharing a high-quantity part), via the
    DEGREE-ORDERED orientation (Suri & Vassilvitskii's MR algorithm):
    each undirected edge points from its (degree, id)-smaller endpoint
    to the larger, every triangle then has exactly ONE node with two
    out-edges, and the count is |wedges of out-edges whose far ends
    are themselves an edge|.

    Scale: the naive wedge join explodes on hubs — a degree-d node
    contributes d(d-1)/2 wedges, and real co-occurrence graphs are
    power-law. Orientation caps out-degree at O(sqrt(E)) for ANY
    degree distribution, so the wedge set is O(E^1.5) worst-case
    instead of O(Σd²), all as equi-joins (never a cartesian). The
    oracle counts the same triangles with the id-ordered textbook
    3-way self-join — orientation must be invisible in the totals.
    The graph is (int, int) edges; lineitem text/price columns never
    enter the shuffle."""
    (li,) = load(spark, sf_dir, "lineitem")
    ps = (li.filter(F.col("l_quantity") > 45)
            .select(F.col("l_partkey").alias("p"),
                    F.col("l_suppkey").alias("s"))
            .distinct())
    e = (ps.alias("a").join(ps.alias("b"),
                            (F.col("a.p") == F.col("b.p"))
                            & (F.col("a.s") < F.col("b.s")))
           .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
           .distinct())
    e = e.localCheckpoint(eager=True)   # reused 4x below
    deg = (e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    # orient by (degree, id): u -> v iff (d_u, u) < (d_v, v)
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ew = e.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    fwd = (F.col("du") < F.col("dv")) | \
          ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = ew.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"))
    # wedges of two out-edges; close with the canonical undirected edge
    w = (oriented.alias("x").join(oriented.alias("y"),
                                  (F.col("x.src") == F.col("y.src"))
                                  & (F.col("x.dst") < F.col("y.dst")))
                 .select(F.col("x.dst").alias("u"),
                         F.col("y.dst").alias("v")))
    closed = w.join(e, ["u", "v"], "left_semi")
    n_tri = closed.count()
    n_edges = e.count()
    stats = deg.agg(F.count(F.lit(1)).alias("n_nodes"),
                    F.sum(F.col("d") * (F.col("d") - 1)).alias("dd")).first()
    coef = 0.0 if not stats["dd"] else \
        __import__("math").floor(6.0 * n_tri / stats["dd"]
                                 * 1000000.0 + 0.5) / 1000000.0
    out = spark.createDataFrame(
        [(stats["n_nodes"], n_edges, n_tri, coef)],
        "n_nodes bigint, n_edges bigint, n_triangles bigint, "
        "clustering_coef double")
    e.unpersist()
    return out
