"""Entity linkage and training-data assembly operators.

North-star additions (SURVEY.md §2.9) with no reference counterpart
(the reference has no joins at all — its only merge is the primary-key
fold, ``messdb-base/src/MessDB/Trie.hs:297-430``):

- ``record_linkage_scores``: Fellegi–Sunter-style probabilistic record
  linkage — blocked candidate pairs scored by integer field-agreement
  weights, classified match/possible/non-match. The general ER scoring
  machinery on top of the blocking patterns the dedup family already
  uses.
- ``duplicate_span_fraction``: substring-level duplication metric (the
  Lee et al. "deduplicating training data" signal): fraction of each
  document's token positions covered by an 8-gram shingle that occurs
  more than once in the corpus.
- ``user_event_sequences``: ordered per-entity history assembly — the
  step that turns an event log into model-ready sequence rows
  (bounded-length, deterministic order, no cross-user shuffle beyond
  one hash partition by user).
- ``training_mix_interleave``: deterministic weighted round-robin
  ordering of a multi-source corpus — the "data ordering" op that fixes
  the global training sequence from per-source weights, reproducibly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from . import load, pin_result, quantize, quantize_sql, query

# Fellegi–Sunter agreement weights (log-odds scaled to integers; fixed
# constants so both engines score identically). Field m/u probabilities
# are design-time constants here — at scale you'd EM-estimate them, but
# the scoring/classification machinery is the operator.
_FS_W_BAL = (24, -8)      # account balance within 100.0
_FS_W_SUF3 = (16, -6)     # same last-3 digits of entity number
_FS_W_NEAR = (8, -2)      # entity numbers within 50
_FS_MATCH = 30
_FS_POSSIBLE = 10


@query(
    "record_linkage_scores",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS cnum,
             c_acctbal
      FROM customer
    ),
    s AS (
      SELECT s_suppkey, s_nationkey,
             CAST(regexp_extract(s_name, '([0-9]+)', 1) AS BIGINT) AS snum,
             s_acctbal
      FROM supplier
    ),
    pairs AS (
      SELECT c.c_custkey, s.s_suppkey, c.c_nationkey AS nationkey,
             (CASE WHEN abs(c.c_acctbal - s.s_acctbal) < 100.0
               THEN {_FS_W_BAL[0]} ELSE {_FS_W_BAL[1]} END
              + CASE WHEN c.cnum % 1000 = s.snum % 1000
                THEN {_FS_W_SUF3[0]} ELSE {_FS_W_SUF3[1]} END
              + CASE WHEN abs(c.cnum - s.snum) <= 50
                THEN {_FS_W_NEAR[0]} ELSE {_FS_W_NEAR[1]} END) AS score
      FROM c JOIN s
        ON c.c_nationkey = s.s_nationkey AND c.cnum % 10 = s.snum % 10
    )
    SELECT c_custkey, s_suppkey, nationkey, score,
           CASE WHEN score >= {_FS_MATCH} THEN 'match'
                WHEN score >= {_FS_POSSIBLE} THEN 'possible'
                ELSE 'non-match' END AS cls
    FROM pairs WHERE score >= {_FS_POSSIBLE}
    """)
def record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi–Sunter): candidate pairs
    from a two-key block (nation + entity-number last digit), each
    scored by summed integer agreement/disagreement weights over three
    field comparators, thresholded into match / possible.

    Scale: the pair space is bounded by the block — never |C| x |S|;
    blocking keys shuffle 8-byte hashes; weights are pure column
    arithmetic (whole-stage codegen); at 100 TB you add more blocking
    passes (multi-pass canopy), not a bigger join."""
    c, s = load(spark, sf_dir, "customer", "supplier")
    cn = F.regexp_extract("c_name", r"([0-9]+)", 1).cast("bigint")
    sn = F.regexp_extract("s_name", r"([0-9]+)", 1).cast("bigint")
    cc = c.select("c_custkey", "c_nationkey", cn.alias("cnum"), "c_acctbal")
    ss = s.select("s_suppkey", "s_nationkey", sn.alias("snum"), "s_acctbal")
    j = cc.join(ss, (cc["c_nationkey"] == ss["s_nationkey"])
                & (cc["cnum"] % 10 == ss["snum"] % 10))
    score = (
        F.when(F.abs(F.col("c_acctbal") - F.col("s_acctbal")) < 100.0,
               F.lit(_FS_W_BAL[0])).otherwise(F.lit(_FS_W_BAL[1]))
        + F.when(F.col("cnum") % 1000 == F.col("snum") % 1000,
                 F.lit(_FS_W_SUF3[0])).otherwise(F.lit(_FS_W_SUF3[1]))
        + F.when(F.abs(F.col("cnum") - F.col("snum")) <= 50,
                 F.lit(_FS_W_NEAR[0])).otherwise(F.lit(_FS_W_NEAR[1])))
    cls = (F.when(F.col("score") >= _FS_MATCH, "match")
            .when(F.col("score") >= _FS_POSSIBLE, "possible")
            .otherwise("non-match"))
    return (j.select("c_custkey", "s_suppkey",
                     F.col("c_nationkey").alias("nationkey"),
                     score.alias("score"))
             .withColumn("cls", cls)
             .filter(F.col("score") >= _FS_POSSIBLE))


_SPAN_N = 8   # shingle width (tokens)
_TOKS = "filter(split(lower(text), '\\\\s+'), x -> x != '')"
_TOKS_DUCK = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')"


@query(
    "duplicate_span_fraction",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_DUCK} AS t
      FROM documents WHERE length(text) > 0
    ),
    sh AS (
      SELECT doc_id, i,
             md5(array_to_string(t[i+1:i+{_SPAN_N}], ' ')) AS h
      FROM toks, unnest(range(0, len(t) - {_SPAN_N} + 1)) AS u(i)
      WHERE len(t) >= {_SPAN_N}
    ),
    dup AS (
      SELECT h FROM sh GROUP BY h HAVING count(*) >= 2
    ),
    cover AS (
      SELECT DISTINCT s.doc_id, p
      FROM sh s JOIN dup USING (h),
           unnest(range(s.i, s.i + {_SPAN_N})) AS r(p)
    ),
    per_doc AS (
      SELECT t.doc_id, len(t.t) AS n_tokens,
             greatest(len(t.t) - {_SPAN_N} + 1, 0) AS n_shingles,
             coalesce(c.covered, 0) AS covered
      FROM toks t LEFT JOIN (
        SELECT doc_id, count(*) AS covered FROM cover GROUP BY doc_id
      ) c USING (doc_id)
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(covered AS BIGINT) AS covered_tokens,
           {quantize_sql(
               "CASE WHEN n_tokens > 0 THEN CAST(covered AS DOUBLE)"
               " / CAST(n_tokens AS DOUBLE) ELSE 0.0 END", 6)}
             AS dup_fraction
    FROM per_doc
    """)
def duplicate_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication metric: the fraction of each doc's
    token positions covered by an {N}-token shingle that occurs >= 2
    times in the corpus — the span-granular signal behind suffix-array
    training-data dedup (exact-substring removal), at shingle rather
    than suffix granularity.

    Scale: shingles leave the executor as 16-byte md5 hashes (text
    never shuffles); the duplicated-hash set is the only join side and
    is corpus-duplication-bounded; coverage explodes {N} positions per
    duplicated shingle only."""
    (doc,) = load(spark, sf_dir, "documents")
    toks = (doc.filter(F.length("text") > 0)
               .select("doc_id", F.expr(_TOKS).alias("t")))
    toks = toks.localCheckpoint(eager=True)   # reused 3x below
    sh = (toks.filter(F.size("t") >= _SPAN_N)
              .select("doc_id", F.explode(F.expr(
                  f"transform(sequence(0, size(t) - {_SPAN_N}), i -> "
                  f"struct(i, md5(array_join(slice(t, i + 1, {_SPAN_N}), "
                  f"' ')) AS h))")).alias("x"))
              .select("doc_id", F.col("x.i").alias("i"),
                      F.col("x.h").alias("h")))
    dup = sh.groupBy("h").count().filter(F.col("count") >= 2).select("h")
    cover = (sh.join(dup, "h")
               .select("doc_id", F.explode(
                   F.expr(f"sequence(i, i + {_SPAN_N - 1})")).alias("p"))
               .distinct()
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("covered")))
    per_doc = (toks.select(
        "doc_id", F.size("t").cast("bigint").alias("n_tokens"),
        F.greatest(F.size("t") - F.lit(_SPAN_N - 1), F.lit(0))
         .cast("bigint").alias("n_shingles"))
        .join(cover, "doc_id", "left")
        .withColumn("covered_tokens",
                    F.coalesce(F.col("covered"), F.lit(0)).cast("bigint"))
        .drop("covered"))
    frac = F.when(F.col("n_tokens") > 0,
                  F.col("covered_tokens").cast("double")
                  / F.col("n_tokens").cast("double")).otherwise(F.lit(0.0))
    out = per_doc.select("doc_id", "n_tokens", "n_shingles",
                         "covered_tokens",
                         quantize(frac, 6).alias("dup_fraction"))
    out = out.localCheckpoint(eager=True)
    toks.unpersist()
    return out


_SEQ_MAX = 32   # sequence length cap per user


@query(
    "user_event_sequences",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS seq,
           count(*) AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
             AS span_seconds
    FROM ranked WHERE rn <= {_SEQ_MAX}
    GROUP BY user_id
    """)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity ordered history assembly: each user's first
    {MAX} events (deterministic (ts, event_id) order) become ONE
    sequence row — the event-log -> training-sequence step of a
    behavioral-model pipeline.

    Scale: one shuffle (hash by user), then per-group sort of a
    BOUNDED list — collect_list + array_sort keeps state per user at
    <= {MAX} structs; no window over the full log, no global sort.
    The cap is applied after the in-group sort, so it is the same
    "first K by time" on any partitioning."""
    (e,) = load(spark, sf_dir, "events")
    g = (e.select("user_id", "ts", "event_id", "event_type")
          .groupBy("user_id")
          .agg(F.array_sort(F.collect_list(
              F.struct("ts", "event_id", "event_type"))).alias("evs")))
    sliced = F.slice(F.col("evs"), 1, _SEQ_MAX)
    return (g.select(
        "user_id",
        F.array_join(F.expr(
            f"transform(slice(evs, 1, {_SEQ_MAX}), x -> x.event_type)"),
            ">").alias("seq"),
        F.size(sliced).cast("bigint").alias("n_events"),
        ((F.unix_micros(F.element_at(sliced, -1)["ts"])
          - F.unix_micros(F.element_at(sliced, 1)["ts"]))
         / F.lit(1000000)).cast("bigint").alias("span_seconds")))


@query(
    "training_mix_interleave",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) AS snum,
             1 + CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 3
               AS w,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, snum, w,
             row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
               AS rk
      FROM d
    )
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk,
           CAST((rk - 1) // w AS BIGINT) AS epoch,
           CAST(row_number() OVER (
             ORDER BY (rk - 1) // w, snum, (rk - 1) % w, doc_id)
             AS BIGINT) AS global_pos
    FROM r
    """)
def training_mix_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted round-robin corpus ordering: source i
    gets integer weight w_i (here 1 + i mod 3); docs shuffle within
    their source by content hash, then the global training order
    emits w_i docs from each source per epoch — the reproducible
    "data mixing" order for a multi-source corpus.

    Scale: per-source rank is a partitioned window (no global state);
    the only global step is the final position assignment, which at
    100 TB becomes the two-level offset composition the exact-global-
    rank query (features.py) already demonstrates — the (epoch, snum,
    slot) key here is range-partitionable the same way."""
    (doc,) = load(spark, sf_dir, "documents")
    snum = F.regexp_extract("source", r"([0-9]+)", 1).cast("bigint")
    d = doc.select("doc_id", "source", snum.alias("snum"),
                   (1 + snum % 3).alias("w"),
                   F.md5(F.col("doc_id").cast("string")).alias("h"))
    rk = F.row_number().over(
        W.partitionBy("source").orderBy("h", "doc_id"))
    r = d.withColumn("rk", rk.cast("bigint"))
    epoch = F.expr("(rk - 1) div w")
    slot = (F.col("rk") - 1) % F.col("w")
    gw = W.orderBy(epoch.asc(), F.col("snum").asc(), slot.asc(),
                   F.col("doc_id").asc())
    return r.select("doc_id", "source", "rk", epoch.alias("epoch"),
                    F.row_number().over(gw).cast("bigint")
                     .alias("global_pos"))


# -- exact cross-document substring dedup (ExactSubstr) ---------------
#
# The Lee et al. 2022 "Deduplicating Training Data Makes Language
# Models Better" exact-substring recipe: find maximal character runs of
# length >= L shared VERBATIM across documents, emit a span manifest,
# and per-doc cleaned-length stats. The paper's single-node suffix
# array cannot hold a 100 TB corpus; this is the distributed
# re-expression (VERDICT r8 task 1):
#
#   1. every position i of every doc emits (doc_id, i, xxhash64(L-gram))
#      — hash computed INLINE in whole-stage codegen, so the gram
#      string itself never leaves the scan stage: the detection shuffle
#      is 24-byte rows, not L-byte substrings;
#   2. hashes seen in >= 2 distinct docs (min(doc)!=max(doc) partial
#      agg — cheaper than count_distinct) are the candidate set,
#      corpus-duplication-bounded;
#   3. BOUNDED VERIFY: only candidate positions rejoin their documents
#      to re-extract the actual gram; grouping by the gram string
#      re-applies the cross-doc test on true bytes, so xxhash64
#      collisions cannot fabricate a span (exactness is restored at
#      candidate cost, never corpus cost);
#   4. verified positions merge into maximal islands with a per-doc
#      window (gaps-and-islands on interval [i, i+L)) — state bounded
#      per doc, no global window, no all-pairs, no suffix array.
#
# Scale knob: when the stride-1 position shuffle dominates, winnowing
# anchors (min-hash per w-window) cut it by ~w at the cost of missing
# matches shorter than L+w-1 — the exact-threshold contract here keeps
# stride 1, the honest cost of "exact" (the suffix-array route pays the
# same corpus-bytes shuffle to sort).
#
# Per-row memory bound (r10, VERDICT r9 what's-wrong #1): every
# position-generating expression below runs over ~64 KiB document
# CHUNKS, never whole documents. Chunk c owns gram START positions
# (c·K, c·K + K] (1-based, K = _XS_CHUNK) and carries the text slice
# those grams need — L-1 chars of forward overlap for the exact path,
# plus W-1 grams of BACKWARD overlap for the anchor path (the local-min
# rule looks back at most W-1 positions, so anchor selection is
# provably unchanged; each position is owned by exactly one chunk, so
# no boundary dedup is needed). Per-row state is then O(K), document
# length be damned: a 50 MB book becomes ~800 chunk rows instead of one
# row holding an O(doc_len) struct array (the r9 scale-killer: the
# anchor sampler materialized (position, 30-char gram, 32-char md5) per
# position — ~100× the text bytes in ONE unsafe row).
#
# Complements duplicate_span_fraction above (token-shingle, >=2
# occurrences anywhere incl. same-doc) with the char-exact CROSS-doc
# semantics, threshold L, maximal-span output.

_XS_L = 30      # minimum shared run length (chars)
_XS_CHUNK = 65536   # gram start positions per chunk (per-row memory bound)

_XS_SPANS_SQL = f"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE length(text) >= {_XS_L}
    ),
    g AS (
      SELECT doc_id, i, substring(text, i, {_XS_L}) AS gram
      FROM d, LATERAL unnest(generate_series(1, length(text) - {_XS_L - 1}))
           AS t(i)
    ),
    dup AS (
      SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)
    ),
    p AS (SELECT doc_id, i FROM g JOIN dup USING (gram)),
    m AS (
      SELECT doc_id, i,
             max(i + {_XS_L}) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
      FROM p
    ),
    isl AS (
      SELECT doc_id, i,
             sum(CASE WHEN prev_end IS NULL OR i > prev_end
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM m
    )
    SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
           CAST(max(i) + {_XS_L} AS BIGINT) AS span_end,
           CAST(max(i) + {_XS_L} - min(i) AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, island
"""


def _xs_chunks(d: DataFrame, L: int, C: int) -> DataFrame:
    """Split (doc_id, text) rows into ~C-gram chunks for the exact
    path: chunk c owns gram starts (c·C, c·C + ng] and carries exactly
    the chars those grams read (`ctext`, C + L - 1 chars). The chunk
    array per doc totals ~doc_len chars (one L-1 overlap per chunk), so
    building it never blows up a row; after the explode, per-row state
    is O(C) regardless of document length."""
    chunks = (
        f"transform(sequence(0, CAST((length(text) - {L}) div {C} AS INT)), "
        f"c -> named_struct("
        f"'cidx', c, "
        f"'base', CAST(c AS BIGINT) * {C}, "
        f"'ng', CAST(least({C}, length(text) - {L - 1} - c * {C}) AS INT), "
        f"'ctext', substring(text, c * {C} + 1, {C + L - 1})))")
    return (d.select("doc_id", F.explode(F.expr(chunks)).alias("ch"))
             .select("doc_id", "ch.cidx", "ch.base", "ch.ng", "ch.ctext"))


#: below this many chars, per-position substring beats split+slice
_XS_SHORT = 2048


def _spread_chunks(ch: DataFrame, src: DataFrame, *cols: str) -> DataFrame:
    """Rebalance the chunk frame when the SOURCE scan has too few
    partitions to keep the per-position gram hashing parallel (guide
    §2.5 input skew): locally the corpus is ONE small parquet file
    (one input split), so the ~30x-amplified hashing stage would run
    on a single core; at scale the same gate catches an unsplittable
    blob. Chunk granularity additionally fixes giant-document skew —
    one task owns ~64 Ki grams, never a whole 1 GB document. Skipped
    whenever the scan is already parallel: text then never moves
    (the at-scale default)."""
    sc = ch.sparkSession.sparkContext
    par = sc.defaultParallelism
    if src.rdd.getNumPartitions() >= max(2, par // 2):
        return ch
    return ch.repartition(par, *[F.col(c) for c in cols])


def _hybrid_grams(fmt: str, pos_list: str, start: str, L: int) -> str:
    """Array expr mapping each element ``p`` of ``pos_list`` to
    ``fmt`` rendered with ``{g}`` = the L-gram of `ctext` starting at
    1-based char position ``start`` (an expression over ``p``).

    Two exact-equivalent strategies, chosen PER ROW by chunk length
    (measured A/B, see COVERAGE.md §Round-10): ``substring(ctext, s,
    L)`` scans from the string start to locate the char offset —
    O(position) per call, so a per-position loop is O(n²) per chunk
    (23 s vs 1 s on a 2 M-char corpus at 64 Ki chunks); fine below
    ~2 K chars and 2× FASTER there than the alternative. Above that,
    ``split('')`` builds the char array once and each gram is an O(L)
    ``slice``+``array_join`` (the array(...)→lambda wrapper is the SQL
    idiom for binding `cs` once; IF branches evaluate lazily, so short
    rows never pay the split). Binary-cast byte slicing was also
    measured and rejected (4.5× slower than slice+join — and it would
    break char addressing for non-ASCII anyway)."""
    t_sub = f"transform({pos_list}, p -> " \
            + fmt.format(g=f"substring(ctext, {start}, {L})") + ")"
    t_sl = (f"element_at(transform(array(split(ctext, '')), "
            f"cs -> transform({pos_list}, p -> "
            + fmt.format(g=f"array_join(slice(cs, {start}, {L}), '')")
            + ")), 1)")
    return f"IF(length(ctext) <= {_XS_SHORT}, {t_sub}, {t_sl})"


def exact_substring_spans_for(doc: DataFrame, key_col: str = "doc_id",
                              text_col: str = "text",
                              min_len: int = _XS_L,
                              chunk: int = _XS_CHUNK):
    """Generalized ExactSubstr span detection over ANY (key, text)
    table — the engine surface behind both the driver queries (over
    ``documents``) and the ``dedup-substrings`` CLI verb (over any
    catalog table). Returns ``(spans_df, pinned)``: (doc_id,
    span_start, span_end, span_len) with 1-based start, exclusive
    end, char units; ``pinned`` is the persisted candidate frame the
    caller must hand to ``pin_result`` (or unpersist) so its storage
    is released after the result pins. Position generation and the
    byte-verify both run over ~64 KiB chunks (see `_xs_chunks`), so
    per-row memory is bounded for arbitrarily long documents."""
    L, C = int(min_len), int(chunk)
    d = (doc.select(F.col(key_col).alias("doc_id"),
                    F.col(text_col).alias("text"))
            .filter(F.length("text") >= L))
    ch = _spread_chunks(_xs_chunks(d, L, C), d, "doc_id", "cidx")
    # detection-hash projection stays INLINE (whole-stage codegen — a
    # transform() lambda here is interpreted and measured ~35% slower):
    # short chunks read grams via substring (O(position) per call is
    # cheap below _XS_SHORT and 2x faster than the alternative); long
    # chunks split to a chars array ONCE per chunk row and each gram is
    # an O(L) slice+join (substring-per-position is O(C²) per chunk —
    # 23 s vs 1 s on a 2 M-char corpus). Only 24-byte (doc_id, i, h)
    # rows leave the stage.
    pos = (ch.withColumn("cs", F.expr(
               f"IF(length(ctext) <= {_XS_SHORT}, array(), "
               f"split(ctext, ''))"))
             .select("doc_id", "base", "ctext", "cs",
                     F.explode(F.expr("sequence(1, ng)")).alias("j"))
             .select("doc_id", (F.col("base") + F.col("j")).alias("i"),
                     F.expr(
                         f"xxhash64(IF(size(cs) = 0, "
                         f"substring(ctext, j, {L}), "
                         f"array_join(slice(cs, j, {L}), '')))")
                      .alias("h")))
    # cross-doc candidate hashes in ONE pass (r15, guide §1.2/§2.4):
    # the old groupBy(h).agg(min,max) + join-back recomputed the whole
    # per-position hashing subtree for the join side — a second full
    # corpus scan per query. A min/max window over h shuffles the same
    # (doc_id, i, h) rows once and filters in place; group state is
    # bounded by per-gram duplication (hot grams stream through the
    # spillable window buffer, no collect_list blowup).
    wh = W.partitionBy("h")
    cand = (pos.withColumn("lo", F.min("doc_id").over(wh))
               .withColumn("hi", F.max("doc_id").over(wh))
               .filter(F.col("lo") != F.col("hi"))
               .select("doc_id", "i",
                       F.expr(f"CAST((i - 1) div {C} AS INT)")
                        .alias("cidx")))
    # bounded verify on true bytes (collision-proof): candidate
    # positions grouped per OWNING CHUNK (<= C entries per group), so
    # the chunk text ships ONCE per touched chunk — never per
    # candidate, never the whole document — and gram extraction per
    # chunk row is the same hybrid
    cand_ck = (cand.groupBy("doc_id", "cidx")
                   .agg(F.collect_list("i").alias("ps")))
    vg = _hybrid_grams("named_struct('i', p, 'g', {g})", "ps",
                       "CAST(p - base AS INT)", L)
    verified = (cand_ck.join(ch, ["doc_id", "cidx"])
                .select("doc_id", F.explode(F.expr(vg)).alias("x"))
                .select("doc_id", F.col("x.i").alias("i"),
                        F.col("x.g").alias("gram")))
    # pin the candidate set: it feeds BOTH the gram-verify agg and the
    # position join below — without the pin each consumer re-runs the
    # corpus position scan (duplication-bounded rows, so the pin is
    # small; the corpus text is scanned once for the hashing pass and
    # once for the chunk-text verify join). persist+count, NOT
    # localCheckpoint: DataFrame.unpersist() is a CacheManager call
    # and a no-op on checkpointed frames, so pin_result could never
    # release a checkpoint (its blocks linger until RDD GC — the r4
    # storage-leak class). __pre_pin__ keeps the REAL detection plan
    # visible to the plan tests.
    pre_pin = verified
    verified = verified.persist()
    verified.count()
    verified.__pre_pin__ = pre_pin
    dup_gram = (verified.groupBy("gram")
                        .agg(F.min("doc_id").alias("lo"),
                             F.max("doc_id").alias("hi"))
                        .filter(F.col("lo") != F.col("hi"))
                        .select("gram"))
    p = verified.join(dup_gram, "gram").select("doc_id", "i")
    # gaps-and-islands over intervals [i, i+L): per-doc window state
    w_prev = (W.partitionBy("doc_id").orderBy("i")
               .rowsBetween(W.unboundedPreceding, -1))
    w_run = (W.partitionBy("doc_id").orderBy("i")
              .rowsBetween(W.unboundedPreceding, W.currentRow))
    m = p.withColumn("prev_end",
                     F.max(F.col("i") + F.lit(L)).over(w_prev))
    isl = m.withColumn(
        "island",
        F.sum(F.when(F.col("prev_end").isNull()
                     | (F.col("i") > F.col("prev_end")), 1)
               .otherwise(0)).over(w_run))
    spans = (isl.groupBy("doc_id", "island")
                .agg(F.min("i").cast("bigint").alias("span_start"),
                     (F.max("i") + F.lit(L)).cast("bigint")
                      .alias("span_end"))
                .withColumn("span_len",
                            (F.col("span_end") - F.col("span_start"))
                             .cast("bigint"))
                .select("doc_id", "span_start", "span_end", "span_len"))
    return spans, verified


def exact_substring_clean_from_spans(doc: DataFrame, spans: DataFrame,
                                     key_col: str = "doc_id",
                                     text_col: str = "text") -> DataFrame:
    """CUT step applied to an ALREADY-COMPUTED span manifest (the
    factoring that lets the memo layer materialize detection once and
    feed stats/clean/CLI from the cached object — VERDICT r9 #2).
    Returns (doc_id, clean_text) over EVERY input row (docs with no
    spans keep their text verbatim; NULL text becomes ''). Span
    excision is a single JVM-side ``aggregate`` over the per-doc sorted
    span list — substring stitching within the row, no
    corpus-to-characters explode."""
    per_doc = (spans.groupBy("doc_id")
                    .agg(F.array_sort(F.collect_list(
                        F.struct("span_start", "span_end"))).alias("sp")))
    j = (doc.select(F.col(key_col).alias("doc_id"),
                    F.col(text_col).alias("text"))
            .join(per_doc, "doc_id", "left"))
    # fold the span list into (cursor, rebuilt-text); spans are
    # disjoint and sorted, so each step copies the gap before the span
    # and advances the cursor past it; the finisher copies the tail
    clean = F.when(F.col("sp").isNull(),
                   F.coalesce(F.col("text"), F.lit(""))) \
             .otherwise(F.expr(
                 "aggregate(sp, "
                 "named_struct('p', CAST(1 AS BIGINT), 't', ''), "
                 "(acc, s) -> named_struct("
                 "'p', s.span_end, "
                 "'t', concat(acc.t, substring(text, acc.p, "
                 "            s.span_start - acc.p))), "
                 "acc -> concat(acc.t, substring(text, acc.p, "
                 "              length(text) - acc.p + 1)))"))
    return j.select("doc_id", clean.alias("clean_text"))


def exact_substring_clean_for(doc: DataFrame, key_col: str = "doc_id",
                              text_col: str = "text",
                              min_len: int = _XS_L,
                              chunk: int = _XS_CHUNK):
    """Generalized CUT step: detection + excision in one plan. Returns
    ``(cleaned_df, pinned)``; see :func:`exact_substring_clean_from_spans`
    for the excision semantics and :func:`exact_substring_spans_for`
    for the detection design."""
    spans, pinned = exact_substring_spans_for(doc, key_col, text_col,
                                              min_len, chunk)
    return (exact_substring_clean_from_spans(doc, spans, key_col,
                                             text_col), pinned)


def _exact_substring_spans(spark: SparkSession, sf_dir: str):
    """Driver-query binding of :func:`exact_substring_spans_for` to
    the ``documents`` table (char units: Spark substring and DuckDB
    substring are both character-addressed, so the oracle matches on
    any charset)."""
    (doc,) = load(spark, sf_dir, "documents")
    return exact_substring_spans_for(doc)


@query("exact_substring_spans", oracle=_XS_SPANS_SQL)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span manifest: one row per maximal character run of
    length >= {L} shared verbatim by >= 2 documents — the spans a
    training-data cleaner would cut (Lee et al. 2022), computed by
    hash-bucketed detection + bounded exact verify + per-doc island
    merge (scale design in the block comment above)."""
    spans, pinned = _exact_substring_spans(spark, sf_dir)
    return pin_result(spans, pinned)


@query(
    "exact_substring_dedup",
    oracle=f"""
    WITH spans AS ({_XS_SPANS_SQL}),
    agg AS (
      SELECT doc_id, count(*) AS dup_spans,
             sum(span_len) AS dup_chars
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS doc_len,
           CAST(coalesce(a.dup_spans, 0) AS BIGINT) AS dup_spans,
           CAST(coalesce(a.dup_chars, 0) AS BIGINT) AS dup_chars,
           CAST(length(d.text) - coalesce(a.dup_chars, 0) AS BIGINT)
             AS clean_chars
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ExactSubstr cleaning stats over the FULL corpus:
    span count, duplicated chars (union of maximal spans — no double
    count on overlap), and the cleaned length after cutting every
    cross-doc run >= {L} chars. Docs with no shared runs (or shorter
    than L) report zero — the left join keeps the whole corpus in the
    manifest, so downstream mixing sees every doc exactly once."""
    spans, pinned = _exact_substring_spans(spark, sf_dir)
    agg = (spans.groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("dup_spans"),
                     F.sum("span_len").cast("bigint").alias("dup_chars")))
    (doc,) = load(spark, sf_dir, "documents")
    out = (doc.select("doc_id",
                      F.length("text").cast("bigint").alias("doc_len"))
              .join(agg, "doc_id", "left")
              .select("doc_id", "doc_len",
                      F.coalesce(F.col("dup_spans"), F.lit(0))
                       .cast("bigint").alias("dup_spans"),
                      F.coalesce(F.col("dup_chars"), F.lit(0))
                       .cast("bigint").alias("dup_chars"),
                      (F.col("doc_len")
                       - F.coalesce(F.col("dup_chars"), F.lit(0)))
                       .cast("bigint").alias("clean_chars")))
    return pin_result(out, pinned)


@query(
    "exact_substring_clean",
    oracle=f"""
    WITH spans AS ({_XS_SPANS_SQL}),
    pos AS (
      SELECT d.doc_id, t.p, substring(d.text, t.p, 1) AS ch
      FROM documents d,
           LATERAL unnest(generate_series(1, length(d.text))) AS t(p)
    ),
    kept AS (
      SELECT po.doc_id, po.p, po.ch
      FROM pos po LEFT JOIN spans s
        ON s.doc_id = po.doc_id
       AND po.p >= s.span_start AND po.p < s.span_end
      WHERE s.doc_id IS NULL
    ),
    rebuilt AS (
      SELECT doc_id,
             coalesce(string_agg(ch, '' ORDER BY p), '') AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(length(coalesce(r.clean_text, '')) AS BIGINT) AS clean_len,
           md5(coalesce(r.clean_text, '')) AS clean_md5
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """)
def exact_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT step completing the ExactSubstr arc (detect → manifest
    → stats → clean): every cross-doc run >= {L} chars is excised and
    the per-doc cleaned text re-emitted (fingerprinted as md5 + length
    so the driver compares corpus-scale output by digest, not by
    shipping text through the value hash).

    Scale: spans collect per doc (bounded by that doc's span count)
    into one array; the rebuild is a single JVM-side ``aggregate``
    over the sorted span list — substring stitching per doc, no
    explode of the corpus into characters (the oracle does that; the
    engine must not). Text moves only within its own row."""
    (doc,) = load(spark, sf_dir, "documents")
    cleaned, pinned = exact_substring_clean_for(doc)
    out = cleaned.select(
        "doc_id",
        F.length("clean_text").cast("bigint").alias("clean_len"),
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"))
    return pin_result(out, pinned)


_XS_W = 8      # anchor sampling window (consecutive gram positions)


def anchor_positions_for(doc: DataFrame, key_col: str = "doc_id",
                         text_col: str = "text", min_len: int = _XS_L,
                         window: int = _XS_W,
                         chunk: int = _XS_CHUNK,
                         spread: bool = False) -> DataFrame:
    """Content-defined anchor positions over ANY (key, text) table,
    MAP-SIDE ONLY: per CHUNK row (never per document — r10 fix for the
    r9 scale-killer), the (position, gram, md5) array is built once
    (`hs`), its hash projection once (`hm`), and the local-minimum
    filter runs in place with an index lambda — no corpus-wide window
    shuffle exists in the plan (``test_anchor_sampling_plan_shape``).
    Only the ~n/{W} surviving anchors are exploded and leave the stage.

    Chunking preserves anchor choice EXACTLY: the local-min rule at
    position i reads the W-1 hashes before i only, so each chunk
    carries `back` = min(W-1, preceding grams) look-back grams
    (chunk 0's truncated window == the doc-start truncation of the
    unchunked rule) and selects only its OWN positions (j >= back) —
    one owner per position, no boundary dedup. Per-row state is
    O(chunk): ~6 MB of structs for a 64 Ki-gram chunk, whether the
    document is 1 KB or 50 MB."""
    L, W, C = int(min_len), int(window), int(chunk)
    d = (doc.select(F.col(key_col).alias("doc_id"),
                    F.col(text_col).alias("text"))
            .filter(F.length("text") >= L))
    bk = f"least({W - 1}, c * {C})"
    ng = f"least({C}, length(text) - {L - 1} - c * {C})"
    chunks = (
        f"transform(sequence(0, CAST((length(text) - {L}) div {C} AS INT)), "
        f"c -> named_struct("
        f"'back', CAST({bk} AS INT), "
        f"'base0', CAST(c AS BIGINT) * {C} - {bk}, "
        f"'ctext', substring(text, c * {C} + 1 - {bk}, "
        f"{bk} + {ng} + {L - 1})))")
    ch = (d.select("doc_id", F.explode(F.expr(chunks)).alias("ch"))
           .select("doc_id", "ch.back", "ch.base0", "ch.ctext"))
    if spread:
        # corpus-scale callers only (initial builds): delta-sized
        # callers (refresh, per-batch ingest) measured SLOWER with the
        # rebalance — dozens of downstream delta-sized jobs inherit the
        # fan-out while the saved compute is milliseconds
        ch = _spread_chunks(ch, d, "doc_id", "base0")
    # per chunk row: the gram-HASH array only (hybrid gram strategy,
    # `_hybrid_grams` — a materialized gram-STRING array per row
    # measured 4x slower at short-doc scale and is exactly the r9
    # memory hazard). The local-min filter then selects ~1/{W} of the
    # chunk's OWN indexes (j >= back skips the look-back overlap;
    # chunk 0 has back=0, so its truncated windows are exactly the
    # unchunked doc-start truncation), and gram strings are built ONLY
    # for the selected anchors.
    hm = _hybrid_grams("md5(CAST({g} AS BINARY))",
                       f"sequence(1, length(ctext) - {L - 1})", "p", L)
    anchor_idx = (f"filter(sequence(0, size(hm) - 1), "
                  f"j -> j >= back AND element_at(hm, j + 1) = array_min("
                  f"slice(hm, greatest(j - {W - 2}, 1), "
                  f"least({W}, j + 1))))")
    emit = _hybrid_grams(
        "named_struct('i', base0 + CAST(p + 1 AS BIGINT), 'g', {g})",
        anchor_idx, "p + 1", L)
    return (ch.withColumn("hm", F.expr(hm))
              .select("doc_id", F.explode(F.expr(emit)).alias("a"))
              .select("doc_id", F.col("a.i").alias("i"),
                      F.col("a.g").alias("gram")))


def _anchor_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver binding of :func:`anchor_positions_for` to ``documents``,
    persisted (anchors feed three consumers); the real detection plan
    rides on ``__pre_pin__``."""
    (doc,) = load(spark, sf_dir, "documents")
    a = anchor_positions_for(doc, spread=True)
    pre_pin = a                          # real detection plan, for tests
    a = a.persist()                      # feeds hit-agg, stats, islands;
    a.count()                            # persist (not checkpoint) so
    a.__pre_pin__ = pre_pin              # pin_result can release it
    return a


@query(
    "anchor_sampled_substrings",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE length(text) >= {_XS_L}
    ),
    g AS (
      SELECT doc_id, i, substring(text, i, {_XS_L}) AS gram,
             md5(substring(text, i, {_XS_L})) AS h
      FROM d, LATERAL unnest(generate_series(1, length(text) - {_XS_L - 1}))
           AS t(i)
    ),
    a AS (
      SELECT doc_id, i, gram FROM (
        SELECT doc_id, i, gram, h,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN {_XS_W - 1} PRECEDING AND CURRENT ROW) AS mn
        FROM g) WHERE h = mn
    ),
    hit AS (
      SELECT gram FROM a GROUP BY gram HAVING min(doc_id) <> max(doc_id)
    ),
    p AS (SELECT doc_id, i FROM a JOIN hit USING (gram)),
    m AS (
      SELECT doc_id, i,
             max(i + {_XS_L}) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
      FROM p
    ),
    isl AS (
      SELECT doc_id, i,
             sum(CASE WHEN prev_end IS NULL OR i > prev_end
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM m
    ),
    spans AS (
      SELECT doc_id, island, min(i) AS s, max(i) + {_XS_L} AS e
      FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT a.doc_id,
             count(*) AS n_anchors,
             count(*) FILTER (WHERE a.gram IN (SELECT gram FROM hit))
               AS n_hit_anchors
      FROM a GROUP BY a.doc_id
    ),
    cov AS (
      SELECT doc_id, count(*) AS detected_spans, sum(e - s) AS detected_chars
      FROM spans GROUP BY doc_id
    )
    SELECT doc.doc_id,
           CAST(coalesce(pd.n_anchors, 0) AS BIGINT) AS n_anchors,
           CAST(coalesce(pd.n_hit_anchors, 0) AS BIGINT) AS n_hit_anchors,
           CAST(coalesce(c.detected_spans, 0) AS BIGINT) AS detected_spans,
           CAST(coalesce(c.detected_chars, 0) AS BIGINT) AS detected_chars
    FROM documents doc
    LEFT JOIN per_doc pd USING (doc_id)
    LEFT JOIN cov c USING (doc_id)
    """)
def anchor_sampled_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented SCALE KNOB of the ExactSubstr family made real:
    content-defined anchor sampling. Instead of shuffling every gram
    position (exact stride-1, `exact_substring_spans`), each doc emits
    only positions whose md5 is the minimum of the {W}-gram window
    ending there (~n/{W} local minima). The rule depends ONLY on the
    gram hashes inside the window, so inside a shared run both docs
    select the SAME in-run offsets — matched runs still collide on the
    anchor equi-join, at ~1/{W} of the detection shuffle. Precision is
    exact (anchors join on the gram STRING — every hit is a true
    cross-doc {L}-gram); recall is sampled (runs whose hashes happen
    to be window-dominated can be missed) — at sf0.01, 53 of the 67
    exact-detected docs surface (join this query against
    `exact_substring_dedup` to measure; detected_chars <= dup_chars
    per doc by construction).

    Scale: anchor selection is MAP-SIDE ONLY — the per-row `hs` array
    (position, gram, md5) is built once and filtered in place with an
    index lambda, so no corpus-wide window shuffle exists anywhere in
    the plan; only the ~n/{W} anchors (gram + position) reach an
    exchange. The downstream island/coverage windows see hit anchors
    only (duplication-bounded)."""
    (doc,) = load(spark, sf_dir, "documents")
    a = _anchor_positions(spark, sf_dir)
    hit = (a.groupBy("gram")
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .select("gram"))
    p = a.join(hit, "gram").select("doc_id", "i")
    w_prev = (W.partitionBy("doc_id").orderBy("i")
               .rowsBetween(W.unboundedPreceding, -1))
    w_run = (W.partitionBy("doc_id").orderBy("i")
              .rowsBetween(W.unboundedPreceding, W.currentRow))
    isl = (p.withColumn("prev_end",
                        F.max(F.col("i") + F.lit(_XS_L)).over(w_prev))
            .withColumn("island",
                        F.sum(F.when(F.col("prev_end").isNull()
                                     | (F.col("i") > F.col("prev_end")), 1)
                               .otherwise(0)).over(w_run)))
    spans = (isl.groupBy("doc_id", "island")
                .agg(F.min("i").alias("s"),
                     (F.max("i") + F.lit(_XS_L)).alias("e")))
    cov = (spans.groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("detected_spans"),
                     F.sum(F.col("e") - F.col("s")).cast("bigint")
                      .alias("detected_chars")))
    hit_flag = a.join(hit, "gram", "left_semi") \
                .groupBy("doc_id") \
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit_anchors"))
    per_doc = (a.groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_anchors"))
                .join(hit_flag, "doc_id", "left"))
    out = (doc.select("doc_id")
              .join(per_doc, "doc_id", "left")
              .join(cov, "doc_id", "left")
              .select("doc_id",
                      F.coalesce("n_anchors", F.lit(0)).cast("bigint")
                       .alias("n_anchors"),
                      F.coalesce("n_hit_anchors", F.lit(0)).cast("bigint")
                       .alias("n_hit_anchors"),
                      F.coalesce("detected_spans", F.lit(0)).cast("bigint")
                       .alias("detected_spans"),
                      F.coalesce("detected_chars", F.lit(0)).cast("bigint")
                       .alias("detected_chars")))
    return pin_result(out, a)


# -- incremental ExactSubstr (maintain-under-churn) --------------------
#
# VERDICT r9 next-round #3: the churn analysis (COVERAGE.md §Round-9)
# correctly rules out gram-bucket object reuse — a changed doc's gram
# hashes land in every bucket, so a gram-keyed postings table rewrites
# wholesale on any delta. The real delta-proportional path is DOC-keyed:
# persist the anchor index (doc_id, i, gram) and the span manifest,
# both bucketed BY DOC; on a delta, re-run anchor selection on the
# delta's new texts ONLY (the sole text scan), probe the persisted
# index by gram for partner docs, and recompute spans for
# (delta ∪ partners) against the updated index — every other doc's
# anchors AND spans pass through as untouched bucket objects
# (``Trie.hs:346-348``). The honest non-delta cost is two COLUMNAR
# scans of the index's gram column (partner probe + cross-doc status),
# ~corpus/W rows of 30-char grams — no position explosion, no text.


def _islands_spans(p: DataFrame, L: int) -> DataFrame:
    """Merge hit positions (doc_id, i) into maximal spans via per-doc
    gaps-and-islands over intervals [i, i+L) — the same window shape
    the one-shot queries use; state bounded per doc."""
    w_prev = (W.partitionBy("doc_id").orderBy("i")
               .rowsBetween(W.unboundedPreceding, -1))
    w_run = (W.partitionBy("doc_id").orderBy("i")
              .rowsBetween(W.unboundedPreceding, W.currentRow))
    isl = (p.withColumn("prev_end",
                        F.max(F.col("i") + F.lit(L)).over(w_prev))
            .withColumn("island",
                        F.sum(F.when(F.col("prev_end").isNull()
                                     | (F.col("i") > F.col("prev_end")), 1)
                               .otherwise(0)).over(w_run)))
    return (isl.groupBy("doc_id", "island")
               .agg(F.min("i").cast("bigint").alias("span_start"),
                    (F.max("i") + F.lit(L)).cast("bigint").alias("span_end"))
               .select("doc_id", "span_start", "span_end"))


_XS_BCAST_MAX = 1_000_000   # id/gram frames broadcast below this count


def _xs_gate(df: DataFrame, n: int) -> DataFrame:
    """Count-gated broadcast: delta-derived frames are usually tiny,
    but a bulk re-ingest can make them arbitrarily large — past the
    gate they join by shuffle instead of flooding every executor."""
    return F.broadcast(df) if n <= _XS_BCAST_MAX else df


def _xs_replace_docs(spark: SparkSession, store, ref, ids_df: DataFrame,
                     n_ids: int, new_rows: DataFrame,
                     touched: list[int] | None = None):
    """Bucket-granular DOC replacement in a doc-keyed BucketedRef: drop
    every row whose doc_id is in ``ids_df`` (a one-column frame in the
    ref's own key type — ids never materialize on the driver), insert
    ``new_rows`` (docs ⊆ ids), and rewrite ONLY the buckets those docs
    hash to — all other bucket objects pass through by reference.
    Returns (new_ref, n_rewritten). ``touched``: the ids' bucket list
    when the caller already derived it (refresh_for computes the same
    set for its pruned index read — one fewer job per replace).

    This is replace, not upsert: a doc's anchor/span SET shrinks as
    well as grows, so stale rows must go — ``incremental_upsert``'s
    key-wise last-wins cannot express that."""
    from ..plans.incremental import (EMPTY, BucketedRef, _bucket_expr,
                                     _write_buckets, read_bucketed)

    if not n_ids:
        return ref, 0
    ids_df = ids_df.select(F.col(ids_df.columns[0]).alias("doc_id"))
    tb = touched if touched is not None else sorted(
        r["b"] for r in ids_df.select(
            _bucket_expr(("doc_id",), ref.n_buckets).alias("b"))
        .distinct().collect())
    base = read_bucketed(spark, store, ref, buckets=tb).df
    keep = base.join(_xs_gate(ids_df, n_ids), "doc_id", "left_anti")
    # the USING anti-join puts doc_id first: write the recorded order
    merged = (keep.unionByName(new_rows.select(*base.columns))
              .select(*base.columns))
    new_hashes = _write_buckets(store, merged, ("doc_id",), ref.n_buckets,
                                bucket_whitelist=set(tb))
    bh = list(ref.bucket_hashes)
    for b in tb:
        bh[b] = new_hashes.get(b, EMPTY)
    return BucketedRef(key_cols=ref.key_cols, n_buckets=ref.n_buckets,
                       bucket_hashes=tuple(bh),
                       schema_json=ref.schema_json), len(tb)


def _xs_auto_buckets(n_docs: int) -> int:
    """Build-time bucket count for the anchor state: one bucket per
    ~64k docs, pow2-ceiled, floor 16 (identical to the old fixed
    default at test scales), cap 64k. Sized ONCE at build — refreshes
    inherit n_buckets from the persisted ref, so a corpus that is 1000x
    bigger gets proportionally more (and therefore refresh-prunable)
    buckets instead of 16 giant ones."""
    need = max(1, (n_docs + 65535) // 65536)
    return min(65536, max(16, 1 << (need - 1).bit_length()))


def exact_substring_anchor_state(spark: SparkSession, store,
                                 doc: DataFrame,
                                 key_col: str = "doc_id",
                                 text_col: str = "text",
                                 min_len: int = _XS_L,
                                 n_buckets: int | None = None,
                                 spread: bool = True):
    """Initial build of the refreshable anchor-ExactSubstr state: the
    persisted anchor index and span manifest, both doc-bucketed.
    ``n_buckets`` defaults to corpus-size-proportional (one count job;
    see :func:`_xs_auto_buckets`). Returns (anchors_ref, spans_ref)."""
    from ..operators.core import KeyedTable
    from ..plans.incremental import write_bucketed

    if n_buckets is None:
        n_buckets = _xs_auto_buckets(doc.count())
    a = anchor_positions_for(doc, key_col, text_col, min_len,
                             spread=spread)
    a = a.persist()
    a.count()
    anchors_ref = write_bucketed(store, KeyedTable(a, ("doc_id",)),
                                 n_buckets=n_buckets)
    hit = (a.groupBy("gram")
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .filter(F.col("lo") != F.col("hi")).select("gram"))
    spans = _islands_spans(a.join(hit, "gram").select("doc_id", "i"),
                           int(min_len))
    spans_ref = write_bucketed(store, KeyedTable(spans, ("doc_id",)),
                               n_buckets=n_buckets)
    a.unpersist()
    return anchors_ref, spans_ref


def exact_substring_refresh_for(spark: SparkSession, store, anchors_ref,
                                spans_ref, delta_docs: DataFrame,
                                key_col: str = "doc_id",
                                text_col: str = "text",
                                min_len: int = _XS_L):
    """Delta-proportional refresh of the anchor-ExactSubstr state.

    ``delta_docs``: (key, text) — a NULL text deletes the doc; a new
    key inserts one. The ONLY text ever scanned is the delta's own
    (anchor selection over it); partner discovery and cross-doc status
    are gram-column scans of the PERSISTED index; anchors and spans
    rewrite only the buckets of (delta) and (delta ∪ partners)
    respectively, where partners are MINIMAL: only docs holding a gram
    whose cross-doc status actually flips. Returns
    (anchors_ref', spans_ref', stats)."""
    from ..plans.incremental import read_bucketed

    L = int(min_len)
    delta = (delta_docs.select(F.col(key_col).alias("doc_id"),
                               F.col(text_col).alias("text"))
             .localCheckpoint(eager=True))
    # ids stay DataFrames end to end — only their COUNTS (for stats
    # and broadcast gating) and bucket ids (<= n_buckets values) ever
    # reach the driver, so a bulk re-ingest delta cannot OOM it or
    # explode a plan with giant isin literals
    delta_ids = (delta.select("doc_id").distinct()
                 .localCheckpoint(eager=True))
    # ONE delta-sized agg job yields the delta cardinality, the
    # text-scan stat AND the touched-bucket list together (r15, guide
    # §1.2: these were three separate driver actions per refresh; the
    # bucket list is <= n_buckets values, never the ids)
    from ..plans.incremental import _bucket_expr
    _b = _bucket_expr(("doc_id",), anchors_ref.n_buckets)
    drow = (delta.agg(
        F.countDistinct("doc_id").alias("nd"),
        F.count("text").alias("nt"),
        F.array_sort(F.collect_set(_b)).alias("bs")).collect()[0])
    n_delta, n_text = int(drow["nd"]), int(drow["nt"])
    tb = [int(b) for b in drow["bs"]]
    # 1. the ONLY text scan: anchor-select the delta's new texts
    new_anchors = anchor_positions_for(
        delta.filter(F.col("text").isNotNull()), "doc_id", "text", L)
    new_anchors = new_anchors.localCheckpoint(eager=True)
    # 2. the delta docs' OLD anchors: bucket-pruned index read
    old_delta = (read_bucketed(spark, store, anchors_ref, buckets=tb).df
                 .join(_xs_gate(delta_ids, n_delta), "doc_id",
                       "left_semi"))
    # 3. partner probe: grams whose cross-doc status CAN change are
    #    exactly those present in the delta's old or new anchors. A doc
    #    OUTSIDE the delta needs its spans recomputed only if some gram
    #    it holds FLIPS status (1 <-> >=2 distinct docs): a boilerplate
    #    gram held by thousands of docs that merely gains or loses one
    #    occurrence flips nothing, and those docs stay untouched —
    #    without this, one common gram in the delta would drag the
    #    whole corpus into the rewrite. A flipped gram's holder set is
    #    tiny on its single side (old or new distinct-doc count <= 1),
    #    so the lone non-delta partner IS that side's lo(==hi)
    #    aggregate — no third index scan needed for partner ids.
    probe = (old_delta.select("gram")
             .unionByName(new_anchors.select("gram")).distinct()
             .localCheckpoint(eager=True))
    n_probe = probe.count()
    idx_all = read_bucketed(spark, store, anchors_ref).df
    old_stat = (idx_all.join(_xs_gate(probe, n_probe), "gram")
                .groupBy("gram")
                .agg(F.min("doc_id").alias("olo"),
                     F.max("doc_id").alias("ohi")))
    # 4. replace the delta docs' anchors (bucket-granular), then the
    #    probe grams' NEW status from one scan of the replaced index
    anchors_ref2, idx_rewritten = _xs_replace_docs(
        spark, store, anchors_ref, delta_ids, n_delta, new_anchors,
        touched=tb)
    idx2 = read_bucketed(spark, store, anchors_ref2).df
    new_stat = (idx2.join(_xs_gate(probe, n_probe), "gram")
                .groupBy("gram")
                .agg(F.min("doc_id").alias("nlo"),
                     F.max("doc_id").alias("nhi")))
    was = F.coalesce(F.col("olo") != F.col("ohi"), F.lit(False))
    now = F.coalesce(F.col("nlo") != F.col("nhi"), F.lit(False))
    partner_c = (F.when(now, F.when(F.col("olo") == F.col("ohi"),
                                    F.col("olo")))     # single -> cross
                 .otherwise(F.when(F.col("nlo") == F.col("nhi"),
                                   F.col("nlo"))))     # cross -> single
    partners = (old_stat.join(new_stat, "gram", "full_outer")
                .filter(was != now)
                .select(partner_c.alias("doc_id"))
                .filter(F.col("doc_id").isNotNull())
                .distinct())
    affected = (delta_ids.unionByName(partners).distinct()
                .localCheckpoint(eager=True))
    # 5. recompute spans for the affected docs against the UPDATED
    #    index: their anchors come from pruned buckets; cross-doc
    #    status is a third gram-column scan, restricted to the
    #    affected docs' grams. Cardinality + bucket list in one agg
    #    (same fold as the delta's).
    arow = (affected.agg(
        F.count(F.lit(1)).alias("na"),
        F.array_sort(F.collect_set(
            _bucket_expr(("doc_id",), anchors_ref2.n_buckets)))
         .alias("bs")).collect()[0])
    n_affected = int(arow["na"])
    ab = [int(b) for b in arow["bs"]]
    A = (read_bucketed(spark, store, anchors_ref2, buckets=ab).df
         .join(_xs_gate(affected, n_affected), "doc_id", "left_semi"))
    A = A.persist()
    A.count()
    cross = (idx2.join(A.select("gram").distinct(), "gram")
                 .groupBy("gram")
                 .agg(F.min("doc_id").alias("lo"),
                      F.max("doc_id").alias("hi"))
                 .filter(F.col("lo") != F.col("hi")).select("gram"))
    new_spans = _islands_spans(
        A.join(cross, "gram").select("doc_id", "i"), L)
    spans_ref2, spans_rewritten = _xs_replace_docs(
        spark, store, spans_ref, affected, n_affected, new_spans,
        touched=(ab if spans_ref.n_buckets == anchors_ref2.n_buckets
                 else None))
    A.unpersist()
    stats = {"delta_docs": n_delta,
             "text_docs_scanned": n_text,
             "partners": n_affected - n_delta,
             "affected_docs": n_affected,
             "index_buckets_rewritten": idx_rewritten,
             "spans_buckets_rewritten": spans_rewritten}
    return anchors_ref2, spans_ref2, stats


# the shared run the refresh demo plants into the two edited docs —
# one literal, used verbatim by BOTH engines
_XS_R_RUN = "##REFRESH-PLANTED-RUN-SHARED-BY-EDITED-DOCS-7-AND-11--64-CHARS##"
assert len(_XS_R_RUN) == 64

_XS_R_ALL_DOCS = f"""
      SELECT doc_id, text FROM documents WHERE doc_id NOT IN (7, 11, 13)
      UNION ALL
      SELECT doc_id, text || '{_XS_R_RUN}' AS text
      FROM documents WHERE doc_id IN (7, 11)
      UNION ALL
      SELECT CAST(900001 AS BIGINT) AS doc_id, text
      FROM documents WHERE doc_id = 5
"""


def _xs_anchor_spans_sql(docs_sql: str) -> str:
    """DuckDB anchor-spans pipeline over an arbitrary (doc_id, text)
    source — shared by the refresh and streaming-ingest oracles."""
    return f"""
    WITH all_docs AS ({docs_sql}),
    d AS (
      SELECT doc_id, text FROM all_docs WHERE length(text) >= {_XS_L}
    ),
    g AS (
      SELECT doc_id, i, substring(text, i, {_XS_L}) AS gram,
             md5(substring(text, i, {_XS_L})) AS h
      FROM d, LATERAL unnest(generate_series(1, length(text) - {_XS_L - 1}))
           AS t(i)
    ),
    a AS (
      SELECT doc_id, i, gram FROM (
        SELECT doc_id, i, gram, h,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN {_XS_W - 1} PRECEDING AND CURRENT ROW) AS mn
        FROM g) WHERE h = mn
    ),
    hit AS (
      SELECT gram FROM a GROUP BY gram HAVING min(doc_id) <> max(doc_id)
    ),
    p AS (SELECT doc_id, i FROM a JOIN hit USING (gram)),
    m AS (
      SELECT doc_id, i,
             max(i + {_XS_L}) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
      FROM p
    ),
    isl AS (
      SELECT doc_id, i,
             sum(CASE WHEN prev_end IS NULL OR i > prev_end
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM m
    )
    SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
           CAST(max(i) + {_XS_L} AS BIGINT) AS span_end
    FROM isl GROUP BY doc_id, island
    """


@query("exact_substring_refresh",
       oracle=_xs_anchor_spans_sql(_XS_R_ALL_DOCS))
def exact_substring_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr MAINTAINED UNDER CHURN (the last operator family
    lacking an incremental path — VERDICT r9 #3): build the persisted
    anchor index + span manifest, apply a fixed 4-doc delta (docs 7 and
    11 edited to share a planted run, doc 13 deleted, doc 900001 added
    as a copy of doc 5), refresh, and return the refreshed span
    manifest — which the oracle recomputes FROM SCRATCH over the
    post-delta corpus.

    In-body asserts (they run at sf0.1 in the bench too, where no
    oracle checks): the only text scanned is the delta's (3 docs),
    anchor-index rewrites are bounded by the DELTA's buckets, span
    rewrites by the AFFECTED docs' buckets, and the affected set stays
    a small fraction of the corpus. The GOLD check — refreshed state
    equals a full from-scratch rebuild bucket by bucket (manifest
    hashes: untouched buckets shared by reference, touched ones
    content-equal) — runs when ``SPARK_GRAFT_XS_GOLD=1`` (r10 verdict
    #5: the timed bench row should reflect the maintained operation,
    not a deliberate second full build; bench.py re-invokes this query
    WITH the flag after the timed loop and records it separately as
    ``exact_substring_refresh_gold``, so the strongest family
    invariant still executes at every closing bench, and
    ``tests/test_exact_substring_model.py`` asserts it in CI).

    Scale: refresh cost = anchor-select the delta + three columnar
    scans of the index's GRAM column (~corpus/{W} 30-char rows — no
    text, no position explosion) + rewrite of the touched doc-buckets.
    Partners are STATUS-FLIP minimal, so a boilerplate gram shared by
    thousands of docs cannot drag them into the rewrite. A 100 TB
    corpus with a 0.1% daily delta re-reads its compact index, never
    its text."""
    import os
    import shutil
    import tempfile

    from ..store import ObjectStore

    (docs,) = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    n_docs = base.count()
    delta = (base.filter(F.col("doc_id").isin(7, 11))
             .select("doc_id", F.concat(F.col("text"),
                                        F.lit(_XS_R_RUN)).alias("text"))
             .unionByName(spark.createDataFrame(
                 [(13, None)], "doc_id bigint, text string"))
             .unionByName(base.filter(F.col("doc_id") == 5)
                          .select(F.lit(900001).cast("bigint")
                                   .alias("doc_id"), "text")))
    tmp = tempfile.mkdtemp(prefix="messdb_xsrefresh_")
    try:
        store = ObjectStore(os.path.join(tmp, "wh"))
        a_ref, s_ref, = exact_substring_anchor_state(spark, store, base)
        a_ref2, s_ref2, st = exact_substring_refresh_for(
            spark, store, a_ref, s_ref, delta)
        if st["text_docs_scanned"] != 3 or st["delta_docs"] != 4:
            raise AssertionError(f"delta shape: {st}")
        if st["index_buckets_rewritten"] > min(4, a_ref.n_buckets):
            raise AssertionError(
                f"index rewrite not delta-bounded: {st}")
        # flip-minimal partners bound this delta's affected set by the
        # delta itself plus AT MOST doc 5 (whose lone-held grams flip
        # single→cross when its verbatim copy arrives — at sf0.001 it
        # holds none alone, partners=0; at sf0.01/0.1 partners=1). The
        # planted run in 7/11 flips 0→cross (no third holder ⇒ no
        # partner). An over-broad partner rule (any gram shared with
        # the delta) would drag in hundreds of docs and fail loudly.
        if st["partners"] > 1 or \
                st["affected_docs"] != st["delta_docs"] + st["partners"]:
            raise AssertionError(
                f"affected set not flip-minimal: {st} over {n_docs} docs")
        if st["spans_buckets_rewritten"] > min(st["affected_docs"],
                                               s_ref.n_buckets):
            raise AssertionError(
                f"span rewrite not affected-bounded: {st}")
        # gold check, engine-side, env-gated (see docstring): the
        # refreshed state must equal a full from-scratch rebuild over
        # the post-delta corpus — compared by bucket content hashes
        if os.environ.get("SPARK_GRAFT_XS_GOLD", "0") == "1":
            post = (base.filter(~F.col("doc_id").isin(7, 11, 13))
                    .unionByName(delta.filter(F.col("text").isNotNull())))
            a_full, s_full = exact_substring_anchor_state(spark, store,
                                                          post)
            if a_full.bucket_hashes != a_ref2.bucket_hashes \
                    or s_full.bucket_hashes != s_ref2.bucket_hashes:
                raise AssertionError("refresh != full rebuild")
        from ..plans.incremental import read_bucketed
        out = (read_bucketed(spark, store, s_ref2).df
               .select("doc_id", "span_start", "span_end")
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# -- long-document fixture (bench-scale memory-bound exercise) ---------
#
# VERDICT r9 stretch #8: the chunking memory bound must be exercised at
# every closing bench, not only in pytest. Four ~500 KB documents (8
# chunks each at the 64 Ki constant) are SYNTHESIZED DETERMINISTICALLY
# as md5-hex chains — both engines can generate byte-identical docs,
# and the high-entropy filler makes the planted shared runs the exact,
# provable ground truth: run S1 (160 chars) STRADDLES the first chunk
# boundary at char 65536; run S2 (96 chars) sits deep in chunk 5. The
# oracle is therefore the LITERAL expected span set (the planted-model
# discipline of tests/test_exact_substring_model.py, driver-visible).

_XS_LD = {"a": 2047, "s1": 5, "b": 8000, "s2": 3, "c": 6000}
# doc-unique sentinels bracket each shared run WITH THE DOC DIGIT AS
# THE CHAR TOUCHING THE RUN: md5-hex filler alone leaves a 1-in-16
# chance per boundary char that two docs' adjacent chars coincide and
# stretch a span by one, and any fixed sentinel char touching the run
# is itself shared (both observed on earlier plants) — with the digit
# adjacent, every gram crossing a run boundary is doc-unique, so the
# planted intervals are exact with probability 1
_XS_LD_S1 = (_XS_LD["a"] * 32 + 3, _XS_LD["a"] * 32 + 3
             + _XS_LD["s1"] * 32)
_XS_LD_S2 = (_XS_LD_S1[1] + 2 + _XS_LD["b"] * 32 + 2,
             _XS_LD_S1[1] + 2 + _XS_LD["b"] * 32 + 2
             + _XS_LD["s2"] * 32)
_XS_LD_LEN = sum(_XS_LD.values()) * 32 + 8


def _xs_chain(tag_expr: str, n: int) -> str:
    """Spark expr: n-term md5-hex chain seeded by ``tag_expr``."""
    return (f"array_join(transform(sequence(1, {n}), "
            f"k -> md5(CAST(concat({tag_expr}, ':', CAST(k AS STRING)) "
            f"AS BINARY))), '')")


def _xs_long_docs(spark: SparkSession) -> DataFrame:
    before = "concat('{}', CAST(doc_id AS STRING))"   # digit TOUCHES run
    after = "concat(CAST(doc_id AS STRING), '{}')"
    text = "concat(" + ", ".join([
        _xs_chain("concat('d', CAST(doc_id AS STRING), 'a')", _XS_LD["a"]),
        before.format("u"),
        _xs_chain("'shared-one'", _XS_LD["s1"]),
        after.format("v"),
        _xs_chain("concat('d', CAST(doc_id AS STRING), 'b')", _XS_LD["b"]),
        before.format("w"),
        _xs_chain("'shared-two'", _XS_LD["s2"]),
        after.format("z"),
        _xs_chain("concat('d', CAST(doc_id AS STRING), 'c')", _XS_LD["c"]),
    ]) + ")"
    # 4 explicit slices (one doc per partition): the default range
    # parallelism spreads 4 rows over ~32 mostly-empty partitions,
    # which defeats the _spread_chunks few-splits gate downstream —
    # with 4 real slices the gate fires and the 8-chunks-per-doc
    # hashing fans out chunk-per-task instead of doc-per-task
    return (spark.range(1, 5, 1, 4).select(F.col("id").alias("doc_id"))
            .select("doc_id", F.expr(text).alias("text")))


@query(
    "exact_substring_long_docs",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(s AS BIGINT) AS span_start, CAST(e AS BIGINT) AS span_end
    FROM (VALUES {", ".join(
        f"({d}, {s}, {e})" for d in (1, 2, 3, 4)
        for s, e in (_XS_LD_S1, _XS_LD_S2))}) t(doc_id, s, e)
    """)
def exact_substring_long_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr on MULTI-CHUNK documents at bench scale: 4 docs of
    {LEN} chars (8 chunks each), two planted cross-doc runs — one
    straddling the 64 Ki chunk boundary — over collision-free md5-chain
    filler. Detection must return exactly the 8 planted spans (the
    oracle is the literal plant; the filler's entropy makes any other
    span a detection bug), and the anchor variant must find a sound
    subset with at least one hit per doc — both paths exercising the
    bounded per-chunk state on documents ~1000x longer than the
    corpus tables', at every closing bench (sf-independent fixture)."""
    docs = _xs_long_docs(spark).localCheckpoint(eager=True)
    spans, pinned = exact_substring_spans_for(docs)
    out = spans.select("doc_id", "span_start", "span_end") \
               .localCheckpoint(eager=True)
    pinned.unpersist()
    want = {(d, s, e) for d in (1, 2, 3, 4)
            for s, e in (_XS_LD_S1, _XS_LD_S2)}
    got = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in out.collect()}
    if got != want:
        raise AssertionError(
            f"long-doc spans drifted from the plant: {sorted(got)[:6]}")
    # anchor path on the same frame: sound subset, nonzero recall.
    # spread=True (8 chunks/doc fan out chunk-per-task) and an EAGER
    # cache fill: without the count, AQE submits the hit-agg and join
    # map stages concurrently and BOTH recompute the anchor scan
    # (measured 2x 4.5 s single-job here)
    a = anchor_positions_for(docs, spread=True).persist()
    a.count()
    hit = (a.groupBy("gram")
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .filter(F.col("lo") != F.col("hi")).select("gram"))
    aspans = _islands_spans(a.join(hit, "gram").select("doc_id", "i"),
                            _XS_L).collect()
    a.unpersist()
    # NOTE: `docs` is localCheckpoint'd — unpersist is a CacheManager
    # no-op on checkpointed frames (r4 note); its blocks free at RDD GC
    if not aspans:
        raise AssertionError("anchor path found nothing in planted runs")
    for r in aspans:
        if not any(r["doc_id"] == d and s <= r["span_start"]
                   and r["span_end"] <= e for d, s, e in want):
            raise AssertionError(f"anchor span outside the plant: {r}")
    return out


def _load_object_df(eng, table_hash: str) -> DataFrame:
    """A CAS object as a DataFrame, whatever its layout (plain parquet
    or bucketed manifest) — for reading the PREVIOUS source snapshot."""
    from ..plans.incremental import load_manifest, read_bucketed

    ref = load_manifest(eng.objects, table_hash)
    if ref is not None:
        return read_bucketed(eng.spark, eng.objects, ref).df
    return eng.objects.load(eng.spark, table_hash)


def dedup_substrings_incremental(eng, table: str, out: str,
                                 text_col: str = "text",
                                 min_len: int = _XS_L,
                                 spans_table: str | None = None) -> dict:
    """User-reachable maintain-under-churn ExactSubstr: the CLI's
    ``dedup-substrings --incremental`` body.

    Anchor-mode detection (the scale knob — sampled recall, exact
    precision) with PERSISTED state in the catalog, committed
    atomically with the cleaned output in one root swap:

      <out>__xs_anchors — doc-bucketed anchor index manifest
      <out>__xs_spans   — doc-bucketed span manifest
      <out>__xs_meta    — (source_hash, min_len, text_col) provenance

    First run builds the state (full anchor detection). Every later
    run derives the delta ITSELF: the meta row pins the content hash
    of the source snapshot the state matches; the immutable CAS still
    holds that snapshot, so ``diff_tables(old, new)`` yields exactly
    the changed/added/removed rows and
    :func:`exact_substring_refresh_for` does delta-proportional work —
    no user-supplied change feed needed (the content-addressed-
    everything design paying off as a feature). If the old snapshot
    was GC'd, or min_len/text_col changed, the state rebuilds (mode
    reported). An unchanged source whose outputs are still in place is
    a TRUE no-op (mode "noop"): the meta row pins the output hashes,
    so the repeat run is driver-side reads only — one catalog root
    read, the state manifests and the one-row meta record
    (``load_record``) — ZERO Spark jobs and no root swap. A tampered
    output falls through to a recompute from the cached state
    (detection still skipped; mode "restore" — distinct from the
    zero-job "noop")."""
    from ..operators.core import KeyedTable, diff_tables
    from ..plans.incremental import load_manifest, read_bucketed
    from ..store import as_schema, local_frame

    spark = eng.spark
    meta_name, anch_name, spans_name = (f"{out}__xs_meta",
                                        f"{out}__xs_anchors",
                                        f"{out}__xs_spans")
    # the no-op decision reads the catalog (one root read), the state
    # manifests and the one-row meta record on the driver: no Spark job
    ents = eng.table_entries([table, meta_name, anch_name, spans_name, out]
                             + ([spans_table] if spans_table else []))
    src_e = ents[table]
    if src_e is None:
        raise KeyError(f"no such table: {table}")
    if len(src_e.key_cols) != 1:
        raise ValueError("dedup-substrings needs a single-column key")
    key = src_e.key_cols[0]
    if text_col not in as_schema(src_e.schema_json).fieldNames():
        raise ValueError(f"no column {text_col!r} in {table}")
    cur_hash = src_e.table_hash
    a_ref = s_ref = old_hash = None
    md: dict = {}
    meta_e = ents[meta_name]
    if meta_e is not None:
        md = eng.objects.load_record(meta_e.table_hash)
        if (md["min_len"] == int(min_len)
                and md["text_col"] == text_col
                and eng.objects.exists(md["source_hash"])):
            a_e, s_e = ents[anch_name], ents[spans_name]
            if a_e is not None and s_e is not None:
                a_ref = load_manifest(eng.objects, a_e.table_hash)
                s_ref = load_manifest(eng.objects, s_e.table_hash)
                old_hash = md["source_hash"]
    stats: dict = {"ok": True, "detector": "anchor", "table": out}
    if a_ref is not None and s_ref is not None and old_hash == cur_hash:
        out_e = ents[out]
        sp_e = ents[spans_table] if spans_table else None
        if (out_e is not None and out_e.table_hash == md.get("out_hash")
                and (spans_table is None
                     or (sp_e is not None and sp_e.table_hash
                         == md.get("spans_out_hash")))):
            stats.update(mode="noop", table_hash=md["out_hash"],
                         rows=md["rows"], spans=md["spans"])
            if spans_table:
                stats["spans_table"] = spans_table
            return stats
    t = eng.load_table(table)
    src = t.df.select(key, text_col)
    with eng.transaction():
        if a_ref is None or s_ref is None:
            stats["mode"] = "build"
            a2, s2 = exact_substring_anchor_state(
                spark, eng.objects, src, key, text_col, min_len)
        elif old_hash == cur_hash:
            # source unchanged but an output hash check failed above:
            # outputs are rewritten from the cached state (detection
            # skipped) — report a mode DISTINCT from the zero-job noop
            # so operators can tell a repair from a true no-op
            stats["mode"] = "restore"
            a2, s2 = a_ref, s_ref
        else:
            stats["mode"] = "refresh"
            old = _load_object_df(eng, old_hash).select(key, text_col)
            d = diff_tables(KeyedTable(old, (key,)),
                            KeyedTable(src, (key,)))
            delta = d.select(
                F.col(key),
                F.when(F.col("change") == "removed", F.lit(None))
                 .otherwise(F.col(f"new_{text_col}")).alias(text_col))
            a2, s2, rst = exact_substring_refresh_for(
                spark, eng.objects, a_ref, s_ref, delta,
                key_col=key, text_col=text_col, min_len=min_len)
            stats.update(rst)
        eng.save_bucketed_table(anch_name, a2)
        eng.save_bucketed_table(spans_name, s2)
        spans = read_bucketed(spark, eng.objects, s2).df
        cleaned = exact_substring_clean_from_spans(
            src, spans.select("doc_id", "span_start", "span_end"),
            key, text_col)
        out_df = (t.df.drop(text_col)
                  .join(cleaned.withColumnRenamed("doc_id", key)
                               .withColumnRenamed("clean_text", text_col),
                        key, "left"))
        stats["table_hash"] = eng.save_table(out, KeyedTable(out_df,
                                                             (key,)))
        sp_hash = None
        if spans_table:
            sp = (spans.withColumnRenamed("doc_id", key)
                  .withColumn("span_len",
                              (F.col("span_end") - F.col("span_start"))
                              .cast("bigint")))
            sp_hash = eng.save_table(spans_table,
                                     KeyedTable(sp, (key, "span_start")))
            stats["spans_table"] = spans_table
        stats["rows"] = out_df.count()
        stats["spans"] = spans.count()
        # meta pins the OUTPUT hashes too, so the next unchanged-source
        # run can no-op without recomputing the clean
        eng.save_table(meta_name, KeyedTable(
            local_frame(
                spark,
                [(cur_hash, int(min_len), text_col, stats["table_hash"],
                  sp_hash, stats["rows"], stats["spans"])],
                T.StructType.fromDDL(
                    "source_hash string, min_len bigint, text_col string, "
                    "out_hash string, spans_out_hash string, rows bigint, "
                    "spans bigint")),
            ("source_hash",)))
    return stats


@query("stream_xs_ingest_replay",
       oracle=_xs_anchor_spans_sql(
           "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0"))
def stream_xs_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr family DRIVEN BY A STREAM — the operational
    crawl loop for substring dedup: documents arrive over 3
    micro-batches; each batch refreshes the persisted anchor index +
    span manifest via :func:`exact_substring_refresh_for` and commits
    BOTH to the catalog in one transaction per batch (the pattern
    ``stream_minhash_ingest_replay`` established, now carrying the
    newest operator family). In-body asserts: 3 batch commits, one
    root swap each, and — the incrementality contract — each refresh
    anchor-scans exactly its OWN batch's text, never the accumulated
    corpus. The final span manifest hash-checks against DuckDB
    computing anchor spans over the whole corpus from scratch.

    Scale: per micro-batch cost is (batch anchor-select) + three
    columnar gram scans of the index + (touched doc-buckets
    rewritten) + one root swap — arrival-rate-bounded text work; the
    index re-scan is the documented compact probe cost."""
    import os
    import shutil
    import tempfile

    from ..engine import Engine
    from ..plans.incremental import load_manifest, read_bucketed
    from .engine_ops import _replay_shuffle_partitions

    (d,) = load(spark, sf_dir, "documents")
    # a uniform quarter of the corpus: the replay pays 3x (batch anchor
    # select + index maintenance + txn commit) — the mechanism is what
    # this query checks, and the 1/4 slice bounds its bench cost while
    # keeping the oracle a genuine cross-doc-duplication workload
    docs = d.filter(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="messdb_xsstream_")
    try:
        src_dir = os.path.join(tmp, "src")
        (docs.withColumn("__sp", F.pmod(F.col("doc_id"), F.lit(3))
                         .cast("int"))
             .repartition(3, "__sp")
             .write.partitionBy("__sp").mode("overwrite").parquet(src_dir))
        eng = Engine(spark, os.path.join(tmp, "wh"))
        batches = []

        def sink(batch_df, epoch_id):
            pinned = (batch_df.select("doc_id", "text")
                      .localCheckpoint(eager=True))
            n_batch = pinned.count()
            with eng.transaction():
                a_e = eng.catalog.get("xs_anchors")
                if a_e is None:
                    # spread=False: the batch is a pinned ~1/12-corpus
                    # slice under the replay's narrow shuffle width —
                    # the rebalance measured as pure overhead here
                    a2, s2 = exact_substring_anchor_state(
                        spark, eng.objects, pinned, n_buckets=8,
                        spread=False)
                    scanned = n_batch
                else:
                    a_ref = load_manifest(eng.objects, a_e.table_hash)
                    s_ref = load_manifest(
                        eng.objects,
                        eng.catalog.get("xs_spans").table_hash)
                    a2, s2, st = exact_substring_refresh_for(
                        spark, eng.objects, a_ref, s_ref, pinned)
                    scanned = st["text_docs_scanned"]
                eng.save_bucketed_table("xs_anchors", a2)
                eng.save_bucketed_table("xs_spans", s2)
                batches.append(
                    (eng.catalog.current_version() + 1, n_batch, scanned))
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
                f"each batch must commit index+spans in ONE root swap: "
                f"{versions}")
        total = 0
        for v, n_batch, scanned in batches:
            total += n_batch
            if scanned != n_batch:
                raise AssertionError(
                    f"batch at v{v} anchor-scanned {scanned} docs, "
                    f"batch held {n_batch} — refresh touched text "
                    f"beyond its delta")
        if total != docs.count():
            raise AssertionError("batches did not cover the corpus")
        out = (read_bucketed(
            spark, eng.objects,
            load_manifest(eng.objects,
                          eng.catalog.get("xs_spans").table_hash)).df
            .select("doc_id", "span_start", "span_end")
            .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
