"""ExactSubstr through the memo/materializer (VERDICT r9 #2): span
detection is a view-IR node (op + L + column bindings + input table
hash), so the expensive detection materializes ONCE per corpus version
and the whole family — stats, clean, the CLI verb, repeat runs —
reuses the cached manifest. Counter-asserted, the reference's
MemoStore contract (``MessDB/Store.hs:28-37``, ``Trie.hs:280-295``)
carried by the newest operator."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from messdb_spark.engine import Engine
from messdb_spark.operators.core import KeyedTable
from messdb_spark.plans.views import xs_clean, xs_spans


def _corpus(spark):
    shared = "THE-PLANTED-SHARED-RUN-IS-40-CHARS-LONG!"
    rows = [(1, "alpha<" + shared + ">omega-unique-one"),
            (2, "begin_" + shared + "_finish-unique-two"),
            (3, "plain row with nothing duplicated at all here"),
            (4, None),
            (5, "short")]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.mark.parametrize("backend", ["json", "sqlite"])
def test_xs_family_materializes_detection_once(spark, warehouse, backend):
    eng = Engine(spark, warehouse + backend, manifest_backend=backend)
    df = _corpus(spark)
    eng.save_table("docs", KeyedTable(df, ("doc_id",)))
    ir_doc = eng.scan_ir("docs")
    m = eng.materializer

    # first member: spans node computes (1 op, 1 CAS write)
    saves0 = eng.objects.saves
    h_spans = m.materialize(xs_spans(ir_doc))
    assert m.computed_ops == 1 and eng.objects.saves == saves0 + 1

    # second member: clean HITS the spans node — detection does NOT
    # re-run; only the excision node computes
    hits0, saves1 = eng.memo.hits, eng.objects.saves
    h_clean = m.materialize(xs_clean(ir_doc))
    assert m.computed_ops == 2, "clean recomputed detection"
    assert eng.memo.hits == hits0 + 1
    assert eng.objects.saves == saves1 + 1      # the clean object only

    # full re-run of BOTH: pure hits — zero compute, zero CAS writes
    saves2 = eng.objects.saves
    assert m.materialize(xs_spans(ir_doc)) == h_spans
    assert m.materialize(xs_clean(ir_doc)) == h_clean
    assert m.computed_ops == 2 and eng.objects.saves == saves2

    # the memoized results equal the direct one-plan computations
    from messdb_spark.queries.linkage import (exact_substring_clean_for,
                                              exact_substring_spans_for)
    want_spans, pinned = exact_substring_spans_for(df)
    got_spans = eng.objects.load(spark, h_spans)
    assert sorted(map(tuple, got_spans.collect())) \
        == sorted(map(tuple, want_spans.collect()))
    pinned.unpersist()
    want_clean, pinned2 = exact_substring_clean_for(df)
    got_clean = eng.objects.load(spark, h_clean)
    assert sorted(map(tuple, got_clean.collect())) \
        == sorted(map(tuple, want_clean.collect()))
    pinned2.unpersist()


def test_xs_digest_keyed_by_corpus_version_and_L(spark, warehouse):
    """A new corpus version or a different L is a different digest —
    no stale reuse; the OLD version's manifest stays cached."""
    eng = Engine(spark, warehouse)
    eng.save_table("docs", KeyedTable(_corpus(spark), ("doc_id",)))
    m = eng.materializer
    ir1 = eng.scan_ir("docs")
    h1 = m.materialize(xs_spans(ir1))
    assert m.computed_ops == 1
    # L differs -> different DIGEST -> recomputes (the planted 40-char
    # run yields the same maximal span at L=35, so the CONTENT hash
    # dedups write-once — correct: op cache by digest, storage by value)
    h35 = m.materialize(xs_spans(ir1, min_len=35))
    assert m.computed_ops == 2
    assert h35 == h1            # value-level dedup, not an op-cache hit
    # upsert one row -> new table hash -> new digest, recomputes
    eng.save_table("docs", KeyedTable(spark.createDataFrame(
        [(6, "a brand new row of unshared text material")],
        "doc_id bigint, text string"), ("doc_id",)))
    ir2 = eng.scan_ir("docs")
    assert ir2["table_hash"] != ir1["table_hash"]
    m.materialize(xs_spans(ir2))
    assert m.computed_ops == 3
    # the original version's manifest still hits
    assert m.materialize(xs_spans(ir1)) == h1
    assert m.computed_ops == 3


def test_cli_dedup_substrings_second_run_is_memo_hit(spark, tmp_path,
                                                     capsys):
    """ADVICE r9: the verb used to recompute detection for
    --spans-table (two extra corpus scans); now the clean step, the
    span save AND a repeat invocation share one materialized manifest."""
    from messdb_spark.cli import main

    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    eng.save_table("docs", KeyedTable(_corpus(spark), ("doc_id",)))

    args = ["-w", wh, "dedup-substrings", "-t", "docs",
            "--out", "docs_clean", "--spans-table", "docs_spans"]
    assert main(args) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["ok"] and first["memo_hit"] is False
    assert first["spans"] == 2 and first["dup_chars"] == 80

    # second run, fresh Engine (fresh counters): detection must HIT
    assert main(args) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["ok"] and second["memo_hit"] is True
    assert second["spans"] == 2 and second["dup_chars"] == 80
    assert second["table_hash"] == first["table_hash"]

    eng2 = Engine(spark, wh)
    got = {r["doc_id"]: r["text"]
           for r in eng2.load_table("docs_clean").df.collect()}
    assert got[1] == "alpha<>omega-unique-one"
    assert got[2] == "begin__finish-unique-two"
    assert got[4] == "" and got[5] == "short"


def test_xs_spans_pinned_frame_released_after_materialize(spark,
                                                          warehouse):
    """The detection's persisted candidate frame must not leak into
    executor storage after the manifest materializes (pin_result
    discipline, applied to the memo path)."""
    eng = Engine(spark, warehouse)
    eng.save_table("docs", KeyedTable(_corpus(spark), ("doc_id",)))
    sc = spark.sparkContext
    # r.id() — the call, not the JavaMember: a set of method proxies
    # compares by object identity and can never overlap (caught when a
    # preceding test's lingering checkpoint blocks made the sets
    # non-empty and this assert failed spuriously)
    before = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    eng.materializer.materialize(xs_spans(eng.scan_ir("docs")))
    after = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    assert after <= before, \
        f"xs_spans leaked persisted candidate blocks: {after - before}"


def test_xs_pinned_released_when_put_fails(spark, warehouse):
    """ADVICE r10: a CAS put that RAISES must still release the pinned
    candidate frame (try/finally in Materializer.materialize), or the
    error path leaks executor storage."""
    eng = Engine(spark, warehouse)
    eng.save_table("docs", KeyedTable(_corpus(spark), ("doc_id",)))
    sc = spark.sparkContext
    before = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}

    def boom(*a, **k):
        raise RuntimeError("simulated disk-full during CAS put")
    eng.objects.put = boom          # instance-attr shadow, this store only
    with pytest.raises(RuntimeError, match="disk-full"):
        eng.materializer.materialize(xs_spans(eng.scan_ir("docs")))
    after = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    assert after <= before, \
        f"failed put leaked pinned candidate blocks: {after - before}"


# -- r10: dedup-substrings --incremental (maintained state) ------------


def _anchor_clean_reference(spark, df, key, text_col, min_len=30):
    """From-scratch anchor-mode clean of (key, text) — the ground truth
    an incremental run must converge to."""
    from messdb_spark.queries.linkage import (
        _islands_spans, anchor_positions_for,
        exact_substring_clean_from_spans)

    a = anchor_positions_for(df.select(key, text_col), key, text_col,
                             min_len)
    hit = (a.groupBy("gram")
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .filter(F.col("lo") != F.col("hi")).select("gram"))
    spans = _islands_spans(a.join(hit, "gram").select("doc_id", "i"),
                           min_len)
    cleaned = exact_substring_clean_from_spans(
        df.select(key, text_col), spans, key, text_col)
    return {r["doc_id"]: r["clean_text"] for r in cleaned.collect()}


def test_cli_dedup_substrings_incremental_lifecycle(spark, tmp_path,
                                                    capsys):
    """build → noop → refresh through the CLI flag: the second run on
    an unchanged table does nothing; after an upsert the delta is
    DERIVED from the content diff against the snapshot the state was
    built from, the refresh scans only the changed docs' text, and the
    cleaned output equals a from-scratch anchor-mode clean."""
    import json as _json

    from messdb_spark.cli import main

    shared = "THE-PLANTED-SHARED-RUN-IS-40-CHARS-LONG!"
    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    rows = [(1, "alpha<" + shared + ">omega-one", "s1"),
            (2, "begin_" + shared + "_finish-two", "s2"),
            (3, "nothing duplicated in this row at all, no sir", "s3")]
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, "doc_id bigint, body string, src string"),
        ("doc_id",)))
    args = ["-w", wh, "dedup-substrings", "-t", "docs", "--text-col",
            "body", "--out", "docs_clean", "--spans-table", "docs_spans",
            "--incremental"]

    assert main(args) == 0
    st1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st1["ok"] and st1["mode"] == "build" and st1["rows"] == 3
    assert st1["detector"] == "anchor" and st1["spans"] >= 2

    # unchanged source → TRUE noop: no root swap, reported hashes and
    # counts come from the pinned meta row
    v1 = Engine(spark, wh).catalog.current_version()
    assert main(args) == 0
    st2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st2["mode"] == "noop" and st2["table_hash"] == st1["table_hash"]
    assert st2["rows"] == st1["rows"] and st2["spans"] == st1["spans"]
    assert Engine(spark, wh).catalog.current_version() == v1

    # tampered output: the short-circuit must NOT trust it — the run
    # falls through and restores the clean from the cached state, and
    # reports mode "restore" (NOT "noop": it rewrites outputs and
    # performs a root swap; VERDICT r10 what's-wrong #2)
    eng_t = Engine(spark, wh)
    eng_t.save_table("docs_clean", KeyedTable(
        spark.createDataFrame([(99, "junk", "s9")],
                              "doc_id bigint, body string, src string"),
        ("doc_id",)))
    assert main(args) == 0
    st2b = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st2b["mode"] == "restore"
    assert st2b["table_hash"] == st1["table_hash"]
    assert Engine(spark, wh).catalog.current_version() > v1

    # churn: doc 2 rewritten to unique text (doc 1 loses its partner),
    # doc 4 added sharing a NEW run with doc 3's replacement... keep it
    # simple: 2 edited, 4 added as a copy of 3
    eng2 = Engine(spark, wh)
    d3_text = rows[2][1]
    upd = spark.createDataFrame(
        [(2, "completely fresh unique body text now!!", "s2"),
         (4, d3_text, "s4")],
        "doc_id bigint, body string, src string")
    from messdb_spark.operators.core import canonicalize_input, merge_tables
    merged = merge_tables([eng2.load_table("docs"),
                           canonicalize_input(upd, ("doc_id",))])
    eng2.save_table("docs", merged)

    assert main(args) == 0
    st3 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st3["mode"] == "refresh"
    assert st3["delta_docs"] == 2            # derived, not user-supplied
    assert st3["text_docs_scanned"] == 2
    assert st3["affected_docs"] >= 3         # 2, 4, plus partners 1/3

    eng3 = Engine(spark, wh)
    got = {r["doc_id"]: r["body"]
           for r in eng3.load_table("docs_clean").df.collect()}
    src_now = eng3.load_table("docs").df \
        .withColumnRenamed("body", "body")
    want = _anchor_clean_reference(
        spark, src_now.withColumnRenamed("doc_id", "doc_id")
        .selectExpr("doc_id", "body"), "doc_id", "body")
    assert got == want
    # docs 3 and 4 are verbatim copies: identical cleaned text
    assert got[3] == got[4]
    # doc 1 lost its only partner: cleaned text == full original
    assert got[1] == rows[0][1]
    # spans manifest matches the refreshed state
    spans = {(r["doc_id"], r["span_start"], r["span_end"])
             for r in eng3.load_table("docs_spans").df.collect()}
    assert spans and all(d in (3, 4) for d, _, _ in spans)


def test_incremental_state_rebuilds_on_min_len_change(spark, tmp_path,
                                                     count_jobs):
    """A different --min-len is a different operator: the state must
    rebuild, not silently reuse mismatched manifests. The unchanged
    re-run after it is a no-op of zero Spark jobs."""
    from messdb_spark.queries.linkage import dedup_substrings_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    shared = "THE-PLANTED-SHARED-RUN-IS-40-CHARS-LONG!"
    eng.save_table("d", KeyedTable(spark.createDataFrame(
        [(1, "xx<" + shared + ">yy"), (2, "aa{" + shared + "}bb")],
        "doc_id bigint, text string"), ("doc_id",)))
    st1 = dedup_substrings_incremental(eng, "d", "d_clean")
    assert st1["mode"] == "build"
    st2 = dedup_substrings_incremental(eng, "d", "d_clean", min_len=35)
    assert st2["mode"] == "build"            # rebuilt, not reused
    with count_jobs() as jc:
        st3 = dedup_substrings_incremental(eng, "d", "d_clean", min_len=35)
    assert st3["mode"] == "noop"
    # catalog, state manifests and the one-row meta record are all
    # read on the driver
    assert jc.n == 0


def test_incremental_commit_is_atomic(spark, tmp_path):
    """State manifests, meta, cleaned output and span table land in ONE
    catalog version — a reader never sees state ahead of output."""
    eng = Engine(spark, str(tmp_path / "wh"))
    shared = "THE-PLANTED-SHARED-RUN-IS-40-CHARS-LONG!"
    eng.save_table("d", KeyedTable(spark.createDataFrame(
        [(1, "xx<" + shared + ">yy"), (2, "aa{" + shared + "}bb")],
        "doc_id bigint, text string"), ("doc_id",)))
    from messdb_spark.queries.linkage import dedup_substrings_incremental
    v0 = eng.catalog.current_version()
    dedup_substrings_incremental(eng, "d", "d_clean",
                                 spans_table="d_spans")
    assert eng.catalog.current_version() == v0 + 1
    names = set(eng.catalog.names())
    assert {"d_clean", "d_spans", "d_clean__xs_anchors",
            "d_clean__xs_spans", "d_clean__xs_meta"} <= names


def test_xs_state_syncs_to_another_warehouse(spark, tmp_path):
    """The ExactSubstr twin of the dedup-near cross-warehouse test:
    sync corpus + cleaned output + the three state tables into a
    second warehouse; an unchanged source there is a true no-op, and
    churn resumes DELTA-PROPORTIONAL refresh against the synced state
    (the xs refresh machinery is memo-free, so unlike the MinHash verb
    no provenance rehydration is needed — this pins that)."""
    from messdb_spark.queries.linkage import dedup_substrings_incremental

    shared = "THE-PLANTED-SHARED-RUN-IS-40-CHARS-LONG!"
    eng = Engine(spark, str(tmp_path / "src"))
    schema = "doc_id bigint, body string"
    rows = [(1, "alpha<" + shared + ">omega-one"),
            (2, "begin_" + shared + "_finish-two"),
            (3, "nothing duplicated in this row at all, no sir")]
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st0 = dedup_substrings_incremental(eng, "docs", "clean",
                                       text_col="body")
    assert st0["mode"] == "build"

    dst = Engine(spark, str(tmp_path / "dst"))
    for t in ("docs", "clean",
              "clean__xs_anchors", "clean__xs_spans", "clean__xs_meta"):
        eng.sync_table(t, dst)

    dst2 = Engine(spark, str(tmp_path / "dst"))
    st1 = dedup_substrings_incremental(dst2, "docs", "clean",
                                       text_col="body")
    assert st1["mode"] == "noop"
    assert st1["table_hash"] == st0["table_hash"]

    # churn IN THE DESTINATION: add a verbatim copy of doc 3
    from messdb_spark.operators.core import canonicalize_input, merge_tables
    upd = spark.createDataFrame([(4, rows[2][1])], schema)
    dst2.save_table("docs", merge_tables(
        [dst2.load_table("docs"), canonicalize_input(upd, ("doc_id",))]))
    st2 = dedup_substrings_incremental(dst2, "docs", "clean",
                                       text_col="body")
    assert st2["mode"] == "refresh"
    assert st2["delta_docs"] == 1
    assert st2["text_docs_scanned"] == 1    # only the arriving doc
    # the source warehouse is untouched by the destination's churn
    assert eng.table_hash("clean") == st0["table_hash"]


def test_xs_incremental_rebuilds_after_snapshot_gc(spark, tmp_path):
    """Twin of the dedup-near gc test: sweep the CAS-pinned prior
    snapshot (churn, then gc keep_versions=1) and the next
    ``dedup-substrings --incremental`` run must REBUILD gracefully —
    correct output, lifecycle resumes with a true noop."""
    from messdb_spark.queries.linkage import dedup_substrings_incremental

    shared = "THE-PLANTED-SHARED-RUN-IS-40-CHARS-LONG!"
    eng = Engine(spark, str(tmp_path / "wh"))
    schema = "doc_id bigint, body string"
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(
            [(1, "alpha<" + shared + ">omega-one"),
             (2, "begin_" + shared + "_finish-two"),
             (3, "nothing duplicated in this row at all, no sir")],
            schema), ("doc_id",)))
    st0 = dedup_substrings_incremental(eng, "docs", "clean",
                                       text_col="body")
    assert st0["mode"] == "build"
    old_snapshot = eng.table_hash("docs")

    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(
            [(1, "alpha<" + shared + ">omega-one"),
             (2, "begin_" + shared + "_finish-two"),
             (3, "nothing duplicated in this row at all, no sir"),
             (4, "nothing duplicated in this row at all, no sir")],
            schema), ("doc_id",)))
    eng.gc(keep_versions=1)
    assert not eng.objects.exists(old_snapshot)

    st1 = dedup_substrings_incremental(eng, "docs", "clean",
                                       text_col="body")
    assert st1["mode"] == "build"            # graceful rebuild
    assert st1["rows"] == 4
    st2 = dedup_substrings_incremental(eng, "docs", "clean",
                                       text_col="body")
    assert st2["mode"] == "noop"
    assert st2["table_hash"] == st1["table_hash"]
