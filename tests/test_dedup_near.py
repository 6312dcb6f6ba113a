"""dedup-near CLI verb: MinHash-LSH + transitive clustering over any
catalog (key, text) table, survivors = min key per cluster.

Determinism note: the tests cluster EXACT copies — identical text ⇒
identical signatures ⇒ identical band buckets, so the candidate step
is deterministic (near-but-not-identical recall is the probabilistic
part of the detector contract and is covered statistically by
``minhash_estimate_error``)."""

from __future__ import annotations

import json
import os

from messdb_spark.engine import Engine
from messdb_spark.operators.core import KeyedTable

#: the checkout these tests belong to: CLI subprocesses run from it
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


_A = ("the quick brown fox jumps over the lazy dog while the band "
      "plays on and the caravan rolls through the desert at dusk")
_B = ("completely different prose about parquet files and shuffle "
      "partitions that shares no eight-character shingle with A at all")


def test_cli_dedup_near_lifecycle(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    rows = [(1, _A, "s1"), (2, _A, "s2"), (3, _B, "s3"),
            (4, _A, "s4"), (5, "tiny but unique text here", "s5")]
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, "doc_id bigint, body string, src string"),
        ("doc_id",)))
    v0 = eng.catalog.current_version()

    from messdb_spark.cli import main
    args = ["-w", wh, "dedup-near", "-t", "docs", "--text-col", "body",
            "--out", "docs_dedup", "--clusters-table", "docs_clusters"]
    assert main(args) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["ok"] and st["detector"] == "minhash-lsh"
    assert st["rows_in"] == 5 and st["rows_out"] == 3
    assert st["dups_removed"] == 2 and st["clusters"] == 1

    eng2 = Engine(spark, wh)
    # output + clusters land in ONE root swap
    assert eng2.catalog.current_version() == v0 + 1

    out = {r["doc_id"]: r for r in
           eng2.load_table("docs_dedup").df.collect()}
    assert set(out) == {1, 3, 5}             # min-key survivor of {1,2,4}
    assert out[1]["body"] == _A and out[1]["src"] == "s1"

    cl = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in
          eng2.load_table("docs_clusters").df.collect()}
    assert cl == {1: (1, 3), 2: (1, 3), 4: (1, 3)}


def test_dedup_near_string_keys_use_changed_rows_witness(spark, tmp_path):
    """String keys: min-label propagation works on lexicographic order
    and convergence uses the changed-rows fallback (no label sum)."""
    from messdb_spark.queries.graph import dedup_near

    eng = Engine(spark, str(tmp_path / "wh"))
    rows = [("w-bravo", _A), ("w-alpha", _A), ("w-delta", _B),
            ("w-echo", _A)]
    eng.save_table("d", KeyedTable(
        spark.createDataFrame(rows, "k string, text string"), ("k",)))
    st = dedup_near(eng, "d", "d_dedup", clusters_table="d_cl")
    assert st["rows_out"] == 2 and st["clusters"] == 1
    got = sorted(r["k"] for r in eng.load_table("d_dedup").df.collect())
    assert got == ["w-alpha", "w-delta"]     # lexicographic min survives
    cl = {r["k"]: r["cluster_id"]
          for r in eng.load_table("d_cl").df.collect()}
    assert cl == {"w-alpha": "w-alpha", "w-bravo": "w-alpha",
                  "w-echo": "w-alpha"}


def test_dedup_near_rejects_bad_inputs(spark, tmp_path):
    from messdb_spark.queries.graph import dedup_near

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.save_table("two_key", KeyedTable(
        spark.createDataFrame([(1, 2, "x" * 20)],
                              "a bigint, b bigint, text string"),
        ("a", "b")))
    try:
        dedup_near(eng, "two_key", "out")
        raise AssertionError("expected ValueError for composite key")
    except ValueError:
        pass
    eng.save_table("no_text", KeyedTable(
        spark.createDataFrame([(1, "y")], "a bigint, body string"),
        ("a",)))
    try:
        dedup_near(eng, "no_text", "out")
        raise AssertionError("expected ValueError for missing text col")
    except ValueError:
        pass


def test_cli_dedup_near_in_process(warehouse, tmp_path, cli):
    """dedup-near end to end through ``cli.main``: DDL, JSON import,
    the verb and a SQL read-back, each call over a fresh Engine. Runs
    with ``--cc-algorithm largestar`` so the r12 flag is covered
    end-to-end too (the incremental subprocess test keeps the default
    minlabel path and the fresh-interpreter check)."""
    import json as _json

    def run(*args):
        return cli(warehouse, *args)

    run("sql", "-c", "CREATE TABLE d (k BIGINT PRIMARY KEY, txt VARCHAR)")
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(
        _json.dumps(r) for r in [
            {"k": 1, "txt": _A}, {"k": 2, "txt": _A},
            {"k": 3, "txt": _B}, {"k": 4, "txt": _A},
        ]) + "\n")
    run("import-json", "-t", "d", str(p))
    stats = _json.loads(run(
        "dedup-near", "-t", "d", "--text-col", "txt",
        "--out", "d_dedup", "--clusters-table", "d_cl",
        "--cc-algorithm", "largestar")
        .splitlines()[-1])
    assert stats["ok"] and stats["rows_out"] == 2
    assert stats["cc_algorithm"] == "largestar"
    assert stats["dups_removed"] == 2 and stats["clusters"] == 1
    rows = [_json.loads(ln) for ln in run(
        "sql", "-c", "SELECT k FROM d_dedup").splitlines()]
    assert sorted(r["k"] for r in rows) == [1, 3]


# -- r11: dedup-near --incremental (maintained signature state) --------


def test_dedup_near_incremental_lifecycle(spark, tmp_path, capsys):
    """build → noop → restore → refresh through the CLI flag: an
    unchanged table is a true no-op (no root swap); a tampered output
    restores from the maintained state with ZERO signing; after churn
    (edit + add + delete) the delta is DERIVED from the content diff,
    the signature view recomputes only the delta's buckets
    (counter-reported, in-body asserted), and the output is
    byte-identical — same CAS content hash — to a from-scratch
    ``dedup-near`` on the same table."""
    from messdb_spark.cli import main

    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    schema = "doc_id bigint, body string, src string"
    rows = [(1, _A, "s1"), (2, _A, "s2"), (3, _B, "s3"),
            (4, _A, "s4"), (5, "tiny but unique text here", "s5")]
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    args = ["-w", wh, "dedup-near", "-t", "docs", "--text-col", "body",
            "--out", "docs_dedup", "--clusters-table", "docs_clusters",
            "--incremental"]

    assert main(args) == 0
    st1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st1["ok"] and st1["mode"] == "build"
    assert st1["rows_in"] == 5 and st1["rows_out"] == 3
    assert st1["dups_removed"] == 2 and st1["clusters"] == 1
    assert sorted(r["doc_id"] for r in
                  Engine(spark, wh).load_table("docs_dedup").df
                  .collect()) == [1, 3, 5]

    # unchanged source → TRUE noop: no root swap, stats from meta
    v1 = Engine(spark, wh).catalog.current_version()
    assert main(args) == 0
    st2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st2["mode"] == "noop"
    assert st2["table_hash"] == st1["table_hash"]
    assert st2["rows_out"] == 3 and st2["clusters"] == 1
    assert Engine(spark, wh).catalog.current_version() == v1

    # tampered output → restore from maintained state, zero signing
    Engine(spark, wh).save_table("docs_dedup", KeyedTable(
        spark.createDataFrame([(99, "junk", "s9")], schema),
        ("doc_id",)))
    assert main(args) == 0
    st3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st3["mode"] == "restore"
    # r12: the CAS still holds the pinned outputs, so the repair is an
    # O(1) catalog relink — no re-cluster ran (no cc stats)
    assert st3["restore_path"] == "relink"
    assert "cc_rounds" not in st3
    assert st3["table_hash"] == st1["table_hash"]
    assert sorted(r["doc_id"] for r in
                  Engine(spark, wh).load_table("docs_dedup").df
                  .collect()) == [1, 3, 5]

    # churn: doc 5 rewritten (still unique), doc 6 added as a copy of
    # _B (a NEW cluster with 3), doc 4 deleted (shrinks cluster {1,2,4})
    rows2 = [(1, _A, "s1"), (2, _A, "s2"), (3, _B, "s3"),
             (5, "zzzz qqqq wwww eeee rrrr tttt yyyy uuuu iiii "
                 "oooo pppp fully disjoint prose", "s5"),
             (6, _B, "s6")]
    Engine(spark, wh).save_table("docs", KeyedTable(
        spark.createDataFrame(rows2, schema), ("doc_id",)))
    assert main(args) == 0
    st4 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st4["mode"] == "refresh"
    assert st4["delta_docs"] == 3            # derived, not user-supplied
    # the incrementality contract, surfaced: signature recompute is
    # bounded by the buckets the upsert+delete touched, which is a
    # strict subset of the bucket space
    assert st4["sig_buckets_recomputed"] <= st4["docs_buckets_touched"]
    assert st4["docs_buckets_touched"] < st4["n_buckets"]
    assert st4["rows_in"] == 5 and st4["rows_out"] == 3
    assert st4["dups_removed"] == 2 and st4["clusters"] == 2
    got = sorted(r["doc_id"] for r in
                 Engine(spark, wh).load_table("docs_dedup").df.collect())
    assert got == [1, 3, 5]

    # equivalence: a from-scratch dedup-near on the same table yields
    # the SAME content hash (CAS addresses are content-addressed)
    from messdb_spark.queries.graph import dedup_near
    st_full = dedup_near(Engine(spark, wh), "docs", "docs_dedup_full",
                         text_col="body",
                         clusters_table="docs_clusters_full")
    assert st_full["table_hash"] == st4["table_hash"]
    cl = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in
          Engine(spark, wh).load_table("docs_clusters").df.collect()}
    assert cl == {1: (1, 2), 2: (1, 2), 3: (3, 2), 6: (3, 2)}


def test_dedup_near_incremental_rebuilds_on_param_change(spark, tmp_path,
                                                        count_jobs):
    """A different --shingle-k is a different detector: the state must
    rebuild (the memo digests carry the FuncKey, so k=8 signatures can
    never leak into a k=12 run). The unchanged re-run after it is a
    no-op of zero Spark jobs."""
    from messdb_spark.queries.graph import dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.save_table("d", KeyedTable(
        spark.createDataFrame([(1, _A), (2, _A), (3, _B)],
                              "doc_id bigint, text string"),
        ("doc_id",)))
    st1 = dedup_near_incremental(eng, "d", "d_dedup")
    assert st1["mode"] == "build" and st1["rows_out"] == 2
    st2 = dedup_near_incremental(eng, "d", "d_dedup", shingle_k=12)
    assert st2["mode"] == "build"            # rebuilt, not reused
    with count_jobs() as jc:
        st3 = dedup_near_incremental(eng, "d", "d_dedup", shingle_k=12)
    assert st3["mode"] == "noop"
    # the no-op reads the catalog, the state manifests and the one-row
    # meta record on the driver: no Spark job at all
    assert jc.n == 0


def test_dedup_near_incremental_commit_is_atomic(spark, tmp_path):
    """State manifests, meta, deduped output and cluster table land in
    ONE catalog version — a reader never sees state ahead of output."""
    from messdb_spark.queries.graph import dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.save_table("d", KeyedTable(
        spark.createDataFrame([(1, _A), (2, _A), (3, _B)],
                              "doc_id bigint, text string"),
        ("doc_id",)))
    v0 = eng.catalog.current_version()
    dedup_near_incremental(eng, "d", "d_dedup", clusters_table="d_cl")
    assert eng.catalog.current_version() == v0 + 1
    names = set(eng.catalog.names())
    assert {"d_dedup", "d_cl", "d_dedup__mh_docs", "d_dedup__mh_sig",
            "d_dedup__mh_labels", "d_dedup__mh_meta"} <= names


def test_dedup_near_incremental_string_keys(spark, tmp_path):
    """String keys through the maintained path: NULL-signature rows
    (too short to sign) stay out of the edge set, the closure uses the
    changed-rows witness, lexicographic min survives."""
    from messdb_spark.queries.graph import dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    rows = [("w-bravo", _A), ("w-alpha", _A), ("w-delta", _B),
            ("w-echo", _A), ("w-zulu", "short")]
    eng.save_table("d", KeyedTable(
        spark.createDataFrame(rows, "k string, text string"), ("k",)))
    st = dedup_near_incremental(eng, "d", "d_dedup",
                                clusters_table="d_cl")
    assert st["mode"] == "build"
    assert st["rows_out"] == 3 and st["clusters"] == 1
    got = sorted(r["k"] for r in eng.load_table("d_dedup").df.collect())
    assert got == ["w-alpha", "w-delta", "w-zulu"]


def test_cli_dedup_near_incremental_subprocess(warehouse, tmp_path, cli):
    """--incremental through a REAL subprocess: build then noop across
    fresh interpreters (the state and meta live in the catalog, not
    the session). The suite's one fresh-JVM CLI smoke test: it also
    catches import and sys.path faults the in-process CLI tests cannot.
    The table is set up in process; only the two verb runs pay a JVM
    start each."""
    import json as _json
    import subprocess
    import sys

    def run(*args):
        out = subprocess.run(
            [sys.executable, "-m", "messdb_spark.cli", "-w", warehouse,
             *args],
            capture_output=True, text=True, cwd=_REPO)
        assert out.returncode == 0, out.stderr[-2000:]
        return out.stdout

    cli(warehouse, "sql", "-c",
        "CREATE TABLE d (k BIGINT PRIMARY KEY, txt VARCHAR)")
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(
        _json.dumps(r) for r in [
            {"k": 1, "txt": _A}, {"k": 2, "txt": _A},
            {"k": 3, "txt": _B}, {"k": 4, "txt": _A},
        ]) + "\n")
    cli(warehouse, "import-json", "-t", "d", str(p))
    verb = ("dedup-near", "-t", "d", "--text-col", "txt",
            "--out", "d_dedup", "--incremental")
    st1 = _json.loads(run(*verb).splitlines()[-1])
    assert st1["ok"] and st1["mode"] == "build" and st1["rows_out"] == 2
    st2 = _json.loads(run(*verb).splitlines()[-1])
    assert st2["mode"] == "noop" and st2["table_hash"] == st1["table_hash"]


def test_dedup_near_incremental_random_churn_model(spark, tmp_path):
    """Model check over a SEQUENCE of random churn steps (seeded): at
    every step the maintained path's deduped output and cluster table
    must content-hash-equal a from-scratch ``dedup-near`` on the same
    corpus — the lattice-style equivalence the merge model pins for
    O1, applied to the verb's maintained state. Each refresh must also
    derive exactly the step's delta and keep signature recompute
    bucket-bounded (the MemoStore contract under arbitrary churn, not
    just the single handcrafted edit of the lifecycle test)."""
    import random

    from messdb_spark.queries.graph import (dedup_near,
                                            dedup_near_incremental)

    rng = random.Random(1107)
    # text pool: 4 duplicate families + unique filler — enough overlap
    # that churn steps merge and split clusters
    fam = [f"family {i} shared prose body with plenty of shingles to "
           f"hash and cluster on reliably {i}" for i in range(4)]

    def fresh_text(k):
        return (f"unique doc {k} " + " ".join(
            f"tok{rng.randrange(10_000)}" for _ in range(12)))

    eng = Engine(spark, str(tmp_path / "wh"))
    docs = {i: rng.choice(fam) if rng.random() < 0.5 else fresh_text(i)
            for i in range(1, 13)}

    def save(tbl="docs"):
        eng.save_table(tbl, KeyedTable(
            spark.createDataFrame(sorted(docs.items()),
                                  "doc_id bigint, text string"),
            ("doc_id",)))

    save()
    st = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl")
    assert st["mode"] == "build"
    next_id = 13
    for step in range(3):
        # random churn: ~2 edits, ~2 adds, ~1 delete per step
        for _ in range(2):
            k = rng.choice(sorted(docs))
            docs[k] = rng.choice(fam) if rng.random() < 0.6 \
                else fresh_text(k * 100 + step)
        for _ in range(2):
            docs[next_id] = rng.choice(fam) if rng.random() < 0.6 \
                else fresh_text(next_id)
            next_id += 1
        del docs[rng.choice(sorted(docs))]
        save()
        st = dedup_near_incremental(eng, "docs", "dd",
                                    clusters_table="dd_cl")
        assert st["mode"] == "refresh", f"step {step}: {st['mode']}"
        # ≤5 churned keys (an edit that rewrites identical text still
        # counts in the diff only if content changed; delete always does)
        assert 1 <= st["delta_docs"] <= 5, (step, st["delta_docs"])
        assert st["sig_buckets_recomputed"] <= st["docs_buckets_touched"]
        # every churn step above deletes a key → components can split →
        # the closure must have re-clustered COLD (r12 warm-start gate)
        # — but still DELTA-LOCAL (r13: splits are confined to the
        # removed/edited docs' own components)
        assert st["cc_mode"] == "cold", f"step {step}: {st['cc_mode']}"
        assert st["cc_scope"] == "delta", f"step {step}: {st}"
        assert st["cc_input_docs"] <= st["rows_in"] + 5, st
        # r14 edge-level witness: closure edges never exceed the
        # affected buckets' pair bound
        assert st["cc_input_edges"] <= st["cc_edge_bound"], st
        # gold: from-scratch dedup-near on the same corpus — identical
        # CAS content hashes for BOTH outputs
        full = dedup_near(eng, "docs", "dd_full",
                          clusters_table="dd_cl_full")
        assert st["table_hash"] == full["table_hash"], f"step {step}"
        assert eng.table_hash("dd_cl") == eng.table_hash("dd_cl_full"), \
            f"step {step}: cluster tables diverge"
        assert (st["rows_in"], st["rows_out"], st["clusters"]) == \
            (full["rows_in"], full["rows_out"], full["clusters"])

    # r12: a final ADDS-ONLY step — the closure must WARM-START from
    # the persisted labels (provably fixpoint-preserving: new edges
    # only merge components), run DELTA-LOCAL (r13: affected
    # components only, untouched labels passed through), spend no more
    # rounds than the cold from-scratch run, and still
    # content-hash-match it exactly
    for _ in range(2):
        docs[next_id] = rng.choice(fam)
        next_id += 1
    docs[next_id] = fresh_text(next_id)
    next_id += 1
    save()
    st = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl")
    assert st["mode"] == "refresh" and st["delta_docs"] == 3
    assert st["cc_mode"] == "warm", st
    assert st["cc_scope"] == "delta", st
    # the closure ingested only the delta's neighborhood, and the
    # pass-through plus sub-closure nodes are disjoint by construction
    assert st["cc_input_docs"] < st["rows_in"], st
    assert st["cc_input_edges"] <= st["cc_edge_bound"], st
    assert st["labels_passthrough"] >= 0
    full = dedup_near(eng, "docs", "dd_full", clusters_table="dd_cl_full")
    assert st["cc_rounds"] <= full["cc_rounds"], \
        (st["cc_rounds"], full["cc_rounds"])
    assert st["table_hash"] == full["table_hash"]
    assert eng.table_hash("dd_cl") == eng.table_hash("dd_cl_full")


def test_dedup_near_delta_local_recluster_bound(spark, tmp_path,
                                                count_jobs):
    """r13 (VERDICT r12 next-round #1), deterministic bound: an
    adds-only refresh re-clusters ONLY the components the delta's
    buckets reach. Two planted far-apart duplicate families; adding a
    copy of family A must (a) run the closure over exactly family A's
    docs plus the new doc, (b) pass family B's labels through
    untouched, and (c) content-hash-match a from-scratch full
    re-cluster. A second step adds the FIRST duplicate of a
    previously-isolated doc — the frontier must pick the old doc up
    even though it has no prior label, and every existing label passes
    through."""
    from messdb_spark.queries.graph import dedup_near, dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    schema = "doc_id bigint, text string"
    u5 = ("fifth document standing entirely on its own with prose that "
          "collides with neither family at any shingle")
    rows = [(1, _A), (2, _A), (3, _B), (4, _B), (5, u5)]
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st0 = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl")
    assert st0["mode"] == "build" and st0["clusters"] == 2

    # step 1: one new copy of family A — affected = comp(A) only
    rows.append((6, _A))
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    with count_jobs() as jc:
        st1 = dedup_near_incremental(eng, "docs", "dd",
                                     clusters_table="dd_cl")
    assert st1["mode"] == "refresh" and st1["cc_scope"] == "delta"
    assert st1["cc_mode"] == "warm"
    # the neighbourhood closes on the driver: the whole refresh ran 46
    # or 47 jobs when measured (AQE varies the upsert's bucket-id
    # collect by one), 91 before the driver closure
    assert st1["cc_engine"] == "driver" and st1["cc_rounds"] == 0
    assert jc.n <= 48, jc.n
    assert st1["cc_affected_comps"] == 1          # family A's component
    assert st1["cc_input_docs"] == 3              # {1, 2} ∪ {new 6}
    assert 0 < st1["cc_input_edges"] <= st1["cc_edge_bound"]
    assert st1["labels_passthrough"] == 2         # family B: docs 3, 4
    assert st1["clusters"] == 2 and st1["rows_out"] == 3
    full = dedup_near(eng, "docs", "dd_f", clusters_table="dd_cl_f")
    assert st1["table_hash"] == full["table_hash"]
    assert eng.table_hash("dd_cl") == eng.table_hash("dd_cl_f")

    # step 2: first duplicate of the isolated doc 5 — no prior label,
    # so the FRONTIER (touched-bucket membership) must include it
    rows.append((7, u5))
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st2 = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl")
    assert st2["mode"] == "refresh" and st2["cc_scope"] == "delta"
    assert st2["cc_affected_comps"] == 0          # 5 was never labeled
    assert st2["cc_input_docs"] == 2              # {5, 7}
    assert st2["labels_passthrough"] == 5         # {1,2,6} ∪ {3,4}
    assert st2["clusters"] == 3 and st2["rows_out"] == 3
    full = dedup_near(eng, "docs", "dd_f", clusters_table="dd_cl_f")
    assert st2["table_hash"] == full["table_hash"]
    assert eng.table_hash("dd_cl") == eng.table_hash("dd_cl_f")

    # step 3: an all-unique add touches nothing — empty affected set,
    # every label passes through, output still exact
    rows.append((8, "entirely novel eighth document with wholly "
                    "disjoint prose tokens throughout"))
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st3 = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl")
    assert st3["mode"] == "refresh" and st3["cc_scope"] == "delta"
    assert st3["cc_affected_comps"] == 0
    assert st3["labels_passthrough"] == 7         # {1,2,6} ∪ {3,4} ∪ {5,7}
    assert st3["clusters"] == 3 and st3["rows_out"] == 4
    full = dedup_near(eng, "docs", "dd_f", clusters_table="dd_cl_f")
    assert st3["table_hash"] == full["table_hash"]
    assert eng.table_hash("dd_cl") == eng.table_hash("dd_cl_f")

    # step 4 (r13, general churn): DELETE a family-A member — only A's
    # component re-clusters (cold: deletes can split), B and {5,7}
    # pass through untouched
    rows = [r for r in rows if r[0] != 2]
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st4 = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl")
    assert st4["mode"] == "refresh" and st4["cc_scope"] == "delta"
    assert st4["cc_mode"] == "cold"
    assert st4["touched_buckets"] == 0            # no upserted signatures
    assert st4["cc_affected_comps"] == 1          # A's component only
    assert st4["cc_input_docs"] == 3              # {1, 2(ghost), 6}
    assert st4["cc_input_edges"] <= st4["cc_edge_bound"]
    assert st4["labels_passthrough"] == 4         # {3,4} ∪ {5,7}
    assert st4["clusters"] == 3 and st4["rows_out"] == 4
    full = dedup_near(eng, "docs", "dd_f", clusters_table="dd_cl_f")
    assert st4["table_hash"] == full["table_hash"]
    assert eng.table_hash("dd_cl") == eng.table_hash("dd_cl_f")

    # step 5 (r13): EDIT doc 4 from family B to family A — BOTH old
    # components are affected (B may split, A's buckets are touched by
    # the new signature); B's survivor 3 loses its last partner and
    # correctly drops out of the label frame; {5,7} pass through
    rows = [(r[0], _A) if r[0] == 4 else r for r in rows]
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st5 = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl")
    assert st5["mode"] == "refresh" and st5["cc_scope"] == "delta"
    assert st5["cc_mode"] == "cold"
    assert st5["cc_affected_comps"] == 2          # A's and B's
    assert st5["cc_input_docs"] == 4              # {1, 6, 3, 4}
    assert st5["labels_passthrough"] == 2         # {5, 7}
    assert st5["clusters"] == 2 and st5["rows_out"] == 4
    full = dedup_near(eng, "docs", "dd_f", clusters_table="dd_cl_f")
    assert st5["table_hash"] == full["table_hash"]
    assert eng.table_hash("dd_cl") == eng.table_hash("dd_cl_f")
    got = sorted(r["doc_id"] for r in eng.load_table("dd").df.collect())
    assert got == [1, 3, 5, 8]


def test_dedup_near_state_syncs_to_another_warehouse(spark, tmp_path):
    """The maintained-state composition across warehouses: sync the
    corpus + outputs + the three state tables (bucketed manifests —
    ``sync_table`` walks ``manifest_children``, so bucket objects ship
    too) into a SECOND warehouse; an unchanged source there is a true
    no-op, and churn resumes delta-proportional refresh against the
    synced state — the reference's push-a-trie-and-keep-working sync
    story (``Trie.hs:256-260``) applied to verb state."""
    from messdb_spark.queries.graph import dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "src"))
    schema = "doc_id bigint, text string"
    rows = [(1, _A), (2, _A), (3, _B), (4, _A)]
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st0 = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl")
    assert st0["mode"] == "build"

    dst = Engine(spark, str(tmp_path / "dst"))
    copied = 0
    for t in ("docs", "dd", "dd_cl",
              "dd__mh_docs", "dd__mh_sig", "dd__mh_labels", "dd__mh_meta"):
        r = eng.sync_table(t, dst)
        copied += r["copied"]
    assert copied > 0

    # destination sees the state as current: true no-op, zero rebuilds
    dst2 = Engine(spark, str(tmp_path / "dst"))
    st1 = dedup_near_incremental(dst2, "docs", "dd",
                                 clusters_table="dd_cl")
    assert st1["mode"] == "noop"
    assert st1["table_hash"] == st0["table_hash"]

    # churn IN THE DESTINATION: refresh resumes from the synced state
    # (the delta is derived against the synced CAS snapshot)
    rows2 = rows + [(5, _B)]
    dst2.save_table("docs", KeyedTable(
        spark.createDataFrame(rows2, schema), ("doc_id",)))
    st2 = dedup_near_incremental(dst2, "docs", "dd",
                                 clusters_table="dd_cl")
    assert st2["mode"] == "refresh"
    assert st2["delta_docs"] == 1
    # the labels table synced too and the delta is adds-only, so the
    # destination's first refresh warm-starts its closure (r12)
    assert st2["cc_mode"] == "warm"
    # the destination's memo was EMPTY (memo records are store-local;
    # sync ships objects + catalog, not provenance) — the refresh must
    # rehydrate it from the manifest pair instead of re-signing every
    # untouched bucket
    assert st2.get("memo_records_rehydrated", 0) > 0
    assert st2["sig_buckets_recomputed"] <= st2["docs_buckets_touched"]
    assert st2["rows_out"] == 2 and st2["clusters"] == 2
    # the source warehouse is untouched by the destination's churn
    assert eng.table_hash("dd") == st0["table_hash"]


def test_dedup_near_incremental_rebuilds_after_snapshot_gc(spark, tmp_path):
    """The documented graceful-degradation path, actually exercised:
    churn the source, then gc with keep_versions=1 so the CAS-pinned
    PRIOR snapshot (reachable only through pruned catalog history) is
    swept before the next verb run. The verb must detect the missing
    snapshot (`objects.exists(source_hash)`), REBUILD instead of
    diffing against a ghost, produce the correct output, and return to
    noop/refresh behavior afterwards — never a crash, never a stale
    answer."""
    from messdb_spark.queries.graph import dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    schema = "doc_id bigint, text string"
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame([(1, _A), (2, _A), (3, _B)], schema),
        ("doc_id",)))
    st0 = dedup_near_incremental(eng, "docs", "dd")
    assert st0["mode"] == "build"
    old_snapshot = eng.table_hash("docs")

    # churn WITHOUT running the verb: the state still pins old_snapshot
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame([(1, _A), (2, _A), (3, _B), (4, _B)],
                              schema), ("doc_id",)))
    assert eng.objects.exists(old_snapshot)
    swept = eng.gc(keep_versions=1)
    assert not eng.objects.exists(old_snapshot), (
        f"gc kept the history-only snapshot: {swept}")

    st1 = dedup_near_incremental(eng, "docs", "dd")
    assert st1["mode"] == "build"            # graceful rebuild, not diff
    assert st1["rows_in"] == 4 and st1["rows_out"] == 2
    assert st1["clusters"] == 2
    # and the lifecycle resumes: unchanged source is a noop again
    st2 = dedup_near_incremental(eng, "docs", "dd")
    assert st2["mode"] == "noop"
    assert st2["table_hash"] == st1["table_hash"]


def test_dedup_near_no_duplicates_is_identity(spark, tmp_path):
    """All-unique corpus: empty candidate graph, empty label frame
    through the closure loop, output == source, zero clusters."""
    from messdb_spark.queries.graph import dedup_near

    eng = Engine(spark, str(tmp_path / "wh"))
    rows = [(1, _A), (2, _B),
            (3, "third completely unrelated body of text right here")]
    eng.save_table("d", KeyedTable(
        spark.createDataFrame(rows, "doc_id bigint, text string"),
        ("doc_id",)))
    st = dedup_near(eng, "d", "d_dedup", clusters_table="d_cl")
    assert st["rows_in"] == 3 and st["rows_out"] == 3
    assert st["dups_removed"] == 0 and st["clusters"] == 0
    assert eng.load_table("d_cl").df.count() == 0


# -- r12: --cc-algorithm, warm-start safety, pin release ---------------


def test_dedup_near_largestar_matches_minlabel(spark, tmp_path):
    """Both closure algorithms through the full verb reach the
    identical fixpoint: content-hash-equal survivor and cluster
    tables. Bad algorithm names fail loud."""
    import pytest

    from messdb_spark.queries.graph import dedup_near

    eng = Engine(spark, str(tmp_path / "wh"))
    rows = [(1, _A), (2, _A), (3, _B), (4, _A), (5, _B)]
    eng.save_table("d", KeyedTable(
        spark.createDataFrame(rows, "doc_id bigint, text string"),
        ("doc_id",)))
    st_ml = dedup_near(eng, "d", "o_ml", clusters_table="c_ml")
    st_ls = dedup_near(eng, "d", "o_ls", clusters_table="c_ls",
                       cc_algorithm="largestar")
    assert st_ml["cc_algorithm"] == "minlabel"
    assert st_ls["cc_algorithm"] == "largestar"
    assert st_ls["table_hash"] == st_ml["table_hash"]
    assert eng.table_hash("c_ls") == eng.table_hash("c_ml")
    assert (st_ls["rows_out"], st_ls["clusters"]) == \
        (st_ml["rows_out"], st_ml["clusters"]) == (2, 2)
    with pytest.raises(ValueError, match="cc_algorithm"):
        dedup_near(eng, "d", "o_x", cc_algorithm="bogus")


def test_dedup_near_incremental_largestar_lifecycle(spark, tmp_path):
    """--cc-algorithm is detector state: build → noop under largestar;
    adds-only churn refreshes COLD (largestar has no label seed) but
    DELTA-LOCAL (r14: the affected-subgraph derivation is algorithm-
    agnostic, so largestar routes through the same sub-closure with
    untouched components passing through) and stays content-hash-equal
    to from-scratch; switching the algorithm REBUILDS the state
    exactly like a shingle_k change."""
    from messdb_spark.queries.graph import dedup_near, dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    schema = "doc_id bigint, text string"
    rows = [(1, _A), (2, _A), (3, _B)]
    eng.save_table("d", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st1 = dedup_near_incremental(eng, "d", "dd", clusters_table="dd_cl",
                                 cc_algorithm="largestar")
    assert st1["mode"] == "build" and st1["cc_algorithm"] == "largestar"
    st2 = dedup_near_incremental(eng, "d", "dd", clusters_table="dd_cl",
                                 cc_algorithm="largestar")
    assert st2["mode"] == "noop"

    eng.save_table("d", KeyedTable(
        spark.createDataFrame(rows + [(4, _B)], schema), ("doc_id",)))
    st3 = dedup_near_incremental(eng, "d", "dd", clusters_table="dd_cl",
                                 cc_algorithm="largestar")
    assert st3["mode"] == "refresh" and st3["delta_docs"] == 1
    assert st3["cc_mode"] == "cold"          # largestar never seeds
    # r14: cold but DELTA-SCOPED — the _B component re-clusters (doc 4
    # joins it), the untouched _A component passes through by anti-join
    assert st3["cc_scope"] == "delta"
    assert st3["labels_passthrough"] > 0
    assert st3["cc_input_edges"] <= st3["cc_edge_bound"]
    full = dedup_near(eng, "d", "dd_f", clusters_table="dd_cl_f",
                      cc_algorithm="largestar")
    assert st3["table_hash"] == full["table_hash"]
    assert eng.table_hash("dd_cl") == eng.table_hash("dd_cl_f")

    # algorithm switch = param change: rebuild, not reuse — and the
    # minlabel fixpoint is the same content hash
    st4 = dedup_near_incremental(eng, "d", "dd", clusters_table="dd_cl")
    assert st4["mode"] == "build" and st4["cc_algorithm"] == "minlabel"
    assert st4["table_hash"] == st3["table_hash"]


def test_dedup_near_tampered_labels_fall_back_cold(spark, tmp_path):
    """The warm seed is an input to a provably-correct shortcut, not
    advisory metadata: a labels table that no longer matches the hash
    pinned in meta must be IGNORED (cold start), because a corrupt
    seed could merge unrelated components. Output stays correct."""
    from messdb_spark.queries.graph import dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    schema = "doc_id bigint, text string"
    rows = [(1, _A), (2, _A), (3, _B)]
    eng.save_table("d", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st1 = dedup_near_incremental(eng, "d", "dd")
    assert st1["mode"] == "build"
    # tamper: point every doc at doc 3's "cluster" — a seed that would
    # wrongly merge the _A and _B families if trusted
    eng.save_table("dd__mh_labels", KeyedTable(
        spark.createDataFrame([(1, 3), (2, 3), (3, 3)],
                              "doc_id bigint, comp bigint"),
        ("doc_id",)))
    eng.save_table("d", KeyedTable(
        spark.createDataFrame(rows + [(4, _B)], schema), ("doc_id",)))
    st2 = dedup_near_incremental(eng, "d", "dd")
    assert st2["mode"] == "refresh"
    assert st2["cc_mode"] == "cold", "tampered labels must not seed"
    assert st2["rows_out"] == 2 and st2["clusters"] == 2


def test_dedup_near_releases_pins_on_cc_failure(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """VERDICT r11 what's-wrong #1: a closure that raises (the round
    ceiling, a failed save) must not strand the persisted
    signature/edge frames in executor storage — try/finally in both
    verb bodies and the largestar query (the Materializer
    try/finally pattern from r11)."""
    import pytest

    from messdb_spark.queries import graph as G

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.save_table("d", KeyedTable(
        spark.createDataFrame([(1, _A), (2, _A), (3, _B)],
                              "doc_id bigint, text string"),
        ("doc_id",)))
    sc = spark.sparkContext

    def boom(*a, **k):
        raise RuntimeError("simulated round-ceiling failure")

    before = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    monkeypatch.setattr(G, "cc_labels_from_edges", boom)
    with pytest.raises(RuntimeError, match="round-ceiling"):
        G.dedup_near(eng, "d", "o1")
    with pytest.raises(RuntimeError, match="round-ceiling"):
        G.dedup_near_incremental(eng, "d", "o2")
    monkeypatch.setattr(G, "cc_labels_large_small_star", boom)
    with pytest.raises(RuntimeError, match="round-ceiling"):
        G.cc_largestar_components(spark, sf_dir)
    after = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    assert after <= before, \
        f"failed closure leaked pinned blocks: {after - before}"


def test_edges_from_sig_null_rows_match_fresh_signing(spark):
    """VERDICT r11 stretch #8: the one maintained-vs-fresh asymmetry
    candidate. The fresh path FILTERS docs shorter than the shingle
    before signing; the maintained state keeps them as NULL-signature
    rows (key-complete view) and ``edges_from_sig`` excludes them at
    edge time. Property: over corpora dense in boundary-length docs
    (len ∈ 0..k+6, tiny alphabet → heavy shingle collisions), the two
    paths produce EXACTLY the same edge set."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from messdb_spark.queries.graph import (_mh_sig_transform_key,
                                            edges_from_sig,
                                            minhash_band_edges_for)
    from messdb_spark.registry import REGISTRY

    fkey = _mh_sig_transform_key(8)
    transform = REGISTRY.get_transform(fkey)

    @given(texts=st.lists(st.text(alphabet="ab", min_size=0, max_size=14),
                          min_size=2, max_size=8))
    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts, 1)],
            "doc_id bigint, text string")
        sig_f, edges_f = minhash_band_edges_for(df)
        try:
            fresh = {(r["src"], r["dst"]) for r in edges_f.collect()}
        finally:
            edges_f.unpersist()
            sig_f.unpersist()
        sig_m = (transform.fn(df.withColumn("__messdb_ord", F.lit(0)))
                 .drop("__messdb_ord"))
        maintained = {(r["src"], r["dst"])
                      for r in edges_from_sig(sig_m).collect()}
        assert fresh == maintained

    check()
    # deterministic boundary pin: lengths k-1 and k, duplicated — the
    # exact row classes the two paths treat differently
    for texts in ([("x" * 7), ("x" * 7), ("x" * 8), ("x" * 8), ""],
                  [("ab" * 4), ("ab" * 4), "abababa", "abababa"]):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts, 1)],
            "doc_id bigint, text string")
        sig_f, edges_f = minhash_band_edges_for(df)
        try:
            fresh = {(r["src"], r["dst"]) for r in edges_f.collect()}
        finally:
            edges_f.unpersist()
            sig_f.unpersist()
        from pyspark.sql import functions as F2
        sig_m = (transform.fn(df.withColumn("__messdb_ord", F2.lit(0)))
                 .drop("__messdb_ord"))
        maintained = {(r["src"], r["dst"])
                      for r in edges_from_sig(sig_m).collect()}
        assert fresh == maintained, texts


def test_dedup_near_restore_rederives_when_outputs_swept(spark, tmp_path):
    """r12 relink-restore fallback: tamper the output, then gc away the
    catalog history so the meta-pinned output object is swept. The verb
    must detect the missing object, fall back to RE-DERIVING from the
    maintained state (warm-seeded — the labels survived as a current
    entry), reproduce the identical content hash, and resume noop."""
    import pytest

    from messdb_spark.queries.graph import dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    schema = "doc_id bigint, text string"
    rows = [(1, _A), (2, _A), (3, _B), (4, _B)]
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st0 = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl")
    assert st0["mode"] == "build"

    # tamper the deduped output, then prune the history that was the
    # only reference to the original output object
    eng.save_table("dd", KeyedTable(
        spark.createDataFrame([(99, "junk")], schema), ("doc_id",)))
    eng.gc(keep_versions=1)
    assert not eng.objects.exists(st0["table_hash"])

    st1 = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl")
    assert st1["mode"] == "restore"
    assert st1["restore_path"] == "rederive"
    assert st1["cc_mode"] == "warm"          # labels entry survived
    # r13: an intact-labels re-derive routes through the delta-local
    # path with an EMPTY delta — all labels pass through, the closure
    # sees zero buckets and zero edges
    assert st1["cc_scope"] == "delta"
    assert st1["touched_buckets"] == 0 and st1["cc_edges"] == 0
    assert st1["cc_input_docs"] == 0
    assert st1["labels_passthrough"] > 0
    assert st1["table_hash"] == st0["table_hash"]
    assert sorted(r["doc_id"] for r in
                  eng.load_table("dd").df.collect()) == [1, 3]
    st2 = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl")
    assert st2["mode"] == "noop"

    # the relink primitive itself refuses absent objects
    with pytest.raises(KeyError):
        eng.relink_table("dd", "0" * 64, ("doc_id",))


def test_dedup_near_largestar_rederive_reports_cold(spark, tmp_path):
    """r14 review fix: the intact-labels rederive restore routes
    through the delta-local path for largestar too, but the largestar
    sub-closure can never seed — the verb must report cc_mode='cold'
    (it previously claimed 'warm' on this one path), while the restore
    still reproduces the identical content hash via passthrough."""
    from messdb_spark.queries.graph import dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    schema = "doc_id bigint, text string"
    rows = [(1, _A), (2, _A), (3, _B), (4, _B)]
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st0 = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl",
                                 cc_algorithm="largestar")
    assert st0["mode"] == "build"

    eng.save_table("dd", KeyedTable(
        spark.createDataFrame([(99, "junk")], schema), ("doc_id",)))
    eng.gc(keep_versions=1)
    assert not eng.objects.exists(st0["table_hash"])

    st1 = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl",
                                 cc_algorithm="largestar")
    assert st1["mode"] == "restore"
    assert st1["restore_path"] == "rederive"
    assert st1["cc_mode"] == "cold"          # largestar never seeds
    assert st1["cc_scope"] == "delta"
    assert st1["touched_buckets"] == 0 and st1["cc_edges"] == 0
    assert st1["labels_passthrough"] > 0
    assert st1["table_hash"] == st0["table_hash"]


def test_dedup_near_tampered_labels_repaired_via_relink(spark, tmp_path):
    """r12 review fix: a tampered labels table with INTACT outputs must
    not return noop and silently cost every future adds-only refresh
    its warm start — the run routes through the relink repair, after
    which warm-starting works again."""
    from messdb_spark.queries.graph import dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    schema = "doc_id bigint, text string"
    rows = [(1, _A), (2, _A), (3, _B)]
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st0 = dedup_near_incremental(eng, "docs", "dd")
    assert st0["mode"] == "build"
    # tamper ONLY the labels state
    eng.save_table("dd__mh_labels", KeyedTable(
        spark.createDataFrame([(1, 999)], "doc_id bigint, comp bigint"),
        ("doc_id",)))
    st1 = dedup_near_incremental(eng, "docs", "dd")
    assert st1["mode"] == "restore" and st1["restore_path"] == "relink"
    st2 = dedup_near_incremental(eng, "docs", "dd")
    assert st2["mode"] == "noop"
    # warm start works again after the repair
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows + [(4, _B)], schema), ("doc_id",)))
    st3 = dedup_near_incremental(eng, "docs", "dd")
    assert st3["mode"] == "refresh" and st3["cc_mode"] == "warm"


def test_dedup_near_relink_gc_race_falls_back_to_rederive(spark, tmp_path,
                                                          monkeypatch):
    """r12 review fix: a gc sweep BETWEEN the relink pre-check and the
    leased re-check (relink_table raising KeyError) must roll back and
    fall through to the re-derive restore, not escape the verb."""
    from messdb_spark.queries.graph import dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    schema = "doc_id bigint, text string"
    rows = [(1, _A), (2, _A), (3, _B)]
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, schema), ("doc_id",)))
    st0 = dedup_near_incremental(eng, "docs", "dd")
    assert st0["mode"] == "build"
    eng.save_table("dd", KeyedTable(          # tamper the output
        spark.createDataFrame([(9, "junk")], schema), ("doc_id",)))
    v0 = eng.catalog.current_version()

    def swept(name, table_hash, key_cols):
        raise KeyError(f"object {table_hash} not in store")
    monkeypatch.setattr(eng, "relink_table", swept)
    st1 = dedup_near_incremental(eng, "docs", "dd")
    assert st1["mode"] == "restore"
    assert st1["restore_path"] == "rederive"
    assert st1["table_hash"] == st0["table_hash"]
    # the aborted relink transaction left no version behind; the
    # re-derive committed exactly one root swap
    assert eng.catalog.current_version() == v0 + 1
    assert sorted(r["doc_id"] for r in
                  eng.load_table("dd").df.collect()) == [1, 3]


def test_dedup_near_incremental_over_bucketed_source(spark, tmp_path):
    """The END-TO-END delta-proportional loop including the USER
    table's own commit (r14): the verb consumes a source table stored
    as a BUCKETED catalog entry transparently (load_table reassembles
    it; table_hash is the manifest hash; the meta-pinned old snapshot
    reloads through the same manifest path), so a streaming ingest
    that maintains its corpus with incremental_upsert pays
    touched-buckets hashing per batch instead of a full-corpus
    content hash — the piece the r14 replay profile showed dominating
    the ingest leg. Asserts: the batch-2 upsert rewrites a strict
    subset of buckets; the verb refresh over the bucketed source
    derives the exact delta, stays delta-local, and content-hash-
    matches a from-scratch rebuild of the final corpus."""
    from pyspark.sql import functions as F

    from messdb_spark.plans.incremental import (incremental_upsert,
                                                write_bucketed)
    from messdb_spark.queries.graph import dedup_near, dedup_near_incremental

    eng = Engine(spark, str(tmp_path / "wh"))
    schema = "doc_id bigint, text string"
    batch1 = [(i, _A) if i % 3 == 0 else
              (i, _B) if i % 3 == 1 else
              (i, f"unique prose number {i} with enough length to sign "
                  f"and a distinct tail segment {i * 37}")
              for i in range(1, 25)]
    ref = write_bucketed(eng.objects, KeyedTable(
        spark.createDataFrame(batch1, schema), ("doc_id",)), n_buckets=8)
    with eng.transaction():
        eng.save_bucketed_table("docs", ref)
        st1 = dedup_near_incremental(eng, "docs", "dd",
                                     clusters_table="dd_cl")
    assert st1["mode"] == "build" and st1["rows_in"] == 24

    # batch 2: two new docs joining family A — the corpus commit must
    # touch only their buckets, and the verb must refresh, not rebuild
    delta = spark.createDataFrame([(100, _A), (101, _A)], schema)
    ref2 = incremental_upsert(spark, eng.objects, ref, delta)
    touched = sum(1 for a, b in zip(ref.bucket_hashes, ref2.bucket_hashes)
                  if a != b)
    assert 0 < touched <= 2, \
        f"2-key ingest rewrote {touched}/8 buckets — corpus commit " \
        f"is not delta-proportional"
    with eng.transaction():
        eng.save_bucketed_table("docs", ref2)
        st2 = dedup_near_incremental(eng, "docs", "dd",
                                     clusters_table="dd_cl")
    assert st2["mode"] == "refresh", st2
    assert st2["delta_docs"] == 2, st2
    assert st2["cc_mode"] == "warm" and st2["cc_scope"] == "delta", st2
    assert st2["labels_passthrough"] > 0
    assert st2["cc_input_edges"] <= st2["cc_edge_bound"]
    assert st2["rows_in"] == 26

    # unchanged bucketed source → true no-op
    st3 = dedup_near_incremental(eng, "docs", "dd", clusters_table="dd_cl")
    assert st3["mode"] == "noop"

    # gold: from-scratch over the same bucketed source
    full = dedup_near(eng, "docs", "dd_f", clusters_table="dd_cl_f")
    assert st2["table_hash"] == full["table_hash"]
    assert eng.table_hash("dd_cl") == eng.table_hash("dd_cl_f")
    # survivors readable through the transparent bucketed load path
    assert (eng.load_table("dd").df.filter(F.col("doc_id") == 100)
            .count() in (0, 1))


def test_dedup_near_incremental_state_shaped_source_is_docs_snapshot(
        spark, tmp_path, monkeypatch):
    """A 16-bucket (doc_id, text) source IS the maintained docs
    snapshot: build and refresh register the source's own manifest as
    ``__mh_docs``, and the refresh runs no ``incremental_upsert``.
    Differential check: a copy of the warehouse taken after the build
    gets the same churn (edit + delete + add) as a plain-table source,
    which takes the upsert path; both refreshes give identical docs,
    output, cluster and label hashes, equal to a from-scratch
    ``dedup_near`` of the final corpus."""
    import shutil

    import messdb_spark.plans.incremental as inc
    from messdb_spark.queries.graph import (dedup_near,
                                            dedup_near_incremental)

    schema = "doc_id bigint, text string"
    docs = {i: (_A if i % 4 == 0 else _B if i % 4 == 1 else
                f"unique prose number {i} long enough to sign, with a "
                f"distinct tail {i * 37}")
            for i in range(1, 21)}
    ups = {5: _A, 100: _B}                  # 5 edited into family A
    dels = [4]
    final = {k: v for k, v in {**docs, **ups}.items() if k not in dels}

    def frame(rows):
        return spark.createDataFrame(sorted(rows.items()), schema)

    def run(eng):
        return dedup_near_incremental(eng, "src", "dd",
                                      clusters_table="dd_cl")

    wb, wp = str(tmp_path / "wb"), str(tmp_path / "wp")
    eb = Engine(spark, wb)
    ref = inc.write_bucketed(eb.objects, KeyedTable(frame(docs),
                                                    ("doc_id",)),
                             n_buckets=16)
    eb.save_bucketed_table("src", ref)
    assert run(eb)["mode"] == "build"
    assert eb.table_hash("dd__mh_docs") == ref.table_hash
    shutil.copytree(wb, wp)

    # the state-shaped source: its own upsert, then the verb's refresh
    ref2 = inc.incremental_upsert(
        spark, eb.objects, ref, frame(ups),
        deletes=spark.createDataFrame([(k,) for k in dels],
                                      "doc_id bigint"))
    eb.save_bucketed_table("src", ref2)

    def no_upsert(*a, **k):
        raise AssertionError("snapshot re-derived by incremental_upsert")

    with monkeypatch.context() as m:
        m.setattr(inc, "incremental_upsert", no_upsert)
        stb = run(eb)
    assert stb["mode"] == "refresh" and stb["delta_docs"] == 3, stb
    assert eb.table_hash("dd__mh_docs") == ref2.table_hash
    meta = eb.table_hash("dd__mh_meta")
    assert eb.objects.load_record(meta) == \
        eb.load_table("dd__mh_meta").df.collect()[0].asDict()

    # the same churn as a plain table, from the same state: upsert path
    ep = Engine(spark, wp)
    ep.save_table("src", KeyedTable(frame(final), ("doc_id",)))
    calls = []

    def counted(*a, **k):            # proves the patch reaches the verb
        calls.append(1)
        return real_upsert(*a, **k)

    real_upsert = inc.incremental_upsert
    with monkeypatch.context() as m:
        m.setattr(inc, "incremental_upsert", counted)
        stp = run(ep)
    assert calls == [1]
    assert stp["mode"] == "refresh" and stp["delta_docs"] == 3, stp
    for name in ("dd__mh_docs", "dd", "dd_cl", "dd__mh_labels"):
        assert ep.table_hash(name) == eb.table_hash(name), name

    # gold: from scratch over the final corpus in a fresh warehouse
    eg = Engine(spark, str(tmp_path / "wg"))
    eg.save_table("src", KeyedTable(frame(final), ("doc_id",)))
    full = dedup_near(eg, "src", "dd", clusters_table="dd_cl")
    assert full["table_hash"] == stb["table_hash"] == stp["table_hash"]
    assert eg.table_hash("dd_cl") == eb.table_hash("dd_cl")
    assert (stb["rows_in"], stb["rows_out"], stb["clusters"]) == \
        (full["rows_in"], full["rows_out"], full["clusters"])


def test_load_record_reads_one_row_objects_only(spark, tmp_path):
    """``ObjectStore.load_record`` returns a one-row object's exact
    values (NULL included) and refuses a 2-row object."""
    import pytest
    from pyspark.sql import types as T

    from messdb_spark.store import local_frame

    eng = Engine(spark, str(tmp_path / "wh"))
    ddl = ("source_hash string, shingle_k bigint, text_col string, "
           "clusters_out_hash string, rows_in bigint")
    row = ("abc123", 8, "text", None, 2 ** 40 + 3)
    h = eng.save_table("meta", KeyedTable(
        local_frame(spark, [row], T.StructType.fromDDL(ddl)),
        ("source_hash",)))
    rec = eng.objects.load_record(h)
    assert rec == dict(zip(("source_hash", "shingle_k", "text_col",
                            "clusters_out_hash", "rows_in"), row))
    h2 = eng.save_table("two", KeyedTable(
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"),
        ("k",)))
    with pytest.raises(ValueError, match="2 rows"):
        eng.objects.load_record(h2)
