"""Differential test of the delta-local re-cluster: the driver closure
(the default for delta-sized neighbourhoods) against the Spark closure
(forced by a ceiling of 0), both through ``delta_local_labels`` on
small in-memory frames — two implementations of one operator must
agree on the labels' content hash, every counter, and the label stats,
and both must equal a full closure of the new signatures.
Also pins that an Arrow-built local frame (the meta rows) has the same
content hash as a list-built one and collects without a job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from messdb_spark.hashing import table_content_hash
from messdb_spark.queries import graph as G
from messdb_spark.registry import REGISTRY
from messdb_spark.store import local_frame

def _text(tag: str) -> str:
    """Prose no other tag's text shares an 8-char shingle with: every
    shingle window spans a token carrying the tag."""
    return " ".join(f"{tag}t{j}" for j in range(14))


_FAM = [_text(f"f{i}") for i in range(3)]


def _unique(k) -> str:
    return _text(f"u{k}")


def _sig(spark, docs: dict, key_type: str):
    """Maintained-state signature frame of ``docs`` (key → text)."""
    fn = REGISTRY.get_transform(G._mh_sig_transform_key(8)).fn
    df = local_frame(spark, sorted(docs.items()), T.StructType.fromDDL(
        f"doc_id {key_type}, text string"))
    return fn(df.withColumn("__messdb_ord", F.lit(0))).drop("__messdb_ord")


def _keys(spark, keys, key_type):
    return local_frame(spark, [(k,) for k in sorted(keys)],
                       T.StructType.fromDDL(f"doc_id {key_type}"))


def _run(spark, old, new, prior_rows, key_type):
    """Run both engines over one delta and assert they agree with each
    other and with a full closure; returns the labels and the
    counters."""
    added = new.keys() - old.keys()
    removed = old.keys() - new.keys()
    edited = {k for k in old.keys() & new.keys() if old[k] != new[k]}
    lab_schema = f"doc_id {key_type}, comp {key_type}"
    prior = local_frame(spark, sorted(prior_rows),
                        T.StructType.fromDDL(lab_schema))
    sig = _sig(spark, new, key_type).persist()
    adds_only = not (removed or edited)
    prior_counts = G._label_stats(prior)
    results = {}
    pinned: list = [sig]
    for engine in ("driver", "spark"):
        stats: dict = {}
        local: dict = {}
        with pytest.MonkeyPatch.context() as mp:
            if engine == "spark":
                mp.setattr(G, "_DELTA_DRIVER_MAX", 0)
            labels = G.delta_local_labels(
                sig, _keys(spark, added | edited, key_type), prior,
                len(added | edited), prior_counts,
                numeric_key=key_type == "bigint",
                stats=stats,
                extra_affected=(None if adds_only else
                                _keys(spark, removed | edited, key_type)),
                warm=adds_only, pinned=pinned, local_out=local)
            rows = {(r["doc_id"], r["comp"]) for r in labels.collect()}
            assert stats.pop("cc_engine") == engine
            counts = ((local["dups"], local["clusters"]) if local
                      else G._label_stats(labels))
            results[engine] = (table_content_hash(labels), stats, counts,
                               rows, local.get("changed"))
    edges = G.edges_from_sig(sig).persist()
    pinned.append(edges)
    full = {(r["doc_id"], r["comp"]) for r in G.cc_labels_from_edges(
        edges, numeric_key=key_type == "bigint").collect()}
    for f in pinned:
        f.unpersist()
    d_hash, d_stats, d_counts, d_rows, changed = results["driver"]
    s_hash, s_stats, s_counts, s_rows, _ = results["spark"]
    assert d_rows == s_rows == full
    assert d_hash == s_hash
    assert d_stats == s_stats
    assert d_counts == s_counts == (
        sum(d != c for d, c in s_rows), len({c for _, c in s_rows}))
    # the changed keys are the delta plus exactly the drop-status flips
    was = {d for d, c in prior_rows if d != c}
    now = {d for d, c in s_rows if d != c}
    assert changed == added | removed | edited | (was ^ now)
    return d_rows, d_stats


def test_driver_and_spark_closures_agree(spark):
    old = {1: _FAM[0], 2: _FAM[0], 3: _FAM[1], 4: _FAM[1], 5: _unique(5),
           6: _unique(6), 7: _FAM[0], 8: _FAM[2], 9: _FAM[2]}
    prior = {(1, 1), (2, 1), (7, 1), (3, 3), (4, 3), (8, 8), (9, 8)}

    # adds-only (warm): joins family 1, pairs the isolated doc 5
    new = {**old, 10: _FAM[1], 11: _unique(5), 12: _unique(12)}
    rows, st = _run(spark, old, new, prior, "bigint")
    assert rows == prior | {(10, 3), (5, 5), (11, 5)}
    assert st["cc_affected_comps"] == 1 and st["labels_passthrough"] == 5

    # empty-delta restore: every label passes through
    rows, st = _run(spark, old, old, prior, "bigint")
    assert rows == prior
    assert st["cc_input_docs"] == 0 and st["labels_passthrough"] == 7

    # edit two component minima to text too short to sign: they have
    # no bands, so only their removed/edited seeds re-cluster their old
    # components — docs 2 and 7 still pair up under a new minimum, and
    # doc 9 is left a singleton and leaves the labels
    new = {**old, 1: "short", 8: "short"}
    rows, st = _run(spark, old, new, prior, "bigint")
    assert rows == {(2, 2), (7, 2), (3, 3), (4, 3)}
    assert st["cc_affected_comps"] == 2 and st["cc_input_docs"] == 5
    assert st["cc_edges"] == 2 and st["frontier_docs"] == 0


def test_driver_and_spark_closures_agree_string_keys_churn(spark):
    """Edit + delete + add (cold) over string keys: family 0 loses its
    minimum, k-delta moves from family 1 to family 2, which loses
    k-hotel; k-echo is left alone and drops out of the labels."""
    old = {"k-alpha": _FAM[0], "k-bravo": _FAM[0], "k-delta": _FAM[1],
           "k-echo": _FAM[1], "k-golf": _FAM[2], "k-hotel": _FAM[2],
           "k-zulu": "short"}
    prior = {("k-alpha", "k-alpha"), ("k-bravo", "k-alpha"),
             ("k-delta", "k-delta"), ("k-echo", "k-delta"),
             ("k-golf", "k-golf"), ("k-hotel", "k-golf")}
    new = {k: v for k, v in old.items() if k not in ("k-alpha", "k-hotel")}
    new.update({"k-delta": _FAM[2], "k-foxtrot": _FAM[0]})
    rows, st = _run(spark, old, new, prior, "string")
    assert rows == {("k-bravo", "k-bravo"), ("k-foxtrot", "k-bravo"),
                    ("k-delta", "k-delta"), ("k-golf", "k-delta")}
    assert st["cc_affected_comps"] == 3 and st["labels_passthrough"] == 0


def test_arrow_meta_frame_matches_list_built(spark, count_jobs):
    ddl = ("source_hash string, shingle_k bigint, text_col string, "
           "out_hash string, clusters_out_hash string, rows_in bigint")
    row = ("abc123", 8, "text", "def456", None, 5)
    listed = spark.createDataFrame([row], ddl)
    arrow = local_frame(spark, [row], listed.schema)
    assert arrow.schema == listed.schema
    assert table_content_hash(arrow) == table_content_hash(listed)
    expected = listed.collect()
    with count_jobs() as jc:
        assert arrow.collect() == expected
    assert jc.n == 0
