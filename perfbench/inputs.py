"""Seeded input generators for the benchmark workloads.

Every input is derived from ``(seed, purpose, operation index)`` through
NumPy's PCG64 generator, so one seed always yields the same rows. Inputs
are handed to the engine as parquet files written with pyarrow: the
client side costs no Spark job, and the file size is the "bytes of the
submitted rows, encoded once as parquet" that ``store_bytes_per_input_byte``
divides by.

Two shapes:

* a lineitem-like keyed table ``(l_orderkey, l_linenumber)`` with three
  integer value columns — integers keep every aggregate exact, so the
  maintained aggregation view can be compared with a from-scratch one
  by content hash;
* a documents corpus ``(doc_id, text)`` of pseudo-word documents with
  planted near-duplicate families, so both dedup verbs find real work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_SCHEMA = ("l_orderkey bigint, l_linenumber int, l_partkey bigint, "
                   "l_quantity bigint, l_extendedprice bigint")
LINEITEM_KEYS = ("l_orderkey", "l_linenumber")
DOCS_SCHEMA = "doc_id bigint, text string"
LINES_PER_ORDER = 4

# purposes, so two generators never share a stream for one seed
_BASE, _LOAD, _DELTA, _CORPUS, _CHURN, _LOOKUP = range(6)

#: delta sizes of ``delta_refresh``, one per operation in turn: one key
#: (plus :data:`DELTA_DELETES` deleted keys) touches a few buckets of 64,
#: where the bucket writer folds the digest into its write job; 512 keys
#: touch every bucket, where the writer re-reads what it staged
DELTA_SIZES = (1, 512)
#: keys the first delta of each cycle deletes
DELTA_DELETES = 2


def _vocabulary(n_words: int = 4000) -> list[str]:
    """Pseudo-words of 3 to 9 letters, the same for every seed. A wide
    vocabulary keeps unrelated documents from sharing character
    shingles, so near-duplicate clusters stay small, as in real
    corpora; a few dozen common words would join almost every document
    into one cluster."""
    r = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(r.choice(letters, size=int(r.integers(3, 10))))
            for _ in range(n_words)]


_VOCAB = _vocabulary()


def _rng(seed: int, purpose: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, purpose, index])


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` as one parquet file; return its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _key_arrays(row_ids: np.ndarray) -> dict:
    return {"l_orderkey": row_ids // LINES_PER_ORDER + 1,
            "l_linenumber": (row_ids % LINES_PER_ORDER + 1).astype(np.int32)}


def lineitem(seed: int, n_rows: int) -> pa.Table:
    """The base lineitem-like table: row ids ``0..n_rows-1``."""
    r = _rng(seed, _BASE)
    ids = np.arange(n_rows, dtype=np.int64)
    return pa.table({**_key_arrays(ids),
                     "l_partkey": r.integers(1, 20_001, n_rows),
                     "l_quantity": r.integers(1, 51, n_rows),
                     "l_extendedprice": r.integers(90_000, 10_500_000,
                                                   n_rows)})


def perturbed_lineitem(base: pa.Table, seed: int, op: int) -> pa.Table:
    """A copy of ``base`` whose quantities are redrawn for operation
    ``op``: same keys and size, new content, so no bucket or table of
    one load deduplicates against another."""
    r = _rng(seed, _LOAD, op)
    return base.set_column(base.schema.get_field_index("l_quantity"),
                           "l_quantity",
                           pa.array(r.integers(1, 51, base.num_rows)))


class DeltaStream:
    """The upsert/delete batches of ``delta_refresh``, with a NumPy model
    of the table they are applied to. Keys are row ids: updates hit live
    rows, inserts take ids above every id used so far, and deletes
    remove live rows. The model gives the expected aggregation view
    and point-lookup results after every batch."""

    def __init__(self, seed: int, base: pa.Table) -> None:
        self.seed = seed
        self.next_id = base.num_rows
        self.vals = {c: base.column(c).to_numpy().copy()
                     for c in ("l_partkey", "l_quantity", "l_extendedprice")}
        self.live = np.ones(base.num_rows, dtype=bool)

    def batch(self, op: int):
        """Apply operation ``op``'s batch to the model and return
        ``(upserts, deletes, size)``: ``upserts`` a lineitem-shaped
        table, ``deletes`` a key table or None, ``size`` the keys named.
        The size cycles through :data:`DELTA_SIZES`; the first size of
        each cycle also deletes keys, so every cycle has the same shape."""
        r = _rng(self.seed, _DELTA, op)
        size = int(DELTA_SIZES[op % len(DELTA_SIZES)])
        n_new = size // 4
        live = np.flatnonzero(self.live)
        old = r.choice(live, size=size - n_new, replace=False)
        new = np.arange(self.next_id, self.next_id + n_new, dtype=np.int64)
        self.next_id += n_new
        ids = np.concatenate([old, new]).astype(np.int64)
        drawn = {"l_partkey": r.integers(1, 20_001, len(ids)),
                 "l_quantity": r.integers(1, 51, len(ids)),
                 "l_extendedprice": r.integers(90_000, 10_500_000, len(ids))}
        grow = self.next_id - len(self.live)
        if grow:
            self.live = np.concatenate([self.live, np.zeros(grow, bool)])
            for c in self.vals:
                self.vals[c] = np.concatenate(
                    [self.vals[c], np.zeros(grow, np.int64)])
        for c, v in drawn.items():
            self.vals[c][ids] = v
        self.live[ids] = True
        deletes = None
        if op % len(DELTA_SIZES) == 0:
            gone = r.choice(np.setdiff1d(live, old), size=DELTA_DELETES,
                            replace=False)
            self.live[gone] = False
            deletes = pa.table(_key_arrays(np.sort(gone)))
        upserts = pa.table({**_key_arrays(ids), **drawn})
        return upserts, deletes, len(ids) + (0 if deletes is None
                                             else deletes.num_rows)

    def table(self) -> pa.Table:
        """The model's live rows."""
        ids = np.flatnonzero(self.live).astype(np.int64)
        return pa.table({**_key_arrays(ids),
                         **{c: v[ids] for c, v in self.vals.items()}})

    def lookups(self, op: int, k: int) -> list[int]:
        """``k`` live row ids to read back after operation ``op``."""
        return [int(x) for x in _rng(self.seed, _LOOKUP, op).choice(
            np.flatnonzero(self.live), size=k, replace=False)]

    def row(self, row_id: int) -> tuple:
        """The model's row for ``row_id``, in lineitem column order."""
        k = _key_arrays(np.array([row_id], dtype=np.int64))
        return (int(k["l_orderkey"][0]), int(k["l_linenumber"][0]),
                *(int(self.vals[c][row_id]) for c in
                  ("l_partkey", "l_quantity", "l_extendedprice")))

    def expected_view(self) -> dict:
        """``l_linenumber`` → (sum quantity, row count, max price, sum
        price) over the live rows."""
        ids = np.flatnonzero(self.live)
        ln = ids % LINES_PER_ORDER + 1
        out = {}
        for line in np.unique(ln):
            sel = ids[ln == line]
            out[int(line)] = (int(self.vals["l_quantity"][sel].sum()),
                              len(sel),
                              int(self.vals["l_extendedprice"][sel].max()),
                              int(self.vals["l_extendedprice"][sel].sum()))
        return out


def _text(r: np.random.Generator, n_words: int) -> str:
    return " ".join(_VOCAB[i] for i in r.integers(0, len(_VOCAB), n_words))


def _near_copy(r: np.random.Generator, text: str) -> str:
    words = text.split()
    for _ in range(int(r.integers(0, 3))):
        words[int(r.integers(0, len(words)))] = _VOCAB[
            int(r.integers(0, len(_VOCAB)))]
    return " ".join(words)


class Corpus:
    """The documents corpus of ``dedup_maintain`` and its churn batches,
    kept as a Python model (doc id → text) so the final corpus can be
    rebuilt from scratch for the correctness check."""

    #: words per family text and per document a churn batch writes; a
    #: fixed length keeps the bytes a batch submits the same from batch
    #: to batch
    WORDS = 60

    def __init__(self, seed: int, n_docs: int, n_families: int = 40) -> None:
        self.seed = seed
        r = _rng(seed, _CORPUS)
        self.families = [_text(r, self.WORDS) for _ in range(n_families)]
        self.docs = {i: self._draw(r, int(r.integers(10, 80)))
                     for i in range(n_docs)}
        self.next_id = n_docs

    def _draw(self, r: np.random.Generator, n_words: int) -> str:
        """A near-copy of a family text (30%) or ``n_words`` fresh words."""
        if r.random() < 0.3:
            fam = self.families[int(r.integers(0, len(self.families)))]
            return _near_copy(r, fam)
        return _text(r, n_words)

    def table(self) -> pa.Table:
        ids = sorted(self.docs)
        return pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": [self.docs[i] for i in ids]})

    def churn(self, op: int, adds: int = 6, edits: int = 6, deletes: int = 3):
        """Apply one churn batch to the model; return ``(upserts,
        deletes, size)`` as for :meth:`DeltaStream.batch`."""
        r = _rng(self.seed, _CHURN, op)
        live = sorted(self.docs)
        picked = r.choice(len(live), size=edits + deletes, replace=False)
        edit_ids = [live[i] for i in picked[:edits]]
        del_ids = [live[i] for i in picked[edits:]]
        rows = {i: self._draw(r, self.WORDS) for i in edit_ids}
        for _ in range(adds):
            rows[self.next_id] = self._draw(r, self.WORDS)
            self.next_id += 1
        self.docs.update(rows)
        for i in del_ids:
            del self.docs[i]
        ids = sorted(rows)
        upserts = pa.table({"doc_id": pa.array(ids, pa.int64()),
                            "text": [rows[i] for i in ids]})
        gone = pa.table({"doc_id": pa.array(sorted(del_ids), pa.int64())})
        return upserts, gone, len(ids) + len(del_ids)
