"""Sqlite-backed manifest backends — S3 SqliteStore parity
(``/root/reference/messdb-store-sqlite/src/MessDB/Store/Sqlite.hs:41-103``,
``.../src/c-bits/sqlite_store.cpp:46-98``): one sqlite file serving as
MemoStore + RepoStore, exactly the role the reference's tool wires up
(``messdb-tool/src/messdb-tool.hs:154-161``).

Parquet objects stay in the filesystem CAS (ObjectStore) — at 100 TB
bulk data lives on object storage regardless of which transactional KV
holds the (tiny) manifests; sqlite replaces the JSON files when many
processes share a warehouse and atomic-rename isn't enough.

Pragma parity with the reference (``sqlite_store.cpp:46-50``): WAL
journal, ``synchronous=OFF`` — durability deliberately traded for
speed, matching the reference byte-for-byte in spirit.

Schema parity: the reference creates ``store``, ``memo_store`` and
``repo_root`` tables keyed by blob key (``sqlite_store.cpp:84-98``);
here ``memo_store(key → value)`` and ``repo_root(version → root_json)``
(versioned for the catalog's time travel; the reference keeps only the
latest root — history is our extension, free because objects are
immutable).
"""

from __future__ import annotations

import json
import os
import sqlite3

from .store import Catalog, CatalogEntry


def _connect(path: str) -> sqlite3.Connection:
    import time

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    # generous busy timeout: on a heavily loaded box a writer can hold
    # the WAL write lock past the 5 s library default, and the root-
    # swap retry loop must see IntegrityError (version conflict), not
    # a spurious 'database is locked' OperationalError
    con = sqlite3.connect(path, timeout=60.0)
    # the delete→WAL journal-mode switch needs a brief exclusive lock
    # and is one of the transitions sqlite's busy handler does NOT
    # retry for us: two processes opening a fresh warehouse at once
    # can race it into an immediate 'database is locked'. Bounded
    # backoff — after the first successful switch WAL is persistent in
    # the db file and later connects hit the fast path.
    last: sqlite3.OperationalError | None = None
    for attempt in range(100):
        try:
            con.execute("PRAGMA journal_mode=WAL")
            con.execute("PRAGMA synchronous=OFF")
            con.execute("""CREATE TABLE IF NOT EXISTS memo_store (
                key TEXT PRIMARY KEY, value TEXT NOT NULL)""")
            con.execute("""CREATE TABLE IF NOT EXISTS repo_root (
                version INTEGER PRIMARY KEY, root TEXT NOT NULL)""")
            con.commit()
            return con
        except sqlite3.OperationalError as e:
            if "locked" not in str(e) and "busy" not in str(e):
                raise
            last = e
            try:
                con.rollback()
            except sqlite3.Error:
                pass
            time.sleep(min(0.05 * (attempt + 1), 0.5))
    raise last


class SqliteMemoStore:
    """MemoStore over sqlite: op-digest → table-hash.

    ``put`` is INSERT OR REPLACE, matching the JSON ``MemoStore``: the
    memo is advisory (the materializer only re-puts after discovering
    the recorded target object is missing — ``plans/views.py`` —  so
    the value being replaced is already known-dead; OR IGNORE would
    keep the dead hash forever and force a recompute on every call)."""

    def __init__(self, warehouse: str, filename: str = "manifest.sqlite") -> None:
        self.db_path = os.path.join(warehouse, filename)
        self._con = _connect(self.db_path)
        self.hits = 0
        self.misses = 0

    def get(self, op_digest: str) -> str | None:
        row = self._con.execute(
            "SELECT value FROM memo_store WHERE key = ?", (op_digest,)).fetchone()
        if row is None:
            self.misses += 1
            return None
        self.hits += 1
        return row[0]

    def put(self, op_digest: str, table_hash: str) -> None:
        self._con.execute(
            "INSERT OR REPLACE INTO memo_store(key, value) VALUES (?, ?)",
            (op_digest, table_hash))
        self._con.commit()

    def put_many(self, records: dict[str, str]) -> None:
        """Batch put in ONE transaction (same advisory INSERT OR
        REPLACE semantics as ``put``; see
        ``plans.incremental.seed_map_view_memo``)."""
        if not records:
            return
        self._con.executemany(
            "INSERT OR REPLACE INTO memo_store(key, value) VALUES (?, ?)",
            list(records.items()))
        self._con.commit()

    def prune(self, is_live) -> int:
        """Drop entries whose target hash fails ``is_live`` (GC support;
        same contract as ``store.MemoStore.prune``)."""
        rows = self._con.execute("SELECT key, value FROM memo_store").fetchall()
        dead = [k for k, v in rows if not is_live(v)]
        self._con.executemany("DELETE FROM memo_store WHERE key = ?",
                              [(k,) for k in dead])
        self._con.commit()
        return len(dead)


class SqliteCatalog:
    """Catalog (RepoRoot + RepoStore analog) over sqlite, same interface
    as ``store.Catalog``: name → entry, versioned roots (time travel),
    atomic swap via sqlite's transactional INSERT."""

    def __init__(self, warehouse: str, filename: str = "manifest.sqlite") -> None:
        self.db_path = os.path.join(warehouse, filename)
        self._con = _connect(self.db_path)
        self._txn = False

    def _commit(self) -> None:
        if not self._txn:
            self._con.commit()

    def transaction(self):
        """Defer commits so a root swap and a branch-head advance (or
        any other same-connection writes) land in ONE sqlite
        transaction — the torn two-file window of the JSON backend
        cannot exist here. Reentrant: a nested transaction joins the
        outer one."""
        import contextlib

        @contextlib.contextmanager
        def _txn():
            if self._txn:
                yield
                return
            self._txn = True
            try:
                yield
                self._con.commit()
            except BaseException:
                self._con.rollback()
                raise
            finally:
                self._txn = False
        return _txn()

    def _load_root(self, version: int | None = None) -> dict:
        if version is None:
            row = self._con.execute(
                "SELECT root FROM repo_root ORDER BY version DESC LIMIT 1").fetchone()
        else:
            row = self._con.execute(
                "SELECT root FROM repo_root WHERE version = ?", (version,)).fetchone()
        return json.loads(row[0]) if row else {}

    def current_version(self) -> int:
        row = self._con.execute("SELECT max(version) FROM repo_root").fetchone()
        return row[0] or 0

    def _swap_root(self, root: dict) -> int:
        return self._commit_mutation(lambda _cur: root)

    def _commit_mutation(self, mutate) -> int:
        """Load-current → mutate → INSERT next version, retried when a
        concurrent process claims the version first (the ``version``
        PRIMARY KEY is the CAS — exactly how the reference's sqlite
        root swap serializes, ``sqlite_store.cpp:96-97``). The retry
        re-applies the mutation to the fresh root, so two writers
        upserting different tables both land (no lost updates).
        Inside an explicit ``transaction()`` a conflict raises instead
        — the outer transaction must replay as a unit.

        The (version, root) pair MUST come from ONE query: reading the
        root and then SELECT max(version) separately opens a window —
        a commit landing between the two reads bumps the version we
        insert against WITHOUT its content being in the root we
        mutated, so our INSERT succeeds (no PK conflict) and silently
        drops that commit (caught by test_root_swap_race under load)."""
        for _ in range(256):
            row = self._con.execute(
                "SELECT version, root FROM repo_root "
                "ORDER BY version DESC LIMIT 1").fetchone()
            v0, root = (row[0], json.loads(row[1])) if row else (0, {})
            root = mutate(root)
            try:
                self._con.execute(
                    "INSERT INTO repo_root(version, root) VALUES (?, ?)",
                    (v0 + 1, json.dumps(root, sort_keys=True)))
            except sqlite3.IntegrityError:
                if self._txn:
                    raise
                self._con.rollback()
                continue
            self._commit()
            return v0 + 1
        raise RuntimeError(
            "catalog root CAS failed 256 times — livelocked warehouse?")

    def names(self, version: int | None = None) -> list[str]:
        return sorted(self._load_root(version).keys())

    # entry reads over _load_root: shared with the JSON backend
    get = Catalog.get
    get_many = Catalog.get_many

    def put(self, name: str, entry: CatalogEntry) -> int:
        rec = {"table_hash": entry.table_hash,
               "schema_json": entry.schema_json,
               "key_cols": entry.key_cols}
        return self._commit_mutation(lambda root: {**root, name: rec})

    def put_many(self, entries) -> int:
        """Multi-table atomic commit: one root swap covering every
        entry (see ``store.Catalog.put_many``); the sqlite backend
        additionally does it inside one sqlite transaction."""
        recs = {name: {"table_hash": e.table_hash,
                       "schema_json": e.schema_json,
                       "key_cols": e.key_cols}
                for name, e in entries.items()}
        if self._txn:   # joined an outer transaction: conflicts propagate
            return self._commit_mutation(lambda root: {**root, **recs})
        for _ in range(256):
            try:
                with self.transaction():
                    return self._commit_mutation(
                        lambda root: {**root, **recs})
            except sqlite3.IntegrityError:
                continue    # version claimed by a concurrent process
        raise RuntimeError(
            "catalog root CAS failed 256 times — livelocked warehouse?")

    def drop(self, name: str) -> int:
        def _rm(root: dict) -> dict:
            root.pop(name, None)
            return root
        return self._commit_mutation(_rm)

    def restore_version(self, version: int) -> int:
        """Archived root → current again, as a NEW version (append-only
        history; see ``store.Catalog.restore_version``)."""
        return self._swap_root(self._load_root(version))

    def prune_roots(self, min_version: int) -> int:
        cur = self._con.execute(
            "SELECT count(*) FROM repo_root WHERE version < ?",
            (min_version,)).fetchone()[0]
        self._con.execute("DELETE FROM repo_root WHERE version < ?",
                          (min_version,))
        self._commit()
        return cur


class SqliteBranchManager:
    """Branch bookkeeping in the SAME sqlite file — and, inside
    ``SqliteCatalog.transaction()``, the same transaction — as the
    catalog root, so commit + head-advance are genuinely atomic
    (the ADVICE two-file torn-write finding does not apply here).
    Interface-identical to ``branches.BranchManager``."""

    def __init__(self, catalog: SqliteCatalog) -> None:
        self._catalog = catalog
        self._con = catalog._con
        self._con.execute("""CREATE TABLE IF NOT EXISTS branches (
            name TEXT PRIMARY KEY, head INTEGER NOT NULL,
            base INTEGER NOT NULL)""")
        self._con.execute("""CREATE TABLE IF NOT EXISTS branch_meta (
            k TEXT PRIMARY KEY, v TEXT)""")
        self._con.commit()

    def _commit(self) -> None:
        self._catalog._commit()

    def list(self) -> dict:
        from .branches import BranchInfo
        return {n: BranchInfo(h, b) for n, h, b in self._con.execute(
            "SELECT name, head, base FROM branches")}

    def get(self, name: str):
        from .branches import BranchInfo
        row = self._con.execute(
            "SELECT head, base FROM branches WHERE name = ?",
            (name,)).fetchone()
        if row is None:
            raise KeyError(f"no such branch: {name}")
        return BranchInfo(row[0], row[1])

    def active(self) -> str | None:
        row = self._con.execute(
            "SELECT v FROM branch_meta WHERE k = 'active'").fetchone()
        return row[0] if row else None

    def create(self, name: str, version: int) -> None:
        if self._con.execute("SELECT 1 FROM branches WHERE name = ?",
                             (name,)).fetchone():
            raise ValueError(f"branch exists: {name}")
        self._con.execute(
            "INSERT INTO branches(name, head, base) VALUES (?, ?, ?)",
            (name, version, version))
        self._commit()

    def set_active(self, name: str | None) -> None:
        self._con.execute(
            "INSERT OR REPLACE INTO branch_meta(k, v) VALUES ('active', ?)",
            (name,))
        self._commit()

    def set_head(self, name: str, version: int) -> None:
        self._con.execute("UPDATE branches SET head = ? WHERE name = ?",
                          (version, name))
        self._commit()

    def set_base(self, name: str, version: int) -> None:
        self._con.execute("UPDATE branches SET base = ? WHERE name = ?",
                          (version, name))
        self._commit()

    def activate(self, name: str, version: int) -> None:
        if not self._con.execute("SELECT 1 FROM branches WHERE name = ?",
                                 (name,)).fetchone():
            raise KeyError(f"no such branch: {name}")
        with self._catalog.transaction():
            self._con.execute("UPDATE branches SET head = ? WHERE name = ?",
                              (version, name))
            self._con.execute(
                "INSERT OR REPLACE INTO branch_meta(k, v) "
                "VALUES ('active', ?)", (name,))

    def advance_active(self, version: int) -> None:
        a = self.active()
        if a is not None:
            self._con.execute("UPDATE branches SET head = ? WHERE name = ?",
                              (version, a))
            self._commit()
