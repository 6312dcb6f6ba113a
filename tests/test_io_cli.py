"""IO (F1-F3) + CLI tests mirroring the reference's CSV/JSON tool
behavior (``messdb-tool/src/MessDB/Tool/Csv.hs``, ``Json.hs``) and the
header-remap property (``StandardSchemaSpec.hs:29``)."""

from __future__ import annotations

import glob
import json
import os

from messdb_spark.engine import Engine
from messdb_spark.operators.core import KeyedTable, table_to_rows
from messdb_spark.sources.io import export_csv, export_json, import_csv


def _write(path: str, text: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)
    return path


def test_import_csv_header_remap_and_upsert(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.ddl("CREATE TABLE t (a bigint PRIMARY KEY, b text, c real)")
    # shuffled header order + extra column (ignored), mirroring the
    # reference's header-remapped parse
    csv1 = _write(str(tmp_path / "in1.csv"), "b,junk,a,c\nx,zz,1,1.5\ny,zz,2,2.5\n")
    t = import_csv(spark, csv1, eng.load_table("t"))
    eng.save_table("t", t)
    assert table_to_rows(t) == [(1, "x", 1.5), (2, "y", 2.5)]
    # re-import with overlapping key → upsert last-wins
    csv2 = _write(str(tmp_path / "in2.csv"), "a,b,c\n2,Y2,20.0\n3,z,3.5\n")
    t2 = import_csv(spark, csv2, eng.load_table("t"))
    assert table_to_rows(t2) == [(1, "x", 1.5), (2, "Y2", 20.0), (3, "z", 3.5)]


def test_export_csv_key_ordered(spark, tmp_path):
    df = spark.createDataFrame([(3, "c"), (1, "a"), (2, "b")], "k long, v string")
    out = str(tmp_path / "out_csv")
    export_csv(KeyedTable(df, ("k",)), out)
    parts = sorted(glob.glob(out + "/part-*.csv"))
    lines = []
    for p in parts:
        with open(p) as f:
            body = f.read().strip().splitlines()
            assert body[0] == "k,v"   # key cols first
            lines += body[1:]
    assert lines == ["1,a", "2,b", "3,c"]


def test_export_json_lines(spark, tmp_path):
    df = spark.createDataFrame([(2, "b"), (1, "a")], "k long, v string")
    out = str(tmp_path / "out_json")
    export_json(KeyedTable(df, ("k",)), out)
    rows = []
    for p in sorted(glob.glob(out + "/part-*")):
        if p.endswith(".crc"):
            continue
        with open(p) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    assert sorted(rows, key=lambda r: r["k"]) == [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]


def test_cli_end_to_end(spark, tmp_path, capsys):
    from messdb_spark.cli import main
    wh = str(tmp_path / "wh")
    csv = _write(str(tmp_path / "pts.csv"), "id,name,score\n1,a,2.5\n2,b,7.5\n")
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE pts (id bigint PRIMARY KEY, name text, score double)"]) == 0
    assert main(["-w", wh, "import-csv", "-t", "pts", csv]) == 0
    assert main(["-w", wh, "sql", "-c",
                 "SELECT id, score FROM pts WHERE score > 5"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    last = json.loads(out[-1])
    assert last == {"id": 2, "score": 7.5}
    assert main(["-w", wh, "print-schema", "-t", "pts"]) == 0
    schema_out = json.loads(capsys.readouterr().out)
    assert schema_out["key_cols"] == ["id"]
    assert main(["-w", wh, "print-schema", "-t", "nope"]) == 1


def test_cli_gc(spark, tmp_path, capsys):
    from messdb_spark.cli import main
    wh = str(tmp_path / "whgc")
    csv1 = _write(str(tmp_path / "g1.csv"), "id,name,score\n1,a,2.5\n")
    csv2 = _write(str(tmp_path / "g2.csv"), "id,name,score\n1,z,9.0\n")
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE g (id bigint PRIMARY KEY, name text, score double)"]) == 0
    assert main(["-w", wh, "import-csv", "-t", "g", csv1]) == 0
    assert main(["-w", wh, "import-csv", "-t", "g", csv2]) == 0
    capsys.readouterr()
    assert main(["-w", wh, "gc", "--keep-versions", "1"]) == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats["ok"] and stats["swept"] >= 1
    # table still reads after the sweep
    assert main(["-w", wh, "sql", "-c", "SELECT name FROM g"]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == {"name": "z"}


def test_json_roundtrip_upsert(spark, tmp_path):
    """export_json → import_json roundtrip, then an upsert delta: the
    JSON import path honors the catalog schema (field order free) and
    the last-wins merge."""
    from messdb_spark.operators.core import KeyedTable
    from messdb_spark.sources.io import export_json, import_json

    base = KeyedTable(spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", 7.5)], "k long, v string, x double"), ("k",))
    out = str(tmp_path / "j1")
    export_json(base, out)
    re_imported = import_json(spark, out, base)
    assert sorted(tuple(r) for r in re_imported.df.collect()) == \
        [(1, "a", 2.5), (2, "b", 7.5)]

    delta = str(tmp_path / "j2")
    with open(delta + ".jsonl", "w") as f:
        # shuffled field order + one overwrite + one insert
        f.write('{"x": 9.0, "k": 2, "v": "B"}\n{"k": 3, "v": "c", "x": 1.0}\n')
    merged = import_json(spark, delta + ".jsonl", base)
    assert sorted(tuple(r) for r in merged.df.collect()) == \
        [(1, "a", 2.5), (2, "B", 9.0), (3, "c", 1.0)]


def test_cli_parquet_roundtrip(spark, tmp_path, capsys):
    from messdb_spark.cli import main
    wh = str(tmp_path / "whpq")
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE pq (id bigint PRIMARY KEY, name text)"]) == 0
    # seed via parquet import
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string") \
         .write.parquet(str(tmp_path / "seed"))
    assert main(["-w", wh, "import-parquet", "-t", "pq",
                 str(tmp_path / "seed")]) == 0
    # export, delta-import over it, check upsert
    assert main(["-w", wh, "export-parquet", "-t", "pq",
                 str(tmp_path / "out")]) == 0
    spark.createDataFrame([(2, "B"), (3, "c")], "id long, name string") \
         .write.parquet(str(tmp_path / "delta"))
    assert main(["-w", wh, "import-parquet", "-t", "pq",
                 str(tmp_path / "delta")]) == 0
    capsys.readouterr()
    assert main(["-w", wh, "sql", "-c",
                 "SELECT id, name FROM pq ORDER BY id"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows == [{"id": 1, "name": "a"}, {"id": 2, "name": "B"},
                    {"id": 3, "name": "c"}]
    got = {tuple(r) for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_cli_diff_versions(warehouse, tmp_path, cli):
    """`diff` verb: CDC changelog between two catalog versions."""
    import json as _json

    def run(*args):
        return cli(warehouse, *args)

    run("sql", "-c", "CREATE TABLE t (k BIGINT PRIMARY KEY, v VARCHAR)")
    p1 = tmp_path / "v1.csv"
    p1.write_text("k,v\n1,a\n2,b\n3,c\n")
    run("import-csv", "-t", "t", str(p1))
    p2 = tmp_path / "v2.csv"
    p2.write_text("k,v\n2,B\n4,d\n")   # change 2, add 4 (1 and 3 unchanged)
    run("import-csv", "-t", "t", str(p2))
    # the first import committed version 2 (DDL was 1); diff v2 -> current
    lines = [l for l in run("diff", "-t", "t", "--from-version", "2").splitlines()
             if l.strip()]
    rows = {r["k"]: (r["change"], r.get("old_v"), r.get("new_v"))
            for r in map(_json.loads, lines)}
    assert rows == {2: ("changed", "b", "B"), 4: ("added", None, "d")}


def test_cli_sync_verb(warehouse, tmp_path, cli):
    import json as _json

    def run(*args):
        return cli(warehouse, *args)

    run("sql", "-c", "CREATE TABLE t (k BIGINT PRIMARY KEY, v VARCHAR)")
    p = tmp_path / "in.csv"
    p.write_text("k,v\n1,a\n2,b\n")
    run("import-csv", "-t", "t", str(p))
    dest = str(tmp_path / "B")
    first = _json.loads(run("sync", "-t", "t", "--dest", dest).splitlines()[-1])
    assert first["copied"] == 1 and first["skipped"] == 0
    second = _json.loads(run("sync", "-t", "t", "--dest", dest).splitlines()[-1])
    assert second["copied"] == 0 and second["skipped"] == 1


def test_cli_verify_verb(warehouse, tmp_path, cli):
    import json as _json

    def run(*args, expect_rc=0):
        return cli(warehouse, *args, rc=expect_rc)

    run("sql", "-c", "CREATE TABLE t (k BIGINT PRIMARY KEY, v VARCHAR)")
    p = tmp_path / "in.csv"
    p.write_text("k,v\n1,a\n")
    run("import-csv", "-t", "t", str(p))
    res = _json.loads(run("verify", "-t", "t").splitlines()[-1])
    assert res["ok"] is True


def test_cli_apply_cdc(spark, tmp_path, capsys):
    from messdb_spark.cli import main
    wh = str(tmp_path / "whcdc")
    csv = _write(str(tmp_path / "c0.csv"),
                 "id,name,score\n1,a,2.5\n2,b,7.5\n3,c,1.0\n")
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE acc (id bigint PRIMARY KEY, name text, "
                 "score double)"]) == 0
    assert main(["-w", wh, "import-csv", "-t", "acc", csv]) == 0
    log = _write(str(tmp_path / "ops.jsonl"), "\n".join([
        json.dumps({"id": 2, "op": "delete", "ord": 1}),
        json.dumps({"id": 3, "name": "c2", "score": 9.0,
                    "op": "upsert", "ord": 2}),
        json.dumps({"id": 4, "name": "d", "score": 4.0,
                    "op": "upsert", "ord": 3}),
        json.dumps({"id": 4, "op": "delete", "ord": 4}),   # later wins
        json.dumps({"id": 9, "op": "delete", "ord": 5}),   # absent: no-op
    ]) + "\n")
    capsys.readouterr()
    assert main(["-w", wh, "apply-cdc", "-t", "acc", log]) == 0
    res = json.loads(capsys.readouterr().out)
    assert res["ok"] and res["rows"] == 2
    assert main(["-w", wh, "sql", "-c",
                 "SELECT id, name, score FROM acc ORDER BY id"]) == 0
    rows = [json.loads(x) for x in
            capsys.readouterr().out.strip().splitlines()]
    assert rows == [{"id": 1, "name": "a", "score": 2.5},
                    {"id": 3, "name": "c2", "score": 9.0}]
    # malformed op value → JSON error + exit 1
    badlog = _write(str(tmp_path / "bad.jsonl"),
                    json.dumps({"id": 1, "op": "smite", "ord": 9}) + "\n")
    assert main(["-w", wh, "apply-cdc", "-t", "acc", badlog]) == 1
    err = json.loads(capsys.readouterr().out)
    assert err["ok"] is False


def test_sql_dml_surface(spark, tmp_path, capsys):
    """INSERT / UPDATE / DELETE lower onto canonicalize+merge /
    projected rewrite / filter rewrite (capability superset: the
    reference rejects every non-CREATE statement, SQL.hs:41-44)."""
    from messdb_spark.cli import main
    wh = str(tmp_path / "whdml")
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE kv (k bigint PRIMARY KEY, v text, "
                 "x double)"]) == 0
    # INSERT VALUES, duplicate key folds last-wins within the batch
    assert main(["-w", wh, "sql", "-c",
                 "INSERT INTO kv VALUES (1, 'a', 1.5), (2, 'b,with,commas', "
                 "2.5), (1, 'a2', 9.0)"]) == 0
    # INSERT with column list: unlisted value column -> typed null
    assert main(["-w", wh, "sql", "-c",
                 "INSERT INTO kv (k, v) VALUES (3, 'c')"]) == 0
    # INSERT ... SELECT from the table itself
    assert main(["-w", wh, "sql", "-c",
                 "INSERT INTO kv SELECT k + 10, v, x FROM kv WHERE k = 2"]) == 0
    # UPDATE with WHERE; expression references existing columns
    assert main(["-w", wh, "sql", "-c",
                 "UPDATE kv SET v = concat(v, '!'), x = x + 0.5 "
                 "WHERE k >= 12"]) == 0
    # DELETE; NULL predicate rows must SURVIVE (x is null for k=3)
    assert main(["-w", wh, "sql", "-c", "DELETE FROM kv WHERE x > 5.0"]) == 0
    capsys.readouterr()
    assert main(["-w", wh, "sql", "-c",
                 "SELECT k, v, x FROM kv ORDER BY k"]) == 0
    rows = [json.loads(x) for x in
            capsys.readouterr().out.strip().splitlines()]
    assert rows == [
        {"k": 2, "v": "b,with,commas", "x": 2.5},
        {"k": 3, "v": "c"},          # null-pred row kept (json drops nulls)
        {"k": 12, "v": "b,with,commas!", "x": 3.0},
    ]                                            # k=1 (x=9.0) deleted


def test_sql_dml_rejections(spark, tmp_path):
    from messdb_spark.engine import Engine
    from messdb_spark.sql_ddl import SqlError
    import pytest
    eng = Engine(spark, str(tmp_path / "whrej"))
    eng.ddl("CREATE TABLE r (k bigint PRIMARY KEY, v text)")
    eng.dml("INSERT INTO r VALUES (1, 'a')")
    with pytest.raises(SqlError, match="key column"):
        eng.dml("UPDATE r SET k = k + 1")
    with pytest.raises(SqlError, match="arity"):
        eng.dml("INSERT INTO r (k) VALUES (2, 'b')")
    with pytest.raises(SqlError, match="key column"):
        eng.dml("INSERT INTO r (v) VALUES ('b')")
    with pytest.raises(SqlError, match="unknown column"):
        eng.dml("INSERT INTO r (k, nope) VALUES (2, 'b')")
    # DELETE without WHERE empties the table but keeps it defined
    res = eng.dml("DELETE FROM r")
    assert res["rows"] == 1
    assert eng.sql("SELECT * FROM r").count() == 0


def test_sql_drop_and_alter(spark, tmp_path, capsys):
    from messdb_spark.cli import main
    from messdb_spark.engine import Engine
    from messdb_spark.sql_ddl import SqlError
    import pytest
    wh = str(tmp_path / "whddl2")
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE d (k bigint PRIMARY KEY, v text)"]) == 0
    assert main(["-w", wh, "sql", "-c",
                 "INSERT INTO d VALUES (1, 'a')"]) == 0
    # ALTER ADD COLUMN: typed-null backfill, then writable
    assert main(["-w", wh, "sql", "-c",
                 "ALTER TABLE d ADD COLUMN score double"]) == 0
    assert main(["-w", wh, "sql", "-c",
                 "UPDATE d SET score = 2.5 WHERE k = 1"]) == 0
    capsys.readouterr()
    assert main(["-w", wh, "sql", "-c", "SELECT k, score FROM d"]) == 0
    assert json.loads(capsys.readouterr().out.strip()) == \
        {"k": 1, "score": 2.5}
    eng = Engine(spark, wh)
    with pytest.raises(SqlError, match="already exists"):
        eng.alter_add_column("ALTER TABLE d ADD COLUMN score double")
    assert eng.alter_add_column(
        "ALTER TABLE d ADD COLUMN IF NOT EXISTS score double")["added"] \
        is False
    # DROP: gone from catalog, but reversible via time travel
    v_before = eng.catalog.current_version()
    assert eng.drop_table("DROP TABLE d")["dropped"] is True
    with pytest.raises(KeyError):
        eng.load_table("d")
    assert eng.drop_table("DROP TABLE IF EXISTS d")["dropped"] is False
    with pytest.raises(SqlError, match="no such table"):
        eng.drop_table("DROP TABLE d")
    assert eng.load_table("d", version=v_before).df.count() == 1


def test_sql_materialized_view_lifecycle(spark, tmp_path, capsys):
    """CREATE MATERIALIZED VIEW / REFRESH: the memo layer surfaced as
    SQL — refresh over unchanged inputs is a manifest hit, refresh
    after a base-table write recomputes and swaps the entry."""
    from messdb_spark.cli import main
    from messdb_spark.engine import Engine
    wh = str(tmp_path / "whmv")
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE base (k bigint PRIMARY KEY, grp text, "
                 "v bigint)"]) == 0
    assert main(["-w", wh, "sql", "-c",
                 "INSERT INTO base VALUES (1,'a',10), (2,'a',20), "
                 "(3,'b',5)"]) == 0
    assert main(["-w", wh, "sql", "-c",
                 "CREATE MATERIALIZED VIEW totals AS "
                 "SELECT grp, sum(v) AS s FROM base GROUP BY grp"]) == 0
    capsys.readouterr()
    assert main(["-w", wh, "sql", "-c",
                 "SELECT grp, s FROM totals ORDER BY grp"]) == 0
    rows = [json.loads(x) for x in
            capsys.readouterr().out.strip().splitlines()]
    assert rows == [{"grp": "a", "s": 30}, {"grp": "b", "s": 5}]

    eng = Engine(spark, wh)
    # no-op refresh: manifest hit, no recompute
    r1 = eng.refresh_materialized_view("totals")
    assert r1["refreshed"] is False
    # base write → refresh recomputes
    eng.dml("INSERT INTO base VALUES (4,'b',95)")
    r2 = eng.refresh_materialized_view("totals")
    assert r2["refreshed"] is True and r2["table_hash"] != r1["table_hash"]
    got = {(r.grp, r.s) for r in
           eng.sql("SELECT grp, s FROM totals").collect()}
    assert got == {("a", 30), ("b", 100)}
    # the pre-refresh snapshot is still reachable (time travel)
    # CREATE without OR REPLACE over an existing name fails; OR REPLACE works
    from messdb_spark.sql_ddl import SqlError
    import pytest
    with pytest.raises(SqlError, match="already exists"):
        eng.create_materialized_view(
            "totals", "SELECT grp FROM base GROUP BY grp")
    eng.create_materialized_view(
        "totals", "SELECT grp, count(*) AS n FROM base GROUP BY grp",
        or_replace=True)
    assert {tuple(r) for r in eng.sql("SELECT * FROM totals").collect()} \
        == {("a", 2), ("b", 2)}
    # drop removes the view AND its stored definition
    eng.drop_table("DROP TABLE totals")
    with pytest.raises(SqlError, match="no such materialized view"):
        eng.refresh_materialized_view("totals")


def test_sql_show_tables_and_history(spark, tmp_path, capsys):
    from messdb_spark.cli import main
    wh = str(tmp_path / "whshow")
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE a (k bigint PRIMARY KEY, v text)"]) == 0
    assert main(["-w", wh, "sql", "-c", "INSERT INTO a VALUES (1,'x')"]) == 0
    assert main(["-w", wh, "sql", "-c",
                 "CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS n "
                 "FROM a"]) == 0
    capsys.readouterr()
    assert main(["-w", wh, "sql", "-c", "SHOW TABLES"]) == 0
    rows = [json.loads(x) for x in
            capsys.readouterr().out.strip().splitlines()]
    kinds = {r["table"]: r["kind"] for r in rows}
    assert kinds == {"a": "table", "mv": "materialized_view"}
    # history of one table: only versions that moved it
    assert main(["-w", wh, "sql", "-c", "DESCRIBE HISTORY a"]) == 0
    hist = [json.loads(x) for x in
            capsys.readouterr().out.strip().splitlines()]
    assert len(hist) == 2                      # create (empty) + insert
    assert hist[0]["table_hash"] != hist[1]["table_hash"]
    # namespace history: one line per version
    assert main(["-w", wh, "sql", "-c", "DESCRIBE HISTORY"]) == 0
    ns = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert ns[-1]["tables"] == ["a", "mv"]


def test_truncate_and_rename(spark, tmp_path, capsys):
    """TRUNCATE empties under the same schema/keys (reversible via
    time travel); RENAME is a pure catalog move that keeps the content
    hash and follows materialized-view definitions."""
    from messdb_spark.cli import main
    from messdb_spark.engine import Engine

    wh = str(tmp_path / "wh")
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE t (k bigint PRIMARY KEY, v text); "
                 "INSERT INTO t VALUES (1, 'x'), (2, 'y')"]) == 0
    eng = Engine(spark, wh)
    h_before = eng.table_hash("t")
    assert main(["-w", wh, "sql", "-c", "ALTER TABLE t RENAME TO t2"]) == 0
    eng2 = Engine(spark, wh)
    assert eng2.table_hash("t2") == h_before      # zero data movement
    assert eng2.catalog.get("t") is None
    assert eng2.load_table("t2").key_cols == ("k",)
    v_full = eng2.catalog.current_version()
    assert main(["-w", wh, "sql", "-c", "TRUNCATE TABLE t2"]) == 0
    eng3 = Engine(spark, wh)
    assert eng3.load_table("t2").df.count() == 0
    assert eng3.load_table("t2").key_cols == ("k",)
    # reversible: the pre-truncate version still holds the rows
    assert eng3.load_table("t2", version=v_full).df.count() == 2
    capsys.readouterr()
    # guards
    import pytest as _pytest
    from messdb_spark.sql_ddl import SqlError
    with _pytest.raises(SqlError, match="no such table"):
        eng3.rename_table("ALTER TABLE nope RENAME TO zz")
    eng3.save_table("t3", eng3.load_table("t2"))
    with _pytest.raises(SqlError, match="already exists"):
        eng3.rename_table("ALTER TABLE t2 RENAME TO t3")


def test_cli_ctas_overwrite_altertype(spark, tmp_path, capsys):
    """Round-7 SQL surface through the CLI: CTAS, INSERT OVERWRITE,
    and widening ALTER COLUMN TYPE all route from the sql verb."""
    from messdb_spark.cli import main
    wh = str(tmp_path / "wh7")
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE src (id int PRIMARY KEY, v int)"]) == 0
    assert main(["-w", wh, "sql", "-c",
                 "INSERT INTO src VALUES (1, 10), (2, 20)"]) == 0
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE agg PRIMARY KEY (s) AS "
                 "SELECT CAST(sum(v) AS BIGINT) AS s FROM src"]) == 0
    assert main(["-w", wh, "sql", "-c",
                 "INSERT OVERWRITE src VALUES (9, 90)"]) == 0
    assert main(["-w", wh, "sql", "-c",
                 "ALTER TABLE src ALTER COLUMN v TYPE bigint"]) == 0
    capsys.readouterr()
    assert main(["-w", wh, "sql", "-c", "SELECT id, v FROM src"]) == 0
    rows = [json.loads(x) for x in
            capsys.readouterr().out.strip().splitlines()]
    assert rows == [{"id": 9, "v": 90}]
    assert main(["-w", wh, "sql", "-c", "SELECT s FROM agg"]) == 0
    assert json.loads(capsys.readouterr().out.strip()
                      .splitlines()[-1]) == {"s": 30}


def test_cli_explain_prints_physical_plan(spark, tmp_path, capsys):
    """EXPLAIN SELECT ... prints the formatted physical plan without
    executing the query."""
    from messdb_spark.cli import main
    wh = str(tmp_path / "whx")
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE e (id bigint PRIMARY KEY, v bigint)"]) == 0
    assert main(["-w", wh, "sql", "-c",
                 "INSERT INTO e VALUES (1, 5)"]) == 0
    capsys.readouterr()
    assert main(["-w", wh, "sql", "-c",
                 "EXPLAIN SELECT v FROM e WHERE id = 1"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert "Scan parquet" in out or "Scan " in out


def test_cli_dedup_substrings_verb(spark, tmp_path, capsys):
    """The ExactSubstr CLI verb end to end: a catalog text table with
    a planted cross-row run gets a cleaned table (run excised from
    every row that shared it) and a span manifest; rows without
    cross-row runs pass through verbatim."""
    from messdb_spark.cli import main
    from messdb_spark.engine import Engine
    from messdb_spark.operators.core import KeyedTable

    wh = str(tmp_path / "wh")
    shared = "THE-PLANTED-SHARED-RUN-IS-40-CHARS-LONG!"
    assert len(shared) == 40
    rows = [(1, "alpha<" + shared + ">omega", "s1"),
            (2, "begin_" + shared + "_finish", "s2"),
            (3, "no duplicated material in this one at all", "s3")]
    eng = Engine(spark, wh)
    eng.save_table("docs", KeyedTable(
        spark.createDataFrame(rows, "doc_id bigint, body string, src string"),
        ("doc_id",)))

    assert main(["-w", wh, "dedup-substrings", "-t", "docs",
                 "--text-col", "body", "--out", "docs_clean",
                 "--spans-table", "docs_spans", "--min-len", "30"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["ok"] and stats["rows"] == 3
    assert stats["spans"] == 2 and stats["dup_chars"] == 80

    eng2 = Engine(spark, wh)
    got = {r["doc_id"]: (r["body"], r["src"])
           for r in eng2.load_table("docs_clean").df.collect()}
    assert got == {1: ("alpha<>omega", "s1"),
                   2: ("begin__finish", "s2"),
                   3: ("no duplicated material in this one at all", "s3")}
    spans = {(r["doc_id"], r["span_start"], r["span_end"])
             for r in eng2.load_table("docs_spans").df.collect()}
    assert spans == {(1, 7, 47), (2, 7, 47)}
    # wrong column / composite-key guards
    assert main(["-w", wh, "dedup-substrings", "-t", "docs",
                 "--text-col", "nope", "--out", "x"]) == 1


def test_cli_dedup_substrings_in_process(warehouse, tmp_path, cli):
    """dedup-substrings end to end through ``cli.main``: DDL, JSON
    import, the verb and a SQL read-back, each call over a fresh
    Engine."""
    import json as _json

    def run(*args):
        return cli(warehouse, *args)

    run("sql", "-c", "CREATE TABLE d (k BIGINT PRIMARY KEY, txt VARCHAR)")
    shared = "S" * 15 + "HARED-RUN-THIRTYPLUS-CHARS" + "!" * 5
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(
        _json.dumps(r) for r in [
            {"k": 1, "txt": "aa<" + shared + ">bb"},
            {"k": 2, "txt": "cc{" + shared + "}dd"},
            {"k": 3, "txt": "nothing shared in here at all, truly"},
        ]) + "\n")
    run("import-json", "-t", "d", str(p))
    stats = _json.loads(run(
        "dedup-substrings", "-t", "d", "--text-col", "txt",
        "--out", "d_clean", "--spans-table", "d_spans",
        "--min-len", "30").splitlines()[-1])
    assert stats["ok"] and stats["rows"] == 3 and stats["spans"] == 2
    rows = [_json.loads(ln) for ln in run(
        "sql", "-c", "SELECT k, txt FROM d_clean").splitlines()]
    got = {r["k"]: r["txt"] for r in rows}
    assert got[1] == "aa<>bb" and got[2] == "cc{}dd"
    assert got[3] == "nothing shared in here at all, truly"
