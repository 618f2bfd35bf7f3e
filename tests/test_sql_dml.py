"""SQL DML front-end (sources/sql_dml.py): the reference's Delta SQL
idiom — ``spark.sql("MERGE INTO ...")``,
``/root/reference/glue_jobs/01_silver_delta_upsert.py:104-112`` as a
LITERAL SQL string — plus UPDATE / DELETE FROM / INSERT INTO, parsed
against registry names and dispatched to the existing facade
executors. Parity is checked against the Python-API results; CDF and
row tracking must flow through unchanged (no new engine semantics)."""

from __future__ import annotations

import pytest

from aws_callcenter_delta_lakehouse_spark.sources import (
    managed_table as mt,
    sql_dml,
    txn_catalog,
)
from aws_callcenter_delta_lakehouse_spark.sources.sql_dml import SqlDmlError


@pytest.fixture()
def named_table(spark, tmp_path):
    """A registered managed table sqldb.accounts (id, name, balance)
    plus the registry conf; yields (name, path, registry)."""
    registry = str(tmp_path / "registry")
    path = str(tmp_path / "accounts")
    df = spark.createDataFrame(
        [(1, "alice", 100.0), (2, "bob", 200.0), (3, "carol", 300.0)],
        "id INT, name STRING, balance DOUBLE",
    )
    mt.commit_overwrite(df, path, keys=("id",))
    txn_catalog.register_table_name(registry, "sqldb.accounts", path)
    spark.conf.set("spark.managedTable.nameRegistry", registry)
    yield "sqldb.accounts", path, registry
    spark.conf.unset("spark.managedTable.nameRegistry")


def _rows(spark, path):
    return {
        (r["id"], r["name"], float(r["balance"]))
        for r in mt.read(spark, path).collect()
    }


# -- MERGE -------------------------------------------------------------------


def test_merge_reference_idiom_verbatim(spark, named_table):
    """The exact clause shape of the reference Glue job, as SQL."""
    name, path, _ = named_table
    src = spark.createDataFrame(
        [(2, "bob2", 222.0), (4, "dave", 400.0)],
        "id INT, name STRING, balance DOUBLE",
    )
    src.createOrReplaceTempView("acc_updates")
    try:
        sql_dml.sql(
            spark,
            f"""
            MERGE INTO {name} AS t
            USING acc_updates AS s
            ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """,
        )
    finally:
        spark.catalog.dropTempView("acc_updates")
    assert _rows(spark, path) == {
        (1, "alice", 100.0),
        (2, "bob2", 222.0),
        (3, "carol", 300.0),
        (4, "dave", 400.0),
    }


def test_merge_explicit_clauses_and_subquery_source(spark, named_table):
    name, path, _ = named_table
    src = spark.createDataFrame(
        [(1, "ALICE", 50.0), (3, "carol", -1.0), (9, "zed", 900.0)],
        "id INT, name STRING, balance DOUBLE",
    )
    src.createOrReplaceTempView("feed")
    try:
        sql_dml.sql(
            spark,
            f"""
            MERGE INTO {name} t
            USING (SELECT * FROM feed WHERE balance >= 0) s
            ON t.id = s.id
            WHEN MATCHED AND s.balance < 100 THEN
              UPDATE SET balance = t.balance + s.balance, name = s.name
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED THEN
              INSERT (id, name, balance) VALUES (s.id, upper(s.name), s.balance * 2)
            """,
        )
    finally:
        spark.catalog.dropTempView("feed")
    # id 1 matched with balance 50 < 100 -> updated; id 3 filtered out of
    # the source (negative); id 9 inserted with doubled balance
    assert _rows(spark, path) == {
        (1, "ALICE", 150.0),
        (2, "bob", 200.0),
        (3, "carol", 300.0),
        (9, "ZED", 1800.0),
    }


def test_merge_grouped_subquery_source_reads_registry(spark, named_table, tmp_path):
    """A parenthesized MERGE source is a whole query, not the span of
    its top node: GROUP BY (whose node spans only that clause), DISTINCT
    with ORDER BY / LIMIT, and a registry name read inside it."""
    name, path, registry = named_table
    feed_path = str(tmp_path / "feed")
    mt.commit_overwrite(
        spark.createDataFrame(
            [(1, 10.0), (1, 5.0), (2, 1.0), (4, 7.0), (4, 7.0)],
            "id INT, amt DOUBLE",
        ),
        feed_path,
    )
    txn_catalog.register_table_name(registry, "sqldb.feed", feed_path)
    sql_dml.sql(
        spark,
        f"""
        MERGE INTO {name} t
        USING (SELECT id, count(*) AS n, sum(amt) AS amt
               FROM sqldb.feed GROUP BY id) s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET balance = t.balance + s.amt
        WHEN NOT MATCHED THEN
          INSERT (id, name, balance) VALUES (s.id, 'new', s.amt * s.n)
        """,
    )
    sql_dml.sql(
        spark,
        f"""
        MERGE INTO {name} t
        USING (SELECT DISTINCT id, amt FROM sqldb.feed WHERE id > 1
               ORDER BY id DESC LIMIT 1) s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET name = 'top'
        """,
    )
    assert _rows(spark, path) == {
        (1, "alice", 115.0),
        (2, "bob", 201.0),
        (3, "carol", 300.0),
        (4, "top", 28.0),
    }


def test_merge_by_source_delete(spark, named_table):
    name, path, _ = named_table
    spark.createDataFrame([(1,), (2,)], "id INT").createOrReplaceTempView(
        "keep_ids"
    )
    try:
        sql_dml.sql(
            spark,
            f"""
            MERGE INTO {name} t
            USING keep_ids s ON t.id = s.id
            WHEN NOT MATCHED BY SOURCE THEN DELETE
            """,
        )
    finally:
        spark.catalog.dropTempView("keep_ids")
    assert {r[0] for r in _rows(spark, path)} == {1, 2}


# -- UPDATE / DELETE ----------------------------------------------------------


def test_update_with_alias_and_where(spark, named_table):
    name, path, _ = named_table
    sql_dml.sql(
        spark,
        f"UPDATE {name} a SET a.balance = a.balance * 2, "
        f"name = concat(a.name, '!') WHERE a.id <= 2",
    )
    assert _rows(spark, path) == {
        (1, "alice!", 200.0),
        (2, "bob!", 400.0),
        (3, "carol", 300.0),
    }


def test_delete_with_and_without_where(spark, named_table):
    name, path, _ = named_table
    sql_dml.sql(spark, f"DELETE FROM {name} WHERE balance > 250;")
    assert {r[0] for r in _rows(spark, path)} == {1, 2}
    sql_dml.sql(spark, f"DELETE FROM {name}")
    assert mt.read(spark, path).count() == 0


# -- INSERT -------------------------------------------------------------------


def test_insert_values_full_and_column_list(spark, named_table):
    name, path, _ = named_table
    sql_dml.sql(
        spark, f"INSERT INTO {name} VALUES (10, 'x', 1.0), (11, 'y', 2.0)"
    )
    assert (10, "x", 1.0) in _rows(spark, path)
    assert mt.read(spark, path).count() == 5
    # column list: omitted column lands as typed NULL
    sql_dml.sql(spark, f"INSERT INTO {name} (id, name) VALUES (12, 'z')")
    row = mt.read(spark, path).where("id = 12").first()
    assert row["name"] == "z" and row["balance"] is None


def test_insert_select_positional(spark, named_table):
    name, path, _ = named_table
    sql_dml.sql(
        spark,
        f"INSERT INTO {name} SELECT id + 100, upper(name), balance "
        f"FROM parquet.`{path}` WHERE id = 1",
    )
    assert (101, "ALICE", 100.0) in _rows(spark, path)


def test_insert_overwrite(spark, named_table):
    name, path, _ = named_table
    v0 = mt.table_version(path)
    sql_dml.sql(
        spark, f"INSERT OVERWRITE {name} VALUES (7, 'only', 7.0)"
    )
    assert _rows(spark, path) == {(7, "only", 7.0)}
    assert mt.table_version(path) == v0 + 1  # a real commit, history intact


# -- engine invariants flow through -------------------------------------------


def test_sql_dml_preserves_cdf(spark, tmp_path):
    registry = str(tmp_path / "registry")
    path = str(tmp_path / "cdf_t")
    df = spark.createDataFrame([(1, 10), (2, 20)], "id INT, v INT")
    mt.commit_overwrite(df, path, keys=("id",))
    mt.set_table_property(path, "enableChangeDataFeed", True)
    txn_catalog.register_table_name(registry, "sqldb.cdf_t", path)
    spark.conf.set("spark.managedTable.nameRegistry", registry)
    try:
        v0 = mt.table_version(path)
        sql_dml.sql(spark, "UPDATE sqldb.cdf_t SET v = v + 1 WHERE id = 1")
        sql_dml.sql(spark, "DELETE FROM sqldb.cdf_t WHERE id = 2")
        ch = mt.table_changes(spark, path, v0, mt.table_version(path))
        kinds = {
            (r["id"], r["_change_type"]) for r in ch.collect()
        }
        assert (1, "update_postimage") in kinds or (1, "update") in kinds
        assert (2, "delete") in kinds
    finally:
        spark.conf.unset("spark.managedTable.nameRegistry")


def test_sql_errors(spark, named_table):
    name, _, _ = named_table
    with pytest.raises(SqlDmlError):
        sql_dml.sql(spark, f"MERGE INTO {name} USING x WHEN MATCHED THEN DELETE")
    with pytest.raises(SqlDmlError):
        sql_dml.sql(spark, f"UPDATE {name} WHERE id = 1")
    with pytest.raises(SqlDmlError):
        sql_dml.sql(
            spark,
            f"MERGE INTO {name} t USING (SELECT 1 AS id) s ON t.id = s.id "
            "WHEN MATCHED THEN TRUNCATE",
        )
    with pytest.raises(SqlDmlError):
        sql_dml.sql(spark, f"INSERT INTO {name} (id, nope) VALUES (1, 2)")


def test_non_dml_passthrough(spark, named_table):
    df = sql_dml.sql(spark, "SELECT 1 AS one")
    assert df.first()["one"] == 1


# -- passthrough reads: bare names / CDF TVF / literal masking ---------------


def test_select_bare_name_live_snapshot(spark, named_table):
    """The reference's Athena idiom: SELECT FROM a bare registry name,
    no register_sql_view, no time-travel pin — and commits show up on
    the next statement (live-snapshot resolution per statement)."""
    name, path, _ = named_table
    df = sql_dml.sql(
        spark, f"SELECT count(*) AS n, sum(balance) AS s FROM {name}"
    )
    row = df.first()
    assert (row["n"], row["s"]) == (3, 600.0)
    sql_dml.sql(spark, f"DELETE FROM {name} WHERE id = 1")
    assert sql_dml.sql(spark, f"SELECT count(*) AS n FROM {name}").first()[
        "n"
    ] == 2


def test_select_bare_name_join_and_subquery(spark, named_table):
    name, _, _ = named_table
    df = sql_dml.sql(
        spark,
        f"SELECT a.id, b.balance FROM {name} a "
        f"JOIN (SELECT id, balance FROM {name} WHERE balance > 150) b "
        "ON a.id = b.id ORDER BY a.id",
    )
    assert [(r["id"], r["balance"]) for r in df.collect()] == [
        (2, 200.0),
        (3, 300.0),
    ]


def test_select_bare_name_honors_deletion_vectors(spark, named_table):
    """Bare-name reads route through managed_table.read, so a
    DV-bearing table serves post-delete rows — the exact gap raw
    register_sql_view parquet views refuse to cover."""
    from pyspark.sql import functions as F

    name, path, _ = named_table
    mt.delete_where(spark, path, F.col("id") == 2, deletion_vectors=True)
    df = sql_dml.sql(spark, f"SELECT id FROM {name} ORDER BY id")
    assert [r["id"] for r in df.collect()] == [1, 3]


def test_string_literal_never_rewritten(spark, named_table):
    name, _, _ = named_table
    df = sql_dml.sql(
        spark,
        f"SELECT 'FROM {name}$files' AS lit, count(*) AS n FROM {name}",
    )
    row = df.first()
    assert row["lit"] == f"FROM {name}$files" and row["n"] == 3


def test_temp_views_dropped_after_statement(spark, named_table):
    name, _, _ = named_table
    sql_dml.sql(
        spark,
        f"SELECT * FROM {name} VERSION AS OF 0 "
        f"UNION ALL SELECT * FROM {name}",
    ).collect()
    leftovers = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(("__bn_", "__tt_", "__md_", "__tc_"))
    ]
    assert leftovers == []


def test_table_changes_tvf(spark, tmp_path):
    """FROM table_changes('name', from[, to]) — Delta's CDF TVF shape
    over the engine's sidecar feed, version bounds, CDF columns."""
    registry = str(tmp_path / "registry")
    path = str(tmp_path / "cdf_t")
    df = spark.createDataFrame([(1, 10), (2, 20)], "k INT, v INT")
    mt.commit_overwrite(
        df, path, keys=("k",), properties={"enableChangeDataFeed": True}
    )
    txn_catalog.register_table_name(registry, "cdfdb.t", path)
    spark.conf.set("spark.managedTable.nameRegistry", registry)
    try:
        sql_dml.sql(spark, "INSERT INTO cdfdb.t VALUES (3, 30)")
        sql_dml.sql(spark, "DELETE FROM cdfdb.t WHERE k = 1")
        # start bound 0 is INCLUSIVE (Delta semantics, review r12): the
        # CDF-enabled creation commit's rows come back as inserts
        out = sql_dml.sql(
            spark,
            "SELECT _change_type, k, _commit_version "
            "FROM table_changes('cdfdb.t', 0) ORDER BY _commit_version, k",
        ).collect()
        assert [(r["_change_type"], r["k"], r["_commit_version"]) for r in out] == [
            ("insert", 1, 0),
            ("insert", 2, 0),
            ("insert", 3, 1),
            ("delete", 1, 2),
        ]
        # inclusive bounded range [1, 1]: exactly version 1's insert
        out = sql_dml.sql(
            spark,
            "SELECT _change_type, k FROM table_changes('cdfdb.t', 1, 1)",
        ).collect()
        assert [(r["_change_type"], r["k"]) for r in out] == [("insert", 3)]
        # inverted range raises before touching the feed
        with pytest.raises(SqlDmlError, match="empty range"):
            sql_dml.sql(
                spark, "SELECT * FROM table_changes('cdfdb.t', 2, 1)"
            )
        with pytest.raises(txn_catalog.TableNameError):
            sql_dml.sql(spark, "SELECT * FROM table_changes('nope.t', 0)")
    finally:
        spark.conf.unset("spark.managedTable.nameRegistry")


def test_insert_and_ctas_resolve_bare_source_names(spark, named_table):
    name, path, registry = named_table
    sql_dml.sql(
        spark,
        f"INSERT INTO {name} SELECT id + 10, name, balance FROM {name}",
    )
    assert mt.read(spark, path).count() == 6
    sql_dml.sql(
        spark,
        f"CREATE TABLE sqldb.rich AS SELECT * FROM {name} WHERE balance > 150",
    )
    n = sql_dml.sql(spark, "SELECT count(*) AS n FROM sqldb.rich").first()["n"]
    assert n == 4


def test_unresolvable_names_fall_through(spark, named_table):
    spark.range(3).createOrReplaceTempView("sqldml_plain_view")
    try:
        df = sql_dml.sql(
            spark, "SELECT count(*) AS n FROM sqldml_plain_view"
        )
        assert df.first()["n"] == 3
    finally:
        spark.catalog.dropTempView("sqldml_plain_view")


def test_cte_name_shadows_registry_table(spark, named_table):
    """SQL scoping: a WITH-clause CTE named like a registry table must
    win — the bare-name rewriter excludes statement-defined CTE names."""
    name, _, registry = named_table
    from aws_callcenter_delta_lakehouse_spark.sources import txn_catalog

    # register a name that collides with the CTE below
    txn_catalog.register_table_name(
        registry, "shadowcte",
        txn_catalog.resolve_table_name(registry, name),
    )
    df = sql_dml.sql(
        spark,
        "WITH shadowcte AS (SELECT 1 AS one) "
        "SELECT count(*) AS n, min(one) AS m FROM shadowcte",
    )
    row = df.first()
    # the CTE (1 row) wins over the 3-row registry table
    assert (row["n"], row["m"]) == (1, 1)

def test_scalar_from_inside_function_not_rewritten(spark, named_table):
    """advice r11: EXTRACT(year FROM col) / TRIM(x FROM col) /
    SUBSTRING(s FROM n) use SQL scalar FROM syntax — a column named
    like a registry table must NOT be spliced into a relation ref."""
    name, _, registry = named_table
    # a registry name that collides with a column used in scalar FROM
    txn_catalog.register_table_name(
        registry, "name", txn_catalog.resolve_table_name(registry, name)
    )
    df = sql_dml.sql(
        spark,
        f"SELECT id, TRIM(BOTH 'a' FROM name) AS trimmed, "
        f"SUBSTRING(name FROM 1 FOR 3) AS pre, "
        f"EXTRACT(YEAR FROM DATE '2026-01-02') AS yr "
        f"FROM {name} ORDER BY id",
    )
    rows = df.collect()
    assert [r["trimmed"] for r in rows] == ["lice", "bob", "carol"]
    assert [r["pre"] for r in rows] == ["ali", "bob", "car"]
    assert rows[0]["yr"] == 2026


def test_comma_separated_from_list_resolves_all(spark, named_table):
    """advice r11: `FROM t1, t2` (the Athena comma-join idiom) must
    resolve EVERY member of the relation list, not just the first."""
    name, path, registry = named_table
    txn_catalog.register_table_name(registry, "sqldb.acc2", path)
    df = sql_dml.sql(
        spark,
        f"SELECT count(*) AS n FROM {name} a, sqldb.acc2 b "
        "WHERE a.id = b.id",
    )
    assert df.first()["n"] == 3
    # three-member list with mixed aliasing
    df = sql_dml.sql(
        spark,
        f"SELECT count(*) AS n FROM {name} AS a, sqldb.acc2 b, {name} "
        f"WHERE a.id = b.id",
    )
    assert df.first()["n"] == 9


def test_drop_table_refuses_view_binding(spark, named_table):
    """advice r11: DROP TABLE on a registered VIEW must raise (use
    DROP VIEW), even with IF EXISTS — mirror of DROP VIEW's guard."""
    name, _, registry = named_table
    sql_dml.sql(spark, f"CREATE VIEW sqldb.v_acc AS SELECT id FROM {name}")
    with pytest.raises(SqlDmlError, match="DROP VIEW"):
        sql_dml.sql(spark, "DROP TABLE sqldb.v_acc")
    with pytest.raises(SqlDmlError, match="DROP VIEW"):
        sql_dml.sql(spark, "DROP TABLE IF EXISTS sqldb.v_acc")
    # and the view still resolves afterwards
    assert sql_dml.sql(
        spark, "SELECT count(*) AS n FROM sqldb.v_acc"
    ).first()["n"] == 3
    sql_dml.sql(spark, "DROP VIEW sqldb.v_acc")

def test_table_changes_tvf_timestamp_bounds(spark, tmp_path):
    """verdict r11 item 4 + review r12: quoted timestamp bounds on
    table_changes() map to versions via the marker commit-ts ladder
    (start = first commit at-or-after, Delta's startingTimestamp);
    unparseable or post-history timestamps raise actionably."""
    import datetime

    registry = str(tmp_path / "reg")
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10), (2, 20)], "k INT, v INT")
    mt.commit_overwrite(
        df, path, keys=("k",),
        properties={"enableChangeDataFeed": True}, max_history=4,
    )
    txn_catalog.register_table_name(registry, "cdfts.t", path)
    spark.conf.set("spark.managedTable.nameRegistry", registry)
    try:
        sql_dml.sql(spark, "UPDATE cdfts.t SET v = v + 1 WHERE k = 1")
        sql_dml.sql(spark, "DELETE FROM cdfts.t WHERE k = 2")
        ts = {
            r["version"]: r["ts"]
            for r in mt.history(spark, path).collect()
        }
        # a NAIVE literal must be read as UTC (the engine session tz),
        # independent of the driver host's local zone
        mid01 = datetime.datetime.fromtimestamp(
            (ts[0] + ts[1]) / 2.0, tz=datetime.timezone.utc
        ).isoformat().replace("+00:00", "")
        rows = sql_dml.sql(
            spark,
            "SELECT _change_type, _commit_version FROM "
            f"table_changes('cdfts.t', '{mid01}') "
            "ORDER BY _commit_version, _change_type",
        ).collect()
        assert [(r[0], r[1]) for r in rows] == [
            ("update_postimage", 1),
            ("update_preimage", 1),
            ("delete", 2),
        ]
        with pytest.raises(SqlDmlError, match="cannot parse timestamp"):
            sql_dml.sql(
                spark, "SELECT * FROM table_changes('cdfts.t', 'nonsense')"
            )
        # a start timestamp BEFORE history resolves to the earliest
        # retained commit (v0 snapshot served as inserts: 2 rows) —
        # plus the update pre/post and the delete
        n = sql_dml.sql(
            spark,
            "SELECT count(*) AS n FROM table_changes('cdfts.t', '1999-01-01')",
        ).first()["n"]
        assert n == 5
        # a start timestamp AFTER the last commit raises actionably
        with pytest.raises(SqlDmlError, match="outside .* retained history"):
            sql_dml.sql(
                spark,
                "SELECT * FROM table_changes('cdfts.t', '2999-01-01')",
            )
    finally:
        spark.conf.unset("spark.managedTable.nameRegistry")

def test_minus_setop_and_subquery_comma_members(spark, named_table):
    """review r12: MINUS (Spark's EXCEPT synonym) must not classify the
    following paren as a function call; comma lists with parenthesized
    subquery / table-function members must still resolve LATER registry
    names (and names INSIDE the hopped subquery)."""
    name, path, registry = named_table
    txn_catalog.register_table_name(registry, "sqldb.acc3", path)
    # MINUS: both sides resolve
    rows = sql_dml.sql(
        spark,
        f"SELECT id FROM {name} MINUS "
        f"(SELECT id FROM sqldb.acc3 WHERE id > 1)",
    ).collect()
    assert [r["id"] for r in rows] == [1]
    # subquery member mid-list: reg names before, inside, and after
    df = sql_dml.sql(
        spark,
        f"SELECT count(*) AS n FROM {name} a, "
        f"(SELECT id FROM sqldb.acc3 WHERE id <= 2) s, {name} b "
        "WHERE a.id = s.id AND b.id = s.id",
    )
    assert df.first()["n"] == 2
    # table-function member mid-list
    df = sql_dml.sql(
        spark,
        f"SELECT count(*) AS n FROM {name} a, range(2) r, sqldb.acc3 b "
        "WHERE a.id = b.id",
    )
    assert df.first()["n"] == 6


def test_timestamp_literals_are_utc(spark, tmp_path):
    """review r12: naive SQL timestamp literals mean UTC (the engine
    session tz), not the driver host's local zone — pinned by writing a
    commit, computing its UTC ISO stamp, and reading AS OF it."""
    import datetime

    registry = str(tmp_path / "reg")
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10)], "k INT, v INT")
    mt.commit_overwrite(df, path, keys=("k",))
    txn_catalog.register_table_name(registry, "tzdb.t", path)
    spark.conf.set("spark.managedTable.nameRegistry", registry)
    try:
        mt.merge_upsert(
            spark, path,
            spark.createDataFrame([(2, 20)], "k INT, v INT"),
            keys=("k",),
        )
        ts0 = {r["version"]: r["ts"] for r in mt.history(spark, path).collect()}
        # naive UTC stamp of just-after-v0: must resolve to version 0
        # on ANY host tz (a local-zone read would be off by the offset)
        naive_utc = datetime.datetime.fromtimestamp(
            ts0[0] + 0.001, tz=datetime.timezone.utc
        ).isoformat().replace("+00:00", "")
        n = sql_dml.sql(
            spark,
            f"SELECT count(*) AS n FROM tzdb.t TIMESTAMP AS OF '{naive_utc}'",
        ).first()["n"]
        assert n == 1
        # explicit offset honored: same instant written as +02:00
        plus2 = datetime.datetime.fromtimestamp(
            ts0[0] + 0.001,
            tz=datetime.timezone(datetime.timedelta(hours=2)),
        ).isoformat()
        n = sql_dml.sql(
            spark,
            f"SELECT count(*) AS n FROM tzdb.t TIMESTAMP AS OF '{plus2}'",
        ).first()["n"]
        assert n == 1
    finally:
        spark.conf.unset("spark.managedTable.nameRegistry")

def test_strip_alias_preserves_literals(spark, named_table):
    """review r12: UPDATE/DELETE alias stripping must not rewrite
    alias-looking text INSIDE string literals."""
    name, path, _ = named_table
    sql_dml.sql(
        spark,
        f"UPDATE {name} a SET a.name = 'a.kept' WHERE a.name = 'alice'",
    )
    assert (1, "a.kept", 100.0) in _rows(spark, path)
    # and a literal in the WHERE side survives too
    sql_dml.sql(
        spark,
        f"DELETE FROM {name} a WHERE a.name = 'a.kept'",
    )
    assert {r[0] for r in _rows(spark, path)} == {2, 3}


def test_merge_with_case_when_conditions(spark, named_table):
    """review r12: unparenthesized CASE WHEN inside the ON condition
    and a WHEN-clause predicate must not split the MERGE parse."""
    name, path, _ = named_table
    src = spark.createDataFrame(
        [(2, "bob9", 999.0), (7, "gina", 70.0)],
        "id INT, name STRING, balance DOUBLE",
    )
    src.createOrReplaceTempView("case_feed")
    try:
        sql_dml.sql(
            spark,
            f"""
            MERGE INTO {name} t
            USING case_feed s
            ON t.id = s.id AND CASE WHEN s.balance > 0 THEN true
                                    ELSE false END
            WHEN MATCHED AND CASE WHEN s.balance > 500 THEN true
                                  ELSE false END
              THEN UPDATE SET balance = CASE WHEN s.balance > 900
                                             THEN 900.0
                                             ELSE s.balance END
            WHEN NOT MATCHED THEN INSERT *
            """,
        )
    finally:
        spark.catalog.dropTempView("case_feed")
    assert _rows(spark, path) == {
        (1, "alice", 100.0),
        (2, "bob", 900.0),     # matched, cond true, capped by CASE
        (3, "carol", 300.0),
        (7, "gina", 70.0),     # inserted
    }


def test_insert_parenthesized_select_with_trailing_call(spark, named_table):
    """review r12: a parenthesized INSERT source ending in a function
    call must unwrap exactly ONE paren layer (str.strip('()') used to
    eat the function's closing paren)."""
    name, path, _ = named_table
    sql_dml.sql(
        spark,
        f"INSERT INTO {name} (id, name) "
        f"(SELECT CAST(id + 50 AS INT), upper(name) FROM {name})",
    )
    assert mt.read(spark, path).count() == 6
    assert {r["name"] for r in mt.read(spark, path).where("id > 50").collect()} == {
        "ALICE", "BOB", "CAROL"
    }


def test_inner_cte_does_not_shadow_outer_reference(spark, named_table):
    """review r12: a WITH defined inside a subquery scopes only that
    subquery — the outer reference still resolves to the registry."""
    name, _, registry = named_table
    txn_catalog.register_table_name(
        registry, "scoped", txn_catalog.resolve_table_name(registry, name)
    )
    df = sql_dml.sql(
        spark,
        "SELECT count(*) AS n FROM scoped o WHERE o.id IN "
        "(WITH scoped AS (SELECT 1 AS id) SELECT id FROM scoped)",
    )
    assert df.first()["n"] == 1
    # and a top-level CTE still shadows everywhere (incl. subqueries)
    df = sql_dml.sql(
        spark,
        "WITH scoped AS (SELECT 1 AS id, 9.0 AS balance) "
        "SELECT count(*) AS n FROM scoped WHERE id IN "
        "(SELECT id FROM scoped)",
    )
    assert df.first()["n"] == 1


def test_leading_subquery_comma_list_resolves_later_names(spark, named_table):
    """review r12: `FROM (SELECT ...) s, reg_t` — the bare regex never
    fires on the leading paren member, but later registry names in the
    same list must still resolve."""
    name, _, _ = named_table
    df = sql_dml.sql(
        spark,
        f"SELECT count(*) AS n FROM (SELECT 1 AS id UNION ALL "
        f"SELECT 2) s, {name} b WHERE s.id = b.id",
    )
    assert df.first()["n"] == 2
    df = sql_dml.sql(
        spark,
        f"SELECT count(*) AS n FROM range(3) r, {name} b "
        "WHERE r.id = b.id",
    )
    assert df.first()["n"] == 2  # ids 1,2 overlap range(3)={0,1,2}


def test_metadata_verbs_fall_through_to_spark(spark, named_table):
    """review r12: DESCRIBE/SHOW on names the registry does not know
    delegate to Spark's own catalog instead of raising."""
    spark.range(3).createOrReplaceTempView("plainv")
    try:
        rows = sql_dml.sql(spark, "DESCRIBE plainv").collect()
        assert any(r[0] == "id" for r in rows)
        rows = sql_dml.sql(spark, "SHOW DATABASES").collect()
        assert rows  # Spark served it
    finally:
        spark.catalog.dropTempView("plainv")


def test_ctas_refuses_view_name_upfront(spark, named_table):
    """CREATE TABLE under a VIEW-bound name must refuse BEFORE writing
    any data (round 13): resolve_table_name raises the same error type
    for 'unbound' and 'bound to a view', and treating the view as
    unbound let CTAS commit a whole orphaned snapshot to the warehouse
    path before failing at bind time."""
    import os

    _name, _path, registry = named_table
    sql_dml.sql(
        spark, "CREATE VIEW sqldb.accv AS SELECT id FROM sqldb.accounts"
    )
    for stmt in (
        "CREATE TABLE sqldb.accv AS SELECT 1 AS x",
        "CREATE TABLE sqldb.accv (x INT) USING delta",
        "CREATE TABLE sqldb.accv SHALLOW CLONE sqldb.accounts",
    ):
        with pytest.raises(SqlDmlError, match="registered VIEW"):
            sql_dml.sql(spark, stmt)
    # no orphaned snapshot at the managed placement
    assert not os.path.isdir(os.path.join(registry, "tables", "sqldb.accv"))
    # the view binding is intact
    assert (
        sql_dml.sql(spark, "SELECT count(*) AS n FROM sqldb.accv")
        .collect()[0]
        .n
        == 3
    )


# -- shapes the parser front end reads that a text scanner misread ------------


@pytest.mark.parametrize(
    "stmt, ids",
    [
        # a line comment / block comment between FROM and the name
        ("SELECT id FROM -- the accounts\n sqldb.accounts", [1, 2, 3]),
        ("SELECT id FROM /* c */ sqldb.accounts", [1, 2, 3]),
        # an apostrophe inside a comment is not a string literal
        (
            "SELECT a.id FROM sqldb.accounts a -- don't\n"
            "JOIN sqldb.accounts b ON a.id = b.id",
            [1, 2, 3],
        ),
        # a parenthesized relation
        ("SELECT id FROM (sqldb.accounts)", [1, 2, 3]),
        # DML: table state after the statement
        ("DELETE FROM sqldb.accounts /* all of 'em */ WHERE id > 1", [1]),
        ("INSERT INTO sqldb.accounts VALUES (4, 'dave', 4.0) -- note", [1, 2, 3, 4]),
    ],
    ids=["line_comment", "block_comment", "apostrophe_comment", "paren_relation",
         "delete_comment", "insert_trailing_comment"],
)
def test_comments_and_parens_around_names(spark, named_table, stmt, ids):
    _name, path, _ = named_table
    df = sql_dml.sql(spark, stmt)
    rows = (df if df is not None else mt.read(spark, path)).collect()
    assert sorted(r["id"] for r in rows) == ids


def test_merge_with_schema_evolution(spark, named_table):
    name, path, _ = named_table
    spark.createDataFrame(
        [(1, "alice", 1.0, "gold")], "id INT, name STRING, balance DOUBLE, tier STRING"
    ).createOrReplaceTempView("evo_feed")
    try:
        sql_dml.sql(
            spark,
            f"MERGE WITH SCHEMA EVOLUTION INTO {name} t USING evo_feed s "
            "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
        )
    finally:
        spark.catalog.dropTempView("evo_feed")
    rows = {r["id"]: r["tier"] for r in mt.read(spark, path).collect()}
    assert rows == {1: "gold", 2: None, 3: None}
