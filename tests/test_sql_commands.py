"""SQL DDL / utility commands (sources/sql_dml.sql_command): the rest
of the Delta SQL surface a SQL-first user speaks — CREATE TABLE /
ALTER TABLE / DESCRIBE HISTORY|DETAIL / OPTIMIZE / VACUUM / RESTORE —
parsed against registry names and dispatched to the DeltaTableBuilder /
facade / managed-table executors. One full SQL-only journey pins that a
user never needs the Python API."""

from __future__ import annotations

import pytest

from aws_callcenter_delta_lakehouse_spark.sources import (
    managed_table as mt,
    sql_dml,
    txn_catalog,
)
from aws_callcenter_delta_lakehouse_spark.sources.sql_dml import SqlDmlError


@pytest.fixture()
def registry(spark, tmp_path):
    reg = str(tmp_path / "registry")
    spark.conf.set("spark.managedTable.nameRegistry", reg)
    yield reg
    spark.conf.unset("spark.managedTable.nameRegistry")


def test_create_table_full_clause_set(spark, registry, tmp_path):
    loc = str(tmp_path / "calls")
    sql_dml.sql(
        spark,
        f"""
        CREATE TABLE sqlc.calls (
            call_id int,
            year int,
            month int,
            payload string
        ) USING delta
        PARTITIONED BY (year, month)
        LOCATION '{loc}'
        TBLPROPERTIES ('enableChangeDataFeed' = true, 'autoCompact' = false)
        COMMENT 'silver calls'
        """,
    )
    assert txn_catalog.resolve_table_name(registry, "sqlc.calls") == loc
    marker = mt._read_marker(loc)
    assert marker["partition_by"] == ["year", "month"]
    assert marker["properties"]["enableChangeDataFeed"] is True
    # IF NOT EXISTS: second create is a no-op, not an error
    sql_dml.sql(
        spark,
        f"CREATE TABLE IF NOT EXISTS sqlc.calls (call_id int) LOCATION '{loc}'",
    )
    # bare CREATE on an existing table refuses
    with pytest.raises(Exception):
        sql_dml.sql(
            spark,
            f"CREATE TABLE sqlc.calls (call_id int) LOCATION '{loc}'",
        )


def test_create_cluster_by_and_generated(spark, registry):
    sql_dml.sql(
        spark,
        """
        CREATE TABLE sqlc.metrics (
            id bigint,
            v double,
            v2 double GENERATED ALWAYS AS (v * 2)
        ) CLUSTER BY (id)
        """,
    )
    path = txn_catalog.resolve_table_name(
        spark.conf.get("spark.managedTable.nameRegistry"), "sqlc.metrics"
    )
    marker = mt._read_marker(path)
    assert marker["properties"]["autoOptimize"]["columns"] == ["id"]
    assert "v2" in (marker.get("generated") or {})
    sql_dml.sql(spark, "INSERT INTO sqlc.metrics (id, v) VALUES (1, 3.0)")
    row = mt.read(spark, path).first()
    assert row["v2"] == 6.0  # generated recomputed by the commit


def test_sql_only_journey(spark, registry, tmp_path):
    """CREATE → INSERT → ALTER ADD COLUMN DEFAULT → UPDATE → DESCRIBE
    HISTORY/DETAIL → OPTIMIZE → VACUUM DRY RUN → RESTORE — no Python
    API calls anywhere."""
    sql_dml.sql(
        spark,
        "CREATE TABLE sqlc.j (id bigint, v bigint) "
        f"LOCATION '{tmp_path / 'j'}'",
    )
    sql_dml.sql(
        spark, "INSERT INTO sqlc.j VALUES (1, 10), (2, 20), (3, 30)"
    )
    sql_dml.sql(
        spark, "ALTER TABLE sqlc.j ADD COLUMN (tag string DEFAULT 'x')"
    )
    path = txn_catalog.resolve_table_name(registry, "sqlc.j")
    assert [r.tag for r in mt.read(spark, path).collect()] == ["x"] * 3
    v_before_update = mt.table_version(path)
    sql_dml.sql(spark, "UPDATE sqlc.j SET v = v + 1 WHERE id = 2")
    hist = sql_dml.sql(spark, "DESCRIBE HISTORY sqlc.j")
    assert hist.count() >= 2
    detail = sql_dml.sql(spark, "DESCRIBE DETAIL sqlc.j")
    assert detail.count() == 1
    out = sql_dml.sql(spark, "OPTIMIZE sqlc.j")
    assert out is None or out  # compaction stats dict swallowed by sql()
    removed = sql_dml.sql_command(spark, "VACUUM sqlc.j RETAIN 0 HOURS DRY RUN")
    assert isinstance(removed, list)
    sql_dml.sql(
        spark, f"RESTORE TABLE sqlc.j TO VERSION AS OF {v_before_update}"
    )
    rows = {r.id: r.v for r in mt.read(spark, path).collect()}
    assert rows == {1: 10, 2: 20, 3: 30}  # the UPDATE rolled back


def test_alter_set_properties_and_rename_drop(spark, registry, tmp_path):
    sql_dml.sql(
        spark,
        f"CREATE TABLE sqlc.a (id bigint, old string) LOCATION '{tmp_path/'a'}'",
    )
    sql_dml.sql(spark, "INSERT INTO sqlc.a VALUES (1, 'v')")
    sql_dml.sql(
        spark,
        "ALTER TABLE sqlc.a SET TBLPROPERTIES ('appendOnly' = false, 'k' = 7)",
    )
    path = txn_catalog.resolve_table_name(registry, "sqlc.a")
    assert mt._read_marker(path)["properties"]["k"] == 7
    sql_dml.sql(spark, "ALTER TABLE sqlc.a RENAME COLUMN old TO fresh")
    assert "fresh" in mt.read(spark, path).columns
    sql_dml.sql(spark, "ALTER TABLE sqlc.a DROP COLUMN fresh")
    assert mt.read(spark, path).columns == ["id"]


def test_optimize_where_zorder_sql(spark, registry, tmp_path):
    sql_dml.sql(
        spark,
        "CREATE TABLE sqlc.z (id bigint, p int) PARTITIONED BY (p) "
        f"LOCATION '{tmp_path / 'z'}'",
    )
    df = spark.range(0, 40).selectExpr("id", "CAST(id % 2 AS INT) AS p")
    mt.append_rows(spark, df.repartition(4),
                   txn_catalog.resolve_table_name(registry, "sqlc.z"))
    out = sql_dml.sql_command(
        spark, "OPTIMIZE sqlc.z WHERE p = 1 ZORDER BY (id)"
    )
    assert out["after"]["n_files"] <= out["before"]["n_files"]
    path = txn_catalog.resolve_table_name(registry, "sqlc.z")
    assert mt.read(spark, path).count() == 40


def test_command_errors(spark, registry, tmp_path):
    with pytest.raises(SqlDmlError, match="CREATE TABLE needs"):
        sql_dml.sql(spark, "CREATE TABLE sqlc.bad")
    sql_dml.sql(
        spark,
        f"CREATE TABLE sqlc.e (id bigint) LOCATION '{tmp_path / 'e'}'",
    )
    with pytest.raises(SqlDmlError, match="ALTER TABLE supports"):
        sql_dml.sql(spark, "ALTER TABLE sqlc.e TRUNCATE")
    with pytest.raises(SqlDmlError, match="unsupported table format"):
        sql_dml.sql(
            spark,
            f"CREATE TABLE sqlc.csvt (id int) USING csv LOCATION '{tmp_path/'c'}'",
        )


def test_time_travel_reads_and_truncate(spark, registry, tmp_path):
    import time as _time

    sql_dml.sql(
        spark,
        f"CREATE TABLE sqlc.tt (id bigint, v bigint) LOCATION '{tmp_path/'tt'}'",
    )
    sql_dml.sql(spark, "INSERT INTO sqlc.tt VALUES (1, 10), (2, 20)")
    path = txn_catalog.resolve_table_name(registry, "sqlc.tt")
    v1 = mt.table_version(path)
    _time.sleep(0.05)
    import datetime as _dt

    ts_between = _dt.datetime.now().isoformat()
    _time.sleep(0.05)
    sql_dml.sql(spark, "UPDATE sqlc.tt SET v = v * 100")
    # VERSION AS OF the pre-update version
    old = sql_dml.sql(
        spark, f"SELECT SUM(v) AS s FROM sqlc.tt VERSION AS OF {v1}"
    ).first()["s"]
    assert old == 30
    # TIMESTAMP AS OF between the two commits
    old_ts = sql_dml.sql(
        spark,
        f"SELECT SUM(v) AS s FROM sqlc.tt TIMESTAMP AS OF '{ts_between}'",
    ).first()["s"]
    assert old_ts == 30
    props = sql_dml.sql(spark, "SHOW TBLPROPERTIES sqlc.tt")
    assert props.columns == ["key", "value"]
    sql_dml.sql(spark, "TRUNCATE TABLE sqlc.tt")
    assert mt.read(spark, path).count() == 0
    # non-registry names pass through untouched
    spark.range(3).createOrReplaceTempView("plain_view")
    assert sql_dml.sql(
        spark, "SELECT COUNT(*) AS c FROM plain_view"
    ).first()["c"] == 3
    spark.catalog.dropTempView("plain_view")


def test_copy_into_idempotent(spark, registry, tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id BIGINT, name STRING"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "batch1"))
    sql_dml.sql(
        spark,
        f"CREATE TABLE sqlc.cp (id bigint, name string) "
        f"LOCATION '{tmp_path / 'cp'}'",
    )
    out = sql_dml.sql_command(
        spark, f"COPY INTO sqlc.cp FROM '{src}' FILEFORMAT = PARQUET"
    )
    assert out["loaded_files"] >= 1 and out["rows"] == 2
    # re-run: nothing new -> nothing loaded
    out2 = sql_dml.sql_command(
        spark, f"COPY INTO sqlc.cp FROM '{src}' FILEFORMAT = PARQUET"
    )
    assert out2 == {"loaded_files": 0, "skipped_files": out["loaded_files"], "rows": 0}
    # a new file lands: only IT loads
    spark.createDataFrame(
        [(3, "c")], "id BIGINT, name STRING"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "batch2"))
    out3 = sql_dml.sql_command(
        spark, f"COPY INTO sqlc.cp FROM '{src}' FILEFORMAT = PARQUET"
    )
    assert out3["rows"] == 1
    path = txn_catalog.resolve_table_name(registry, "sqlc.cp")
    assert sorted(r.id for r in mt.read(spark, path).collect()) == [1, 2, 3]


def test_copy_into_csv_with_options_and_missing_column(spark, registry, tmp_path):
    from aws_callcenter_delta_lakehouse_spark.sources.copy_into import (
        copy_into,
        reset_copy_into,
    )

    csv = tmp_path / "in.csv"
    csv.write_text("id,name\n7,x\n8,y\n")
    sql_dml.sql(
        spark,
        f"CREATE TABLE sqlc.cpc (id bigint, name string, extra double) "
        f"LOCATION '{tmp_path / 'cpc'}'",
    )
    out = sql_dml.sql_command(
        spark,
        f"COPY INTO sqlc.cpc FROM '{csv}' FILEFORMAT = CSV "
        "FORMAT_OPTIONS ('header' = 'true')",
    )
    assert out["rows"] == 2
    path = txn_catalog.resolve_table_name(registry, "sqlc.cpc")
    rows = {r.id: (r.name, r.extra) for r in mt.read(spark, path).collect()}
    assert rows == {7: ("x", None), 8: ("y", None)}  # typed-NULL fill
    # unknown source column refuses
    bad = tmp_path / "bad.csv"
    bad.write_text("id,nope\n9,z\n")
    with pytest.raises(ValueError, match="not in the table schema"):
        copy_into(spark, path, str(bad), "csv", format_options={"header": "true"})
    # reset forgets the loaded set -> the same file loads again
    reset_copy_into(path)
    out2 = copy_into(
        spark, path, str(csv), "csv", format_options={"header": "true"}
    )
    assert out2["rows"] == 2
    assert mt.read(spark, path).count() == 4


def test_ctas_rtas_and_clone(spark, registry, tmp_path):
    spark.range(12).selectExpr(
        "id", "id % 4 AS b", "CAST(id * 2.5 AS DOUBLE) AS v"
    ).createOrReplaceTempView("ctas_src")
    sql_dml.sql(
        spark,
        "CREATE TABLE ctas.t PARTITIONED BY (b) "
        "TBLPROPERTIES ('enableChangeDataFeed' = true) COMMENT 'c' "
        "AS SELECT * FROM ctas_src",
    )
    p = txn_catalog.resolve_table_name(registry, "ctas.t")
    assert mt.read(spark, p).count() == 12
    marker = mt._read_marker(p)
    assert marker["partition_by"] == ["b"]
    assert marker["properties"]["enableChangeDataFeed"] is True
    assert marker["properties"]["comment"] == "c"
    # IF NOT EXISTS: no-op; bare CREATE: refuses
    sql_dml.sql(spark, "CREATE TABLE IF NOT EXISTS ctas.t AS SELECT 1 AS x")
    assert mt.read(spark, p).count() == 12
    with pytest.raises(SqlDmlError):
        sql_dml.sql(spark, "CREATE TABLE ctas.t AS SELECT 1 AS x")
    # RTAS replaces data and schema
    sql_dml.sql(
        spark,
        "CREATE OR REPLACE TABLE ctas.t AS "
        "SELECT id, v FROM ctas_src WHERE id < 5",
    )
    assert mt.read(spark, p).count() == 5
    assert set(mt.read(spark, p).columns) == {"id", "v"}
    # SHALLOW CLONE: independent from later source commits
    sql_dml.sql(spark, "CREATE TABLE ctas.c SHALLOW CLONE ctas.t")
    cp = txn_catalog.resolve_table_name(registry, "ctas.c")
    sql_dml.sql(spark, "UPDATE ctas.t SET v = 0.0")
    clone_vals = {r["v"] for r in mt.read(spark, cp).collect()}
    assert clone_vals == {0.0, 2.5, 5.0, 7.5, 10.0}
    # DEEP refused; VERSION AS OF refused; OR REPLACE CLONE refused
    with pytest.raises(SqlDmlError):
        sql_dml.sql(spark, "CREATE TABLE ctas.d DEEP CLONE ctas.t")
    with pytest.raises(SqlDmlError):
        sql_dml.sql(
            spark, "CREATE TABLE ctas.d CLONE ctas.t VERSION AS OF 0"
        )
    with pytest.raises(SqlDmlError):
        sql_dml.sql(spark, "CREATE OR REPLACE TABLE ctas.c CLONE ctas.t")
    spark.catalog.dropTempView("ctas_src")


def test_ctas_time_travel_source(spark, registry):
    spark.range(6).selectExpr("id", "id % 2 AS b").createOrReplaceTempView(
        "ctt_src"
    )
    sql_dml.sql(spark, "CREATE TABLE ctt.t AS SELECT * FROM ctt_src")
    sql_dml.sql(spark, "DELETE FROM ctt.t WHERE id >= 3")
    sql_dml.sql(
        spark, "CREATE TABLE ctt.old AS SELECT * FROM ctt.t VERSION AS OF 0"
    )
    old = txn_catalog.resolve_table_name(registry, "ctt.old")
    assert mt.read(spark, old).count() == 6
    spark.catalog.dropTempView("ctt_src")


def test_show_partitions(spark, registry):
    spark.range(9).selectExpr(
        "id", "id % 3 AS y", "CAST(id % 2 AS STRING) AS m"
    ).createOrReplaceTempView("sp_src")
    sql_dml.sql(
        spark,
        "CREATE TABLE sp.t PARTITIONED BY (y, m) AS SELECT * FROM sp_src",
    )
    out = sql_dml.sql(spark, "SHOW PARTITIONS sp.t")
    assert out.columns == ["y", "m"]
    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted(
        {(str(i % 3), str(i % 2)) for i in range(9)}
    )
    # unpartitioned refuses (Delta parity)
    sql_dml.sql(spark, "CREATE TABLE sp.flat AS SELECT 1 AS x")
    with pytest.raises(SqlDmlError):
        sql_dml.sql(spark, "SHOW PARTITIONS sp.flat")
    spark.catalog.dropTempView("sp_src")


def test_constraint_sql_and_reorg_purge(spark, registry):
    spark.range(10).selectExpr("id", "id * 10 AS v").createOrReplaceTempView(
        "cr_src"
    )
    sql_dml.sql(spark, "CREATE TABLE cr.t AS SELECT * FROM cr_src")
    p = txn_catalog.resolve_table_name(registry, "cr.t")
    sql_dml.sql(spark, "ALTER TABLE cr.t ADD CONSTRAINT v_ok CHECK (v >= 0)")
    assert mt.table_constraints(p) == {"v_ok": "v >= 0"}
    # constraint enforced on the next commit
    with pytest.raises(Exception):
        sql_dml.sql(spark, "UPDATE cr.t SET v = -5 WHERE id = 1")
    # violating ADD refused
    with pytest.raises(mt.ConstraintViolationError):
        sql_dml.sql(
            spark, "ALTER TABLE cr.t ADD CONSTRAINT bad CHECK (v > 50)"
        )
    sql_dml.sql(spark, "ALTER TABLE cr.t DROP CONSTRAINT v_ok")
    assert mt.table_constraints(p) == {}
    # REORG APPLY (PURGE) materializes a DV soft delete
    mt.delete_where(spark, p, "id = 3", deletion_vectors=True)
    assert mt._read_marker(p).get("dv")
    info = sql_dml.sql_command(spark, "REORG TABLE cr.t APPLY (PURGE)")
    assert isinstance(info, dict)
    assert not mt._read_marker(p).get("dv")
    assert mt.read(spark, p).count() == 9
    spark.catalog.dropTempView("cr_src")


def test_ctas_cluster_by_and_placement_conflict(spark, registry, tmp_path):
    spark.range(8).selectExpr("id", "id % 2 AS g").createOrReplaceTempView(
        "cb_src"
    )
    sql_dml.sql(
        spark, "CREATE TABLE cb.t CLUSTER BY (id) AS SELECT * FROM cb_src"
    )
    p = txn_catalog.resolve_table_name(registry, "cb.t")
    assert mt._read_marker(p)["properties"]["autoOptimize"]["columns"] == [
        "id"
    ]
    with pytest.raises(SqlDmlError):
        sql_dml.sql(
            spark,
            "CREATE TABLE cb.x PARTITIONED BY (g) CLUSTER BY (id) "
            "AS SELECT * FROM cb_src",
        )
    # a name bound to one path refuses creation at another
    with pytest.raises(SqlDmlError):
        sql_dml.sql(
            spark,
            f"CREATE OR REPLACE TABLE cb.t LOCATION '{tmp_path}/elsewhere' "
            "AS SELECT 1 AS x",
        )
    spark.catalog.dropTempView("cb_src")


def test_sql_script_multi_statement(spark, registry):
    out = sql_dml.sql_script(
        spark,
        """
        -- a .sql file, comments and all
        CREATE TABLE scr.t (id bigint, note string) LOCATION '{loc}';
        INSERT INTO scr.t VALUES (1, 'a;b -- not a comment'), (2, 'c');
        UPDATE scr.t SET note = 'x' WHERE id = 2;  -- trailing comment
        SHOW TBLPROPERTIES scr.t;
        """.replace("{loc}", registry + "/scr_t"),
    )
    assert len(out) == 4
    p = txn_catalog.resolve_table_name(registry, "scr.t")
    rows = sorted(
        (r["id"], r["note"]) for r in mt.read(spark, p).collect()
    )
    assert rows == [(1, "a;b -- not a comment"), (2, "x")]


def test_sql_script_failure_keeps_earlier_commits(spark, registry):
    with pytest.raises(SqlDmlError):
        sql_dml.sql_script(
            spark,
            f"""
            CREATE TABLE scr.f (id bigint) LOCATION '{registry}/scr_f';
            INSERT INTO scr.f VALUES (7);
            REORG TABLE scr.f APPLY (FROBNICATE);
            """,
        )
    p = txn_catalog.resolve_table_name(registry, "scr.f")
    assert mt.read(spark, p).count() == 1


def test_show_tables_describe_drop(spark, tmp_path):
    """SHOW TABLES / DESCRIBE TABLE / DROP TABLE — the catalog-listing
    verbs a SQL-first user expects after CREATE."""
    import pytest as _pytest

    from aws_callcenter_delta_lakehouse_spark.sources import (
        managed_table as mt,
        sql_dml,
        txn_catalog,
    )

    registry = str(tmp_path / "registry")
    spark.conf.set("spark.managedTable.nameRegistry", registry)
    try:
        for nm in ("showdb.a", "showdb.b", "other.c"):
            p = str(tmp_path / nm.replace(".", "_"))
            mt.commit_overwrite(
                spark.range(2).selectExpr("id", "id * 2 AS v"), p
            )
            txn_catalog.register_table_name(registry, nm, p)

        allt = sql_dml.sql(spark, "SHOW TABLES").collect()
        assert {(r["namespace"], r["tableName"]) for r in allt} == {
            ("showdb", "a"), ("showdb", "b"), ("other", "c"),
        }
        assert all(r["isTemporary"] is False for r in allt)
        some = sql_dml.sql(spark, "SHOW TABLES IN showdb").collect()
        assert {r["tableName"] for r in some} == {"a", "b"}

        desc = sql_dml.sql(spark, "DESCRIBE TABLE showdb.a").collect()
        assert [(r["col_name"], r["data_type"]) for r in desc] == [
            ("id", "bigint"), ("v", "bigint"),
        ]
        # bare DESCRIBE works too
        assert len(sql_dml.sql(spark, "DESCRIBE showdb.a").collect()) == 2

        sql_dml.sql(spark, "DROP TABLE showdb.b")
        left = sql_dml.sql(spark, "SHOW TABLES IN showdb").collect()
        assert {r["tableName"] for r in left} == {"a"}
        # the DATA survives a DROP (external-location semantics)
        assert mt.read(spark, str(tmp_path / "showdb_b")).count() == 2

        with _pytest.raises(sql_dml.SqlDmlError, match="no such table"):
            sql_dml.sql(spark, "DROP TABLE showdb.b")
        sql_dml.sql(spark, "DROP TABLE IF EXISTS showdb.b")  # no raise
    finally:
        spark.conf.unset("spark.managedTable.nameRegistry")


def test_create_view_logical(spark, tmp_path):
    """Registry logical views: CREATE VIEW stores SQL, reads re-resolve
    against the LIVE tables, views compose, cycles and bad SQL fail
    fast, DROP VIEW/TABLE stay kind-checked."""
    import pytest as _pytest

    from aws_callcenter_delta_lakehouse_spark.sources import (
        managed_table as mt,
        sql_dml,
        txn_catalog,
    )

    registry = str(tmp_path / "registry")
    spark.conf.set("spark.managedTable.nameRegistry", registry)
    p = str(tmp_path / "base")
    try:
        mt.commit_overwrite(
            spark.range(10).selectExpr("id", "id % 3 AS grp"), p,
            keys=("id",),
        )
        txn_catalog.register_table_name(registry, "vdb.base", p)

        sql_dml.sql(
            spark,
            "CREATE VIEW vdb.evens AS "
            "SELECT id, grp FROM vdb.base WHERE id % 2 = 0",
        )
        assert sql_dml.sql(
            spark, "SELECT count(*) AS n FROM vdb.evens"
        ).first()["n"] == 5

        # view over view
        sql_dml.sql(
            spark,
            "CREATE VIEW vdb.even_g0 AS "
            "SELECT id FROM vdb.evens WHERE grp = 0",
        )
        assert sql_dml.sql(
            spark, "SELECT count(*) AS n FROM vdb.even_g0"
        ).first()["n"] == 2  # ids 0, 6

        # LIVE resolution: a commit changes what the view serves
        sql_dml.sql(spark, "DELETE FROM vdb.base WHERE id = 0")
        assert sql_dml.sql(
            spark, "SELECT count(*) AS n FROM vdb.even_g0"
        ).first()["n"] == 1

        # bad SQL fails the CREATE, not later reads
        with _pytest.raises(Exception):
            sql_dml.sql(
                spark,
                "CREATE VIEW vdb.broken AS SELECT nope FROM vdb.base",
            )
        assert "vdb.broken" not in txn_catalog.list_view_names(registry)

        # CREATE without REPLACE refuses a second binding
        with _pytest.raises(txn_catalog.TableNameError):
            sql_dml.sql(
                spark,
                "CREATE VIEW vdb.evens AS SELECT id FROM vdb.base",
            )
        sql_dml.sql(
            spark,
            "CREATE OR REPLACE VIEW vdb.evens AS "
            "SELECT id, grp FROM vdb.base WHERE id % 2 = 1",
        )
        assert sql_dml.sql(
            spark, "SELECT count(*) AS n FROM vdb.evens"
        ).first()["n"] == 5

        # SHOW TABLES lists views; kind checks on DROP
        names = {
            (r["namespace"], r["tableName"])
            for r in sql_dml.sql(spark, "SHOW TABLES IN vdb").collect()
        }
        assert names == {("vdb", "base"), ("vdb", "evens"),
                         ("vdb", "even_g0")}
        with _pytest.raises(sql_dml.SqlDmlError, match="DROP TABLE"):
            sql_dml.sql(spark, "DROP VIEW vdb.base")
        with _pytest.raises(txn_catalog.TableNameError, match="VIEW"):
            sql_dml.sql(spark, "DELETE FROM vdb.evens WHERE id = 1")
        sql_dml.sql(spark, "DROP VIEW vdb.even_g0")
        sql_dml.sql(spark, "DROP VIEW IF EXISTS vdb.even_g0")
        assert "vdb.even_g0" not in txn_catalog.list_view_names(registry)
    finally:
        spark.conf.unset("spark.managedTable.nameRegistry")


def test_show_create_table(spark, tmp_path):
    from aws_callcenter_delta_lakehouse_spark.sources import (
        managed_table as mt,
        sql_dml,
        txn_catalog,
    )

    registry = str(tmp_path / "registry")
    p = str(tmp_path / "t")
    spark.conf.set("spark.managedTable.nameRegistry", registry)
    try:
        mt.commit_overwrite(
            spark.range(4).selectExpr(
                "id", "concat('p', CAST(id AS STRING)) AS part"
            ),
            p,
            partition_by=["part"],
            properties={"enableChangeDataFeed": True},
        )
        txn_catalog.register_table_name(registry, "sct.t", p)
        ddl = sql_dml.sql(spark, "SHOW CREATE TABLE sct.t").first()[
            "createtab_stmt"
        ]
        assert "CREATE TABLE sct.t" in ddl
        assert "`id` BIGINT" in ddl and "`part` STRING" in ddl
        assert "USING delta" in ddl
        assert "PARTITIONED BY (`part`)" in ddl
        assert "'enableChangeDataFeed' = 'true'" in ddl
        assert f"LOCATION '{p}'" in ddl
    finally:
        spark.conf.unset("spark.managedTable.nameRegistry")


def test_insert_with_cte_restore_timestamp_analyze(spark, tmp_path):
    """Round-11 SQL verbs batch: INSERT INTO ... WITH, RESTORE TO
    TIMESTAMP AS OF, ANALYZE TABLE COMPUTE STATISTICS [FOR COLUMNS]."""
    import datetime as dt
    import json
    import os
    import time

    from aws_callcenter_delta_lakehouse_spark.sources import (
        managed_table as mt,
        sql_dml,
        txn_catalog,
    )

    registry = str(tmp_path / "registry")
    p = str(tmp_path / "t")
    spark.conf.set("spark.managedTable.nameRegistry", registry)
    try:
        mt.commit_overwrite(
            spark.range(5).selectExpr("id", "id * 2 AS v"), p, keys=("id",)
        )
        txn_catalog.register_table_name(registry, "r11.t", p)

        # INSERT INTO ... WITH (CTE source, bare-name reference inside)
        sql_dml.sql(
            spark,
            "INSERT INTO r11.t "
            "WITH src AS (SELECT id + 10 AS id, v FROM r11.t WHERE id < 2) "
            "SELECT id, v FROM src",
        )
        assert mt.read(spark, p).count() == 7

        ts_after_v1 = dt.datetime.now().isoformat()
        time.sleep(1.1)
        sql_dml.sql(spark, "DELETE FROM r11.t WHERE id >= 10")
        assert mt.read(spark, p).count() == 5

        # RESTORE to the pre-delete timestamp brings the rows back
        sql_dml.sql(
            spark,
            f"RESTORE TABLE r11.t TO TIMESTAMP AS OF '{ts_after_v1}'",
        )
        assert mt.read(spark, p).count() == 7

        # ANALYZE refreshes the zone-map manifest; FOR COLUMNS blooms
        sql_dml.sql(spark, "ANALYZE TABLE r11.t COMPUTE STATISTICS")
        stats = json.loads(open(os.path.join(p, "_stats_manifest.json")).read())
        assert stats  # one entry per live file
        sql_dml.sql(
            spark, "ANALYZE TABLE r11.t COMPUTE STATISTICS FOR COLUMNS id"
        )
        bloom = json.loads(open(os.path.join(p, "_bloom_manifest.json")).read())
        assert bloom["files"]
    finally:
        spark.conf.unset("spark.managedTable.nameRegistry")


# -- DDL and catalog statements dispatch on Spark's parsed plan ---------------


def _bound_table(spark, registry, tmp_path, name="pc.a"):
    p = str(tmp_path / name.replace(".", "_"))
    mt.commit_overwrite(spark.range(3).selectExpr("id", "id * 2 AS v"), p)
    txn_catalog.register_table_name(registry, name, p)
    return p


@pytest.mark.parametrize(
    "prefix", ["/* note */ ", "-- note\n", "  /* a */ -- b\n /* c */"],
    ids=["block", "line", "mixed"],
)
def test_leading_comment_keeps_registry_routing(spark, registry, tmp_path, prefix):
    """A comment before the verb must not send a registry statement to
    Spark's session catalog (which does not know the name)."""
    p = _bound_table(spark, registry, tmp_path)
    desc = sql_dml.sql(spark, prefix + "DESCRIBE TABLE pc.a").collect()
    assert [r["col_name"] for r in desc] == ["id", "v"]
    hist = sql_dml.sql(spark, prefix + "DESCRIBE HISTORY pc.a")
    assert hist.count() == 1
    sql_dml.sql(spark, prefix + "DROP TABLE pc.a")
    assert "pc.a" not in txn_catalog.list_table_names(registry)
    assert mt.read(spark, p).count() == 3  # DROP unbinds; data stays


def test_desc_short_form(spark, registry, tmp_path):
    _bound_table(spark, registry, tmp_path)
    rows = sql_dml.sql(spark, "DESC pc.a").collect()
    assert [(r["col_name"], r["data_type"]) for r in rows] == [
        ("id", "bigint"), ("v", "bigint"),
    ]


def test_create_table_nested_types_and_column_comment(spark, registry):
    sql_dml.sql(
        spark,
        """CREATE TABLE nt.t (
            id bigint COMMENT 'the key',
            tags ARRAY<STRING>,
            m MAP<STRING, ARRAY<INT>>,
            s STRUCT<a: INT, `b c`: STRING>,
            amount DECIMAL(10, 2)
        )""",
    )
    schema = mt.read(spark, txn_catalog.resolve_table_name(registry, "nt.t")).schema
    assert [(f.name, f.dataType.simpleString()) for f in schema.fields] == [
        ("id", "bigint"),
        ("tags", "array<string>"),
        ("m", "map<string,array<int>>"),
        ("s", "struct<a:int,b c:string>"),
        ("amount", "decimal(10,2)"),
    ]


def test_explicit_registry_dir_reaches_column_list_create(spark, tmp_path):
    """sql(..., registry_dir=X) with the session conf unset: the
    column-list CREATE binds the name in X, as CTAS and CLONE do."""
    reg = str(tmp_path / "explicit_registry")
    assert not spark.conf.get("spark.managedTable.nameRegistry", None)
    sql_dml.sql(spark, "CREATE TABLE xr.t (id bigint)", reg)
    sql_dml.sql(spark, "INSERT INTO xr.t VALUES (1), (2)", reg)
    path = txn_catalog.resolve_table_name(reg, "xr.t")
    assert mt.read(spark, path).count() == 2
    sql_dml.sql(spark, "CREATE TABLE xr.c AS SELECT * FROM xr.t", reg)
    assert "xr.c" in txn_catalog.list_table_names(reg)


@pytest.mark.parametrize(
    "coldef",
    ["id bigint NOT NULL", "id bigint GENERATED ALWAYS AS IDENTITY", "id bigint DEFAULT 5"],
    ids=["not_null", "identity", "default"],
)
def test_create_refuses_what_the_builder_cannot_honour(spark, registry, coldef):
    """Guard (these refusals held before the parser move too)."""
    with pytest.raises(SqlDmlError):
        sql_dml.sql(spark, f"CREATE TABLE rf.t ({coldef})")
    assert "rf.t" not in txn_catalog.list_table_names(registry)


def test_check_constraint_nested_parentheses(spark, registry, tmp_path):
    """Guard: the CHECK keeps its original SQL text, nested parentheses
    and all."""
    p = _bound_table(spark, registry, tmp_path)
    sql_dml.sql(
        spark, "ALTER TABLE pc.a ADD CONSTRAINT c1 CHECK ((v >= 0) AND (id < (10 + 1)))"
    )
    assert mt.table_constraints(p) == {"c1": "(v >= 0) AND (id < (10 + 1))"}


def test_sql_create_and_builder_agree(spark, registry):
    """One declaration — partitioned, a nested type, a generated column,
    properties — through SQL CREATE and through the Python builder: the
    markers agree on everything the declaration sets."""
    from aws_callcenter_delta_lakehouse_spark.sources.delta_api import DeltaTable

    sql_dml.sql(
        spark,
        "CREATE TABLE par.sql_t (id bigint, day string, tags array<string>, "
        "v double, v2 double GENERATED ALWAYS AS (v * 2)) PARTITIONED BY (day) "
        "TBLPROPERTIES ('enableChangeDataFeed' = true, 'k' = 7) COMMENT 'c'",
    )
    (
        DeltaTable.create(spark)
        .tableName("par.py_t")
        .addColumn("id", "bigint")
        .addColumn("day", "string")
        .addColumn("tags", "array<string>")
        .addColumn("v", "double")
        .addColumn("v2", "double", generatedAlwaysAs="v * 2")
        .partitionedBy("day")
        .property("enableChangeDataFeed", True)
        .property("k", 7)
        .comment("c")
        .execute()
    )
    a, b = (
        mt._read_marker(txn_catalog.resolve_table_name(registry, n))
        for n in ("par.sql_t", "par.py_t")
    )
    for key in ("schema_json", "partition_by", "generated", "properties"):
        assert a.get(key) == b.get(key), key
    assert a["properties"] == {"enableChangeDataFeed": True, "k": 7, "comment": "c"}


def test_string_false_switches_a_boolean_property_off(spark, registry, tmp_path):
    """A property value 'false' — from SQL TBLPROPERTIES, the builder or
    set_table_property — is off: a later DELETE writes no change-data
    sidecar."""
    from aws_callcenter_delta_lakehouse_spark.sources.delta_api import DeltaTable

    sql_dml.sql(
        spark,
        "CREATE TABLE bp.sql_t (id bigint) "
        "TBLPROPERTIES ('enableChangeDataFeed' = 'false')",
    )
    DeltaTable.create(spark).tableName("bp.py_t").addColumn("id", "bigint").property(
        "enableChangeDataFeed", "false"
    ).execute()
    set_path = str(tmp_path / "set_t")
    mt.commit_overwrite(spark.range(3), set_path)
    mt.set_table_property(set_path, "enableChangeDataFeed", "false")
    txn_catalog.register_table_name(registry, "bp.set_t", set_path)
    for name in ("bp.sql_t", "bp.py_t", "bp.set_t"):
        sql_dml.sql(spark, f"INSERT INTO {name} VALUES (7), (8)")
        sql_dml.sql(spark, f"DELETE FROM {name} WHERE id = 7")
        path = txn_catalog.resolve_table_name(registry, name)
        assert not mt.table_detail(path)["has_change_data"], name
    # a string 'TRUE' is on
    mt.set_table_property(set_path, "enableChangeDataFeed", "TRUE")
    sql_dml.sql(spark, "DELETE FROM bp.set_t WHERE id = 8")
    assert mt.table_detail(set_path)["has_change_data"]


def test_sql_script_splits_around_block_comments(spark):
    out = sql_dml.sql_script(
        spark, "SELECT 1 /* a; b */ AS x; SELECT 2 AS y /* ; */ -- c; d\n"
    )
    assert [r.asDict() for df in out for r in df.collect()] == [{"x": 1}, {"y": 2}]


def test_regex_stays_with_the_delta_verbs():
    """Hand-written SQL parsing stays only where Spark's parser cannot
    help: every ``re.`` call in sql_dml.py sits in a Delta-verb handler
    (OPTIMIZE, VACUUM, RESTORE, REORG, COPY INTO, DESCRIBE
    HISTORY|DETAIL, CLONE), a sql_script splitting / comment-stripping
    helper, or the ``t$files`` metadata-table pre-pass."""
    import ast
    from pathlib import Path

    allowed = {
        # Delta verbs Spark rejects or misreads
        "_COMMAND_RE", "_delta_command", "_clone_table_sql", "_optimize",
        "_scan", "_parse_relation",
        # sql_script splitting / comment stripping
        "_LEX_RE",
        # the t$files metadata-table pre-pass
        "_MD_RE",
    }
    tree = ast.parse(Path(sql_dml.__file__).read_text())
    offenders = []
    for top in tree.body:
        if isinstance(top, (ast.FunctionDef, ast.ClassDef)):
            owner = top.name
        elif isinstance(top, ast.Assign) and isinstance(top.targets[0], ast.Name):
            owner = top.targets[0].id
        else:
            owner = None
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "re"
                and owner not in allowed
            ):
                offenders.append(f"{owner}:{node.lineno}")
    assert offenders == []
