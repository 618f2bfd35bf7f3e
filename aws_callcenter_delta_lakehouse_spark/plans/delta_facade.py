"""Registry queries driving DML through the delta-spark ``DeltaTable``
facade (``sources/delta_api.py``) — the reference's literal API surface
(``/root/reference/glue_jobs/01_silver_delta_upsert.py:99-112``), made
CORRECTNESS-visible: the oracle reconstructs the post-merge table
directly from the source views, so the clause resolution (first
applicable wins), delete filtering, insert anti-join, and the
classic-vs-general plan routing all have to be right for the value
hashes to match.

- ``delta_api_merge_clauses`` — the GENERAL merge executor: conditional
  ``whenMatchedUpdate`` + ``whenMatchedDelete`` + ``whenNotMatchedInsertAll``
  (clause conditions force the general path; one left_outer + one
  left_anti join, key-partitioned shuffles).
- ``delta_api_convert_upsert`` — ``convertToDelta`` adoption of a plain
  parquet directory followed by the reference's classic
  ``updateAll + insertAll`` combo, which routes to the
  ``merge_upsert`` key-join plan.

Scale note: the managed-table scratch writes are the point (the commit
protocol is the operator under test); the analytical read-back is a
single hash-agg on the merged snapshot.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import query


@query(
    "delta_api_merge_clauses",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, o_custkey, o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 0
    ), src AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ), kept AS (
      -- matched & even custkey -> updated to 'X'; matched & odd -> deleted;
      -- unmatched target rows pass through unchanged
      SELECT t.o_orderkey, t.o_custkey,
             CASE WHEN s.o_orderkey IS NOT NULL AND t.o_custkey % 2 = 0
                  THEN 'X' ELSE t.o_orderstatus END AS o_orderstatus
      FROM target t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
      WHERE s.o_orderkey IS NULL OR t.o_custkey % 2 = 0
    ), ins AS (
      SELECT o_orderkey, o_custkey, o_orderstatus
      FROM src WHERE o_orderkey % 3 <> 0
    ), merged AS (
      SELECT * FROM kept UNION ALL SELECT * FROM ins
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
    FROM merged GROUP BY o_orderstatus
    """,
)
def delta_api_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-clause Delta MERGE through the facade: a third of orders is
    the target table, even-keyed orders the source; matched rows update
    to status 'X' when the customer key is even, are DELETED when odd,
    and unmatched source rows insert — the general executor's one
    left_outer + one left_anti plan. The read-back aggregate equals the
    oracle's direct reconstruction only if every clause resolved in
    Delta order."""
    from ..sources import managed_table as mt
    from ..sources.delta_api import DeltaTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    path = tempfile.mkdtemp(prefix="dapi_gen_") + "/t"
    mt.initial_write(
        orders.filter(F.col("o_orderkey") % 3 == 0), path,
        keys=("o_orderkey",),
    )
    src = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_orderstatus", F.lit("X")
    )
    (
        DeltaTable.forPath(spark, path).alias("t")
        .merge(source=src.alias("s"), condition="t.o_orderkey = s.o_orderkey")
        .whenMatchedUpdate(
            condition="t.o_custkey % 2 = 0",
            set={"o_orderstatus": "s.o_orderstatus"},
        )
        .whenMatchedDelete(condition="t.o_custkey % 2 = 1")
        .whenNotMatchedInsertAll()
        .execute()
    )
    return (
        mt.read(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("o_custkey").cast("long").alias("sum_cust"),
        )
    )


@query(
    "delta_append_ingest",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def delta_append_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blind-APPEND ingest path (`managed_table.append_rows` —
    Delta ``mode("append")``): a quarter of orders loads initially,
    the remaining three quarters land as TWO append commits that
    hardlink the existing files and write only the new rows
    (O(appended), never a rewrite). The final aggregate equals the
    oracle's direct scan of the whole view only if no append lost,
    duplicated, or reordered anything across the three commits. Money
    as integer cents (trap #13)."""
    import tempfile

    from ..sources import managed_table as mt

    # cut once (r13 opt): three quarter-slices feed the three commits —
    # uncut, the orders scan+projection ran 4x
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).localCheckpoint(eager=False)
    path = tempfile.mkdtemp(prefix="append_ingest_") + "/t"
    mt.commit_overwrite(
        orders.filter(F.col("o_orderkey") % 4 == 0), path,
        keys=("o_orderkey",),
    )
    mt.append_rows(
        spark, orders.filter(F.col("o_orderkey") % 4 == 1), path,
        txn={"app": "ingest", "last_epoch": 1},
    )
    mt.append_rows(
        spark, orders.filter(F.col("o_orderkey") % 4 >= 2), path,
        txn={"app": "ingest", "last_epoch": 2},
    )
    return (
        mt.read(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
    )


@query(
    "streaming_table_snapshot_tail",
    oracle="""
    WITH snap AS (
      SELECT c_custkey, c_name, c_nationkey
      FROM customer WHERE c_custkey % 3 = 0
    ), ins AS (
      SELECT c_custkey, c_name, c_nationkey
      FROM customer WHERE c_custkey % 3 = 1
    ), post AS (
      SELECT c_custkey, c_name, CAST(-1 AS INT) AS c_nationkey
      FROM customer
      WHERE c_custkey % 3 IN (0, 1) AND c_custkey % 5 = 0
    )
    SELECT * FROM (
      SELECT * FROM snap UNION ALL SELECT * FROM ins
      UNION ALL SELECT * FROM post)
    ORDER BY c_custkey, c_nationkey, c_name
    """,
)
def streaming_table_snapshot_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PLAIN table stream (Delta ``readStream.format("delta")``
    analogue, `managed_table_stream` in sources/pydatasource.py) end to
    end: snapshot of version 0 as the first microbatch, an insert-only
    merge tailed from its change sidecar, and an UPDATE commit streamed
    as post-images under ``ignoreChanges`` — all three phases land in
    one memory sink whose exact rows the oracle reconstructs from the
    source view. Deterministic predicates; O(changes) tail (one input
    partition per sidecar file); scratch table in a per-run temp dir."""
    import tempfile
    import uuid as _uuid

    from ..sources import managed_table as mt
    from ..sources.pydatasource import make_table_stream_source

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    path = tempfile.mkdtemp(prefix="tbl_stream_") + "/t"
    mt.commit_overwrite(
        base.filter(F.col("c_custkey") % 3 == 0), path, keys=("c_custkey",)
    )
    mt.set_table_property(path, "enableChangeDataFeed", True)
    mt.merge_upsert(  # v1: insert-only
        spark, path, base.filter(F.col("c_custkey") % 3 == 1),
        keys=("c_custkey",),
    )
    mt.update_where(  # v2: post-images under ignoreChanges
        spark, path, "c_custkey % 5 = 0",
        {"c_nationkey": F.lit(-1).cast("int")},
    )
    spark.dataSource.register(make_table_stream_source())
    sink = f"tbl_stream_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("managed_table_stream")
        .option("path", path)
        .option("startingversion", 0)
        .option("ignorechanges", True)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import os as _os
    import shutil

    shutil.rmtree(_os.path.dirname(path), ignore_errors=True)
    return spark.table(sink).orderBy("c_custkey", "c_nationkey", "c_name")


@query(
    "delta_api_convert_upsert",
    oracle="""
    WITH target AS (
      SELECT c_custkey, c_nationkey, c_mktsegment
      FROM customer WHERE c_custkey % 2 = 1
    ), src AS (
      SELECT c_custkey, c_nationkey, 'UPD' AS c_mktsegment
      FROM customer WHERE c_custkey % 3 = 0
    ), merged AS (
      SELECT t.c_custkey,
             COALESCE(s.c_nationkey, t.c_nationkey) AS c_nationkey,
             CASE WHEN s.c_custkey IS NOT NULL
                  THEN 'UPD' ELSE t.c_mktsegment END AS c_mktsegment
      FROM target t LEFT JOIN src s ON t.c_custkey = s.c_custkey
      UNION ALL
      SELECT c_custkey, c_nationkey, c_mktsegment
      FROM src WHERE c_custkey % 2 = 0
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_nationkey) AS BIGINT) AS sum_nat
    FROM merged GROUP BY c_mktsegment
    """,
)
def delta_api_convert_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA + the reference's classic merge idiom: odd-keyed
    customers land as a PLAIN parquet directory, ``convertToDelta``
    adopts it in place (marker only — no rewrite), and the literal
    ``updateAll + insertAll`` combo from the Silver job routes through
    the key-join ``merge_upsert`` plan. The aggregate proves both the
    adoption (nothing lost/duplicated) and the upsert."""
    from ..sources import managed_table as mt
    from ..sources.delta_api import DeltaTable

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    path = tempfile.mkdtemp(prefix="dapi_cvt_") + "/t"
    cust.filter(F.col("c_custkey") % 2 == 1).write.parquet(path)
    DeltaTable.convertToDelta(spark, path, keys=("c_custkey",))
    src = cust.filter(F.col("c_custkey") % 3 == 0).withColumn(
        "c_mktsegment", F.lit("UPD")
    )
    (
        DeltaTable.forPath(spark, path).alias("t")
        .merge(source=src.alias("s"), condition="t.c_custkey = s.c_custkey")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    return (
        mt.read(spark, path)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("c_nationkey").cast("long").alias("sum_nat"),
        )
    )


@query(
    "delta_api_name_first",
    oracle="""
    WITH base AS (
      SELECT c_custkey,
             CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT)
               AS cents
      FROM customer
    ), seeded AS (
      SELECT c_custkey, cents FROM base WHERE c_custkey % 3 = 0
    ), upd AS (
      SELECT c_custkey, cents + 10000 AS cents FROM base
      WHERE c_custkey % 2 = 0
    ), merged AS (
      -- updateAll+insertAll over the seed == full outer, source wins
      SELECT COALESCE(u.c_custkey, s.c_custkey) AS c_custkey,
             COALESCE(u.cents, s.cents) AS cents
      FROM seeded s FULL OUTER JOIN upd u ON s.c_custkey = u.c_custkey
    )
    SELECT CAST(c_custkey % 5 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM merged GROUP BY 1
    """,
)
def delta_api_name_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAME-ADDRESSED tables end to end (the reference's Glue-catalog
    idiom, ``sql/athena_queries.sql:14``): CREATE by ``tableName`` (data
    under the registry's managed warehouse), seed + upsert through
    ``DeltaTable.forName`` merges, then the read-back runs through
    ``spark.sql`` over the registered name (``register_sql_view``) — no
    path appears in the query surface. Money as integer cents (trap
    #13); the oracle reconstructs the upsert as a full-outer
    source-wins join."""
    import shutil
    import tempfile

    from ..sources import managed_table as mt  # noqa: F401 (parity imports)
    from ..sources.delta_api import (
        _REGISTRY_CONF,
        DeltaTable,
        register_sql_view,
    )

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    registry = tempfile.mkdtemp(prefix="dapi_namereg_")
    spark.conf.set(_REGISTRY_CONF, registry)
    try:
        (
            DeltaTable.create(spark)
            .tableName("regq_nf.cust")
            .addColumn("c_custkey", "bigint")
            .addColumn("cents", "bigint")
            .primaryKeys("c_custkey")
            .execute()
        )
        seed = base.filter(F.col("c_custkey") % 3 == 0)
        (
            DeltaTable.forName(spark, "regq_nf.cust").alias("t")
            .merge(seed.alias("s"), "t.c_custkey = s.c_custkey")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        upd = base.filter(F.col("c_custkey") % 2 == 0).withColumn(
            "cents", F.col("cents") + F.lit(10000)
        )
        (
            DeltaTable.forName(spark, "regq_nf.cust").alias("t")
            .merge(upd.alias("s"), "t.c_custkey = s.c_custkey")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        register_sql_view(spark, "regq_nf.cust")
        out = spark.sql(
            """
            SELECT CAST(c_custkey % 5 AS BIGINT) AS bucket,
                   COUNT(*) AS n_rows,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM regq_nf.cust GROUP BY 1
            """
        )
        # materialize BEFORE the rmtree (lazy frames read deleted paths)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.sql("DROP DATABASE IF EXISTS regq_nf CASCADE")
        spark.conf.unset(_REGISTRY_CONF)
        shutil.rmtree(registry, ignore_errors=True)


@query(
    "delta_api_log_export_read",
    oracle="""
    SELECT n_nationkey % 5 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_regionkey) AS BIGINT) AS sum_region
    FROM nation GROUP BY 1
    """,
)
def delta_api_log_export_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-log EXPORT interop (`maintenance.export_delta_log`): the
    nation table commits as a managed snapshot, a real `_delta_log`
    (public delta-io protocol JSON) is exported over it, and the
    read-back scans EXACTLY the add-listed files the way an external
    Delta engine would — matching the oracle proves the log's file
    inventory is complete and nothing else leaked in."""
    import json as _json
    import os as _os
    import tempfile
    from urllib.parse import unquote

    from ..sources import managed_table as mt
    from ..sources.maintenance import export_delta_log

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    path = tempfile.mkdtemp(prefix="dapi_dlog_") + "/t"
    mt.commit_overwrite(nation.repartition(3), path, keys=("n_nationkey",))
    log_file = export_delta_log(spark, path)
    with open(log_file) as f:
        actions = [_json.loads(line) for line in f if line.strip()]
    files = [
        _os.path.join(path, unquote(a["add"]["path"]))
        for a in actions
        if "add" in a
    ]
    out = (
        spark.read.parquet(*files)
        .groupBy((F.col("n_nationkey") % 5).alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_regionkey").cast("long").alias("sum_region"),
        )
    )
    # materialize BEFORE the scratch dir disappears with the registry
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "sql_merge_into_upsert",
    oracle="""
    WITH base AS (
      SELECT c_custkey,
             CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT)
               AS cents
      FROM customer
    ), tgt AS (
      SELECT c_custkey, cents FROM base WHERE c_custkey % 3 = 0
    ), src AS (
      SELECT c_custkey, cents + 10000 AS cents FROM base
      WHERE c_custkey % 2 = 0
    ), merged AS (
      -- UPDATE SET * / INSERT * over the keyed target == full outer,
      -- source wins
      SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
             COALESCE(s.cents, t.cents) AS cents
      FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
    )
    SELECT CAST(c_custkey % 5 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM merged GROUP BY 1
    """,
)
def sql_merge_into_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Delta merge idiom
    (``/root/reference/glue_jobs/01_silver_delta_upsert.py:104-112``)
    executed as a LITERAL SQL STRING — ``MERGE INTO <name> USING <view>
    ON ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT
    *`` — through the SQL DML front-end (``sources/sql_dml.py``), which
    parses the statement against the txn-catalog name registry and
    dispatches to the same key-join merge executor the Python facade
    uses. Matching the oracle proves the SQL skin changes nothing:
    clause shape, source-wins update, anti-join insert, commit protocol
    all identical. Money as integer cents (trap #13)."""
    import shutil
    import tempfile

    from ..sources import managed_table as mt
    from ..sources import sql_dml, txn_catalog
    from ..sources.delta_api import _REGISTRY_CONF

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    registry = tempfile.mkdtemp(prefix="sql_dml_reg_")
    path = registry + "/silver"
    spark.conf.set(_REGISTRY_CONF, registry)
    try:
        mt.commit_overwrite(
            base.filter(F.col("c_custkey") % 3 == 0), path,
            keys=("c_custkey",),
        )
        txn_catalog.register_table_name(registry, "sqlq.silver", path)
        base.filter(F.col("c_custkey") % 2 == 0).withColumn(
            "cents", F.col("cents") + F.lit(10000)
        ).createOrReplaceTempView("sql_merge_src")
        sql_dml.sql(
            spark,
            """
            MERGE INTO sqlq.silver AS t
            USING sql_merge_src AS s
            ON t.c_custkey = s.c_custkey
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """,
        )
        out = (
            mt.read(spark, path)
            .groupBy((F.col("c_custkey") % 5).cast("long").alias("bucket"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
        )
        # materialize BEFORE the rmtree (lazy frames read deleted paths)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.catalog.dropTempView("sql_merge_src")
        spark.conf.unset(_REGISTRY_CONF)
        shutil.rmtree(registry, ignore_errors=True)


@query(
    "sql_dml_crud",
    oracle="""
    WITH tgt AS (
      SELECT n_nationkey, n_regionkey FROM nation WHERE n_nationkey < 20
    ), ins AS (
      SELECT n_nationkey + 100 AS n_nationkey, n_regionkey
      FROM nation WHERE n_nationkey < 5
    ), all_rows AS (
      SELECT * FROM tgt UNION ALL SELECT * FROM ins
    ), updated AS (
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 2 = 0 THEN n_regionkey + 10
                  ELSE n_regionkey END AS n_regionkey
      FROM all_rows
    ), kept AS (
      SELECT * FROM updated WHERE NOT n_regionkey >= 13
    )
    SELECT CAST(n_regionkey AS BIGINT) AS region,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
    FROM kept GROUP BY 1
    """,
)
def sql_dml_crud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO ... SELECT, UPDATE ... WHERE, DELETE FROM ... WHERE
    as literal SQL strings over a registry name — the full Delta SQL
    DML surface beyond MERGE (``sources/sql_dml.py``). Each verb
    bottoms out in the engine's existing executor (hardlink append /
    update_where / delete_where), so the commit protocol, schema
    enforcement, and history semantics are the ones every other test
    pins; the oracle replays the three statements relationally."""
    import shutil
    import tempfile

    from ..sources import managed_table as mt
    from ..sources import sql_dml, txn_catalog
    from ..sources.delta_api import _REGISTRY_CONF

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    registry = tempfile.mkdtemp(prefix="sql_crud_reg_")
    path = registry + "/nations"
    spark.conf.set(_REGISTRY_CONF, registry)
    try:
        mt.commit_overwrite(
            nation.filter(F.col("n_nationkey") < 20), path,
            keys=("n_nationkey",),
        )
        txn_catalog.register_table_name(registry, "sqlq.nations", path)
        nation.createOrReplaceTempView("sql_crud_nation")
        sql_dml.sql(
            spark,
            "INSERT INTO sqlq.nations "
            "SELECT n_nationkey + 100, n_regionkey FROM sql_crud_nation "
            "WHERE n_nationkey < 5",
        )
        sql_dml.sql(
            spark,
            "UPDATE sqlq.nations SET n_regionkey = n_regionkey + 10 "
            "WHERE n_nationkey % 2 = 0",
        )
        sql_dml.sql(spark, "DELETE FROM sqlq.nations WHERE n_regionkey >= 13")
        out = (
            mt.read(spark, path)
            .groupBy(F.col("n_regionkey").cast("long").alias("region"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("n_nationkey").cast("long").alias("sum_key"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.catalog.dropTempView("sql_crud_nation")
        spark.conf.unset(_REGISTRY_CONF)
        shutil.rmtree(registry, ignore_errors=True)


@query(
    "delta_api_log_export_versions",
    oracle="""
    WITH seed AS (
      SELECT n_nationkey, n_regionkey FROM nation WHERE n_nationkey % 2 = 0
    )
    SELECT CAST(n_regionkey AS BIGINT) AS region,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
    FROM seed GROUP BY 1
    """,
)
def delta_api_log_export_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSIONED delta-log export + auto-refresh
    (``delta.logExport.auto``): the even-keyed half of nation seeds the
    table, the property turns on in-commit re-export, an append lands
    the odd half — and the read-back TIME-TRAVELS to the seed version
    through the exported log alone (replay adds/removes of commits
    0..N-1, scan exactly those files), the way an external Delta engine
    would. Matching the seed-only oracle proves the per-version
    add/remove diffs and the `_delta_history` hardlink mapping are
    exact — stale or leaked files would drag odd keys in."""
    import json as _json
    import os as _os
    import tempfile
    from urllib.parse import unquote

    from ..sources import managed_table as mt

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    path = tempfile.mkdtemp(prefix="dapi_dlogv_") + "/t"
    mt.commit_overwrite(
        nation.filter(F.col("n_nationkey") % 2 == 0), path,
        keys=("n_nationkey",), max_history=5,
    )
    mt.set_table_property(path, "delta.logExport.auto", True)
    # the commit re-exports the log itself — no manual regenerate
    mt.append_rows(
        spark, nation.filter(F.col("n_nationkey") % 2 == 1), path
    )
    log_dir = _os.path.join(path, "_delta_log")
    commits = sorted(
        f for f in _os.listdir(log_dir) if f.endswith(".json")
    )
    live: set[str] = set()
    for fname in commits[:-1]:  # replay to version N-1 (the seed)
        with open(_os.path.join(log_dir, fname)) as f:
            for line in f:
                if not line.strip():
                    continue
                a = _json.loads(line)
                if "add" in a:
                    live.add(unquote(a["add"]["path"]))
                elif "remove" in a:
                    live.discard(unquote(a["remove"]["path"]))
    files = sorted(_os.path.join(path, p) for p in live)
    out = (
        spark.read.parquet(*files)
        .groupBy(F.col("n_regionkey").cast("long").alias("region"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_nationkey").cast("long").alias("sum_key"),
        )
    )
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "delta_api_log_export_checkpoint",
    oracle="""
    WITH kept AS (
      SELECT c_nationkey, c_acctbal FROM customer
      WHERE c_custkey % 3 <> 0
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(floor(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS bal_cents
    FROM kept GROUP BY 1
    """,
)
def delta_api_log_export_checkpoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHECKPOINT-first external read of the exported `_delta_log`
    (delta-io PROTOCOL.md §checkpoints): customer seeds the table, a
    DELETE removes every third key, the versioned export writes
    `{v:020d}.checkpoint.parquet` + `_last_checkpoint` — and the
    read-back reconstructs the table from the CHECKPOINT ALONE
    (pointer → one columnar action file → add list → scan), replaying
    zero commit JSONs, the way a Delta reader opens a long-history
    table. Matching the oracle proves the checkpoint's add set is the
    exact post-DELETE state — a stale pointer or a leaked pre-delete
    file would drag removed keys back in. Cross-engine money sum via
    integer cents (CLAUDE.md trap 13)."""
    import json as _json
    import os as _os
    import shutil
    import tempfile
    from urllib.parse import unquote

    from ..sources import managed_table as mt
    from ..sources.maintenance import export_delta_log

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    scratch = tempfile.mkdtemp(prefix="dapi_dlogck_")
    path = scratch + "/t"
    try:
        mt.commit_overwrite(
            customer, path, keys=("c_custkey",), max_history=5
        )
        mt.delete_where(spark, path, "c_custkey % 3 = 0")
        export_delta_log(spark, path, versioned=True)

        log_dir = _os.path.join(path, "_delta_log")
        with open(_os.path.join(log_dir, "_last_checkpoint")) as f:
            lc = _json.load(f)
        ckpt = _os.path.join(
            log_dir, f"{lc['version']:020d}.checkpoint.parquet"
        )
        add_paths = [
            r[0]
            for r in spark.read.parquet(ckpt)
            .filter(F.col("add").isNotNull())
            .select("add.path")
            .collect()  # file LIST — metadata-sized, never data rows
        ]
        files = sorted(_os.path.join(path, unquote(p)) for p in add_paths)
        out = (
            spark.read.parquet(*files)
            .groupBy(F.col("c_nationkey").cast("long").alias("nation"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                ).alias("bal_cents"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query(
    "writer_api_partitioned_ingest",
    oracle="""
    SELECT CAST(o_orderpriority AS VARCHAR) AS prio,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders WHERE o_orderkey % 4 < 2 GROUP BY 1
    """,
)
def writer_api_partitioned_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's DataFrameWriter idiom
    (``01_silver_delta_upsert.py:115-121``) through the driver-side
    builder: ``write(df).format("delta").mode("overwrite")
    .partitionBy(...).save(path)`` for the initial load, then
    ``mode("append")`` for the increment — both bottoming out in the
    commit protocol (atomic swap / hardlink append). The read-back
    aggregate over the Hive-partitioned snapshot equals the oracle's
    direct scan only if both writes landed exactly once with the
    declared layout."""
    import tempfile

    from ..sources import managed_table as mt

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="writer_api_") + "/t"
    (
        mt.write(orders.filter(F.col("o_orderkey") % 4 == 0))
        .format("delta")
        .mode("overwrite")
        .partitionBy("o_orderpriority")
        .keys("o_orderkey")
        .save(path)
    )
    (
        mt.write(orders.filter(F.col("o_orderkey") % 4 == 1))
        .mode("append")
        .option("txn", {"app": "writer_api", "last_epoch": 1})
        .save(path)
    )
    return (
        mt.read(spark, path)
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )


@query(
    "streaming_table_partitioned_tail",
    oracle="""
    WITH snap AS (
      SELECT c_custkey, c_name, c_nationkey % 4 AS part
      FROM customer WHERE c_custkey % 3 = 0
    ), ins AS (
      SELECT c_custkey, c_name, c_nationkey % 4 AS part
      FROM customer WHERE c_custkey % 3 = 1
    )
    SELECT CAST(part AS BIGINT) AS part,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key
    FROM (SELECT * FROM snap UNION ALL SELECT * FROM ins)
    GROUP BY 1
    """,
)
def streaming_table_partitioned_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED plain table stream (round 10 — a 100 TB table is
    always partitioned): a Hive-partitioned snapshot streams as the
    first microbatch with partition columns SYNTHESIZED typed from the
    dir names, then an append tails through the change sidecar (where
    the partition values are ordinary columns). Trigger.AvailableNow
    drains and self-terminates. The aggregate equals the oracle's
    direct reconstruction only if every (file, partition-dir) pair
    mapped to the right typed values in both phases."""
    import tempfile
    import uuid as _uuid

    from ..sources import managed_table as mt
    from ..sources.pydatasource import make_table_stream_source

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        (F.col("c_nationkey") % 4).alias("part"),
    )
    path = tempfile.mkdtemp(prefix="tbl_pstream_") + "/t"
    mt.commit_overwrite(
        base.filter(F.col("c_custkey") % 3 == 0), path,
        keys=("c_custkey",), partition_by=("part",),
        properties={"enableChangeDataFeed": True},
    )
    mt.append_rows(
        spark, base.filter(F.col("c_custkey") % 3 == 1), path
    )
    spark.dataSource.register(make_table_stream_source())
    sink = f"tbl_pstream_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("managed_table_stream")
        .option("path", path)
        .option("startingversion", 0)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    import os as _os
    import shutil

    out = (
        spark.table(sink)
        .groupBy(F.col("part").cast("long").alias("part"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("c_custkey").cast("long").alias("sum_key"),
        )
    )
    res = spark.createDataFrame(out.collect(), out.schema)
    shutil.rmtree(_os.path.dirname(path), ignore_errors=True)
    return res


@query(
    "maintenance_zorder_where",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
    )
    SELECT CAST(o_custkey % 7 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM base
    WHERE o_orderpriority = '1-URGENT' AND o_custkey BETWEEN 100 AND 500
    GROUP BY 1
    """,
)
def maintenance_zorder_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... WHERE ... ZORDER BY through the facade
    (``DeltaTable.optimize().where(p).executeZOrderBy(cols)``,
    ``maintenance.optimize_zorder_partitions``): a priority-partitioned
    orders table re-clusters ONLY the urgent partition on o_custkey,
    then the read-back goes through the STATS-SKIPPING path
    (``layout.pruned_file_list`` against the rewritten files' footers —
    the point of zordering: a custkey range now touches few files).
    Matching the oracle proves the partition-scoped rewrite lost or
    duplicated nothing and the skipping read serves exactly the
    predicate rows."""
    import os as _os
    import tempfile

    from ..sources import managed_table as mt
    from ..sources.delta_api import DeltaTable
    from ..sources.layout import read_with_skipping

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="zorder_where_") + "/t"
    mt.commit_overwrite(
        # several unsorted files per partition -> zorder has work to do
        orders.repartition(4), path,
        keys=("o_orderkey",), partition_by=("o_orderpriority",),
    )
    (
        DeltaTable.forPath(spark, path)
        .optimize()
        .where("o_orderpriority = '1-URGENT'")
        .executeZOrderBy("o_custkey")
    )
    urgent_dir = _os.path.join(path, "o_orderpriority=1-URGENT")
    hits = read_with_skipping(spark, urgent_dir, "o_custkey", 100, 500)
    return (
        hits.groupBy((F.col("o_custkey") % 7).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )


@query(
    "append_autorebase_race",
    oracle="""
    WITH seed AS (
      SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 3 = 0
    ), a AS (
      SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 3 = 1
    ), b AS (
      SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 3 = 2
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key
    FROM (SELECT * FROM seed UNION ALL SELECT * FROM a
          UNION ALL SELECT * FROM b)
    GROUP BY 1
    """,
)
def append_autorebase_race(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-vs-append OCC COMMUTE made correctness-visible: two
    threads race ``append_rows`` on one table from a shared barrier —
    the CAS loser re-stages its whole append against the winner's
    snapshot (``last_rewrite_version`` watermark gates the rebase) and
    commits too. The aggregate equals seed + BOTH halves exactly once,
    whatever the interleaving; a lost update or double-land breaks the
    value hash. Driver-side cost: one extra O(appended) restage for
    the loser."""
    import tempfile
    import threading

    from ..sources import managed_table as mt

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    path = tempfile.mkdtemp(prefix="append_race_") + "/t"
    mt.commit_overwrite(
        base.filter(F.col("c_custkey") % 3 == 0), path, keys=("c_custkey",)
    )
    halves = [
        base.filter(F.col("c_custkey") % 3 == 1),
        base.filter(F.col("c_custkey") % 3 == 2),
    ]
    barrier = threading.Barrier(2)
    errors: list = []

    def run(df):
        try:
            barrier.wait(timeout=120)
            mt.append_rows(spark, df, path)
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(h,)) for h in halves]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return (
        mt.read(spark, path)
        .groupBy(F.col("c_nationkey").cast("long").alias("nation"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("c_custkey").cast("long").alias("sum_key"),
        )
    )


@query(
    "sql_ddl_journey",
    oracle="""
    WITH ins AS (
      SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 4 = 0
    ), upd AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 8 = 0 THEN c_nationkey + 100
                  ELSE c_nationkey END AS c_nationkey,
             'seed' AS tag
      FROM ins
    )
    SELECT CAST(c_nationkey % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key,
           CAST(SUM(CASE WHEN tag = 'seed' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tagged
    FROM upd GROUP BY 1
    """,
)
def sql_ddl_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-ONLY lifecycle (sources/sql_dml.sql_command): CREATE
    TABLE → INSERT INTO SELECT → ALTER TABLE ADD COLUMN DEFAULT →
    UPDATE → OPTIMIZE — a SQL-first user driving the engine end to end
    with literal statements, every verb bottoming out in the existing
    executors. The post-OPTIMIZE aggregate (default materialized by
    the UPDATE's rewrite, compaction data-preserving) must equal the
    oracle's relational replay."""
    import shutil
    import tempfile

    from ..sources import managed_table as mt
    from ..sources import sql_dml, txn_catalog  # noqa: F401
    from ..sources.delta_api import _REGISTRY_CONF

    registry = tempfile.mkdtemp(prefix="sql_ddl_reg_")
    spark.conf.set(_REGISTRY_CONF, registry)
    load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    ).createOrReplaceTempView("sql_ddl_cust")
    try:
        sql_dml.sql(
            spark,
            "CREATE TABLE sqlj.t (c_custkey bigint, c_nationkey int) "
            f"LOCATION '{registry}/t'",
        )
        sql_dml.sql(
            spark,
            "INSERT INTO sqlj.t SELECT c_custkey, c_nationkey "
            "FROM sql_ddl_cust WHERE c_custkey % 4 = 0",
        )
        sql_dml.sql(
            spark, "ALTER TABLE sqlj.t ADD COLUMN (tag string DEFAULT 'seed')"
        )
        sql_dml.sql(
            spark,
            "UPDATE sqlj.t SET c_nationkey = c_nationkey + 100 "
            "WHERE c_custkey % 8 = 0",
        )
        sql_dml.sql(spark, "OPTIMIZE sqlj.t")
        out = (
            mt.read(spark, registry + "/t")
            .groupBy((F.col("c_nationkey") % 10).cast("long").alias("bucket"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("c_custkey").cast("long").alias("sum_key"),
                F.sum((F.col("tag") == "seed").cast("long")).alias("n_tagged"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.catalog.dropTempView("sql_ddl_cust")
        spark.conf.unset(_REGISTRY_CONF)
        shutil.rmtree(registry, ignore_errors=True)


@query(
    "sql_copy_into_idempotent",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key
    FROM customer WHERE c_custkey % 5 < 2 GROUP BY 1
    """,
)
def sql_copy_into_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO — Delta's idempotent keyless ingest (the reference's
    'files land in source/, load them' shape without relying on MERGE
    keys): batch 1 loads, a RE-RUN of the same statement loads nothing
    (the loaded-file set commits atomically with the appended rows),
    batch 2 lands and only IT loads. The aggregate equals the plain
    union only if no file loaded twice and none was missed."""
    import shutil
    import tempfile

    from ..sources import managed_table as mt
    from ..sources import sql_dml, txn_catalog  # noqa: F401
    from ..sources.delta_api import _REGISTRY_CONF

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    registry = tempfile.mkdtemp(prefix="sql_copy_reg_")
    landing = registry + "/landing"
    spark.conf.set(_REGISTRY_CONF, registry)
    try:
        base.filter(F.col("c_custkey") % 5 == 0).write.parquet(
            landing + "/batch1"
        )
        sql_dml.sql(
            spark,
            "CREATE TABLE sqlcp.t (c_custkey bigint, c_nationkey int) "
            f"LOCATION '{registry}/t'",
        )
        stmt = f"COPY INTO sqlcp.t FROM '{landing}' FILEFORMAT = PARQUET"
        first = sql_dml.sql_command(spark, stmt)
        rerun = sql_dml.sql_command(spark, stmt)  # idempotent: loads 0
        assert rerun["loaded_files"] == 0 and rerun["rows"] == 0, rerun
        base.filter(F.col("c_custkey") % 5 == 1).write.parquet(
            landing + "/batch2"
        )
        second = sql_dml.sql_command(spark, stmt)
        assert second["skipped_files"] == first["loaded_files"], second
        out = (
            mt.read(spark, registry + "/t")
            .groupBy(F.col("c_nationkey").cast("long").alias("nation"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("c_custkey").cast("long").alias("sum_key"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.conf.unset(_REGISTRY_CONF)
        shutil.rmtree(registry, ignore_errors=True)


@query(
    "sql_ctas_clone_journey",
    oracle="""
    SELECT c_mktsegment AS seg,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key,
           CAST(SUM(c_nationkey) AS BIGINT) AS sum_nation
    FROM customer
    WHERE c_custkey % 3 = 0 AND NOT c_custkey % 9 = 0
    GROUP BY 1
    """,
)
def sql_ctas_clone_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-10 SQL additions as one literal-statement lifecycle:
    CTAS (partitioned CREATE TABLE ... AS SELECT) → ALTER TABLE ADD
    CONSTRAINT ... CHECK → DELETE → CREATE TABLE ... SHALLOW CLONE →
    post-clone UPDATE of the SOURCE. The result reads the CLONE, so the
    oracle match proves three things at once: CTAS committed the query
    snapshot, the clone carried the post-delete state, and the source's
    later UPDATE did NOT leak through the hardlinks (snapshots are
    immutable; commits write fresh files)."""
    import shutil
    import tempfile

    from ..sources import managed_table as mt
    from ..sources import sql_dml, txn_catalog  # noqa: F401
    from ..sources.delta_api import _REGISTRY_CONF

    registry = tempfile.mkdtemp(prefix="sql_ctas_reg_")
    spark.conf.set(_REGISTRY_CONF, registry)
    load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    ).createOrReplaceTempView("sql_ctas_cust")
    try:
        sql_dml.sql(
            spark,
            "CREATE TABLE sqlcc.base PARTITIONED BY (seg) AS "
            "SELECT c_custkey, c_mktsegment AS seg, c_nationkey "
            "FROM sql_ctas_cust WHERE c_custkey % 3 = 0",
        )
        sql_dml.sql(
            spark,
            "ALTER TABLE sqlcc.base ADD CONSTRAINT key_pos "
            "CHECK (c_custkey >= 0)",
        )
        sql_dml.sql(spark, "DELETE FROM sqlcc.base WHERE c_custkey % 9 = 0")
        sql_dml.sql(spark, "CREATE TABLE sqlcc.copy SHALLOW CLONE sqlcc.base")
        sql_dml.sql(spark, "UPDATE sqlcc.base SET c_nationkey = 0")
        n_parts = sql_dml.sql(spark, "SHOW PARTITIONS sqlcc.copy").count()
        clone_path = txn_catalog.resolve_table_name(registry, "sqlcc.copy")
        out = (
            mt.read(spark, clone_path)
            .groupBy("seg")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("c_custkey").cast("long").alias("sum_key"),
                F.sum("c_nationkey").cast("long").alias("sum_nation"),
            )
        )
        rows = out.collect()
        if n_parts != len(rows):
            raise AssertionError(
                f"SHOW PARTITIONS saw {n_parts} dirs, aggregate saw "
                f"{len(rows)} groups"
            )
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.catalog.dropTempView("sql_ctas_cust")
        spark.conf.unset(_REGISTRY_CONF)
        shutil.rmtree(registry, ignore_errors=True)


@query(
    "sql_metadata_tables",
    oracle="""
    SELECT c_mktsegment AS seg,
           CAST(MAX(CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 0 END)
              + MAX(CASE WHEN c_custkey % 4 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(2 AS BIGINT) AS n_versions
    FROM customer WHERE c_custkey % 4 IN (0, 1) GROUP BY 1
    """,
)
def sql_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg/Trino-style queryable metadata tables
    (sources/metadata_tables.py): a partitioned table is created with
    one file per partition (repartition(1) write) and blind-appended a
    second single-file batch, then interrogated ENTIRELY through SQL —
    ``FROM t$partitions`` with a scalar ``t$snapshots`` subquery — so
    per-partition file counts, physical row counts and the retained
    version count all come from the metadata relations, matched
    against the oracle's replay of the data that went in. The
    collection is a driver-side listing plus footer reads (metadata
    cardinality); no Spark job scans data."""
    import shutil
    import tempfile

    from ..sources import managed_table as mt
    from ..sources import sql_dml, txn_catalog
    from ..sources.delta_api import _REGISTRY_CONF

    registry = tempfile.mkdtemp(prefix="sql_md_reg_")
    spark.conf.set(_REGISTRY_CONF, registry)
    try:
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", F.col("c_mktsegment").alias("seg")
        )
        base = cust.filter(F.col("c_custkey") % 4 == 0).repartition(1)
        path = registry + "/t"
        mt.commit_overwrite(base, path, partition_by=["seg"])
        txn_catalog.register_table_name(registry, "mdq.t", path)
        extra = cust.filter(F.col("c_custkey") % 4 == 1).repartition(1)
        mt.append_rows(spark, extra, path)
        out = sql_dml.sql(
            spark,
            "SELECT seg, n_files, n_rows, "
            "(SELECT COUNT(*) FROM mdq.t$snapshots) AS n_versions "
            "FROM mdq.t$partitions",
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.conf.unset(_REGISTRY_CONF)
        shutil.rmtree(registry, ignore_errors=True)


@query(
    "sql_select_by_name",
    oracle="""
    WITH gold_call_daily_summary AS (
        SELECT CAST(ts AS DATE) AS call_date,
               COUNT(*) AS total_calls,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS completed_calls,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS dropped_calls,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS failed_calls,
               CASE WHEN COUNT(*) > 0
                    THEN floor((SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 100.0
                               / COUNT(*)) * 1e2 + 0.5) / 1e2
                    ELSE 0.0 END AS completion_rate
        FROM events GROUP BY 1),
    surviving AS (
        -- the DV delete removed the mod-5 dropped-call days
        SELECT * FROM gold_call_daily_summary
        WHERE NOT (dropped_calls % 5 = 0))
    SELECT call_date, total_calls, completed_calls, dropped_calls,
           failed_calls, completion_rate
    FROM surviving
    ORDER BY call_date DESC LIMIT 10
    """,
)
def sql_select_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's bare-name Athena idiom end-to-end
    (``/root/reference/sql/athena_queries.sql:7-16``): the Gold daily
    summary is COMMITTED as a managed table, soft-deleted with
    DELETION VECTORS (a reader feature no raw parquet view can honor),
    registered under ``callcenter_analytics.gold_call_daily_summary``,
    and then Athena Q1 runs VERBATIM — bare name, no time-travel pin,
    no register_sql_view — through the SQL front-end's passthrough
    read path (``sources/sql_dml.py:_read_cuts``, a walk over Spark's
    parse of the statement), which routes the reference through
    ``managed_table.read`` so the DV anti-join applies. The oracle rebuilds the summary and filters the
    deleted days relationally."""
    import shutil

    from ..sources import managed_table as mt
    from ..sources import sql_dml, txn_catalog
    from ..sources.delta_api import _REGISTRY_CONF
    from .athena import _gold_daily

    registry = tempfile.mkdtemp(prefix="sql_name_reg_")
    path = registry + "/gold_daily"
    spark.conf.set(_REGISTRY_CONF, registry)
    try:
        mt.commit_overwrite(_gold_daily(spark, sf_dir), path,
                            keys=("call_date",))
        mt.delete_where(
            spark, path, F.col("dropped_calls") % 5 == 0,
            deletion_vectors=True,
        )
        txn_catalog.register_table_name(
            registry, "callcenter_analytics.gold_call_daily_summary", path
        )
        out = sql_dml.sql(
            spark,
            """
            SELECT
                call_date,
                total_calls,
                completed_calls,
                dropped_calls,
                failed_calls,
                completion_rate
            FROM callcenter_analytics.gold_call_daily_summary
            ORDER BY call_date DESC
            LIMIT 10
            """,
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.conf.unset(_REGISTRY_CONF)
        shutil.rmtree(registry, ignore_errors=True)


@query(
    "sql_table_changes_read",
    oracle="""
    WITH tgt AS (
      SELECT n_nationkey, n_regionkey FROM nation WHERE n_nationkey < 20
    ), ins AS (  -- v1: INSERT of shifted keys
      SELECT n_nationkey + 100 AS n_nationkey, n_regionkey
      FROM nation WHERE n_nationkey < 5
    ), upd_pre AS (  -- v2: UPDATE preimages (even keys, post-insert set)
      SELECT n_nationkey, n_regionkey
      FROM (SELECT * FROM tgt UNION ALL SELECT * FROM ins)
      WHERE n_nationkey % 2 = 0
    ), upd_post AS (
      SELECT n_nationkey, n_regionkey + 10 AS n_regionkey FROM upd_pre
    ), after_upd AS (
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 2 = 0 THEN n_regionkey + 10
                  ELSE n_regionkey END AS n_regionkey
      FROM (SELECT * FROM tgt UNION ALL SELECT * FROM ins)
    ), del AS (  -- v3: DELETE of high regions
      SELECT n_nationkey, n_regionkey FROM after_upd WHERE n_regionkey >= 13
    ), feed AS (
      -- start bound 1 INCLUSIVE (Delta semantics): versions 1..3
      SELECT 'insert' AS _change_type, 1 AS _commit_version, * FROM ins
      UNION ALL
      SELECT 'update_preimage', 2, * FROM upd_pre
      UNION ALL
      SELECT 'update_postimage', 2, * FROM upd_post
      UNION ALL
      SELECT 'delete', 3, * FROM del
    )
    SELECT _change_type, CAST(_commit_version AS INT) AS _commit_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
           CAST(SUM(n_regionkey) AS BIGINT) AS sum_region
    FROM feed GROUP BY 1, 2
    """,
)
def sql_table_changes_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's CDF table-valued function in SQL —
    ``SELECT ... FROM table_changes('name', 1)`` — over a scripted
    INSERT / UPDATE / DELETE sequence on a CDF-enabled table, read back
    ENTIRELY through the SQL front-end (``sources/sql_dml.py:
    _table_changes_view`` splices the O(changes) sidecar feed in as a
    per-statement view). The oracle replays the three commits
    relationally and reconstructs the exact change feed, preimages and
    postimages included, so the sidecar contents, version stamps and
    TVF plumbing all have to be right for the hashes to match."""
    import shutil

    from ..sources import managed_table as mt
    from ..sources import sql_dml, txn_catalog
    from ..sources.delta_api import _REGISTRY_CONF

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    registry = tempfile.mkdtemp(prefix="sql_tvf_reg_")
    path = registry + "/nations"
    spark.conf.set(_REGISTRY_CONF, registry)
    try:
        mt.commit_overwrite(
            nation.filter(F.col("n_nationkey") < 20), path,
            keys=("n_nationkey",),
            properties={"enableChangeDataFeed": True},
        )
        txn_catalog.register_table_name(registry, "tvfq.nations", path)
        nation.createOrReplaceTempView("sql_tvf_nation")
        sql_dml.sql(
            spark,
            "INSERT INTO tvfq.nations "
            "SELECT n_nationkey + 100, n_regionkey FROM sql_tvf_nation "
            "WHERE n_nationkey < 5",
        )
        sql_dml.sql(
            spark,
            "UPDATE tvfq.nations SET n_regionkey = n_regionkey + 10 "
            "WHERE n_nationkey % 2 = 0",
        )
        sql_dml.sql(
            spark, "DELETE FROM tvfq.nations WHERE n_regionkey >= 13"
        )
        out = sql_dml.sql(
            spark,
            "SELECT _change_type, _commit_version, "
            "COUNT(*) AS n_rows, "
            "CAST(SUM(n_nationkey) AS BIGINT) AS sum_key, "
            "CAST(SUM(n_regionkey) AS BIGINT) AS sum_region "
            "FROM table_changes('tvfq.nations', 1) "
            "GROUP BY _change_type, _commit_version",
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.catalog.dropTempView("sql_tvf_nation")
        spark.conf.unset(_REGISTRY_CONF)
        shutil.rmtree(registry, ignore_errors=True)


@query(
    "sql_table_changes_timestamp",
    oracle="""
    WITH tgt AS (
      SELECT n_nationkey, n_regionkey FROM nation WHERE n_nationkey < 20
    ), ins AS (  -- v1: INSERT of shifted keys
      SELECT n_nationkey + 100 AS n_nationkey, n_regionkey
      FROM nation WHERE n_nationkey < 5
    ), upd_pre AS (  -- v2: UPDATE preimages (even keys, post-insert set)
      SELECT n_nationkey, n_regionkey
      FROM (SELECT * FROM tgt UNION ALL SELECT * FROM ins)
      WHERE n_nationkey % 2 = 0
    ), upd_post AS (
      SELECT n_nationkey, n_regionkey + 10 AS n_regionkey FROM upd_pre
    ), after_upd AS (
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 2 = 0 THEN n_regionkey + 10
                  ELSE n_regionkey END AS n_regionkey
      FROM (SELECT * FROM tgt UNION ALL SELECT * FROM ins)
    ), del AS (  -- v3: DELETE of high regions
      SELECT n_nationkey, n_regionkey FROM after_upd WHERE n_regionkey >= 13
    ), bounded AS (  -- (mid(v1,v2), mid(v2,v3)] -> v2 only
      SELECT 'update_preimage' AS _change_type, 2 AS _commit_version, *
      FROM upd_pre
      UNION ALL SELECT 'update_postimage', 2, * FROM upd_post
    ), open_tail AS (  -- (mid(v1,v2), live] -> v2 + v3
      SELECT * FROM bounded
      UNION ALL SELECT 'delete', 3, * FROM del
    ), feed AS (
      SELECT 'bounded' AS span, * FROM bounded
      UNION ALL SELECT 'open', * FROM open_tail
    )
    SELECT span, _change_type,
           CAST(_commit_version AS INT) AS _commit_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
           CAST(SUM(n_regionkey) AS BIGINT) AS sum_region
    FROM feed GROUP BY 1, 2, 3
    """,
)
def sql_table_changes_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table_changes('name', '<ts>'[, '<ts>'])`` with TIMESTAMP
    bounds (verdict r11 item 4): each quoted bound maps to the newest
    retained version whose marker commit time is at-or-before it —
    the same ladder ``read_as_of`` uses (``sources/sql_dml.py:
    _table_changes_view``). The commit sequence is the CDF
    script of ``sql_table_changes_read``; the probe timestamps are the
    MIDPOINTS between recorded commit times (from ``history()``), so
    the from-bound resolves to v1 (serving changes strictly after it)
    and the to-bound to v2. The oracle replays both spans
    relationally; version stamps, sidecar contents, and the
    timestamp->version ladder all have to agree for the hash to
    match."""
    import datetime
    import shutil

    from ..sources import managed_table as mt
    from ..sources import sql_dml, txn_catalog
    from ..sources.delta_api import _REGISTRY_CONF

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    registry = tempfile.mkdtemp(prefix="sql_tvf_ts_reg_")
    path = registry + "/nations"
    spark.conf.set(_REGISTRY_CONF, registry)
    try:
        mt.commit_overwrite(
            nation.filter(F.col("n_nationkey") < 20), path,
            keys=("n_nationkey",),
            properties={"enableChangeDataFeed": True},
            max_history=4,
        )
        txn_catalog.register_table_name(registry, "tvfts.nations", path)
        nation.createOrReplaceTempView("sql_tvf_ts_nation")
        sql_dml.sql(
            spark,
            "INSERT INTO tvfts.nations "
            "SELECT n_nationkey + 100, n_regionkey FROM sql_tvf_ts_nation "
            "WHERE n_nationkey < 5",
        )
        sql_dml.sql(
            spark,
            "UPDATE tvfts.nations SET n_regionkey = n_regionkey + 10 "
            "WHERE n_nationkey % 2 = 0",
        )
        sql_dml.sql(
            spark, "DELETE FROM tvfts.nations WHERE n_regionkey >= 13"
        )
        commit_ts = {
            r["version"]: r["ts"]
            for r in mt.history(spark, path).collect()
        }
        # UTC-explicit ISO stamps: the front-end reads naive literals
        # as UTC (engine session tz), never the driver host's zone
        mid = lambda a, b: datetime.datetime.fromtimestamp(  # noqa: E731
            (commit_ts[a] + commit_ts[b]) / 2.0, tz=datetime.timezone.utc
        ).isoformat()
        agg = (
            "SELECT '{span}' AS span, _change_type, _commit_version, "
            "COUNT(*) AS n_rows, "
            "CAST(SUM(n_nationkey) AS BIGINT) AS sum_key, "
            "CAST(SUM(n_regionkey) AS BIGINT) AS sum_region "
            "FROM table_changes('tvfts.nations', {bounds}) "
            "GROUP BY span, _change_type, _commit_version"
        )
        out = sql_dml.sql(
            spark,
            agg.format(span="bounded", bounds=f"'{mid(1, 2)}', '{mid(2, 3)}'")
            + " UNION ALL "
            + agg.format(span="open", bounds=f"'{mid(1, 2)}'"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.catalog.dropTempView("sql_tvf_ts_nation")
        spark.conf.unset(_REGISTRY_CONF)
        shutil.rmtree(registry, ignore_errors=True)


@query(
    "sql_logical_view_gold",
    oracle="""
    WITH gold_call_daily_summary AS (
        SELECT CAST(ts AS DATE) AS call_date,
               COUNT(*) AS total_calls,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS failed_calls
        FROM events GROUP BY 1)
    SELECT call_date, failed_calls, total_calls,
           floor(((failed_calls * 100.0) / total_calls) * 1e2 + 0.5) / 1e2
             AS failure_rate_pct
    FROM gold_call_daily_summary
    WHERE total_calls > 0
    ORDER BY failure_rate_pct DESC, call_date LIMIT 10
    """,
)
def sql_logical_view_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Athena ARCHITECTURE as registry objects: the
    silver events land in a committed managed table, the Gold daily
    summary is a LOGICAL VIEW (``CREATE VIEW ... AS SELECT`` — stored
    SQL in the name registry, re-resolved against the live table per
    query, ``sources/txn_catalog.py``), and Athena Q5 runs against the
    VIEW by bare name. Three layers of the passthrough rewriter
    compose: Q5 -> view SQL -> base table. The oracle replays the
    whole chain from raw events; portable floor-rounding per trap 3."""
    import shutil

    from ..sources import managed_table as mt
    from ..sources import sql_dml, txn_catalog
    from ..sources.delta_api import _REGISTRY_CONF

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    registry = tempfile.mkdtemp(prefix="sql_view_reg_")
    path = registry + "/silver_events"
    spark.conf.set(_REGISTRY_CONF, registry)
    try:
        mt.commit_overwrite(ev, path, keys=("event_id",))
        txn_catalog.register_table_name(
            registry, "callcenter_analytics.silver_events", path
        )
        sql_dml.sql(
            spark,
            """
            CREATE VIEW callcenter_analytics.gold_call_daily_summary AS
            SELECT CAST(ts AS DATE) AS call_date,
                   COUNT(*) AS total_calls,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                            END) AS BIGINT) AS failed_calls
            FROM callcenter_analytics.silver_events GROUP BY 1
            """,
        )
        out = sql_dml.sql(
            spark,
            """
            SELECT call_date, failed_calls, total_calls,
                   floor(((failed_calls * 100.0) / total_calls) * 1e2 + 0.5)
                     / 1e2 AS failure_rate_pct
            FROM callcenter_analytics.gold_call_daily_summary
            WHERE total_calls > 0
            ORDER BY failure_rate_pct DESC, call_date LIMIT 10
            """,
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.conf.unset(_REGISTRY_CONF)
        shutil.rmtree(registry, ignore_errors=True)


@query(
    "catalog_crawl_register",
    oracle="""
    SELECT r.r_name AS region_name,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(SUM(n.n_nationkey) AS BIGINT) AS sum_key
    FROM (SELECT * FROM nation WHERE n_nationkey < 15) n
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY region_name
    """,
)
def catalog_crawl_register(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Glue-crawler onboarding story end-to-end (reference
    ``README.md:51-53``: a crawler registers the S3 prefixes so Athena
    queries them by name; verdict r11 item 5): a scratch warehouse
    prefix holds one MANAGED table (engine marker) and one RAW parquet
    directory nobody wrote through the engine;
    ``txn_catalog.register_existing`` walks the prefix and binds both —
    the managed table as a DML-capable TABLE binding, the raw directory
    as a read-only ``parquet.`path``` VIEW binding — and the Athena-
    style join then runs by BARE NAME through the SQL front-end with
    zero manual registration. The oracle replays the join from the
    source tables."""
    import shutil

    from ..sources import sql_dml, txn_catalog
    from ..sources import managed_table as mt
    from ..sources.delta_api import _REGISTRY_CONF

    warehouse = tempfile.mkdtemp(prefix="crawl_wh_")
    registry = tempfile.mkdtemp(prefix="crawl_reg_")
    spark.conf.set(_REGISTRY_CONF, registry)
    try:
        # a managed table the engine wrote...
        mt.commit_overwrite(
            load_table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .filter(F.col("n_nationkey") < 15),
            warehouse + "/nations",
            keys=("n_nationkey",),
        )
        # ...and a raw parquet directory nobody told the engine about
        load_table(spark, sf_dir, "region").write.parquet(
            warehouse + "/regions"
        )
        found = txn_catalog.register_existing(
            registry, warehouse, database="crawldb"
        )
        assert sorted(found) == ["crawldb.nations", "crawldb.regions"], found
        out = sql_dml.sql(
            spark,
            """
            SELECT r.r_name AS region_name,
                   COUNT(*) AS n_nations,
                   CAST(SUM(n.n_nationkey) AS BIGINT) AS sum_key
            FROM crawldb.nations n
            JOIN crawldb.regions r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name
            ORDER BY region_name
            """,
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.conf.unset(_REGISTRY_CONF)
        shutil.rmtree(warehouse, ignore_errors=True)
        shutil.rmtree(registry, ignore_errors=True)
