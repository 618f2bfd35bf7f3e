"""Property-based hardening of the passthrough-SQL rewrite layer
(sources/sql_dml.py: the ``$``-suffix pre-pass plus the walk over
Spark's parse, ``_rewrite_reads``). Text-scanner bugs such as the
round-12 backtracking one (`FROM range(10)` matching name='rang') are
exactly the class a grammar fuzz catches and example tests miss — these
properties pin the rewriter's contracts over generated statements:

1. masking is shape-preserving and literal-opaque;
2. statements with no resolvable names come back byte-identical
   (whatever mix of keywords/parens/quotes/commas they contain);
3. a registered name splices wherever it appears as a relation
   reference, and NEVER when it appears inside a string literal or as
   scalar-FROM function syntax;
4. splicing preserves all surrounding text.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # rewriter property fuzz: ratchet battery, run with -m slow
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aws_callcenter_delta_lakehouse_spark.sources import sql_dml


# -- pure text properties (no Spark) ------------------------------------------

# SQL-ish soup: identifiers, keywords, punctuation, string literals,
# unbalanced fragments included on purpose — the rewriter must never
# crash on malformed text (it may leave it for spark.sql to reject)
_sql_atoms = st.one_of(
    st.sampled_from(
        [
            "SELECT", "FROM", "JOIN", "WHERE", "GROUP BY", "ORDER BY",
            "UNION", "MINUS", "EXTRACT(YEAR", "TRIM(BOTH 'x'", "COUNT(*)",
            "(", ")", ",", "*", "=", "1", "t1", "a.b", "`q id`",
            "'lit''eral'", "\"dq\"", "range(3)", "AS", "x", "sum(v)",
        ]
    ),
    st.text(
        alphabet="abcXYZ_09.,()'\" `\n\t",
        min_size=0,
        max_size=12,
    ),
)
_sql_soup = st.lists(_sql_atoms, min_size=0, max_size=25).map(" ".join)


@given(_sql_soup)
@settings(max_examples=300, deadline=None)
def test_mask_literals_is_shape_preserving(s):
    masked = sql_dml._mask_literals(s)
    assert len(masked) == len(s)
    # outside-literal characters are untouched; inside-literal ones are
    # NUL — so positions always line up for span extraction
    for orig, m in zip(s, masked):
        assert m == orig or m == "\x00"


@given(_sql_soup)
@settings(max_examples=200, deadline=None)
def test_parse_ts_utc_never_hangs_on_soup(s):
    # any non-timestamp text raises ValueError (never a crash / hang)
    try:
        sql_dml._parse_ts_utc(s)
    except ValueError:
        pass


def test_parse_ts_utc_naive_is_utc():
    assert sql_dml._parse_ts_utc("1970-01-01T00:00:00") == 0.0
    assert sql_dml._parse_ts_utc("1970-01-01T02:00:00+02:00") == 0.0


# -- rewrite identity & splice properties (Spark session, no jobs) -------------


@pytest.fixture(scope="module")
def reg_env(spark, tmp_path_factory):
    """A registry with one real managed table bound to two names."""
    from aws_callcenter_delta_lakehouse_spark.sources import (
        managed_table as mt,
        txn_catalog,
    )

    tmp = tmp_path_factory.mktemp("props")
    registry = str(tmp / "reg")
    path = str(tmp / "t")
    mt.commit_overwrite(
        spark.createDataFrame([(1, "a")], "id INT, s STRING"),
        path,
        keys=("id",),
    )
    txn_catalog.register_table_name(registry, "pdb.tbl", path)
    txn_catalog.register_table_name(registry, "solo", path)
    spark.conf.set("spark.managedTable.nameRegistry", registry)
    yield registry
    spark.conf.unset("spark.managedTable.nameRegistry")


@given(_sql_soup)
@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rewrite_without_resolvable_names_is_identity(spark, reg_env, s):
    # the soup alphabet cannot spell the registered names ('pdb.tbl' /
    # 'solo' appear only if generated verbatim — excluded below), so
    # the rewrite must be byte-identical, malformed SQL included
    if "pdb.tbl" in s.lower() or "solo" in s.lower():
        return
    views: list[str] = []
    out = sql_dml._rewrite_reads(spark, s, None, views)
    assert out == s
    assert views == []


_ctx_before = st.sampled_from(
    [
        "SELECT * ",
        "SELECT a, b ",
        "SELECT count(*) AS n ",
        "WITH c AS (SELECT 1 AS one) SELECT * ",
        "SELECT EXTRACT(YEAR FROM DATE '2024-01-02') AS y ",
    ]
)
_ctx_after = st.sampled_from(
    [
        "",
        " WHERE id = 1",
        " ORDER BY id",
        " GROUP BY id",
        " a WHERE a.id > 0",
        " AS z",
        ", range(2) r",
        ", (SELECT 1 AS k) s",
    ]
)
_kw = st.sampled_from(["FROM", "from", "From"])


@given(_ctx_before, _kw, _ctx_after)
@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_registered_name_always_splices(spark, reg_env, before, kw, after):
    stmt = f"{before}{kw} pdb.tbl{after}"
    views: list[str] = []
    try:
        out = sql_dml._rewrite_reads(spark, stmt, None, views)
        # the bare reference is gone, a view ref took its place (plus
        # the implicit name alias when the reference carried none —
        # round-13: splices keep the table name as a column qualifier),
        # and every other byte of the statement is preserved
        assert "FROM pdb.tbl" not in out and "from pdb.tbl" not in out
        assert len(views) >= 1
        rebuilt = out
        for v in views:
            aliased = f"{v} AS `tbl`"
            if aliased in rebuilt:
                rebuilt = rebuilt.replace(aliased, "pdb.tbl", 1)
            else:
                rebuilt = rebuilt.replace(v, "pdb.tbl", 1)
        assert rebuilt == stmt
    finally:
        for v in views:
            spark.catalog.dropTempView(v)


@given(_ctx_before, _ctx_after)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_name_inside_literal_never_splices(spark, reg_env, before, after):
    # the literal sits in the select list so every (before, after) pair
    # is valid SQL — the rewriter splices only what Spark's parser reads
    stmt = f"{before.rstrip()}, 'FROM pdb.tbl' AS lit FROM solo{after}"
    views: list[str] = []
    try:
        out = sql_dml._rewrite_reads(spark, stmt, None, views)
        assert "'FROM pdb.tbl'" in out  # literal untouched
        assert "FROM solo" not in out  # the real relation spliced
    finally:
        for v in views:
            spark.catalog.dropTempView(v)


# -- round-13 families (r12 verdict item 1): end-to-end value checks ----------
# Each generated statement runs through sql_dml.sql() and its RESULT is
# compared to a Python-computed expectation — a rewrite escape that
# produces runnable-but-wrong SQL fails here, not just a parse crash.


@pytest.fixture(scope="module")
def fuzz_env(spark, tmp_path_factory):
    """Registry with: the reg_env pair, a 2-version CDF table ``cdft``
    (v0 creation inserts (1,'a'),(2,'b'); v1 INSERT (3,'c')), a
    2-version plain table ``tt`` (v0 ids 1..3, v1 ids 1..5), and four
    stored views exercising time-travel pins inside view SQL."""
    from aws_callcenter_delta_lakehouse_spark.sources import (
        managed_table as mt,
        txn_catalog,
    )

    tmp = tmp_path_factory.mktemp("fuzz13")
    registry = str(tmp / "reg")
    solo = str(tmp / "solo")
    mt.commit_overwrite(
        spark.createDataFrame([(1, "a")], "id INT, s STRING"), solo, keys=("id",)
    )
    txn_catalog.register_table_name(registry, "pdb.tbl", solo)
    txn_catalog.register_table_name(registry, "solo", solo)

    cdft = str(tmp / "cdft")
    mt.commit_overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id INT, s STRING"),
        cdft,
        keys=("id",),
        properties={"enableChangeDataFeed": True},
    )
    txn_catalog.register_table_name(registry, "cdft", cdft)

    tt = str(tmp / "tt")
    mt.commit_overwrite(
        spark.createDataFrame([(i, "x") for i in (1, 2, 3)], "id INT, s STRING"),
        tt,
        keys=("id",),
    )
    mt.commit_overwrite(
        spark.createDataFrame(
            [(i, "y") for i in (1, 2, 3, 4, 5)], "id INT, s STRING"
        ),
        tt,
        keys=("id",),
    )
    txn_catalog.register_table_name(registry, "tt", tt)

    spark.conf.set("spark.managedTable.nameRegistry", registry)
    sql_dml.sql(spark, "INSERT INTO cdft VALUES (3, 'c')")
    # CDF feed sanity before fuzzing on top of it
    assert sql_dml.sql(
        spark, "SELECT count(*) AS n FROM table_changes('cdft', 0)"
    ).collect()[0].n == 3

    sql_dml.sql(spark, "CREATE VIEW ttv0 AS SELECT * FROM tt VERSION AS OF 0")
    sql_dml.sql(spark, "CREATE VIEW ttlive AS SELECT id FROM tt")
    sql_dml.sql(spark, "CREATE VIEW ttvv AS SELECT id FROM ttv0 WHERE id <= 2")
    sql_dml.sql(
        spark,
        "CREATE VIEW ttcte AS WITH base AS "
        "(SELECT * FROM tt VERSION AS OF 0) SELECT id FROM base",
    )
    yield registry
    spark.conf.unset("spark.managedTable.nameRegistry")


def _run_count(spark, stmt):
    df = sql_dml.sql(spark, stmt)
    rows = df.collect()
    assert len(rows) == 1
    return rows[0][0]


# --- family 1: nested CTEs referencing the table_changes() TVF ---------------

_frm = st.sampled_from([0, 1])
_k = st.sampled_from([1, 2, 3])
_shape = st.sampled_from(["flat", "subq_in_cte", "chain", "collide", "with_in_subq", "join_reg"])
_kwcase = st.sampled_from([str.upper, str.lower])


@given(_frm, _k, _shape, _kwcase)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_nested_cte_over_tvf(spark, fuzz_env, frm, k, shape, kc):
    ids = {1, 2, 3} if frm == 0 else {3}
    tvf = f"table_changes('cdft', {frm})"
    if shape == "flat":
        stmt = (
            f"WITH a AS (SELECT id FROM {tvf}) "
            f"SELECT count(*) AS n FROM a WHERE id >= {k}"
        )
        want = len([i for i in ids if i >= k])
    elif shape == "subq_in_cte":
        stmt = (
            f"WITH a AS (SELECT * FROM (SELECT id FROM {tvf} "
            f"WHERE id >= {k}) z) SELECT count(*) AS n FROM a"
        )
        want = len([i for i in ids if i >= k])
    elif shape == "chain":
        stmt = (
            f"WITH a AS (SELECT id FROM {tvf}), "
            f"b AS (SELECT id FROM a WHERE id >= {k}) "
            f"SELECT count(*) AS n FROM b"
        )
        want = len([i for i in ids if i >= k])
    elif shape == "collide":
        # CTE named like the registry table MUST shadow it (registry
        # 'solo' holds exactly one row id=1 — a wrong resolution gives
        # a different count for every frm/k combination with k >= 2)
        stmt = (
            f"WITH solo AS (SELECT id FROM {tvf}) "
            f"SELECT count(*) AS n FROM solo WHERE id >= {k}"
        )
        want = len([i for i in ids if i >= k])
    elif shape == "with_in_subq":
        stmt = (
            f"SELECT n FROM (WITH x AS (SELECT id FROM {tvf}) "
            f"SELECT count(*) AS n FROM x WHERE id >= {k}) q"
        )
        want = len([i for i in ids if i >= k])
    else:  # join_reg: TVF CTE joined back to a bare registry name
        stmt = (
            f"WITH a AS (SELECT id FROM {tvf}) "
            f"SELECT count(*) AS n FROM a JOIN solo ON a.id = solo.id"
        )
        want = 1 if (frm == 0 and 1 in ids) else 0
    stmt = _recase_keywords(stmt, kc)
    assert _run_count(spark, stmt) == want


def _recase_keywords(stmt: str, kc) -> str:
    # re-case the SQL keywords only (identifiers/literals untouched)
    import re as _re

    return _re.sub(
        r"\b(WITH|AS|SELECT|FROM|WHERE|JOIN|ON|COUNT)\b",
        lambda m: kc(m.group(0)),
        stmt,
    )


# --- family 2: subquery-in-FROM comma lists ----------------------------------

_member = st.sampled_from(
    [
        ("pdb.tbl", 1, False),
        ("solo", 1, False),
        ("`solo`", 1, False),
        ("range(2)", 2, False),
        ("range(3)", 3, False),
        ("(SELECT 1 AS one)", 1, True),
        ("(SELECT id FROM solo)", 1, True),
        ("(SELECT id FROM pdb.tbl WHERE id >= 0)", 1, True),
    ]
)
_alias_kw = st.sampled_from(["", "AS "])


@given(
    st.lists(_member, min_size=2, max_size=4),
    st.lists(_alias_kw, min_size=4, max_size=4),
    st.booleans(),
)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_from_comma_list_members_all_resolve(spark, fuzz_env, members, akws, tail_where):
    parts, want = [], 1
    for i, (frag, card, needs_alias) in enumerate(members):
        akw = akws[i % len(akws)]
        # derived tables always need an alias; named relations get one
        # pseudo-randomly (alias kw presence doubles as the coin)
        if needs_alias or akw:
            parts.append(f"{frag} {akw}m{i}")
        else:
            parts.append(frag)
        want *= card
    stmt = f"SELECT count(*) AS n FROM {', '.join(parts)}"
    if tail_where:
        stmt += " WHERE 1 = 1"
    assert _run_count(spark, stmt) == want


# --- family 3: quoted identifiers colliding with registry names --------------

_solo_spelling = st.sampled_from(["solo", "SOLO", "Solo", "`solo`"])
_qual_spelling = st.sampled_from(["pdb.tbl", "`pdb`.`tbl`", "`pdb.tbl`", "PDB.TBL"])


@given(_solo_spelling, _qual_spelling)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_quoted_and_cased_spellings_resolve(spark, fuzz_env, s1, s2):
    assert _run_count(spark, f"SELECT count(*) AS n FROM {s1}") == 1
    assert _run_count(spark, f"SELECT count(*) AS n FROM {s2}") == 1


@given(_solo_spelling, _solo_spelling, st.sampled_from([2, 4, 7]))
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cte_shadows_registry_across_spellings(spark, fuzz_env, cte_sp, ref_sp, n):
    # a CTE named (any spelling of) a registry table shadows it for
    # (any spelling of) the reference — registry 'solo' has 1 row, so
    # a mis-resolution always miscounts
    stmt = (
        f"WITH {cte_sp} AS (SELECT * FROM range({n})) "
        f"SELECT count(*) AS n FROM {ref_sp}"
    )
    assert _run_count(spark, stmt) == n


def test_double_quoted_string_is_literal_not_name(spark, fuzz_env):
    # default Spark: "solo" is a STRING literal (doubleQuotedIdentifiers
    # off) — it must be masked, never spliced, and the statement runs
    rows = sql_dml.sql(spark, 'SELECT "solo" AS x FROM solo').collect()
    assert [r.x for r in rows] == ["solo"]


# --- family 4: time-travel pins inside stored views ---------------------------

_view_ref = st.sampled_from(
    [("ttv0", 3), ("ttvv", 2), ("ttcte", 3), ("ttlive", 5)]
)
_outer = st.sampled_from(["plain", "cte", "subq", "join_range", "union_self"])


@given(_view_ref, _outer)
@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_time_travel_pins_inside_views(spark, fuzz_env, ref, outer):
    name, card = ref
    if outer == "plain":
        stmt, want = f"SELECT count(*) AS n FROM {name}", card
    elif outer == "cte":
        stmt = (
            f"WITH w AS (SELECT id FROM {name}) SELECT count(*) AS n FROM w"
        )
        want = card
    elif outer == "subq":
        stmt = f"SELECT count(*) AS n FROM (SELECT id FROM {name}) z"
        want = card
    elif outer == "join_range":
        stmt = (
            f"SELECT count(*) AS n FROM {name} v JOIN range(2) r "
            f"ON v.id = r.id + 1"
        )
        # view ids are 1..card; r.id+1 is 1..2 — overlap = min(card, 2)
        want = min(card, 2)
    else:  # union_self
        stmt = (
            f"SELECT count(*) AS n FROM "
            f"(SELECT id FROM {name} UNION ALL SELECT id FROM {name}) u"
        )
        want = 2 * card
    assert _run_count(spark, stmt) == want


def test_view_pin_survives_base_advance(spark, fuzz_env, tmp_path):
    # the pinned view stays at v0 even after ANOTHER commit advances
    # the base — on a PRIVATE table, so the shared fuzz_env tables'
    # cardinalities (which the hypothesis families assert) never move
    from aws_callcenter_delta_lakehouse_spark.sources import (
        managed_table as mt,
        txn_catalog,
    )

    path = str(tmp_path / "adv")
    mt.commit_overwrite(
        spark.createDataFrame([(i, "x") for i in (1, 2, 3)], "id INT, s STRING"),
        path,
        keys=("id",),
    )
    txn_catalog.register_table_name(fuzz_env, "adv", path)
    sql_dml.sql(spark, "CREATE VIEW advv0 AS SELECT * FROM adv VERSION AS OF 0")
    mt.commit_overwrite(
        spark.createDataFrame([(i, "z") for i in range(1, 8)], "id INT, s STRING"),
        path,
        keys=("id",),
    )
    assert _run_count(spark, "SELECT count(*) AS n FROM advv0") == 3
    assert _run_count(spark, "SELECT count(*) AS n FROM adv") == 7


def test_splice_keeps_name_as_qualifier(spark, fuzz_env):
    """Round-13 fuzz finds, pinned deterministically: (1) a spliced
    relation keeps its name as the implicit column qualifier; (2) an
    explicit alias replaces it (no double-alias syntax error); (3) a
    backtick-quoted CTE definition shadows a same-named registry
    table."""
    assert _run_count(spark, "SELECT count(solo.id) AS n FROM solo") == 1
    assert (
        _run_count(
            spark, "SELECT count(*) AS n FROM tt JOIN solo ON tt.id = solo.id"
        )
        == 1
    )
    # time-travel pin keeps the name too (Delta parity)
    assert (
        _run_count(
            spark,
            "SELECT count(tt.id) AS n FROM tt VERSION AS OF 0 "
            "WHERE tt.id <= 2",
        )
        == 2
    )
    assert _run_count(spark, "SELECT count(z.id) AS n FROM solo z") == 1
    assert _run_count(spark, "SELECT count(z.id) AS n FROM solo AS z") == 1
    # comma-list members keep their names as qualifiers as well
    assert (
        _run_count(
            spark,
            "SELECT count(*) AS n FROM tt, solo WHERE tt.id = solo.id",
        )
        == 1
    )
    assert (
        _run_count(
            spark,
            "WITH `solo` AS (SELECT * FROM range(4)) "
            "SELECT count(*) AS n FROM `solo`",
        )
        == 4
    )
    # TABLESAMPLE sits BETWEEN relation and alias in Spark's grammar —
    # the splice must not inject its implicit alias there
    assert (
        _run_count(
            spark,
            "SELECT count(*) AS n FROM solo TABLESAMPLE (100 PERCENT)",
        )
        == 1
    )
    assert (
        _run_count(
            spark,
            "SELECT count(z.id) AS n FROM solo TABLESAMPLE (100 PERCENT) z",
        )
        == 1
    )
