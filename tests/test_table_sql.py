"""SQL-statement surface (operators/table_sql.py): the grammar-limited
translator must (a) route every supported statement to the matching
operator with exact semantics, and (b) refuse everything else loudly
BEFORE any side effect — a management surface that guesses is worse
than none. x232 proves end-to-end value parity against DuckDB; these
tests pin the grammar boundary itself."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_streamer_spark.operators.table_format import (
    create_table,
    current_version,
    read_table,
)
from video_streamer_spark.operators.table_sql import TableSqlError, table_sql


@pytest.fixture
def t(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
    )
    create_table(base, path, ["k"], n_buckets=4)
    return {"dets": path}


def _src(spark):
    return spark.range(10, 25).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )


def test_merge_statement_matches_direct_operator(spark, tmp_path, t):
    """The translated MERGE must produce byte-identical state to the
    same clauses passed to merge_into directly."""
    from video_streamer_spark.operators.table_format import merge_into

    table_sql(
        spark,
        """
        MERGE INTO dets AS t USING chg AS s ON s.k = t.k
        WHEN MATCHED AND s.k % 2 = 0 THEN UPDATE SET v = t.v + s.v
        WHEN MATCHED AND s.k = 11 THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v * 2.0)
        """,
        t,
        sources={"chg": _src(spark)},
    )
    p2 = str(tmp_path / "direct")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
    )
    create_table(base, p2, ["k"], n_buckets=4)
    merge_into(
        spark,
        p2,
        _src(spark),
        when_matched_update={"v": "t.v + s.v"},
        when_matched_update_condition="s.k % 2 = 0",
        when_matched_delete_condition="s.k = 11",
        when_not_matched_insert={"v": "s.v * 2.0"},
    )
    got = sorted(tuple(r) for r in read_table(spark, t["dets"]).collect())
    want = sorted(tuple(r) for r in read_table(spark, p2).collect())
    assert got == want


def test_select_version_pins_and_temp_view_source(spark, t):
    table_sql(
        spark,
        "MERGE INTO dets t USING chg s ON s.k = t.k "
        "WHEN NOT MATCHED THEN INSERT *",
        t,
        sources={"chg": _src(spark)},
    )
    # an empty-classification MERGE commits NOTHING (no version churn)
    _src(spark).where("k >= 30").createOrReplaceTempView("empty_chg")
    v = table_sql(
        spark,
        "MERGE INTO dets t USING empty_chg s ON s.k = t.k "
        "WHEN MATCHED THEN DELETE",
        t,
    ).collect()[0]["version"]
    assert v == 2
    # a temp view resolves as the MERGE source too
    _src(spark).where("k < 13").createOrReplaceTempView("del_chg")
    v = table_sql(
        spark,
        "MERGE INTO dets t USING del_chg s ON s.k = t.k "
        "WHEN MATCHED THEN DELETE",
        t,
    ).collect()[0]["version"]
    assert v == 3
    n1 = table_sql(
        spark, "SELECT COUNT(*) AS n FROM dets VERSION AS OF 1", t
    ).collect()[0]["n"]
    n2 = table_sql(
        spark, "SELECT COUNT(*) AS n FROM dets VERSION AS OF 2", t
    ).collect()[0]["n"]
    cur = table_sql(spark, "SELECT COUNT(*) AS n FROM dets", t).collect()[
        0
    ]["n"]
    assert (n1, n2, cur) == (20, 25, 22)


def test_restore_and_describe_history(spark, t):
    table_sql(
        spark,
        "MERGE INTO dets t USING chg s ON s.k = t.k "
        "WHEN MATCHED THEN DELETE",
        t,
        sources={"chg": _src(spark)},
    )
    out = table_sql(
        spark, "RESTORE TABLE dets TO VERSION AS OF 1", t
    ).collect()
    assert out[0]["version"] == 3
    assert read_table(spark, t["dets"]).count() == 20
    hist = {
        r["version"]: r["op"]
        for r in table_sql(spark, "DESCRIBE HISTORY dets", t).collect()
    }
    # v2 classifies as "merge": merge_into rewrites the touched buckets
    # (deletes repaid eagerly), it does not tombstone
    assert hist == {1: "create", 2: "merge", 3: "restore"}


def test_grammar_refusals_execute_nothing(spark, t):
    """Every refusal fires BEFORE any side effect: the version is
    unchanged after each attempt."""
    src = _src(spark)
    bad = [
        "DROP TABLE dets",
        "TRUNCATE TABLE dets",
        # malformed DML/DDL skeletons (the verbs are in-grammar; the
        # statements are not)
        "ALTER TABLE dets RENAME COLUMN v TO w",
        "UPDATE dets v = 0",
        "DELETE dets WHERE k = 1",
        # theta ON
        "MERGE INTO dets t USING chg s ON s.k < t.k "
        "WHEN MATCHED THEN DELETE",
        # ON does not cover the key (wrong column)
        "MERGE INTO dets t USING chg s ON s.v = t.v "
        "WHEN MATCHED THEN DELETE",
        # aliases must be distinct (case-insensitively)
        "MERGE INTO dets AS x USING chg AS X ON x.k = x.k "
        "WHEN MATCHED THEN DELETE",
        # INSERT must assign the key verbatim from the source
        "MERGE INTO dets t USING chg s ON s.k = t.k "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k + 1, s.v)",
        # action on the wrong side
        "MERGE INTO dets t USING chg s ON s.k = t.k "
        "WHEN MATCHED THEN INSERT *",
        "MERGE INTO dets t USING chg s ON s.k = t.k "
        "WHEN NOT MATCHED THEN DELETE",
        # duplicate clause kind
        "MERGE INTO dets t USING chg s ON s.k = t.k "
        "WHEN MATCHED AND s.k = 1 THEN DELETE "
        "WHEN MATCHED AND s.k = 2 THEN DELETE",
        # unknown table / source
        "DESCRIBE HISTORY nope",
        "MERGE INTO dets t USING nope s ON s.k = t.k "
        "WHEN MATCHED THEN DELETE",
        "RESTORE TABLE dets",
    ]
    for stmt in bad:
        with pytest.raises(TableSqlError):
            table_sql(spark, stmt, t, sources={"chg": src})
        assert current_version(t["dets"]) == 1, stmt


def test_update_delete_statements_and_serializable_read_set(spark, t):
    """UPDATE compiles to a pinned 'U' changeset whose expressions see
    the PRE-update row; DELETE FROM compiles to tombstones; a WHERE-less
    DELETE is the explicit truncate; key assignment is refused."""
    v = table_sql(
        spark, "UPDATE dets SET v = v + k WHERE k < 5", t
    ).collect()[0]["version"]
    assert v == 2
    got = {r["k"]: r["v"] for r in read_table(spark, t["dets"]).collect()}
    assert got[3] == 33.0 and got[7] == 70.0
    with pytest.raises(TableSqlError, match="key column"):
        table_sql(spark, "UPDATE dets SET k = k + 1", t)
    with pytest.raises(TableSqlError, match="unknown column"):
        table_sql(spark, "UPDATE dets SET nope = 1", t)
    table_sql(spark, "DELETE FROM dets WHERE k >= 10", t)
    assert read_table(spark, t["dets"]).count() == 10
    table_sql(spark, "DELETE FROM dets", t)  # explicit truncate
    assert read_table(spark, t["dets"]).count() == 0
    assert current_version(t["dets"]) == 4


def test_timestamp_as_of_and_maintenance_statements(spark, t):
    """TIMESTAMP AS OF resolves to the latest commit at-or-before the
    stamp (manifest committed_at, stamped retry-stably); OPTIMIZE and
    VACUUM route to the maintenance operators; a timestamp older than
    the oldest retained commit is refused loudly."""
    import time as _time

    t1 = _time.time()
    _time.sleep(0.02)
    table_sql(spark, "UPDATE dets SET v = v * 2.0", t)  # v2
    t2 = _time.time()
    _time.sleep(0.02)
    table_sql(spark, "DELETE FROM dets WHERE k = 0", t)  # v3
    n1 = table_sql(
        spark, f"SELECT COUNT(*) AS n FROM dets TIMESTAMP AS OF '{t1}'", t
    ).collect()[0]["n"]
    s2 = table_sql(
        spark,
        f"SELECT SUM(v) AS s FROM dets TIMESTAMP AS OF '{t2}'",
        t,
    ).collect()[0]["s"]
    assert n1 == 20 and s2 == sum(k * 20.0 for k in range(20))
    table_sql(spark, f"RESTORE TABLE dets TO TIMESTAMP AS OF '{t1}'", t)
    assert read_table(spark, t["dets"]).count() == 20
    with pytest.raises(ValueError, match="as old as timestamp"):
        table_sql(
            spark, "SELECT COUNT(*) AS n FROM dets TIMESTAMP AS OF '1.5'", t
        )
    v = table_sql(spark, "OPTIMIZE dets SORT BY v", t).collect()[0]["version"]
    assert v == 5
    rep = table_sql(
        spark, "VACUUM dets RETAIN 2 VERSIONS DRY RUN", t
    ).collect()[0]
    assert rep["dry_run"] and rep["n_doomed_versions"] >= 1
    assert current_version(t["dets"]) == 5, "dry run commits nothing"


def test_create_table_as_select_statement(spark, tmp_path, t):
    """CTAS materializes a SELECT (version pins included — a
    one-statement historical snapshot) as a NEW table; an existing
    table is refused (CREATE is v1, never a replace), as is a KEY
    column the SELECT doesn't produce."""
    t = dict(t, snap=str(tmp_path / "snap"))
    table_sql(spark, "UPDATE dets SET v = v * 2.0", t)
    table_sql(
        spark,
        "CREATE TABLE snap KEY (k) BUCKETS 2 AS "
        "SELECT k, v FROM dets VERSION AS OF 1",
        t,
    )
    got = {r["k"]: r["v"] for r in read_table(spark, t["snap"]).collect()}
    assert got == {k: k * 10.0 for k in range(20)}, "pre-update snapshot"
    with pytest.raises(TableSqlError, match="already exists"):
        table_sql(spark, "CREATE TABLE snap KEY (k) AS SELECT k, v FROM dets", t)
    with pytest.raises(TableSqlError, match="not in the SELECT"):
        table_sql(
            spark,
            "CREATE TABLE other KEY (nope) AS SELECT k FROM dets",
            dict(t, other=str(tmp_path / "other")),
        )


def test_select_rewrite_respects_literals_and_qualifiers(spark, t):
    """Review r12 finding: string LITERALS are never rewritten (a
    literal equal to a table name survives verbatim), dotted
    occurrences are never treated as table references (alias to
    qualify), TIMESTAMP AS OF pins still work across the quote split,
    and a clauseless MERGE is refused before any work."""
    import time as _time

    # a literal equal to the registered name must stay a literal
    rows = table_sql(
        spark,
        "SELECT COUNT(*) AS n FROM dets WHERE 'dets' = 'dets'",
        t,
    ).collect()
    assert rows[0]["n"] == 20
    rows = table_sql(
        spark,
        "SELECT 'dets' AS tag, COUNT(*) AS n FROM dets",
        t,
    ).collect()
    assert rows[0]["tag"] == "dets" and rows[0]["n"] == 20
    # alias-qualified columns resolve; TS pin works despite the quote
    t1 = _time.time()
    _time.sleep(0.02)
    table_sql(spark, "DELETE FROM dets WHERE k = 0", t)
    rows = table_sql(
        spark,
        f"SELECT COUNT(*) AS n FROM dets TIMESTAMP AS OF '{t1}' AS d "
        "WHERE d.k >= 0",
        t,
    ).collect()
    assert rows[0]["n"] == 20
    with pytest.raises(TableSqlError, match="at least one WHEN"):
        table_sql(
            spark,
            "MERGE INTO dets t USING chg s ON s.k = t.k",
            t,
            sources={"chg": _src(spark)},
        )
    assert current_version(t["dets"]) == 2  # only the DELETE landed


def test_merge_without_not_matched_clause_inserts_nothing(spark, t):
    """SQL MERGE semantics (r12 ADVICE, high): a MERGE whose clauses
    are matched-only must NOT insert unmatched source keys — the
    operator-level insert-all default applies to direct merge_into
    calls, never to a translated statement."""
    # source carries matched keys (10..19) AND unmatched keys (20..24)
    v = table_sql(
        spark,
        "MERGE INTO dets t USING chg s ON s.k = t.k "
        "WHEN MATCHED AND s.k < 12 THEN DELETE",
        t,
        sources={"chg": _src(spark)},
    ).collect()[0]["version"]
    assert v == 2
    keys = {
        r["k"] for r in read_table(spark, t["dets"]).collect()
    }
    assert keys == set(range(20)) - {10, 11}, (
        "unmatched source keys must not appear"
    )


def test_case_when_legal_in_merge_and_update_expressions(spark, t):
    """The clause splitter is CASE-aware (r12 VERDICT item 3): CASE
    WHEN … THEN … END works inside MERGE conditions, SET assignments,
    VALUES expressions, and UPDATE SET — and matches the IF() spelling
    bit-for-bit."""
    table_sql(
        spark,
        "MERGE INTO dets t USING chg s ON s.k = t.k "
        "WHEN MATCHED AND CASE WHEN s.k < 12 THEN true ELSE false END "
        "THEN UPDATE SET v = CASE WHEN s.v > 11 THEN -1.0 ELSE -2.0 END "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES "
        "(s.k, CASE WHEN s.k % 2 = 0 THEN 0.5 ELSE 1.5 END)",
        t,
        sources={"chg": _src(spark)},
    )
    got = {r["k"]: r["v"] for r in read_table(spark, t["dets"]).collect()}
    assert got[10] == -2.0 and got[11] == -2.0  # s.v = k*1.0 <= 11
    assert got[12] == 120.0  # condition false -> untouched
    assert got[20] == 0.5 and got[21] == 1.5  # inserted via CASE
    table_sql(
        spark,
        "UPDATE dets SET v = CASE WHEN k < 2 THEN 99.0 ELSE v END",
        t,
    )
    got = {r["k"]: r["v"] for r in read_table(spark, t["dets"]).collect()}
    assert got[0] == 99.0 and got[1] == 99.0 and got[5] == 50.0


def test_free_merge_aliases_normalize(spark, t, tmp_path):
    """r13 VERDICT item 5: MERGE aliases are free identifiers — every
    dotted reference normalizes (case-insensitively, quote-aware,
    swap-safe) to the internal t/s, byte-equal to the canonical
    spelling. Same-name aliases refuse."""
    from video_streamer_spark.operators.table_format import create_table

    def fresh(name):
        p = str(tmp_path / name)
        base = spark.range(0, 20).select(
            F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
        )
        create_table(base, p, ["k"], n_buckets=4)
        return p

    variants = [
        # uppercase aliases, mixed-case references
        "MERGE INTO dets AS T USING chg AS S ON T.k = S.k "
        "WHEN MATCHED AND S.k % 2 = 0 THEN UPDATE SET v = t.v + S.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (S.k, s.v)",
        # arbitrary names; alias-shaped text inside a literal untouched
        "MERGE INTO dets AS tgt USING chg AS src ON src.k = tgt.k "
        "WHEN MATCHED AND src.k % 2 = 0 THEN "
        "UPDATE SET v = tgt.v + src.v + length('src. tgt.') * 0 "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)",
        # SWAPPED t/s: the user's s is the TARGET
        "MERGE INTO dets AS s USING chg AS t ON t.k = s.k "
        "WHEN MATCHED AND t.k % 2 = 0 THEN UPDATE SET v = s.v + t.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (t.k, t.v)",
    ]
    canon = (
        "MERGE INTO dets t USING chg s ON s.k = t.k "
        "WHEN MATCHED AND s.k % 2 = 0 THEN UPDATE SET v = t.v + s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
    )
    p0 = fresh("canon")
    table_sql(spark, canon, {"dets": p0}, sources={"chg": _src(spark)})
    want = sorted(tuple(r) for r in read_table(spark, p0).collect())
    for i, stmt in enumerate(variants):
        p = fresh(f"var{i}")
        table_sql(spark, stmt, {"dets": p}, sources={"chg": _src(spark)})
        got = sorted(tuple(r) for r in read_table(spark, p).collect())
        assert got == want, stmt
    with pytest.raises(TableSqlError, match="must differ"):
        table_sql(
            spark,
            "MERGE INTO dets AS a USING chg AS A ON a.k = a.k "
            "WHEN MATCHED THEN DELETE",
            t,
            sources={"chg": _src(spark)},
        )
    # alias-LESS merge: the [AS <alias>] really is optional (r14
    # review — the refusal text promised defaults the regex refused)
    p_free = fresh("aliasless")
    table_sql(
        spark,
        "MERGE INTO dets USING chg ON s.k = t.k "
        "WHEN MATCHED AND s.k % 2 = 0 THEN UPDATE SET v = t.v + s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)",
        {"dets": p_free},
        sources={"chg": _src(spark)},
    )
    got = sorted(tuple(r) for r in read_table(spark, p_free).collect())
    assert got == want
    # an undeclared internal name must refuse, never silently bind
    with pytest.raises(TableSqlError, match="undeclared alias"):
        table_sql(
            spark,
            "MERGE INTO dets AS tgt USING chg AS src ON src.k = tgt.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v",
            t,
            sources={"chg": _src(spark)},
        )


def test_alias_rewrite_is_path_safe(spark):
    """A struct FIELD named like an alias must survive the rewrite:
    only path-LEADING tokens are alias references (r14 review)."""
    from video_streamer_spark.operators.table_sql import (
        _rewrite_alias_refs,
    )

    out = _rewrite_alias_refs(
        "UPDATE SET v = tgt.payload.src.amount + src.w", "tgt", "src"
    )
    assert out == "UPDATE SET v = t.payload.src.amount + s.w"
    # swapped internals still path-safe
    out2 = _rewrite_alias_refs("s.meta.t.x + t.meta.s.y", "s", "t")
    assert out2 == "t.meta.t.x + s.meta.s.y"


def test_insert_into_values_and_select(spark, t):
    """INSERT INTO appends NEW rows atomically: VALUES and SELECT
    bodies, positional column binding, null-backfill of omitted
    non-key columns, and loud refusals for existing keys, duplicate
    source keys, unknown/missing-key column lists, and arity
    mismatches — each refusal leaving the version untouched."""
    v = table_sql(
        spark, "INSERT INTO dets VALUES (100, 1.5), (101, 2.5)", t
    ).collect()[0]["version"]
    assert v == 2
    got = {r["k"]: r["v"] for r in read_table(spark, t["dets"]).collect()}
    assert got[100] == 1.5 and got[101] == 2.5 and len(got) == 22
    # SELECT body + explicit column list (k only -> v null-backfills)
    table_sql(
        spark,
        "INSERT INTO dets (k) SELECT k + 200 FROM dets VERSION AS OF 1",
        t,
    )
    got = {r["k"]: r["v"] for r in read_table(spark, t["dets"]).collect()}
    assert got[205] is None and len(got) == 42
    before = current_version(t["dets"])
    for stmt, msg in [
        ("INSERT INTO dets VALUES (100, 9.9)", "duplicate existing key"),
        ("INSERT INTO dets VALUES (300, 1.0), (300, 2.0)", "share a key"),
        ("INSERT INTO dets (k, nope) VALUES (1, 2)", "unknown column"),
        ("INSERT INTO dets (v) VALUES (1.0)", "key column"),
        ("INSERT INTO dets (k, v) VALUES (1, 2, 3)", "INSERT binds 2"),
        ("INSERT INTO dets (k, k) VALUES (1, 2)", "duplicates"),
        ("INSERT INTO nope VALUES (1, 2)", "unknown table"),
    ]:
        with pytest.raises(TableSqlError, match=msg):
            table_sql(spark, stmt, t)
        assert current_version(t["dets"]) == before, stmt


def test_values_no_space_and_escaped_quote_literals(spark, t):
    """ADVICE r13: `VALUES(…)` with no whitespace is the common
    spelling and must parse; doubled-quote ('O''Brien') and
    backslash-escaped literals must not desync the quote tracker in
    either the keyword scanner or the top-level splitter."""
    from video_streamer_spark.operators.table_sql import (
        _scan_keywords,
        _split_top,
    )

    v = table_sql(spark, "INSERT INTO dets VALUES(500, 5.5)", t).collect()[
        0
    ]["version"]
    assert v == 2
    got = {r["k"]: r["v"] for r in read_table(spark, t["dets"]).collect()}
    assert got[500] == 5.5

    # a doubled quote inside a literal must stay inside it: the WHEN
    # after the literal is the real clause boundary, and the statement
    # must run end-to-end
    table_sql(spark, "ALTER TABLE dets ADD COLUMN name string", t)
    table_sql(
        spark,
        "MERGE INTO dets t USING chg s ON s.k = t.k "
        "WHEN MATCHED THEN UPDATE SET name = 'O''Brien' "
        "WHEN NOT MATCHED THEN INSERT *",
        t,
        sources={
            "chg": spark.sql(
                "SELECT CAST(3 AS BIGINT) k, 9.0 v, 'x' name"
            )
        },
    )
    got = {r["k"]: r["name"] for r in read_table(spark, t["dets"]).collect()}
    assert got[3] == "O'Brien"

    # scanner-level: tokens inside escaped literals are never keywords
    hits = _scan_keywords(
        "WHEN 'a''WHEN b' THEN 'c\\' WHEN d' END2 WHEN", {"WHEN", "THEN"}
    )
    assert [w for _, _, w in hits] == ["WHEN", "THEN", "WHEN"]
    assert _split_top("'a,''b', 'c\\',d', e", ",") == [
        "'a,''b'",
        "'c\\',d'",
        "e",
    ]


def test_show_create_table_is_self_describing(spark, t):
    """SHOW CREATE TABLE surfaces schema, key, NOT NULL, constraints,
    column mapping, and retired names from SQL alone (r12 VERDICT
    item 7) — introspection a user needs before typing a MERGE."""
    table_sql(spark, "ALTER TABLE dets ALTER COLUMN v SET NOT NULL", t)
    table_sql(
        spark, "ALTER TABLE dets ADD CONSTRAINT v_ok CHECK (v >= 0)", t
    )
    table_sql(spark, "ALTER TABLE dets ADD COLUMN w bigint", t)
    table_sql(spark, "ALTER TABLE dets DROP COLUMN w", t)
    table_sql(spark, "ALTER TABLE dets ADD COLUMN w bigint", t)  # fresh fid
    rows = {
        (r["element"], r["name"]): r["value"]
        for r in table_sql(spark, "SHOW CREATE TABLE dets", t).collect()
    }
    assert rows[("column", "k")] == "bigint"
    assert rows[("column", "v")] == "double"
    assert rows[("column", "w")] == "bigint"
    assert rows[("key", "k")] == "0"
    assert ("not_null", "v") in rows
    assert rows[("constraint", "v_ok")] == "v >= 0"
    assert rows[("column_mapping", "w")].startswith("w__fid")
    assert ("retired_column", "w") in rows
    assert rows[("property", "n_buckets")] == "4"
    # the NOT NULL statement round-trips: violating insert refused.
    # (drop the CHECK first — its NULL-is-violation rule fires on the
    # same row and would mask which guard we're proving)
    table_sql(spark, "ALTER TABLE dets DROP CONSTRAINT v_ok", t)
    with pytest.raises(Exception, match="NOT NULL constraint"):
        table_sql(spark, "INSERT INTO dets (k, v) VALUES (500, NULL)", t)
    table_sql(spark, "ALTER TABLE dets ALTER COLUMN v DROP NOT NULL", t)
    table_sql(spark, "INSERT INTO dets (k, v) VALUES (500, NULL)", t)
    assert read_table(spark, t["dets"]).where("k = 500").count() == 1


def test_merge_set_unknown_and_key_columns_refused(spark, t):
    """r12 ADVICE (medium): `UPDATE SET k = 99` (key) and `SET pric =
    x` (typo) through the statement MERGE must refuse loudly, never
    no-op — enforcement lives in merge_into's clause validation, and
    these pins keep the statement path wired to it."""
    src = _src(spark)
    with pytest.raises(ValueError, match="key column"):
        table_sql(
            spark,
            "MERGE INTO dets t USING chg s ON s.k = t.k "
            "WHEN MATCHED THEN UPDATE SET k = 99",
            t,
            sources={"chg": src},
        )
    with pytest.raises(ValueError, match="unknown column"):
        table_sql(
            spark,
            "MERGE INTO dets t USING chg s ON s.k = t.k "
            "WHEN MATCHED THEN UPDATE SET pric = s.v",
            t,
            sources={"chg": src},
        )
    with pytest.raises(ValueError, match="unknown column"):
        table_sql(
            spark,
            "MERGE INTO dets t USING chg s ON s.k = t.k "
            "WHEN NOT MATCHED THEN INSERT (k, pric) VALUES (s.k, s.v)",
            t,
            sources={"chg": src},
        )
    assert current_version(t["dets"]) == 1


def test_merge_not_matched_by_source_clauses(spark, t):
    """Delta's third clause family through the statement surface:
    target rows no source key matches can be deleted or updated
    (t.-expressions only, fixed DELETE-before-UPDATE order); INSERT
    and SET * are refused there; plain NOT MATCHED [BY TARGET] keeps
    its meaning. The classification is a full anti-join, so the
    commit's read set covers every bucket (serializable)."""
    # dets keys 0..19 (v = k*10); source covers 10..24
    v = table_sql(
        spark,
        "MERGE INTO dets t USING chg s ON s.k = t.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED BY TARGET THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.k < 3 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE AND CASE WHEN t.k < 6 THEN true "
        "ELSE false END THEN UPDATE SET v = -t.v",
        t,
        sources={"chg": _src(spark)},
    ).collect()[0]["version"]
    assert v == 2
    got = {r["k"]: r["v"] for r in read_table(spark, t["dets"]).collect()}
    # 0,1,2 deleted; 3,4,5 negated; 6..9 untouched; 10..19 updated to
    # source values; 20..24 inserted
    assert set(got) == set(range(3, 25))
    assert got[3] == -30.0 and got[5] == -50.0
    assert got[7] == 70.0
    assert got[12] == 12.0 and got[24] == 24.0
    # refusals: INSERT / SET * on the by-source side
    for stmt, msg in [
        (
            "MERGE INTO dets t USING chg s ON s.k = t.k "
            "WHEN NOT MATCHED BY SOURCE THEN INSERT *",
            "only DELETE",
        ),
        (
            "MERGE INTO dets t USING chg s ON s.k = t.k "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *",
            "no source row",
        ),
    ]:
        with pytest.raises(TableSqlError, match=msg):
            table_sql(spark, stmt, t, sources={"chg": _src(spark)})
    assert current_version(t["dets"]) == 2


def test_merge_by_source_widens_occ_read_set(spark, t):
    """A BY SOURCE merge classified before ANY concurrent write must
    re-raise — its classification read every bucket, so no winner is
    rebasable past it."""
    from video_streamer_spark.operators.table_format import (
        VersionConflictError,
        merge_into,
        merge_table,
    )

    path = t["dets"]
    src = _src(spark).where("k < 12")  # matched-only keys
    # pin classification at v1, then land a concurrent writer touching
    # a bucket the source keys do NOT route to
    import video_streamer_spark.operators.table_format as tf

    base_v = current_version(path)
    # concurrent winner: update key 19 (likely a different bucket)
    merge_table(
        spark,
        path,
        spark.createDataFrame([(19, 0.5, "U")], "k bigint, v double, __op string"),
    )
    # a by-source merge computed against the stale base must conflict:
    # simulate by calling the operator with base pinned via monkey
    # construction — the public path recomputes current_version, so
    # drive merge_table directly with the stale base + full read set
    with pytest.raises(VersionConflictError):
        merge_table(
            spark,
            path,
            spark.createDataFrame(
                [(0, 1.0, "D")], "k bigint, v double, __op string"
            ),
            base_version=base_v,
            read_buckets=set(range(4)),
        )


def test_create_table_shallow_clone_statement(spark, t, tmp_path):
    """CREATE TABLE … SHALLOW CLONE routes to clone_table, honors
    version/timestamp pins, and refuses an existing destination."""
    import time as _time

    t1 = _time.time()
    _time.sleep(0.05)
    table_sql(spark, "DELETE FROM dets WHERE k >= 10", t)  # v2
    T = {**t, "cl": str(tmp_path / "cl"), "cl2": str(tmp_path / "cl2")}
    v = table_sql(
        spark, "CREATE TABLE cl SHALLOW CLONE dets", T
    ).collect()[0]["version"]
    assert v == 1
    assert read_table(spark, T["cl"]).count() == 10  # current state
    table_sql(
        spark,
        f"CREATE TABLE cl2 SHALLOW CLONE dets TIMESTAMP AS OF '{t1}'",
        T,
    )
    assert read_table(spark, T["cl2"]).count() == 20  # pre-delete pin
    with pytest.raises(TableSqlError, match="already exists"):
        table_sql(spark, "CREATE TABLE cl SHALLOW CLONE dets", T)
    # version pin through a fresh name
    T["cl3"] = str(tmp_path / "cl3")
    table_sql(spark, "CREATE TABLE cl3 SHALLOW CLONE dets VERSION AS OF 1", T)
    assert read_table(spark, T["cl3"]).count() == 20


def test_insert_overwrite_is_sync(spark, t):
    """INSERT OVERWRITE replaces content atomically via sync_table:
    removed keys tombstone, changed keys update, new keys insert; an
    unchanged overwrite commits NOTHING; arity mismatches refuse."""
    spark.range(0, 5).selectExpr(
        "id AS k", "id * 2.0 AS v"
    ).createOrReplaceTempView("ow_src")
    v = table_sql(
        spark, "INSERT OVERWRITE dets SELECT * FROM ow_src", t
    ).collect()[0]["version"]
    assert v == 2
    got = {r["k"]: r["v"] for r in read_table(spark, t["dets"]).collect()}
    assert got == {i: i * 2.0 for i in range(5)}
    # unchanged overwrite: no version churn
    v2 = table_sql(
        spark, "INSERT OVERWRITE dets SELECT * FROM ow_src", t
    ).collect()[0]["version"]
    assert v2 == 2
    # VALUES body
    v3 = table_sql(
        spark, "INSERT OVERWRITE dets VALUES (1, 5.0), (9, 9.0)", t
    ).collect()[0]["version"]
    assert v3 == 3
    got = {r["k"]: r["v"] for r in read_table(spark, t["dets"]).collect()}
    assert got == {1: 5.0, 9: 9.0}
    with pytest.raises(TableSqlError, match="every table column"):
        table_sql(spark, "INSERT OVERWRITE dets VALUES (1)", t)
    assert current_version(t["dets"]) == 3


def test_session_catalog_resolves_statements(spark, tmp_path):
    """r13 VERDICT item 3: register a name ONCE in vss_catalog, then
    run statements with NO tables dict; an explicit dict overrides the
    catalog per name; MERGE USING a registered table reads its current
    snapshot; unknown names name both candidate sets; unregister
    forgets the binding."""
    from video_streamer_spark import vss_catalog
    from video_streamer_spark.operators.table_format import create_table

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    create_table(base, a, ["k"], n_buckets=2)
    create_table(
        base.select("k", (F.col("v") + 100.0).alias("v")),
        b,
        ["k"],
        n_buckets=2,
    )
    vss_catalog.register("cat_a", a)
    vss_catalog.register("cat_b", b)
    try:
        # statements with no tables dict at all
        n = table_sql(
            spark, "SELECT COUNT(*) AS n FROM cat_a"
        ).collect()[0]["n"]
        assert n == 10
        table_sql(spark, "UPDATE cat_a SET v = v + 1.0 WHERE k < 3")
        hist = table_sql(spark, "DESCRIBE HISTORY cat_a").collect()
        assert max(r["version"] for r in hist) == 2
        # MERGE USING a registered table name: cat_b's snapshot
        table_sql(
            spark,
            "MERGE INTO cat_a t USING cat_b s ON s.k = t.k "
            "WHEN MATCHED AND s.k >= 8 THEN UPDATE SET v = s.v",
        )
        got = {r["k"]: r["v"] for r in read_table(spark, a).collect()}
        assert got[9] == 109.0 and got[0] == 1.0
        # explicit dict OVERRIDES the catalog for that name
        n = table_sql(
            spark,
            "SELECT COUNT(*) AS n FROM cat_a WHERE v >= 100",
            {"cat_a": b},
        ).collect()[0]["n"]
        assert n == 10
        with pytest.raises(TableSqlError, match="vss_catalog"):
            table_sql(spark, "DESCRIBE HISTORY nope")
    finally:
        vss_catalog.unregister("cat_a")
        vss_catalog.unregister("cat_b")
    with pytest.raises(TableSqlError):
        table_sql(spark, "DESCRIBE HISTORY cat_a")
    with pytest.raises(KeyError):
        vss_catalog.unregister("cat_a")
    with pytest.raises(ValueError, match="identifier"):
        vss_catalog.register("not a name", a)
