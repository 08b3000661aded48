"""CREATE TABLE ... LIKE, EXECUTE STATEMENT SET (SQL text), and
ALTER TABLE SET/ADD/MODIFY (SURVEY.md §2 DDL surface; VERDICT r4 #4-6).

Reference parity: SqlCreateTableLike.java:71 + SqlTableLike.java
(INCLUDING/EXCLUDING/OVERWRITING merge options), SqlStatementSet.java:41
+ SqlExecute.java / SqlBeginStatementSet.java, SqlAlterTableOptions /
SqlAlterTableAdd / SqlAlterTableModify.
"""

from __future__ import annotations

import os

import pytest

from flink_1_16_0_src_spark.session import TableEnvironment

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def tenv(spark):
    return TableEnvironment(spark)


def _create_base(tenv, name="like_base"):
    tenv.execute_sql(
        f"CREATE TABLE {name} (ts TIMESTAMP(3), user_id BIGINT, value DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '10' SECOND)"
        f" WITH ('connector'='filesystem','path'='{SF_DIR}/events.parquet',"
        f"'format'='parquet','myopt'='base')"
    )


def test_like_inherits_schema_options_watermark(tenv):
    _create_base(tenv)
    df = tenv.execute_sql("CREATE TABLE like_all LIKE like_base")
    assert df is not None and df.count() > 0
    # default INCLUDING ALL OVERWRITING OPTIONS: options + watermark inherit
    assert tenv._registrations["like_all"]["props"]["myopt"] == "base"
    assert tenv._watermarks["like_all"] == ("ts", "10 SECONDS")
    # same rows through SQL as the base
    n_base = tenv.sql_query("SELECT count(*) c FROM like_base").collect()[0].c
    n_like = tenv.sql_query("SELECT count(*) c FROM like_all").collect()[0].c
    assert n_base == n_like


def test_like_overwriting_options_new_wins(tenv):
    _create_base(tenv)
    tenv.execute_sql(
        "CREATE TABLE like_ovr WITH ('myopt'='derived') LIKE like_base"
    )
    # default merge strategy is OVERWRITING OPTIONS -> new value wins
    p = tenv._registrations["like_ovr"]["props"]
    assert p["myopt"] == "derived" and p["format"] == "parquet"


def test_like_including_options_conflict_raises(tenv):
    _create_base(tenv)
    with pytest.raises(ValueError, match="INCLUDING OPTIONS"):
        tenv.execute_sql(
            "CREATE TABLE like_conf WITH ('myopt'='derived') "
            "LIKE like_base (INCLUDING OPTIONS)"
        )


def test_like_excluding_watermarks(tenv):
    _create_base(tenv)
    tenv.execute_sql(
        "CREATE TABLE like_nowm LIKE like_base (INCLUDING ALL EXCLUDING WATERMARKS)"
    )
    assert "like_nowm" not in tenv._watermarks


def test_like_extra_columns_append(tenv):
    _create_base(tenv)
    # a physical column and a computed (GENERATED) column both append
    tenv.execute_sql(
        "CREATE TABLE like_extra (flag INT, source AS 'derived') LIKE like_base"
    )
    df = tenv.table("like_extra")
    assert "source" in df.columns and df.select("source").first()[0] == "derived"
    assert "flag" in df.columns


def test_like_unknown_base_raises(tenv):
    with pytest.raises(ValueError, match="no DDL registration"):
        tenv.execute_sql("CREATE TABLE like_orphan LIKE no_such_table")


def test_execute_statement_set_sql_text_matches_api(tenv, spark, tmp_path):
    """Parity: the SQL-text statement set and the API produce identical
    sink contents AND the same shared-subplan count on a two-sink plan
    with a common subtree."""
    _create_base(tenv, "ss_src")
    p_sql = {k: str(tmp_path / f"sql_{k}") for k in ("hi", "lo")}
    p_api = {k: str(tmp_path / f"api_{k}") for k in ("hi", "lo")}
    for tag, paths in (("sql", p_sql), ("api", p_api)):
        for k in ("hi", "lo"):
            tenv.execute_sql(
                f"CREATE TABLE snk_{tag}_{k} WITH ('connector'='filesystem',"
                f"'path'='{paths[k]}','format'='parquet')"
            )
    shared = ("SELECT user_id, count(*) AS n, sum(value) AS s FROM ss_src "
              "GROUP BY user_id")
    # SQL text form
    res = tenv.execute_sql(
        "EXECUTE STATEMENT SET BEGIN "
        f"INSERT INTO snk_sql_hi SELECT * FROM ({shared}) WHERE n > 5; "
        f"INSERT INTO snk_sql_lo SELECT * FROM ({shared}) WHERE n <= 5; "
        "END"
    ).collect()[0]
    # API form
    ss = tenv.create_statement_set()
    ss.add_insert_sql(f"INSERT INTO snk_api_hi SELECT * FROM ({shared}) WHERE n > 5")
    ss.add_insert_sql(f"INSERT INTO snk_api_lo SELECT * FROM ({shared}) WHERE n <= 5")
    api = ss.execute()
    assert res.statements == 2 == api["statements"]
    assert res.shared_subplans == api["shared_subplans"] >= 1
    for k in ("hi", "lo"):
        a = sorted(map(tuple, spark.read.parquet(p_sql[k]).collect()))
        b = sorted(map(tuple, spark.read.parquet(p_api[k]).collect()))
        assert a == b and len(a) > 0 or (len(a) == len(b) == 0)


def test_begin_statement_set_cli_split_form(tenv, spark, tmp_path):
    _create_base(tenv, "ss_src2")
    p = str(tmp_path / "cli_sink")
    tenv.execute_sql(
        f"CREATE TABLE snk_cli WITH ('connector'='filesystem',"
        f"'path'='{p}','format'='parquet')"
    )
    assert tenv.execute_sql("BEGIN STATEMENT SET;") is None
    assert tenv.execute_sql(
        "INSERT INTO snk_cli SELECT user_id FROM ss_src2 LIMIT 10"
    ) is None
    assert not os.path.exists(p)  # nothing runs until END
    res = tenv.execute_sql("END;").collect()[0]
    assert res.statements == 1
    assert spark.read.parquet(p).count() == 10


def test_alter_table_set_options(tenv):
    _create_base(tenv, "alt_set")
    tenv.execute_sql("ALTER TABLE alt_set SET ('myopt'='changed','new.key'='v')")
    p = tenv._registrations["alt_set"]["props"]
    assert p["myopt"] == "changed" and p["new.key"] == "v"
    # table still reads after re-registration
    assert tenv.sql_query("SELECT count(*) c FROM alt_set").collect()[0].c > 0


def test_alter_table_add_and_modify_columns(tenv):
    _create_base(tenv, "alt_cols")
    tenv.execute_sql("ALTER TABLE alt_cols ADD (flag INT, note STRING)")
    df = tenv.table("alt_cols")
    assert "flag" in df.columns and "note" in df.columns
    row = df.select("flag", "note").first()
    assert row.flag is None and row.note is None
    # MODIFY retypes in place (cast-on-read)
    tenv.execute_sql("ALTER TABLE alt_cols MODIFY (user_id STRING)")
    assert dict(tenv.table("alt_cols").dtypes)["user_id"] == "string"
    with pytest.raises(ValueError, match="exists"):
        tenv.execute_sql("ALTER TABLE alt_cols ADD (flag INT)")
    with pytest.raises(ValueError, match="no column"):
        tenv.execute_sql("ALTER TABLE alt_cols MODIFY (ghost INT)")


def test_alter_table_rename_moves_registration(tenv):
    _create_base(tenv, "alt_ren")
    tenv.execute_sql("ALTER TABLE alt_ren RENAME TO alt_ren2")
    assert "alt_ren2" in tenv._registrations and "alt_ren" not in tenv._registrations
    assert tenv.sql_query("SELECT count(*) c FROM alt_ren2").collect()[0].c > 0


def _ddl_records(tenv, name):
    return [m for m in (tenv._registrations, tenv._sources, tenv._sinks,
                        tenv._watermarks, tenv._proctimes) if name in m]


def test_drop_table_forgets_registration(tenv):
    """DROP TABLE, DROP TEMPORARY TABLE and drop_temporary_view leave no
    DDL record of the table behind, so a re-CREATE without a WATERMARK
    has none; RENAME moves the processing-time attribute with the rest."""
    events = f"'connector'='filesystem','path'='{SF_DIR}/events.parquet'"
    for name, drop in [
        ("drop_pw", lambda: tenv.execute_sql("DROP TABLE drop_pw")),
        ("drop_tmp", lambda: tenv.execute_sql("DROP TEMPORARY TABLE IF EXISTS drop_tmp")),
        ("drop_api", lambda: tenv.drop_temporary_view("drop_api")),
    ]:
        tenv.execute_sql(
            f"CREATE TABLE {name} (ts TIMESTAMP(3), user_id BIGINT, pt AS PROCTIME(),"
            f" WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE) WITH ({events})"
        )
        assert len(_ddl_records(tenv, name)) == 4, name  # a source, not a sink
        drop()
        assert _ddl_records(tenv, name) == [], name
    tenv.execute_sql(f"CREATE TABLE drop_pw (ts TIMESTAMP(3), user_id BIGINT) WITH ({events})")
    assert "drop_pw" not in tenv._watermarks
    assert "drop_pw" not in tenv._proctimes
    tenv.execute_sql(
        f"CREATE TABLE ren_pt (ts TIMESTAMP(3), pt AS PROCTIME()) WITH ({events})"
    )
    tenv.execute_sql("ALTER TABLE ren_pt RENAME TO ren_pt2")
    assert tenv._proctimes.get("ren_pt2") == "pt"
    assert _ddl_records(tenv, "ren_pt") == []


def test_show_create_table_roundtrip(tenv):
    """SHOW CREATE TABLE (SqlShowCreateTable.java): the printed DDL
    re-executes into an equivalent registration (rename-free
    round-trip), carrying watermark, options, and ALTER overlays."""
    _create_base(tenv, "sct_base")
    tenv.execute_sql("ALTER TABLE sct_base ADD (flag INT)")
    ddl = tenv.execute_sql("SHOW CREATE TABLE sct_base").collect()[0].result
    assert "WATERMARK FOR ts AS ts - INTERVAL '10' SECONDS" in ddl
    assert "'myopt' = 'base'" in ddl and "flag INT" in ddl
    # round-trip: the emitted DDL parses and registers an equivalent table
    tenv.execute_sql(ddl.replace("CREATE TABLE sct_base", "CREATE TABLE sct_copy"))
    a = tenv.sql_query("SELECT count(*) c FROM sct_base").collect()[0].c
    b = tenv.sql_query("SELECT count(*) c FROM sct_copy").collect()[0].c
    assert a == b and "sct_copy" in tenv._watermarks


def test_like_of_ctas_table(tenv, tmp_path):
    """CTAS tables record a registration too, so LIKE can derive from
    them (schema inferred; options inherit/override as usual)."""
    p = str(tmp_path / "ctas_base")
    tenv.execute_sql(
        f"CREATE TABLE ctas_base WITH ('connector'='filesystem',"
        f"'path'='{p}','format'='parquet','k'='v') AS "
        f"SELECT 1 AS a, 'x' AS b"
    )
    tenv.execute_sql("CREATE TABLE ctas_like WITH ('k'='w') LIKE ctas_base")
    assert tenv._registrations["ctas_like"]["props"]["k"] == "w"
    got = tenv.sql_query("SELECT a, b FROM ctas_like").collect()
    assert [(r.a, r.b) for r in got] == [(1, "x")]


def test_insert_with_column_list_null_fills(tenv, spark, tmp_path):
    """INSERT INTO t (a, c) SELECT ...: positional mapping to the
    listed columns, declared-but-unlisted columns land as typed NULLs
    (SqlInsert column list / FLIP-219 partial insert)."""
    p = str(tmp_path / "collist_sink")
    tenv.execute_sql(
        f"CREATE TABLE snk_collist (a INT, b STRING, c DOUBLE) WITH ("
        f"'connector'='filesystem','path'='{p}','format'='parquet')"
    )
    tenv.execute_sql("INSERT INTO snk_collist (c, a) SELECT 1.5, 7")
    got = spark.read.parquet(p).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.a, r.b, r.c) == (7, None, 1.5)


def test_statement_set_static_partition(tenv, spark, tmp_path):
    """Statement-set INSERTs honor static PARTITION clauses (typed
    constant columns + partitioned write), same as single INSERTs."""
    p = str(tmp_path / "ss_part_sink")
    tenv.execute_sql(
        f"CREATE TABLE snk_ss_part (region INT, n BIGINT) WITH ("
        f"'connector'='filesystem','path'='{p}','format'='parquet')"
    )
    res = tenv.execute_sql(
        "EXECUTE STATEMENT SET BEGIN "
        "INSERT INTO snk_ss_part PARTITION (region=7) SELECT CAST(42 AS BIGINT); "
        "END"
    ).collect()[0]
    assert res.statements == 1
    got = spark.read.parquet(p).collect()
    assert [(r.region, r.n) for r in got] == [(7, 42)]
    # partitioned directory layout (static col became a partition)
    import os
    assert any(d.startswith("region=") for d in os.listdir(p))


def test_alter_table_reset_options(tenv):
    """SqlAlterTableReset.java: RESET drops listed keys; connector is
    protected."""
    _create_base(tenv, "reset_base")
    tenv.execute_sql("ALTER TABLE reset_base RESET ('myopt')")
    assert "myopt" not in tenv._registrations["reset_base"]["props"]
    with pytest.raises(ValueError, match="cannot reset 'connector'"):
        tenv.execute_sql("ALTER TABLE reset_base RESET ('connector')")
    with pytest.raises(ValueError, match="at least one key"):
        tenv.execute_sql("ALTER TABLE reset_base RESET ()")


def _count_files(path, suffix=".parquet"):
    out = 0
    for root, _dirs, files in os.walk(path):
        out += sum(1 for f in files if f.endswith(suffix))
    return out


def test_alter_table_compact_statement(tenv, spark, tmp_path):
    """ALTER TABLE ... COMPACT (SqlAlterTableCompact.java:33): the SQL
    statement merges small files and the re-registered view sees
    identical rows."""
    path = os.path.join(str(tmp_path), "cmp")
    src = spark.range(0, 10000).withColumnRenamed("id", "v")
    src.repartition(24).write.parquet(path)
    assert _count_files(path) >= 24
    tenv.execute_sql(
        f"CREATE TABLE cmp_t WITH ('connector'='filesystem',"
        f"'path'='{path}','format'='parquet')"
    )
    before = tenv.spark.table("cmp_t").agg({"v": "sum"}).collect()[0][0]
    tenv.execute_sql("ALTER TABLE cmp_t COMPACT")
    assert _count_files(path) <= 2
    assert tenv.spark.table("cmp_t").agg({"v": "sum"}).collect()[0][0] == before
    assert tenv.spark.table("cmp_t").count() == 10000


def test_alter_table_compact_partition_scoped(tenv, spark, tmp_path):
    """PARTITION(k=v) COMPACT touches only that directory; other
    partitions keep their file layout."""
    path = os.path.join(str(tmp_path), "cmp_part")
    from pyspark.sql import functions as F

    spark.range(0, 8000).select(
        (F.col("id") % 4).alias("p"), F.col("id").alias("v")
    ).repartition(12).write.partitionBy("p").parquet(path)
    tenv.execute_sql(
        f"CREATE TABLE cmp_p (v BIGINT) PARTITIONED BY (p) "
        f"WITH ('connector'='filesystem','path'='{path}','format'='parquet')"
    )
    files_p1_before = _count_files(os.path.join(path, "p=1"))
    files_p2_before = _count_files(os.path.join(path, "p=2"))
    assert files_p1_before > 1
    tenv.execute_sql("ALTER TABLE cmp_p PARTITION (p=1) COMPACT")
    assert _count_files(os.path.join(path, "p=1")) == 1
    assert _count_files(os.path.join(path, "p=2")) == files_p2_before
    df = tenv.spark.table("cmp_p")
    assert df.where("p = 1").count() == 2000
    assert df.count() == 8000
    # bad specs
    with pytest.raises(ValueError, match="fully valued"):
        tenv.execute_sql("ALTER TABLE cmp_p PARTITION (p) COMPACT")
    with pytest.raises(ValueError, match="prefix"):
        tenv.execute_sql("ALTER TABLE cmp_p PARTITION (v=3) COMPACT")


def test_alter_table_compact_requires_filesystem(tenv, spark):
    spark.range(3).createOrReplaceTempView("cmp_view_only")
    with pytest.raises(ValueError, match="filesystem"):
        tenv.execute_sql("ALTER TABLE cmp_view_only COMPACT")


def test_compile_and_execute_plan_roundtrip(tenv, spark, tmp_path):
    """COMPILE PLAN 'f' FOR INSERT / EXECUTE PLAN 'f' (FLIP-190 —
    SqlCompilePlan.java:41, SqlExecutePlan.java): the plan file restores
    source + sink registrations in a FRESH TableEnvironment and the DML
    replays."""
    plan_file = os.path.join(str(tmp_path), "plans", "p.json")
    sink_path = os.path.join(str(tmp_path), "sink_out")
    tenv.execute_sql(
        f"CREATE TABLE cp_src WITH ('connector'='filesystem',"
        f"'path'='{SF_DIR}/nation.parquet','format'='parquet')"
    )
    tenv.execute_sql(
        f"CREATE TABLE cp_sink WITH ('connector'='filesystem',"
        f"'path'='{sink_path}','format'='parquet')"
    )
    tenv.execute_sql(
        f"COMPILE PLAN '{plan_file}' FOR "
        f"INSERT INTO cp_sink SELECT n_nationkey, n_name FROM cp_src"
    )
    assert os.path.exists(plan_file)
    # existing file without the force flag is an error...
    with pytest.raises(ValueError, match="exists"):
        tenv.execute_sql(
            f"COMPILE PLAN '{plan_file}' FOR "
            f"INSERT INTO cp_sink SELECT n_nationkey, n_name FROM cp_src"
        )
    # ...IF NOT EXISTS skips silently...
    tenv.execute_sql(
        f"COMPILE PLAN '{plan_file}' IF NOT EXISTS FOR "
        f"INSERT INTO cp_sink SELECT n_nationkey, n_name FROM cp_src"
    )
    # ...and table.plan.force-recompile overwrites
    tenv.execute_sql("SET 'table.plan.force-recompile' = 'true'")
    tenv.execute_sql(
        f"COMPILE PLAN '{plan_file}' FOR "
        f"INSERT INTO cp_sink SELECT n_nationkey, n_name FROM cp_src"
    )

    fresh = TableEnvironment(spark)
    assert "cp_sink" not in fresh._sinks
    fresh.execute_sql(f"EXECUTE PLAN '{plan_file}'")
    out = spark.read.parquet(sink_path)
    assert out.count() == spark.read.parquet(f"{SF_DIR}/nation.parquet").count()
    assert set(out.columns) == {"n_nationkey", "n_name"}


def test_compile_and_execute_plan_inline(tenv, spark, tmp_path):
    """COMPILE AND EXECUTE PLAN 'f' FOR ... (SqlCompileAndExecutePlan):
    writes the file AND runs the DML in one statement."""
    plan_file = os.path.join(str(tmp_path), "pae.json")
    sink_path = os.path.join(str(tmp_path), "pae_out")
    tenv.execute_sql(
        f"CREATE TABLE cpe_src WITH ('connector'='filesystem',"
        f"'path'='{SF_DIR}/region.parquet','format'='parquet')"
    )
    tenv.execute_sql(
        f"CREATE TABLE cpe_sink WITH ('connector'='filesystem',"
        f"'path'='{sink_path}','format'='parquet')"
    )
    tenv.execute_sql(
        f"COMPILE AND EXECUTE PLAN '{plan_file}' FOR "
        f"INSERT INTO cpe_sink SELECT r_regionkey, r_name FROM cpe_src"
    )
    assert os.path.exists(plan_file)
    assert spark.read.parquet(sink_path).count() == 5


def test_show_partitions_and_columns(tenv, spark, tmp_path):
    """SHOW PARTITIONS (TableEnvironmentImpl.java:1353-1380 k=v/k=v
    strings), SHOW COLUMNS [NOT] LIKE, SHOW CURRENT CATALOG/DATABASE."""
    from pyspark.sql import functions as F

    path = os.path.join(str(tmp_path), "sp")
    spark.range(0, 60).select(
        (F.col("id") % 3).alias("p"), (F.col("id") % 2).alias("q"), "id"
    ).write.partitionBy("p", "q").parquet(path)
    tenv.execute_sql(
        f"CREATE TABLE sp_t (id BIGINT) PARTITIONED BY (p, q) "
        f"WITH ('connector'='filesystem','path'='{path}','format'='parquet')"
    )
    names = [r["partition name"] for r in tenv.execute_sql("SHOW PARTITIONS sp_t").collect()]
    assert names == sorted(names) and len(names) == 6
    assert "p=0/q=0" in names and "p=2/q=1" in names
    filtered = [
        r["partition name"]
        for r in tenv.execute_sql("SHOW PARTITIONS sp_t PARTITION (p=1)").collect()
    ]
    assert filtered == ["p=1/q=0", "p=1/q=1"]
    with pytest.raises(ValueError, match="not a partitioned"):
        tenv.execute_sql("SHOW PARTITIONS missing_table_xyz")

    cols = tenv.execute_sql("SHOW COLUMNS FROM sp_t").collect()
    assert [c.name for c in cols][:1] == ["id"]
    liked = tenv.execute_sql("SHOW COLUMNS IN sp_t LIKE 'p%'").collect()
    assert {c.name for c in liked} == {"p"}
    notliked = tenv.execute_sql("SHOW COLUMNS IN sp_t NOT LIKE 'p%'").collect()
    assert {c.name for c in notliked} == {"id", "q"}

    cur = tenv.execute_sql("SHOW CURRENT CATALOG").collect()
    assert cur[0]["current catalog name"] == "default_catalog"
    curdb = tenv.execute_sql("SHOW CURRENT DATABASE").collect()
    assert curdb[0]["current database name"]


def test_primary_key_constraint_surface(tenv, spark, tmp_path):
    """PRIMARY KEY NOT ENFORCED (SqlTableConstraint.java /
    UniqueConstraint.java): CREATE TABLE parse, mandatory NOT ENFORCED,
    SHOW CREATE round-trip, SHOW COLUMNS PRI marker, ALTER ADD/DROP
    CONSTRAINT, LIKE CONSTRAINTS strategy."""
    path = os.path.join(str(tmp_path), "pk")
    spark.range(5).selectExpr("id AS k", "CAST(id AS STRING) AS v").write.parquet(path)
    tenv.execute_sql(
        f"CREATE TABLE pk_tbl (k BIGINT, v STRING, "
        f"CONSTRAINT pk_k PRIMARY KEY (k) NOT ENFORCED) "
        f"WITH ('connector'='filesystem','path'='{path}','format'='parquet')"
    )
    reg = tenv._registrations["pk_tbl"]
    assert reg["primary_key"] == ["k"] and reg["pk_name"] == "pk_k"
    assert reg["cols"] == ["k BIGINT", "v STRING"]  # PK not mis-parsed as a column
    with pytest.raises(ValueError, match="NOT ENFORCED"):
        tenv.execute_sql(
            f"CREATE TABLE pk_bad (k BIGINT, PRIMARY KEY (k)) "
            f"WITH ('connector'='filesystem','path'='{path}','format'='parquet')"
        )
    ddl = tenv.execute_sql("SHOW CREATE TABLE pk_tbl").collect()[0][0]
    assert "CONSTRAINT pk_k PRIMARY KEY (k) NOT ENFORCED" in ddl
    cols = {c.name: c.key for c in tenv.execute_sql("SHOW COLUMNS FROM pk_tbl").collect()}
    assert cols["k"] == "PRI(k)" and cols["v"] is None

    # ALTER surface
    tenv.execute_sql(
        f"CREATE TABLE pk_alter (k BIGINT, v STRING) "
        f"WITH ('connector'='filesystem','path'='{path}','format'='parquet')"
    )
    tenv.execute_sql(
        "ALTER TABLE pk_alter ADD CONSTRAINT pk2 PRIMARY KEY (k) NOT ENFORCED"
    )
    assert tenv._registrations["pk_alter"]["primary_key"] == ["k"]
    with pytest.raises(ValueError, match="already has"):
        tenv.execute_sql(
            "ALTER TABLE pk_alter ADD PRIMARY KEY (v) NOT ENFORCED"
        )
    tenv.execute_sql("ALTER TABLE pk_alter DROP CONSTRAINT pk2")
    assert tenv._registrations["pk_alter"]["primary_key"] is None
    tenv.execute_sql("ALTER TABLE pk_alter ADD PRIMARY KEY (k) NOT ENFORCED")
    tenv.execute_sql("ALTER TABLE pk_alter DROP PRIMARY KEY")
    assert tenv._registrations["pk_alter"]["primary_key"] is None

    # LIKE: CONSTRAINTS strategy — default INCLUDING ALL carries the PK,
    # EXCLUDING CONSTRAINTS drops it (SqlTableLike FeatureOption)
    tenv.execute_sql("CREATE TABLE pk_like LIKE pk_tbl")
    assert tenv._registrations["pk_like"]["primary_key"] == ["k"]
    tenv.execute_sql("CREATE TABLE pk_like_ex LIKE pk_tbl (EXCLUDING CONSTRAINTS)")
    assert tenv._registrations["pk_like_ex"]["primary_key"] is None


def test_alter_view_and_describe_catalog(tenv, spark):
    """ALTER VIEW RENAME/AS (SqlAlterViewRename/SqlAlterViewAs) and
    DESCRIBE CATALOG (SqlDescribeCatalog)."""
    spark.range(4).createOrReplaceTempView("av_base")
    tenv.execute_sql("CREATE TEMPORARY VIEW av_v AS SELECT id * 2 AS d FROM av_base")
    assert spark.table("av_v").count() == 4
    tenv.execute_sql("ALTER VIEW av_v AS SELECT id * 3 AS t FROM av_base")
    assert spark.table("av_v").columns == ["t"]
    tenv.execute_sql("ALTER VIEW av_v RENAME TO av_v2")
    assert spark.table("av_v2").columns == ["t"]
    assert not spark.catalog.tableExists("av_v")

    rows = {r.info_name: r.info_value for r in tenv.execute_sql(
        "DESCRIBE CATALOG default_catalog").collect()}
    assert rows["name"] == "default_catalog"
    assert rows["type"] == "generic_in_memory"
    with pytest.raises(ValueError, match="does not exist"):
        tenv.execute_sql("DESC CATALOG nope_cat")
