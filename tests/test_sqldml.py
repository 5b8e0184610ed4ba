"""SQL-string DML façade: the reference's verbatim MERGE / UPDATE texts
run unchanged against the parquet warehouse (ref:
04_silver_transformation.py:194-202,216-222; 02_ingestion.py:221-227)."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.sources.sqldml import SqlDml
from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse
from global_seismic_data_pipeline_spark.state import WatermarkStore


from global_seismic_data_pipeline_spark.sources.deltawh import DeltaLogWarehouse


@pytest.fixture(params=[Warehouse, DeltaLogWarehouse], ids=["plain", "delta"])
def wh(spark, tmp_path, request):
    """The façade's DML surface runs against the plain parquet warehouse
    AND the real-_delta_log backend — the reference's verbatim SQL texts
    over its actual storage format."""
    return request.param(spark, str(tmp_path / "wh"))


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "event_id string, mag double, place string")


# -- the reference's verbatim texts ---------------------------------------


def test_reference_merge_text_verbatim(spark, wh):
    """04_silver_transformation.py:196-202, character-for-character."""
    engine = SqlDml(wh)
    wh.overwrite(
        _mkdf(spark, [("e1", 5.0, "old"), ("e2", 6.0, "keep")]),
        "silver_earthquakes",
    )
    _mkdf(spark, [("e1", 5.5, "updated"), ("e3", 4.0, "new")]) \
        .createOrReplaceTempView("silver_updates")

    engine.sql("""
        MERGE INTO silver_earthquakes t
        USING silver_updates s
        ON t.event_id = s.event_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {
        r.event_id: (r.mag, r.place)
        for r in wh.read("silver_earthquakes").collect()
    }
    assert got == {
        "e1": (5.5, "updated"),
        "e2": (6.0, "keep"),
        "e3": (4.0, "new"),
    }
    # idempotent: re-running the same MERGE changes nothing
    engine.sql("""
        MERGE INTO silver_earthquakes t
        USING silver_updates s
        ON t.event_id = s.event_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    again = {
        r.event_id: (r.mag, r.place)
        for r in wh.read("silver_earthquakes").collect()
    }
    assert again == got


def test_reference_update_text_verbatim(spark, wh):
    """02_ingestion.py:221-227 / 04_silver_transformation.py:216-222: the
    f-string UPDATE against the control table, same column math."""
    engine = SqlDml(wh)
    store = WatermarkStore(wh, clock=lambda: datetime(2025, 6, 1, 12, 0, 0))
    store.init("silver_earthquakes", "event_time")

    new_watermark, processed = "2025-05-30 08:00:00", 5332
    out = engine.sql(f"""
        UPDATE control_watermark
        SET watermark_value = TIMESTAMP '{new_watermark}',
            last_updated = current_timestamp(),
            records_processed = records_processed + {processed}
        WHERE table_name = 'silver_earthquakes'
    """).collect()[0]
    assert (out.statement, out.rows_updated) == ("UPDATE", 1)
    e = store.get("silver_earthquakes")
    assert e.watermark_value == datetime(2025, 5, 30, 8, 0, 0)
    assert e.records_processed == 5332
    # second batch accumulates (the reference re-runs the same shape)
    engine.sql(f"""
        UPDATE control_watermark
        SET watermark_value = TIMESTAMP '2025-05-31 09:00:00',
            last_updated = current_timestamp(),
            records_processed = records_processed + 100
        WHERE table_name = 'silver_earthquakes'
    """)
    e = store.get("silver_earthquakes")
    assert e.records_processed == 5432
    assert e.watermark_value == datetime(2025, 5, 31, 9, 0, 0)


def test_select_passthrough_sees_warehouse_tables(spark, wh):
    """04_silver_transformation.py:230-231: plain SELECT text works
    against warehouse table names."""
    wh.overwrite(_mkdf(spark, [("e1", 5.0, "x"), ("e2", 6.0, "y")]),
                 "silver_earthquakes")
    out = SqlDml(wh).sql(
        "SELECT COUNT(*) AS total FROM silver_earthquakes"
    ).collect()
    assert out[0].total == 2


# -- UPDATE semantics ------------------------------------------------------


def test_update_reads_pre_update_row(spark, wh):
    """SET a = b, b = a must swap (standard SQL), not chain."""
    wh.overwrite(spark.createDataFrame([(1, 10, 20)], "k int, a int, b int"), "t")
    SqlDml(wh).sql("UPDATE t SET a = b, b = a")
    r = wh.read("t").collect()[0]
    assert (r.a, r.b) == (20, 10)


def test_update_null_where_rows_untouched(spark, wh):
    wh.overwrite(
        spark.createDataFrame([(1, None), (2, 5)], "k int, v int"), "t"
    )
    out = SqlDml(wh).sql("UPDATE t SET k = k + 100 WHERE v > 0").collect()[0]
    assert out.rows_updated == 1
    assert {r.k for r in wh.read("t").collect()} == {1, 102}


def test_update_unknown_column_or_table_raises(spark, wh):
    wh.overwrite(spark.createDataFrame([(1,)], "k int"), "t")
    with pytest.raises(ValueError, match="unknown column"):
        SqlDml(wh).sql("UPDATE t SET nope = 1")
    with pytest.raises(ValueError, match="not a warehouse table"):
        SqlDml(wh).sql("UPDATE missing SET k = 1")


# -- DELETE ----------------------------------------------------------------


def test_delete_where_and_null_semantics(spark, wh):
    # NULL predicate keeps the row (SQL: DELETE only where cond IS TRUE)
    wh.overwrite(
        spark.createDataFrame([(1, 1), (2, None), (3, 9)], "k int, v int"), "t"
    )
    out = SqlDml(wh).sql("DELETE FROM t WHERE v > 5").collect()[0]
    assert out.rows_deleted == 1
    assert {r.k for r in wh.read("t").collect()} == {1, 2}


# -- general MERGE (beyond the reference's SET */INSERT *) -----------------


def test_conditional_merge_clause_priority(spark, wh):
    """First-match-wins across WHEN MATCHED clauses; DELETE branch drops;
    unclaimed matched rows and unmatched target rows pass through."""
    engine = SqlDml(wh)
    wh.overwrite(
        spark.createDataFrame(
            [("a", 1, "t"), ("b", 2, "t"), ("c", 3, "t"), ("d", 4, "t")],
            "k string, v int, tag string",
        ),
        "m",
    )
    spark.createDataFrame(
        [("a", 10, "s"), ("b", 99, "s"), ("c", -1, "s"), ("x", 7, "s")],
        "k string, v int, tag string",
    ).createOrReplaceTempView("m_src")
    engine.sql("""
        MERGE INTO m t
        USING m_src s
        ON t.k = s.k
        WHEN MATCHED AND s.v < 0 THEN DELETE
        WHEN MATCHED AND s.v < 50 THEN UPDATE SET v = s.v + t.v, tag = 'upd'
        WHEN NOT MATCHED AND s.v > 5 THEN INSERT (k, v, tag) VALUES (s.k, s.v, 'ins')
    """)
    got = {r.k: (r.v, r.tag) for r in wh.read("m").collect()}
    assert got == {
        "a": (11, "upd"),   # matched second clause: 10 + 1
        "b": (2, "t"),      # matched, no clause condition held → unchanged
        "d": (4, "t"),      # never matched → unchanged
        "x": (7, "ins"),    # not matched, inserted with explicit mapping
    }                        # "c" deleted by the first clause


def test_merge_first_write_creates_table(spark, wh):
    engine = SqlDml(wh)
    spark.createDataFrame([("a", 1)], "k string, v int") \
        .createOrReplaceTempView("fw_src")
    engine.sql("""
        MERGE INTO fw t USING fw_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert [tuple(r) for r in wh.read("fw").collect()] == [("a", 1)]


def test_merge_multi_key_and_warehouse_source(spark, wh):
    engine = SqlDml(wh)
    wh.overwrite(
        spark.createDataFrame([(1, "x", 5), (2, "y", 6)], "a int, b string, v int"),
        "mk",
    )
    wh.overwrite(
        spark.createDataFrame([(1, "x", 50), (3, "z", 7)], "a int, b string, v int"),
        "mk_updates",
    )
    engine.sql("""
        MERGE INTO mk t USING mk_updates s
        ON t.a = s.a AND t.b = s.b
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {(r.a, r.b): r.v for r in wh.read("mk").collect()}
    assert got == {(1, "x"): 50, (2, "y"): 6, (3, "z"): 7}


def test_merge_rejects_bad_shapes(spark, wh):
    engine = SqlDml(wh)
    wh.overwrite(spark.createDataFrame([(1, 2)], "k int, v int"), "r")
    spark.createDataFrame([(1, 3)], "k int, v int") \
        .createOrReplaceTempView("r_src")
    with pytest.raises(ValueError, match="t.key = s.key"):
        engine.sql("""
            MERGE INTO r t USING r_src s ON t.k > s.k
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)
    with pytest.raises(ValueError, match="unparsed MERGE clause"):
        engine.sql("""
            MERGE INTO r t USING r_src s ON t.k = s.k
            WHEN MATCHED THEN FROBNICATE
        """)
    with pytest.raises(ValueError, match="neither a temp view nor"):
        engine.sql("""
            MERGE INTO r t USING nonexistent_src s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET *
        """)


def test_merge_rejects_non_key_unique_source(spark, wh):
    engine = SqlDml(wh)
    wh.overwrite(spark.createDataFrame([(1, 2)], "k int, v int"), "u")
    spark.createDataFrame([(1, 3), (1, 4)], "k int, v int") \
        .createOrReplaceTempView("u_src")
    with pytest.raises(ValueError, match="not key-unique"):
        engine.sql("""
            MERGE INTO u t USING u_src s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)


def test_keywords_inside_string_literals_parse(spark, wh):
    """Grammar keywords (WHERE / AND / VALUES / WHEN ... THEN) inside
    single-quoted string literals must be invisible to the statement
    regexes — the masked-match layer. All four DML shapes dispatch
    correctly with hostile literals."""
    engine = SqlDml(wh)
    wh.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, msg string"
        ),
        "lit_t",
    )
    # UPDATE: literal containing ' where ' + a real WHERE clause
    out = engine.sql(
        "UPDATE lit_t SET msg = 'x where y and z' WHERE k = 1"
    ).collect()[0]
    assert out.rows_updated == 1
    got = {r.k: r.msg for r in wh.read("lit_t").collect()}
    assert got == {1: "x where y and z", 2: "b"}
    # UPDATE with literal but NO where clause — applies to all rows
    engine.sql("UPDATE lit_t SET msg = 'no where here'")
    assert {r.msg for r in wh.read("lit_t").collect()} == {"no where here"}
    # DELETE: literal containing ' where '
    engine.sql("UPDATE lit_t SET msg = 'keep where kept' WHERE k = 2")
    out = engine.sql(
        "DELETE FROM lit_t WHERE msg = 'keep where kept'"
    ).collect()[0]
    assert out.rows_deleted == 1
    assert [r.k for r in wh.read("lit_t").collect()] == [1]
    # INSERT VALUES: literal containing 'values (' and a comma
    engine.sql(
        "INSERT INTO lit_t VALUES (3, 'values (4, 5), where x'), (4, 'and')"
    )
    assert wh.read("lit_t").count() == 3
    # MERGE: WHEN-clause literals containing 'when matched then'
    spark.createDataFrame([(1, "src")], "k int, msg string") \
        .createOrReplaceTempView("lit_src")
    engine.sql("""
        MERGE INTO lit_t t USING lit_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET msg = 'when matched then insert'
        WHEN NOT MATCHED THEN INSERT (k, msg) VALUES (s.k, 'not when matched')
    """)
    got = {r.k: r.msg for r in wh.read("lit_t").collect()}
    assert got[1] == "when matched then insert"
    # escaped '' quote inside a literal still masks correctly
    engine.sql("UPDATE lit_t SET msg = 'it''s where o''clock' WHERE k = 3")
    assert {r.msg for r in wh.read("lit_t").collect()
            if r.k == 3} == {"it's where o'clock"}
    # Spark SQL's backslash escape (\') must not flip the in-string
    # state: without tracking it, the ' where k = 4' tail below would be
    # read as masked text and the real WHERE clause vanish (update ALL
    # rows) — and keywords inside later literals would leak out
    out = engine.sql(
        r"UPDATE lit_t SET msg = 'it\'s fine' WHERE k = 4"
    ).collect()[0]
    assert out.rows_updated == 1
    got = {r.k: r.msg for r in wh.read("lit_t").collect()}
    assert got[4] == "it's fine" and got[3] == "it's where o'clock"
    # backslash-escaped quote inside a DELETE literal: the statement's
    # real grammar must still match (one row gone, not zero, not all)
    out = engine.sql(
        r"DELETE FROM lit_t WHERE msg = 'it\'s fine'"
    ).collect()[0]
    assert out.rows_deleted == 1
    assert 4 not in {r.k for r in wh.read("lit_t").collect()}


def test_merge_accepts_null_keyed_source_rows(spark, wh):
    """NULL merge keys can never equi-match a target row, so they are NOT
    a key-uniqueness violation (Delta accepts them as NOT MATCHED
    inserts). count_distinct skips NULL tuples and used to flag them
    spuriously; duplicates among NON-null keys must still be rejected."""
    engine = SqlDml(wh)
    wh.overwrite(spark.createDataFrame([(1, 2)], "k int, v int"), "nn")
    spark.createDataFrame(
        [(None, 30), (None, 40), (1, 10)], "k int, v int"
    ).createOrReplaceTempView("nn_src")
    engine.sql("""
        MERGE INTO nn t USING nn_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = sorted(
        ((r.k if r.k is not None else -1), r.v)
        for r in wh.read("nn").collect()
    )
    # matched row updated, both NULL-keyed rows inserted
    assert got == [(-1, 30), (-1, 40), (1, 10)]
    # real duplicates among non-null keys still refuse
    spark.createDataFrame(
        [(2, 1), (2, 2), (None, 3)], "k int, v int"
    ).createOrReplaceTempView("nn_dup")
    with pytest.raises(ValueError, match="not key-unique"):
        engine.sql("""
            MERGE INTO nn t USING nn_dup s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)


def test_merge_preserves_partition_pruned_layout(spark, wh):
    """MERGE through the façade on a hive-partitioned table keeps the
    directory layout (overwrite preserves partition columns)."""
    engine = SqlDml(wh)
    df = spark.createDataFrame(
        [("2024", "a", 1), ("2025", "b", 2)], "year string, k string, v int"
    )
    wh.overwrite(df, "pt", partition_by=["year"])
    spark.createDataFrame([("2025", "b", 20)], "year string, k string, v int") \
        .createOrReplaceTempView("pt_src")
    engine.sql("""
        MERGE INTO pt t USING pt_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert wh.partition_columns("pt") == ["year"]
    got = {r.k: r.v for r in wh.read("pt").collect()}
    assert got == {"a": 1, "b": 20}


def test_reference_config_setup_flow_verbatim(spark, wh):
    """01_config_setup.py:38-66 character-for-character: DROP, CREATE
    TABLE ... USING DELTA, INSERT INTO ... VALUES, SELECT — the whole
    control-table bootstrap runs through the façade, and the resulting
    table is readable by WatermarkStore."""
    engine = SqlDml(wh)
    engine.sql("DROP TABLE IF EXISTS control_watermark")
    out = engine.sql("""
CREATE TABLE control_watermark (
    table_name STRING,
    watermark_column STRING,
    watermark_value TIMESTAMP,
    last_updated TIMESTAMP,
    records_processed LONG
)
USING DELTA
""").collect()[0]
    assert out.created
    initial_start_date = "2024-01-01"
    engine.sql(f"""
    INSERT INTO control_watermark VALUES (
        'bronze_earthquakes',
        'time',
        TIMESTAMP '{initial_start_date} 00:00:00',
        current_timestamp(),
        0
    )
""")
    rows = engine.sql("SELECT * FROM control_watermark").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.table_name == "bronze_earthquakes"
    assert r.watermark_value == datetime(2024, 1, 1, 0, 0, 0)
    assert r.records_processed == 0
    # the store built by the façade is the same one WatermarkStore reads
    store = WatermarkStore(wh)
    e = store.get("bronze_earthquakes")
    assert e is not None and e.watermark_column == "time"
    # and the reference's UPDATE advances it (02_ingestion.py:221-227)
    engine.sql("""
        UPDATE control_watermark
        SET watermark_value = TIMESTAMP '2024-02-01 12:00:00',
            last_updated = current_timestamp(),
            records_processed = records_processed + 777
        WHERE table_name = 'bronze_earthquakes'
    """)
    e = store.get("bronze_earthquakes")
    assert e.watermark_value == datetime(2024, 2, 1, 12, 0, 0)
    assert e.records_processed == 777


def test_ddl_insert_edge_cases(spark, wh):
    engine = SqlDml(wh)
    with pytest.raises(ValueError, match="does not exist"):
        engine.sql("DROP TABLE missing")
    engine.sql("CREATE TABLE t1 (a INT, b STRING)")
    with pytest.raises(ValueError, match="already exists"):
        engine.sql("CREATE TABLE t1 (a INT)")
    # IF NOT EXISTS is a quiet no-op
    assert not engine.sql("CREATE TABLE IF NOT EXISTS t1 (a INT)").collect()[0].created
    # multi-tuple VALUES + INSERT ... SELECT
    engine.sql("INSERT INTO t1 VALUES (1, 'x'), (2, 'y')")
    engine.sql("INSERT INTO t1 SELECT a + 10, b FROM t1")
    got = sorted(tuple(r) for r in wh.read("t1").collect())
    assert got == [(1, "x"), (2, "y"), (11, "x"), (12, "y")]
    with pytest.raises(ValueError, match="arity"):
        engine.sql("INSERT INTO t1 VALUES (1)")
    with pytest.raises(ValueError, match="not a warehouse table"):
        engine.sql("INSERT INTO nope VALUES (1)")


# -- parser robustness (property) ------------------------------------------


def test_merge_parser_case_and_whitespace_invariant(spark, wh):
    """Keyword case and whitespace jitter never change what the MERGE
    does — the same final table results from every formatting variant."""
    import random

    rng = random.Random(42)
    tokens = [
        "MERGE INTO", "mt", "t", "USING", "ms", "s", "ON",
        "t.k = s.k", "WHEN MATCHED THEN UPDATE SET *",
        "WHEN NOT MATCHED THEN INSERT *",
    ]
    engine = SqlDml(wh)
    spark.createDataFrame([(1, 100), (3, 300)], "k int, v int") \
        .createOrReplaceTempView("ms")
    expected = {1: 100, 2: 20, 3: 300}
    for trial in range(6):
        wh.overwrite(
            spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"), "mt"
        )
        parts = []
        for tok in tokens:
            # jitter keyword case (identifiers stay lowercase: they are
            # case-sensitive temp-view names) and whitespace
            jittered = (
                "".join(
                    c.lower() if rng.random() < 0.5 else c.upper()
                    for c in tok
                )
                if tok.upper() == tok or " " in tok and tok[0].isupper()
                else tok
            )
            parts.append(jittered)
        text = ""
        for ptok in parts:
            text += ptok + rng.choice([" ", "  ", "\n", "\n    ", "\t"])
        engine.sql(text)
        got = {r.k: r.v for r in wh.read("mt").collect()}
        assert got == expected, f"variant {trial}: {text!r}"


def test_parser_refuses_trailing_garbage(spark, wh):
    engine = SqlDml(wh)
    wh.overwrite(spark.createDataFrame([(1, 2)], "k int, v int"), "g")
    spark.createDataFrame([(1, 3)], "k int, v int") \
        .createOrReplaceTempView("g_src")
    with pytest.raises(ValueError):
        engine.sql("""
            MERGE INTO g t USING g_src s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET *
            SOME TRAILING GARBAGE
        """)
    with pytest.raises(ValueError, match="malformed WHERE"):
        engine.sql("UPDATE g SET v = 1 WHERE")  # empty predicate


def test_reference_table_optimization_flow_verbatim(spark, wh):
    """TABLE OPTIMIZATION.py's maintenance SQL, character-for-character:
    DESCRIBE DETAIL (:23-26, numFiles column read), OPTIMIZE + ZORDER BY
    (:33-36), plain OPTIMIZE (:100), ANALYZE TABLE (:119-124), VACUUM
    (:141)."""
    engine = SqlDml(wh)
    df = spark.range(500).selectExpr(
        "concat('ev', id) AS event_id",
        "timestamp'2025-05-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS time",
        "cast(id % 97 AS double) AS v",
    )
    # many small files, as repeated appends would leave
    for i in range(4):
        wh.append(df.filter(F.col("v") % 4 == i).repartition(4),
                  "bronze_earthquakes")

    files_before = engine.sql("""
    DESCRIBE DETAIL bronze_earthquakes
""").select("numFiles").collect()[0][0]
    assert files_before >= 8

    engine.sql("""
    OPTIMIZE bronze_earthquakes
    ZORDER BY (event_id, time)
""")
    files_after = engine.sql("""
    DESCRIBE DETAIL bronze_earthquakes
""").select("numFiles").collect()[0][0]
    assert files_after < files_before           # the reference's printed check
    assert wh.read("bronze_earthquakes").count() == 500  # rows intact

    out = engine.sql("OPTIMIZE gold_kpi_summary") if wh.exists(
        "gold_kpi_summary"
    ) else None
    assert out is None  # table absent here → the loop above would skip it

    assert engine.sql(
        "ANALYZE TABLE bronze_earthquakes COMPUTE STATISTICS"
    ).collect()[0].statement == "ANALYZE"
    assert engine.sql("VACUUM bronze_earthquakes").collect()[0].statement == "VACUUM"
    with pytest.raises(ValueError, match="not a warehouse table"):
        engine.sql("OPTIMIZE ghost")


def test_analyze_leaves_warehouse_tables_unchanged(spark, tmp_path):
    """ANALYZE is Spark's own catalog statistics (a no-op on temp views):
    it writes no table of its own into the user's warehouse."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(
        spark.range(20).selectExpr(
            "concat('ev', id) AS event_id",
            "timestamp'2025-05-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS time",
        ),
        "bronze_earthquakes",
    )
    before = sorted(os.listdir(wh.root))
    row = SqlDml(wh).sql(
        "ANALYZE TABLE bronze_earthquakes COMPUTE STATISTICS"
    ).collect()[0]
    assert sorted(os.listdir(wh.root)) == before
    assert row.asDict() == {"statement": "ANALYZE", "table": "bronze_earthquakes"}


def test_versioned_sql_surface(spark, tmp_path):
    """DESCRIBE HISTORY / RESTORE / VERSION AS OF / table_changes() on
    the Delta backend; each refuses cleanly on the plain backend."""
    vwh = DeltaLogWarehouse(spark, str(tmp_path / "vwh"))
    engine = SqlDml(vwh)
    vwh.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string"), "t")
    vwh.overwrite(spark.createDataFrame([(1, "a2"), (3, "c")], "k int, s string"), "t")

    hist = engine.sql("DESCRIBE HISTORY t").collect()
    assert [r.version for r in hist] == [1, 0]
    assert {r.operation for r in hist} == {"WRITE"}

    old = engine.sql("SELECT k, s FROM t VERSION AS OF 0 ORDER BY k").collect()
    assert [(r.k, r.s) for r in old] == [(1, "a"), (2, "b")]

    ch = engine.sql(
        "SELECT _change_type, k FROM table_changes('t', 1, 1) ORDER BY _change_type, k"
    ).collect()
    # keyless feed: the update of k=1 surfaces as delete+insert
    assert [(r._change_type, r.k) for r in ch] == [
        ("delete", 1), ("delete", 2), ("insert", 1), ("insert", 3),
    ]

    engine.sql("RESTORE TABLE t TO VERSION AS OF 0")
    assert {r.s for r in vwh.read("t").collect()} == {"a", "b"}
    assert engine.sql("DESCRIBE HISTORY t").collect()[0].operation == "RESTORE"

    # DESCRIBE DETAIL carries the format and current version on this backend
    det = engine.sql("DESCRIBE DETAIL t").collect()[0]
    assert det.format == "delta"
    assert det.version == 2 and det.numFiles >= 1

    # plain backend: parquet with no version; versioned features refuse
    plain = SqlDml(Warehouse(spark, str(tmp_path / "pwh")))
    plain.wh.overwrite(spark.createDataFrame([(1,)], "k int"), "t")
    pdet = plain.sql("DESCRIBE DETAIL t").collect()[0]
    assert pdet.format == "parquet" and pdet.version is None
    for stmt in (
        "DESCRIBE HISTORY t",
        "RESTORE TABLE t TO VERSION AS OF 1",
        "SELECT * FROM t VERSION AS OF 1",
        "SELECT * FROM table_changes('t', 1)",
    ):
        with pytest.raises(ValueError, match="commit-log warehouse backend"):
            plain.sql(stmt)


def test_describe_detail_on_iceberg_reports_format_and_snapshot(spark, tmp_path):
    """DESCRIBE DETAIL on the Iceberg backend names the format and takes
    the version from the current snapshot, as Iceberg tables report."""
    from global_seismic_data_pipeline_spark.sources.icebergwh import (
        IcebergWarehouse,
    )

    iwh = IcebergWarehouse(spark, str(tmp_path / "iwh"))
    iwh.overwrite(spark.createDataFrame([(1, "a")], "k int, s string"), "t")
    iwh.overwrite(
        spark.createDataFrame([(1, "a2"), (2, "b")], "k int, s string"), "t"
    )
    det = SqlDml(iwh).sql("DESCRIBE DETAIL t").collect()[0]
    assert det.format == "iceberg"
    assert det.version == iwh.table("t").current_snapshot_id()
    assert det.version is not None
    assert det.numFiles == iwh.table_stats("t")["num_files"] >= 1
    assert det.partitionColumns is None


def _part_files(wh, name, part):
    import os

    d = os.path.join(wh.path(name), part)
    return {
        os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
        if not f.startswith(("_", "."))
    }


def test_update_partition_pruned_rewrite(spark, wh):
    """UPDATE on a hive-partitioned table rewrites ONLY the partitions
    the WHERE touches: untouched partition files are byte-identical
    (file identity pinned), the layout survives, and results match."""
    engine = SqlDml(wh)
    df = spark.createDataFrame(
        [("d1", 1, 10), ("d1", 2, 20), ("d2", 3, 30), ("d3", 4, 40)],
        "day string, k int, v int",
    )
    wh.overwrite(df, "p", partition_by=["day"])
    d2_before = _part_files(wh, "p", "day=d2")
    d3_before = _part_files(wh, "p", "day=d3")

    out = engine.sql("UPDATE p SET v = v + 1 WHERE day = 'd1' AND k = 1") \
        .collect()[0]
    assert out.rows_updated == 1
    assert _part_files(wh, "p", "day=d2") == d2_before  # never opened
    assert _part_files(wh, "p", "day=d3") == d3_before
    got = {r.k: r.v for r in wh.read("p").collect()}
    assert got == {1: 11, 2: 20, 3: 30, 4: 40}
    assert wh.partition_columns("p") == ["day"]  # layout preserved

    # WHERE hits nothing → zero-touch no-op
    out = engine.sql("UPDATE p SET v = 0 WHERE day = 'ghost'").collect()[0]
    assert out.rows_updated == 0
    assert _part_files(wh, "p", "day=d2") == d2_before

    # SET on the partition column → rows may move: full rewrite, correct
    out = engine.sql("UPDATE p SET day = 'd9' WHERE k = 3").collect()[0]
    assert out.rows_updated == 1
    assert {r.day for r in wh.read("p").filter("k = 3").collect()} == {"d9"}
    assert wh.partition_columns("p") == ["day"]
    assert wh.read("p").filter("day = 'd2'").count() == 0  # moved out
    import os
    if not isinstance(wh, DeltaLogWarehouse):
        # rename-swap backends remove the emptied directory physically;
        # on delta the old FILES legitimately linger for time travel
        # (logical removal above; physical removal is VACUUM's job)
        assert not os.path.isdir(os.path.join(wh.path("p"), "day=d2"))
    else:
        wh.vacuum("p", retain_hours=0.0)
        assert not _part_files(wh, "p", "day=d2")  # vacuum reclaims


def test_delete_partition_pruned_rewrite(spark, wh):
    engine = SqlDml(wh)
    df = spark.createDataFrame(
        [("d1", 1), ("d1", 2), ("d2", 3), ("d3", 4)], "day string, k int"
    )
    wh.overwrite(df, "p", partition_by=["day"])
    d3_before = _part_files(wh, "p", "day=d3")

    # subset delete inside one partition
    out = engine.sql("DELETE FROM p WHERE day = 'd1' AND k = 2").collect()[0]
    assert out.rows_deleted == 1
    assert _part_files(wh, "p", "day=d3") == d3_before

    # whole-partition delete: gone logically; physically too on the
    # rename-swap backends (delta keeps the files for time travel until
    # VACUUM — asserted after one)
    import os
    out = engine.sql("DELETE FROM p WHERE day = 'd2'").collect()[0]
    assert out.rows_deleted == 1
    assert wh.read("p").filter("day = 'd2'").count() == 0
    if not isinstance(wh, DeltaLogWarehouse):
        assert not os.path.isdir(os.path.join(wh.path("p"), "day=d2"))
    else:
        wh.vacuum("p", retain_hours=0.0)
        assert not _part_files(wh, "p", "day=d2")
    assert _part_files(wh, "p", "day=d3") == d3_before
    assert {r.k for r in wh.read("p").collect()} == {1, 4}
    assert wh.partition_columns("p") == ["day"]


def test_partitioned_dml_commits_on_versioned_backend(spark, tmp_path):
    """A pruned UPDATE/DELETE is a mutation like any other: on the
    Delta backend it must land in the commit log (time travel + the
    change data feed see it)."""
    vwh = DeltaLogWarehouse(spark, str(tmp_path / "vwh"))
    engine = SqlDml(vwh)
    vwh.overwrite(
        spark.createDataFrame(
            [("d1", 1, 10), ("d2", 2, 20)], "day string, k int, v int"
        ),
        "p", partition_by=["day"],
    )                                                             # v0
    engine.sql("UPDATE p SET v = 99 WHERE day = 'd1'")            # v1
    engine.sql("DELETE FROM p WHERE day = 'd2'")                  # v2
    assert vwh.versions("p") == [0, 1, 2]
    assert [h["operation"] for h in vwh.history("p")] == [
        "DELETE", "UPDATE", "WRITE",
    ]
    ch = vwh.table_changes("p", 1, 2, keys=["k"])
    got = sorted((r._commit_version, r._change_type, r.k) for r in ch.collect())
    assert got == [
        (1, "update_postimage", 1), (1, "update_preimage", 1),
        (2, "delete", 2),
    ]
    # time travel still sees the pre-update value
    assert vwh.read_version("p", 0).filter("k = 1").collect()[0].v == 10


def test_unpartitioned_dml_history_names_each_statement(spark, tmp_path):
    """UPDATE, DELETE and a conditional MERGE rewrite an unpartitioned
    Delta table through a full overwrite; the history still names each
    statement, as Delta does, and a plain overwrite stays WRITE."""
    vwh = DeltaLogWarehouse(spark, str(tmp_path / "vwh"))
    engine = SqlDml(vwh)
    vwh.overwrite(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k int, v int"), "u"
    )                                                             # v0
    engine.sql("UPDATE u SET v = v + 1 WHERE k = 1")              # v1
    engine.sql("DELETE FROM u WHERE k = 2")                       # v2
    spark.createDataFrame([(1, 5), (4, 40)], "k int, v int") \
        .createOrReplaceTempView("u_src")
    engine.sql("""
        MERGE INTO u t USING u_src s ON t.k = s.k
        WHEN MATCHED AND s.v > t.v THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)                                                          # v3
    assert [h["operation"] for h in vwh.history("u")] == [
        "MERGE", "DELETE", "UPDATE", "WRITE",
    ]
    assert sorted(tuple(r) for r in vwh.read("u").collect()) == [
        (1, 11), (3, 30), (4, 40),
    ]


def test_merge_auto_prunes_partitioned_target(spark, wh):
    """The reference's verbatim MERGE text on a hive-partitioned target
    rewrites ONLY the touched partitions — untouched partition files are
    byte-identical afterwards (Delta MERGE file pruning, auto-applied)."""
    engine = SqlDml(wh)
    df = spark.createDataFrame(
        [("2024", "a", 1), ("2024", "b", 2), ("2025", "c", 3)],
        "year string, k string, v int",
    )
    wh.overwrite(df, "mp", partition_by=["year"])
    files_2024 = _part_files(wh, "mp", "year=2024")

    spark.createDataFrame(
        [("2025", "c", 30), ("2025", "d", 4)], "year string, k string, v int"
    ).createOrReplaceTempView("mp_src")
    engine.sql("""
        MERGE INTO mp t USING mp_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert _part_files(wh, "mp", "year=2024") == files_2024  # never rewritten
    # hive directory reads type-infer the partition value ("2024" → int)
    got = {r.k: (str(r.year), r.v) for r in wh.read("mp").collect()}
    assert got == {
        "a": ("2024", 1), "b": ("2024", 2),
        "c": ("2025", 30), "d": ("2025", 4),
    }
    assert wh.partition_columns("mp") == ["year"]


def test_timestamp_as_of_and_shallow_clone_sql(spark, tmp_path):
    vwh = DeltaLogWarehouse(spark, str(tmp_path / "vwh"))
    engine = SqlDml(vwh)
    vwh.overwrite(spark.createDataFrame([(1,)], "k int"), "t")   # v0
    vwh.overwrite(spark.createDataFrame([(2,)], "k int"), "t")   # v1
    hist = {h["version"]: h["timestamp_ms"] for h in vwh.history("t")}

    # TIMESTAMP AS OF between/at commit times resolves to the right snapshot
    got = engine.sql(
        "SELECT k FROM t TIMESTAMP AS OF "
        f"'{__import__('datetime').datetime.utcfromtimestamp(hist[0] / 1000).isoformat()}'"
    ).collect()
    assert [r.k for r in got] == [1]
    with pytest.raises(ValueError, match="no commit at or before"):
        engine.sql("SELECT k FROM t TIMESTAMP AS OF '1999-01-01T00:00:00'")

    # SHALLOW CLONE: zero-copy, immediately independent, own log at v0
    out = engine.sql("CREATE TABLE t2 SHALLOW CLONE t").collect()[0]
    assert (out.statement, out.version) == ("CLONE", 0)
    assert [r.k for r in vwh.read("t2").collect()] == [2]
    vwh.overwrite(spark.createDataFrame([(9,)], "k int"), "t2")
    assert [r.k for r in vwh.read("t").collect()] == [2]  # source untouched
    assert engine.sql(
        "CREATE TABLE IF NOT EXISTS t2 SHALLOW CLONE t"
    ).collect()[0].created is False


def test_enforce_constraints_check_semantics(spark, tmp_path):
    """Only strictly-FALSE rows violate (NULL passes — SQL CHECK); the
    error carries per-constraint counts; a passing frame writes through."""
    from global_seismic_data_pipeline_spark.sources.warehouse import (
        ConstraintViolation,
        enforce_constraints,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ok = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    wh.overwrite(
        enforce_constraints(ok, {"v_pos": "v > 0", "k_nn": "k IS NOT NULL"}),
        "checked",
    )
    assert wh.read("checked").count() == 2

    bad = spark.createDataFrame(
        [("a", 1), ("b", -2), ("c", None), (None, 5)],
        "k string, v long",
    )
    with pytest.raises(ConstraintViolation) as ei:
        enforce_constraints(bad, {"v_pos": "v > 0", "k_nn": "k IS NOT NULL"})
    # v > 0: only -2 is FALSE (NULL passes); k IS NOT NULL: one violation
    assert ei.value.violations == {"v_pos": 1, "k_nn": 1}
    with pytest.raises(ValueError, match="no constraints"):
        enforce_constraints(bad, {})


def test_persistent_check_constraints_enforced_on_every_write(spark, wh):
    """ALTER TABLE ADD CONSTRAINT persists the CHECK and EVERY later
    write path (append / overwrite / facade MERGE-UPDATE / pruned
    rewrite) enforces it at the staging boundary: a violating batch
    aborts before publish and the table is untouched — Delta's
    write-transaction contract."""
    from global_seismic_data_pipeline_spark.sources.warehouse import (
        ConstraintViolation,
    )

    engine = SqlDml(wh)
    wh.overwrite(
        spark.createDataFrame([(1, 5.0), (2, 7.5)], "k int, mag double"), "c"
    )
    out = engine.sql(
        "ALTER TABLE c ADD CONSTRAINT mag_range CHECK (mag BETWEEN 0 AND 10)"
    ).collect()[0]
    assert (out.constraint, out.action) == ("mag_range", "added")
    assert wh.constraints("c") == {"mag_range": "mag BETWEEN 0 AND 10"}

    # existing data must already satisfy a NEW constraint
    with pytest.raises(ConstraintViolation):
        engine.sql("ALTER TABLE c ADD CONSTRAINT k_big CHECK (k > 100)")
    assert "k_big" not in wh.constraints("c")

    # append of a violating batch aborts; table unchanged; NULL passes
    with pytest.raises(ConstraintViolation) as ei:
        wh.append(
            spark.createDataFrame([(3, 99.0)], "k int, mag double"), "c"
        )
    assert ei.value.violations == {"mag_range": 1}
    assert wh.read("c").count() == 2
    wh.append(spark.createDataFrame([(4, None)], "k int, mag double"), "c")
    assert wh.read("c").count() == 3  # SQL CHECK: NULL passes

    # facade UPDATE that would break the constraint aborts atomically
    with pytest.raises(ConstraintViolation):
        engine.sql("UPDATE c SET mag = 50 WHERE k = 1")
    assert {r.mag for r in wh.read("c").filter("k = 1").collect()} == {5.0}

    # MERGE through the facade enforces too
    spark.createDataFrame([(9, -3.0)], "k int, mag double") \
        .createOrReplaceTempView("c_src")
    with pytest.raises(ConstraintViolation):
        engine.sql("""
            MERGE INTO c t USING c_src s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)
    assert wh.read("c").count() == 3

    # DROP CONSTRAINT: the write now succeeds; unknown names refuse
    engine.sql("ALTER TABLE c DROP CONSTRAINT mag_range")
    wh.append(spark.createDataFrame([(3, 99.0)], "k int, mag double"), "c")
    assert wh.read("c").count() == 4
    with pytest.raises(ValueError, match="no constraint"):
        engine.sql("ALTER TABLE c DROP CONSTRAINT ghost")

    # dropping the table clears its constraints
    wh.add_constraint("c", "again", "mag < 1000")
    engine.sql("DROP TABLE c")
    assert wh.constraints("c") == {}


def test_constraint_enforced_on_pruned_partition_rewrite(spark, wh):
    """The partition-bounded rewrite path checks constraints too, and a
    violation aborts with untouched partitions still intact."""
    from global_seismic_data_pipeline_spark.sources.warehouse import (
        ConstraintViolation,
    )

    engine = SqlDml(wh)
    wh.overwrite(
        spark.createDataFrame(
            [("d1", 1, 5), ("d2", 2, 6)], "day string, k int, v int"
        ),
        "pc", partition_by=["day"],
    )
    wh.add_constraint("pc", "v_pos", "v > 0")
    with pytest.raises(ConstraintViolation):
        engine.sql("UPDATE pc SET v = -1 WHERE day = 'd1'")
    assert {r.v for r in wh.read("pc").collect()} == {5, 6}
    # a legal pruned update still lands
    engine.sql("UPDATE pc SET v = 50 WHERE day = 'd1'")
    assert {r.v for r in wh.read("pc").collect()} == {50, 6}


def test_vetoed_dml_write_leaves_nothing_cached(spark, wh):
    """An UPDATE or MERGE whose write a CHECK constraint vetoes still
    frees what the statement cached: its scope closes on the raise, so
    nothing stays in Spark's cache for the rest of the session."""
    from global_seismic_data_pipeline_spark.sources.warehouse import (
        ConstraintViolation,
    )

    def cache_empty() -> bool:
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    engine = SqlDml(wh)
    wh.overwrite(
        spark.createDataFrame([(1, 5.0), (2, 7.5)], "k int, mag double"), "c"
    )
    wh.add_constraint("c", "mag_range", "mag BETWEEN 0 AND 10")
    spark.catalog.clearCache()

    with pytest.raises(ConstraintViolation):
        engine.sql("UPDATE c SET mag = 50 WHERE k = 1")
    assert cache_empty()

    # a conditional clause takes the general join + union MERGE path
    spark.createDataFrame([(1, -3.0)], "k int, mag double") \
        .createOrReplaceTempView("c_src")
    with pytest.raises(ConstraintViolation):
        engine.sql("""
            MERGE INTO c t USING c_src s ON t.k = s.k
            WHEN MATCHED AND s.mag < t.mag THEN UPDATE SET mag = s.mag
        """)
    assert cache_empty()
    assert {r.mag for r in wh.read("c").collect()} == {5.0, 7.5}


def test_ctas_and_insert_overwrite(spark, wh):
    """CREATE TABLE ... AS SELECT (with USING and PARTITIONED BY both
    honored) and INSERT OVERWRITE — on both backends, the delta one
    committing them as log versions."""
    engine = SqlDml(wh)
    wh.overwrite(
        spark.createDataFrame(
            [("e1", 5.0, "CA"), ("e2", 7.0, "AK"), ("e3", 2.0, "CA")],
            "event_id string, mag double, region string",
        ),
        "src",
    )
    out = engine.sql("""
        CREATE TABLE big_quakes USING DELTA PARTITIONED BY (region)
        AS SELECT event_id, mag, region FROM src WHERE mag >= 4
    """).collect()[0]
    assert (out.created, out.partitioned_by) == (True, "region")
    assert wh.partition_columns("big_quakes") == ["region"]
    assert {r.event_id for r in wh.read("big_quakes").collect()} == {"e1", "e2"}

    # IF NOT EXISTS short-circuits; plain re-CREATE refuses
    assert engine.sql(
        "CREATE TABLE IF NOT EXISTS big_quakes AS SELECT * FROM src"
    ).collect()[0].created is False
    with pytest.raises(ValueError, match="already exists"):
        engine.sql("CREATE TABLE big_quakes AS SELECT * FROM src")
    # unknown PARTITIONED BY column refuses
    with pytest.raises(ValueError, match="PARTITIONED BY"):
        engine.sql(
            "CREATE TABLE nope PARTITIONED BY (ghost) AS SELECT * FROM src"
        )

    # INSERT OVERWRITE: full replace; INTO keeps appending
    out = engine.sql("""
        INSERT OVERWRITE big_quakes
        SELECT event_id, mag, region FROM src WHERE mag >= 6
    """).collect()[0]
    assert out.rows_inserted == 1
    assert {r.event_id for r in wh.read("big_quakes").collect()} == {"e2"}
    engine.sql("INSERT INTO big_quakes VALUES ('e9', 9.9, 'HI')")
    assert wh.read("big_quakes").count() == 2
    # the overwrite preserved the hive partition layout
    assert wh.partition_columns("big_quakes") == ["region"]


def test_copy_into_idempotent_file_ingest(spark, wh, tmp_path):
    """COPY INTO loads a landing directory's files exactly once: the
    first run ingests all, an unchanged re-run is a no-op, a NEW file
    loads alone on the next run, and FORCE=TRUE reloads everything —
    on both backends through the façade."""
    from global_seismic_data_pipeline_spark.session import tiny_df

    land = tmp_path / "landing"
    land.mkdir()
    tiny_df(spark, [(1, "a"), (2, "b")], "k int, s string").write.parquet(
        str(land / "batch1")
    )
    engine = SqlDml(wh)
    out = engine.sql(
        f"COPY INTO ing FROM '{land}' FILEFORMAT = PARQUET"
    ).collect()[0]
    assert out.rows_inserted == 2 and out.files_loaded >= 1
    assert wh.read("ing").count() == 2
    # unchanged re-run: no-op
    out = engine.sql(
        f"COPY INTO ing FROM '{land}' FILEFORMAT = PARQUET"
    ).collect()[0]
    assert (out.files_loaded, out.rows_inserted) == (0, 0)
    assert wh.read("ing").count() == 2
    # a new arrival loads alone
    tiny_df(spark, [(3, "c")], "k int, s string").write.parquet(
        str(land / "batch2")
    )
    out = engine.sql(
        f"COPY INTO ing FROM '{land}' FILEFORMAT = PARQUET"
    ).collect()[0]
    assert out.rows_inserted == 1
    assert {r.k for r in wh.read("ing").collect()} == {1, 2, 3}
    # FORCE reloads everything (duplicates, per Delta's contract)
    out = engine.sql(
        f"COPY INTO ing FROM '{land}' FILEFORMAT = PARQUET FORCE = TRUE"
    ).collect()[0]
    assert out.rows_inserted == 3
    assert wh.read("ing").count() == 6
    # DROP clears the ledger: a re-created table reloads fresh
    engine.sql("DROP TABLE ing")
    out = engine.sql(
        f"COPY INTO ing FROM '{land}' FILEFORMAT = PARQUET"
    ).collect()[0]
    assert out.rows_inserted == 3


def test_insert_replace_where(spark, wh):
    """Delta SQL's ``INSERT INTO t REPLACE WHERE <cond> SELECT ...``
    dispatches to the predicate-scoped overwrite on the delta backend
    and refuses (capability-checked) on the plain one; combining it
    with OVERWRITE refuses on both."""
    engine = SqlDml(wh)
    wh.overwrite(
        spark.createDataFrame(
            [("e1", 5.0, "CA"), ("e2", 7.0, "AK"), ("e3", 2.0, "CA")],
            "event_id string, mag double, region string",
        ),
        "q",
    )
    stmt = """
        INSERT INTO q REPLACE WHERE region = 'CA'
        VALUES ('e9', 9.9, 'CA')
    """
    if not isinstance(wh, DeltaLogWarehouse):
        with pytest.raises(ValueError, match="REPLACE WHERE"):
            engine.sql(stmt)
        return
    out = engine.sql(stmt).collect()[0]
    assert (out.statement, out.rows_inserted) == (
        "INSERT_REPLACE_WHERE", 1
    )
    got = {(r.event_id, r.region) for r in wh.read("q").collect()}
    assert got == {("e9", "CA"), ("e2", "AK")}
    # out-of-region batch refuses through the façade too
    with pytest.raises(ValueError, match="do not satisfy"):
        engine.sql("""
            INSERT INTO q REPLACE WHERE region = 'CA'
            VALUES ('e8', 1.0, 'TX')
        """)
    with pytest.raises(ValueError, match="cannot combine"):
        engine.sql("""
            INSERT OVERWRITE q REPLACE WHERE region = 'CA'
            VALUES ('e7', 1.0, 'CA')
        """)


def test_merge_not_matched_by_source(spark, wh):
    """Delta's WHEN NOT MATCHED BY SOURCE extension: target rows absent
    from the source delete or update, first-match-wins; BY TARGET is a
    synonym for plain NOT MATCHED; SET * refuses (no source row in
    scope); BY SOURCE on a plain MATCHED clause refuses."""
    engine = SqlDml(wh)
    wh.overwrite(
        spark.createDataFrame(
            [("a", 1, "t"), ("b", 2, "t"), ("c", 3, "t"), ("d", 9, "t")],
            "k string, v int, tag string",
        ),
        "bs",
    )
    spark.createDataFrame(
        [("a", 10, "s"), ("x", 7, "s")], "k string, v int, tag string"
    ).createOrReplaceTempView("bs_src")
    engine.sql("""
        MERGE INTO bs t
        USING bs_src s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v, tag = 'upd'
        WHEN NOT MATCHED BY TARGET THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.v > 5 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'
    """)
    got = {r.k: (r.v, r.tag) for r in wh.read("bs").collect()}
    assert got == {
        "a": (10, "upd"),    # matched update
        "b": (2, "stale"),   # not matched by source, second clause
        "c": (3, "stale"),
        "x": (7, "s"),       # not matched (by target): inserted
    }                         # d deleted: v=9 > 5, first clause wins
    with pytest.raises(ValueError, match=r"SET \*"):
        engine.sql("""
            MERGE INTO bs t USING bs_src s ON t.k = s.k
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *
        """)
    with pytest.raises(ValueError, match="BY SOURCE/TARGET"):
        engine.sql("""
            MERGE INTO bs t USING bs_src s ON t.k = s.k
            WHEN MATCHED BY SOURCE THEN DELETE
        """)
