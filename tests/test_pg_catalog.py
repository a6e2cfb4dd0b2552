"""pg_catalog emulation + alert/dba packet ports (reference:
packets/alert_check_autovacuum, packets/dba_top_tables,
packets/alert_int4_capacity; SURVEY §4.3 catalog emulation)."""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import pytest

from db_converter_spark.plans.model import PacketStatus, ResultCode
from db_converter_spark.plans.pgdialect import rewrite
from db_converter_spark.plans.runner import PacketRunner

PACKETS_DIR = Path(__file__).resolve().parent.parent / "packets"


def _write_packet(path: Path, files: dict[str, str]) -> Path:
    path.mkdir(parents=True, exist_ok=True)
    for name, text in files.items():
        (path / name).write_text(text)
    return path


@pytest.fixture(scope="module")
def runner(spark, tmp_path_factory):
    return PacketRunner(spark, tmp_path_factory.mktemp("pgcat_wh"))


@pytest.fixture(scope="module")
def alert_db(spark, runner, tmp_path_factory):
    """One db with: an autovacuum-disabled table, a big table, and a
    near-int4-capacity column — the three alert targets."""
    setup = _write_packet(
        tmp_path_factory.mktemp("pkt") / "setup",
        {
            "01_step.sql": (
                "create table av_t (a int) using parquet;\n"
                "ALTER TABLE av_t SET (autovacuum_enabled = false);\n"
                "create table big_t using parquet as"
                " select v as id, concat('text_', v) as txt"
                " from (select explode(sequence(1, 200000)) as v);\n"
                "create table cap_t using parquet as"
                " select cast(v as int) as near_cap_id"
                " from (select explode(array(2000000000, 1999999999)) as v)"
            ),
            "meta_data.json": '{"dialect": "postgres", "type": "default"}',
        },
    )
    res = runner.run(setup, dbs=["pgcat_db"])
    assert res.result_code["pgcat_db"] == ResultCode.SUCCESS, res.result_data["pgcat_db"]
    return "pgcat_db"


# ----------------------------------------------------------- dialect rewrites


def test_rewrite_containment_operators():
    out = rewrite("select * from t where '{x}'::text[] @> opts")
    assert "array_except" in out and "@>" not in out
    assert "array('x')" in out
    out2 = rewrite("select a <@ b from t")
    assert "array_except" in out2 and "<@" not in out2


def test_rewrite_alter_set_options():
    out = rewrite("ALTER TABLE t SET (autovacuum_enabled = false)")
    assert out.strip() == "ALTER TABLE t SET TBLPROPERTIES ('autovacuum_enabled'='false')"
    out2 = rewrite("ALTER TABLE t RESET (autovacuum_enabled)")
    assert "UNSET TBLPROPERTIES IF EXISTS ('autovacuum_enabled')" in out2
    # non-option SET (plain column update syntax) stays untouched
    assert "TBLPROPERTIES" not in rewrite("UPDATE t SET (a, b) = (1, 2)")


# -------------------------------------------------------------- catalog views


def test_pg_class_reloptions_roundtrip(spark, runner, alert_db):
    from db_converter_spark.pg_catalog import create_pg_catalog_views

    create_pg_catalog_views(spark, [alert_db])
    opts = {
        r["relname"]: r["reloptions"]
        for r in spark.sql("select relname, reloptions from pg_class").collect()
    }
    assert opts["av_t"] == ["autovacuum_enabled=false"]
    assert opts["big_t"] is None  # no user options → NULL, like PG
    cls = spark.sql(
        "select c.relname, n.nspname, c.relkind, c.relpages from pg_class c"
        " join pg_namespace n on n.oid = c.relnamespace"
    ).collect()
    assert all(r["nspname"] == alert_db and r["relkind"] == "r" for r in cls)
    pages = {r["relname"]: r["relpages"] for r in cls}
    assert pages["big_t"] > 10  # ~1.7 MB of parquet


def test_pg_attribute_types(spark, alert_db):
    from db_converter_spark.pg_catalog import create_pg_catalog_views

    create_pg_catalog_views(spark, [alert_db])
    atts = {
        (r["relname"], r["attname"]): r["typname"]
        for r in spark.sql(
            "select c.relname, a.attname, t.typname from pg_attribute a"
            " join pg_class c on c.oid = a.attrelid"
            " join pg_type t on t.oid = a.atttypid"
        ).collect()
    }
    assert atts[("cap_t", "near_cap_id")] == "int4"
    assert atts[("big_t", "id")] == "int4"
    assert atts[("big_t", "txt")] == "text"


# -------------------------------------------------------------- packet ports


def test_alert_check_autovacuum(runner, spark, alert_db, tmp_path):
    # av_t has autovacuum disabled → alert raises, naming the table
    res = runner.run(PACKETS_DIR / "alert_check_autovacuum", dbs=[alert_db])
    assert res.result_code[alert_db] == ResultCode.FAIL
    assert res.packet_status[alert_db] == PacketStatus.EXCEPTION
    flat = str(res.result_data[alert_db])
    assert "autovacuum_enabled=false on some tables" in flat and "av_t" in flat

    # re-enable → alert passes
    fix = _write_packet(
        tmp_path / "fix",
        {
            "01_step.sql": "ALTER TABLE av_t SET (autovacuum_enabled = true)",
            "meta_data.json": '{"dialect": "postgres", "type": "default"}',
        },
    )
    assert runner.run(fix, dbs=[alert_db]).result_code[alert_db] == ResultCode.SUCCESS
    res2 = runner.run(PACKETS_DIR / "alert_check_autovacuum", dbs=[alert_db])
    assert res2.result_code[alert_db] == ResultCode.SUCCESS


def test_dba_top_tables(runner, alert_db):
    res = runner.run(PACKETS_DIR / "dba_top_tables", dbs=[alert_db])
    assert res.result_code[alert_db] == ResultCode.SUCCESS
    table = res.result_data[alert_db]["01_step.sql"][0]
    cols, rows = table[0], table[1:]
    assert cols[:3] == ["nspname", "relname", "size"]
    by_name = {r[1]: r for r in rows}
    assert "big_t" in by_name  # the only table over the 10-page floor
    assert by_name["big_t"][2].endswith(("kB", "MB"))


def test_alert_int4_capacity(runner, alert_db):
    res = runner.run(PACKETS_DIR / "alert_int4_capacity", dbs=[alert_db])
    assert res.result_code[alert_db] == ResultCode.SUCCESS
    results = res.result_data[alert_db]["01_step.sql"]
    # rows only for the near-capacity column; others stay header-only
    alerts = [
        r
        for table in results
        if table and isinstance(table[0], list) and len(table) > 1
        for r in table[1:]
    ]
    assert len(alerts) == 1
    path, typ, cur, ratio = alerts[0]
    assert path.endswith("cap_t.near_cap_id") and typ == "int4"
    assert cur == 2000000000 and 0.9 < ratio < 1.0


def test_alert_bloat_math_over_real_rows(spark, tmp_path):
    """The alert_bloat port's estimation chain must EXECUTE over real rows,
    not just analyze: build a >2000-page (>16 MB) analyzed table with a
    fillfactor reloption so step1's filters admit it, run the packet, and
    require DONE/SUCCESS with both steps captured (the ioguix math computes
    pages/tuple-sizes; the 80% alert threshold itself needn't fire on a
    freshly written table)."""
    from db_converter_spark.plans.model import ResultCode
    from db_converter_spark.plans.runner import PacketRunner

    db = "bloatdb"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.sql(f"DROP TABLE IF EXISTS {db}.fat")
    spark.sql(
        f"CREATE TABLE {db}.fat USING parquet AS"
        "  SELECT id, concat(uuid(), uuid(), uuid(), uuid()) AS pad, CAST(id % 1000 AS INT) AS grp"
        "  FROM range(500000)"
    )
    spark.sql(f"ALTER TABLE {db}.fat SET TBLPROPERTIES ('fillfactor'='90')")
    from db_converter_spark.operators.maintenance import route_maintenance

    route_maintenance(spark, f"analyze {db}.fat")

    from db_converter_spark.pg_catalog import create_pg_catalog_views

    create_pg_catalog_views(spark, [db])
    relpages = spark.sql(
        "select relpages from pg_class where relname = 'fat'"
    ).collect()[0][0]
    assert relpages > 2000, f"fixture too small: {relpages} pages"
    # pg_stats populated by the ANALYZE column pass — step1's join hinges on it
    assert spark.sql("select * from pg_stats where tablename='fat'").count() == 3

    runner = PacketRunner(spark, tmp_path / "wh")
    res = runner.run("packets/alert_bloat", dbs=[db])
    assert res.result_code[db] == ResultCode.SUCCESS, res.result_data[db]
    data = res.result_data[db]
    assert set(data) == {"01_step.sql", "02_step.sql"}
    # header row of the heap-bloat report is captured (column shape proof)
    flat = str(data["02_step.sql"])
    assert "bloat_pct" in flat and "table_size" in flat


# ------------------------------------------------------ catalog snapshot


SNAP_DB = "pgsnap_db"

_SNAP_VIEWS = (
    "pg_namespace", "pg_class", "pg_attribute", "pg_type",
    "pg_stat_all_tables", "pg_stat_all_indexes", "pg_stat_user_indexes",
    "pg_index", "pg_am", "pg_constraint", "pg_stats",
    "information_schema_columns",
)
_SNAP_UDFS = (
    "pg_get_indexdef", "pg_relation_size", "pg_table_size", "pg_indexes_size",
    "pg_total_relation_size", "pg_get_constraintdef",
)


@pytest.fixture(scope="module")
def snap_db(spark):
    """Every shape the emulation maps: varchar/decimal/array/map/struct
    columns, quoted column names, reloptions, two recorded indexes,
    ANALYZE'd columns, maintenance stamps, an unanalyzed table, a
    persistent view and a temp view. Single-file tables and fixed stamps
    keep every size and timestamp exact."""
    from db_converter_spark.operators.maintenance import route_maintenance

    db = SNAP_DB
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    spark.sql(
        f"CREATE TABLE {db}.wide (id int, name varchar(10), price decimal(10,2),"
        " tags array<int>, attrs map<string,int>, info struct<x:int,y:string>,"
        " `my col` string, `from` string) USING parquet"
    )
    spark.sql(
        f"INSERT INTO {db}.wide SELECT /*+ COALESCE(1) */ * FROM VALUES"
        " (1, 'a', 1.50, array(1, 2), map('k', 1), named_struct('x', 1, 'y', 'p'), 'c1', 'f1'),"
        " (2, NULL, 2.25, array(3), map('k', 2), named_struct('x', 2, 'y', 'q'), NULL, 'f2'),"
        " (3, 'ccc', NULL, NULL, NULL, NULL, 'c3', NULL)"
    )
    spark.sql(
        f"ALTER TABLE {db}.wide SET TBLPROPERTIES"
        " ('fillfactor' = '70', 'autovacuum_enabled' = 'false')"
    )
    route_maintenance(spark, f"CREATE UNIQUE INDEX wide_id_idx ON {db}.wide (id)")
    route_maintenance(
        spark, f"CREATE INDEX wide_np_idx ON {db}.wide USING hash (name, price)"
    )
    spark.sql(
        f"ANALYZE TABLE {db}.wide COMPUTE STATISTICS"
        " FOR COLUMNS id, name, price, `my col`, `from`"
    )
    spark.sql(
        f"ALTER TABLE {db}.wide SET TBLPROPERTIES"
        " ('dbc.last_analyze' = '2026-01-02T03:04:05+00:00',"
        " 'dbc.last_vacuum' = '2026-01-01T00:00:00+00:00')"
    )
    spark.sql(
        f"CREATE TABLE {db}.plain USING parquet AS"
        " SELECT /*+ COALESCE(1) */ id, CAST(id AS string) AS s FROM range(100)"
    )
    spark.sql(f"CREATE VIEW {db}.wide_v AS SELECT id, name FROM {db}.wide")
    spark.sql("CREATE OR REPLACE TEMP VIEW snap_tmp_v AS SELECT 1 AS q")
    yield db
    spark.catalog.dropTempView("snap_tmp_v")


def _catalog_dump(spark) -> dict:
    """Schema and sorted rows of every catalog emulation view, and every
    lookup UDF applied to every pg_class oid plus an unknown one."""
    out = {}
    for v in _SNAP_VIEWS:
        df = spark.table(v)
        out[v] = (df.schema.simpleString(), sorted((tuple(r) for r in df.collect()), key=repr))
    calls = ", ".join(f"{f}(oid)" for f in _SNAP_UDFS)
    out["udfs"] = sorted(
        (
            tuple(r)
            for r in spark.sql(
                f"SELECT relname, {calls} FROM"
                " (SELECT relname, oid FROM pg_class UNION ALL SELECT 'unknown', 0)"
            ).collect()
        ),
        key=repr,
    )
    return out


# Rows of every emulation view and lookup UDF over ``snap_db``, captured
# from the per-object listing builder this snapshot replaced — plus the
# ``my col`` pg_stats row that builder dropped (unquoted column DESCRIBE).
_EXPECTED_SNAPSHOT = {
    "information_schema_columns": (
        "struct<table_schema:string,table_name:string,column_name:string,"
        "data_type:string,ordinal_position:int>",
        [("pgsnap_db", "plain", "id", "bigint", 1),
         ("pgsnap_db", "plain", "s", "string", 2),
         ("pgsnap_db", "wide", "attrs", "map<string,int>", 5),
         ("pgsnap_db", "wide", "from", "string", 8),
         ("pgsnap_db", "wide", "id", "int", 1),
         ("pgsnap_db", "wide", "info", "struct<x:int,y:string>", 6),
         ("pgsnap_db", "wide", "my col", "string", 7),
         ("pgsnap_db", "wide", "name", "string", 2),
         ("pgsnap_db", "wide", "price", "decimal(10,2)", 3),
         ("pgsnap_db", "wide", "tags", "array<int>", 4),
         ("pgsnap_db", "wide_v", "id", "int", 1),
         ("pgsnap_db", "wide_v", "name", "string", 2)],
    ),
    "pg_am": (
        "struct<oid:bigint,amname:string>",
        [(2479456025, "gist"), (2901186566, "gin"), (3014284016, "btree"),
         (3518522040, "hash"), (4180394011, "brin")],
    ),
    "pg_attribute": (
        "struct<attrelid:bigint,attname:string,attnum:int,atttypid:string,"
        "attisdropped:boolean>",
        [(2452730227, "attrs", 5, "map", False),
         (2452730227, "from", 8, "text", False),
         (2452730227, "id", 1, "int4", False),
         (2452730227, "info", 6, "struct", False),
         (2452730227, "my col", 7, "text", False),
         (2452730227, "name", 2, "text", False),
         (2452730227, "price", 3, "numeric", False),
         (2452730227, "tags", 4, "_int4", False),
         (2652246816, "id", 1, "int8", False),
         (2652246816, "s", 2, "text", False)],
    ),
    "pg_class": (
        "struct<oid:bigint,relname:string,relnamespace:bigint,relkind:string,"
        "reltuples:double,relpages:bigint,reloptions:array<string>,relam:bigint,"
        "reltoastrelid:bigint,relhasindex:boolean,relfrozenxid:bigint,"
        "relminmxid:bigint>",
        [(125944758, "wide_id_idx", 693822334, "i", 3.0, 0, None, 3014284016, 0,
          False, 0, 0),
         (2414133836, "wide_np_idx", 693822334, "i", 3.0, 0, None, 3518522040, 0,
          False, 0, 0),
         (2452730227, "wide", 693822334, "r", 3.0, 0,
          ["autovacuum_enabled=false", "fillfactor=70"], 0, 0, True, 0, 0),
         (2652246816, "plain", 693822334, "r", -1.0, 0, None, 0, 0, False, 0, 0)],
    ),
    "pg_constraint": (
        "struct<oid:bigint,conname:string,contype:string,connamespace:bigint,"
        "conindid:bigint,conrelid:bigint,confrelid:bigint,conkey:array<int>,"
        "confkey:array<int>,confupdtype:string,confdeltype:string>",
        [],
    ),
    "pg_index": (
        "struct<indexrelid:bigint,indrelid:bigint,indnatts:int,"
        "indkey_arr:array<int>,indkey:array<int>,indkey_str:string,"
        "indisunique:boolean,indisprimary:boolean,indisvalid:boolean,"
        "indisready:boolean>",
        [(125944758, 2452730227, 1, [1], [1], "1", True, False, True, True),
         (2414133836, 2452730227, 2, [2, 3], [2, 3], "2 3", False, False, True,
          True)],
    ),
    "pg_namespace": ("struct<oid:bigint,nspname:string>", [(693822334, "pgsnap_db")]),
    "pg_stat_all_indexes": (
        "struct<indexrelid:bigint,relid:bigint,idx_scan:bigint>",
        [(125944758, 2452730227, 0), (2414133836, 2452730227, 0)],
    ),
    "pg_stat_all_tables": (
        "struct<relid:bigint,schemaname:string,relname:string,n_live_tup:bigint,"
        "n_dead_tup:bigint,n_tup_ins:bigint,n_tup_upd:bigint,n_tup_hot_upd:bigint,"
        "seq_scan:bigint,seq_tup_read:bigint,idx_scan:bigint,idx_tup_fetch:bigint,"
        "last_vacuum:timestamp,last_autovacuum:timestamp,last_analyze:timestamp,"
        "last_autoanalyze:timestamp>",
        [(2452730227, "pgsnap_db", "wide", 3, 0, 0, 0, 0, 0, 0, 0, 0,
          datetime(2026, 1, 1, 0, 0), None, datetime(2026, 1, 2, 3, 4, 5), None),
         (2652246816, "pgsnap_db", "plain", 0, 0, 0, 0, 0, 0, 0, 0, 0,
          None, None, None, None)],
    ),
    "pg_stat_user_indexes": (
        "struct<indexrelid:bigint,relid:bigint,idx_scan:bigint>",
        [(125944758, 2452730227, 0), (2414133836, 2452730227, 0)],
    ),
    "pg_stats": (
        "struct<schemaname:string,tablename:string,attname:string,"
        "inherited:boolean,null_frac:double,avg_width:int,n_distinct:double>",
        [("pgsnap_db", "wide", "from", False, 0.3333333333333333, 2, 2.0),
         ("pgsnap_db", "wide", "id", False, 0.0, 4, 3.0),
         ("pgsnap_db", "wide", "my col", False, 0.3333333333333333, 2, 2.0),
         ("pgsnap_db", "wide", "name", False, 0.3333333333333333, 2, 2.0),
         ("pgsnap_db", "wide", "price", False, 0.3333333333333333, 8, 2.0)],
    ),
    "pg_type": (
        "struct<oid:string,typname:string>",
        [("_int4", "_int4"), ("int4", "int4"), ("int8", "int8"), ("map", "map"),
         ("numeric", "numeric"), ("struct", "struct"), ("text", "text")],
    ),
    # relname, pg_get_indexdef, pg_relation_size, pg_table_size,
    # pg_indexes_size, pg_total_relation_size, pg_get_constraintdef
    "udfs": [
        ("plain", None, 1543, 1543, 0, 1543, None),
        ("unknown", None, 0, 0, 0, 0, None),
        ("wide", None, 2909, 2909, 1090, 3999, None),
        ("wide_id_idx",
         "CREATE UNIQUE INDEX wide_id_idx ON pgsnap_db.wide USING btree (id)",
         363, 363, 0, 363, None),
        ("wide_np_idx",
         "CREATE INDEX wide_np_idx ON pgsnap_db.wide USING hash (name, price)",
         727, 727, 0, 727, None),
    ],
}


def _assert_instance_views(spark, db):
    assert spark.sql(
        f"SELECT * FROM pg_database WHERE datname = '{db}'"
    ).collect() == [(693822334, db, 0, 0)]
    defined = [r for r in spark.sql("SET -v").collect() if r[1] != "<undefined>"]
    settings = {r["name"]: r for r in spark.table("pg_settings").collect()}
    assert len(settings) == len(defined) + 1
    slots = str(spark.sparkContext.defaultParallelism)
    assert tuple(settings["max_connections"]) == (
        "max_connections", slots, None, slots,
        "synthetic: Spark task-slot count (defaultParallelism)",
    )
    assert settings["spark.sql.autoBroadcastJoinThreshold"]["unit"] == "B"
    assert settings["spark.sql.shuffle.partitions"]["unit"] is None
    for v in ("pg_stat_activity", "pg_locks", "pg_stat_replication"):
        assert spark.table(v).collect() == []
    assert spark.table("pg_locks").columns[-2:] == ["pid", "granted"]
    assert spark.sql("SELECT pg_backend_pid()").collect()[0][0] == -1


def test_snapshot_contract(spark, snap_db):
    """Every emulation view and lookup UDF, exact rows: once through the
    public builders, once through the runner's single-snapshot refresh."""
    from db_converter_spark.catalog import create_information_schema_views
    from db_converter_spark.pg_catalog import (
        create_pg_catalog_views,
        create_pg_instance_views,
        refresh_emulation,
    )

    create_pg_catalog_views(spark, [snap_db])
    create_pg_instance_views(spark)
    create_information_schema_views(spark, snap_db)
    assert _catalog_dump(spark) == _EXPECTED_SNAPSHOT
    _assert_instance_views(spark, snap_db)

    for v in (*_SNAP_VIEWS, "pg_settings", "pg_database"):
        spark.catalog.dropTempView(v)
    refresh_emulation(spark, snap_db)
    assert _catalog_dump(spark) == _EXPECTED_SNAPSHOT
    _assert_instance_views(spark, snap_db)


def test_snapshot_views_and_temp_views(spark, snap_db):
    """A persistent view has columns but is no pg_class relation; a temp
    view belongs to a session, not to the database."""
    from db_converter_spark.pg_catalog import refresh_emulation

    refresh_emulation(spark, snap_db, {"pg_class", "information_schema_columns"})
    rel = {r[0] for r in spark.sql("SELECT relname FROM pg_class").collect()}
    cols = {
        r[0]
        for r in spark.sql("SELECT table_name FROM information_schema_columns").collect()
    }
    assert "wide_v" in cols and "wide_v" not in rel
    assert "snap_tmp_v" not in cols and "snap_tmp_v" not in rel


def test_pg_stats_quoted_column(spark, snap_db):
    """Analyzed columns whose names need quoting still reach pg_stats."""
    from db_converter_spark.pg_catalog import refresh_emulation

    refresh_emulation(spark, snap_db, {"pg_stats"})
    names = {
        r[0]
        for r in spark.sql(
            "SELECT attname FROM pg_stats WHERE tablename = 'wide'"
        ).collect()
    }
    assert names == {"id", "name", "price", "my col", "from"}


def test_refresh_builds_only_named(spark, runner, snap_db, tmp_path, monkeypatch):
    """A PG packet naming only pg_class reads no column statistics and
    leaves every unnamed emulation view undefined in its session."""
    from db_converter_spark import pg_catalog

    column_reads = []
    real = pg_catalog._column_stats
    monkeypatch.setattr(
        pg_catalog, "_column_stats", lambda *a: column_reads.append(a) or real(*a)
    )
    pkt = _write_packet(
        tmp_path / "only_class",
        {
            "01_step.sql": "SELECT relname FROM pg_catalog.pg_class ORDER BY relname",
            "02_step.sql": "SHOW VIEWS LIKE 'pg*'",
            "meta_data.json": '{"dialect": "postgres", "type": "read_only"}',
        },
    )
    res = runner.run(pkt, dbs=[snap_db])
    assert res.result_code[snap_db] == ResultCode.SUCCESS, res.result_data[snap_db]
    data = res.result_data[snap_db]
    assert [r[0] for r in data["01_step.sql"][0][1:]] == [
        "plain", "wide", "wide_id_idx", "wide_np_idx",
    ]
    views = {r[1] for r in data["02_step.sql"][0][1:]}
    assert views == {"pg_class"}
    assert column_reads == []


def test_py_step_refresh_builds_everything(spark, runner, snap_db, tmp_path):
    """A py step's SQL is unknown up front: an explicit refresh builds the
    full emulation, pg_stats and information_schema included."""
    pkt = _write_packet(
        tmp_path / "py_refresh",
        {
            "01_step.py": (
                "ctx.refresh_catalog()\n"
                "n = spark.sql(\"SELECT count(*) FROM pg_stats WHERE tablename = 'wide'\")"
                ".collect()[0][0]\n"
                "m = spark.sql(\"SELECT count(*) FROM information_schema_columns"
                " WHERE table_name = 'wide_v'\").collect()[0][0]\n"
                "ctx.raise_notice('LOG', f'pg_stats={n} columns={m}')\n"
            ),
            "meta_data.json": '{"dialect": "postgres", "type": "read_only"}',
        },
    )
    res = runner.run(pkt, dbs=[snap_db])
    assert res.result_code[snap_db] == ResultCode.SUCCESS, res.result_data[snap_db]
    assert ["LOG", "pg_stats=5 columns=2"] in res.result_data[snap_db]["01_step.py"]
