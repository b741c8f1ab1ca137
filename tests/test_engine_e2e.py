"""End-to-end engine lifecycle, mirroring the reference's workflow E2E suite
(SURVEY §5: data-pipeline roundtrips, dedup modes, snapshot recovery, branch
CoW, bucket sharing, workspace SQL)."""

import json
import os
import sys
import threading

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from keboola_storage_duckdb_spark.catalog.catalog import (
    AlreadyExistsError,
    CatalogError,
    NotFoundError,
)
from keboola_storage_duckdb_spark.engine import StorageEngine
from keboola_storage_duckdb_spark.operators.dedup import DuplicateKeyError

USERS_COLUMNS = [  # the reference's canonical fixture (FIXTURES.md §1)
    {"name": "id", "type": "INTEGER", "nullable": False},
    {"name": "name", "type": "VARCHAR", "nullable": True},
    {"name": "email", "type": "VARCHAR", "nullable": True},
    {"name": "age", "type": "INTEGER", "nullable": True},
]

CSV = """id,name,email,age
1,Alice,alice@example.com,30
2,Bob,bob@example.com,25
3,Carol,,40
"""

CSV_V2 = """id,name,email,age
2,Bobby,bobby@example.com,26
4,Dave,dave@example.com,50
"""


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    eng = StorageEngine(spark, str(wh))
    eng.create_project("p1")
    eng.create_bucket("p1", "in_c_data")
    return eng


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("files")
    p = str(d / "users.csv")
    with open(p, "w") as f:
        f.write(CSV)
    p2 = str(d / "users_v2.csv")
    with open(p2, "w") as f:
        f.write(CSV_V2)
    return {"v1": p, "v2": p2}


def test_create_and_import_full_load(engine, csv_path):
    engine.create_table("p1", "in_c_data", "users", USERS_COLUMNS,
                        primary_key=["id"])
    with pytest.raises(AlreadyExistsError):
        engine.create_table("p1", "in_c_data", "users", USERS_COLUMNS)
    res = engine.import_file("p1", "in_c_data", "users", csv_path["v1"],
                             file_format="csv")
    assert res["rows_after"] == 3
    info = engine.table_info("p1", "in_c_data", "users")
    assert info["row_count"] == 3
    assert info["primary_key"] == ["id"]


def test_null_roundtrip_and_timestamp(engine):
    rows = engine.preview("p1", "in_c_data", "users",
                          order_by=[{"column": "id"}])
    by_id = {r["id"]: r for r in rows}
    assert by_id[3]["email"] is None          # empty CSV field → NULL
    assert by_id[1]["_timestamp"] is not None  # system column added


def test_incremental_update_duplicates(engine, csv_path):
    res = engine.import_file("p1", "in_c_data", "users", csv_path["v2"],
                             file_format="csv", incremental=True,
                             dedup_mode="update_duplicates")
    assert res["rows_after"] == 4  # 1,2(updated),3,4
    rows = {r["id"]: r for r in engine.preview("p1", "in_c_data", "users")}
    assert rows[2]["name"] == "Bobby"
    assert rows[4]["name"] == "Dave"
    assert rows[1]["name"] == "Alice"


def test_incremental_do_nothing(engine, csv_path, tmp_path):
    p = str(tmp_path / "v3.csv")
    with open(p, "w") as f:
        f.write("id,name,email,age\n2,Robert,r@example.com,27\n5,Eve,e@example.com,22\n")
    engine.import_file("p1", "in_c_data", "users", p, file_format="csv",
                       incremental=True, dedup_mode="do_nothing")
    rows = {r["id"]: r for r in engine.preview("p1", "in_c_data", "users")}
    assert rows[2]["name"] == "Bobby"  # kept, not overwritten
    assert rows[5]["name"] == "Eve"    # new key inserted


def test_fail_on_duplicates(engine, csv_path):
    with pytest.raises(DuplicateKeyError):
        engine.import_file("p1", "in_c_data", "users", csv_path["v2"],
                           file_format="csv", incremental=True,
                           dedup_mode="fail_on_duplicates")


def test_filtered_export_roundtrip(engine, tmp_path):
    out = str(tmp_path / "export_csv")
    res = engine.export_to_file(
        "p1", "in_c_data", "users", out, file_format="csv",
        columns=["id", "name", "age"], where="age >= 26",
        order_by=[{"column": "id"}])
    assert res["rows_exported"] == 4  # Alice 30, Bobby 26, Carol 40, Dave 50
    back = engine.spark.read.option("header", True).csv(out)
    assert sorted(r["name"] for r in back.collect()) == ["Alice", "Bobby", "Carol", "Dave"]


def test_typed_where_and_reftable_delete(engine, tmp_path):
    res = engine.delete_rows(
        "p1", "in_c_data", "users",
        where_filters=[{"column": "age", "operator": "ge", "values": [50],
                        "dataType": "INTEGER"}])
    assert res["rows_deleted"] == 1  # Dave (50)
    assert res["rows_remaining"] == 4


def test_schema_evolution(engine):
    engine.add_column("p1", "in_c_data", "users",
                      {"name": "status", "type": "VARCHAR", "default": "active"})
    rows = engine.preview("p1", "in_c_data", "users")
    assert all(r["status"] == "active" for r in rows)
    engine.alter_column("p1", "in_c_data", "users", "status",
                        new_name="state", new_type="VARCHAR")
    rows = engine.preview("p1", "in_c_data", "users")
    assert all("state" in r for r in rows)
    engine.drop_column("p1", "in_c_data", "users", "state")
    assert "state" not in engine.preview("p1", "in_c_data", "users")[0]
    with pytest.raises(CatalogError):
        engine.drop_column("p1", "in_c_data", "users", "id")  # PK column


def test_pk_management(engine, spark, tmp_path):
    engine.drop_primary_key("p1", "in_c_data", "users")
    assert engine.table_info("p1", "in_c_data", "users")["primary_key"] == []
    engine.add_primary_key("p1", "in_c_data", "users", ["id"])
    assert engine.table_info("p1", "in_c_data", "users")["primary_key"] == ["id"]
    # D6 must reject a non-unique candidate key (validated, not assumed)
    engine.create_table("p1", "in_c_data", "dupes", [
        {"name": "k", "type": "INTEGER"}])
    p = str(tmp_path / "dupes.csv")
    with open(p, "w") as f:
        f.write("k\n1\n1\n")
    engine.import_file("p1", "in_c_data", "dupes", p, file_format="csv")
    with pytest.raises(DuplicateKeyError):
        engine.add_primary_key("p1", "in_c_data", "dupes", ["k"])
    engine.drop_table("p1", "in_c_data", "dupes")


def test_snapshot_create_restore(engine):
    before = engine.table_info("p1", "in_c_data", "users")["row_count"]
    snap = engine.snapshot_create("p1", "in_c_data", "users", "pre-delete")
    assert snap["row_count"] == before
    engine.delete_rows("p1", "in_c_data", "users")  # delete-all (auto-snapshot W11)
    assert engine.table_info("p1", "in_c_data", "users")["row_count"] == 0
    snaps = engine.snapshot_list("p1", "in_c_data", "users")
    assert len(snaps) >= 2  # manual + auto pre-truncate
    engine.snapshot_restore("p1", "in_c_data", "users", snap["snapshot_id"])
    assert engine.table_info("p1", "in_c_data", "users")["row_count"] == before


def test_branch_cow_divergence_and_pull(engine, tmp_path):
    engine.create_branch("p1", "dev")
    # branch read resolves to main before any branch write
    main_rows = engine.table_info("p1", "in_c_data", "users")["row_count"]
    assert engine.table_info("p1", "in_c_data", "users", branch="dev")[
        "row_count"] == main_rows
    # branch write triggers CoW; main untouched
    p = str(tmp_path / "branch.csv")
    with open(p, "w") as f:
        f.write("id,name,email,age\n99,Branchy,b@example.com,1\n")
    engine.import_file("p1", "in_c_data", "users", p, file_format="csv",
                       incremental=True, dedup_mode="update_duplicates",
                       branch="dev")
    assert engine.table_info("p1", "in_c_data", "users", branch="dev")[
        "row_count"] == main_rows + 1
    assert engine.table_info("p1", "in_c_data", "users")["row_count"] == main_rows
    # pull refreshes branch from main
    engine.branch_pull("p1", "dev", "in_c_data", "users")
    assert engine.table_info("p1", "in_c_data", "users", branch="dev")[
        "row_count"] == main_rows


def test_share_link_bucket(engine):
    engine.create_project("p2")
    engine.share_bucket("p1", "in_c_data")
    engine.link_bucket("p1", "in_c_data", "p2", "in_linked")
    assert "users" in engine.list_linked_tables("p2", "in_linked")
    df = engine.read_table("p2", "in_linked", "users")
    assert df.count() == engine.table_info("p1", "in_c_data", "users")["row_count"]


def test_workspace_load_and_sql(engine):
    engine.create_workspace("ws1")
    res = engine.load_table_to_workspace(
        "ws1", "p1", "in_c_data", "users", "u", columns=["id", "name"],
        where="age >= 26")
    assert res["rows_loaded"] == 3
    assert engine.workspace_table("ws1", "u").columns == ["id", "name"]
    rows = engine.execute_query(
        "p1", "SELECT COUNT(*) AS n FROM in_c_data_users")
    assert rows[0]["n"] == engine.table_info("p1", "in_c_data", "users")["row_count"]
    engine.clear_workspace("ws1")
    with pytest.raises(Exception):
        engine.workspace_table("ws1", "u").count()


def test_execute_query_stringify(engine):
    rows = engine.execute_query(
        "p1", "SELECT id, _timestamp FROM in_c_data_users ORDER BY id LIMIT 1",
        stringify=True)
    assert isinstance(rows[0]["id"], str)
    assert "T" in rows[0]["_timestamp"]  # ISO serialized


def test_execute_query_row_cap(engine):
    # users has >1 row; a cap of 1 truncates the collect (and logs it)
    rows = engine.execute_query(
        "p1", "SELECT id FROM in_c_data_users ORDER BY id", max_rows=1)
    assert len(rows) == 1
    full = engine.execute_query(
        "p1", "SELECT id FROM in_c_data_users", max_rows=None)
    assert len(full) > 1
    with open(engine._ops_log_path) as f:
        assert any('"execute_query_truncated"' in line for line in f)


def test_import_from_table(engine):
    engine.create_table("p1", "in_c_data", "users_copy", [
        {"name": "uid", "type": "INTEGER", "nullable": False},
        {"name": "uname", "type": "VARCHAR"},
    ], primary_key=["uid"])
    res = engine.import_from_table(
        ("p1", "in_c_data", "users"), ("p1", "in_c_data", "users_copy"),
        column_mappings={"id": "uid", "name": "uname"})
    assert res["rows_after"] == engine.table_info(
        "p1", "in_c_data", "users")["row_count"]


def test_column_order_mapping(engine, tmp_path):
    """Staged columns arrive in a different order than the declared schema
    — mapping is by NAME, not position (reference data-pipeline e2e's
    column-order class; _conform selects declared columns by name)."""
    engine.create_table("p1", "in_c_data", "reordered", USERS_COLUMNS,
                        primary_key=["id"])
    p = str(tmp_path / "shuffled.csv")
    with open(p, "w") as f:
        f.write("age,email,id,name\n30,a@x.com,1,Ann\n25,,2,Ben\n")
    engine.import_file("p1", "in_c_data", "reordered", p, file_format="csv")
    rows = {r.id: (r.name, r.email, r.age) for r in
            engine.read_table("p1", "in_c_data", "reordered").collect()}
    assert rows == {1: ("Ann", "a@x.com", 30), 2: ("Ben", None, 25)}


def test_append_without_pk(engine, tmp_path):
    """No PK declared → incremental import plain-appends (reference
    append-without-PK class): duplicates accumulate, nothing dedups."""
    engine.create_table("p1", "in_c_data", "nopk", USERS_COLUMNS)
    p = str(tmp_path / "r.csv")
    with open(p, "w") as f:
        f.write("id,name,email,age\n1,A,,10\n1,A,,10\n")
    engine.import_file("p1", "in_c_data", "nopk", p, file_format="csv")
    out = engine.import_file("p1", "in_c_data", "nopk", p, file_format="csv",
                             incremental=True)
    assert out["rows_after"] == 4  # 2 + 2, duplicates kept


def test_multi_format_etl_chain(engine, tmp_path):
    """CSV import → Parquet export → Parquet import into a second table →
    CSV export; values survive every hop (reference multi-format ETL
    chain class)."""
    engine.create_table("p1", "in_c_data", "etl_src", USERS_COLUMNS,
                        primary_key=["id"])
    src_csv = str(tmp_path / "src.csv")
    with open(src_csv, "w") as f:
        f.write("id,name,email,age\n7,Gus,g@x.com,33\n8,Hal,,44\n")
    engine.import_file("p1", "in_c_data", "etl_src", src_csv,
                       file_format="csv")
    pq_dir = str(tmp_path / "hop.parquet")
    engine.export_to_file("p1", "in_c_data", "etl_src", pq_dir,
                          file_format="parquet")
    engine.create_table("p1", "in_c_data", "etl_dst", USERS_COLUMNS,
                        primary_key=["id"])
    engine.import_file("p1", "in_c_data", "etl_dst", pq_dir,
                       file_format="parquet")
    out_csv = str(tmp_path / "out_csv")
    engine.export_to_file("p1", "in_c_data", "etl_dst", out_csv,
                          file_format="csv", single_file=True)
    import csv as _csv
    files = [os.path.join(out_csv, f) for f in os.listdir(out_csv)
             if f.endswith(".csv")] if os.path.isdir(out_csv) else [out_csv]
    with open(files[0]) as f:
        rows = {r["id"]: (r["name"], r["email"], r["age"])
                for r in _csv.DictReader(f)}
    assert rows == {"7": ("Gus", "g@x.com", "33"), "8": ("Hal", "", "44")}


def test_drop_guards(engine):
    with pytest.raises(CatalogError):
        engine.drop_bucket("p1", "in_c_data")  # not empty
    with pytest.raises(NotFoundError):
        engine.drop_table("p1", "in_c_data", "missing")


def test_import_strategy_string_table(engine, csv_path):
    """proto/table.proto ImportOptions.ImportStrategy: STRING_TABLE (the
    reference's classic-Keboola default) loads every column as STRING
    regardless of declared types; USER_DEFINED_TABLE keeps the declared
    types — mirrors reference tests/test_data_pipeline_e2e.py typed vs
    string roundtrips."""
    import pyspark.sql.types as T

    # typed (default) roundtrip
    engine.create_table("p1", "in_c_data", "users_typed", USERS_COLUMNS,
                        primary_key=["id"])
    engine.import_file("p1", "in_c_data", "users_typed", csv_path["v1"])
    df = engine.read_table("p1", "in_c_data", "users_typed")
    assert isinstance(df.schema["id"].dataType, T.IntegerType)
    assert isinstance(df.schema["age"].dataType, T.IntegerType)

    # string-table roundtrip: same CSV, every column STRING
    engine.create_table("p1", "in_c_data", "users_str", USERS_COLUMNS,
                        primary_key=["id"])
    out = engine.import_file("p1", "in_c_data", "users_str", csv_path["v1"],
                             import_strategy="string_table")
    assert out["rows_after"] == 3
    df = engine.read_table("p1", "in_c_data", "users_str")
    assert isinstance(df.schema["id"].dataType, T.StringType)
    assert isinstance(df.schema["age"].dataType, T.StringType)
    rows = {r.id: r for r in df.collect()}
    assert rows["1"].age == "30" and rows["3"].email is None
    # stored meta follows: later DDL/introspection sees VARCHAR
    meta = engine.catalog.read_meta("p1", "in_c_data", "users_str")
    assert all(c["type"] == "VARCHAR" for c in meta.columns)

    # incremental string-table import onto the (previously typed) table
    # upserts on the string PK
    out = engine.import_file("p1", "in_c_data", "users_str", csv_path["v2"],
                             incremental=True,
                             import_strategy="string_table")
    rows = {r.id: r.name for r in
            engine.read_table("p1", "in_c_data", "users_str").collect()}
    assert rows == {"1": "Alice", "2": "Bobby", "3": "Carol", "4": "Dave"}

    # unknown strategy rejected
    import pytest as _pt
    from keboola_storage_duckdb_spark.catalog.catalog import CatalogError
    with _pt.raises(CatalogError):
        engine.import_file("p1", "in_c_data", "users_str", csv_path["v1"],
                           import_strategy="bogus")


def test_string_table_incremental_over_typed_rows(engine, csv_path):
    """ADVICE r6 (high): incremental STRING_TABLE import onto a table that
    already holds TYPED parquet rows must (a) not fail reading the typed
    files, (b) migrate data + meta to VARCHAR atomically — meta flips only
    after the rewrite, so a crash mid-import never leaves VARCHAR meta
    over typed parquet."""
    import pyspark.sql.types as T

    engine.create_table("p1", "in_c_data", "users_mig", USERS_COLUMNS,
                        primary_key=["id"])
    # typed rows land first (INT32 parquet pages on disk)
    engine.import_file("p1", "in_c_data", "users_mig", csv_path["v1"])
    df = engine.read_table("p1", "in_c_data", "users_mig")
    assert isinstance(df.schema["id"].dataType, T.IntegerType)

    # the r6-broken path: incremental string_table over those typed rows
    out = engine.import_file("p1", "in_c_data", "users_mig", csv_path["v2"],
                             incremental=True,
                             import_strategy="string_table")
    assert out["rows_after"] == 4
    df = engine.read_table("p1", "in_c_data", "users_mig")
    assert isinstance(df.schema["id"].dataType, T.StringType)
    rows = {r.id: (r.name, r.age) for r in df.collect()}
    assert rows == {"1": ("Alice", "30"), "2": ("Bobby", "26"),
                    "3": ("Carol", "40"), "4": ("Dave", "50")}
    meta = engine.catalog.read_meta("p1", "in_c_data", "users_mig")
    assert all(c["type"] == "VARCHAR" for c in meta.columns)

    # and every subsequent read still works (the r6 failure left the
    # table permanently broken)
    assert engine.preview("p1", "in_c_data", "users_mig", limit=10)


def test_string_table_migration_failure_leaves_table_readable(engine,
                                                              csv_path,
                                                              tmp_path):
    """If the string_table import itself fails (bad source file), the
    typed meta must survive — VARCHAR meta is persisted only after a
    successful data rewrite."""
    engine.create_table("p1", "in_c_data", "users_mig2", USERS_COLUMNS,
                        primary_key=["id"])
    engine.import_file("p1", "in_c_data", "users_mig2", csv_path["v1"])
    bad = str(tmp_path / "bad.parquet")
    with open(bad, "w") as f:
        f.write("not parquet")
    with pytest.raises(Exception):
        engine.import_file("p1", "in_c_data", "users_mig2", bad,
                           file_format="parquet", incremental=True,
                           import_strategy="string_table")
    # meta still typed, table still readable
    meta = engine.catalog.read_meta("p1", "in_c_data", "users_mig2")
    assert any(c["type"].upper() == "INTEGER" for c in meta.columns)
    assert engine.read_table("p1", "in_c_data", "users_mig2").count() == 3


def test_import_create_mode_and_import_as_null(engine, csv_path, tmp_path):
    """proto ImportOptions.CreateMode + importAsNull: CREATE materializes
    a missing table from the source schema and fails on an existing one;
    REPLACE drops and recreates; listed literals import as NULL."""
    import pytest as _pt

    from keboola_storage_duckdb_spark.catalog.catalog import (
        AlreadyExistsError)

    # CREATE on a missing table: schema inferred from the CSV sample
    out = engine.import_file("p1", "in_c_data", "users_auto",
                             csv_path["v1"], create_mode="create")
    assert out["rows_after"] == 3
    meta = engine.catalog.read_meta("p1", "in_c_data", "users_auto")
    types = {c["name"]: c["type"] for c in meta.columns}
    assert types["id"] in ("INTEGER", "BIGINT")
    assert types["name"] == "VARCHAR"

    # CREATE again (non-incremental) fails; REPLACE recreates
    with _pt.raises(AlreadyExistsError):
        engine.import_file("p1", "in_c_data", "users_auto",
                           csv_path["v1"], create_mode="create")
    out = engine.import_file("p1", "in_c_data", "users_auto",
                             csv_path["v2"], create_mode="replace")
    assert out["rows_after"] == 2

    # importAsNull: listed literal values become NULL in every column
    p = str(tmp_path / "nulls.csv")
    with open(p, "w") as f:
        f.write("id,name,email,age\n7,N/A,seven@x.com,N/A\n8,Hank,,44\n")
    engine.create_table("p1", "in_c_data", "users_nulls", USERS_COLUMNS)
    engine.import_file("p1", "in_c_data", "users_nulls", p,
                       import_as_null=["N/A"])
    rows = {r.id: r for r in
            engine.read_table("p1", "in_c_data", "users_nulls").collect()}
    assert rows[7].name is None and rows[7].age is None
    assert rows[8].name == "Hank" and rows[8].age == 44


def test_snapshot_diff_pk_and_rowset(engine, tmp_path):
    """Beyond-parity snapshot diff: PK mode classifies added / removed /
    changed / unchanged by row fingerprint (system columns excluded);
    rowset mode (no PK) reports multiset added/removed; and diffing two
    snapshots works."""
    import pandas as pd

    p = str(tmp_path / "d1.csv")
    pd.DataFrame({"id": [1, 2, 3], "name": ["a", "b", "c"]}).to_csv(
        p, index=False)
    cols = [{"name": "id", "type": "INTEGER"},
            {"name": "name", "type": "VARCHAR"}]
    engine.create_table("p1", "in_c_data", "diff_t", cols,
                        primary_key=["id"])
    engine.import_file("p1", "in_c_data", "diff_t", p, file_format="csv")
    snap1 = engine.snapshot_create("p1", "in_c_data", "diff_t", "s1")

    p2 = str(tmp_path / "d2.csv")
    # 1 unchanged, 2 changed, 3 removed (full load), 4 added
    pd.DataFrame({"id": [1, 2, 4], "name": ["a", "B", "d"]}).to_csv(
        p2, index=False)
    engine.import_file("p1", "in_c_data", "diff_t", p2, file_format="csv")

    d = engine.snapshot_diff("p1", "in_c_data", "diff_t",
                             snap1["snapshot_id"])
    assert (d["mode"], d["added"], d["removed"], d["changed"],
            d["unchanged"]) == ("primary_key", 1, 1, 1, 1)
    assert d["samples"]["added"] == [{"id": 4}]
    assert d["samples"]["removed"] == [{"id": 3}]
    assert d["samples"]["changed"] == [{"id": 2}]
    assert d["schema_drift"] == {"only_in_old": [], "only_in_new": []}

    # schema drift is reported, not silently folded into "unchanged"
    # (ADVICE r8): a column added after the snapshot shows up in
    # only_in_new while the common-column fingerprints stay comparable
    engine.add_column("p1", "in_c_data", "diff_t",
                      {"name": "extra", "type": "VARCHAR"})
    dd = engine.snapshot_diff("p1", "in_c_data", "diff_t",
                              snap1["snapshot_id"])
    assert dd["schema_drift"] == {"only_in_old": [],
                                  "only_in_new": ["extra"]}
    engine.drop_column("p1", "in_c_data", "diff_t", "extra")

    # a USER column that merely starts with '_' is data, not a system
    # column — it must surface as drift too (ADVICE r9; only the
    # engine-managed SYSTEM_COLS set is excluded)
    engine.add_column("p1", "in_c_data", "diff_t",
                      {"name": "_note", "type": "VARCHAR"})
    du = engine.snapshot_diff("p1", "in_c_data", "diff_t",
                              snap1["snapshot_id"])
    assert du["schema_drift"] == {"only_in_old": [],
                                  "only_in_new": ["_note"]}
    engine.drop_column("p1", "in_c_data", "diff_t", "_note")

    # missing/corrupt sidecar -> clean NotFoundError, not a raw IO error
    sd = engine.catalog.snapshot_dir("p1", "in_c_data", "diff_t")
    sidecar = os.path.join(sd, snap1["snapshot_id"] + ".schema.json")
    saved = open(sidecar).read()
    try:
        os.remove(sidecar)
        with pytest.raises(NotFoundError):
            engine.snapshot_diff("p1", "in_c_data", "diff_t",
                                 snap1["snapshot_id"])
    finally:
        with open(sidecar, "w") as f:
            f.write(saved)

    # snapshot-to-snapshot: diff s1 -> s2 equals the live diff above
    snap2 = engine.snapshot_create("p1", "in_c_data", "diff_t", "s2")
    d2 = engine.snapshot_diff("p1", "in_c_data", "diff_t",
                              snap1["snapshot_id"],
                              other_snapshot_id=snap2["snapshot_id"])
    assert {k: d2[k] for k in ("added", "removed", "changed",
                               "unchanged")} \
        == {k: d[k] for k in ("added", "removed", "changed", "unchanged")}

    # rowset mode: same data, no PK -> multiset counts only
    engine.create_table("p1", "in_c_data", "diff_np", cols)
    engine.import_file("p1", "in_c_data", "diff_np", p, file_format="csv")
    s = engine.snapshot_create("p1", "in_c_data", "diff_np", "s1")
    engine.import_file("p1", "in_c_data", "diff_np", p2,
                       file_format="csv")
    dn = engine.snapshot_diff("p1", "in_c_data", "diff_np",
                              s["snapshot_id"])
    assert (dn["mode"], dn["added"], dn["removed"], dn["unchanged"]) \
        == ("rowset", 2, 2, 1)
    engine.drop_table("p1", "in_c_data", "diff_t")
    engine.drop_table("p1", "in_c_data", "diff_np")


# ------------------------------------------------- SQL view namespace rules

def _id_table(eng, tmp_path, project, bucket, table, n):
    """Table ``project.bucket.table`` holding ids 1..n."""
    eng.create_table(project, bucket, table,
                     [{"name": "id", "type": "INTEGER", "nullable": False}])
    path = tmp_path / f"{project}_{bucket}_{table}.csv"
    path.write_text("id\n" + "".join(f"{i}\n" for i in range(1, n + 1)))
    eng.import_file(project, bucket, table, str(path), file_format="csv")


@pytest.fixture
def two_projects(spark, tmp_path):
    """Fresh engine: p1 has in_c_b_secret (3 rows) and in_c_b_t (2 rows),
    p2 has in_c_b_t (5 rows); workspace w1 holds obj (p1's secret)."""
    eng = StorageEngine(spark, str(tmp_path / "wh"))
    for p in ("p1", "p2"):
        eng.create_project(p)
        eng.create_bucket(p, "in_c_b")
    _id_table(eng, tmp_path, "p1", "in_c_b", "secret", 3)
    _id_table(eng, tmp_path, "p1", "in_c_b", "t", 2)
    _id_table(eng, tmp_path, "p2", "in_c_b", "t", 5)
    eng.create_workspace("w1")
    eng.create_workspace("w2")
    eng.load_table_to_workspace("w1", "p1", "in_c_b", "secret", "obj")
    return eng


def _count(eng, project, name, workspace=None):
    return eng.execute_query(project, f"SELECT COUNT(*) AS n FROM {name}",
                             workspace=workspace)[0]["n"]


def test_project_switch_evicts_previous_project_views(two_projects):
    """A project only resolves its own tables: p1's views are dropped
    when p2 registers, so p2 cannot read p1's in_c_b_secret."""
    eng = two_projects
    assert _count(eng, "p1", "in_c_b_secret") == 3
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        _count(eng, "p2", "in_c_b_secret")
    assert _count(eng, "p2", "in_c_b_t") == 5
    assert _count(eng, "p1", "in_c_b_t") == 2


def test_workspace_switch_evicts_previous_workspace_views(two_projects):
    eng = two_projects
    assert _count(eng, "p1", "obj", workspace="w1") == 3
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        _count(eng, "p1", "obj", workspace="w2")
    assert _count(eng, "p1", "obj", workspace="w1") == 3


def test_dropped_workspace_object_is_not_found(two_projects):
    """After the object's files are gone the next statement fails at
    analysis (not found), not at run time with FAILED_READ_FILE."""
    eng = two_projects
    assert _count(eng, "p1", "obj", workspace="w1") == 3
    eng.drop_workspace_object("w1", "obj")
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        _count(eng, "p1", "obj", workspace="w1")


def test_project_table_wins_over_workspace_object(two_projects):
    """A workspace object named like a project view resolves to the
    project table, and to the object under a project without that
    table — across project switches in both directions."""
    eng = two_projects
    eng.load_table_to_workspace("w1", "p2", "in_c_b", "t", "in_c_b_secret")
    assert _count(eng, "p1", "in_c_b_secret", workspace="w1") == 3
    assert _count(eng, "p2", "in_c_b_secret", workspace="w1") == 5
    assert _count(eng, "p1", "in_c_b_secret", workspace="w1") == 3
    assert "in_c_b_secret" not in eng.register_workspace_views("w1")


def test_concurrent_queries_resolve_their_own_project(two_projects):
    """Registration and analysis are atomic: threads on two projects
    whose in_c_b_t differ (more threads than cores, fast thread
    switching) never see each other's table."""
    eng = two_projects
    want = {"p1": 2, "p2": 5}
    projects = [p for _ in range((os.cpu_count() or 2) // 2 + 1)
                for p in want]
    seen = [[] for _ in projects]
    errors = []
    start = threading.Barrier(len(projects))

    def run(i):
        try:
            start.wait()
            for _ in range(50):
                seen[i].append(_count(eng, projects[i], "in_c_b_t"))
        except Exception as e:           # surfaced by the assert below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run, args=(i,))
                   for i in range(len(projects))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    for p, got in zip(projects, seen):
        assert got == [want[p]] * 50, (p, got)


def test_engines_sharing_a_session_resolve_their_own_tables(spark,
                                                            tmp_path):
    """Temp views are per Spark session, not per engine: two engines
    over different warehouses on one session, each with p1.in_c_b.t,
    never serve each other's table from a cache hit."""
    engines = {}
    for n in (2, 4):
        eng = StorageEngine(spark, str(tmp_path / f"wh{n}"))
        eng.create_project("p1")
        eng.create_bucket("p1", "in_c_b")
        _id_table(eng, tmp_path, "p1", "in_c_b", "t", n)
        engines[n] = eng
    for _ in range(2):
        for n, eng in engines.items():
            assert _count(eng, "p1", "in_c_b_t") == n


def test_operations_log_tail_matches_full_read(spark, tmp_path, monkeypatch):
    """The backwards tail read returns exactly what reading every line
    and slicing the tail returned, on a log several read blocks long
    with records longer than a block."""
    from keboola_storage_duckdb_spark import engine as engine_mod

    eng = StorageEngine(spark, str(tmp_path / "whl"))
    monkeypatch.setattr(engine_mod, "_OPS_TAIL_BLOCK", 256)
    with open(eng._ops_log_path, "a") as f:
        for i in range(300):
            f.write(json.dumps({"op": "x", "i": i,
                                "pad": "p" * (i % 7 * 97)}) + "\n")
    with open(eng._ops_log_path) as f:
        lines = f.readlines()
    assert os.path.getsize(eng._ops_log_path) > 20 * 256
    for limit in (1, 2, 3, 17, 100, len(lines) - 1, len(lines),
                  len(lines) + 5):
        assert eng.operations_log(limit) == \
            [json.loads(x) for x in lines[-limit:]], limit
    assert eng.operations_log(0) == []
