"""Source/sink tests (SURVEY.md §2.1): partitioned CSV round-trip with
partition pruning, warehouse append vs idempotent upsert, surrogate keys,
config-driven source registry."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from etl_housing_spark.sources.partitioned_csv import (
    read_partitioned_csv,
    write_partitioned_csv,
)
from etl_housing_spark.sources.registry import SourceRegistry, SourceSpec
from etl_housing_spark.sources.warehouse import ParquetWarehouse, with_surrogate_key

LISTINGS = [
    ("a1", 800, "austin", "2020-05-01"),
    ("a2", 900, "austin", "2020-05-01"),
    ("a3", 950, "austin", "2020-05-02"),
    ("b1", 700, "boston", "2020-05-01"),
]
SCHEMA = "name string, price int, city string, date string"


def _listings(spark):
    return spark.createDataFrame(LISTINGS, SCHEMA)


def test_partitioned_csv_roundtrip_and_pruning(spark, tmp_path):
    path = str(tmp_path / "daily_scrape")
    write_partitioned_csv(_listings(spark), path, ["city", "date"])
    back = read_partitioned_csv(spark, path, "name string, price int")
    # partition discovery type-infers date dirs as DateType; compare as string
    got = back.select("name", "price", "city", F.col("date").cast("string").alias("date"))
    assert sorted(tuple(r) for r in got.collect()) == sorted(LISTINGS)
    # partition pruning: the filter must land in PartitionFilters, not data scan
    pruned = back.filter(F.col("city") == "austin")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "austin" in plan
    assert pruned.count() == 3


def test_warehouse_append_vs_upsert(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    df = with_surrogate_key(_listings(spark), ["name", "city", "date"])
    wh.write(df, "apartments")
    # append is the reference's non-idempotent to_sql(if_exists='append')
    wh.append(df, "apartments")
    assert wh.read("apartments").count() == 8
    # upsert collapses back to one row per key and is idempotent
    wh.upsert(df, "apartments", ["row_key"])
    assert wh.read("apartments").count() == 4
    wh.upsert(df, "apartments", ["row_key"])
    assert wh.read("apartments").count() == 4


def test_upsert_updates_changed_rows(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh2"))
    df = with_surrogate_key(_listings(spark), ["name"])
    wh.write(df, "t")
    updated = with_surrogate_key(
        spark.createDataFrame([("a1", 999, "austin", "2020-05-03")], SCHEMA), ["name"]
    )
    wh.upsert(updated, "t", ["row_key"])
    out = wh.read("t")
    assert out.count() == 4
    assert out.filter(F.col("name") == "a1").first().price == 999


def test_surrogate_key_deterministic(spark):
    df = _listings(spark)
    k1 = {r.name: r.row_key for r in with_surrogate_key(df, ["name", "city"]).collect()}
    k2 = {r.name: r.row_key for r in with_surrogate_key(df, ["name", "city"]).collect()}
    assert k1 == k2 and len(set(k1.values())) == 4


def test_source_registry_config_and_records(spark, tmp_path):
    csv_dir = str(tmp_path / "flat")
    _listings(spark).coalesce(1).write.option("header", True).mode("overwrite").csv(csv_dir)
    cfg = {"rentals_csv": {"kind": "csv", "location": csv_dir, "schema": SCHEMA}}
    cfg_path = tmp_path / "data_config.json"
    cfg_path.write_text(json.dumps(cfg))

    reg = SourceRegistry.from_config(str(cfg_path))
    assert reg.names() == ["rentals_csv"]
    assert reg.read(spark, "rentals_csv").count() == 4

    # API-payload shape (advanced.ipynb cell 5): records registered in memory
    reg.register_records("api_records", [{"id": 1, "v": "x"}, {"id": 2, "v": "y"}], "id long, v string")
    assert reg.read(spark, "api_records").count() == 2

    # parquet kind dispatch
    pq_dir = str(tmp_path / "pq")
    _listings(spark).write.parquet(pq_dir)
    reg.register("pq", SourceSpec(kind="parquet", location=pq_dir))
    assert reg.read(spark, "pq").count() == 4


def _scd2_state(df):
    return {
        (r.k, r.seg, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in df.collect()
    }


def test_scd2_merge_three_paths_and_idempotence(spark):
    from etl_housing_spark.sources.warehouse import scd2_merge

    current = spark.createDataFrame(
        [
            (1, "A", "2020-01-01 00:00:00", None, True),   # will change → close + reopen
            (2, "B", "2020-01-01 00:00:00", None, True),   # update equals current → untouched
            (3, "C", "2019-01-01 00:00:00", "2020-01-01 00:00:00", False),  # archive row → untouched
            (3, "D", "2020-01-01 00:00:00", None, True),   # open version of key 3, no update → untouched
        ],
        "k long, seg string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "k", "seg",
        "cast(valid_from as timestamp_ntz) valid_from",
        "cast(valid_to as timestamp_ntz) valid_to",
        "is_current",
    )
    updates = spark.createDataFrame(
        [(1, "Z"), (2, "B"), (9, "N")], "k long, seg string"
    )
    eff = "2024-06-01 00:00:00"
    merged = scd2_merge(current, updates, ["k"], ["seg"], eff)
    assert _scd2_state(merged) == {
        (1, "A", "2020-01-01 00:00:00", eff, False),      # closed
        (1, "Z", eff, "None", True),                      # reopened with new value
        (2, "B", "2020-01-01 00:00:00", "None", True),    # unchanged update → untouched
        (3, "C", "2019-01-01 00:00:00", "2020-01-01 00:00:00", False),  # archive preserved
        (3, "D", "2020-01-01 00:00:00", "None", True),
        (9, "N", eff, "None", True),                      # new key inserted
    }

    # re-merging the same snapshot is a no-op: every update now matches the
    # open version, so nothing closes and nothing inserts
    again = scd2_merge(merged, updates, ["k"], ["seg"], "2025-01-01 00:00:00")
    assert _scd2_state(again) == _scd2_state(merged)


def test_scd2_merge_duplicate_update_keys(spark):
    """A snapshot carrying the same key twice must not multiply history rows
    (closing_keys is distinct, updates deduped on key)."""
    from etl_housing_spark.sources.warehouse import scd2_merge

    current = spark.createDataFrame(
        [(1, "A", "2020-01-01 00:00:00", None, True)],
        "k long, seg string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "k", "seg",
        "cast(valid_from as timestamp_ntz) valid_from",
        "cast(valid_to as timestamp_ntz) valid_to",
        "is_current",
    )
    updates = spark.createDataFrame([(1, "Z"), (1, "Z"), (9, "N"), (9, "N")], "k long, seg string")
    eff = "2024-06-01 00:00:00"
    merged = scd2_merge(current, updates, ["k"], ["seg"], eff)
    assert _scd2_state(merged) == {
        (1, "A", "2020-01-01 00:00:00", eff, False),
        (1, "Z", eff, "None", True),
        (9, "N", eff, "None", True),
    }


def test_upsert_staged_swap_no_leftovers(spark, tmp_path):
    """Upsert rewrites through a staging sibling + rename: the table directory
    must exist and be readable at the end, with no .staging-*/.old-* debris —
    the overwrite never reads files that are being deleted."""
    import os

    root = tmp_path / "wh3"
    wh = ParquetWarehouse(spark, str(root))
    df = with_surrogate_key(_listings(spark), ["name"])
    wh.write(df, "t")
    wh.upsert(df, "t", ["row_key"])
    assert wh.read("t").count() == 4
    siblings = [p for p in os.listdir(root) if p != "t"]
    assert siblings == [], f"staging/old debris left behind: {siblings}"


def test_failed_upsert_keeps_table_and_leaves_no_staging(spark, tmp_path):
    """An upsert whose write fails raises, leaves the table readable with
    its old rows, and removes its staging sibling."""
    import os

    import pytest

    root = tmp_path / "wh4"
    wh = ParquetWarehouse(spark, str(root))
    df = with_surrogate_key(_listings(spark), ["name"])
    wh.write(df, "t")
    before = sorted(tuple(r) for r in wh.read("t").collect())
    bad = df.withColumn("price", F.raise_error(F.lit("boom")).cast(df.schema["price"].dataType))
    with pytest.raises(Exception, match="boom"):
        wh.upsert(bad, "t", ["row_key"])
    assert sorted(tuple(r) for r in wh.read("t").collect()) == before
    siblings = [p for p in os.listdir(root) if p != "t"]
    assert siblings == [], f"staging/old debris left behind: {siblings}"


def test_compact_table_staged_swap(spark, tmp_path):
    from etl_housing_spark.sources.warehouse import compact_table

    import os

    path = str(tmp_path / "frag")
    _listings(spark).repartition(8).write.parquet(path)
    n_files = compact_table(spark, path, target_rows_per_file=2)
    assert n_files == 2
    assert spark.read.parquet(path).count() == 4
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 2
    debris = [p for p in os.listdir(tmp_path) if ".staging-" in p or ".old-" in p]
    assert debris == []


def test_write_training_shards_layout_and_determinism(spark, tmp_path):
    import os

    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.sampling import deterministic_split
    from etl_housing_spark.sources.warehouse import write_training_shards

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text", "source")
    df = deterministic_split(docs, ["doc_id"])
    p1, p2 = str(tmp_path / "shards1"), str(tmp_path / "shards2")
    counts1 = write_training_shards(df, p1, num_shards=4)
    counts2 = write_training_shards(df, p2, num_shards=4)
    assert counts1 == counts2 and sum(counts1.values()) == docs.count()
    # directory layout: split=*/shard=* both levels present
    splits = [d for d in os.listdir(p1) if d.startswith("split=")]
    assert splits
    shards = [d for d in os.listdir(os.path.join(p1, splits[0])) if d.startswith("shard=")]
    assert shards
    # deterministic shard assignment: identical (doc_id → shard) maps
    r1 = spark.read.parquet(p1).select("doc_id", "shard")
    r2 = spark.read.parquet(p2).select("doc_id", "shard")
    assert r1.exceptAll(r2).count() == 0 and r2.exceptAll(r1).count() == 0
    # partition pruning reaches the reader
    pruned = spark.read.parquet(p1).filter("split = 'train' AND shard = 1")
    assert pruned.count() == r1.count() - spark.read.parquet(p1).filter(
        "NOT (split = 'train' AND shard = 1)"
    ).count()


def test_jsonl_roundtrip_pruning_and_corrupt_line(spark, tmp_path):
    from etl_housing_spark.sources.formats import read_jsonl, write_jsonl

    path = str(tmp_path / "corpus_jsonl")
    write_jsonl(_listings(spark), path, partition_cols=["city"])
    back = read_jsonl(spark, path, "name STRING, price INT, date STRING", base_path=path)
    got = back.select("name", "price", "city", "date")
    assert sorted(tuple(r) for r in got.collect()) == sorted(LISTINGS)
    # partition pruning applies to the JSONL tree exactly as to CSV/parquet
    pruned = back.filter(F.col("city") == "austin")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "austin" in plan
    # a corrupt line in a third-party dump nulls fields, never kills the scan
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-0.json"), "w") as fh:
        fh.write('{"name": "ok", "price": 5, "date": "2024-01-01"}\n')
        fh.write("NOT JSON AT ALL{{{\n")
    rows = read_jsonl(spark, bad, "name STRING, price INT, date STRING").collect()
    names = {r.name for r in rows}
    assert len(rows) == 2 and names == {"ok", None}


def test_orc_roundtrip_pushdown(spark, tmp_path):
    from etl_housing_spark.sources.formats import read_orc, write_orc

    path = str(tmp_path / "archive_orc")
    write_orc(_listings(spark), path)
    back = read_orc(spark, path, "name STRING, price INT, city STRING, date STRING")
    assert sorted(tuple(r) for r in back.collect()) == sorted(LISTINGS)
    # ORC supports predicate pushdown to the stripe reader
    plan = back.filter(F.col("price") > 1000)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "price" in plan


def test_sqlite_jdbc_reference_schema(spark, tmp_path):
    """SQLite-JDBC drop-in (README "SQLite drop-in"): the reference's exact
    ``apartments`` DDL (load_save_sql.ipynb / housing.db sqlite_master)
    round-trips through read_jdbc/write_jdbc with projection+predicate
    pushdown.  Runs only when a sqlite-jdbc jar is on the classpath — this
    container ships none, so the embedded-Derby twin
    (test_scale_techniques.py::test_jdbc_roundtrip_with_pushdown) carries
    the always-on JDBC coverage."""
    import pytest

    from etl_housing_spark.sources.warehouse import (
        jdbc_available,
        read_jdbc,
        write_jdbc,
    )

    if not jdbc_available(spark, "org.sqlite.JDBC"):
        pytest.skip("sqlite-jdbc jar not on the Spark classpath")

    url = f"jdbc:sqlite:{tmp_path}/housing.db"
    # the reference schema, TEXT-typed fields and all (housing.db:apartments)
    rows = [
        (1, "The Arnold", "1621 E 6th St", "A1", "650", "1", "1",
         "$1,500", "Austin", "TX", 78702, "desc", "details", "http://x"),
    ]
    ddl = ("apt_id int, name string, address string, unit string, sqft string, "
           "bed string, bath string, price string, city string, state string, "
           "zip_code int, description string, details string, url string")
    df = spark.createDataFrame(rows, ddl)
    write_jdbc(df, url, "apartments", mode="overwrite", driver="org.sqlite.JDBC")
    back = read_jdbc(spark, url, "apartments", driver="org.sqlite.JDBC")
    assert back.count() == 1
    q = back.select("name", "price").filter(F.col("zip_code") == 78702)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "zip_code" in plan
    assert q.collect()[0]["price"] == "$1,500"
    # the reference's non-idempotent append (if_exists='append')
    write_jdbc(df, url, "apartments", mode="append", driver="org.sqlite.JDBC")
    assert read_jdbc(spark, url, "apartments", driver="org.sqlite.JDBC").count() == 2


def test_compact_files_hits_computed_target(spark, tmp_path):
    """Compaction contract: the fragmented copy really is 64 files, the
    rewrite lands exactly ceil(bytes/128MiB) files (1 at fixture scale),
    and no row is lost or duplicated."""
    import glob
    import os

    from etl_housing_spark.plans import all_queries
    from tests.conftest import SF_SMOKE

    docs_n = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    out = all_queries()["q_compact_files"].fn(spark, SF_SMOKE)
    files = {
        os.path.dirname(f).removeprefix("file://").removeprefix("file:")
        for f in out.inputFiles()
    }
    assert len(files) == 1
    compacted = glob.glob(os.path.join(files.pop(), "*.parquet"))
    assert len(compacted) == 1  # fixture bytes << 128 MiB target
    assert out.count() == docs_n
    assert out.select("doc_id").distinct().count() == docs_n


def test_compact_partitioned_table_preserves_layout_and_values(spark, tmp_path):
    """Partition-preserving compaction: a partitioned dir accreted to
    several files per partition (append-mode batches) compacts back to
    ONE file per partition directory, keeps the directory layout (the
    pruning contract), and moves bytes, never values."""
    import os

    from pyspark.sql import functions as F

    from etl_housing_spark.sources.warehouse import compact_partitioned_table

    path = str(tmp_path / "part_tbl")
    base = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("p"), (F.col("id") * 2).alias("val")
    )
    base.repartition("p").write.mode("overwrite").partitionBy("p").parquet(path)
    # a second "batch" append — every partition dir now holds 2+ files
    extra = spark.range(100, 140).select(
        F.col("id"), (F.col("id") % 5).alias("p"), (F.col("id") * 2).alias("val")
    )
    extra.repartition("p").write.mode("append").partitionBy("p").parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    multi = [
        d
        for d in os.listdir(path)
        if d.startswith("p=")
        and len([f for f in os.listdir(f"{path}/{d}") if f.endswith(".parquet")]) > 1
    ]
    assert multi, "fixture failed to accrete multiple files per partition"
    n_dirs = compact_partitioned_table(spark, path, "p")
    assert n_dirs == 5
    for d in os.listdir(path):
        if d.startswith("p="):
            files = [f for f in os.listdir(f"{path}/{d}") if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert before == after
