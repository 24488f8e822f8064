"""Ingest pipeline: fail-the-file atomicity (the reference's transaction-
per-file, etl/app.py:162) over a staged batch, routing, xlsx plumbing
with an injected parser, and partitioned fact writes with pruning."""

from __future__ import annotations

import io

import pandas as pd
import pytest
from pyspark.sql import functions as F

from datawarehouse1_spark.operators.ingest import (
    append_if_valid,
    stage_batch,
    staging_counts,
    validate_batch,
    with_month_partition,
)
from datawarehouse1_spark.sources.excel import (
    MissingColumnsError,
    read_xlsx_dir,
    route_table,
    validate_required_columns,
)


@pytest.fixture()
def good_batch(spark):
    return spark.createDataFrame(
        [("P1", "USB", 10), ("P2", "HDMI", 5)],
        "produit_id string, nom string, stock int",
    )


def _stage_and_append(tmp_path, batch, path, key, not_null, source_file):
    rows, staged = stage_batch(
        batch, str(tmp_path / "_staging"), "batch-0", staging_counts(not_null)
    )
    return append_if_valid(rows, path, key, not_null, source_file, staged)


def test_valid_batch_appends(tmp_path, spark, good_batch):
    path = str(tmp_path / "produits")
    res = _stage_and_append(
        tmp_path, good_batch, path, "produit_id", ["produit_id", "nom"], "produits.xlsx"
    )
    assert res.status == "success" and res.n_rows == 2
    assert sorted(r.produit_id for r in spark.read.parquet(path).collect()) == ["P1", "P2"]


def test_invalid_batch_writes_nothing(tmp_path, spark, good_batch):
    # inject a duplicate business key -> whole file must be rejected
    bad = good_batch.unionByName(
        spark.createDataFrame([("P1", "USB-C", 1)], "produit_id string, nom string, stock int")
    )
    path = str(tmp_path / "produits")
    res = _stage_and_append(
        tmp_path, bad, path, "produit_id", ["produit_id", "nom"], "produits_v2.xlsx"
    )
    assert res.status == "error" and "duplicate business keys" in res.errors[0]
    import os

    assert not os.path.exists(path)  # nothing written — atomicity held


def test_unique_against_existing(spark, good_batch):
    existing = spark.createDataFrame([("P2",)], "produit_id string")
    errors = validate_batch(good_batch, "produit_id", ["produit_id"], existing=existing)
    assert any("already present" in e for e in errors)


def test_fk_check_blocks_orphans(spark):
    ventes = spark.createDataFrame(
        [("V1", "C1"), ("V2", "C9")], "vente_id string, client_id string"
    )
    clients = spark.createDataFrame([("C1",)], "client_id string")
    errors = validate_batch(
        ventes, "vente_id", ["vente_id"], fk_checks=[(clients, "client_id", "client_id")]
    )
    assert any("orphan" in e for e in errors)


def test_routing_matches_reference_dispatch():
    # etl/app.py:235-246 + lock-file rule :262-263
    assert route_table("clients.xlsx") == "clients"
    assert route_table("CLIENTS_v2.xlsx") == "clients"
    assert route_table("produits.xlsx") == "produits"
    assert route_table("ventes_avril.xlsx") == "ventes"
    assert route_table("inventaire.xlsx") is None
    assert route_table("~$clients.xlsx") is None


def test_required_columns_guard():
    pdf = pd.DataFrame({"produit_id": ["P1"], "nom": ["USB "]})
    validate_required_columns(pdf, ["produit_id", "nom"])
    with pytest.raises(MissingColumnsError):
        validate_required_columns(pdf, ["produit_id", "nom", "prix_unitaire"])


def test_xlsx_source_plumbing(tmp_path, spark):
    """binaryFile -> mapInPandas parse with an injected csv 'parser'
    (openpyxl-free): schema projection, lineage columns, lock-file skip,
    and the phantom 7th column drop (produits.xlsx quirk)."""
    (tmp_path / "produits.xlsx").write_bytes(b"produit_id,nom,extra\nP1,USB ,junk\nP2,HDMI,junk")
    (tmp_path / "~$produits.xlsx").write_bytes(b"lockfile-noise")

    def csv_parser(name: str, data: bytes) -> pd.DataFrame:
        return pd.read_csv(io.BytesIO(data))

    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField("produit_id", StringType()), StructField("nom", StringType())])
    out = read_xlsx_dir(spark, str(tmp_path), schema, parser=csv_parser).collect()
    assert sorted(r.produit_id for r in out) == ["P1", "P2"]
    assert all(r.source_file == "produits.xlsx" for r in out)
    assert "extra" not in out[0].asDict()  # projected to declared schema
    assert out[0].imported_at is not None


def test_month_partitioned_fact_prunes(tmp_path, spark):
    from datawarehouse1_spark.catalog import table

    orders = table(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "orders_fact")
    with_month_partition(orders, "o_orderdate").write.partitionBy("month").parquet(path)
    back = spark.read.parquet(path)
    pruned = back.filter(F.col("month") == "1997-03")
    plan = pruned.explain(True) or pruned._jdf.queryExecution().toString()
    n = pruned.count()
    expected = orders.filter(
        (F.col("o_orderdate") >= "1997-03-01") & (F.col("o_orderdate") < "1997-04-01")
    ).count()
    assert n == expected > 0


def test_compact_table_refuses_a_file_published_during_it(
    spark, tmp_path, monkeypatch
):
    """A part file published into the table after compaction read it
    (a streaming sink's commit) is not in the compacted copy; the swap
    would delete it. Compaction must refuse loudly instead: the table
    keeps every row, and no staging directory is left behind."""
    import shutil as _shutil
    from pathlib import Path

    from pyspark.sql.readwriter import DataFrameWriter

    from datawarehouse1_spark.operators.scale import compact_table

    path = str(tmp_path / "frag_live")
    for i in range(3):
        spark.createDataFrame(
            [(10 * i + j, f"v{j}") for j in range(10)], "k long, v string"
        ).coalesce(1).write.mode("append").parquet(path)

    real_parquet = DataFrameWriter.parquet

    def write_then_publish(self, target, *args, **kwargs):
        real_parquet(self, target, *args, **kwargs)
        if target.endswith("__compacting"):
            batch = str(tmp_path / "batch")
            spark.createDataFrame(
                [(30 + j, f"v{j}") for j in range(10)], "k long, v string"
            ).coalesce(1).write.parquet(batch)
            part = next(Path(batch).glob("part-*.parquet"))
            _shutil.move(str(part), f"{path}/published-0000000003.parquet")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_publish)
    with pytest.raises(RuntimeError, match="published-0000000003.parquet"):
        compact_table(spark, path, target_file_bytes=10 * 1024 * 1024)
    monkeypatch.undo()

    assert spark.read.parquet(path).count() == 40
    assert not Path(f"{path}__compacting").exists()
