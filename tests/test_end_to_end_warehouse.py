"""The reference's full lifecycle (SURVEY.md §3 E1+E2+E3) end-to-end on
Spark: bootstrap warehouse tables -> ingest reference-shaped files with
every §5.2 data quirk -> serve the star-join analytics the warehouse
exists for. A user of the reference switching to this engine runs
exactly this path."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from datawarehouse1_spark.functions.excel_serial import excel_serial_to_timestamp
from datawarehouse1_spark.operators.ingest import (
    append_if_valid,
    ingest_with_quarantine,
    stage_batch,
    staging_counts,
)
from datawarehouse1_spark.operators.warehouse import dedup_keep_latest


@pytest.fixture()
def warehouse(spark, tmp_path):
    """E2: ingest clients/produits/ventes batches carrying the reference
    sample-data quirks (content dupes, whitespace, Excel serial dates,
    an FK orphan)."""
    paths = {t: str(tmp_path / t) for t in ("clients", "produits", "ventes")}

    def stage_and_append(batch, table, key, not_null, source_file):
        rows, staged = stage_batch(
            batch, str(tmp_path / "_staging" / table), table, staging_counts(not_null)
        )
        return append_if_valid(rows, paths[table], key, not_null, source_file, staged)

    clients = spark.createDataFrame(
        [
            ("CLI001", "Dupont", "Jean", " 1 rue de Paris, Paris"),
            ("CLI002", "Martin", "Anne", "2 av Foch, Lyon"),
            ("CLI003", "Dupont", "Jean", " 1 rue de Paris, Paris"),  # content dup
        ],
        "client_id string, nom string, prenom string, adresse string",
    )
    res = stage_and_append(clients, "clients", "client_id", ["client_id", "nom"], "clients.xlsx")
    assert res.status == "success"

    produits = spark.createDataFrame(
        [("PRO001", "USB ", "10.50"), ("PRO002", "HDMI", "25.00")],
        "produit_id string, nom string, prix_unitaire string",
    )
    res = stage_and_append(
        produits, "produits", "produit_id", ["produit_id", "nom"], "produits.xlsx"
    )
    assert res.status == "success"

    # ventes arrive with Excel serial dates and one FK orphan (CLI999)
    ventes = spark.createDataFrame(
        [
            ("VNT001", "CLI001", "PRO001", 2, "10000", 45787.604166666664),
            ("VNT002", "CLI002", "PRO002", 1, "25.00", 45788.5),
            ("VNT003", "CLI999", "PRO001", 1, "10.50", 45789.0),  # orphan
        ],
        "vente_id string, client_id string, produit_id string, quantite int,"
        " prix_total string, date_serial double",
    )
    res = ingest_with_quarantine(
        ventes,
        paths["ventes"],
        str(tmp_path / "quarantine"),
        "vente_id",
        ["vente_id", "client_id"],
        source_file="ventes.xlsx",
        fk_checks=[
            (spark.read.parquet(paths["clients"]), "client_id", "client_id"),
            (spark.read.parquet(paths["produits"]), "produit_id", "produit_id"),
        ],
    )
    assert res.status == "partial" and res.n_rows == 2  # orphan quarantined
    return spark, paths, str(tmp_path / "quarantine")


def test_lifecycle_analytics_over_ingested_warehouse(warehouse):
    spark, paths, qpath = warehouse
    clients = dedup_keep_latest(
        spark.read.parquet(paths["clients"]), ["client_id"], ["client_id"]
    )
    ventes = spark.read.parquet(paths["ventes"]).select(
        "vente_id",
        "client_id",
        "produit_id",
        "quantite",
        F.col("prix_total").cast("decimal(10,2)").alias("prix_total"),  # O6 coercion
        excel_serial_to_timestamp("date_serial").alias("date_vente"),  # C18
    )

    # E3: revenue per client (fact join dim, money agg, trimmed names)
    out = (
        ventes.join(F.broadcast(clients), "client_id")
        .groupBy("client_id", F.trim("adresse").alias("adresse"))
        .agg(F.sum("prix_total").alias("revenue"), F.count(F.lit(1)).alias("n_ventes"))
        .orderBy("client_id")
        .collect()
    )
    got = {r.client_id: (r.revenue, r.n_ventes, r.adresse) for r in out}
    assert got["CLI001"] == (Decimal("10000.00"), 1, "1 rue de Paris, Paris")
    assert got["CLI002"] == (Decimal("25.00"), 1, "2 av Foch, Lyon")
    assert "CLI999" not in got  # orphan never entered the warehouse

    # C18: the reference's canonical serial date decodes exactly
    d = {r.vente_id: r.date_vente for r in ventes.collect()}
    assert str(d["VNT001"]) == "2025-05-10 14:30:00"

    # quarantine audit trail holds the orphan with its reason
    q = spark.read.parquet(qpath).collect()
    assert [r.vente_id for r in q] == ["VNT003"]
    assert q[0].quarantine_reasons == ["fk_orphan:client_id"]
