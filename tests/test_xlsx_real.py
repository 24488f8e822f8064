"""Real xlsx bytes end-to-end: the vendored stdlib reader
(sources/xlsx_mini.py) against the reference's own data/excel files —
actual Excel-produced zip+XML, not synthesized fixtures.

Covers the reference's documented data quirks (SURVEY.md §5.2): the
CLI001/CLI003 full-content duplicate, leading/trailing significant
spaces (xml:space='preserve'), the Excel-serial date_vente float, and
the `~$` lock-file skip in the distributed read_xlsx_dir path.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from datawarehouse1_spark.sources.excel import read_xlsx_dir
from datawarehouse1_spark.sources.xlsx_mini import parse_xlsx_bytes

REF_XLSX = Path("/root/reference/data/excel")

pytestmark = pytest.mark.skipif(
    not REF_XLSX.exists(), reason="reference xlsx fixtures not present"
)


def _bytes(name: str) -> bytes:
    return (REF_XLSX / name).read_bytes()


def test_clients_parse_and_content_duplicate():
    df = parse_xlsx_bytes(_bytes("clients.xlsx"))
    assert df.columns.tolist() == [
        "client_id", "nom", "prenom", "email", "telephone", "adresse",
    ]
    assert len(df) == 3
    # CLI003 duplicates CLI001's content under a different id (O13)
    c1 = df[df.client_id == "CLI001"].drop(columns=["client_id"]).iloc[0]
    c3 = df[df.client_id == "CLI003"].drop(columns=["client_id"]).iloc[0]
    assert c1.tolist() == c3.tolist()
    # leading space in adresse survives (xml:space='preserve' honored)
    assert df.adresse.iloc[0].startswith(" ")
    # telephone is numeric-looking; C17's pipeline casts — here it parses
    # as the number Excel stored (no leading zeros in the sample)
    assert int(df.telephone.iloc[0]) == 612345678


def test_produits_parse_trailing_space():
    df = parse_xlsx_bytes(_bytes("produits.xlsx"))
    assert "nom" in df.columns and len(df) == 2
    assert df.nom.iloc[0] == "USB "  # trailing space is significant


def test_ventes_parse_serial_date():
    df = parse_xlsx_bytes(_bytes("ventes.xlsx"))
    assert len(df) == 1
    serial = float(df.date_vente.iloc[0])
    # 45787.604166... == 2025-05-10 14:30:00 on the 1899-12-30 epoch
    assert abs(serial - 45787.604166666664) < 1e-9
    from datetime import datetime, timedelta

    ts = datetime(1899, 12, 30) + timedelta(seconds=round(serial * 86400))
    assert ts == datetime(2025, 5, 10, 14, 30, 0)


def test_read_xlsx_dir_end_to_end_real_bytes(tmp_path, spark):
    """The full distributed path — binaryFile -> mapInPandas -> stdlib
    parse -> schema projection + lineage — on the reference's real files,
    lock files present and skipped."""
    for name in (
        "clients.xlsx", "produits.xlsx", "ventes.xlsx",
        "~$clients.xlsx", "~$produits.xlsx", "~$ventes.xlsx",
    ):
        shutil.copyfile(REF_XLSX / name, tmp_path / name)

    schema = StructType(
        [
            StructField("vente_id", StringType()),
            StructField("client_id", StringType()),
            StructField("produit_id", StringType()),
            StructField("quantite", IntegerType()),
            StructField("prix_total", DoubleType()),
            StructField("date_vente", DoubleType()),
        ]
    )
    out = read_xlsx_dir(
        spark, str(tmp_path), schema, glob="vente*.xlsx"
    ).collect()
    assert len(out) == 1  # one data row; the ~$ lock file never parsed
    row = out[0]
    assert row.vente_id == "VNT001" and row.client_id == "CLI001"
    assert row.quantite == 2 and row.prix_total == 10000.0
    assert row.source_file == "ventes.xlsx"


def test_read_xlsx_dir_routes_all_three_tables(tmp_path, spark):
    """All three reference files scanned together route to their tables
    by filename (O3) with lock files skipped by the default glob."""
    for name in ("clients.xlsx", "produits.xlsx", "ventes.xlsx", "~$clients.xlsx"):
        shutil.copyfile(REF_XLSX / name, tmp_path / name)

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "[!~]*.xlsx")
        .load(str(tmp_path))
    )
    from datawarehouse1_spark.sources.excel import route_column

    routed = binary.select(
        F.element_at(F.split("path", "/"), -1).alias("source_file")
    ).withColumn("target", route_column("source_file"))
    got = {r.source_file: r.target for r in routed.collect()}
    assert got == {
        "clients.xlsx": "clients",
        "produits.xlsx": "produits",
        "ventes.xlsx": "ventes",
    }


def test_streaming_xlsx_ingest_real_bytes(tmp_path, spark):
    """The reference's ACTUAL pipeline, Spark-native end-to-end: watch a
    directory, stream in real xlsx bytes (stdlib parse in-task),
    validate-then-append to the warehouse table, lock files skipped,
    already-seen files not re-ingested on the next batch."""
    from datawarehouse1_spark.streaming.file_ingest import (
        IngestSink,
        stream_ingest,
    )

    watch = tmp_path / "incoming"
    watch.mkdir()
    shutil.copyfile(REF_XLSX / "ventes.xlsx", watch / "ventes.xlsx")
    shutil.copyfile(REF_XLSX / "~$ventes.xlsx", watch / "~$ventes.xlsx")

    schema = StructType(
        [
            StructField("vente_id", StringType()),
            StructField("client_id", StringType()),
            StructField("produit_id", StringType()),
            StructField("quantite", IntegerType()),
            StructField("prix_total", DoubleType()),
            StructField("date_vente", DoubleType()),
        ]
    )
    table_path = str(tmp_path / "warehouse" / "ventes")
    q = stream_ingest(
        spark,
        str(watch),
        schema,
        IngestSink(table_path, "vente_id", ["vente_id", "client_id"]),
        str(tmp_path / "ckpt"),
        fmt="xlsx",
        trigger_seconds=1,
    )
    try:
        q.processAllAvailable()
        rows = spark.read.parquet(table_path).collect()
        assert len(rows) == 1
        assert rows[0].vente_id == "VNT001" and rows[0].quantite == 2
        assert rows[0].source_file == "ventes.xlsx"

        # second file arrives; first is not re-ingested (checkpoint)
        shutil.copyfile(REF_XLSX / "ventes.xlsx", watch / "ventes_copy.xlsx")
        q.processAllAvailable()
        rows = spark.read.parquet(table_path).collect()
        assert sorted(r.source_file for r in rows) == [
            "ventes.xlsx", "ventes_copy.xlsx",
        ]
    finally:
        q.stop()


def test_streaming_xlsx_skips_invalid_file(tmp_path, spark):
    """One bad upload (wrong columns for the target table) must not wedge
    the stream AND must leave a durable status=error row (the reference
    records per-file status in file_metadata, etl/app.py:271-275 — a log
    line alone gives operators no queryable record). Later valid files
    still ingest."""
    from datawarehouse1_spark.streaming.file_ingest import (
        IngestSink,
        stream_ingest,
    )

    watch = tmp_path / "incoming"
    watch.mkdir()
    # clients.xlsx lacks every ventes column -> fails validation
    shutil.copyfile(REF_XLSX / "clients.xlsx", watch / "bad_clients.xlsx")

    schema = StructType(
        [
            StructField("vente_id", StringType()),
            StructField("client_id", StringType()),
            StructField("produit_id", StringType()),
            StructField("quantite", IntegerType()),
            StructField("prix_total", DoubleType()),
            StructField("date_vente", DoubleType()),
        ]
    )
    table_path = str(tmp_path / "warehouse" / "ventes")
    q = stream_ingest(
        spark,
        str(watch),
        schema,
        IngestSink(table_path, "vente_id", ["vente_id"]),
        str(tmp_path / "ckpt"),
        fmt="xlsx",
        trigger_seconds=1,
    )
    try:
        q.processAllAvailable()
        assert q.isActive  # bad file did not kill the stream

        # durable queryable record of the skipped upload
        status = spark.read.parquet(str(tmp_path / "ckpt" / "file_status")).collect()
        assert len(status) == 1
        assert status[0].source_file == "bad_clients.xlsx"
        assert status[0].status == "error"
        assert "missing required columns" in status[0].parse_error

        # a valid file arriving later still ingests
        shutil.copyfile(REF_XLSX / "ventes.xlsx", watch / "ventes.xlsx")
        q.processAllAvailable()
        rows = spark.read.parquet(table_path).collect()
        assert [r.vente_id for r in rows] == ["VNT001"]
        # no status row for the good file
        status = spark.read.parquet(str(tmp_path / "ckpt" / "file_status")).collect()
        assert len(status) == 1
    finally:
        q.stop()
