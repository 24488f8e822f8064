"""publish_staged renames only a staged batch's part files into the
table, under names taken from the batch, wherever the staging lives."""

from __future__ import annotations

from datawarehouse1_spark.operators.ingest import publish_staged


def test_publish_staged_moves_part_files_from_a_path_with_glob_characters(spark, tmp_path):
    staged = tmp_path / "ckpt[1]{a,b}*?" / "rows"
    staged.mkdir(parents=True)
    for name in ("part-00000-x.snappy.parquet", ".part-00000-x.snappy.parquet.crc", "_SUCCESS"):
        (staged / name).write_bytes(b"x")
    table = tmp_path / "table"

    publish_staged(spark, str(staged), "q-0000000001", str(table))

    assert sorted(p.name for p in table.iterdir() if not p.name.startswith(".")) == [
        "part-q-0000000001-00000.snappy.parquet"
    ]
    assert not (staged / "part-00000-x.snappy.parquet").exists()
