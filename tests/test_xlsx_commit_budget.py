"""One trigger through service.run_service: the commit's Spark-job
budget and its accept/reject law, for xlsx drops and for native
(parquet, json) drops, which commit the same way.

Every case places its files in the watched directory before the stream
starts, so they all land in the stream's first trigger. Jobs are counted
from the JVM status store (`sc._jsc.sc().statusStore()`): the jobs of
that trigger are the ones started between the stream's start and
`processAllAvailable()`. The budget per trigger: one write that stages
the batch's rows (parsed in that job, for xlsx), counts them and
gathers the per-file marker rows, the
`file_status` append when a file failed to parse, and the three jobs of
the batch-wide `duplicate_keys` count when two or more xlsx files
parsed, or for any native batch (no parse task counts its keys).
Publishing an accepted batch renames files and runs no job. A rejected
batch's errors must equal what `validate_batch` reports over the same
parsed rows.
"""

from __future__ import annotations

import datetime
import shutil
from decimal import Decimal

import pytest
from pyspark.sql.types import StructField, StructType

from datawarehouse1_spark.operators import ingest
from datawarehouse1_spark.schemas import BUSINESS_KEYS, NOT_NULL, VENTES
from datawarehouse1_spark.service import build_parser, run_service
from datawarehouse1_spark.sources.excel import read_xlsx_dir

HEADER = ["vente_id", "client_id", "produit_id", "quantite", "prix_total", "date_vente"]
ROWS = 5


def _ventes(prefix: str, ids: list[str] | None = None) -> list[list]:
    ids = ids or [f"{prefix}-{i}" for i in range(ROWS)]
    return [
        [v, f"CLI{i:03d}", f"PRD{i:03d}", i + 1, 10.25 * (i + 1), 45658.5 + i]
        for i, v in enumerate(ids)
    ]


def _without(header: list[str], rows: list[list], col: str) -> tuple[list[str], list[list]]:
    i = header.index(col)
    return header[:i] + header[i + 1:], [r[:i] + r[i + 1:] for r in rows]


def _null_key(rows: list[list]) -> list[list]:
    return [[None, *rows[0][1:]], *rows[1:]]


def _in_file_dup(rows: list[list]) -> list[list]:
    return [*rows, [rows[0][0], *rows[-1][1:]]]


# name -> ({file: (header, rows)}, rows appended, status rows, result, job budget)
CASES = {
    "valid": ({"ventes_a.xlsx": (HEADER, _ventes("A"))}, ROWS, 0, "success", 1),
    "valid_and_missing_column": (
        {
            "ventes_a.xlsx": (HEADER, _ventes("A")),
            "ventes_b.xlsx": _without(HEADER, _ventes("B"), "quantite"),
        },
        ROWS, 1, "success", 2,
    ),
    "valid_and_null_key": (
        {
            "ventes_a.xlsx": (HEADER, _ventes("A")),
            "ventes_b.xlsx": (HEADER, _null_key(_ventes("B"))),
        },
        0, 0, "error", 4,
    ),
    "cross_file_duplicate": (
        {
            "ventes_a.xlsx": (HEADER, _ventes("A")),
            "ventes_b.xlsx": (HEADER, _ventes("B", ["A-0", *[f"B-{i}" for i in range(1, ROWS)]])),
        },
        0, 0, "error", 4,
    ),
    "in_file_duplicate": (
        {"ventes_a.xlsx": (HEADER, _in_file_dup(_ventes("A")))}, 0, 0, "error", 1,
    ),
}


NATIVE_FORMATS = ["parquet", "json"]
# A native file is one batch of rows with no parse task to count its
# keys: one staging write plus the three jobs of `duplicate_keys`.
CASES |= {
    f"{fmt}_{case}": ({f"ventes_a.{fmt}": (HEADER, rows)}, n_rows, 0, result, 4)
    for fmt in NATIVE_FORMATS
    for case, (rows, n_rows, result) in {
        "valid": (_ventes("A"), ROWS, "success"),
        "null_key": (_null_key(_ventes("A")), 0, "error"),
        "in_file_duplicate": (_in_file_dup(_ventes("A")), 0, "error"),
    }.items()
}


def _fmt(name: str) -> str:
    return name.rsplit(".", 1)[1]


def _drop(spark, xlsx_bytes, watch, name: str, header: list[str], rows: list[list]) -> None:
    """Place the file `name` in `watch`: an xlsx workbook, or for
    another extension the one part file of a Spark write in that format
    of the rows typed as VENTES (a day serial becomes its timestamp)."""
    fmt = _fmt(name)
    if fmt == "xlsx":
        (watch / name).write_bytes(xlsx_bytes(header, rows))
        return
    epoch = datetime.datetime(1899, 12, 30)
    typed = [
        [v, c, p, q, Decimal(f"{t:.2f}"), epoch + datetime.timedelta(days=d)]
        for v, c, p, q, t, d in rows
    ]
    nullable = StructType([StructField(f.name, f.dataType, True) for f in VENTES])
    out = watch.parent / f"_{name}"
    spark.createDataFrame(typed, nullable).coalesce(1).write.format(fmt).save(str(out))
    (part,) = out.glob("part-*")
    shutil.move(part, watch / name)


def _service_args(watch, root, fmt="xlsx"):
    return build_parser().parse_args([
        "--watch-dir", str(watch),
        "--table-root", str(root),
        "--table", "ventes",
        "--business-key", BUSINESS_KEYS["ventes"],
        "--not-null", ",".join(NOT_NULL["ventes"]),
        "--interval", "0",
        "--format", fmt,
    ])


def _job_ids(spark) -> set[int]:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # job-end events arrive asynchronously
    jobs = sc.statusStore().jobsList(None)
    it = jobs.iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next().jobId())
    return ids


@pytest.mark.parametrize("case", list(CASES))
def test_one_trigger_commit(spark, tmp_path, monkeypatch, xlsx_bytes, case):
    files, want_rows, want_status, want_result, budget = CASES[case]
    fmt = _fmt(next(iter(files)))
    watch, root = tmp_path / "watch", tmp_path / "tables"
    watch.mkdir()
    for name, (header, rows) in files.items():
        _drop(spark, xlsx_bytes, watch, name, header, rows)

    results = []
    append = ingest.append_if_valid

    def recorded(*args, **kwargs):
        results.append(append(*args, **kwargs))
        return results[-1]

    monkeypatch.setattr(ingest, "append_if_valid", recorded)
    before = _job_ids(spark)
    query = run_service(_service_args(watch, root, fmt), spark=spark)
    try:
        query.processAllAvailable()
        jobs = len(_job_ids(spark) - before)
    finally:
        query.stop()

    table, status = root / "ventes", root / "_checkpoints" / "ventes" / "file_status"
    got = spark.read.parquet(str(table)).collect() if table.exists() else []
    n_status = spark.read.parquet(str(status)).count() if status.exists() else 0
    assert (len(got), n_status) == (want_rows, want_status)
    assert {r.source_file for r in got} <= set(files)  # the file's basename

    assert len(results) == 1
    result = results[0]
    assert result.status == want_result
    parsed = sorted(n for n, (h, _) in files.items() if h == HEADER)
    assert result.source_file == ", ".join(parsed)
    if want_result == "success":
        assert result.n_rows == want_rows and not result.errors
    else:  # every file of a rejected case parses
        if fmt == "xlsx":
            batch = read_xlsx_dir(spark, str(watch), VENTES)
        else:
            batch = spark.read.schema(VENTES).format(fmt).load(str(watch))
        assert result.errors == ingest.validate_batch(
            batch, BUSINESS_KEYS["ventes"], NOT_NULL["ventes"]
        )
    assert jobs <= budget, jobs


def test_plain_sink_gets_data_rows_only(spark, tmp_path, xlsx_bytes):
    """stream_ingest commits into an IngestSink: the table gets the
    parsed rows with the lineage columns and none of the status/marker
    columns, and a file that fails to parse leaves one status row."""
    from datawarehouse1_spark.streaming.file_ingest import IngestSink, stream_ingest

    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "ventes_a.xlsx").write_bytes(xlsx_bytes(HEADER, _ventes("A")))
    (watch / "ventes_b.xlsx").write_bytes(xlsx_bytes(*_without(HEADER, _ventes("B"), "quantite")))
    table = tmp_path / "ventes"
    query = stream_ingest(
        spark,
        str(watch),
        VENTES,
        IngestSink(str(table), BUSINESS_KEYS["ventes"], NOT_NULL["ventes"]),
        str(tmp_path / "ckpt"),
        fmt="xlsx",
        trigger_seconds=0,
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    committed = spark.read.parquet(str(table))
    assert committed.columns == [*HEADER, "source_file", "imported_at"]
    assert sorted(r.vente_id for r in committed.collect()) == [f"A-{i}" for i in range(ROWS)]
    status = spark.read.parquet(str(tmp_path / "ckpt" / "file_status")).collect()
    assert [r.source_file for r in status] == ["ventes_b.xlsx"]


def _run_once(spark, args) -> None:
    query = run_service(args, spark=spark)
    try:
        query.processAllAvailable()
    finally:
        query.stop()


@pytest.mark.parametrize("fmt", ["xlsx", *NATIVE_FORMATS])
def test_replayed_batch_publishes_once_and_restart_clears_staging(
    spark, tmp_path, monkeypatch, xlsx_bytes, fmt
):
    """A crash after the publish but before the commit log: on restart
    Spark replays the batch under the same id. Its part files are
    already in the table under names taken from that id, so the replay
    adds nothing, whatever the format. A staging directory left behind
    is not part of the table, and the restart removes it."""
    watch, root = tmp_path / "watch", tmp_path / "tables"
    watch.mkdir()
    _drop(spark, xlsx_bytes, watch, f"ventes_a.{fmt}", HEADER, _ventes("A"))
    n_status = 0
    if fmt == "xlsx":  # a file that fails to parse leaves one status row
        (watch / "ventes_b.xlsx").write_bytes(xlsx_bytes(*_without(HEADER, _ventes("B"), "quantite")))
        n_status = 1
    args = _service_args(watch, root, fmt)
    table = root / "ventes"
    ckpt = root / "_checkpoints" / "ventes"
    status = ckpt / "file_status"

    def status_rows() -> int:
        return spark.read.parquet(str(status)).count() if status.exists() else 0

    _run_once(spark, args)
    published = sorted(p.name for p in table.glob("part-*"))
    assert len(published) == 1
    assert spark.read.parquet(str(table)).count() == ROWS
    assert status_rows() == n_status

    for entry in (ckpt / "commits").iterdir():  # batch 0 never committed
        entry.unlink()
    leftover = ckpt / "_staging" / "batch-7" / "rows"
    leftover.mkdir(parents=True)
    (leftover / published[0]).write_bytes((table / published[0]).read_bytes())
    assert spark.read.parquet(str(table)).count() == ROWS

    results = []
    append = ingest.append_if_valid

    def recorded(*a, **kw):
        results.append(append(*a, **kw))
        return results[-1]

    monkeypatch.setattr(ingest, "append_if_valid", recorded)
    _run_once(spark, args)
    assert [r.status for r in results] == ["success"]  # batch 0 ran again
    assert sorted(p.name for p in table.glob("part-*")) == published
    assert spark.read.parquet(str(table)).count() == ROWS
    assert status_rows() == n_status
    assert not (ckpt / "_staging" / "batch-7").exists()


def test_stream_on_a_recreated_checkpoint_publishes_its_batches(spark, tmp_path, xlsx_bytes):
    """A checkpoint lost and recreated at the same path restarts the
    batch numbering at 0. The new stream's batch 0, here even a file of
    the same name, must reach the table rather than be taken for a
    replay of the old stream's batch 0."""
    import shutil

    watch, root = tmp_path / "watch", tmp_path / "tables"
    watch.mkdir()
    drop = watch / "ventes_a.xlsx"
    drop.write_bytes(xlsx_bytes(HEADER, _ventes("A")))
    args = _service_args(watch, root)
    table = root / "ventes"
    _run_once(spark, args)
    assert spark.read.parquet(str(table)).count() == ROWS

    shutil.rmtree(root / "_checkpoints" / "ventes")
    drop.unlink()
    drop.write_bytes(xlsx_bytes(HEADER, _ventes("B")))
    _run_once(spark, args)
    ids = sorted(r.vente_id for r in spark.read.parquet(str(table)).collect())
    assert ids == sorted(f"{p}-{i}" for p in "AB" for i in range(ROWS))


@pytest.mark.parametrize("target", ["table", "status"])
def test_publish_target_on_another_file_system_is_refused(spark, tmp_path, target):
    """Staged files are published by rename, which cannot cross file
    systems: stream_ingest refuses a table or status directory that is
    not on the checkpoint's file system before it starts the query."""
    from datawarehouse1_spark.streaming.file_ingest import IngestSink, stream_ingest

    other = "otherfs:///warehouse/ventes"
    sink = IngestSink(other if target == "table" else str(tmp_path / "ventes"), "vente_id", [])
    n_active = len(spark.streams.active)
    with pytest.raises(ValueError, match="file system"):
        stream_ingest(
            spark,
            str(tmp_path / "watch"),
            VENTES,
            sink,
            str(tmp_path / "ckpt"),
            fmt="xlsx",
            status_dir=other if target == "status" else None,
        )
    assert len(spark.streams.active) == n_active
