"""Driver-side parquet reads and writes for tiny, driver-known tables.

``createDataFrame(...).coalesce(1).write`` costs seconds per call (a
one-task Spark job over a local relation); the manifest and field_stats are
a few dozen rows the driver already holds, so they are written directly with
pyarrow (~ms) into a directory Spark reads like any parquet table. The
manifest swap stays last-writer-atomic at the directory level (Iceberg
snapshot commit in production). Reading them back through Spark costs a
schema-inference job plus a collect job per table, so the driver reads them
with pyarrow too (``read_driver_table``)."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

__all__ = [
    "read_driver_table", "write_driver_table", "FIELD_STATS_SCHEMA", "MANIFEST_SCHEMA",
]

FIELD_STATS_SCHEMA = pa.schema(
    [
        ("segment_id", pa.int32()),
        ("doc_count", pa.int64()),
        ("sum_ttf", pa.int64()),
        ("max_docid", pa.int64()),
        ("min_docid", pa.int64()),
    ]
)

MANIFEST_SCHEMA = pa.schema(
    [
        ("segment_id", pa.int32()),
        ("n_docs", pa.int64()),
        ("doc_base", pa.int64()),
        ("status", pa.string()),
        ("checkpoint_ts", pa.float64()),
        ("lineage", pa.string()),
        ("metrics_json", pa.string()),
    ]
)


def write_driver_table(path: str, rows: list[tuple], schema: pa.Schema) -> None:
    """Overwrite ``path`` (a directory) with one parquet file of ``rows``."""
    tmp = f"{path}.__tmp__"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    cols = {
        f.name: [r[i] for r in rows] for i, f in enumerate(schema)
    }
    pq.write_table(pa.table(cols, schema=schema), f"{tmp}/part-00000.parquet")
    old = f"{path}.__old__"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def read_driver_table(path: str) -> list[dict]:
    """Every row of the parquet table in directory ``path``, as dicts. Files
    whose names start with ``.`` or ``_`` (checksums, ``_SUCCESS``) are
    skipped, as Spark skips them."""
    return ds.dataset(path, format="parquet").to_table().to_pylist()
