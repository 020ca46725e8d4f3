"""Iceberg-compatible table layout without the Iceberg runtime jar.

SURVEY.md environment facts: no iceberg-spark-runtime jar is present in
this sandbox, so the "Iceberg table" contract (BASELINE.json north_rule)
is satisfied with the same *layout discipline* — immutable data files
under ``data/``, snapshot + manifest JSON under ``metadata/``, atomic
commit by writing a new metadata version then flipping ``version-hint``
last (data files first, metadata commit second: exactly the reference's
two-pass file assembly, /root/reference/encoder.go:158-185, and Iceberg's
own commit protocol). Swap seam: when a real Iceberg catalog is
available, ``read_table``/``commit`` are the only two functions to
replace with ``spark.read.table`` / ``df.writeTo``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

VERSION_HINT = "version-hint.text"


def _metadata_dir(table_dir: str | Path) -> Path:
    return Path(table_dir) / "metadata"


def current_snapshot(table_dir: str | Path) -> dict | None:
    md = _metadata_dir(table_dir)
    hint = md / VERSION_HINT
    if not hint.exists():
        return None
    version = int(hint.read_text().strip())
    return json.loads((md / f"v{version}.metadata.json").read_text())


def commit(
    table_dir: str | Path,
    data_files: list[dict],
    schema_json: str,
    properties: dict | None = None,
    operation: str = "append",
) -> dict:
    """Commit a new snapshot; ``data_files`` = [{path, rows, bytes}, ...].

    Paths are relative to the table dir. Append keeps prior files;
    overwrite replaces them.
    """
    table_dir = Path(table_dir)
    md = _metadata_dir(table_dir)
    md.mkdir(parents=True, exist_ok=True)
    prev = current_snapshot(table_dir)
    version = (prev["version"] + 1) if prev else 1
    files = list(prev["files"]) if (prev and operation == "append") else []
    files.extend(data_files)
    snapshot = {
        "format": "iceberg-lite/1",
        "version": version,
        "snapshot_id": uuid.uuid4().hex,
        "parent_snapshot_id": prev["snapshot_id"] if prev else None,
        "timestamp_ms": int(time.time() * 1000),
        "operation": operation,
        "schema": schema_json,
        "properties": properties or {},
        "files": files,
        "total_rows": sum(f["rows"] for f in files),
    }
    (md / f"v{version}.metadata.json").write_text(json.dumps(snapshot, indent=1))
    tmp = md / f".{VERSION_HINT}.{uuid.uuid4().hex}.tmp"
    tmp.write_text(str(version))
    os.replace(tmp, md / VERSION_HINT)  # atomic flip = the commit point
    return snapshot


def read_table(spark: SparkSession, table_dir: str | Path) -> DataFrame:
    """Read the current snapshot's files as a DataFrame."""
    snap = current_snapshot(table_dir)
    table_dir = Path(table_dir)
    if snap is None:
        # plain-parquet fallback (a directory of files without metadata)
        return spark.read.parquet(str(table_dir))
    paths = [str(table_dir / f["path"]) for f in snap["files"]]
    return spark.read.parquet(*paths)
