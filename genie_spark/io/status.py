"""Validation-status and error-tracker tables.

The reference keeps two Synapse tables per center
(genie/input_to_database.py:54-113 ``check_existing_file_status``,
479-644 ``validatefile``/``email_duplication_error``): per-file
validation status rows keyed by (name, md5) so an unchanged re-upload
skips revalidation, and an error tracker holding the report text of
invalid files.  Duplicate filenames within one upload batch are
rejected outright.

Here both live as small parquet tables in the warehouse
(``validation_status`` / ``error_tracker``), one row per (center,
name).  An update reads the table through ``io.bronze``
(``read_bronze``), drops the (center, name) row and replaces the whole
table with the journaled ``rewrite_bronze`` swap, which stands in for
the Synapse table's transactional upsert.  That costs a few Spark jobs
per table per upload, whatever the table size, so an update that
changes nothing is skipped: a valid upload with no stored error row
leaves the error tracker alone, and a warehouse that never saw an
invalid upload has no tracker at all.  The new rows enter as one Arrow
batch (``session.local_rows_df``), so no Python worker runs in the
swap.  The md5 is computed driver-side over the upload file, exactly
where the reference reads the Synapse entity md5.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from genie_spark.io.bronze import read_bronze, rewrite_bronze
from genie_spark.session import local_rows_df

STATUS_TABLE = "validation_status"
ERROR_TABLE = "error_tracker"

STATUS_SCHEMA = (
    "center string, name string, md5 string, status string, path string"
)
ERROR_SCHEMA = "center string, name string, errors string"


def file_md5(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def duplicate_basenames(paths: list[str]) -> list[str]:
    """Filenames appearing more than once in one upload batch — the
    reference rejects these before validation
    (input_to_database.py:595-644)."""
    names = [os.path.basename(p) for p in paths]
    return sorted({n for n in names if names.count(n) > 1})


def _read(spark: SparkSession, warehouse: str, table: str) -> DataFrame | None:
    """None iff the table is absent; a present-but-unreadable table
    raises — a swallowed read would let ``_upsert_small`` replace every
    center's rows with the one new row."""
    return read_bronze(spark, os.path.join(warehouse, table))


def prior_status(
    spark: SparkSession, warehouse: str, center: str, name: str, md5: str
) -> str | None:
    """The stored status when (name, md5) is unchanged — meaning
    revalidation can be skipped (check_existing_file_status: a changed
    md5 or name forces ``to_validate``)."""
    df = _read(spark, warehouse, STATUS_TABLE)
    if df is None:
        return None
    rows = (
        df.where(
            (df.center == center) & (df.name == name) & (df.md5 == md5)
        )
        .select("status")
        .collect()
    )
    return rows[0]["status"] if rows else None


def record_status(
    spark: SparkSession,
    warehouse: str,
    center: str,
    name: str,
    md5: str,
    status: str,
    path: str,
    errors: str = "",
) -> None:
    """Upsert the (center, name) status row and mirror the error text
    into the error tracker (cleared when the file turns valid)."""
    _upsert_small(
        spark, warehouse, STATUS_TABLE, STATUS_SCHEMA,
        [(center, name, md5, status, path)], center, name,
    )
    _upsert_small(
        spark, warehouse, ERROR_TABLE, ERROR_SCHEMA,
        [(center, name, errors)] if errors else [], center, name,
    )


def invalid_reason_texts(
    error_tracker: DataFrame, centers: list[str] | None = None
) -> dict[str, str]:
    """Per-center validation-error report text (reference
    genie/write_invalid_reasons.py:49-90): each invalid file renders
    as ``\\t{name}:\\n\\n{errors}\\n\\n`` with the ``|`` separators
    restored to newlines; a center with no invalid files gets
    ``"No errors!"``.  The tracker is dim-sized (one row per invalid
    file) so the collect is bounded."""
    rows = error_tracker.orderBy("center", "name").collect()
    by_center: dict[str, str] = {}
    for r in rows:
        text = f"\t{r['name']}:\n\n{(r['errors'] or '').replace('|', chr(10))}\n\n"
        by_center[r["center"]] = by_center.get(r["center"], "") + text
    for c in centers or []:
        by_center.setdefault(c, "No errors!")
    return by_center


def write_invalid_reasons(
    spark: SparkSession,
    warehouse: str,
    out_dir: str,
    centers: list[str] | None = None,
) -> list[str]:
    """Write ``{center}_validation_errors.txt`` per center from the
    error tracker (reference genie/write_invalid_reasons.py:14-45,
    minus the Synapse upload).  Returns the written paths."""
    tracker = _read(spark, warehouse, ERROR_TABLE)
    if tracker is None:
        texts = {c: "No errors!" for c in centers or []}
    else:
        texts = invalid_reason_texts(tracker, centers)
    os.makedirs(out_dir, exist_ok=True)
    written = []
    for center, text in sorted(texts.items()):
        path = os.path.join(out_dir, f"{center}_validation_errors.txt")
        with open(path, "w") as f:
            f.write(text)
        written.append(path)
    return written


def _upsert_small(
    spark: SparkSession,
    warehouse: str,
    table: str,
    schema: str,
    rows: list[tuple],
    center: str,
    name: str,
) -> None:
    """Replace the table's (center, name) rows with ``rows``.  With no
    ``rows`` and no stored (center, name) row nothing would change, so
    the table is left as it is (or absent)."""
    existing = _read(spark, warehouse, table)
    if existing is None:
        if not rows:
            return
        out = local_rows_df(spark, rows, schema)
    else:
        key = (existing.center == center) & (existing.name == name)
        if not rows and not existing.where(key).take(1):
            return
        out = existing.where(~key)
        if rows:
            out = out.unionByName(local_rows_df(spark, rows, schema))
    # journaled whole-table swap (io/bronze.py); partition_col=None
    # keeps the flat layout
    rewrite_bronze(out, os.path.join(warehouse, table), partition_col=None)
