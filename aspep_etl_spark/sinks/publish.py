"""Sinks: canonical parquet store + JSON-array artifact publisher
(SURVEY.md §2.1 S8/S9, §7.6).

The canonical store is partitioned parquet — ``partitionBy("year")`` gives
partition pruning for every year-ranged query (P5) and bounds file sizes at
any scale.  The reference's durable artifact is a pretty-printed JSON
*array* (pandas ``to_json(orient="records", indent=4)``,
assets.py:325,380,486) — that is inherently a single-file, driver-side
format, so the publisher collects (bounded by publish-time row counts, not
pipeline scale) and writes it with the same shape.  S3 publishing reuses
the same writers against ``s3a://`` URIs via the Hadoop S3A connector —
gzip happens through codec/ContentEncoding configuration, ACLs through
bucket policy (reference's upload_file_to_s3, assets.py:75-113).
"""

from __future__ import annotations

import gzip
import json
import math
import os
import shutil

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.conversion import ArrowTableToRowsConversion


def write_canonical_store(
    df: DataFrame, path: str, partition_col: str = "year", mode: str = "overwrite"
) -> None:
    """Write the canonical fact table as year-partitioned parquet."""
    df.write.mode(mode).partitionBy(partition_col).parquet(path)


def upsert_year_partitions(df: DataFrame, path: str, partition_col: str = "year") -> None:
    """Idempotent incremental refresh: overwrite ONLY the partitions present
    in ``df``, leaving other years untouched (dynamic partition overwrite).

    This is the storage-level replacement for the reference's re-run
    memoization (assets.py:182-189,246-249): re-ingesting one year rewrites
    one partition; a full re-run converges to the same store.  With Delta
    available this becomes ``MERGE``; dynamic overwrite is the pure-parquet
    equivalent for partition-grain updates.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def _fmt_float(x: float) -> str:
    """Reproduce the reference serializer's double formatting byte-for-byte
    (pandas ``to_json`` / vendored ujson, ``double_precision=10``):
    ``%.10f`` with trailing zeros stripped inside [1e-15, 1e16], repr-style
    exponent notation outside, and exact zero (either sign) as ``0.0``.
    NaN/±inf are handled by the caller (→ null)."""
    if x == 0.0:
        return "0.0"
    ax = abs(x)
    if 1e-15 <= ax <= 1e16:
        s = f"{x:.10f}".rstrip("0")
        return s + "0" if s.endswith(".") else s
    mant, exp = f"{x:.10e}".split("e")
    mant = mant.rstrip("0").rstrip(".")
    return f"{mant}e{exp}"


def _fmt_string(s: str) -> str:
    """JSON string literal the way the reference serializer writes it:
    ensure-ASCII ``\\uXXXX`` escapes plus the ujson quirk of escaping
    forward slashes (``/`` → ``\\/``)."""
    return json.dumps(s).replace("/", "\\/")


def _column_cells(col, data_type) -> list[str]:
    """One Arrow column → its rendered JSON values, the formatter chosen
    once from the column's Arrow type.

    pandas dtype parity: the reference pipeline holds any numeric column
    containing a missing value as float64, so its integers serialize as
    "0.0" there — an integer column with some (not all) nulls renders as
    floats, or the bytes (and round-trips through pandas) diverge."""
    t = col.type
    values = col.to_pylist()
    if pa.types.is_floating(t) or (pa.types.is_integer(t) and 0 < col.null_count < len(col)):
        return [
            "null" if v is None or math.isnan(v) or math.isinf(v) else _fmt_float(float(v))
            for v in values
        ]
    if pa.types.is_integer(t):
        return ["null" if v is None else str(v) for v in values]
    if pa.types.is_boolean(t):
        return ["null" if v is None else ("true" if v else "false") for v in values]
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        memo: dict = {None: "null"}
        out = []
        for v in values:
            s = memo.get(v)
            if s is None:
                s = memo[v] = _fmt_string(v)
            out.append(s)
        return out
    # dates, timestamps, decimals, nested types: the value a collected Row
    # would hold (naive local-time datetimes, Rows, dicts), stringified
    conv = ArrowTableToRowsConversion._create_converter(data_type)
    return ["null" if v is None else _fmt_string(str(conv(v))) for v in values]


def _render_table(table: pa.Table, schema, indent: int = 4) -> str:
    """Serialize an Arrow table exactly as the reference artifact writer
    does (pandas ``to_json(orient="records", indent=4)``,
    assets.py:325,380,486): no space after ``:``, indent-nested braces,
    ``[\\n\\n]`` for empty.  Rendered column by column; each key is escaped
    once.  A repeated column name keeps its first position and its last
    value, as the record dicts of a collected Row did."""
    if table.num_rows == 0:
        return "[\n\n]"
    pad_k = " " * (indent * 2)
    pad_b = " " * indent
    last = {name: i for i, name in enumerate(table.column_names)}
    columns = []
    for name, i in last.items():
        key = f"{pad_k}{_fmt_string(str(name))}:"
        columns.append([key + v for v in _column_cells(table.column(i), schema[i].dataType)])
    head, tail = f"{pad_b}{{\n", f"\n{pad_b}}}"
    rows = zip(*columns) if columns else [()] * table.num_rows
    return "[\n" + ",\n".join(head + ",\n".join(r) + tail for r in rows) + "\n]"


#: write_json_array refuses DataFrames larger than this — the single-file
#: JSON artifact is a publish-time format (the reference's biggest artifact
#: is ~1.2 M rows of derived stats); anything bigger is pipeline data that
#: belongs in the parquet store, and silently collecting it would OOM the
#: driver at scale.
JSON_ARRAY_MAX_ROWS = 5_000_000


def write_json_array(
    df: DataFrame, path: str, indent: int = 4, max_rows: int = JSON_ARRAY_MAX_ROWS
) -> str:
    """Publish a DataFrame as one pretty-printed JSON array file.

    Byte-shape parity with the reference artifact (orient="records",
    indent=4); NaN/inf → null so the output is strict JSON (the reference's
    ujson emitted bare NaN, which stdlib json only tolerates on read).
    Driver-side by design — never use for pipeline-scale data; the
    ``max_rows`` guard makes pointing it at a fact table a loud error
    instead of a driver OOM (checked with a ``limit(max_rows+1)`` probe,
    never a full count of the offending table).
    """
    capped = df.limit(max_rows + 1)
    table = capped.toArrow()
    if not df.columns:  # Arrow batches without columns carry no row count
        table = pa.table([pa.nulls(capped.count())], names=["_"]).select([])
    if table.num_rows > max_rows:
        raise ValueError(
            f"write_json_array: more than {max_rows} rows — this artifact is "
            f"driver-side single-file JSON; write the parquet store instead"
        )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        f.write(_render_table(table, df.schema, indent=indent))
    return path


#: Read size for ``gzip_publish``: a few GzipFile.write calls per
#: artifact, not one per line of pretty-printed JSON.
_GZIP_CHUNK = 16 * 1024 * 1024


def gzip_publish(local_path: str) -> str:
    """Gzip a text artifact for upload with ContentEncoding=gzip
    (reference assets.py:91-97)."""
    out = f"{local_path}.gz"
    with open(local_path, "rb") as f_in, gzip.open(out, "wb") as f_out:
        shutil.copyfileobj(f_in, f_out, _GZIP_CHUNK)
    return out


_TEXT_EXTS = (".json", ".csv", ".txt")


def publish_dir(
    out_dir: str,
    bucket: str,
    prefix: str = "",
    uploader=None,
) -> list[dict]:
    """Walk an output directory, upload every file, return
    ``[{"file": name, "url": public_url}, ...]`` — the reference's
    `s3_upload` asset surface (assets.py:549-570): text artifacts
    (.json/.csv/.txt) are gzipped and uploaded with
    ``ContentType=text/plain, ContentEncoding=gzip``; public URLs follow
    the ``https://{bucket}.s3.amazonaws.com/{key}`` convention.

    ``uploader(local_path, bucket, key, extra_args) -> None`` performs the
    actual transfer — inject a ``boto3`` client's ``upload_file`` in
    production, a recorder in tests (this container has no network, and
    the engine takes no boto3 dependency).  A file that fails anywhere in
    its publish step — gzip OR upload — is quarantined per-file and
    OMITTED from the result list, exactly like the reference
    (assets.py:565-566 appends only successful uploads); one unreadable
    file never aborts the walk.
    """
    results: list[dict] = []
    for root, _, files in sorted(os.walk(out_dir)):
        for filename in sorted(files):
            local_path = os.path.join(root, filename)
            key = os.path.join(prefix, os.path.relpath(local_path, out_dir)).replace(
                "\\", "/"
            )
            is_text = filename.endswith(_TEXT_EXTS)
            extra_args: dict = {"ACL": "public-read"}
            try:
                send_path = local_path
                if is_text:
                    send_path = gzip_publish(local_path)
                    extra_args.update(
                        {"ContentType": "text/plain", "ContentEncoding": "gzip"}
                    )
                if uploader is None:
                    raise RuntimeError("publish_dir: no uploader injected")
                uploader(send_path, bucket, key, extra_args)
            except Exception:  # noqa: BLE001 — per-file quarantine
                continue
            results.append(
                {"file": filename, "url": f"https://{bucket}.s3.amazonaws.com/{key}"}
            )
    return results


def compact_partitions(
    spark,
    path: str,
    partition_col: str = "year",
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction for a partitioned parquet store — the
    maintenance job every streaming/incremental writer eventually needs
    (thousands of kilobyte files turn a scan into a metadata stampede).

    Per partition: estimate on-disk size, rewrite with
    ``repartition(ceil(size / target))`` via dynamic partition overwrite
    (only touched partitions rewrite; concurrent readers of other
    partitions are unaffected).  Returns per-partition file counts
    before/after.  At lake scale this is what table formats call OPTIMIZE;
    the pure-parquet version is the same rewrite without the transaction
    log."""
    import math as _math

    before: dict = {}
    sizes: dict = {}
    for entry in os.listdir(path):
        if not entry.startswith(f"{partition_col}="):
            continue
        pdir = os.path.join(path, entry)
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        before[entry] = len(files)
        sizes[entry] = sum(os.path.getsize(os.path.join(pdir, f)) for f in files)

    df = spark.read.parquet(path)
    for entry, size in sizes.items():
        # Directory names carry Hive-escaped values ('a b' → 'a%20b') and
        # the null partition is '__HIVE_DEFAULT_PARTITION__' — unescape /
        # special-case BEFORE filtering, or a string partition silently
        # matches zero rows and the "compaction" leaves its files alone.
        from urllib.parse import unquote

        raw = entry.split("=", 1)[1]
        if raw == "__HIVE_DEFAULT_PARTITION__":
            pred = F.col(partition_col).isNull()
        else:
            pred = F.col(partition_col) == unquote(raw)
        n_files = max(1, _math.ceil(size / target_file_bytes))
        part = df.filter(pred).repartition(n_files)
        (
            part.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
    after = {
        entry: len(
            [
                f
                for f in os.listdir(os.path.join(path, entry))
                if f.endswith(".parquet")
            ]
        )
        for entry in before
    }
    return {"before": before, "after": after}
