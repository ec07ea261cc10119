"""File-level zone maps: min/max manifests from parquet footer
statistics, and a reader that skips whole files by predicate range —
the Iceberg/Delta data-skipping layer, one level finer than Hive
partition pruning (sources/files.write_partitioned prunes directories;
this prunes FILES inside them).

The manifest is built from parquet FOOTER metadata only (pyarrow
row-group statistics) — no data pages are read, so manifest
construction over a 100 TB dataset is a footer-listing job, and on a
real deployment it would be collected distributedly (one mapPartitions
over the file list) and stored next to the dataset; the driver-side
loop here is the single-node form of that job.

Skipping is sound only for range predicates on the manifested columns:
a file whose [min, max] does not intersect [lo, hi] cannot contain a
matching row (parquet stats are conservative bounds). Effectiveness
requires layout correlation — data written clustered/sorted by the
column (repartitionByRange + sortWithinPartitions, the write-side half
of this contract). Uncorrelated layout degrades to zero skipped files,
never to wrong answers (✓test both directions).

Stat values round-trip through a TYPED JSON codec (ADVICE r5): a bare
json.dumps(default=str) turned date/timestamp/decimal bounds into
strings, which then compared against typed lo/hi either raised
TypeError or — worse — mispruned lexicographically. Unknown stat types
raise at WRITE time (soundness over a manifest that lies later).

Timestamp caveat (write-side): Spark's default parquet timestamp
encoding (INT96, spark.sql.parquet.outputTimestampType) carries NO
min/max footer statistics — timestamp zones then degrade to
always-read (sound, zero skipping). Write with TIMESTAMP_MICROS to
make timestamp zones effective (✓test).
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import pathlib

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_zone_manifest.json"

# tag -> (python types covered, encode, decode). bool precedes int in
# _encode's dispatch because bool IS an int in Python.
_CODEC = {
    "bool": (lambda v: v, lambda v: bool(v)),
    "int": (lambda v: v, lambda v: int(v)),
    "float": (lambda v: v, lambda v: float(v)),
    "str": (lambda v: v, lambda v: v),
    "date": (lambda v: v.isoformat(), datetime.date.fromisoformat),
    "datetime": (lambda v: v.isoformat(), datetime.datetime.fromisoformat),
    "decimal": (str, decimal.Decimal),
    "bytes": (
        lambda v: base64.b64encode(v).decode("ascii"),
        base64.b64decode,
    ),
}


def _tag(v) -> str:
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, str):
        return "str"
    if isinstance(v, datetime.datetime):  # before date: datetime IS a date
        return "datetime"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, bytes):
        return "bytes"
    raise ValueError(
        f"zone-map stat of unsupported type {type(v).__name__}: {v!r} "
        f"(supported: {sorted(_CODEC)})"
    )


def _encode(v) -> dict:
    t = _tag(v)
    return {"t": t, "v": _CODEC[t][0](v)}


def _decode(obj):
    # pre-codec manifests stored bare values; honor them as-is so old
    # manifests stay readable (they were only ever sound for
    # JSON-native numeric/str columns anyway).
    if not (isinstance(obj, dict) and "t" in obj):
        return obj
    return _CODEC[obj["t"]][1](obj["v"])


def write_manifest(dataset_path: str, cols: list[str]) -> dict:
    """Collect per-file min/max for `cols` from parquet footers and
    write `_zone_manifest.json` into the dataset directory. Returns
    the manifest dict {file -> {col -> [min, max]}} (decoded values)."""
    import pyarrow.parquet as pq

    manifest: dict[str, dict[str, list]] = {}
    encoded: dict[str, dict[str, list]] = {}
    for p in sorted(pathlib.Path(dataset_path).rglob("*.parquet")):
        md = pq.ParquetFile(str(p)).metadata
        schema_names = md.schema.to_arrow_schema().names
        stats: dict[str, list] = {}
        enc: dict[str, list] = {}
        for col in cols:
            idx = schema_names.index(col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                # pyarrow raises ArrowNotImplementedError extracting
                # stat VALUES for some physical types (e.g. Spark's
                # decimal encoding) — degrade to no-zone (always read,
                # sound), the same as absent stats.
                try:
                    s = md.row_group(rg).column(idx).statistics
                    if s is None or not s.has_min_max:
                        raise ValueError("no stats")
                    lo_v, hi_v = s.min, s.max
                except Exception:
                    mins, maxs = [], []
                    break
                mins.append(lo_v)
                maxs.append(hi_v)
            if mins:
                stats[col] = [min(mins), max(maxs)]
                enc[col] = [_encode(stats[col][0]), _encode(stats[col][1])]
        rel = str(p.relative_to(dataset_path))
        manifest[rel] = stats
        encoded[rel] = enc
    out = pathlib.Path(dataset_path) / MANIFEST_NAME
    out.write_text(json.dumps(encoded, indent=1, sort_keys=True))
    return manifest


def read_pruned_multi(
    spark: SparkSession, dataset_path: str, preds: dict[str, tuple]
) -> tuple[DataFrame, int, int]:
    """Conjunctive zone pruning: `AND` of `col BETWEEN lo AND hi` over
    one or more columns; a file is skipped if ANY predicate's range
    cannot intersect its zone [min, max] (each column's skip is sound,
    so the conjunction is sound too). Returns (df, files_read,
    files_total). This is the reader that makes a Z-ORDERED layout
    (sources/layout.write_zordered) pay off: each file covers a
    hyper-rectangle, so a multi-column predicate skips multiplicatively
    more files than any single column alone.

    A file with no recorded zone for a column is always read
    (soundness over skipping), and the residual filter is always
    applied (zones are conservative). Reads pass option("basePath") so
    Hive partition columns survive a pruned file-list read with the
    same schema the empty-selection (base-dir) branch produces."""
    from pyspark.sql import functions as F

    if not preds:
        raise ValueError("preds must be non-empty")
    base = pathlib.Path(dataset_path)
    manifest = json.loads((base / MANIFEST_NAME).read_text())
    keep = []
    for rel, stats in manifest.items():
        drop = False
        for col, (lo, hi) in preds.items():
            z = stats.get(col)
            if z is None:
                continue
            zlo, zhi = _decode(z[0]), _decode(z[1])
            if zhi < lo or zlo > hi:
                drop = True
                break
        if not drop:
            keep.append(str(base / rel))
    total = len(manifest)
    residual = None
    for col, (lo, hi) in preds.items():
        c = F.col(col).between(lo, hi)
        residual = c if residual is None else residual & c
    if not keep:
        df = spark.read.parquet(str(base)).where(F.lit(False))
        return df.where(residual), 0, total
    df = spark.read.option("basePath", str(base)).parquet(*keep).where(residual)
    return df, len(keep), total
