"""Driver-side parquet footer access: the metadata gates and lake metadata.

Two gates read footers instead of running Spark jobs: the
under-parallel repartition gate (operators/similarity.
_effective_input_parallelism caps achievable scan parallelism by row-
group count) and BM25's strategy gate (operators/bm25._metadata_count
answers "how many rows" for a bare file scan with zero jobs). The
segment lake reads its merged schema, row counts and data bytes the same
way (:func:`lake_footers`). All encode the same policy — LOCAL
plain-parquet files only, anything else falls back to the caller's
Spark-side path — so the policy lives here once.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import types as T

#: footer key under which Spark stores the schema of every parquet file it
#: writes; Spark's own inference prefers it to the parquet column types
#: (ParquetFileFormat.readSchemaFromFooter), and so does this module
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def local_parquet_meta(uri: str):
    """Parquet footer metadata for one LOCAL ``.parquet`` file URI, or
    None when the URI is remote / not parquet (the caller falls back to
    its Spark-side path). Percent-encoded paths (spaces etc.) are
    unquoted before the filesystem read."""
    import pyarrow.parquet as pq

    parsed = urlparse(uri)
    if parsed.scheme not in ("file", "") or not uri.endswith(".parquet"):
        return None
    return pq.read_metadata(unquote(parsed.path) if parsed.path else uri)


@dataclass(frozen=True)
class LakeFooters:
    """A parquet lake's metadata. ``schema`` is the union of every data
    file's columns (partition columns come from the directory names, as
    Spark infers them); ``file_rows`` maps each data file's path to its
    footer row count and ``rows`` is their sum. ``rows``, ``data_bytes``
    and ``file_rows`` are None when the lake is not local, where only a
    Spark job could answer them."""

    schema: T.StructType
    data_bytes: int | None
    file_rows: dict[str, int] | None

    @property
    def rows(self) -> int | None:
        return None if self.file_rows is None else sum(self.file_rows.values())


def lake_footers(spark, path: str) -> LakeFooters:
    """Merged schema, row counts and data bytes of the parquet lake at
    ``path``, read from the data files' footers on the driver — no Spark
    job. Data files are those a Spark scan of ``path`` reads: names
    starting with ``_`` or ``.`` are skipped (``_trigram_index/``,
    ``_SUCCESS``, ``.crc`` files, write staging directories).

    The schema covers the WHOLE lake, whatever window a caller then
    reads, so every read of one lake sees the same columns. When a column
    type is outside the footer converter's table, two files disagree on a
    column's type, or the lake is not local, the schema comes from
    Spark's ``mergeSchema`` inference instead, which widens or raises by
    its own rules."""
    files = _data_files(path)
    if files is None:
        return LakeFooters(_spark_merged_schema(spark, path), None, None)
    import pyarrow.parquet as pq

    metas = [pq.read_metadata(f) for f in files]
    schema = _merge([_file_schema(m) for m in metas]) if metas else None
    if schema is None:
        schema = _spark_merged_schema(spark, path)
    return LakeFooters(
        schema,
        sum(os.path.getsize(f) for f in files),
        {f: m.num_rows for f, m in zip(files, metas)},
    )


def _spark_merged_schema(spark, path: str) -> T.StructType:
    return spark.read.option("mergeSchema", "true").parquet(path).schema


def _hidden(name: str, is_dir: bool) -> bool:
    """Spark's rule for names a file scan skips (HadoopFSUtils.
    shouldFilterOutPathName, PartitioningAwareFileIndex.isDataPath);
    only ``_col=v`` partition directories survive a leading ``_``."""
    if name.startswith("_"):
        return not (is_dir and "=" in name)
    return name.startswith(".") or name.endswith("._COPYING_")


def _data_files(path: str) -> list[str] | None:
    """Sorted data files under a LOCAL lake root (or the file itself), or
    None when ``path`` is remote, a glob, or missing."""
    parsed = urlparse(path)
    if parsed.scheme not in ("file", ""):
        return None
    root = unquote(parsed.path) if parsed.scheme else path
    if os.path.isfile(root):
        return [root]
    if not os.path.isdir(root):
        return None
    out = []
    for dirpath, dirs, names in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not _hidden(d, True))
        out += [os.path.join(dirpath, n) for n in sorted(names) if not _hidden(n, False)]
    return out


def _file_schema(meta) -> T.StructType | None:
    """One file's columns as Spark reads them: Spark's own footer schema
    when Spark wrote the file, else the flat parquet columns through
    :func:`_spark_type`; None for anything else."""
    stored = (meta.metadata or {}).get(SPARK_SCHEMA_KEY)
    if stored is not None:
        return T.StructType.fromJson(json.loads(stored))
    fields = []
    for i in range(meta.num_columns):
        col = meta.schema.column(i)
        dtype = _spark_type(col)
        if dtype is None or col.max_repetition_level or col.path != col.name:
            return None  # nested, repeated or unmapped: Spark decides
        fields.append(T.StructField(col.name, dtype, True))
    return T.StructType(fields)


def _spark_type(col) -> T.DataType | None:
    """Spark's type for a flat parquet column (ParquetToSparkSchemaConverter)
    for the annotations whose mapping no session conf changes; None for
    the rest (INT96, timestamps, decimals, raw binary)."""
    physical, logical = col.physical_type, json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "None":
        return {
            "BOOLEAN": T.BooleanType(),
            "INT32": T.IntegerType(),
            "INT64": T.LongType(),
            "FLOAT": T.FloatType(),
            "DOUBLE": T.DoubleType(),
        }.get(physical)
    if kind == "String" and physical == "BYTE_ARRAY":
        return T.StringType()
    if kind == "Date" and physical == "INT32":
        return T.DateType()
    if kind == "Int" and logical["isSigned"]:
        return {
            8: T.ByteType(),
            16: T.ShortType(),
            32: T.IntegerType(),
            64: T.LongType(),
        }.get(logical["bitWidth"])
    return None


def _merge(schemas: list[T.StructType | None]) -> T.StructType | None:
    """Union of file schemas in file order, every field nullable (Spark
    reads file sources as nullable); None when a file has no schema or
    two files disagree on a column's type."""
    fields: dict[str, T.StructField] = {}
    for schema in schemas:
        if schema is None:
            return None
        for f in schema.fields:
            seen = fields.setdefault(f.name, f)
            if seen.dataType != f.dataType:
                return None
    return T.StructType(
        [T.StructField(f.name, f.dataType, True, f.metadata) for f in fields.values()]
    )
