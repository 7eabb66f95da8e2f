"""Dataset registration + catalog.

The reference registers a dataset by fanning out sampling tasks that validate
mandatory columns, infer a schema, and profile columns, persisting the result
to Redis (``/root/reference/frocket/invoker/jobs/registration_job.py``,
``worker/runners/registration_task_runner.py:60-218``). On Spark all of that is
one metadata read (Parquet footers) plus one aggregate job; the catalog is a
JSON file per dataset.

Column typing follows the reference's deliberately tiny model (INT / FLOAT /
BOOL / STRING — ``frocket/common/dataset.py:102-107``); anything else is
recorded under ``unsupported_columns`` and rejected in queries. Timestamp-typed
columns are additionally accepted as the timestamp column (extension — the
reference demands raw numerics).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field, fields
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from funnel_rocket_spark.engine import QueryEngine
from funnel_rocket_spark.validation.validator import check_timeframe_scale

SUPPORTED_TYPES = {
    "tinyint": "INT", "smallint": "INT", "int": "INT", "bigint": "INT",
    "float": "FLOAT", "double": "FLOAT",
    "boolean": "BOOL",
    "string": "STRING",
    "timestamp": "FLOAT", "timestamp_ntz": "FLOAT", "date": "FLOAT",
}

CATEGORICAL_RATIO = 0.1  # reference config 'dataset.categorical.ratio'
TOP_VALUES_COUNT = 20    # reference config 'dataset.categorical.top.count'


class DatasetValidationError(ValueError):
    pass


@dataclass
class ColumnInfo:
    name: str
    dtype: str            # Spark simpleString
    coltype: Optional[str]  # INT/FLOAT/BOOL/STRING, None if unsupported
    min: Optional[float] = None
    max: Optional[float] = None
    approx_distinct: Optional[int] = None
    categorical: bool = False
    top_values: Optional[dict] = None


@dataclass
class Dataset:
    name: str
    basepath: str
    group_id_column: str
    timestamp_column: str
    registered_at: float = 0.0
    total_rows: int = 0
    total_groups: int = 0
    min_timestamp: Optional[float] = None
    max_timestamp: Optional[float] = None
    columns: dict = field(default_factory=dict)       # name -> ColumnInfo dict
    unsupported_columns: dict = field(default_factory=dict)  # name -> dtype
    # table-backed dataset (e.g. sources.write_bucketed output): load via
    # spark.table so Catalyst SEES the bucket spec — engine queries on a
    # group-bucketed table lose their group-key exchange entirely
    # (tests/test_plans.py::test_bucketed_layout_eliminates_group_shuffle)
    table: Optional[str] = None
    layout: Optional[dict] = None  # {"buckets": n, "bucket_columns": [...],
    #                                 "sort_columns": [...]} when declared
    # How much of the dataset the validation/profile scan read (reference
    # DatasetValidationMode: single/first_last/sample; "full" = everything,
    # the Spark default). total_rows is always exact (parquet metadata
    # count); per-column stats cover only the validated files.
    validation_mode: str = "full"
    files_validated: Optional[int] = None
    files_total: Optional[int] = None
    # the file-name glob registration discovered ``files`` with (register
    # again with it to pick up new parts); None when it read basepath
    # whole (a single file, a remote URI, or a glob that matched nothing)
    pattern: Optional[str] = None
    # What registration read: its Spark schema (``StructType.jsonValue()``,
    # None for a table) and the part files it discovered (None where
    # ``pattern`` is None). Entries written before these were recorded
    # load without them, reading basepath filtered by ``pattern``.
    schema: Optional[dict] = None
    files: Optional[list] = None

    def load(self, spark: SparkSession) -> DataFrame:
        """The registered rows, read with the recorded schema (no
        schema-inference job). With recorded ``files``, basepath is listed
        on the driver as always but only files of those names are read:
        a part added later is ignored until the dataset is registered
        again, and a recorded part that is gone fails the load. (Explicit
        paths would cost a Spark listing job of one task per file above
        ``spark.sql.sources.parallelPartitionDiscovery.threshold``.)"""
        if self.table:
            return spark.table(self.table)
        reader = spark.read
        if self.schema:
            reader = reader.schema(T.StructType.fromJson(self.schema))
        if self.files:
            missing = [f for f in self.files if not os.path.isfile(f)]
            if missing:
                raise DatasetValidationError(
                    f"dataset '{self.name}' is missing {len(missing)} "
                    f"registered part file(s) ({', '.join(missing[:5])}); "
                    "register it again")
            reader = reader.option("pathGlobFilter", _names_glob(self.files))
        elif self.pattern:  # an entry written before ``files`` existed
            reader = reader.option("pathGlobFilter", self.pattern)
        return reader.parquet(self.basepath)


def _names_glob(files: list[str]) -> str:
    """A Hadoop glob matching exactly the base names of ``files``."""
    def escape(name: str) -> str:
        return "".join("\\" + c if c in "\\{}[]*?," else c for c in name)

    return "{" + ",".join(escape(os.path.basename(f)) for f in files) + "}"


def _coltype(dtype: T.DataType) -> Optional[str]:
    return SUPPORTED_TYPES.get(dtype.simpleString())


def _numeric(col_name: str, dtype: T.DataType):
    """Column as a number for profiling. Timestamp/date columns become
    exact epoch NANOS as int64 — the SAME unit the engine's timeframe
    literals use (planner/compiler ts_numeric) — so a client can build a
    valid timeframe straight from the profiled min/max_timestamp. (Nanos
    exceed double's 2^53 integer range, hence long, not double.
    TIMESTAMP_NTZ/DATE can't cast to a number directly — go via TIMESTAMP,
    value-preserving under a UTC session timezone.)"""
    col = F.col(f"`{col_name}`")
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return (F.unix_micros(col.cast(T.TimestampType())) * F.lit(1000)
                ).cast("long")
    return col.cast("double")


def _table_layout(spark: SparkSession, table: str) -> Optional[dict]:
    """Bucket/sort spec of a saved table from DESCRIBE FORMATTED, or None."""
    info = {r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE FORMATTED {table}").collect()}
    if "Num Buckets" not in info:
        return None

    def _cols(key):
        raw = info.get(key, "")
        return [c.strip().strip("`") for c in
                raw.strip("[]").split(",") if c.strip()]

    return {"buckets": int(info["Num Buckets"]),
            "bucket_columns": _cols("Bucket Columns"),
            "sort_columns": _cols("Sort Columns")}


def _discover_files(basepath: str, pattern: str) -> Optional[list[str]]:
    """Parquet part files under a local directory matching ``pattern``
    (reference ``--pattern``, default ``*.parquet`` — skips ``_SUCCESS``
    and friends). None when basepath is a single file or a remote URI
    (Spark's own listing handles those)."""
    import glob as globmod

    local = basepath[len("file://"):] if basepath.startswith("file://") \
        else basepath
    if "://" in local or not os.path.isdir(local):
        return None
    files = sorted(globmod.glob(os.path.join(local, pattern)))
    return files or None


def _footer_row_count(files: list[str]) -> Optional[int]:
    """Exact total rows from parquet footer metadata — no Spark job."""
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:  # noqa: BLE001 — any unreadable footer → count job
        return None


def _validation_subset(files: list[str], mode: str,
                       sample_max: int = 10) -> list[str]:
    """Which files the validation/profile scan reads — the reference's
    DatasetValidationMode semantics (registration.py:26-29): SINGLE = one
    file (no cross-file checks), FIRST_LAST = lexicographic ends, SAMPLE =
    ends + evenly spaced middles up to a cap, full = everything."""
    if mode == "full" or len(files) <= 1:
        return files
    if mode == "single":
        return files[:1]
    if mode == "first_last":
        return [files[0], files[-1]]
    if mode == "sample":
        n = min(sample_max, len(files))
        idx = sorted({round(i * (len(files) - 1) / (n - 1)) for i in range(n)})
        return [files[i] for i in idx]
    raise DatasetValidationError(f"unknown validation mode: {mode!r}")


def register_dataset(
    spark: SparkSession,
    name: str,
    basepath: Optional[str],
    group_id_column: str,
    timestamp_column: str,
    validate: bool = True,
    profile: bool = True,
    catalog_dir: Optional[str] = None,
    table: Optional[str] = None,
    pattern: str = "*.parquet",
    validation_mode: str = "full",
) -> Dataset:
    """Validate + profile a dataset; optionally persist to a catalog dir.
    Source is either a Parquet ``basepath`` or a saved ``table`` (e.g.
    ``sources.write_bucketed`` output — its bucket/sort spec is recorded
    and every ``Dataset.load`` then reads via ``spark.table`` so engine
    queries get the shuffle-free bucketed plan automatically; the Spark
    restatement of the reference's registration-time layout invariant,
    as a recorded optimization instead of a hard requirement).

    Validation parity (reference ``registration_task_runner.py:85-125``):
    * group column exists, is INT or STRING, and has no nulls;
    * timestamp column exists, is numeric (or timestamp — extension), no nulls;
    * unsupported-typed columns are recorded but not rejected.

    Unlike the reference there is NO files-per-group disjointness requirement —
    Spark shuffles by group where needed, so registration drops the reference's
    cross-file group-uniqueness check (``registration_job.py:252-272``) entirely.
    """
    if (basepath is None) == (table is None):
        raise DatasetValidationError(
            "exactly one of basepath or table must be given")
    files = None
    if table:
        df = spark.table(table)
    else:
        files = _discover_files(basepath, pattern)
        df = (spark.read.parquet(*files) if files
              else spark.read.parquet(basepath))
    # Partial-validation modes scan only a file subset (cheap registration
    # of a huge dataset — the reference's per-file sampling design); the
    # full-dataset row count stays exact via a parquet metadata-only count.
    val_files = (_validation_subset(files, validation_mode)
                 if files is not None else files)
    partial = val_files is not None and val_files != files
    df_val = spark.read.parquet(*val_files) if partial else df
    fields = {f.name: f.dataType for f in df.schema.fields}

    if group_id_column not in fields:
        raise DatasetValidationError(f"Group-id column '{group_id_column}' not found")
    if timestamp_column not in fields:
        raise DatasetValidationError(f"Timestamp column '{timestamp_column}' not found")
    if _coltype(fields[group_id_column]) not in ("INT", "STRING"):
        raise DatasetValidationError(
            f"Group-id column must be int or string, got "
            f"{fields[group_id_column].simpleString()}")
    if _coltype(fields[timestamp_column]) not in ("INT", "FLOAT"):
        raise DatasetValidationError(
            f"Timestamp column must be numeric or timestamp, got "
            f"{fields[timestamp_column].simpleString()}")

    columns: dict[str, dict] = {}
    unsupported: dict[str, str] = {}
    for col_name, dtype in fields.items():
        ct = _coltype(dtype)
        if ct is None:
            unsupported[col_name] = dtype.simpleString()
        else:
            columns[col_name] = asdict(
                ColumnInfo(name=col_name, dtype=dtype.simpleString(), coltype=ct))

    ds = Dataset(
        name=name, basepath=basepath or "",
        group_id_column=group_id_column, timestamp_column=timestamp_column,
        registered_at=time.time(), columns=columns,
        unsupported_columns=unsupported, table=table,
        layout=_table_layout(spark, table) if table else None,
        validation_mode=validation_mode if files is not None else "full",
        files_validated=len(val_files) if val_files is not None else None,
        files_total=len(files) if files is not None else None,
        pattern=pattern if files is not None else None,
        schema=None if table else df.schema.jsonValue(), files=files)

    if validate or profile:
        ts_num = _numeric(timestamp_column, fields[timestamp_column])
        aggs = [
            F.count(F.lit(1)).alias("__rows"),
            F.sum(F.col(group_id_column).isNull().cast("long")).alias("__null_groups"),
            F.sum(ts_num.isNull().cast("long")).alias("__null_ts"),
            F.approx_count_distinct(group_id_column).alias("__groups"),
            F.min(ts_num).alias("__min_ts"),
            F.max(ts_num).alias("__max_ts"),
        ]
        if profile:
            for col_name, info in columns.items():
                if info["coltype"] in ("INT", "FLOAT"):
                    num = _numeric(col_name, fields[col_name])
                    aggs.append(F.min(num).alias(f"__min__{col_name}"))
                    aggs.append(F.max(num).alias(f"__max__{col_name}"))
                aggs.append(F.approx_count_distinct(col_name).alias(f"__nuniq__{col_name}"))
        row = df_val.agg(*aggs).collect()[0]

        if validate:
            if row["__null_groups"] > 0:
                raise DatasetValidationError(
                    f"Group-id column '{group_id_column}' has "
                    f"{row['__null_groups']} null values")
            if row["__null_ts"] > 0:
                raise DatasetValidationError(
                    f"Timestamp column '{timestamp_column}' has "
                    f"{row['__null_ts']} null values")

        # Exact regardless of mode: for partial validation the full-dataset
        # row count comes straight from parquet FOOTERS (driver-side
        # metadata reads — no Spark job, no data scan; the same trick the
        # reference's registration uses), falling back to a count job if a
        # footer is unreadable. Stats below cover the validated subset.
        if partial:
            ds.total_rows = _footer_row_count(files)
            if ds.total_rows is None:
                ds.total_rows = df.count()
        else:
            ds.total_rows = row["__rows"]
        ds.total_groups = row["__groups"]
        ds.min_timestamp = row["__min_ts"]
        ds.max_timestamp = row["__max_ts"]

        if profile:
            total = max(row["__rows"], 1)
            categorical_strings = []
            for col_name, info in columns.items():
                nuniq = row[f"__nuniq__{col_name}"]
                info["approx_distinct"] = nuniq
                if info["coltype"] in ("INT", "FLOAT"):
                    info["min"] = row[f"__min__{col_name}"]
                    info["max"] = row[f"__max__{col_name}"]
                if info["coltype"] == "STRING" and nuniq / total <= CATEGORICAL_RATIO:
                    info["categorical"] = True
                    categorical_strings.append(col_name)
            # Top values for ALL categorical strings in ONE job (reference
            # keeps approximate merged top-Ns; ours are exact): melt the
            # categorical columns to (col, value) rows via stack, count, and
            # rank within each column. A per-column groupBy loop would run
            # one Spark job per column — slow to register a wide table.
            if categorical_strings:
                stack_expr = "stack({}, {}) as (__col, __val)".format(
                    len(categorical_strings),
                    ", ".join(f"'{c}', `{c}`" for c in categorical_strings))
                from pyspark.sql import Window

                w = Window.partitionBy("__col").orderBy(
                    F.desc("__cnt"), F.asc("__val"))
                top = (
                    df_val.selectExpr(stack_expr)
                    .where(F.col("__val").isNotNull())
                    .groupBy("__col", "__val").agg(F.count("*").alias("__cnt"))
                    .withColumn("__rk", F.row_number().over(w))
                    .where(F.col("__rk") <= TOP_VALUES_COUNT)
                    .collect()
                )
                for col_name in categorical_strings:
                    columns[col_name]["top_values"] = {}
                for r in sorted(top, key=lambda r: (r["__col"], r["__rk"])):
                    columns[r["__col"]]["top_values"][str(r["__val"])] = r["__cnt"]

    if catalog_dir:
        os.makedirs(catalog_dir, exist_ok=True)
        with open(os.path.join(catalog_dir, f"{name}.json"), "w") as fh:
            json.dump(asdict(ds), fh, indent=2, default=str)
    return ds


def load_dataset(catalog_dir: str, name: str) -> Dataset:
    """Read a saved catalog entry. Keys that are not ``Dataset`` fields
    are dropped, so entries written by older versions (which carried
    since-removed profile fields) keep loading."""
    with open(os.path.join(catalog_dir, f"{name}.json")) as fh:
        data = json.load(fh)
    known = {f.name for f in fields(Dataset)}
    return Dataset(**{k: v for k, v in data.items() if k in known})


def prepare_query(spark: SparkSession, catalog_dir: str, name: str,
                  query: dict) -> Callable[..., dict]:
    """The one path from a catalog entry to a result (the reference's
    ``invoker_api._build_query_job``): read entry ``name``, mark it used,
    check and validate ``query`` against it — raising
    ``FileNotFoundError``, ``DatasetValidationError`` (a registered part
    is gone) or ``QueryValidationError`` before any Spark job — and
    return ``run(with_stats=False)``, which runs the query with
    the dataset's columns and layout."""
    ds = load_dataset(catalog_dir, name)
    touch_last_used(catalog_dir, name)
    check_timeframe_scale(query, ds.min_timestamp, ds.max_timestamp)
    engine = QueryEngine(ds.group_id_column, ds.timestamp_column)
    df = ds.load(spark)
    expanded = engine.expand(query, df)

    def run(with_stats: bool = False) -> dict:
        return engine.run(df, expanded, with_stats=with_stats,
                          layout=ds.layout)

    return run


class DatasetInUseError(RuntimeError):
    """Unregister refused: the dataset was queried too recently."""


def touch_last_used(catalog_dir: Optional[str], name: str) -> None:
    """Record query time in a sidecar file (reference keeps last-used in
    its datastore to guard unregistration, ``docs/api.md:618-643``). A
    sidecar avoids rewriting the whole metadata JSON per query."""
    if not catalog_dir:
        return
    path = os.path.join(catalog_dir, f"{name}.last_used")
    try:
        with open(path, "w") as fh:
            fh.write(str(time.time()))
    except OSError:
        pass  # best-effort; the guard just won't see this use


def get_last_used(catalog_dir: str, name: str) -> Optional[float]:
    try:
        with open(os.path.join(catalog_dir, f"{name}.last_used")) as fh:
            return float(fh.read().strip())
    except (OSError, ValueError):
        return None


def unregister_dataset(catalog_dir: str, name: str, force: bool = False,
                       min_age_seconds: float = 10.0) -> dict:
    """Remove a dataset's catalog entry (files are never touched).

    Reference semantics (``docs/api.md:618-643``): unregistering a dataset
    queried within the guard interval fails unless ``force`` — ensures
    in-flight jobs complete. Returns {datasetFound, datasetLastUsed};
    raises :class:`DatasetInUseError` when the guard trips."""
    path = os.path.join(catalog_dir, f"{name}.json")
    found = os.path.exists(path)
    last_used = get_last_used(catalog_dir, name)
    if found and not force and last_used is not None:
        age = time.time() - last_used
        if age < min_age_seconds:
            raise DatasetInUseError(
                f"dataset '{name}' was queried {age:.1f}s ago "
                f"(< {min_age_seconds}s); retry later or use force")
    if found:
        os.remove(path)
    sidecar = os.path.join(catalog_dir, f"{name}.last_used")
    if os.path.exists(sidecar):
        os.remove(sidecar)
    return {"datasetFound": found, "datasetLastUsed": last_used}
