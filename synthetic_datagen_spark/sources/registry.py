"""Sources & sinks (SURVEY §2.1).

S1  CSV scan with schema validation      (reference: app/data_processor.py:19-24)
S2  multi-CSV union + sort + dedup       (reference: app/data_processor.py:27-34)
S3  CSV sink                             (reference: app/data_processor.py:37-39)
S10 Parquet catalog over the testdata star schema.

The CSV readers take an explicit schema — `inferSchema` on CSV means a
full extra pass over the data. Catalog reads resolve each parquet file's
footer schema once per session (the schema Spark itself infers, memoized
on the file's identity and the confs that change inference) and pass it
back to every later read, so a repeated `table()` launches no
schema-inference job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..functions.memo import app_scoped_memo
from ..schemas import BROADCASTABLE, TABLES, TYPICAL_PRICE

# Session confs that change the schema Spark infers from a parquet
# footer. Part of the memo key: __spark_entry__ flips two of them inside
# a session that already read the same files under other values.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
_SCHEMA_MEMO: dict = {}


def _file_identity(path: str) -> tuple:
    """(path, mtime_ns, size) of a file, or the sorted such triples of a
    directory's data files (Spark skips names starting with ``_``/``.``)."""
    path = os.path.abspath(path)
    if not os.path.isdir(path):
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    files = []
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                st = os.stat(f := os.path.join(root, n))
                files.append((f, st.st_mtime_ns, st.st_size))
    return tuple(sorted(files))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    session for each file identity and inference-conf combination."""
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return app_scoped_memo(
        _SCHEMA_MEMO, spark, (_file_identity(path), confs),
        lambda: spark.read.parquet(path).schema,
    )


class Catalog:
    """Lazily binds the testdata parquet tables of one scale-factor dir.

    ``table()`` returns the plain DataFrame; ``dim()`` additionally wraps
    it in ``F.broadcast`` — dimension tables stay broadcast-joinable at
    every scale factor, so marking them here keeps every downstream join
    a broadcast-hash join instead of a shuffle.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")

    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
        path = f"{self.sf_dir}/{name}.parquet"
        df = self.spark.read.schema(parquet_schema(self.spark, path)).parquet(path)
        # events.ts arrives in one of three physical forms depending on how
        # the parquet was written and which session flags are set:
        #   * ns-bigint (spark.sql.legacy.parquet.nanosAsLong) — exact us
        #     values stored as ns; convert losslessly to TimestampType;
        #   * TIMESTAMP_NTZ (PySpark 4 reads tz-less parquet timestamp[us]
        #     as NTZ) — rebase to TIMESTAMP_LTZ; the session TZ is pinned
        #     UTC everywhere in this repo, so wall-clock values are
        #     unchanged and unix_micros/unix_seconds/cast(double) work;
        #   * TIMESTAMP — already what downstream operators expect.
        if name == "events":
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif ts_type == "timestamp_ntz":
                df = df.withColumn("ts", F.to_timestamp_ltz(F.col("ts")))
        return df

    def dim(self, name: str) -> DataFrame:
        df = self.table(name)
        return F.broadcast(df) if name in BROADCASTABLE else df

    def register_views(self) -> None:
        """Register every table as a temp view for the SQL surface."""
        for name in TABLES:
            self.table(name).createOrReplaceTempView(name)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return Catalog(spark, sf_dir).table(name)


def load_csv_series(spark: SparkSession, path: str) -> DataFrame:
    """S1 — read a (DATE_TIME, typical_price) CSV with schema enforcement.

    reference: app/data_processor.py:19-24 (raises when the required
    column is missing; timestamps parsed at load).
    """
    df = (
        spark.read.schema(TYPICAL_PRICE)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
    )
    if "typical_price" not in df.columns:  # P2 schema predicate
        raise ValueError(f"{path}: required column 'typical_price' missing")
    return df


def load_multiple_csv(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S2 — multi-file scan → union → sort → keep-first dedup.

    reference: app/data_processor.py:27-34. A multi-path scan is a single
    distributed read (no driver-side concat); keep-first over identical
    schemas degenerates to `dropDuplicates`, which Spark runs as a
    partial+final hash aggregate on the key.
    """
    df = (
        spark.read.schema(TYPICAL_PRICE)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(paths)
    )
    return df.dropDuplicates(["DATE_TIME"]).orderBy("DATE_TIME")


def save_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S3 — CSV sink (reference: app/data_processor.py:37-39).

    The engine default is one file per partition — a distributed write.
    ``single_file=True`` opts into the reference's one-file output for
    parity tests and small exports; a coalesce(1) funnels the whole
    dataset through one task, which is never the right default at scale.
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def save_json_metrics(df: DataFrame, path: str) -> None:
    """S4 — JSON metrics sink (reference: app/main.py:87-89)."""
    df.coalesce(1).write.mode("overwrite").json(path)
