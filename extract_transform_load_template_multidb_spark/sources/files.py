"""File-based sources: parquet / json / csv / orc behind one spec.

In the test harness these stand in for the reference's RDBMS scans (S1–S8);
the windowed variants (S2/S4/S6/S8) are the same scan plus
``transforms.window_filter`` — Catalyst pushes the predicate into the
parquet reader exactly as the reference pushes it into the source SQL.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from extract_transform_load_template_multidb_spark.catalog import read_files
from extract_transform_load_template_multidb_spark.session import ensure_conf

_FORMATS = ("parquet", "json", "csv", "orc")


@dataclass
class FileSource:
    path: str
    format: str = "parquet"
    schema: str | None = None
    options: dict[str, str] = field(default_factory=dict)

    def __post_init__(self):
        if self.format not in _FORMATS:
            raise ValueError(
                f"unsupported format {self.format!r}; supported: {_FORMATS}"
            )

    def read(self, spark: SparkSession) -> DataFrame:
        """The lazy scan of ``path``.

        With a ``schema`` (a DDL string) nothing is inferred. Without one the
        read goes through ``catalog.read_files``: the inferred schema is
        memoized under the path's stamp, so re-reading an unchanged local
        file or flat directory runs no inference job.
        """
        ensure_conf(spark)
        if self.schema:
            reader = spark.read.format(self.format).schema(self.schema)
            return reader.options(**self.options).load(self.path)
        return read_files(spark, self.path, self.format, self.options)

    def __call__(self, spark: SparkSession) -> DataFrame:
        return self.read(spark)
