"""Config-driven pipeline assembly — the reference's template ergonomics.

A reference user copies a template file and edits constants
(connection settings, table name, window size — e.g.
``Template-to-MySQL/BigQuery-to-MySQL-Method-2.py:30-58``). Here the same
customization surface is ONE declarative dict handed to
:func:`pipeline_from_config`, which wires the engine's sources,
transforms, and sinks into a :class:`~.pipeline.Pipeline`:

```python
pipe = pipeline_from_config({
    "name": "events_window_load",
    "source": {"type": "file", "path": ".../events.parquet"},
    "transforms": [
        {"op": "clean_infinities"},
        {"op": "window_filter", "col": "ts", "days": 30},
    ],
    "sink": {"type": "parquet", "path": "/out/events", "mode": "append"},
    "retries": 1, "retry_delay": 300,
})
pipe.run(spark)
```

Every ``type``/``op`` name maps 1:1 onto a documented engine component, so
a config is exactly as expressive as hand-written code — and unknown names
fail fast with the valid vocabulary in the error.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from extract_transform_load_template_multidb_spark import transforms as T
from extract_transform_load_template_multidb_spark.pipeline import (
    Notifier,
    Pipeline,
    smtp_sender,
)
from extract_transform_load_template_multidb_spark.sinks import ParquetSink
from extract_transform_load_template_multidb_spark.sources import (
    BigQuerySource,
    FileSource,
    JdbcSource,
    ODataSource,
)

_SOURCES = {
    "file": FileSource,
    "jdbc": JdbcSource,
    "odata": ODataSource,
    "bigquery": BigQuerySource,
}

_TRANSFORMS: dict[str, Callable[..., Callable[[DataFrame], DataFrame]]] = {
    "clean_infinities": lambda cols=None: (
        lambda df: T.clean_infinities(df, cols)
    ),
    "drop_meta_columns": lambda cols=("@odata.etag",): (
        lambda df: T.drop_meta_columns(df, tuple(cols))
    ),
    "window_filter": lambda col, days=30: (
        lambda df: T.window_filter(df, col, days=days)
    ),
    "select": lambda cols: (lambda df: df.select(*cols)),
}


def _build_source(spec: dict):
    spec = dict(spec)
    kind = spec.pop("type", None)
    if kind not in _SOURCES:
        raise ValueError(
            f"unknown source type {kind!r}; supported: {sorted(_SOURCES)}"
        )
    return _SOURCES[kind](**spec)


def _build_transform(spec: dict) -> Callable[[DataFrame], DataFrame]:
    spec = dict(spec)
    op = spec.pop("op", None)
    if op not in _TRANSFORMS:
        raise ValueError(
            f"unknown transform op {op!r}; supported: {sorted(_TRANSFORMS)}"
        )
    return _TRANSFORMS[op](**spec)


def _build_sink(spec: dict) -> Callable[[DataFrame], int | None]:
    spec = dict(spec)
    kind = spec.pop("type", None)
    if kind == "parquet":
        mode = spec.pop("mode", "append")
        if "path" not in spec:
            raise ValueError("parquet sink config requires 'path'")
        sink = ParquetSink(spec.pop("path"), tuple(spec.pop("partition_by", ())))
        if spec:
            raise ValueError(
                f"unknown parquet sink keys {sorted(spec)}; supported: "
                "path, mode, partition_by"
            )
        if mode == "append":
            return sink.append
        if mode == "overwrite":
            return sink.overwrite
        raise ValueError(
            f"unknown parquet mode {mode!r}; use append|overwrite (the "
            "windowed modes need a SparkSession — wire them in code)"
        )
    raise ValueError(f"unknown sink type {kind!r}; supported: ['parquet']")


def _build_notifier(spec: dict | None) -> Notifier:
    if not spec:
        return Notifier()
    return Notifier(
        send=smtp_sender(
            spec["server_address"],
            spec["sender_email"],
            list(spec["recipient_emails"]),
            port=int(spec.get("port", 25)),
        )
    )


def pipeline_from_config(cfg: dict) -> Pipeline:
    """Assemble a :class:`Pipeline` from a declarative config dict.

    Required keys: ``name``, ``source``, ``sink``. Optional:
    ``transforms`` (list, applied in order), ``notifier`` (SMTP settings,
    reference C4 shape), ``retries`` / ``retry_delay`` (reference C1
    default_args; default 1 / 300 s).
    """
    missing = [k for k in ("name", "source", "sink") if k not in cfg]
    if missing:
        raise ValueError(f"config missing required keys: {missing}")
    return Pipeline(
        name=cfg["name"],
        source=_build_source(cfg["source"]),
        transforms=[_build_transform(t) for t in cfg.get("transforms", [])],
        sink=_build_sink(cfg["sink"]),
        notifier=_build_notifier(cfg.get("notifier")),
        retries=int(cfg.get("retries", 1)),
        retry_delay=float(cfg.get("retry_delay", 300.0)),
    )
